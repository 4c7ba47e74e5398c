package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** End-to-end corpus curation — the pass an LLM-training pipeline runs
  * over raw documents, chaining the engine's tiers into one verdict per
  * document:
  *
  *   1. quality gate ([[TextAnalysis.qualityScores]] composite < min →
  *      `low_quality`);
  *   2. exact dedup among survivors (md5 fingerprint groups, lowest
  *      doc_id kept; others → `exact_dup`);
  *   3. near-dup clustering among exact-keepers
  *      ([[Dedup.nearDupEdges]] → [[Components.connected]]
  *      transitive clusters; non-representative members → `near_dup`);
  *   4. everything else → `kept`.
  *
  * `ref_id` names the document that superseded a dropped one (its exact
  * keeper or its cluster representative; NULL for `low_quality`/`kept`).
  *
  * Scale shape: stages 1–2 are one scan + one fingerprint shuffle (or,
  * for inputs under the [[Labelled.Policy]] bound `docs`, one scan
  * projection fetched with a bounded collect and closed on the driver);
  * stage 3 runs only over quality-passing exact-keepers (the corpus
  * after the cheap gates), so the expensive near-dup machinery sees the
  * smallest possible input — the ordering a 100 TB pass depends on.
  */
object Curation {

  /** The gate stages (1–2) shared by every entry point: (doc_id, quality)
    * for every doc, (doc_id, exact_keep) for every quality-passing doc
    * with a fingerprint, and the keeper ids; `kept` maps each keeper to
    * its day when the gates closed on the driver (the three frames are
    * then local relations).
    */
  private final case class Gates(quality: DataFrame, exactTag: DataFrame,
      keeperIds: DataFrame, kept: Option[Map[Long, Int]]) {

    /** The rows of `docs` whose doc is a keeper (a semi-join against
      * `keeperIds`, broadcast when that is a local relation).
      */
    def keepers(docs: DataFrame): DataFrame = docs.join(keeperIds, Seq("doc_id"), "left_semi")

    /** The ids of `day`'s keepers in `docs` (an [[ofDays]] frame): a
      * local relation when the gates closed on the driver.
      */
    def keeperIdsOf(docs: DataFrame, day: Int): DataFrame = kept match {
      case Some(k) =>
        Labelled.local(keeperIds, keeperIds.schema, k.collect { case (id, `day`) => Seq(id) })
      case None => keepers(docs.filter(col("day") === day).select("doc_id"))
    }
  }

  /** (doc_id, text, day) over the days' docs, day = position in `days`. */
  private def ofDays(days: DataFrame*): DataFrame = days.zipWithIndex.map { case (d, k) =>
    d.select(col("doc_id"), col("text"), lit(k).as("day"))
  }.reduce(_ union _)

  /** The gates of an [[ofDays]] frame. They close on the driver after one
    * bounded collect of (doc_id, quality, passed, fp, day): one scan
    * projection, `passed` computed by Spark, so the driver compares no
    * double. Keepers are the minimum doc_id per fingerprint among passed
    * docs; as in Spark, a null fp forms one group but joins no row. The
    * frames come back as local relations with the distributed schema.
    * More docs than the `docs` bound, a doc_id that is not Long/Int, a
    * null doc_id or a repeated one (which the distributed doc_id join
    * would multiply) runs the distributed cuts instead.
    */
  private def gates(docs: DataFrame, minQuality: Double): Gates = {
    val scored = TextAnalysis.qualityScores(
        docs.select(col("doc_id"), col("text"), md5(col("text")).as("fp"), col("day")), "fp", "day")
      .select(col("doc_id"), col("quality"),
        coalesce(col("quality") >= minQuality, lit(false)).as("passed"), col("fp"), col("day"))
    val onDriver = for {
      rows <- Labelled.fetch(scored, s"Curation.gates: fetch |D|<=${Labelled.Docs.value}",
        Labelled.Docs, Seq("doc_id"), col("quality"), col("passed"), col("fp"), col("day"))
      if rows.map(_.getLong(0)).distinct.length == rows.length
    } yield {
      val passed = rows.filter(_.getBoolean(2))
      val keep = passed.groupMapReduce(r => Option(r.getString(3)))(_.getLong(0))(math.min)
      val day = rows.map(r => r.getLong(0) -> r.getInt(4)).toMap
      // the distributed frames' schemas: the join keeps docs' doc_id
      // field, and min() is nullable
      val id = docs.schema("doc_id")
      val keeper = StructField("exact_keep", id.dataType, nullable = true)
      Gates(
        Labelled.local(docs, StructType(Seq(id, scored.schema("quality"))),
          rows.map(r => Seq(r.getLong(0), r.get(1)))),
        Labelled.local(docs, StructType(Seq(id, keeper)), passed.filter(!_.isNullAt(3))
          .map(r => Seq(r.getLong(0), keep(Some(r.getString(3)))))),
        Labelled.local(docs, StructType(Seq(keeper.copy(name = "doc_id"))),
          keep.values.map(Seq(_))),
        Some(keep.values.map(id => id -> day(id)).toMap))
    }
    onDriver.getOrElse(gatesOf(docs, minQuality,
      (what, df) => Labelled(df, s"Curation.gates: $what cut")(Ckpt.narrowLazy(df))))
  }

  /** The distributed gates, each shared narrow frame passed through
    * `cut`. Wide rows never recur: document text appears only in
    * per-branch pruned scans (Spark has no cross-branch subtree reuse,
    * so "used twice" means a re-scan with column pruning, never a
    * re-shuffle of text). (doc_id, quality) ~16 B/row is read by the
    * gate AND the verdict join; (doc_id, fp) by the keeper aggregation,
    * the per-doc tag join and the keeper semi-join. The cuts are LAZY
    * (r15, guide §1.5): the shuffle stages below each cut run at the
    * cut, and only its last stage waits — blocks persist when the first
    * consumer computes them, and the gate chain's last stages run inside
    * the near-dup tier's first action.
    */
  private def gatesOf(docs: DataFrame, minQuality: Double,
      cut: (String, DataFrame) => DataFrame): Gates = {
    val quality = cut("quality",
      TextAnalysis.qualityScores(docs).select("doc_id", "quality"))
    val passed = cut("passed", docs.select(col("doc_id"), col("text"))
      .join(quality.filter(col("quality") >= minQuality), "doc_id")
      .select(col("doc_id"), md5(col("text")).as("fp")))
    val keep1 = passed.groupBy("fp").agg(min("doc_id").as("exact_keep"))
    // (doc_id, exact_keep): two longs through the fingerprint join
    val exactTag = passed.join(keep1, "fp").select("doc_id", "exact_keep")
    Gates(quality, exactTag, keep1.select(col("exact_keep").as("doc_id")), None)
  }

  /** Stage-4 verdict assembly from the gate frames + a component map. */
  private def verdicts(g: Gates, comp: DataFrame, minQuality: Double): DataFrame =
    g.quality
      .join(g.exactTag, Seq("doc_id"), "left")
      .join(comp.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("quality"),
        // NULL quality (empty/whitespace-only doc: 0/0 words) is junk,
        // not a keeper — the isNull arm keeps it out of the silent
        // fall-through to "kept"
        when(col("quality").isNull || col("quality") < minQuality, "low_quality")
          .when(col("doc_id") =!= col("exact_keep"), "exact_dup")
          .when(col("component").isNotNull && col("component") =!= col("doc_id"),
            "near_dup")
          .otherwise("kept").as("verdict"),
        when(col("quality").isNull || col("quality") < minQuality,
            lit(null).cast("long"))
          .when(col("doc_id") =!= col("exact_keep"), col("exact_keep"))
          .when(col("component").isNotNull && col("component") =!= col("doc_id"),
            col("component"))
          .otherwise(lit(null).cast("long")).as("ref_id"))

  def curate(docs: DataFrame, minQuality: Double = 0.15): DataFrame = {
    val all = ofDays(docs)
    val g = gates(all, minQuality)
    verdicts(g, Components.connected(Dedup.nearDupEdges(g.keepers(all))), minQuality)
  }

  /** Best-quality keeper per near-dup cluster. [[curate]]'s min-id
    * keeper rule is storage-stable, but a production pipeline usually
    * keeps each duplicate cluster's HIGHEST-QUALITY member: cluster by
    * the canonical near-dup components over the corpus, rank members by
    * (rounded quality desc, doc_id asc — the rounded score is the
    * engine-portable comparand, as [[TextAnalysis.tfidfTopTerms]]),
    * keeper = rank 1; singletons keep themselves. Emits every doc
    * (cluster_id, quality, keeper_id, kept) — the total-audit contract.
    *
    * Scale: one window partitioned by cluster_id — cluster sizes are
    * bounded by the LSH skew cap upstream (`Dedup.NearDupMaxBucket`), so
    * no hot-cluster task; everything else is the canonical edge pipeline
    * plus narrow equi-joins.
    */
  def qualityKeeper(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comp = Components.connected(Dedup.nearDupEdges(docs))
      .withColumnRenamed("node", "doc_id")
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("quality").desc_nulls_last, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    TextAnalysis.qualityScores(docs).select("doc_id", "quality")
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster_id"),
        col("quality"))
      .withColumn("keeper_id", first(col("doc_id")).over(w))
      .withColumn("kept", (col("doc_id") === col("keeper_id")).cast("bigint"))
  }

  /** The quality-passing exact-keeper documents of a curation run — the
    * frame whose canonical near-dup edges ([[Dedup.nearDupEdges]]) a
    * production pipeline stores alongside the verdicts, to hand to the
    * next day's [[curateIncremental]] as `corpusEdges`.
    */
  def exactKeepers(docs: DataFrame, minQuality: Double = 0.15): DataFrame =
    gates(ofDays(docs), minQuality).keepers(docs.select(col("doc_id"), col("text")))

  /** Ingest-time curation: verdicts over `corpus ∪ delta` where the
    * near-dup tier — the only superlinear stage — does ONLY delta-
    * touching work on top of yesterday's edges. `corpusEdges` is the
    * stored edge list from the previous run
    * (`Dedup.nearDupEdges(exactKeepers(corpus))` — i, j columns); the
    * two-argument form derives yesterday's edges in the same pass
    * instead (below). New edges are the delta keepers' pairs with every
    * keeper, and components are recomputed over the union (edge lists
    * are tiny next to the corpus; re-clustering them is linear and lets
    * a delta doc legitimately MERGE two existing clusters).
    *
    * Contract: every delta doc_id must exceed every corpus doc_id
    * (append-only ingest). That makes corpus keeper status immune to the
    * delta (a group's min id can't move), so the output equals
    * `curate(corpus ∪ delta)` EXACTLY and unconditionally: yesterday's
    * edges are re-validated against the union's bucket caps
    * ([[Dedup.revalidatedUnionEdges]] — a pair whose every shared band
    * bucket outgrew [[Dedup.NearDupMaxBucket]] once delta members joined
    * is dropped, exactly as the from-scratch run drops it), which closes
    * the skew-cap corner earlier rounds documented as a divergence.
    *
    * Both days share one build. The gates run once over `corpus ∪
    * delta` (on the driver when they fit, see [[gates]]) and give each
    * keeper its day; the keepers of both days get one shingle cut, one
    * band cut and one band fetch. Yesterday's edges are the corpus-only
    * buckets' pairs, capped at corpus-only sizes (or the stored
    * `corpusEdges`); today's are those re-validated against the union's
    * buckets plus the delta-touching pairs, with one verify fetch for
    * both candidate sets ([[Dedup.unionEdges]]). A production run could
    * feed stored (doc_id, quality) and (doc_id, fp) frames to the gates
    * as well; the operator's contract point is the near-dup tier, where
    * from-scratch cost is corpus-quadratic in the worst case and
    * delta-proportional here.
    */
  def curateIncremental(
      corpus: DataFrame, delta: DataFrame, corpusEdges: DataFrame,
      minQuality: Double = 0.15): DataFrame =
    curateIncremental(corpus, delta, Some(corpusEdges), minQuality)

  /** [[curateIncremental]] with yesterday's edges derived in the query
    * (from the corpus-only buckets of the shared band pass), at the
    * default `minQuality` of 0.15.
    */
  def curateIncremental(corpus: DataFrame, delta: DataFrame): DataFrame =
    curateIncremental(corpus, delta, None, 0.15)

  /** The body both [[curateIncremental]] forms share; the skew cap is
    * the [[Labelled.Policy]]'s `maxBucket`.
    */
  private def curateIncremental(corpus: DataFrame, delta: DataFrame,
      corpusEdges: Option[DataFrame], minQuality: Double): DataFrame = {
    val all = ofDays(corpus, delta)
    val g = gates(all, minQuality)
    val edges = Dedup.unionEdges(g.keepers(all), g.keeperIdsOf(all, 1), corpusEdges,
      Labelled.policy.maxBucket)
    verdicts(g, Components.connected(edges), minQuality)
  }

  /** [[curateIncremental]] over a STORED near-dup index — the full
    * production ingest shape: yesterday's run persisted the edge list
    * AND `Dedup.writeIndex(exactKeepers(corpus))`; today's pass loads
    * both and the near-dup tier shingles only the delta's keepers
    * (`Dedup.incrementalNearDupEdgesIndexed`). Output is identical to
    * [[curateIncremental]] (differentially tested) — the index swap
    * changes where the corpus frames COME FROM, not what they contain.
    *
    * Same contract (including stored-edge re-validation) as
    * [[curateIncremental]]. `index` must cover exactly the corpus'
    * quality-passing exact-keepers (what [[exactKeepers]] returns) —
    * indexing dropped docs would resurrect them as candidate endpoints.
    */
  def curateIncrementalIndexed(
      corpus: DataFrame, delta: DataFrame, corpusEdges: DataFrame,
      index: Dedup.DedupIndex, minQuality: Double = 0.15): DataFrame = {
    val g = gates(ofDays(corpus, delta), minQuality)
    val deltaKept = g.keepers(delta.select(col("doc_id"), col("text")))
    val edges = Dedup.revalidatedUnionEdgesIndexed(index, deltaKept, corpusEdges)
    verdicts(g, Components.connected(edges), minQuality)
  }

  /** Snapshot diff between two corpus versions — the audit a dataset
    * iteration loop runs before promoting a rebuilt corpus: which
    * documents were `added`, `removed`, `changed` (same id, different
    * content), or `unchanged` since the last snapshot. Content identity
    * is the md5 of the text (NULL text hashes as the empty string, so a
    * null-vs-null revision reads `unchanged`, not spurious churn).
    *
    * Scale shape: both sides project to (doc_id, 16-byte hash) before
    * the single full-outer equi-shuffle on doc_id — the diff of two
    * 100 TB snapshots moves two narrow columns, never document text.
    * Emits one row per doc_id present in either snapshot; downstream
    * passes typically gate a promotion on counts per status or join
    * `changed`/`added` ids back for re-validation.
    */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val o = oldDocs.select(col("doc_id"),
      md5(coalesce(col("text"), lit(""))).as("old_hash"))
    val n = newDocs.select(col("doc_id"),
      md5(coalesce(col("text"), lit(""))).as("new_hash"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("old_hash"), col("new_hash"),
        when(col("old_hash").isNull, "added")
          .when(col("new_hash").isNull, "removed")
          .when(col("old_hash") =!= col("new_hash"), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** Pareto frontier of the quality-vs-cost trade: the documents no
    * other document dominates on (quality ↑, token cost ↓) — the
    * skyline a curation budget reads instead of a single weighted
    * score (every frontier doc is SOME budget's optimal pick; every
    * dominated doc is nobody's).
    *
    * Domination: A dominates B iff qs_A ≥ qs_B ∧ tok_A ≤ tok_B with at
    * least one strict; identical (qs, tok) points tie and both survive.
    * Quality is q130's integer grid (round(quality·10⁴)); cost is the
    * word count — both exact, so the frontier hash-gates.
    *
    * Scale shape: the naive skyline is a NOT EXISTS self-join —
    * quadratic, unrunnable at corpus scale. This is the 2-D
    * sort-and-sweep instead: frontier ⟺ tok < min(tok over all
    * strictly-higher qs) ∧ tok = min(tok within the qs tie group) —
    * a min-per-quality-cell aggregation (map-side combined) followed
    * by one range-frame sweep over the occupied quality cells. The
    * single-partition window is over a PROVABLY bounded frame (≤ 10⁴+1
    * rows, the q130 threshold argument — the quality grid, never the
    * corpus), then docs semi-join back on the surviving cells.
    */
  def paretoFrontier(docs: DataFrame): DataFrame = {
    val scored = TextAnalysis.qualityScores(docs)
      .filter(col("quality").isNotNull)
      .select(col("doc_id"),
        expr("cast(round(quality * 10000) as bigint)").as("qs"),
        col("n_words").as("tokens"))
    // within a quality cell only its min-token value can be on the
    // frontier (any higher-token doc is strictly dominated inside the
    // cell) — so the sweep frame is one row per occupied qs cell,
    // bounded by the 10^4+1-value quality grid, never by corpus size
    val qsMin = scored.groupBy("qs").agg(min("tokens").as("tokens"))
    // min tokens over STRICTLY higher qs: range frame ending 1 below
    // the current qs under a descending order = all cells with qs >
    // current; NULL when none exist (the top-quality cell)
    val above = Window.orderBy(col("qs").desc)
      .rangeBetween(Window.unboundedPreceding, -1)
    val frontierCells = qsMin
      .select(col("qs"), col("tokens"),
        min("tokens").over(above).as("best_above"))
      .filter(col("best_above").isNull || col("tokens") < col("best_above"))
      .select("qs", "tokens")
    scored.join(frontierCells, Seq("qs", "tokens"), "left_semi")
      .select(col("doc_id"), col("qs"), col("tokens"))
  }
}
