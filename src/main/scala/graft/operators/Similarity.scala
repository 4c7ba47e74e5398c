package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.array_dot

/** Similarity search over an embedding column (`array<float>`).
  *
  * Tiers (mirroring the text-dedup tiers in [[Dedup]]):
  *   - [[cosinePairs]]: exact all-pairs — the ground-truth tier,
  *     quadratic by definition. The per-pair kernel is the codegen'd
  *     [[graft.functions.ArrayDot]] over once-per-row normalized data,
  *     so the cost is the pair space itself, not expression overhead.
  *   - [[cosineNeighbors]] / [[bruteForceTopK]]: small-query-set search —
  *     broadcast the queries, one scan of the corpus, no shuffle. This is
  *     the scale shape for "find neighbors of these K vectors".
  *   - [[signLshBuckets]] / [[lshCosinePairs]]: the approximate scale
  *     path for all-pairs discovery — random-hyperplane (sign) LSH,
  *     `tables` independent tables of `bits` sign bits. Bucketing is ONE
  *     narrow scan (hyperplanes are md5-derived literals folded into the
  *     plan; no join, no explode); candidates share a (table, bucket)
  *     key and are verified exactly. Cost O(n·tables) + candidate joins.
  *
  * Honest-approximation note (measured on the benchmark corpus): sign-LSH
  * prunes well only near cos ≈ 1 (the near-duplicate regime — planted
  * dups recall ≥ 0.9 in `DedupSpec`). At weak thresholds like 0.4 the
  * hyperplane collision probability (1 − θ/π ≈ 0.63) makes any config
  * either recall-poor or candidate-heavy (40% of all pairs for 0.69
  * recall). So the engine gates BOTH tiers: the exact pair query stays
  * the ground truth at moderate thresholds, and the LSH query is the
  * documented approximate/scale variant — same structure as q26 (exact
  * n-gram Jaccard) vs q27 (MinHash LSH) on the text side.
  *
  * All randomness derives from md5 (deterministic, seed-free, engine-
  * portable), so every path — including LSH bucketing — is reproducible
  * in DuckDB for oracle checks.
  */
object Similarity {

  /** (vec_id, e: array<float>, nrm): the vector stays in its storage
    * type — [[graft.functions.ArrayDot]] widens per element, which is
    * bit-identical to casting the array first but keeps the whole path
    * free of interpreted higher-order functions. L2 norm accumulates in
    * index order, matching an oracle's list fold over the cast list.
    */
  private def withNorm(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("embedding").as("e"))
      .withColumn("nrm", sqrt(array_dot(col("e"), col("e"))))

  /** cos(a, b) = dot(a, b) / (|a|·|b|) with pre-computed norms.
    * Zero-norm vectors have no direction: the guard yields NULL (matching
    * DuckDB's x/0 = NULL) instead of tripping ANSI-mode DIVIDE_BY_ZERO —
    * one degenerate vector must not abort a corpus-wide job. Consumers
    * either filter on a threshold (NULL never passes) or drop NULL
    * explicitly before ranking.
    */
  private def cosCol(ae: Column, be: Column, an: Column, bn: Column): Column =
    when(an * bn =!= 0, array_dot(ae, be) / (an * bn))

  /** All pairs (i < j) with cosine ≥ threshold — exact, brute force.
    * Ground-truth tier: the pair space is inherently O(n²); at corpus
    * scale use [[lshCosinePairs]] (discovery) or [[cosineNeighbors]]
    * (known query set) instead.
    */
  def cosinePairs(emb: DataFrame, threshold: Double): DataFrame = {
    // the quadratic pair join streams one side through a nested-loop
    // join; spread so a single-split scan doesn't serialize the kernel
    val v = withNorm(Spread(emb))
    v.as("a").join(v.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"),
        cosCol(col("a.e"), col("b.e"), col("a.nrm"), col("b.nrm")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("i"), col("j"), round(col("cos"), 4).as("cos"))
  }

  /** Neighbors of the given query vectors with cosine ≥ threshold.
    * The query side is broadcast — at scale this is a broadcast join of a
    * small query set against the full corpus, one scan, no shuffle.
    */
  def cosineNeighbors(emb: DataFrame, queries: DataFrame, threshold: Double): DataFrame = {
    val corpus = withNorm(emb)
    val q = withNorm(queries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qn"))
    corpus.join(broadcast(q), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosCol(col("qe"), col("e"), col("qn"), col("nrm")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("query_id"), col("neighbor_id"), round(col("cos"), 4).as("cos"))
  }

  /** Exact top-k neighbors per query vector (rank ties broken by id). */
  def bruteForceTopK(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val corpus = withNorm(emb)
    val q = withNorm(queries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qn"))
    val scored = corpus.join(broadcast(q), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosCol(col("qe"), col("e"), col("qn"), col("nrm")).as("cos"))
      // a zero-norm vector on either side yields cos = NULL (x/0 is NULL
      // in Spark); NULL is not a similarity — drop it rather than letting
      // desc NULLS LAST rank garbage rows into the top-k tail
      .filter(col("cos").isNotNull)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(round(col("cos"), 6).desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("cos"), 4).as("cos"), col("rank"))
  }

  /** A built IVF index: `cents` is the O(√n) broadcast-able centroid
    * frame, `assigned` maps every corpus vector to its nearest centroid's
    * cell (vec_id, e, nrm, cell) — both checkpointed, so every
    * [[ivfSearch]] against the index reads stored blocks instead of
    * re-running the O(n·√n) nearest-centroid scan. Built by [[ivfIndex]].
    *
    * Lifetime: the checkpointed frames are storage tracked by
    * [[Ckpt]] — `Ckpt.releaseGraftStorage` (called at Bench/Verify run
    * boundaries) unpersists them, and truncated lineage cannot recompute
    * them, so a held index does NOT survive a release. Build, search,
    * and release within one run scope; for an index that outlives the
    * session (the production build-job/search-job split), persist it
    * with [[writeIvfIndex]] and reload with [[loadIvfIndex]].
    */
  final case class IvfIndex private[operators] (
      stride: Int, cents: DataFrame, assigned: DataFrame)

  /** Build the IVF (inverted-file) index — the cell-probe scale path for
    * repeated ANN queries, complementing [[lshCosinePairs]] (all-pairs
    * discovery) and [[bruteForceTopK]] (exact small-query search).
    *
    * A deterministic sample of the corpus serves as coarse centroids
    * (`vec_id % stride == 0` — seed-free and oracle-reproducible;
    * production would k-means, which only moves the centroid positions,
    * not the plan shape). The stride defaults to ⌈√n⌉, derived from a
    * `count()` of the corpus, which keeps BOTH the broadcast centroid
    * set and the average cell population at O(√n) no matter the corpus
    * size — the invariant the whole cell-probe cost model rests on. Pass
    * `centroidEvery > 0` to pin it. Every vector is assigned to its
    * nearest centroid in ONE corpus scan against the broadcast centroid
    * set. Index construction is EAGER and batch-only (the count and the
    * checkpoints materialize immediately; not composable over streams) —
    * that is the point: build once, then [[ivfSearch]] is a lazy,
    * cheap plan over the stored assignment.
    *
    * `materialize = false` skips the checkpoints and leaves the index as
    * a lazy plan — right when the index serves exactly ONE search (the
    * [[ivfTopK]] one-shot), where an eager materialization of the
    * assignment buys nothing. A/B at sf0.1 (4 query sets, warm): four
    * one-shots 3.97s vs build-once 0.85s + 4 reused searches ~0.35s each
    * = 2.37s — ~2.6× per search once the assignment is stored blocks.
    */
  def ivfIndex(emb: DataFrame, centroidEvery: Int = 0,
      materialize: Boolean = true): IvfIndex = {
    val cut: DataFrame => DataFrame = if (materialize) Ckpt.narrow else identity
    val stride =
      if (centroidEvery > 0) centroidEvery else derivedStride(emb.count())
    val cents = cut(
      withNorm(emb.filter(pmod(col("vec_id"), lit(stride)) === 0))
        .select(col("vec_id").as("cid"), col("e").as("ce"), col("nrm").as("cn")))
    IvfIndex(stride, cents, cut(assignTo(cents, emb)))
  }

  /** Nearest-centroid assignment of `vecs` against a broadcast centroid
    * frame — one scan, argmax by (rounded cos desc, cid asc). The ONE
    * assignment definition shared by [[ivfIndex]], [[ivfTrainedIndex]],
    * and [[ivfAppend]], so an appended delta can never be assigned by a
    * different rule than the corpus it joins.
    */
  private def assignTo(cents: DataFrame, vecs: DataFrame): DataFrame =
    withNorm(vecs).crossJoin(broadcast(cents))
      .select(col("vec_id"), col("e"), col("nrm"), col("cid"),
        round(cosCol(col("e"), col("ce"), col("nrm"), col("cn")), 6).as("ccos"))
      .groupBy(col("vec_id"))
      .agg(
        first(col("e")).as("e"), first(col("nrm")).as("nrm"),
        max_by(col("cid"), struct(col("ccos"), (-col("cid")).as("nc"))).as("cell"))

  /** Delta-ingest into a built [[IvfIndex]]: assign ONLY the delta
    * against the stored broadcast centroids and append to the stored
    * assignment — the embedding-side twin of the dedup tier's
    * incremental ingest ([[Dedup.incrementalNearDupEdgesIndexed]]).
    * Appending never moves centroids (a production index retrains on a
    * cadence, not per ingest), and assignment is per-row deterministic,
    * so append ≡ a from-scratch assignment of the union against the same
    * centroids — the law the q87 oracle gates at hash level. Cost is one
    * delta-sized scan; nothing re-touches the stored corpus rows.
    */
  def ivfAppend(index: IvfIndex, delta: DataFrame): IvfIndex =
    IvfIndex(index.stride, index.cents,
      index.assigned.unionByName(ivfAssign(index, delta)))

  /** Assign arbitrary vectors to a built index's cells WITHOUT touching
    * the stored assignment — the classify-new-vectors primitive
    * [[ivfAppend]] composes with the stored frame, exposed for callers
    * (the streaming ingest) that persist per-batch assignment artifacts
    * themselves. One delta-sized scan against the broadcast centroids.
    */
  def ivfAssign(index: IvfIndex, vecs: DataFrame): DataFrame =
    assignTo(index.cents, vecs)

  /** Assemble an [[IvfIndex]] from already-loaded frames — the reader
    * hook for artifact layouts beyond [[loadIvfIndex]]'s single
    * directory (the streaming ingest accumulates `assigned` across
    * per-batch dirs). Caller contract: `cents`/`assigned` carry the
    * [[writeIvfIndex]] schemas and `stride` matches the build.
    */
  def ivfIndexFrom(stride: Int, cents: DataFrame, assigned: DataFrame): IvfIndex =
    IvfIndex(stride, cents, assigned)

  /** Approximate top-k against a built [[IvfIndex]]: each query probes
    * its `nProbe` nearest centroids, and only vectors assigned to those
    * cells are scored — an equi-join on cell id, so recall trades
    * against the fraction of the corpus scanned (nProbe/centroids on
    * average) and nothing is quadratic. Ties everywhere resolve by
    * (rounded cosine desc, id asc) — deterministic and engine-portable.
    */
  def ivfSearch(index: IvfIndex, queries: DataFrame, k: Int,
      nProbe: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qw = Window.partitionBy(col("query_id"))
      .orderBy(col("qcos").desc, col("cid"))
    val probes = withNorm(queries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qn"))
      .crossJoin(broadcast(index.cents))
      .select(col("query_id"), col("qe"), col("qn"), col("cid"),
        round(cosCol(col("qe"), col("ce"), col("qn"), col("cn")), 6).as("qcos"))
      .withColumn("pr", row_number().over(qw))
      .filter(col("pr") <= nProbe)
      .select(col("query_id"), col("qe"), col("qn"), col("cid").as("cell"))

    // score only vectors in probed cells; exact top-k within them
    val w = Window.partitionBy(col("query_id"))
      .orderBy(round(col("cos"), 6).desc, col("neighbor_id"))
    index.assigned.join(probes, Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosCol(col("qe"), col("e"), col("qn"), col("nrm")).as("cos"))
      .filter(col("cos").isNotNull) // zero-norm guard, as bruteForceTopK
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cos"), 4).as("cos"), col("rank"))
  }

  /** One-shot convenience: build the index and search it. EAGER and
    * batch-only (see [[ivfIndex]]); callers issuing several query sets
    * should build the index once and call [[ivfSearch]] per set.
    */
  def ivfTopK(emb: DataFrame, queries: DataFrame, k: Int,
      centroidEvery: Int = 0, nProbe: Int = 3): DataFrame =
    ivfSearch(ivfIndex(emb, centroidEvery, materialize = false), queries, k, nProbe)

  /** Micro-unit quantization scale for exact-integer centroid means. */
  private val KmQ = 1000000L

  /** K-means-trained IVF index: [[ivfIndex]]'s deterministic sample
    * seeds Lloyd's algorithm, and `iters` assign→recompute rounds move
    * the centroids to their cells' means before the final assignment.
    * Trained centroids cut the variance of cell populations, which is
    * what bounds worst-case probe cost — the production upgrade the
    * [[ivfIndex]] scaladoc promises.
    *
    * Determinism (the oracle contract): centroid means are computed in
    * EXACT integer arithmetic — components quantized to micro-units
    * (`round(x·10⁶)` as long), summed per cell with the commutative
    * [[graft.functions.Aggregators.VecSumLong]], divided back once and
    * rounded to 6 dp. Long sums are order-independent where float sums
    * are not, so the trained centroids are bit-identical under any
    * partitioning and reproducible in DuckDB. Assignment argmax rounds
    * cosines to 6 dp, ties to the lower centroid id (as [[ivfIndex]]).
    *
    * Scale: each round is one corpus scan against O(√n) broadcast
    * centroids plus a map-side-combined per-cell sum (the shuffle moves
    * one 64-long buffer per cell per partition — never member vectors);
    * cells that lose all members drop out, the rest keep their seed's
    * cid. Training cost is `iters + 1` corpus scans — run it as the
    * index-build job, then amortize over [[ivfSearch]] calls.
    */
  def ivfTrainedIndex(emb: DataFrame, iters: Int = 2,
      centroidEvery: Int = 0, materialize: Boolean = true): IvfIndex = {
    require(iters >= 1, "iters must be >= 1")
    val cut: DataFrame => DataFrame = if (materialize) Ckpt.narrow else identity
    val stride =
      if (centroidEvery > 0) centroidEvery else derivedStride(emb.count())
    val v = withNorm(emb)
    // exact-integer view of the corpus, reused by every round
    val q = cut(v.select(col("vec_id"), expr(
      s"transform(e, x -> cast(round(cast(x as double) * $KmQ.0d) as bigint))")
      .as("qv")))
    val seed = withNorm(emb.filter(pmod(col("vec_id"), lit(stride)) === 0))
      .select(col("vec_id").as("cid"), col("e").as("ce"), col("nrm").as("cn"))
    val trained = (1 to iters).foldLeft(seed) { (cents, _) =>
      val cells = v.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("cid"),
          round(cosCol(col("e"), col("ce"), col("nrm"), col("cn")), 6).as("ccos"))
        .groupBy(col("vec_id"))
        .agg(max_by(col("cid"), struct(col("ccos"), (-col("cid")).as("nc"))).as("cell"))
      cells.join(q, "vec_id")
        .groupBy(col("cell"))
        .agg(graft.functions.Aggregators.vec_sum_long(col("qv")).as("s"),
          count(lit(1)).as("cnt"))
        .select(col("cell").as("cid"), expr(
          s"transform(s, x -> round(cast(x as double) / ($KmQ.0d * cnt), 6))")
          .as("ce"))
        .withColumn("cn", sqrt(array_dot(col("ce"), col("ce"))))
    }
    val cents = cut(trained)
    IvfIndex(stride, cents, cut(assignTo(cents, emb)))
  }

  /** Persist a built [[IvfIndex]] under `dir`: parquet of the centroid
    * and assignment frames plus a one-row stride manifest. This is the
    * build-job half of the production split — an ANN index must outlive
    * the session that built it, or every search session pays the
    * O(n·√n) assignment scan again. The assignment frame is the corpus
    * with two extra narrow columns (nrm, cell); a production layout
    * would partition it by `cell` so a probe reads only its cells'
    * files (partition pruning on the probe equi-join).
    */
  def writeIvfIndex(index: IvfIndex, dir: String): Unit = {
    index.cents.write.mode("overwrite").parquet(s"$dir/cents")
    index.assigned.write.mode("overwrite").parquet(s"$dir/assigned")
    index.cents.sparkSession.range(1).select(lit(index.stride).as("stride"))
      .write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Load a [[writeIvfIndex]] artifact — a fresh session can
    * [[ivfSearch]] it directly; the frames are plain parquet scans with
    * no dependence on the building session's checkpoint storage.
    */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String): IvfIndex =
    IvfIndex(
      spark.read.parquet(s"$dir/meta").head.getAs[Int]("stride"),
      spark.read.parquet(s"$dir/cents"),
      spark.read.parquet(s"$dir/assigned"))

  /** Cluster-balanced subsample over a built [[IvfIndex]]: rank each
    * cell's members by a deterministic corpus-independent hash and flag
    * the first `quota` per cell as kept — the diversity pass that caps
    * any one embedding cluster's contribution to a training mix,
    * complementing [[semanticDedup]] (which removes NEAR-DUPLICATES;
    * this bounds redundant-but-distinct mass). Every vector gets a row
    * (in-cell rank + kept flag) — a total audit, the same contract as
    * the per-stratum quota sampler (`Prep.sampleToQuota`).
    *
    * Scale shape: one window partitioned by cell over the stored
    * assignment — cells average ~√n members by the [[ivfIndex]] stride
    * invariant, and the hash order makes the kept set independent of
    * partitioning and engine (md5-derived, DuckDB-reproducible).
    */
  def clusterBalancedSample(index: IvfIndex, quota: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(quota >= 1, s"quota must be >= 1, got $quota")
    val w = Window.partitionBy(col("cell")).orderBy(col("_rk"), col("vec_id"))
    index.assigned
      .select(col("vec_id"), col("cell"),
        expr(Dedup.h60("concat('cbs_', cast(vec_id as string))")).as("_rk"))
      .withColumn("cell_rank", row_number().over(w).cast("long"))
      .select(col("vec_id"), col("cell"), col("cell_rank"),
        (col("cell_rank") <= quota).cast("bigint").as("kept"))
  }

  /** Label-coherence audit: per vector, the cosine to its OWN label's
    * mean centroid and to the best OTHER label's — the embedding-space
    * health check for a labeled corpus (a vector closer to a foreign
    * centroid is a label error, a drifted encoder, or a genuinely
    * ambiguous item; a label whose members hug foreign centroids is a
    * cluster that never separated). The per-class twin of the
    * per-vector norms audit ([[int8QuantAudit]]'s sibling q134).
    *
    * Determinism discipline: centroid coordinates are exact micro-unit
    * long sums ([[graft.functions.Aggregators.vec_sum_long]], the
    * [[ivfTrainedIndex]] contract) divided back once at 6 dp — bit
    * identical under any partitioning and reproducible in DuckDB;
    * cosines rank on the 6 dp rounding with label-asc ties.
    *
    * Scale shape: labels are bounded, so the centroid frame broadcasts
    * and the score pass is ONE corpus scan (O(n·labels) dot products);
    * the best-other pick is a per-vector window over `labels − 1` rows.
    */
  def labelCoherence(emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = emb.filter(col("label").isNotNull)
      .select(col("vec_id"), col("label"), col("embedding").as("e"))
      .withColumn("nrm", sqrt(array_dot(col("e"), col("e"))))
    val cents = v.select(col("label"), expr(
        s"transform(e, x -> cast(round(cast(x as double) * $KmQ.0d) as bigint))")
        .as("qv"))
      .groupBy("label")
      .agg(graft.functions.Aggregators.vec_sum_long(col("qv")).as("s"),
        count(lit(1)).as("cnt"))
      .select(col("label").as("clabel"), expr(
        s"transform(s, x -> round(cast(x as double) / ($KmQ.0d * cnt), 6))")
        .as("ce"))
      .withColumn("cn", sqrt(array_dot(col("ce"), col("ce"))))
    // labels are bounded — the centroid frame broadcasts by construction.
    // Rank/compare on the 6 dp rounding; EMIT the 4 dp round of the RAW
    // cosine (rounding an already-rounded double is the double-rounding
    // parity trap: engines disagree on whether 0.193150 re-rounds up)
    val scored = v.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"), col("clabel"),
        cosCol(col("e"), col("ce"), col("nrm"), col("cn")).as("craw"))
      .withColumn("ccos", round(col("craw"), 6))
    val own = scored.filter(col("label") === col("clabel"))
      .select(col("vec_id"), col("label"), col("ccos").as("own6"),
        col("craw").as("own_raw"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("ccos").desc_nulls_last, col("clabel"))
    val other = scored.filter(col("label") =!= col("clabel"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("clabel").as("best_other_label"),
        col("ccos").as("oth6"), col("craw").as("oth_raw"))
    own.join(other, Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"),
        round(col("own_raw"), 4).as("own_cos"),
        col("best_other_label"),
        round(col("oth_raw"), 4).as("best_other_cos"),
        when(col("own6") > col("oth6"), 1L).otherwise(0L).as("separated"))
  }

  /** Embedding-space drift between two corpus snapshots — the encoder/
    * distribution-shift screen beside the token-level [[TextAnalysis
    * .vocabDrift]] (q100): per label, the cosine between YESTERDAY's
    * class centroid (vec_id < cut) and the DELTA's (vec_id ≥ cut), plus
    * both slice counts and centroid norms. A re-trained encoder, a
    * source-mix change, or an upstream featurization bug all show up as
    * drift_cos falling off 1.0 for the affected classes before any
    * downstream metric moves; a label present on only one side (class
    * appeared/vanished) reports NULL cosine with the counts telling
    * which.
    *
    * Same exact-integer centroid arithmetic as [[labelCoherence]]
    * (micro-long component sums, divided back once at 6 dp) so the
    * DuckDB oracle reproduces every value bit-for-bit.
    *
    * Scale shape: two map-side-combinable label-grain aggregations over
    * one corpus scan each — no joins at vector grain, output bounded by
    * |labels|.
    */
  def centroidDrift(emb: DataFrame, cut: Long): DataFrame = {
    def cents(df: DataFrame) = finishCentroids(centroidPartial(df))
    val old = cents(emb.filter(col("vec_id") < cut))
      .select(col("label"), col("cnt").as("n_old"), col("ce").as("ceo"))
    val neu = cents(emb.filter(col("vec_id") >= cut))
      .select(col("label"), col("cnt").as("n_new"), col("ce").as("cen"))
    old.join(neu, Seq("label"), "full_outer")
      .withColumn("no", sqrt(array_dot(col("ceo"), col("ceo"))))
      .withColumn("nn", sqrt(array_dot(col("cen"), col("cen"))))
      .select(col("label"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        round(col("no"), 4).as("norm_old"),
        round(col("nn"), 4).as("norm_new"),
        when(col("no") > 0 && col("nn") > 0,
          round(array_dot(col("ceo"), col("cen")) / (col("no") * col("nn")), 4))
          .as("drift_cos"))
  }

  /** Per-label quantized centroid PARTIAL — `(label, s, cnt)` with `s`
    * the element-wise micro-long component sum over the label's vectors
    * (the [[labelCoherence]]/[[centroidDrift]] quantization). The
    * partial is a pure mergeable: partials over disjoint slices fold by
    * element-wise-summing `s` and summing `cnt` ([[mergeCentroidPartials]])
    * with NO precision loss — integer sums are exact — so a streamed
    * fold is bit-identical to the one-shot scan whatever the batching.
    * State is labels × dim longs, never rows.
    */
  def centroidPartial(emb: DataFrame): DataFrame =
    emb.filter(col("label").isNotNull)
      .select(col("label"), expr(
        s"transform(embedding, x -> cast(round(cast(x as double) * $KmQ.0d) as bigint))")
        .as("qv"))
      .groupBy("label")
      .agg(graft.functions.Aggregators.vec_sum_long(col("qv")).as("s"),
        count(lit(1)).as("cnt"))

  /** Fold [[centroidPartial]] frames from disjoint slices — associative,
    * commutative, replay-visible (a duplicated partial DOUBLES its
    * label's sums, which is why the ingest tier commits each batch
    * exactly once).
    */
  def mergeCentroidPartials(partials: DataFrame): DataFrame =
    partials.groupBy("label")
      .agg(graft.functions.Aggregators.vec_sum_long(col("s")).as("s"),
        sum(col("cnt")).as("cnt"))

  /** Finish a partial into the exact-integer mean centroid — ONE divide
    * back at 6 dp, the single definition both the batch queries and the
    * streaming read face share so the two can never drift.
    */
  def finishCentroids(partials: DataFrame): DataFrame =
    partials.select(col("label"), col("cnt"), expr(
      s"transform(s, x -> round(cast(x as double) / ($KmQ.0d * cnt), 6))")
      .as("ce"))

  /** Leave-one-out 1-NN label agreement per label — the standard
    * embedding-quality metric (a good encoder puts same-label items
    * nearest each other; per-label agreement collapse localizes WHICH
    * class the encoder confuses, the complement of [[labelCoherence]]'s
    * centroid view, which averages away multi-modal classes that 1-NN
    * sees). Neighbor rank ties break on the 6 dp-rounded cosine then
    * neighbor id; zero-norm vectors (NULL cosine everywhere) still
    * appear, counted as disagreement, so totals conserve the corpus.
    *
    * GROUND-TRUTH TIER: the exact 1-NN is the O(n²) pair scan
    * ([[cosinePairs]]' contract) — it exists to calibrate the bucketed
    * tiers and runs on samples at corpus scale; labeled and excluded
    * from the scaling suite like q26/q30/q32.
    */
  def knnLabelAgreement(emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the n² kernel streams this side through a nested-loop join: from
    // a single-split scan ALL pair work runs in one task (measured
    // 6.6 s at sf0.1, 7 single-task stages) — spread adaptively
    val v = Spread(emb).filter(col("label").isNotNull)
      .select(col("vec_id"), col("label"), col("embedding").as("e"))
      .withColumn("nrm", sqrt(array_dot(col("e"), col("e"))))
    val a = v.select(col("vec_id"), col("label"), col("e"), col("nrm"))
    val b = v.select(col("vec_id").as("nid"), col("label").as("nlabel"),
      col("e").as("ne"), col("nrm").as("nn"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("c6").desc_nulls_last, col("nid"))
    a.join(b, col("vec_id") =!= col("nid"))
      .select(col("vec_id"), col("label"), col("nid"), col("nlabel"),
        round(cosCol(col("e"), col("ne"), col("nrm"), col("nn")), 6).as("c6"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("label") === col("nlabel"), 1L).otherwise(0L))
          .as("n_agree"))
      .withColumn("agree_ppm", expr("(n_agree * 1000000) div n_vecs"))
  }

  /** [[knnLabelAgreement]] over a deterministic hash sample of the
    * corpus — the EXECUTABLE sampling posture of the ground-truth
    * calibration tiers (q26/q30/q32/q92/q171 are O(n²) by contract and
    * "run on samples at corpus scale"; this is that sample, shipped).
    * Membership = salted 60-bit md5 of vec_id mod 10⁶ < `ppm` (the q56
    * split-bucket contract): a vector's membership never changes as
    * OTHER vectors come and go, across engines and partitionings, so
    * the calibration metric is comparable across snapshots of a growing
    * corpus. The exact leave-one-out 1-NN then runs WITHIN the sample —
    * cost (n·ppm/10⁶)² pairs, so a fixed-ppm probe of a 100 TB corpus
    * is sized by the sample, not the corpus, and `ppm` is the knob that
    * keeps it constant-cost under growth (halve it per 2× corpus).
    * Statistical contract: per-label agreement over a uniform sample
    * estimates the full metric (the sampled 1-NN is the nearest IN the
    * sample — a valid, slightly noisier probe of the same encoder
    * quality); the agreement law vs the full run is spec-pinned at
    * gated scale.
    */
  def knnLabelAgreementSampled(emb: DataFrame, ppm: Long,
      salt: String = "knn_sample"): DataFrame = {
    require(ppm >= 1 && ppm <= 1000000L, s"ppm must be in [1, 1000000], got $ppm")
    require(salt.nonEmpty && salt.forall(c =>
        (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
        (c >= '0' && c <= '9') || c == '_'),
      s"salt must be non-empty [A-Za-z0-9_], got '$salt'")
    knnLabelAgreement(emb.filter(
      expr(Dedup.h60(s"concat('${salt}_', cast(vec_id as string))"))
        % 1000000L < ppm))
  }

  /** Default IVF centroid stride: ⌈√n⌉ ⇒ ~√n centroids of ~√n vectors. */
  private[graft] def derivedStride(n: Long): Int =
    math.max(1L, math.ceil(math.sqrt(n.toDouble)).toLong).toInt

  /** The quantized-component expression shared by [[quantizeInt8]] and
    * [[int8QuantAudit]] — one definition so the stored artifact and the
    * audit can never drift. Requires columns `e` (array<double>) and
    * `scale` (its max |component|); values land in [-127, 127] exactly.
    */
  private val QuantE =
    "if(scale = 0d, transform(e, x -> cast(0 as tinyint)), " +
      "transform(e, x -> cast(round((x / scale) * 127.0) as tinyint)))"

  /** Int8 embedding quantization for storage: per-vector max-abs scaling
    * to a tinyint array — 4× smaller than float32, ≤ scale/254 per-
    * component absolute error. `scale` is the max |component| (a max, so
    * order-independent and engine-portable); components map to
    * round(x/scale · 127); all-zero vectors quantize to zeros with
    * scale 0. At corpus scale this is a narrow projection — no shuffle,
    * no state — run as part of the embedding ingest write.
    */
  def quantizeInt8(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("e"))
      .withColumn("scale", expr("array_max(transform(e, x -> abs(x)))"))
      .select(col("vec_id"), col("scale"), expr(QuantE).as("qe"))

  /** Reconstruction-error audit of [[quantizeInt8]], rolled up per
    * label: errors are measured in EXACT micro-units — |round(x·10⁶) −
    * round(x̂·10⁶)| as longs per component, where x̂ = q·scale/127 —
    * so every aggregate is an order-independent long sum/max (the same
    * determinism discipline as [[ivfTrainedIndex]]) and the audit hashes
    * identically in DuckDB. One scan, one bounded group-by.
    */
  def int8QuantAudit(emb: DataFrame): DataFrame = {
    val per = emb.select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> cast(x as double))").as("e"))
      .withColumn("scale", expr("array_max(transform(e, x -> abs(x)))"))
      .withColumn("qe", expr(QuantE))
      .select(col("label"), col("scale"),
        expr("zip_with(e, qe, (x, qv) -> abs(cast(round(x * 1000000.0) as bigint) - " +
          "cast(round(((cast(qv as double) * scale) / 127.0) * 1000000.0) as bigint)))")
          .as("errs"))
      .select(col("label"), col("scale"),
        expr("aggregate(errs, 0L, (a, x) -> a + x)").as("sum_err"),
        expr("array_max(errs)").as("max_err"),
        size(col("errs")).cast("long").as("n"))
    per.groupBy("label").agg(
      count(lit(1)).as("n_vecs"),
      max("max_err").as("max_err_micro"),
      // guard the all-empty-arrays degenerate group (sum(n) = 0): NULL
      // average, not an ANSI divide-by-zero
      round(when(sum("n") > 0, sum("sum_err").cast("double") / sum("n")), 4)
        .as("avg_err_micro"),
      round(max("scale"), 6).as("max_scale"))
  }

  /** Brute-force top-k over the INT8-QUANTIZED corpus — the memory-tier
    * search path: score = quantized cosine, i.e. the exact integer dot
    * of the two tinyint arrays over the exact integer norms, with one
    * double division at the end. Per-vector max-abs scales cancel out of
    * the cosine, so they never enter the score — the whole rank order is
    * a function of exact BIGINT sums, bit-reproducible in any engine.
    *
    * At 100 TB this is why the tier exists: the scan reads 1/4 the bytes
    * of the float corpus (int8 array vs float32), the dot is integer
    * SIMD, and ranking quality degrades only by the ≤ scale/254
    * per-component quantization error that [[int8QuantAudit]] measures.
    * Same shape as [[bruteForceTopK]]: broadcast query set, linear scan,
    * per-query window — the ground-truth tier for the quantized ANN
    * stack, not the all-pairs path.
    */
  def int8TopK(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def intNorm(c: String) =
      expr(s"aggregate($c, 0L, (a, x) -> a + cast(x as bigint) * cast(x as bigint))")
    val corpus = quantizeInt8(emb)
      .select(col("vec_id"), col("qe"), intNorm("qe").as("nn"))
    val q = quantizeInt8(queries)
      .select(col("vec_id").as("query_id"), col("qe").as("qqe"),
        intNorm("qe").as("qnn"))
    val scored = corpus.join(broadcast(q), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        expr("aggregate(zip_with(qe, qqe, (x, y) -> " +
          "cast(x as bigint) * cast(y as bigint)), 0L, (a, x) -> a + x)")
          .as("idot"),
        col("nn"), col("qnn"))
      // a zero vector quantizes to all zeros: no direction, drop (the
      // bruteForceTopK NULL-cos rule in integer form)
      .filter(col("nn") > 0 && col("qnn") > 0)
      .select(col("query_id"), col("neighbor_id"),
        (col("idot").cast("double")
          / (sqrt(col("nn").cast("double")) * sqrt(col("qnn").cast("double"))))
          .as("qcos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(round(col("qcos"), 6).desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("qcos"), 4).as("qcos"), col("rank"))
  }

  /** Hyperplane component (t, p, d), derived from md5 so that an oracle
    * engine regenerates the identical plane: first 15 hex chars of
    * md5("t_p_d") as a 60-bit int, centered into [-1, 1] in steps of
    * 1/1000. Computed driver-side once and shipped as plan literals.
    */
  private[graft] def planeComponent(t: Int, p: Int, d: Int): Double =
    ((Dedup.seed60(s"${t}_${p}_$d") % 2001) - 1000) / 1000.0

  /** Sign-LSH bucket ids: `tables` independent tables, `bits` hyperplanes
    * each, over vectors of exactly `dim` dimensions. Output: one row per
    * (vec_id, t) with the table's `bits`-bit bucket.
    *
    * The bucketing is ONE native expression per row
    * ([[graft.functions.SignLshBuckets]] — all tables' buckets in a
    * single JIT-compiled kernel over the md5-derived plane matrix) —
    * no per-dimension explode, no plane join, no shuffle. The previous
    * rendering inlined tables × bits literal-plane dots into the plan;
    * at 16 × 12 the generated projection method exceeded the JVM JIT
    * limit and ran interpreted (measured 2.8 s → 0.1 s for 2,000
    * vectors at sf0.1, r15). Vectors whose length differs from `dim`
    * fail loudly (`raise_error`) instead of being silently truncated.
    */
  def signLshBuckets(emb: DataFrame, tables: Int = 8, bits: Int = 4, dim: Int = 64): DataFrame = {
    require(bits <= 62, "bits must fit a long bucket id")
    val v = withNorm(emb).withColumn("e",
      when(size(col("e")) === dim, col("e"))
        .otherwise(expr(
          s"raise_error(concat('embedding dim ', size(e), ' != configured dim $dim'))")))
    v.select(col("vec_id"),
        posexplode(graft.functions.GraftFunctions
          .sign_lsh_buckets(col("e"), tables, bits, dim)))
      .select(col("vec_id"), col("pos").cast("long").as("t"),
        col("col").as("bucket"))
  }

  /** Sign-LSH within-bucket candidate window — the similarity tier's
    * scale guard, ON by default and mirrored bit-for-bit in the DuckDB
    * oracle CTE ([[graft.queries.SimilarityQueries]] `lshCandSql`).
    *
    * Why a window and not [[Dedup.NearDupMaxBucket]]'s drop-the-bucket
    * cap: sign-LSH's bucket space is FIXED (2^bits per table), so mean
    * occupancy grows linearly with the corpus and same-bucket pairs grow
    * quadratically — measured: q33 ran 2.3 s / 18.7 s / 173 s at
    * 1×/10×/30× corpus scale (ScaleBench, exponent ≈ 2.0 on the last
    * decade). A size cap would eventually drop EVERY bucket (occupancy
    * grows everywhere, not just on skewed keys), zeroing recall. The
    * window keeps every bucket: candidates = each vector × its next
    * `window` bucket-mates, so volume is ≤ tables × window × n — linear
    * at any density. The within-bucket order is a TABLE-SALTED md5 of
    * the vec_id, NOT the id itself: id order would be identical across
    * tables, so a true pair separated by > window bucket-mates would be
    * missed by every table at once (measured: planted-dup recall 0 under
    * id order). Salted orders are independent per table, so a pair
    * colliding in `c` tables gets `c` independent ≈ 2·window/occupancy
    * chances — with the default 16 tables × window 32, planted cos ≈ 1
    * dups recall ≥ 0.9 through occupancy ≈ 250 per bucket, the DedupSpec
    * CI gate. Dense similar clusters additionally stay fully connected
    * through [[Components.connected]]: every within-window edge of a
    * near-duplicate cluster verifies, and the salted chain spans the
    * bucket.
    */
  val LshBucketWindow: Int = 32

  /** Target mean bucket occupancy per sign-LSH table. Sign-LSH's bucket
    * space is FIXED at 2^bits per table, so under sustained corpus
    * growth mean occupancy grows linearly and the per-bucket
    * rank/verify constants creep super-linear with no failure signal
    * (measured: q54/q148 last-decade exponents 1.33/1.16 on the
    * 30×→100× decade at fixed bits = 8, bench/scaling_r9.json). The
    * cure is the IVF precedent ([[derivedStride]]'s ⌈√n⌉): derive the
    * bucket-space size from the corpus count so occupancy stays ≲ this
    * constant at any n. 64 keeps the [[LshBucketWindow]] (32) covering
    * half a typical bucket — candidates stay window-bounded AND the
    * within-bucket sort stays O(occupancy · log occupancy) per bucket.
    */
  val LshTargetOccupancy: Long = 64L

  /** Corpus-derived sign-LSH bits: the smallest b ≥ `floor` with
    * 2^b × [[LshTargetOccupancy]] ≥ n — pure integer arithmetic (no
    * float log2 whose rounding could disagree across engines at exact
    * powers of two), mirrored verbatim in the oracle CTE
    * ([[graft.queries.SimilarityQueries]] `lshCandSql`), which
    * recomputes it from its own count(*). The caller's `bits` becomes a
    * FLOOR: small corpora keep their tuned config, a grown corpus gets
    * more buckets automatically. Capped at 30 so 2^bits stays an Int
    * and the bucket id fits a long with any table count.
    *
    * Recall note: at cos ≈ 1 (the near-dup regime) per-plane agreement
    * is ≈ 1, so added planes barely cost recall; at weaker thresholds
    * per-table recall decays by the extra agreement factors — a
    * deployment holding recall at a weak threshold under growth should
    * raise `tables` alongside (recall ≈ 1 − (1 − p^bits)^tables).
    */
  private[graft] def derivedBits(n: Long, floor: Int): Int = {
    // a floor above the 30-bit cap would return 30 < floor from the
    // empty range (silently SHRINKING the caller's bucket space); and
    // the n > 2^30·occupancy fallback must stay in lockstep with the
    // oracle CTE's UNION ALL 30 row — both caps are load-bearing
    require(floor >= 0 && floor <= 30,
      s"derivedBits: bits floor ($floor) must be in [0, 30]")
    (floor to 30).find(b => (1L << b) * LshTargetOccupancy >= n).getOrElse(30)
  }

  /** LSH-accelerated near-dup pairs: same-(table, bucket) candidates
    * within a `window` (≥ 1, default [[LshBucketWindow]]) of salted-hash
    * order per bucket, exact cosine verification ≥ threshold.
    * Verification cost tracks the candidate set (same contract as
    * [[Dedup.jaccardOfCandidates]]); [[cosinePairs]] is the ground truth.
    *
    * `bits` is a FLOOR: the effective bucket-space size is
    * [[derivedBits]] of the corpus count (one count() job, the
    * [[ivfIndex]] stride precedent), so sustained corpus growth widens
    * the bucket space instead of silently saturating it.
    */
  def lshCosinePairs(
      emb: DataFrame, threshold: Double,
      tables: Int = 8, bits: Int = 4, dim: Int = 64,
      window: Int = LshBucketWindow): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(window >= 1, s"window must be >= 1, got $window")
    val dBits = derivedBits(emb.count(), bits)
    // the bucketing projection (tables × bits × dim multiplies per
    // vector) feeds BOTH sides of the candidate join; checkpoint the
    // narrow (vec_id, t, bucket, rn) result so it runs once
    val rn = Ckpt.narrowLazy(signLshBuckets(emb, tables, dBits, dim)
      .withColumn("rn", row_number().over(
        Window.partitionBy("t", "bucket").orderBy(
          expr(Dedup.h60("concat('lshw_', t, '_', vec_id)")),
          col("vec_id")))))
    // window pairing as a pure EQUI-join on (t, bucket, rn): the probe
    // side explodes each row into its `window` successor ranks, so no
    // per-bucket range scan ever materializes a quadratic bucket cross
    // product — ≤ tables·window·n rows end to end. The salted order is
    // not id order, so normalize the pair AFTER the join (i = min id,
    // j = max id).
    val cand = rn.select(col("t"), col("bucket"), col("vec_id").as("ai"),
        explode(expr(s"sequence(rn + 1, rn + $window)")).as("rn"))
      .join(rn.select(col("t"), col("bucket"), col("rn"),
        col("vec_id").as("bj")), Seq("t", "bucket", "rn"))
      .select(least(col("ai"), col("bj")).as("i"),
        greatest(col("ai"), col("bj")).as("j"))
      .distinct()
    val v = withNorm(emb)
    cand
      .join(v.as("a"), col("i") === col("a.vec_id"))
      .join(v.as("b"), col("j") === col("b.vec_id"))
      .select(col("i"), col("j"),
        cosCol(col("a.e"), col("b.e"), col("a.nrm"), col("b.nrm")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("i"), col("j"), round(col("cos"), 4).as("cos"))
  }

  /** SemDeDup-shaped embedding-space dedup verdict: sign-LSH cosine
    * edges ([[lshCosinePairs]]) → transitive clusters
    * ([[Components.connected]]) → one row per corpus vector with its
    * cluster id (minimum vec_id reachable through cosine ≥ `threshold`
    * edges; singletons are their own cluster) and kept = 1 for the
    * cluster representative. The embedding twin of the document chain
    * (`Dedup.nearDupEdges` → components → verdict): same bucketed
    * candidate generation, same O(|E|)-per-round clustering, nothing
    * quadratic — the semantic-dedup pass a training pipeline runs after
    * lexical dedup has collapsed the near-identical text. `bits` is the
    * [[lshCosinePairs]] floor — the effective bucket space derives from
    * the corpus count — and `window` (≥ 1) its within-bucket candidate
    * window.
    */
  def semanticDedup(
      emb: DataFrame, threshold: Double,
      tables: Int = 8, bits: Int = 4, dim: Int = 64,
      window: Int = LshBucketWindow): DataFrame = {
    val edges = lshCosinePairs(emb, threshold, tables, bits, dim, window).select("i", "j")
    val comp = Components.connected(edges).withColumnRenamed("node", "vec_id")
    emb.select(col("vec_id"))
      .join(comp, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("component"), col("vec_id")).as("cluster_id"))
      // bigint (not boolean) so the verdict hashes identically across
      // engines in the oracle compare
      .withColumn("kept", (col("cluster_id") === col("vec_id")).cast("bigint"))
  }
}
