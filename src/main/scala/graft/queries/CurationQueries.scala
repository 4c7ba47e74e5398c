package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.{Curation, Dedup, Prep, Similarity, TextAnalysis}
import graft.sources.Tables

/** q48: the flagship end-to-end curation pass (quality gate → exact
  * dedup → near-dup clusters → verdict per document). The oracle rebuilds
  * the identical pipeline in DuckDB: the q38 quality formula, md5
  * fingerprint groups, the full q27 MinHash-LSH chain restricted to
  * quality-passing exact-keepers, and a recursive-closure rendering of
  * the component step.
  *
  * q64 runs the INCREMENTAL composition (yesterday's corpus edges +
  * delta-touching near-dup work, `Curation.curateIncremental`) over the
  * same corpus split at the q62 delta cut — and is gated against the
  * SAME from-scratch oracle SQL as q48: the hash match IS the
  * incremental-equals-full law, enforced by the driver. Yesterday's
  * edges are derived in the query, from the corpus-only buckets of the
  * one gates-and-bands pass both days share.
  *
  * q66 is the capstone manifest a training run consumes: one row per
  * document joining the lexical verdict (q48), the strict semantic-dedup
  * keeper flag (q59's config), the deterministic split (q56), and the
  * token count — with the final `include` bit. Its oracle composes the
  * same CTE chains in one statement (the semantic chain prefixed `s` to
  * keep the namespace disjoint).
  */
object CurationQueries {

  def queries: Map[String, Q] = Map(
    "q48_corpus_curation" -> ((spark, dir) =>
      Curation.curate(Tables.load(spark, dir, "documents"), minQuality = 0.15)
        .orderBy("doc_id")),

    // the curation funnel report per source — the dashboard a pipeline
    // owner reads after every run (which domains bleed docs, and to
    // which gate); q48's verdicts rolled up with exact-ppm kept rates
    "q105_curation_funnel" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      Curation.curate(docs, minQuality = 0.15)
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("verdict") === "kept", 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("verdict") === "low_quality", 1L).otherwise(0L))
            .as("n_low_quality"),
          sum(when(col("verdict") === "exact_dup", 1L).otherwise(0L))
            .as("n_exact_dup"),
          sum(when(col("verdict") === "near_dup", 1L).otherwise(0L))
            .as("n_near_dup"))
        .withColumn("kept_ppm", expr("(n_kept * 1000000L) div n_docs"))
        .orderBy("source")
    }),

    // PARETO FRONTIER of quality vs token cost: the docs no other doc
    // dominates — every budget's optimal picks in one sweep; the
    // skyline is a bounded-grid window, never the NOT EXISTS self-join
    "q139_pareto_frontier" -> ((spark, dir) =>
      Curation.paretoFrontier(Tables.load(spark, dir, "documents"))
        .orderBy("doc_id")),

    "q64_incremental_curation" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      val nf = deltaCut(docs)
      val corpus = docs.filter(col("doc_id") < nf)
      val delta = docs.filter(col("doc_id") >= nf)
      // yesterday's edges (what its run would have stored) come from the
      // corpus-only buckets of the same gates and band pass
      Curation.curateIncremental(corpus, delta).orderBy("doc_id")
    }),

    // the STORED-ARTIFACT rendering of q64: yesterday's job persisted
    // the keeper near-dup index (Dedup.writeIndex) AND the edge list;
    // today's pass loads both, so the near-dup tier shingles only the
    // delta's keepers. Gated against the same from-scratch oracle —
    // the hash match is the stored ≡ recomputed ≡ full-run law.
    "q71_incremental_curation_indexed" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      val nf = deltaCut(docs)
      val corpus = docs.filter(col("doc_id") < nf)
      val delta = docs.filter(col("doc_id") >= nf)
      val yd = yesterdayDir(spark, dir)
      Curation.curateIncrementalIndexed(corpus, delta,
        spark.read.parquet(s"$yd/edges"), Dedup.loadIndex(spark, yd))
        .orderBy("doc_id")
    }),

    // snapshot-promotion audit: diff two deterministic renderings of the
    // corpus — "previous" lacks the 4% newest-bucket docs and carries a
    // draft suffix on buckets [4,10); "current" drops buckets [96,100) —
    // so every status (added/changed/removed/unchanged) is exercised
    "q74_dataset_diff" -> ((spark, dir) => {
      val withB = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text"),
          (expr(Dedup.h60("concat('snap_', cast(doc_id as string))")) % 100)
            .cast("long").as("_b"))
      val prev = withB.filter(col("_b") >= 4)
        .select(col("doc_id"),
          when(col("_b") < 10, concat(col("text"), lit(" draft")))
            .otherwise(col("text")).as("text"))
      val cur = withB.filter(col("_b") < 96).select("doc_id", "text")
      Curation.snapshotDiff(prev, cur).orderBy("doc_id")
    }),

    // keep the BEST-QUALITY member of each near-dup cluster (vs the
    // storage-stable min-id rule the verdict pipeline uses) — rank by
    // the rounded engine-portable quality, ties to the lower id
    "q91_quality_keeper" -> ((spark, dir) =>
      Curation.qualityKeeper(Tables.load(spark, dir, "documents"))
        .orderBy("doc_id")),

    // the STORED-ARTIFACT rendering of q66 (the q218/q219/q220
    // pattern, predating them): `graft.Pipeline` materializes the
    // whole curation → semantic → split → tokens → manifest chain to
    // parquet (once per sf-dir per JVM, the stored-artifact cache
    // protocol), and the query READS the stored manifest — gated
    // against the SAME oracle as q66, so the hash match is the
    // job-output ≡ direct-composition law, driver-enforced. At 100 TB
    // the training run reads THIS, never the 8-second inline q66
    // composition; its read-path scale decade is measured in
    // bench/scaling_r13_stored.json (flat — a manifest scan)
    "q203_pipeline_manifest" -> ((spark, dir) => {
      val d = cachedIndexDir(pipeCache, dir, "graft_pipeline_") { out =>
        graft.Pipeline.run(spark, dir, out); ()
      }
      spark.read.parquet(s"$d/manifest").orderBy("doc_id")
    }),

    // the per-(source, split) training-token budget read OFF the stored
    // pipeline manifest (q203's artifact, shared per-JVM build) — the
    // rollup a training run consults to size its mixture: docs and
    // whitespace-token mass in total and post-chain (include = kept by
    // curation AND semantic dedup), with the included share in ppm.
    // Gated against the q66 composition oracle wrapped in the rollup,
    // so stored ≡ recomputed holds at BUDGET grain too
    "q213_manifest_budget" -> ((spark, dir) => {
      val d = cachedIndexDir(pipeCache, dir, "graft_pipeline_") { out =>
        graft.Pipeline.run(spark, dir, out); ()
      }
      spark.read.parquet(s"$d/manifest")
        .join(Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("source")), "doc_id")
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("include")).as("n_included"),
          sum(col("ws_tokens")).as("tokens_total"),
          sum(when(col("include") === 1, col("ws_tokens")).otherwise(0L))
            .as("tokens_included"))
        .select(col("source"), col("split"), col("n_docs"), col("n_included"),
          col("tokens_total"), col("tokens_included"),
          when(col("tokens_total") > 0,
            expr("tokens_included * 1000000 div tokens_total"))
            .as("included_ppm"))
        .orderBy("source", "split")
    }),

    // the STORED-ARTIFACT rendering of q105 (VERDICT r11 ask #4): the
    // funnel rollup READS the pipeline job's persisted curation
    // verdicts (the same artifact q203's manifest composes from)
    // instead of re-running the whole quality → exact → near-dup chain
    // inline — at 100 TB the dashboard query runs off yesterday's
    // job output. Gated against q105's from-scratch oracle: the hash
    // match is the stored ≡ recomputed law at funnel grain.
    "q218_curation_funnel_stored" -> ((spark, dir) => {
      val d = cachedIndexDir(pipeCache, dir, "graft_pipeline_") { out =>
        graft.Pipeline.run(spark, dir, out); ()
      }
      spark.read.parquet(s"$d/curation")
        .select("doc_id", "verdict")
        .join(Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("source")), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("verdict") === "kept", 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("verdict") === "low_quality", 1L).otherwise(0L))
            .as("n_low_quality"),
          sum(when(col("verdict") === "exact_dup", 1L).otherwise(0L))
            .as("n_exact_dup"),
          sum(when(col("verdict") === "near_dup", 1L).otherwise(0L))
            .as("n_near_dup"))
        .withColumn("kept_ppm", expr("(n_kept * 1000000L) div n_docs"))
        .orderBy("source")
    }),

    "q66_training_manifest" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      val emb = Tables.load(spark, dir, "embeddings")
      // curation-verdict and semantic-dedup chains are independent until
      // the final join — build concurrently (guide §2.6; r15) so the two
      // component loops' jobs overlap
      val (verd, sem) = graft.operators.Par.both(
        Curation.curate(docs).select("doc_id", "verdict"),
        Similarity
          .semanticDedup(emb, threshold = 0.9, tables = 16, bits = 12, dim = 64)
          .select(col("vec_id").as("doc_id"), col("kept").as("sem_kept")))
      val spl = Prep.split(docs).select("doc_id", "split")
      val tok = TextAnalysis.tokenCounts(docs).select("doc_id", "ws_tokens")
      // docs without an embedding keep sem_kept = 1 (nothing to dedup)
      verd.join(sem, Seq("doc_id"), "left")
        .join(spl, "doc_id")
        .join(tok, "doc_id")
        .select(col("doc_id"), col("verdict"),
          coalesce(col("sem_kept"), lit(1L)).as("sem_kept"),
          col("split"), col("ws_tokens"),
          (col("verdict") === "kept" &&
            coalesce(col("sem_kept"), lit(1L)) === 1)
            .cast("bigint").as("include"))
        .orderBy("doc_id")
    }))

  def oracles: Map[String, String] = Map(
    "q48_corpus_curation" -> FullCurationSql,

    // q48's verdict chain rolled up per source with exact-ppm kept rates
    "q105_curation_funnel" -> FunnelSql,
    // the stored-artifact funnel answers to the same from-scratch
    // oracle — stored ≡ recomputed, driver-enforced
    "q218_curation_funnel_stored" -> FunnelSql,
    "q64_incremental_curation" -> FullCurationSql,
    "q71_incremental_curation_indexed" -> FullCurationSql,
    "q74_dataset_diff" -> DatasetDiffSql,
    "q91_quality_keeper" -> QualityKeeperSql,
    "q66_training_manifest" -> ManifestSql,
    // the stored pipeline manifest answers to the same oracle — the
    // stored ≡ recomputed law at chain grain
    "q203_pipeline_manifest" -> ManifestSql,
    // the manifest statement wrapped as a subquery under the budget
    // rollup — stored ≡ recomputed at budget grain
    "q213_manifest_budget" ->
      s"""SELECT d.source, m.split,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(m.include) AS BIGINT) AS n_included,
         |       CAST(sum(m.ws_tokens) AS BIGINT) AS tokens_total,
         |       CAST(sum(CASE WHEN m.include = 1 THEN m.ws_tokens ELSE 0 END)
         |            AS BIGINT) AS tokens_included,
         |       CASE WHEN sum(m.ws_tokens) > 0
         |            THEN CAST(sum(CASE WHEN m.include = 1 THEN m.ws_tokens
         |                               ELSE 0 END) * 1000000
         |                      // sum(m.ws_tokens) AS BIGINT) END AS included_ppm
         |FROM ($ManifestSql) m JOIN documents d ON m.doc_id = d.doc_id
         |GROUP BY 1, 2
         |ORDER BY 1, 2""".stripMargin,
    "q139_pareto_frontier" -> ParetoFrontierSql)

  /** q91: the canonical edge chain + closure over the RAW corpus (no
    * quality gate — keeper choice needs every member scored, not
    * pre-filtered), then a first-value window by (quality desc nulls
    * last, doc_id).
    */
  private lazy val QualityKeeperSql: String =
    (s"""WITH RECURSIVE ${DedupQueries.ShinglesSql},
       |${DedupQueries.NearDupPairsSql},
       |${DedupQueries.closureSql("pairs")},
       |wq AS (SELECT doc_id,
       |              list_filter(string_split_regex(trim(text), '\\s+'),
       |                          x -> x != '') AS w
       |       FROM documents),
       |qual AS (SELECT doc_id,
       |                ${TextQueries.qualitySql("len(w)", "len(list_distinct(w))")} AS quality
       |         FROM wq),
       |b AS (SELECT q.doc_id, coalesce(c.component, q.doc_id) AS cluster_id,
       |             q.quality
       |      FROM qual q LEFT JOIN comp c ON q.doc_id = c.node)
       |SELECT doc_id, cluster_id, quality,
       |       first_value(doc_id) OVER (PARTITION BY cluster_id
       |         ORDER BY quality DESC NULLS LAST, doc_id
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
       |         AS keeper_id,
       |       CAST(CASE WHEN doc_id = first_value(doc_id) OVER (
       |                    PARTITION BY cluster_id
       |                    ORDER BY quality DESC NULLS LAST, doc_id
       |                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
       |                 THEN 1 ELSE 0 END AS BIGINT) AS kept
       |FROM b
       |ORDER BY doc_id""".stripMargin)

  /** q74: the same deterministic two-snapshot derivation as the Spark
    * side (md5 bucket of 'snap_doc_id' mod 100 picks the added /
    * changed / removed slices), then a full-outer hash diff.
    */
  private lazy val DatasetDiffSql: String =
    """WITH b AS (
      |  SELECT doc_id, text,
      |         CAST('0x' || substr(md5('snap_' || CAST(doc_id AS VARCHAR)), 1, 15)
      |              AS BIGINT) % 100 AS bkt
      |  FROM documents),
      |o AS (SELECT doc_id,
      |             md5(coalesce(CASE WHEN bkt < 10 THEN text || ' draft'
      |                               ELSE text END, '')) AS old_hash
      |      FROM b WHERE bkt >= 4),
      |n AS (SELECT doc_id, md5(coalesce(text, '')) AS new_hash
      |      FROM b WHERE bkt < 96)
      |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, o.old_hash, n.new_hash,
      |       CASE WHEN o.old_hash IS NULL THEN 'added'
      |            WHEN n.new_hash IS NULL THEN 'removed'
      |            WHEN o.old_hash <> n.new_hash THEN 'changed'
      |            ELSE 'unchanged' END AS status
      |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
      |ORDER BY doc_id""".stripMargin

  /** "Yesterday's job" for q71, once per sf-dir per JVM: persist the
    * below-the-cut corpus keepers' near-dup index and edge list to a
    * temp dir. Artifact content is a pure function of the input, so
    * cross-rerun reuse cannot change any result — reruns time the
    * ingest pass, which is the production daily shape.
    */
  private val pipeCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val curIdxCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def yesterdayDir(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    cachedIndexDir(curIdxCache, dir, "graft_cur_idx_") { d =>
      val docs = Tables.load(spark, dir, "documents")
      val kept = Curation.exactKeepers(docs.filter(col("doc_id") < deltaCut(docs)))
      Dedup.writeIndex(kept, d)
      Dedup.nearDupEdges(kept).write.mode("overwrite").parquet(s"$d/edges")
    }

  /** The q48 CTE chain — quality gate, exact-keeper tags, the canonical
    * near-dup pipeline over keepers, recursive components — WITHOUT the
    * `WITH RECURSIVE` header or a final SELECT, so q66 can extend the
    * namespace.
    */
  private lazy val CurationChainCtes: String =
      (s"""wsq AS (SELECT doc_id, text,
        |               list_filter(string_split_regex(trim(text), '\\s+'),
        |                           x -> x != '') AS w
        |        FROM documents),
        |q AS (SELECT doc_id, text,
        |             ${TextQueries.qualitySql("len(w)", "len(list_distinct(w))")} AS quality
        |      FROM wsq),
        |passed AS (SELECT doc_id, text, md5(text) AS fp, quality
        |           FROM q WHERE quality >= 0.15),
        |keep1 AS (SELECT fp, min(doc_id) AS exact_keep FROM passed GROUP BY fp),
        |exact_tag AS (SELECT p.doc_id, p.text, k.exact_keep
        |              FROM passed p JOIN keep1 k USING (fp)),
        |ek AS (SELECT doc_id, text FROM exact_tag WHERE doc_id = exact_keep),
        |""".stripMargin +
      DedupQueries.shinglesSql("ek") + ",\n" +
      DedupQueries.NearDupPairsSql + ",\n" +
      DedupQueries.closureSql("pairs"))

  /** The per-doc verdict projection over [[CurationChainCtes]] (no
    * ORDER BY — q48/q64 append one; q66 wraps it as a CTE).
    */
  private lazy val VerdictSelect: String =
      """SELECT d.doc_id, d.quality,
        |       CASE WHEN d.quality IS NULL OR d.quality < 0.15 THEN 'low_quality'
        |            WHEN et.exact_keep IS NOT NULL AND d.doc_id <> et.exact_keep
        |              THEN 'exact_dup'
        |            WHEN c.component IS NOT NULL AND c.component <> d.doc_id
        |              THEN 'near_dup'
        |            ELSE 'kept' END AS verdict,
        |       CASE WHEN d.quality IS NULL OR d.quality < 0.15 THEN NULL
        |            WHEN et.exact_keep IS NOT NULL AND d.doc_id <> et.exact_keep
        |              THEN et.exact_keep
        |            WHEN c.component IS NOT NULL AND c.component <> d.doc_id
        |              THEN c.component
        |            ELSE NULL END AS ref_id
        |FROM q d
        |LEFT JOIN exact_tag et ON d.doc_id = et.doc_id
        |LEFT JOIN comp c ON d.doc_id = c.node""".stripMargin

  private lazy val FullCurationSql: String =
    s"WITH RECURSIVE\n$CurationChainCtes\n$VerdictSelect\nORDER BY d.doc_id"

  /** q105/q218: the verdict chain rolled up per source with exact-ppm
    * kept rates — ONE oracle rendering for the inline composition and
    * the stored-artifact read so the two gates cannot drift.
    */
  private lazy val FunnelSql: String =
    s"WITH RECURSIVE\n$CurationChainCtes,\n" +
      s"m AS (\n$VerdictSelect)\n" +
      """SELECT dd.source,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN m.verdict = 'kept' THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_kept,
        |       CAST(sum(CASE WHEN m.verdict = 'low_quality' THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_low_quality,
        |       CAST(sum(CASE WHEN m.verdict = 'exact_dup' THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_exact_dup,
        |       CAST(sum(CASE WHEN m.verdict = 'near_dup' THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_near_dup,
        |       (CAST(sum(CASE WHEN m.verdict = 'kept' THEN 1 ELSE 0 END)
        |             AS BIGINT) * 1000000) // CAST(count(*) AS BIGINT)
        |         AS kept_ppm
        |FROM m JOIN documents dd ON m.doc_id = dd.doc_id
        |GROUP BY dd.source
        |ORDER BY dd.source""".stripMargin

  /** q66: the curation chain + the strict semantic chain (prefixed `s`,
    * q59's 16×12 config at cos ≥ 0.9) + the q56 split buckets + token
    * counts, joined into the final one-row-per-doc training manifest.
    */
  private lazy val ManifestSql: String =
    (s"WITH RECURSIVE\n$CurationChainCtes,\n" +
      s"verd AS (\n$VerdictSelect),\n" +
      SimilarityQueries.VecSql + ",\n" +
      SimilarityQueries.lshCandSql(16, 12, "s") + ",\n" +
      s"""spairs AS (
        |  SELECT i, j FROM (
        |    SELECT i, j, ${SimilarityQueries.cosSql("a.e", "b.e")} AS cos
        |    FROM scand JOIN v a ON i = a.vec_id JOIN v b ON j = b.vec_id) t
        |  WHERE cos >= 0.9),
        |${DedupQueries.closureSql("spairs", "s")},
        |skept AS (SELECT emb.vec_id AS doc_id,
        |                 CAST(CASE WHEN coalesce(sc.component, emb.vec_id) = emb.vec_id
        |                           THEN 1 ELSE 0 END AS BIGINT) AS sem_kept
        |          FROM embeddings emb LEFT JOIN scomp sc ON emb.vec_id = sc.node),
        |${PrepQueries.SplitCteSql},
        |tok AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS ws_tokens FROM wsq)
        |SELECT m.doc_id, m.verdict,
        |       coalesce(k.sem_kept, 1) AS sem_kept,
        |       spl.split, tok.ws_tokens,
        |       CAST(CASE WHEN m.verdict = 'kept' AND coalesce(k.sem_kept, 1) = 1
        |                 THEN 1 ELSE 0 END AS BIGINT) AS include
        |FROM verd m
        |LEFT JOIN skept k ON m.doc_id = k.doc_id
        |JOIN spl ON m.doc_id = spl.doc_id
        |JOIN tok ON m.doc_id = tok.doc_id
        |ORDER BY m.doc_id""".stripMargin)

  /** q139: the same sort-and-sweep — min tokens per quality cell, one
    * descending RANGE window (1 PRECEDING under DESC = strictly higher
    * quality), docs join back on surviving cells.
    */
  private lazy val ParetoFrontierSql: String =
      s"""WITH wq AS (SELECT doc_id,
         |              list_filter(string_split_regex(trim(text), '\\s+'),
         |                          x -> x != '') AS w
         |            FROM documents),
         |scored AS (
         |  SELECT doc_id,
         |         CAST(round(q.quality * 10000) AS BIGINT) AS qs,
         |         CAST(len(w) AS BIGINT) AS tokens
         |  FROM (SELECT doc_id, w,
         |          ${TextQueries.qualitySql("len(w)", "len(list_distinct(w))")} AS quality
         |        FROM wq) q
         |  WHERE q.quality IS NOT NULL),
         |qsmin AS (SELECT qs, min(tokens) AS tokens FROM scored GROUP BY qs),
         |sweep AS (
         |  SELECT qs, tokens,
         |         min(tokens) OVER (ORDER BY qs DESC
         |           RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |           AS best_above
         |  FROM qsmin),
         |cells AS (SELECT qs, tokens FROM sweep
         |          WHERE best_above IS NULL OR tokens < best_above)
         |SELECT s.doc_id, s.qs, s.tokens
         |FROM scored s JOIN cells USING (qs, tokens)
         |ORDER BY s.doc_id""".stripMargin
}
