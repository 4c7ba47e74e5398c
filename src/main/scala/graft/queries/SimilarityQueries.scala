package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.sources.Tables

/** Oracle-gated similarity-search queries over `embeddings`.
  *
  * Data note (sf0.01): pairwise cosines top out ≈ 0.51 (no planted
  * embedding near-dups), so thresholds are sized to the data: 0.4 keeps
  * 59 pairs, 0.3 keeps a handful of neighbors per query vector.
  *
  * Tier split (see the [[graft.operators.Similarity]] doc for the
  * measured recall/cost tradeoff): q30 gates the exact pair tier —
  * ground truth, quadratic by definition, fast via the codegen'd
  * dot-product kernel; q33 gates the sign-LSH approximate tier, whose
  * md5-deterministic bucketing DuckDB reproduces exactly. Its output is
  * a subset of q30's by construction (bucketed candidates, exact
  * verification); recall at this weak threshold is ~0.4 and documented —
  * the near-dup regime where LSH actually prunes is property-tested in
  * DedupSpec with planted duplicates.
  */
object SimilarityQueries {

  /** DuckDB-side exact cosine between two list<double> columns (1-based
    * index). Spark computes the same fold via zip_with + aggregate.
    */
  private[queries] def cosSql(a: String, b: String): String =
    s"""list_sum(list_transform(generate_series(1, len($a)), k -> $a[k] * $b[k]))
       | / (sqrt(list_sum(list_transform($a, x -> x * x)))
       |    * sqrt(list_sum(list_transform($b, x -> x * x))))""".stripMargin

  private[queries] val VecSql =
    """v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |      FROM embeddings)""".stripMargin

  /** Sign-LSH bucketing + same-bucket candidates, reproduced bit-for-bit
    * for the given (tables, bits-floor) at dim=64: hyperplane (t, p, d) =
    * md5-derived 60-bit int centered into [-1, 1] (the same h60
    * derivation as the minhash oracle), projections summed in list
    * order, bucket = packed sign bits, candidates = same-(t, bucket)
    * pairs. The effective bit count derives from the oracle's OWN
    * count(*) over `v` by the exact integer rule of
    * `Similarity.derivedBits` (smallest b ≥ floor with 2^b × occupancy
    * target ≥ n — the q45 pattern, where the IVF stride is recomputed
    * from the oracle's count), so the check stays honest at any SF.
    * The UNION ALL 30 row mirrors the engine's `.getOrElse(30)` cap:
    * past n = 2^30 × occupancy both sides settle on 30 bits instead of
    * the oracle silently yielding an empty plane set.
    * Shared by q33/q54 (16 tables × floor 8) and q59 (16 × floor 12) so
    * the bucketing definition cannot drift between them. `p` prefixes
    * the CTE names for composition into oracles whose namespace is
    * already taken (q66 embeds this next to the q48 curation chain).
    */
  private[queries] def lshCandSql(tables: Int, bits: Int, p: String = ""): String =
    s"""${p}nb AS (
      |  SELECT b FROM (
      |    SELECT b FROM (SELECT unnest(generate_series($bits, 30)) AS b)
      |    WHERE (1::BIGINT << b) * ${Similarity.LshTargetOccupancy}
      |          >= (SELECT count(*) FROM v)
      |    UNION ALL SELECT 30 AS b)
      |  ORDER BY b LIMIT 1),
      |${p}planes AS (
      |  SELECT t.t, p.p,
      |         list_transform(generate_series(1, 64), k ->
      |           (CAST('0x' || substr(md5(t.t || '_' || p.p || '_' || (k - 1)), 1, 15) AS BIGINT)
      |            % 2001 - 1000) / 1000.0) AS pr
      |  FROM (SELECT unnest(generate_series(0, ${tables - 1})) AS t) t,
      |       (SELECT unnest(generate_series(0, (SELECT b FROM ${p}nb) - 1)) AS p) p),
      |${p}proj AS (
      |  SELECT vec_id, t, p,
      |         list_sum(list_transform(generate_series(1, 64), k -> e[k] * pr[k])) AS proj
      |  FROM v CROSS JOIN ${p}planes),
      |${p}buckets AS (
      |  SELECT vec_id, t, sum(CASE WHEN proj > 0 THEN 1::BIGINT << p ELSE 0 END) AS bucket,
      |         row_number() OVER (PARTITION BY t,
      |           sum(CASE WHEN proj > 0 THEN 1::BIGINT << p ELSE 0 END)
      |           ORDER BY CAST('0x' || substr(md5('lshw_' || t || '_' || vec_id), 1, 15)
      |                    AS BIGINT), vec_id) AS rn
      |  FROM ${p}proj GROUP BY vec_id, t),
      |${p}cand AS (
      |  SELECT DISTINCT LEAST(a.vec_id, b.vec_id) AS i,
      |         GREATEST(a.vec_id, b.vec_id) AS j
      |  FROM ${p}buckets a JOIN ${p}buckets b
      |    ON a.t = b.t AND a.bucket = b.bucket
      |   AND b.rn - a.rn BETWEEN 1 AND ${Similarity.LshBucketWindow})""".stripMargin

  private val LshCandSql: String = lshCandSql(16, 8)

  /** The IVF assign → probe → exact-score → rank tail over a centroid
    * relation — shared VERBATIM by q45 (sampled seed) and q61 (trained
    * cents2) so probe semantics and tie-breaks cannot drift between the
    * two index tiers. Queries are the vec_id < 10 set, k = 5, nProbe = 3.
    */
  private def ivfSearchSql(centsRel: String): String =
    s"""assigned AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT t.vec_id, t.cid,
       |           row_number() OVER (PARTITION BY t.vec_id
       |             ORDER BY t.ccos DESC, t.cid) AS rn
       |    FROM (SELECT v.vec_id, c.cid,
       |                 round(${cosSql("v.e", "c.ce")}, 6) AS ccos
       |          FROM v CROSS JOIN $centsRel c) t)
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT query_id, cid AS cell FROM (
       |    SELECT t.query_id, t.cid,
       |           row_number() OVER (PARTITION BY t.query_id
       |             ORDER BY t.qcos DESC, t.cid) AS rn
       |    FROM (SELECT q.vec_id AS query_id, c.cid,
       |                 round(${cosSql("q.e", "c.ce")}, 6) AS qcos
       |          FROM v q CROSS JOIN $centsRel c WHERE q.vec_id < 10) t)
       |  WHERE rn <= 3),
       |scored AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |         ${cosSql("q.e", "a.e")} AS cos
       |  FROM probes p
       |  JOIN assigned av ON p.cell = av.cell
       |  JOIN v a ON av.vec_id = a.vec_id
       |  JOIN v q ON p.query_id = q.vec_id
       |  WHERE p.query_id <> a.vec_id),
       |ranked AS (SELECT query_id, neighbor_id, cos,
       |                  row_number() OVER (PARTITION BY query_id
       |                    ORDER BY round(cos, 6) DESC, neighbor_id) AS rank
       |           FROM scored)
       |SELECT query_id, neighbor_id, round(cos, 4) AS cos, rank
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** One Lloyd round in DuckDB (mirrors `Similarity.ivfTrainedIndex`):
    * assign every vector to its nearest centroid from `prev` (rounded-cos
    * desc, cid asc), then the element-wise EXACT-INTEGER mean per cell —
    * micro-unit long sums divided back and rounded to 6 dp, the same
    * order-independent arithmetic the Spark side uses, so trained
    * centroids match bit-for-bit.
    */
  /** Nearest-centroid assignment of every vector against `prev`
    * (rounded-cos desc, cid asc) as CTE `asg$n` — the Spark side's
    * `max_by(cid, struct(ccos, -cid))`. Factored out of [[kmRoundSql]]
    * so q79's balance pass reuses the EXACT assignment definition.
    */
  private def asgSql(n: Int, prev: String, vrel: String = "v"): String =
    s"""asg$n AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT t.vec_id, t.cid,
       |           row_number() OVER (PARTITION BY t.vec_id
       |             ORDER BY t.ccos DESC, t.cid) AS rn
       |    FROM (SELECT v.vec_id, c.cid,
       |                 round(${cosSql("v.e", "c.ce")}, 6) AS ccos
       |          FROM $vrel v CROSS JOIN $prev c) t)
       |  WHERE rn = 1)""".stripMargin

  private def kmRoundSql(n: Int, prev: String): String =
    s"""${asgSql(n, prev)},
       |agg$n AS (
       |  SELECT a.cell, t.k, sum(q.qv[t.k]) AS s, count(*) AS cnt
       |  FROM asg$n a JOIN qv q USING (vec_id),
       |       UNNEST(generate_series(1, len(q.qv))) AS t(k)
       |  GROUP BY a.cell, t.k),
       |cents$n AS (
       |  SELECT cell AS cid,
       |         list_transform(list(s ORDER BY k), x ->
       |           round(CAST(x AS DOUBLE) / (1000000.0 * cnt), 6)) AS ce
       |  FROM agg$n GROUP BY cell, cnt)""".stripMargin

  /** q61/q72: 2 Lloyd rounds from the sampled seed, then the shared IVF
    * probe/search tail.
    */
  /** The shared training prefix (exact-integer corpus view, sampled
    * seed, 2 Lloyd rounds → `cents2`) — used verbatim by q61/q72's
    * search tail AND q79's balance pass, so the trained centroids are
    * one definition.
    */
  /** The training CTEs WITHOUT the `v` definition (exact-integer view,
    * sampled seed, 2 Lloyd rounds → `cents2`) — q87 redefines `v` as the
    * corpus slice and reuses this verbatim, so "trained on the corpus"
    * is one definition whether the corpus is the whole table or a cut.
    */
  private lazy val TrainedTailSql: String =
    s"""qv AS (SELECT vec_id,
       |              list_transform(e, x -> CAST(round(x * 1000000.0) AS BIGINT)) AS qv
       |       FROM v),
       |cents0 AS (SELECT vec_id AS cid, e AS ce FROM v
       |           WHERE vec_id % (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM v) = 0),
       |${kmRoundSql(1, "cents0")},
       |${kmRoundSql(2, "cents1")}""".stripMargin

  private lazy val TrainedPrefixSql: String =
    s"""$VecSql,
       |$TrainedTailSql""".stripMargin

  private lazy val TrainedIvfSql: String =
    s"""WITH $TrainedPrefixSql,
       |${ivfSearchSql("cents2")}""".stripMargin

  def queries: Map[String, Q] = Map(
    "q30_embedding_pairs" -> ((spark, dir) =>
      Similarity.cosinePairs(Tables.load(spark, dir, "embeddings"), threshold = 0.4)
        .orderBy("i", "j")),

    // embedding-table health audit: per label, vector count, dimension
    // range (ragged dims are the bug this catches), zero-norm count,
    // and the norm envelope — per-row norms via the codegen'd
    // graft_array_dot rounded to 1e-4 INTEGERS before any cross-row
    // aggregation, so no float sum ever depends on row order
    "q134_embedding_audit" -> ((spark, dir) =>
      Tables.load(spark, dir, "embeddings")
        .select(col("label"),
          size(col("embedding")).cast("long").as("dim"),
          expr("cast(round(sqrt(graft_array_dot(embedding, embedding)) " +
            "* 10000) as bigint)").as("norm_e4"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          min(col("dim")).as("dim_min"), max(col("dim")).as("dim_max"),
          sum(when(col("norm_e4") === 0L, 1L).otherwise(0L)).cast("long")
            .as("n_zero"),
          min(col("norm_e4")).as("min_norm_e4"),
          max(col("norm_e4")).as("max_norm_e4"),
          expr("sum(norm_e4) div count(1)").as("avg_norm_e4"))
        .orderBy("label")),

    // label-coherence audit: per vector, cosine to its OWN label's
    // exact-integer mean centroid vs the best OTHER label's — the
    // label-error / cluster-separation screen beside q134's norms
    "q170_label_coherence" -> ((spark, dir) =>
      Similarity.labelCoherence(Tables.load(spark, dir, "embeddings"))
        .orderBy("vec_id")),

    // leave-one-out exact 1-NN label agreement per label — the
    // embedding-quality metric's ground-truth tier (O(n²) by contract,
    // like q30/q32; calibrates the bucketed tiers, sampled at scale)
    "q171_knn_agreement" -> ((spark, dir) =>
      Similarity.knnLabelAgreement(Tables.load(spark, dir, "embeddings"))
        .orderBy("label")),

    // embedding-space snapshot drift: per label, yesterday-vs-delta
    // centroid cosine (exact-integer centroid sums, the q170
    // arithmetic) — the encoder/source-mix shift screen beside q100's
    // token-level vocab drift; label-grain output, two scans, no
    // vector-grain join
    // the SAMPLED rendering of q171 — the posture the ground-truth
    // quadratic actually runs in at corpus scale: a deterministic
    // hash-bucket sample (q56 contract, membership stable under corpus
    // growth) at 500000 ppm, exact leave-one-out 1-NN within it; the
    // agreement law vs the full q171 is spec-pinned in DedupSpec
    "q208_knn_agreement_sampled" -> ((spark, dir) =>
      Similarity.knnLabelAgreementSampled(
          Tables.load(spark, dir, "embeddings"), ppm = 500000L)
        .orderBy("label")),

    "q206_centroid_drift" -> ((spark, dir) => {
      val emb = Tables.load(spark, dir, "embeddings")
      Similarity.centroidDrift(emb, deltaCut(emb, "vec_id")).orderBy("label")
    }),

    "q31_ann_neighbors" -> ((spark, dir) => {
      val emb = Tables.load(spark, dir, "embeddings")
      Similarity.cosineNeighbors(emb, emb.filter(col("vec_id") < 10), threshold = 0.3)
        .orderBy("query_id", "neighbor_id")
    }),

    "q32_ann_topk" -> ((spark, dir) => {
      val emb = Tables.load(spark, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
        .orderBy("query_id", "rank")
    }),

    "q33_ann_lsh_pairs" -> ((spark, dir) =>
      Similarity.lshCosinePairs(Tables.load(spark, dir, "embeddings"),
          threshold = 0.4, tables = 16, bits = 8, dim = 64)
        .orderBy("i", "j")),

    "q45_ann_ivf" -> ((spark, dir) => {
      val emb = Tables.load(spark, dir, "embeddings")
      // centroid stride derived (⌈√n⌉) — the oracle recomputes it from
      // its own count(*) so the check stays honest at any SF
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), k = 5, nProbe = 3)
        .orderBy("query_id", "rank")
    }),

    "q54_semantic_dedup" -> ((spark, dir) =>
      Similarity.semanticDedup(Tables.load(spark, dir, "embeddings"),
          threshold = 0.4, tables = 16, bits = 8, dim = 64)
        .orderBy("vec_id")),

    // The regime SemDeDup actually runs in: cos >= 0.9 (near-duplicate
    // embeddings). 12-bit buckets, 16 tables — at cos 0.9 the per-plane
    // agreement is >= 1 - acos(0.9)/pi ~ 0.856, so per-table match prob
    // ~ 0.856^12 ~ 0.15 and 16 tables give recall ~ 1 - 0.85^16 ~ 0.93
    // (property-tested >= 0.9 on planted dups in DedupSpec), while
    // uncorrelated pairs collide at ~16/2^12 ~ 0.4% of the pair space
    // (CI-gated in DedupSpec). q54@0.4 stays as the documented
    // weak-threshold variant.
    "q59_semantic_dedup_strict" -> ((spark, dir) =>
      Similarity.semanticDedup(Tables.load(spark, dir, "embeddings"),
          threshold = 0.9, tables = 16, bits = 12, dim = 64)
        .orderBy("vec_id")),

    // asc_nulls_last pins the engine-independent order (Spark default is
    // NULLS FIRST, DuckDB's is NULLS LAST — the q22/q50 convention)
    "q65_quantize_audit" -> ((spark, dir) =>
      Similarity.int8QuantAudit(Tables.load(spark, dir, "embeddings"))
        .orderBy(col("label").asc_nulls_last)),

    // the trained-index tier: 2 Lloyd rounds on the q45 seed, then the
    // same probe/search contract — build is eager (index job), search
    // amortizes it
    "q61_ann_ivf_trained" -> ((spark, dir) => {
      val emb = Tables.load(spark, dir, "embeddings")
      Similarity.ivfSearch(
        Similarity.ivfTrainedIndex(emb, iters = 2),
        emb.filter(col("vec_id") < 10), k = 5, nProbe = 3)
        .orderBy("query_id", "rank")
    }),

    // the STORED-INDEX rendering of q61: the trained index is persisted
    // once per sf-dir ("the index build job") and each run loads +
    // searches it — gated against q61's oracle, so stored ≡ rebuilt at
    // hash level; q61 vs q72 in the bench record is the search-job cost
    // with the build amortized away
    "q72_ann_ivf_stored" -> ((spark, dir) => {
      val emb = Tables.load(spark, dir, "embeddings")
      val idx = Similarity.loadIvfIndex(spark, ivfIndexDir(spark, dir))
      Similarity.ivfSearch(idx, emb.filter(col("vec_id") < 10), k = 5, nProbe = 3)
        .orderBy("query_id", "rank")
    }),

    // cluster-balanced diversity subsample: per trained-IVF cell, flag
    // the `quota` hash-first members — caps any one embedding cluster's
    // mass in the mix (semantic dedup removes NEAR-duplicates; this
    // bounds redundant-but-distinct clusters)
    "q79_cluster_balance" -> ((spark, dir) =>
      Similarity.clusterBalancedSample(
        Similarity.ivfTrainedIndex(
          Tables.load(spark, dir, "embeddings"), iters = 2),
        quota = 10L)
        .orderBy("vec_id")),

    // embedding-ingest rendering: the newest ~20% of vectors arrive as a
    // delta against a STORED index trained on the rest; the appended
    // assignment must hash-match a from-scratch assignment of the whole
    // table against the same corpus-trained centroids (assignment is
    // per-row deterministic, so append ≡ full — the q70 law on the
    // embedding side)
    "q87_ivf_append" -> ((spark, dir) => {
      val emb = Tables.load(spark, dir, "embeddings")
      val cut = deltaCut(emb, "vec_id")
      val idx = Similarity.loadIvfIndex(spark, corpusIvfDir(spark, dir))
      Similarity.ivfAppend(idx, emb.filter(col("vec_id") >= cut))
        .assigned.select(col("vec_id"), col("cell"))
        .orderBy("vec_id")
    }),

    // the quantized memory tier searched directly: top-k by quantized
    // cosine (exact integer dot/norms, one double division) over the
    // int8 corpus — q32's contract at 1/4 the scan bytes
    "q88_int8_topk" -> ((spark, dir) => {
      val emb = Tables.load(spark, dir, "embeddings")
      Similarity.int8TopK(emb, emb.filter(col("vec_id") < 10), k = 5)
        .orderBy("query_id", "rank")
    }))

  /** "Yesterday's index build job" for q72, once per sf-dir per JVM. */
  private val ivfIdxCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def ivfIndexDir(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    cachedIndexDir(ivfIdxCache, dir, "graft_ivf_idx_") { d =>
      Similarity.writeIvfIndex(
        Similarity.ivfTrainedIndex(Tables.load(spark, dir, "embeddings"), iters = 2), d)
    }

  /** q87's stored index: trained on the below-the-cut corpus slice only
    * (yesterday's vectors), once per sf-dir per JVM — the artifact the
    * delta ingest appends to.
    */
  private val corpusIvfCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def corpusIvfDir(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    cachedIndexDir(corpusIvfCache, dir, "graft_ivf_corpus_") { d =>
      val emb = Tables.load(spark, dir, "embeddings")
      Similarity.writeIvfIndex(
        Similarity.ivfTrainedIndex(
          emb.filter(col("vec_id") < deltaCut(emb, "vec_id")), iters = 2), d)
    }

  def oracles: Map[String, String] = Map(
    // same double-cast element order, same per-row e4 rounding before
    // any cross-row fold — integer aggregation is order-free
    "q134_embedding_audit" ->
      s"""WITH ve AS (SELECT label,
         |              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |            FROM embeddings),
         |nrm AS (SELECT label, CAST(len(e) AS BIGINT) AS dim,
         |          CAST(round(sqrt(coalesce(
         |              list_sum(list_transform(e, x -> x * x)), 0.0))
         |            * 10000) AS BIGINT) AS norm_e4
         |        FROM ve)
         |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
         |       min(dim) AS dim_min, max(dim) AS dim_max,
         |       CAST(sum(CASE WHEN norm_e4 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_zero,
         |       min(norm_e4) AS min_norm_e4, max(norm_e4) AS max_norm_e4,
         |       CAST(sum(norm_e4) AS BIGINT) // CAST(count(*) AS BIGINT)
         |         AS avg_norm_e4
         |FROM nrm GROUP BY label
         |ORDER BY label""".stripMargin,

    "q30_embedding_pairs" ->
      s"""WITH $VecSql
         |SELECT a.vec_id AS i, b.vec_id AS j,
         |       round(${cosSql("a.e", "b.e")}, 4) AS cos
         |FROM v a JOIN v b ON a.vec_id < b.vec_id
         |WHERE ${cosSql("a.e", "b.e")} >= 0.4
         |ORDER BY i, j""".stripMargin,

    "q31_ann_neighbors" ->
      s"""WITH $VecSql
         |SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |       round(${cosSql("q.e", "c.e")}, 4) AS cos
         |FROM v q JOIN v c ON q.vec_id <> c.vec_id
         |WHERE q.vec_id < 10 AND ${cosSql("q.e", "c.e")} >= 0.3
         |ORDER BY query_id, neighbor_id""".stripMargin,

    "q32_ann_topk" ->
      s"""WITH $VecSql,
         |scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |                  ${cosSql("q.e", "c.e")} AS cos
         |           FROM v q JOIN v c ON q.vec_id <> c.vec_id
         |           WHERE q.vec_id < 10),
         |ranked AS (SELECT query_id, neighbor_id, cos,
         |                  row_number() OVER (PARTITION BY query_id
         |                    ORDER BY round(cos, 6) DESC, neighbor_id) AS rank
         |           FROM scored)
         |SELECT query_id, neighbor_id, round(cos, 4) AS cos, rank
         |FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,

    "q33_ann_lsh_pairs" ->
      s"""WITH $VecSql,
         |$LshCandSql
         |SELECT i, j, round(cos, 4) AS cos FROM (
         |  SELECT i, j, ${cosSql("a.e", "b.e")} AS cos
         |  FROM cand JOIN v a ON i = a.vec_id JOIN v b ON j = b.vec_id) t
         |WHERE cos >= 0.4
         |ORDER BY i, j""".stripMargin,

    // IVF: centroids = vec_id % ceil(sqrt(n)) == 0 (the engine's derived
    // stride, recomputed here from the corpus count); every vector
    // assigned to its nearest centroid (rounded-cos desc, cid asc — the
    // same argmax the Spark side takes); queries probe their 3 nearest
    // cells; exact top-5 within probed cells only.
    "q45_ann_ivf" ->
      s"""WITH $VecSql,
         |cents AS (SELECT vec_id AS cid, e AS ce FROM v
         |          WHERE vec_id % (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM v) = 0),
         |${ivfSearchSql("cents")}""".stripMargin,

    // Semantic dedup: q33's verified edges, min-reachable-id clusters via
    // the recursive closure (oracle scale — the engine runs iterative
    // min-label propagation), keep verdict = cluster representative.
    "q54_semantic_dedup" ->
      s"""WITH RECURSIVE $VecSql,
         |$LshCandSql,
         |pairs AS (
         |  SELECT i, j FROM (
         |    SELECT i, j, ${cosSql("a.e", "b.e")} AS cos
         |    FROM cand JOIN v a ON i = a.vec_id JOIN v b ON j = b.vec_id) t
         |  WHERE cos >= 0.4),
         |${DedupQueries.closureSql("pairs")}
         |SELECT emb.vec_id,
         |       coalesce(c.component, emb.vec_id) AS cluster_id,
         |       CAST(CASE WHEN coalesce(c.component, emb.vec_id) = emb.vec_id
         |                 THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM embeddings emb LEFT JOIN comp c ON emb.vec_id = c.node
         |ORDER BY vec_id""".stripMargin,

    // int8 quantization audit: q mirrors the engine's tinyint cast as a
    // round() double (identical values in [-127, 127]); every error is
    // an exact micro-unit long so sums/maxes are order-independent
    "q65_quantize_audit" ->
      s"""WITH $VecSql,
         |s AS (SELECT v.vec_id, emb.label, v.e,
         |             list_max(list_transform(v.e, x -> abs(x))) AS scale
         |      FROM v JOIN embeddings emb ON v.vec_id = emb.vec_id),
         |qz AS (SELECT vec_id, label, e, scale,
         |              list_transform(e, x -> CASE WHEN scale = 0 THEN 0.0
         |                ELSE round((x / scale) * 127.0) END) AS q
         |       FROM s),
         |er AS (SELECT vec_id, label, scale,
         |              list_transform(generate_series(1, len(e)), k ->
         |                abs(CAST(round(e[k] * 1000000.0) AS BIGINT) -
         |                    CAST(round(((q[k] * scale) / 127.0) * 1000000.0) AS BIGINT))) AS errs
         |       FROM qz),
         |per AS (SELECT vec_id, label, scale,
         |               list_sum(errs) AS sum_err, list_max(errs) AS max_err,
         |               len(errs) AS n
         |        FROM er)
         |SELECT label, count(*) AS n_vecs,
         |       CAST(max(max_err) AS BIGINT) AS max_err_micro,
         |       round(CAST(sum(sum_err) AS DOUBLE) / sum(n), 4) AS avg_err_micro,
         |       round(max(scale), 6) AS max_scale
         |FROM per GROUP BY label
         |ORDER BY label""".stripMargin,

    // same exact-integer centroid arithmetic as the trained-IVF CTEs
    // (micro-long coordinate sums, divided back once at 6 dp), scores
    // ranked on the 6 dp rounding with label-asc ties
    "q170_label_coherence" ->
      s"""WITH v AS (SELECT vec_id, label,
         |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |           FROM embeddings WHERE label IS NOT NULL),
         |qv AS (SELECT vec_id, label,
         |         list_transform(e, x -> CAST(round(x * 1000000.0) AS BIGINT))
         |           AS qv
         |       FROM v),
         |agg AS (SELECT label, t.k, sum(q.qv[t.k]) AS s, count(*) AS cnt
         |        FROM qv q, UNNEST(generate_series(1, len(q.qv))) AS t(k)
         |        GROUP BY label, t.k),
         |cents AS (SELECT label AS clabel,
         |            list_transform(list(s ORDER BY k), x ->
         |              round(CAST(x AS DOUBLE) / (1000000.0 * cnt), 6)) AS ce
         |          FROM agg GROUP BY label, cnt),
         |sc AS (SELECT vec_id, label, clabel, craw,
         |         round(craw, 6) AS ccos
         |       FROM (SELECT v.vec_id, v.label, c.clabel,
         |               ${cosSql("v.e", "c.ce")} AS craw
         |             FROM v CROSS JOIN cents c)),
         |own AS (SELECT vec_id, label, ccos AS own6, craw AS own_raw
         |        FROM sc WHERE label = clabel),
         |oth AS (SELECT vec_id, clabel AS best_other_label, oth6, oth_raw
         |        FROM (SELECT vec_id, clabel, ccos AS oth6, craw AS oth_raw,
         |                row_number() OVER (PARTITION BY vec_id
         |                  ORDER BY ccos DESC NULLS LAST, clabel) AS rn
         |              FROM sc WHERE label <> clabel)
         |        WHERE rn = 1)
         |SELECT o.vec_id, o.label, round(o.own_raw, 4) AS own_cos,
         |       t.best_other_label, round(t.oth_raw, 4) AS best_other_cos,
         |       CAST(CASE WHEN o.own6 > t.oth6 THEN 1 ELSE 0 END AS BIGINT)
         |         AS separated
         |FROM own o LEFT JOIN oth t ON o.vec_id = t.vec_id
         |ORDER BY o.vec_id""".stripMargin,

    // per-label yesterday-vs-delta centroid cosine, the q170 centroid
    // arithmetic on each slice (micro-long sums, divided back at 6 dp);
    // the cut recomputed from the oracle's own max(vec_id); one-sided
    // labels keep NULL cosine with the counts saying which side
    "q206_centroid_drift" ->
      s"""WITH v AS (SELECT vec_id, label,
         |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |           FROM embeddings WHERE label IS NOT NULL),
         |cut AS (SELECT CAST(floor(0.8 * max(vec_id)) AS BIGINT) AS c
         |        FROM embeddings),
         |qv AS (SELECT vec_id, label,
         |         list_transform(e, x -> CAST(round(x * 1000000.0) AS BIGINT))
         |           AS qv
         |       FROM v),
         |aggo AS (SELECT label, t.k, sum(q.qv[t.k]) AS s, count(*) AS cnt
         |         FROM qv q, UNNEST(generate_series(1, len(q.qv))) AS t(k)
         |         WHERE q.vec_id < (SELECT c FROM cut)
         |         GROUP BY label, t.k),
         |cento AS (SELECT label, cnt,
         |            list_transform(list(s ORDER BY k), x ->
         |              round(CAST(x AS DOUBLE) / (1000000.0 * cnt), 6)) AS ce
         |          FROM aggo GROUP BY label, cnt),
         |aggn AS (SELECT label, t.k, sum(q.qv[t.k]) AS s, count(*) AS cnt
         |         FROM qv q, UNNEST(generate_series(1, len(q.qv))) AS t(k)
         |         WHERE q.vec_id >= (SELECT c FROM cut)
         |         GROUP BY label, t.k),
         |centn AS (SELECT label, cnt,
         |            list_transform(list(s ORDER BY k), x ->
         |              round(CAST(x AS DOUBLE) / (1000000.0 * cnt), 6)) AS ce
         |          FROM aggn GROUP BY label, cnt)
         |SELECT coalesce(o.label, n.label) AS label,
         |       CAST(coalesce(o.cnt, 0) AS BIGINT) AS n_old,
         |       CAST(coalesce(n.cnt, 0) AS BIGINT) AS n_new,
         |       round(sqrt(list_sum(list_transform(o.ce, x -> x * x))), 4)
         |         AS norm_old,
         |       round(sqrt(list_sum(list_transform(n.ce, x -> x * x))), 4)
         |         AS norm_new,
         |       CASE WHEN sqrt(list_sum(list_transform(o.ce, x -> x * x))) > 0
         |             AND sqrt(list_sum(list_transform(n.ce, x -> x * x))) > 0
         |            THEN round(${cosSql("o.ce", "n.ce")}, 4) END AS drift_cos
         |FROM cento o FULL OUTER JOIN centn n ON o.label = n.label
         |ORDER BY label""".stripMargin,

    // 1-NN ranked on the 6 dp cosine with neighbor-id ties — the same
    // ordering contract as the engine's window
    "q171_knn_agreement" ->
      s"""WITH v AS (SELECT vec_id, label,
         |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |           FROM embeddings WHERE label IS NOT NULL),
         |sc AS (SELECT a.vec_id, a.label, b.vec_id AS nid,
         |         b.label AS nlabel,
         |         round(${cosSql("a.e", "b.e")}, 6) AS c6
         |       FROM v a JOIN v b ON a.vec_id <> b.vec_id),
         |nn AS (SELECT vec_id, label, nlabel
         |       FROM (SELECT vec_id, label, nlabel,
         |               row_number() OVER (PARTITION BY vec_id
         |                 ORDER BY c6 DESC NULLS LAST, nid) AS rn
         |             FROM sc)
         |       WHERE rn = 1)
         |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
         |       CAST(sum(CASE WHEN label = nlabel THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_agree,
         |       (CAST(sum(CASE WHEN label = nlabel THEN 1 ELSE 0 END)
         |             AS BIGINT) * 1000000) // count(*) AS agree_ppm
         |FROM nn GROUP BY label ORDER BY label""".stripMargin,

    // q171's statement over the hash-bucket sample: the salted md5 mod
    // 10^6 membership is the engine's exact filter, so the oracle
    // reproduces the sample bit-for-bit before the identical 1-NN tail
    "q208_knn_agreement_sampled" ->
      s"""WITH v AS (SELECT vec_id, label,
         |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |           FROM embeddings
         |           WHERE label IS NOT NULL
         |             AND CAST('0x' || substr(md5('knn_sample_' || CAST(vec_id AS VARCHAR)), 1, 15)
         |                      AS BIGINT) % 1000000 < 500000),
         |sc AS (SELECT a.vec_id, a.label, b.vec_id AS nid,
         |         b.label AS nlabel,
         |         round(${cosSql("a.e", "b.e")}, 6) AS c6
         |       FROM v a JOIN v b ON a.vec_id <> b.vec_id),
         |nn AS (SELECT vec_id, label, nlabel
         |       FROM (SELECT vec_id, label, nlabel,
         |               row_number() OVER (PARTITION BY vec_id
         |                 ORDER BY c6 DESC NULLS LAST, nid) AS rn
         |             FROM sc)
         |       WHERE rn = 1)
         |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
         |       CAST(sum(CASE WHEN label = nlabel THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_agree,
         |       (CAST(sum(CASE WHEN label = nlabel THEN 1 ELSE 0 END)
         |             AS BIGINT) * 1000000) // count(*) AS agree_ppm
         |FROM nn GROUP BY label ORDER BY label""".stripMargin,

    "q61_ann_ivf_trained" -> TrainedIvfSql,

    // stored ≡ rebuilt: the persisted-index query answers to the exact
    // same from-scratch oracle as q61
    "q72_ann_ivf_stored" -> TrainedIvfSql,

    // trained centroids (shared prefix), a third assignment pass against
    // cents2 (the index's stored assignment), then the hash-first
    // in-cell ranking and quota flag
    "q79_cluster_balance" ->
      s"""WITH $TrainedPrefixSql,
         |${asgSql(3, "cents2")},
         |r AS (SELECT vec_id, cell,
         |        CAST('0x' || substr(md5('cbs_' || CAST(vec_id AS VARCHAR)), 1, 15)
         |             AS BIGINT) AS rk
         |      FROM asg3),
         |rk AS (SELECT vec_id, cell,
         |         CAST(row_number() OVER (PARTITION BY cell
         |           ORDER BY rk, vec_id) AS BIGINT) AS cell_rank
         |       FROM r)
         |SELECT vec_id, cell, cell_rank,
         |       CAST(CASE WHEN cell_rank <= 10 THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM rk
         |ORDER BY vec_id""".stripMargin,

    "q59_semantic_dedup_strict" ->
      s"""WITH RECURSIVE $VecSql,
         |${lshCandSql(16, 12)},
         |pairs AS (
         |  SELECT i, j FROM (
         |    SELECT i, j, ${cosSql("a.e", "b.e")} AS cos
         |    FROM cand JOIN v a ON i = a.vec_id JOIN v b ON j = b.vec_id) t
         |  WHERE cos >= 0.9),
         |${DedupQueries.closureSql("pairs")}
         |SELECT emb.vec_id,
         |       coalesce(c.component, emb.vec_id) AS cluster_id,
         |       CAST(CASE WHEN coalesce(c.component, emb.vec_id) = emb.vec_id
         |                 THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM embeddings emb LEFT JOIN comp c ON emb.vec_id = c.node
         |ORDER BY vec_id""".stripMargin,

    // the from-scratch rendering of the append law: train on the corpus
    // slice only (v IS the cut — TrainedTailSql reused verbatim), then
    // assign EVERY vector against the corpus-trained centroids
    "q87_ivf_append" ->
      s"""WITH vall AS (SELECT vec_id,
         |                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |              FROM embeddings),
         |v AS (SELECT * FROM vall
         |      WHERE vec_id < (SELECT CAST(floor(0.8 * max(vec_id)) AS BIGINT)
         |                      FROM embeddings)),
         |$TrainedTailSql,
         |${asgSql(3, "cents2", "vall")}
         |SELECT vec_id, cell FROM asg3
         |ORDER BY vec_id""".stripMargin,

    // int8-quantize both sides (the q65 formula), exact integer dot and
    // norms, one double division — scales cancel out of the cosine
    "q88_int8_topk" ->
      s"""WITH qz AS (
         |  SELECT vec_id,
         |         list_transform(e, x -> CASE WHEN s = 0 THEN CAST(0 AS BIGINT)
         |           ELSE CAST(round(x / s * 127.0) AS BIGINT) END) AS qe
         |  FROM (SELECT vec_id,
         |               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
         |               list_max(list_transform(embedding,
         |                 x -> abs(CAST(x AS DOUBLE)))) AS s
         |        FROM embeddings)),
         |n AS (SELECT vec_id, qe,
         |             list_sum(list_transform(qe, x -> x * x)) AS nn
         |      FROM qz),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         CAST(list_sum(list_transform(generate_series(1, len(c.qe)),
         |                k -> c.qe[k] * q.qe[k])) AS DOUBLE)
         |           / (sqrt(CAST(c.nn AS DOUBLE)) * sqrt(CAST(q.nn AS DOUBLE))) AS qcos
         |  FROM n c JOIN n q ON q.vec_id < 10 AND q.vec_id <> c.vec_id
         |  WHERE c.nn > 0 AND q.nn > 0),
         |ranked AS (SELECT query_id, neighbor_id, qcos,
         |                  CAST(row_number() OVER (PARTITION BY query_id
         |                    ORDER BY round(qcos, 6) DESC, neighbor_id) AS BIGINT) AS rank
         |           FROM scored)
         |SELECT query_id, neighbor_id, round(qcos, 4) AS qcos, rank
         |FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin)
}
