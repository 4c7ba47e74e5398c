package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Block → cap → pair → verify: the one candidate-pair primitive behind
  * the near-dup tiers of [[Dedup]]. It is the reference's own shape —
  * key, shuffle, one reduce per key — with a derived key: a caller
  * derives block keys per document (LSH bands, SimHash pigeonhole
  * blocks, rarity prefixes, winnowed fingerprints, shingles) and keeps
  * only its score and threshold; the shared steps live here. The same
  * block-then-verify framing underlies PHiDJ (ICDE 2014) and Parallel
  * Top-K Similarity Join (ICDE 2012).
  *
  *   - [[cap]]: the hot-key skew guard, applied BEFORE any pair join;
  *   - [[pairs]]: same-key self-join to distinct (i, j) with i < j;
  *   - [[overlap]] / [[overlapOf]]: per-pair shared-key count `c` with
  *     both set sizes, over every pair sharing a key or over a given
  *     candidate set.
  *
  * Rows are keyed by `doc_id`; the overlap steps read (doc_id, gh) set
  * frames.
  *
  * These are the distributed renderings. The canonical MinHash paths of
  * [[Dedup]] (`minhashPairs`, `nearDupEdges` and the incremental edge
  * unions) apply the same three rules on the driver when their band
  * frame fits under the [[Labelled.Policy]] bound `bands` — same cap,
  * same i < j pairs, same (c, n_i, n_j) counts — and fall back to these
  * operators, with their plans unchanged, for anything larger.
  */
private[graft] object Blocking {

  /** Drop every row whose key (the `keys` columns) has more than `max`
    * rows; `max <= 0` leaves `rows` unchanged. A key of m rows emits
    * m(m−1)/2 pairs, so one boilerplate key of 10⁶ docs would own the
    * pair shuffle at corpus scale; the cap is one aggregation over the
    * narrow key frame, nothing wide rescanned.
    *
    * Filter shape: ANTI-join against the OVER-cap keys, not semi-join
    * against the under-cap ones. The over-cap side holds at most
    * rows/max distinct keys by construction (each needs > max members),
    * so AQE broadcasts it in any non-degenerate corpus and the key frame
    * itself never shuffles for the guard; the under-cap side is nearly
    * every key and could never broadcast.
    */
  def cap(rows: DataFrame, keys: Seq[String], max: Long): DataFrame =
    if (max <= 0) rows
    else {
      val hot = rows.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("_n"))
        .filter(col("_n") > max)
        .select(keys.map(k => col(k).as(s"_hot_$k")): _*)
      rows.join(hot,
        keys.map(k => col(k) === col(s"_hot_$k")).reduce(_ && _), "left_anti")
    }

  /** One row per (key match, i < j): i = a.doc_id, j = b.doc_id, plus
    * each `carry` column of both sides as `<c>_i` / `<c>_j`.
    */
  private def sameKey(rows: DataFrame, keys: Seq[String],
      carry: Seq[String]): DataFrame =
    rows.as("a")
      .join(rows.as("b"),
        keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i") +: col("b.doc_id").as("j") +:
        carry.flatMap(c => Seq(col(s"a.$c").as(s"${c}_i"), col(s"b.$c").as(s"${c}_j"))): _*)

  /** Distinct (i, j) pairs, i < j, sharing at least one key, with the
    * `carry` columns of both ends. A pair sharing several keys yields
    * one row.
    */
  def pairs(rows: DataFrame, keys: Seq[String],
      carry: Seq[String] = Nil): DataFrame =
    sameKey(rows, keys, carry).distinct()

  /** (i, j, c, n_i, n_j) for every pair i < j sharing at least one gh in
    * `sets`: c = |G_i ∩ G_j| over `sets`, n = each doc's row count in
    * `whole` (its full set when `sets` is a capped subset of it). Work is
    * the sum over keys of postings², so cap hot keys first or use
    * [[overlapOf]] on a candidate set at scale.
    */
  def overlap(sets: DataFrame, whole: DataFrame): DataFrame =
    withSizes(sameKey(sets, Seq("gh"), Nil)
      .groupBy("i", "j").agg(count(lit(1)).as("c")), whole)

  /** [[overlap]] with each doc's size taken over `sets` itself. */
  def overlap(sets: DataFrame): DataFrame = overlap(sets, sets)

  /** [[overlap]] restricted to the candidate (i, j) pairs `cand`; pairs
    * sharing no gh are absent. Cost is O(|cand| × gh per doc),
    * independent of the non-candidate pair space: `sets` is first
    * semi-joined down to docs in some candidate pair, then the
    * intersection is counted per candidate only (join the pair to i's
    * set, match it against j's) — what makes a bucketed candidate
    * generator an actual scale path.
    *
    * `cutPruned` cuts the pruned frame's lineage. FALSE when `sets` is
    * already checkpointed blocks — its three consumers then re-run only
    * a cheap semi-join (A/B at sf0.1: q27 1.9s → 2.1s, q48 4.0s → 4.7s
    * with a cut); TRUE when `sets` is a LAZY corpus-sized parquet union
    * (the incremental/probe paths) — the pruned frame is delta-
    * proportional, so one materialization replaces three full corpus
    * scans (measured at the 100× ingest probe: the eager full-union
    * checkpoint this replaces cost 25s/probe; see
    * `bench/ingest_probe_r12_100x.json`).
    */
  def overlapOf(sets: DataFrame, cand: DataFrame,
      cutPruned: Boolean = false): DataFrame = {
    val candDocs = cand.select(col("i").as("doc_id"))
      .union(cand.select(col("j").as("doc_id"))).distinct()
    val pruned0 = sets.join(candDocs, Seq("doc_id"), "left_semi")
    val pruned = if (cutPruned) Ckpt.narrowLazy(pruned0) else pruned0
    withSizes(cand
      .join(pruned.as("sa"), col("i") === col("sa.doc_id"))
      .join(pruned.as("sb"), col("j") === col("sb.doc_id") && col("sa.gh") === col("sb.gh"))
      .groupBy("i", "j")
      .agg(count(lit(1)).as("c")), pruned)
  }

  /** Attach n_i, n_j (row counts per doc in `whole`) to (i, j, c) rows.
    * The size frame grows O(corpus): no broadcast hint — these are
    * equi-joins AQE plans on its own (and can still broadcast when
    * actually small).
    */
  private def withSizes(counts: DataFrame, whole: DataFrame): DataFrame = {
    val sz = whole.groupBy("doc_id").agg(count(lit(1)).as("n"))
    counts
      .join(sz.as("s1"), col("i") === col("s1.doc_id"))
      .join(sz.as("s2"), col("j") === col("s2.doc_id"))
      .select(col("i"), col("j"), col("c"),
        col("s1.n").as("n_i"), col("s2.n").as("n_j"))
  }
}
