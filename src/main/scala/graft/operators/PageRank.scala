package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank over a directed edge list — the iterative
  * graph centrality pass beside [[Components]]' connectivity: which
  * nodes matter most, not just which cluster they join. A curation
  * pipeline reads it as authority weighting over a syndication or
  * entity-link graph.
  *
  * Determinism contract: ALL arithmetic is integer fixed-point at
  * `scale` (rank mass starts at scale/n per node; each round applies
  * r' = base + 85% of the floor-divided in-flow, with base =
  * 15%·init). Integer floor division is order-independent and
  * engine-portable, so a 5-iteration run hash-gates against an
  * unrolled SQL oracle — no float drift, no convergence ambiguity.
  *
  * Scale shape: each iteration is ONE equi-join (edges ⋈ ranks on src)
  * plus one sum-aggregation by dst — O(|E|) per round, map-side
  * partial, no all-pairs and no driver-side graph. Rank-frame lineage
  * is cut per round ([[Ckpt]]), so the plan stays flat for any
  * iteration count. The degree frame is computed once and reused.
  *
  * Dangling contract (fail-loud, like [[Components]]): every dst must
  * also appear as src — mass has nowhere to go from a sink, and
  * silently losing it would make ranks depend on iteration count in a
  * way no caller expects. Callers with directed data symmetrize or
  * add self-loops first.
  */
object PageRank {

  /** (node, deg, rank) for every source node of `edges` (columns src,
    * dst) after exactly `iters` rounds at fixed-point `scale`.
    */
  def ranks(edges: DataFrame, iters: Int = 5,
      scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(scale >= 1000000L,
      s"scale below 1e6 floors small in-flows to zero, got $scale")
    // LAZY cuts + ONE fused setup action (r15, guide §1.5): node count
    // and dangling-node count come from a single crossJoin of two 1-row
    // aggregates, whose job also runs the last stages of the e and deg
    // checkpoints (their shuffle stages run at the cuts) — replacing
    // three driver actions (eager e, eager deg + count, dangling
    // isEmpty) with one
    val e = Ckpt.narrowLazy(edges.select(col("src"), col("dst")))
    val deg = Ckpt.narrowLazy(
      e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg")))
    val dangling = e.select(col("dst").as("node"))
      .join(deg, Seq("node"), "left_anti")
    val st = deg.agg(count(lit(1)).as("n"))
      .crossJoin(dangling.agg(count(lit(1)).as("n_dangling"))).head
    if (st.getAs[Long]("n_dangling") > 0) {
      val sample = dangling.limit(3).collect().map(_.get(0)).mkString(", ")
      throw new IllegalArgumentException(
        s"PageRank.ranks: dst nodes with no outgoing edge (e.g. $sample) — " +
          "symmetrize the edge list or add self-loops")
    }
    val n = st.getAs[Long]("n")
    require(n > 0, "PageRank over an empty edge list")
    val init = scale / n
    val base = init * 15L / 100L

    var r = deg.select(col("node"), col("deg"), lit(init).as("rank"))
    var lastCut: DataFrame = null
    var i = 0
    while (i < iters) {
      val msg = e.join(r, e("src") === r("node"))
        .groupBy(col("dst").as("node"))
        .agg(sum(expr("rank div deg")).as("msum"))
      r = deg.join(msg, Seq("node"), "left")
        .select(col("node"), col("deg"),
          expr(s"$base + (85 * coalesce(msum, 0)) div 100").as("rank"))
      i += 1
      // EAGER cut every SECOND round, never on the final one (r15, the
      // Components double-hop cadence): plan depth stays bounded at two
      // rounds per checkpoint while the caller's own action materializes
      // the ≤2-round tail — half the per-round materialization jobs.
      // The previous cut's blocks are freed only AFTER the new cut is
      // materialized: truncated lineage cannot recompute a released
      // checkpoint.
      if (i % 2 == 0 && i < iters) {
        val prevCut = lastCut
        r = Ckpt.narrow(r)
        lastCut = r
        if (prevCut != null) Ckpt.release(prevCut)
      }
    }
    r
  }
}
