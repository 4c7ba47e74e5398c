package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over an undirected edge relation `(i, j)` with
  * `i < j`, one row per edge (the [[Dedup.nearDupEdges]] /
  * [[Components]] shape). Extends the graph tier beyond connectivity
  * (q47) and centrality (q125) with local-structure operators:
  * triangle enumeration and common-neighbor link prediction.
  *
  * Not in the reference (SURVEY.md §2.5). On the near-dup graph these
  * are dedup-auditing tools: a triangle-supported edge is corroborated
  * by a third witness (edge-cohesion reading), and a common-neighbor
  * pair is a candidate edge the banding missed — transitive near-dups
  * worth re-verifying.
  */
object Graphs {

  /** All triangles, one row per triangle as an ordered triple
    * `a < b < c`.
    *
    * Physical shape is the degree-oriented node-iterator (the
    * MapReduce-era standard — Suri & Vassilvitskii's "Counting
    * triangles and the curse of the last reducer"): orient every edge
    * from its (degree, id)-smaller endpoint, form wedges only at each
    * node's ORIENTED out-neighbors, and close them with an oriented
    * equi-join. Wedge work at a node is C(out-deg, 2), and orientation
    * bounds out-degree by O(√|E|) — the hub that breaks the naive
    * neighbor-join cannot own a reducer here. Each triangle is
    * produced exactly once (its unique (degree, id)-minimum corner).
    */
  def triangles(edges: DataFrame): DataFrame = {
    // cut the edge pipeline ONCE: sym/deg/oriented fan out to multiple
    // consumers below (union ×2, two degree joins, the wedge self-join
    // and its closing semi-join), and without the cut the producer —
    // e.g. the full LSH verify chain feeding q142 — re-executes per
    // consumer and the plan tree grows multiplicatively (measured:
    // 5689-node plan, 26 jobs, 9.9 s at sf0.1 before; the [[Components]]
    // precedent). LAZY cuts (r15): shuffle stages below a cut run at
    // the cut, its blocks persist at first consumer compute — identical
    // sharing, no eager count() job per cut
    val e = Ckpt.narrowLazy(edges.select(col("i"), col("j")))
    val sym = e.union(e.select(col("j").as("i"), col("i").as("j")))
    val deg = sym.groupBy(col("i").as("node")).agg(count(lit(1)).as("d"))
    // orient u -> v iff (d_u, u) < (d_v, v); carry both endpoint
    // degrees so the wedge step can compare without another join
    val withDeg = sym
      .join(deg.select(col("node").as("i"), col("d").as("di")), "i")
      .join(deg.select(col("node").as("j"), col("d").as("dj")), "j")
    // narrow (u, v, dv) frame read three times (both wedge sides + the
    // closing semi-join) — cut so the orientation joins run once
    val oriented = Ckpt.narrowLazy(withDeg
      .filter(col("di") < col("dj") ||
        (col("di") === col("dj") && col("i") < col("j")))
      .select(col("i").as("u"), col("j").as("v"),
        col("dj").as("dv")))
    val wedges = oriented.as("x")
      .join(oriented.as("y"), col("x.u") === col("y.u") &&
        (col("x.dv") < col("y.dv") ||
          (col("x.dv") === col("y.dv") && col("x.v") < col("y.v"))))
      .select(col("x.u").as("u"), col("x.v").as("v"), col("y.v").as("w"))
    wedges
      .join(oriented.select(col("u").as("v"), col("v").as("w")),
        Seq("v", "w"), "left_semi")
      .select(least(col("u"), col("v"), col("w")).as("a"),
        greatest(col("u"), col("v"), col("w")).as("c"),
        (col("u") + col("v") + col("w")).as("s"))
      .select(col("a"), (col("s") - col("a") - col("c")).as("b"), col("c"))
  }

  /** Bounded-round k-core peel: `rounds` synchronous rounds of "remove
    * every node whose CURRENT degree is < k (edges to removed nodes
    * don't count)", over the canonical `(i, j)` edge relation. On the
    * near-dup graph this grades cluster cohesion one level deeper than
    * [[triangles]]: a 2-core member is held by at least two witnesses
    * that are themselves held — isolated pair-edges peel away.
    *
    * Output: one row per node — `removed_round` (1-based round of
    * removal; NULL = survivor) and `core_deg` (degree in the final
    * surviving subgraph; NULL = removed). BOUNDED-round semantics, not
    * run-to-fixpoint: a long chain peels one layer per round, so after
    * R rounds the survivor set is a SUPERSET of the true k-core —
    * exactly R rounds is the portable contract (the [[PageRank]]
    * pattern: the oracle unrolls the same R rounds, so there is no
    * convergence ambiguity to hash-gate away).
    *
    * Scale shape: each round is one degree aggregation plus two
    * anti-joins — O(|E|) per round, map-side partial counts, no
    * all-pairs anywhere; frame lineage is cut per round ([[Ckpt]]).
    */
  def kCorePeel(edges: DataFrame, k: Long = 2L, rounds: Int = 5): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e = edges.select(col("i"), col("j"))
    // ALL-LAZY rounds (r15, guide §1.5): the loop has no driver-side
    // convergence probe and never releases mid-loop, so no cut needs an
    // eager count() — each cut still flattens the plan to a LogicalRDD
    // (bounded plan depth in rounds). The shuffle stages below each cut
    // still run at the cut, while the loop is built; only each cut's
    // last stage waits for the caller's action
    var sym = Ckpt.narrowLazy(
      e.union(e.select(col("j").as("i"), col("i").as("j"))).toDF("u", "v"))
    var alive = Ckpt.narrowLazy(sym.select(col("u").as("node")).distinct())
    // removed-set accumulation needs NO per-round cut: it is a plain
    // union of the already-cut peel frames, assembled once at the end
    val peels = scala.collection.mutable.ArrayBuffer[DataFrame]()
    for (r <- 1 to rounds) {
      val deg = sym.groupBy(col("u").as("node")).agg(count(lit(1)).as("d"))
      val peel = Ckpt.narrowLazy(alive
        .join(deg, Seq("node"), "left")
        .filter(coalesce(col("d"), lit(0L)) < k)
        .select(col("node"), lit(r.toLong).as("removed_round")))
      peels += peel
      alive = Ckpt.narrowLazy(alive.join(peel, Seq("node"), "left_anti"))
      sym = Ckpt.narrowLazy(sym
        .join(peel.select(col("node").as("u")), Seq("u"), "left_anti")
        .join(peel.select(col("node").as("v")), Seq("v"), "left_anti"))
    }
    val removed = peels.reduce(_.union(_))
    val coreDeg = sym.groupBy(col("u").as("node")).agg(count(lit(1)).as("cd"))
    val survivors = alive.join(coreDeg, Seq("node"), "left")
      .select(col("node"), lit(null).cast("bigint").as("removed_round"),
        coalesce(col("cd"), lit(0L)).as("core_deg"))
    removed
      .select(col("node"), col("removed_round"),
        lit(null).cast("bigint").as("core_deg"))
      .union(survivors)
  }

  /** Common-neighbor link prediction: for every NON-adjacent pair with
    * at least one shared neighbor, the shared-neighbor count, each
    * side's degree, and the neighborhood-Jaccard score — on the
    * near-dup graph, the transitive candidates worth re-verifying.
    *
    * Scale posture: wedges form only at nodes with degree ≤
    * `maxDegree` (hub suppression, dropped WHOLE and oracle-mirrored —
    * a boilerplate hub's C(d, 2) wedges are exactly the quadratic blow
    * that kills this at corpus scale, and its "predictions" are noise
    * by the same token); degrees in the score stay the TRUE degrees.
    */
  def commonNeighborPredictions(edges: DataFrame,
      maxDegree: Long = 1000L): DataFrame = {
    require(maxDegree >= 2, s"maxDegree must be >= 2, got $maxDegree")
    // same multi-consumer cut as [[triangles]]: e feeds the union twice
    // and the anti-join; thin self-joins (both wedge sides); deg joins
    // back twice — without the cuts the edge producer (the cosine/LSH
    // pair pipeline of q143/q148) re-executes per consumer
    val e = Ckpt.narrowLazy(edges.select(col("i"), col("j")))
    val sym = e.union(e.select(col("j").as("i"), col("i").as("j")))
      .toDF("u", "v")
    val deg = sym.groupBy(col("u").as("node")).agg(count(lit(1)).as("d"))
    val hubs = deg.filter(col("d") > maxDegree).select(col("node").as("u"))
    val thin = Ckpt.narrowLazy(sym.join(hubs, Seq("u"), "left_anti"))
    val common = thin.as("x")
      .join(thin.as("y"),
        col("x.u") === col("y.u") && col("x.v") < col("y.v"))
      .groupBy(col("x.v").as("i"), col("y.v").as("j"))
      .agg(count(lit(1)).as("common"))
    common
      .join(e, Seq("i", "j"), "left_anti") // predicted, not present
      .join(deg.select(col("node").as("i"), col("d").as("deg_i")), "i")
      .join(deg.select(col("node").as("j"), col("d").as("deg_j")), "j")
      .select(col("i"), col("j"), col("common"), col("deg_i"), col("deg_j"),
        round(col("common").cast("double")
          / (col("deg_i") + col("deg_j") - col("common")), 4).as("score"))
  }

  /** Bounded-round synchronous label propagation (Raghavan et al. 2007,
    * made deterministic): every node starts labeled with its own id;
    * each round, every node adopts the label that is most frequent
    * among its neighbors' CURRENT labels, ties broken by the smallest
    * label. Exactly `rounds` rounds — the [[kCorePeel]]/[[PageRank]]
    * bounded-round contract, so the oracle unrolls the same loop and
    * the gate checks community assignments EXACTLY (run-to-convergence
    * LPA is famously order- and tie-sensitive; pinning rounds + the
    * min-label tie makes it a pure function of the edge relation).
    *
    * On the near-dup graph this is the community face of [[Components]]:
    * components glue everything reachable, LPA splits a chained
    * component at its thin bridges (a bridge node's neighbor majority
    * lives on one side), which is the grouping a per-cluster keeper
    * policy actually wants when two distinct families share one
    * accidental edge.
    *
    * Scale shape: each round is one equi-join of the edge relation with
    * the label frame (O(|E|) rows), a map-side-combinable (node, label)
    * count, and an argmax folded into ONE `max(struct(cnt, -label))`
    * aggregation — no per-node window, no sort; lineage cut per round
    * ([[Ckpt]]). Label frames are node-grain, never edge-grain.
    */
  def labelPropagate(edges: DataFrame, rounds: Int = 5): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e = edges.select(col("i"), col("j"))
    // all-lazy rounds — the [[kCorePeel]] rationale (shuffle stages
    // below each cut run at the cut)
    val sym = Ckpt.narrowLazy(
      e.union(e.select(col("j").as("i"), col("i").as("j"))).toDF("u", "v"))
    var lab = Ckpt.narrowLazy(sym.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("lab")))
    for (_ <- 1 to rounds) {
      val votes = sym
        .join(lab.select(col("node").as("v"), col("lab")), "v")
        .groupBy(col("u"), col("lab")).agg(count(lit(1)).as("cnt"))
      // argmax by (count desc, label asc) as one aggregation: the max
      // struct orders by cnt first, then by -lab — largest negation =
      // smallest label (labels are node ids, so -lab never overflows)
      lab = Ckpt.narrowLazy(votes
        .groupBy(col("u"))
        .agg(max(struct(col("cnt"), (-col("lab")).as("neg"))).as("m"))
        .select(col("u").as("node"), (-col("m.neg")).as("lab")))
    }
    lab.select(col("node"), col("lab").as("community"))
  }
}
