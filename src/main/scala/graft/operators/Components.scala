package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components over an undirected edge list — the transitive-
  * closure step that turns pairwise near-dup matches ([[Dedup]] /
  * [[Similarity]]) into dedup clusters: if a~b and b~c, all three are one
  * group even when a~c was never emitted.
  *
  * Algorithm: iterative min-label propagation (the MapReduce-era
  * hash-to-min shape). Each round every node takes the minimum label
  * among itself and its neighbors; convergence when no label changes.
  * Rounds are bounded by the component diameter — near-dup clusters are
  * stars/cliques around a source document, so 2–3 rounds in practice;
  * `maxIter` caps adversarial chains. Every round is two shuffles (join
  * edges with labels, min-aggregate by neighbor) at O(|E|) — no
  * all-pairs, no driver-side graph. Labels persist per round and the
  * lineage is cut with a local checkpoint every few rounds so plans stay
  * flat no matter how many iterations run.
  */
object Components {

  /** (node, component) for every endpoint of `edges` (columns i, j);
    * component = minimum node id reachable through the edge set.
    * `maxIter` bounds the double-hop rounds (`round * 2 + 2 <= maxIter`);
    * the init pass folds one more hop, so a run that stops after `round`
    * rounds has propagated `round * 2 + 1` hops, which is the figure the
    * non-convergence error reports.
    */
  def connected(edges: DataFrame, maxIter: Int = 25): DataFrame = {
    // the loop advances two hops per round, so a budget below one round
    // could never observe convergence — even on an already-converged graph
    require(maxIter >= 2, s"maxIter must be >= 2 (one double-hop round), got $maxIter")
    // both union branches (and every loop round) read the edge list; cut
    // its lineage ONCE up front — otherwise an expensive producer (the
    // LSH verification pipeline feeding q47/q48) runs once per branch.
    // LAZY (r15): the producer's shuffle stages run at the cut; its last
    // stage runs inside round 1's convergence count, where block locks
    // dedup the two union branches' first computes, so the producer
    // still runs exactly once and no separate count() job reruns it
    val e = Ckpt.narrowLazy(edges)
    val sym = e.select(col("i").as("src"), col("j").as("dst"))
      .union(e.select(col("j").as("src"), col("i").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // init = the IDENTITY labeling's first hop, folded into the node
    // aggregation (r15): component₀ = min(self, direct neighbors) costs
    // the same one exchange the old distinct() paid but starts the loop
    // one hop ahead — a diameter-2/3 component (the LSH-cluster shape)
    // then converges in ONE round instead of two, saving a whole
    // convergence action + its job cascade. Fixpoint unchanged: this is
    // exactly hop(identity), so the label sequence is the old one
    // shifted by one hop.
    var labels = sym.groupBy(col("src").as("node"))
      .agg(min(col("dst")).as("_nbr_min"))
      .select(col("node"),
        least(col("node"), col("_nbr_min")).as("component"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    def hop(lbl: DataFrame): DataFrame = {
      val msgs = sym.join(lbl, col("src") === col("node"))
        .groupBy(col("dst").as("node2"))
        .agg(min(col("component")).as("nbr_min"))
      lbl.drop("_chg")
        .join(msgs, col("node") === col("node2"), "left")
        .select(col("node"),
          least(col("component"), coalesce(col("nbr_min"), col("component")))
            .as("component"),
          coalesce(col("nbr_min") < col("component"), lit(false)).as("_chg"))
    }

    var round = 0
    var converged = false
    while (!converged && round * 2 + 2 <= maxIter) {
      // two hops per materialized round: label distance covered doubles
      // per action, halving the count of job-launching convergence
      // checks — the dominant cost for small graphs, harmless for big
      // ones. A no-change double hop implies the single-hop fixed point.
      val next = Ckpt.narrowLazy(hop(hop(labels)))
      // count (not isEmpty): isEmpty's limit-1 would leave the persist
      // only partially materialized and the next round would recompute
      converged = next.filter(col("_chg")).count() == 0
      // round 1's labels is a plain persist (Dataset.unpersist frees it);
      // every later snapshot is checkpointed, whose RDD-level storage
      // only Ckpt.release can free — call both, each no-ops on the other
      labels.unpersist()
      Ckpt.release(labels)
      labels = next
      round += 1
    }
    sym.unpersist()
    // fail loudly rather than hand back partially-propagated labels: a
    // silently wrong clustering poisons every downstream keep/drop
    // verdict. Hitting this means a component's diameter exceeds
    // maxIter hops — raise it for graphs with longer chains (near-dup
    // clusters are stars/cliques, so the default 25 is ample there).
    if (!converged) {
      labels.unpersist()
      Ckpt.release(labels)
      throw new IllegalStateException(
        s"Components.connected did not converge within ${round * 2 + 1} " +
          s"label-propagation hops (maxIter=$maxIter); raise maxIter for " +
          "graphs with longer chain diameters")
    }
    labels.drop("_chg")
  }
}
