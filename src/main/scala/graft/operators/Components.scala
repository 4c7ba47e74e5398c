package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Connected components over an undirected edge list — the transitive-
  * closure step that turns pairwise near-dup matches ([[Dedup]] /
  * [[Similarity]]) into dedup clusters: if a~b and b~c, all three are one
  * group even when a~c was never emitted.
  *
  * Two paths, one answer (component = minimum node id):
  *
  *  - Small edge lists close on the driver. After the edge cut, one
  *    bounded collect fetches at most one edge more than the
  *    [[Labelled.Policy]] bound `edges` (a local-relation edge list is
  *    read as it is, with no cut and no job).
  *    When the list fits under the bound, both ids are `LongType` or
  *    both `IntegerType`, and no endpoint is null, a breadth-first sweep
  *    over the nodes in ascending id order labels every component with
  *    its minimum (each sweep starts at the smallest unvisited node) and
  *    returns a local relation (the bound caps driver memory). Near-dup
  *    edge lists are a few hundred to a few thousand rows, so this is the
  *    common path; it replaces one to four label-propagation rounds of
  *    about 15 AQE stage-jobs each.
  *  - Anything else runs iterative min-label propagation (the
  *    MapReduce-era hash-to-min shape). Each round every node takes the
  *    minimum label among itself and its neighbors; convergence when no
  *    label changes. Every round is two shuffles (join edges with
  *    labels, min-aggregate by neighbor) at O(|E|) — no all-pairs and no
  *    driver-side graph. Labels are cut per round, so plans stay flat no
  *    matter how many iterations run.
  *
  * `maxIter` means the same on both paths. Let D be the largest distance
  * from a component's minimum node to any of its members. The fixpoint
  * needs max(1, ceil(D / 2)) double-hop rounds and may run
  * `maxIter / 2`, so both paths throw the same `IllegalStateException`
  * exactly when `2 * max(1, ceil(D / 2)) > maxIter`; the driver path
  * measures D during its sweep.
  *
  * Every Spark job this operator starts carries a job description
  * (`Components.connected: edge cut`, `fetch |E|<=<edges>`, `round <r>`);
  * the caller's description is restored afterwards.
  */
object Components {

  /** Prefix of this operator's job descriptions. */
  private val Op = "Components.connected"

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
    // the fetch reads the edge list, and a list that falls back to the
    // fixpoint is read again by every round and both union branches; cut
    // its lineage ONCE up front — otherwise an expensive producer (the
    // LSH verification pipeline feeding q47/q48) runs once per read.
    // Lazy: the producer's shuffle stages run at the cut and its last
    // stage inside the fetch. A local relation (a driver-built edge
    // list, such as Dedup's driver-verified near-dup edges) is read as it
    // is: its rows are on the driver already, so neither a cut nor the
    // fetch runs a job.
    val local = edges.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]
    val e = if (local) edges else Labelled(edges, s"$Op: edge cut")(Ckpt.narrowLazy(edges))
    val idType = e.schema("i").dataType
    val small =
      if (idType != e.schema("j").dataType) None
      else Labelled.fetch(e, s"$Op: fetch |E|<=${Labelled.Edges.value}", Labelled.Edges,
        Seq("i", "j"))
    small match {
      case Some(rows) =>
        Ckpt.release(e)
        closeOnDriver(e, rows, idType, maxIter)
      case None => fixpoint(e, maxIter)
    }
  }

  /** The driver path: components of the fetched (non-null, Long-cast)
    * edges as a local relation with the fixpoint's schema.
    */
  private def closeOnDriver(e: DataFrame, rows: Array[Row], idType: DataType,
      maxIter: Int): DataFrame = {
    val ends = new Array[Long](2 * rows.length)
    for (k <- rows.indices) {
      ends(2 * k) = rows(k).getLong(0)
      ends(2 * k + 1) = rows(k).getLong(1)
    }
    // node index order = id order, so a sweep in index order starts each
    // component at its minimum (a primitive sort, then dedupe in place)
    val sorted = ends.sorted
    var n = 0
    for (x <- sorted if n == 0 || x != sorted(n - 1)) { sorted(n) = x; n += 1 }
    val ids = sorted.take(n)
    val at = ends.map(java.util.Arrays.binarySearch(ids, _))
    // undirected adjacency in CSR form: each edge lists b under a and a
    // under b, so the degree of v is its count among the endpoints
    val off = new Array[Int](n + 1)
    at.foreach(v => off(v + 1) += 1)
    for (v <- 0 until n) off(v + 1) += off(v)
    val next = off.clone()
    val adj = new Array[Int](at.length)
    for (k <- rows.indices) {
      val (a, b) = (at(2 * k), at(2 * k + 1))
      adj(next(a)) = b; next(a) += 1
      adj(next(b)) = a; next(b) += 1
    }
    val root = Array.fill(n)(-1)
    val depth = new Array[Int](n)
    val queue = new Array[Int](n)
    var tail = 0
    var far = 0 // D: the deepest BFS level over every component
    for (s <- 0 until n if root(s) < 0) {
      root(s) = s
      var head = tail
      queue(tail) = s; tail += 1
      while (head < tail) {
        val v = queue(head); head += 1
        for (k <- off(v) until off(v + 1)) {
          val w = adj(k)
          if (root(w) < 0) {
            root(w) = s
            depth(w) = depth(v) + 1
            far = math.max(far, depth(w))
            queue(tail) = w; tail += 1
          }
        }
      }
    }
    val rounds = math.max(1, (far + 1) / 2)
    if (2 * rounds > maxIter) throw nonConvergence(2 * (maxIter / 2) + 1, maxIter)
    // the fixpoint's columns: node is an endpoint, component a least()
    // over endpoints, so both are nullable exactly when i or j is
    val nullable = e.schema("i").nullable || e.schema("j").nullable
    Labelled.local(e, StructType(Seq(
      StructField("node", idType, nullable),
      StructField("component", idType, nullable))),
      (0 until n).map(v => Seq(ids(v), ids(root(v)))))
  }

  /** The distributed min-label fixpoint over the cut edge list `e`. */
  private def fixpoint(e: DataFrame, maxIter: Int): DataFrame = {
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
      // count (not isEmpty): isEmpty's limit-1 would leave the persist
      // only partially materialized and the next round would recompute
      val (next, changed) = Labelled(e, s"$Op: round ${round + 1}") {
        val next = Ckpt.narrowLazy(hop(hop(labels)))
        (next, next.filter(col("_chg")).count())
      }
      converged = changed == 0
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
      throw nonConvergence(round * 2 + 1, maxIter)
    }
    labels.drop("_chg")
  }

  private def nonConvergence(hops: Int, maxIter: Int) = new IllegalStateException(
    s"$Op did not converge within $hops " +
      s"label-propagation hops (maxIter=$maxIter); raise maxIter for " +
      "graphs with longer chain diameters")
}
