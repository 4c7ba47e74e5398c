package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.Exchange

/** Adaptive scan parallelism — the optimization-guide §2.5 fix for
  * "input skew: one huge unsplittable file".
  *
  * A parquet source with fewer splits than the session's parallelism
  * (locally: each testdata table is ONE file with ONE row group, so
  * every scan plans exactly one task) serializes all downstream
  * narrow-stage CPU through those few cores until the first exchange.
  * For scan-light relational work that is invisible; for the CPU-dense
  * tiers — shingling, char-trigram explodes, O(n²) verify kernels,
  * image/audio codec decode — the measured effect at sf0.1 is a whole
  * operator running single-threaded (q171: 7 single-task stages, 6.6 s;
  * q37: 15 tasks over 11 stages, 5.4 s — Probe, r14).
  *
  * [[apply]] round-robin-spreads such an input to defaultParallelism.
  * The decision reads the frame's planned partitioning at query
  * construction and executes nothing, so it is scale-adaptive, not a
  * local-mode constant:
  *
  *  - a frame whose plan needs no exchange (a scan, a checkpoint, a
  *    narrow projection of either) reports its real partition count
  *    through `df.rdd`, which plans its RDD without running a job;
  *  - a derived pipeline (a semi-join against keeper ids, an
  *    aggregate) would run every shuffle stage below it to answer
  *    `df.rdd`, so it is judged by the planned splits of its widest
  *    scan leaf, read off the un-executed physical plan.
  *
  * At production scale a corpus scan plans ≥ cores splits and the
  * branch is the identity — no repartition node enters the plan, and
  * no payload byte is ever shuffled for parallelism that already
  * exists. When it does fire, the exchange is RoundRobinPartitioning
  * (deterministic under retry via Spark's sort-before-repartition
  * default), never a hash of a payload column.
  */
private[graft] object Spread {
  def apply(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    val plan = df.queryExecution.sparkPlan
    val splits =
      if (needsExchange(plan)) plan.collectLeaves().map(leafSplits).max
      else df.rdd.getNumPartitions
    if (splits < p) df.repartition(p) else df
  }

  /** The test adaptive execution applies before it plans query stages:
    * an exchange, an operator requiring a child distribution, or a
    * subquery. Only such a plan runs jobs to produce its RDD.
    */
  private def needsExchange(plan: SparkPlan): Boolean = plan.exists {
    case _: Exchange => true
    case p => !p.requiredChildDistribution.forall(_ == UnspecifiedDistribution) ||
      p.expressions.exists(_.exists(_.isInstanceOf[SubqueryExpression]))
  }

  /** Planned input partitions of a leaf: a file scan's splits (listed at
    * planning, read without a job), else the partitions of the RDD the
    * leaf plans, which for a leaf (checkpoint, local rows, range) runs
    * nothing either.
    */
  private def leafSplits(leaf: SparkPlan): Int = leaf match {
    case s: FileSourceScanExec => s.inputRDD.getNumPartitions
    case other => other.execute().getNumPartitions
  }
}
