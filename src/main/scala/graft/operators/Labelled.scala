package graft.operators

import scala.jdk.CollectionConverters._
import scala.util.DynamicVariable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructType}

/** Job descriptions for the Spark jobs an operator starts while it builds
  * its frame (cuts, bounded fetches, convergence rounds): `body` runs
  * under the description `what`, then the caller's description is
  * restored (null removes it again). A traced run then names the
  * operator and its step for every such job.
  *
  * It is also the one home of the driver-path policy: how large an input
  * [[Components]], the near-dup tier of [[Dedup]] and the gates of
  * [[Curation]] close on the driver after one bounded collect, instead
  * of running their distributed plans.
  */
private[graft] object Labelled {
  def apply[T](df: DataFrame, what: String)(body: => T): T =
    apply(df.sparkSession, what)(body)

  def apply[T](spark: SparkSession, what: String)(body: => T): T = {
    val (sc, key) = (spark.sparkContext, "spark.job.description")
    val prev = sc.getLocalProperty(key)
    sc.setJobDescription(what)
    try body finally sc.setLocalProperty(key, prev)
  }

  /** The driver-path bounds and the skew cap the canonical near-dup tier
    * runs with. A bound of -1 always takes the distributed plan.
    *
    * @param edges largest edge list [[Components.connected]] closes on
    *   the driver. The fetched edges and the output nodes are boxed rows
    *   (on the order of 100 bytes each) next to a few primitive arrays per
    *   endpoint, about 100 MB for 2^18 edges over 2^19 distinct nodes.
    * @param bands largest band frame (rows) [[Dedup.minhashPairs]] and
    *   the incremental renderings cap, pair and verify on the driver; the
    *   same bound caps that path's delta-id, stored-edge and verify
    *   fetches and its distinct candidates. The fetched band rows and
    *   their buckets hold about 240 bytes a band row (31 MB at the bound,
    *   measured). It is where the driver path stops winning: on synthetic
    *   corpora of 40–60-word docs with a tenth of them in near-dup pairs
    *   (`dev/NearDupGate.scala`, 4-core host, `local[4]`) it took 1.3 s
    *   against the distributed plan's 2.2 s at 2^15 band rows and 3.3 s
    *   against 4.9 s at 98,304. Such corpora fetch about 5 candidate
    *   shingle rows a doc against 4 band rows, so near 2^17 band rows the
    *   verify fetch overflows and the call falls back, 0.3 s slower than
    *   the distributed plan alone; under a bound of 2^18 that overflow
    *   cost 2 s.
    * @param docs largest input (docs, both days) whose [[Curation]] gates
    *   close on the driver. Set with `dev/NearDupGate.scala gates`
    *   (synthetic 40–60-word docs, 4-core host, `local[4]`, medians of 5
    *   alternating reps): `exactKeepers` took 0.72 s against the
    *   distributed cuts' 1.04 s at 4,096 docs and 0.90 vs 1.35 s at 8,192,
    *   tied at 16,384 (0.87 vs 0.89 s) and lost at 32,768 (1.50 vs
    *   1.38 s). An input above the bound pays for the fetch that
    *   overflows, about 0.3 s (16,384 docs: 1.23 vs 0.86 s; 131,072: 2.86
    *   vs 2.48 s). The fetch holds about 200 bytes a doc on the driver
    *   (1.6 MB at the bound).
    * @param maxBucket the skew cap of [[Dedup.nearDupEdges]],
    *   [[Curation.curate]] and [[Curation.curateIncremental]].
    */
  final case class Policy(edges: Int = 1 << 18, bands: Int = 1 << 17, docs: Int = 1 << 13,
      maxBucket: Int = Dedup.NearDupMaxBucket)

  /** Which bound of the current [[Policy]] a driver path enforces. */
  sealed abstract class Bound(of: Policy => Int) { def value: Int = of(policy) }
  case object Edges extends Bound(_.edges)
  case object Bands extends Bound(_.bands)
  case object Docs extends Bound(_.docs)

  private val current = new DynamicVariable(Policy())

  /** The policy in force on this thread. */
  def policy: Policy = current.value

  /** Runs `body` under the policy `p` (tests force either path with it);
    * the previous policy is restored afterwards, also on an exception.
    * A thread started inside `body`, such as [[Par.both]]'s helper,
    * inherits `p`.
    */
  private[graft] def withPolicy[T](p: Policy)(body: => T): T = current.withValue(p)(body)

  /** The bounded collect every driver path starts with: the columns
    * `ids` of `df` (Long-cast) followed by `rest`, at most one row more
    * than `bound` allows, under the description `what`. None when more
    * rows come back than it allows, an `ids` column is not Long/Int, or
    * an id is null. The rows of a local relation come back without a job.
    */
  def fetch(df: DataFrame, what: String, bound: Bound, ids: Seq[String],
      rest: Column*): Option[Array[Row]] =
    if (!ids.forall(c => isId(df.schema(c).dataType))) None
    else {
      val max = bound.value
      val rows = Labelled(df, what)(
        df.select(ids.map(c => col(c).cast("long")) ++ rest: _*).limit(max + 1).collect())
      Some(rows).filter(rs => rs.length <= max && !rs.exists(r => ids.indices.exists(r.isNullAt)))
    }

  /** `rows` as a local relation in `df`'s session with the schema
    * `schema`; a Long value in an IntegerType column (a Long-cast id of
    * [[fetch]]) goes back to Int.
    */
  def local(df: DataFrame, schema: StructType, rows: Iterable[Seq[Any]]): DataFrame = {
    val int = schema.fields.map(_.dataType == IntegerType)
    df.sparkSession.createDataFrame(rows.map(r => Row.fromSeq(r.zip(int).map {
      case (v: Long, true) => v.toInt
      case (v, _) => v
    })).toSeq.asJava, schema)
  }

  private def isId(t: DataType): Boolean = t == LongType || t == IntegerType
}
