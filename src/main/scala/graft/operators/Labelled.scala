package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

/** Job descriptions for the Spark jobs an operator starts while it builds
  * its frame (cuts, bounded fetches, convergence rounds): `body` runs
  * under the description `what`, then the caller's description is
  * restored (null removes it again). A traced run then names the
  * operator and its step for every such job.
  */
private[graft] object Labelled {
  def apply[T](df: DataFrame, what: String)(body: => T): T = {
    val (sc, key) = (df.sparkSession.sparkContext, "spark.job.description")
    val prev = sc.getLocalProperty(key)
    sc.setJobDescription(what)
    try body finally sc.setLocalProperty(key, prev)
  }

  /** The bounded collect every driver path starts with: the columns
    * `ids` of `df` (Long-cast) followed by `rest`, at most `bound + 1`
    * rows, under the description `what`. None when more than `bound`
    * rows come back, an `ids` column is not Long/Int, or an id is null.
    * The rows of a local relation come back without a job.
    */
  def fetch(df: DataFrame, what: String, bound: Int, ids: Seq[String],
      rest: Column*): Option[Array[Row]] =
    if (!ids.forall(c => isId(df.schema(c).dataType))) None
    else {
      val rows = Labelled(df, what)(
        df.select(ids.map(c => col(c).cast("long")) ++ rest: _*).limit(bound + 1).collect())
      Some(rows).filter(rs => rs.length <= bound && !rs.exists(r => ids.indices.exists(r.isNullAt)))
    }

  private def isId(t: DataType): Boolean = t == LongType || t == IntegerType
}
