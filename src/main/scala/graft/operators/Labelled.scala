package graft.operators

import org.apache.spark.sql.DataFrame

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
}
