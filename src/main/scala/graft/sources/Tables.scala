package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Labelled

/** Loaders for the benchmark tables (`/root/testdata/sf<N>/<name>.parquet`).
  *
  * The reference's only source is a newline-delimited text scan
  * (reference `src/main.c:10-28`); our engine's scale-bearing source is
  * columnar parquet, where Catalyst pushes filters and prunes columns at
  * the scan. Text sources are still available via [[text]].
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Load one table. `events` needs special-casing when the driver's
    * data generation wrote TIMESTAMP(NANOS), which Spark reads as a raw
    * long (see
    * `spark.sql.legacy.parquet.nanosAsLong`); convert to a microsecond
    * timestamp here. The conversion is exact 64-bit integer FLOOR
    * division (`div` alone truncates toward zero, which would land 1 µs
    * late for pre-epoch values; a float-division-then-floor would round
    * through double, whose 2^53 exact-integer range epoch-nanosecond
    * values exceed) — the µs boundary at-or-before the ns instant,
    * matching an oracle engine's timeline truncation on either side of
    * the epoch. The parquet schema job runs under the description
    * `Tables.load: <name>`; the caller's description is restored.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = Labelled(spark, s"Tables.load: $name")(spark.read.parquet(s"$dir/$name.parquet"))
    if (name == "events" && df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df.withColumn("ts", timestamp_micros(expr("(ts - pmod(ts, 1000)) div 1000")))
    else df
  }

  /** Register every table as a temp view so `spark.sql` works too. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** Newline-delimited text source — the reference's input model
    * (reference `src/main.c:17`, `getline` loop). One Dataset row per line.
    */
  def text(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.textFile(paths: _*).toDF("line")
}
