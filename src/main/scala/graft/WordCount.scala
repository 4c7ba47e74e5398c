package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import graft.operators.MR

/** Runnable word-count + search-term CLI — the engine's rendering of the
  * reference's example job (reference `src/main.c:43-64`): tokenize the
  * given files, count words via the MapReduce facade, then point-look-up
  * one term and print `Found "<term>" N times!` or `Word not found!`.
  *
  *   sbt "runMain graft.WordCount <file> [<file>...] <searchterm>"
  *
  * Differences from the reference, all documented SURVEY.md §2.2 fixes:
  * consecutive delimiters don't drop the rest of the line (Q1), every
  * listed file is mapped (Q2/Q3), and the "HashMap sink" is a filtered
  * Dataset lookup — the result stays a lazily-planned Dataset until the
  * single-term collect.
  */
object WordCount {

  /** Reference tokenizer semantics (main.c:17-23, Q1-fixed): split on
    * runs of ' ', '\t', '\n' and '\r' only, empties dropped, case and
    * punctuation preserved. A plain scan: `String.split` with a
    * multi-character regex compiles a `Pattern` on every line.
    */
  def tokenize(line: String): Seq[(String, Int)] = {
    val words = Vector.newBuilder[(String, Int)]
    val n = line.length
    var i = 0
    while (i < n) {
      while (i < n && isDelimiter(line.charAt(i))) i += 1
      val start = i
      while (i < n && !isDelimiter(line.charAt(i))) i += 1
      if (i > start) words += ((line.substring(start, i), 1))
    }
    words.result()
  }

  private def isDelimiter(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r'

  /** Word counts over the files via the MR facade — 1 reduce partition
    * with the reference's default djb2 partitioner, mirroring
    * `MR_Run(argc, argv, Map, 2, Reduce, 1, MR_DefaultHashPartition)`.
    */
  def counts(spark: SparkSession, files: Seq[String]): Dataset[(String, Long)] = {
    import spark.implicits._
    MR.run[String, Int, (String, Long)](
      spark, files, tokenize, (k, vs) => (k, vs.size.toLong),
      numPartitions = 1, partitioner = Some(MR.defaultHashPartition(_, 1)))
  }

  /** Point lookup of one term's count (reference main.c:58 `mapGet`). */
  def lookup(spark: SparkSession, files: Seq[String], term: String): Option[Long] =
    counts(spark, files).filter(col("_1") === term)
      .collect().headOption.map(_._2)

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      println("Invalid usage: ./hashmap <filename> ... <searchterm>")
      sys.exit(1)
    }
    val term = args.last
    val files = args.dropRight(1).toIndexedSeq
    val spark = Graft.session(appName = "graft-wordcount")
    try lookup(spark, files, term) match {
      case Some(n) => println(s"""Found "$term" $n times!""")
      case None => println("Word not found!")
    } finally spark.stop()
  }
}
