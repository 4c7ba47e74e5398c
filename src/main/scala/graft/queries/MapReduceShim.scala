package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.MR
import graft.sources.Tables

/** The reference's own job, expressed through the MR facade: word count
  * over a text corpus (reference `src/main.c:10-40`) + the search-term
  * lookup (reference `src/main.c:50-61`). Oracle-gated against the same
  * SQL as the native Q01 — proving the shim's shuffle/group/reduce path
  * agrees with the declarative one.
  */
object MapReduceShim {

  // compiled once: `String.split` with a regex compiles it on every line
  private val Whitespace = java.util.regex.Pattern.compile("\\s+")

  def queries: Map[String, Q] = Map(
    "q00_mr_word_count" -> ((spark, dir) => {
      import spark.implicits._
      val lines = Tables.load(spark, dir, "documents").select("text").as[String]
      MR.runOnDataset[String, Int, (String, Long)](
          lines,
          line => Whitespace.split(line).toIndexedSeq.filter(_.nonEmpty).map(w => (w, 1)),
          (k, vs) => (k, vs.size.toLong),
          numPartitions = 32)
        .toDF("word", "cnt")
        .orderBy(col("cnt").desc, col("word").asc)
        .limit(100)
    }))

  // the SAME oracle string as the native q01 — referenced, not copied,
  // so the shim-equals-declarative claim is structural: one edit cannot
  // silently desynchronize the two gates
  def oracles: Map[String, String] = Map(
    "q00_mr_word_count" -> Relational.oracles("q01_word_count"))
}
