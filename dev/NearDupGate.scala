package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.util.Random

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.{coalesce, lit, md5}

import graft.operators.{Ckpt, Curation, Dedup, Labelled, TextAnalysis}

/** Times `Dedup.nearDupEdges` on both sides of its driver-path bound:
  * the gated call (the `Labelled.Policy` bound `bands` set to `GATE`,
  * by default the policy's own) against the forced distributed plan
  * (bound -1), alternating which runs first, on
  * synthetic corpora of `n` docs (40–60 words over a 20,000-word
  * vocabulary; every 20th doc is a one-word edit of another, so a tenth
  * of the docs are near-dup candidates). A doc has 4 band rows. Each
  * size also reports the driver heap that a band fetch of that size and
  * its buckets hold after a full GC.
  *
  * Not part of the build. Compile it with the Scala compiler from the
  * Spark install (`scala.tools.nsc.Main`, classpath: the Spark jars plus
  * `target/scala-2.13/classes`) into `target/neardup-gate`, then run
  * `graft.NearDupGate` with `dev/run.sh`'s JVM flags and classpath plus
  * that directory, for example with the arguments
  * `/tmp/ndgate 5 16384 24576 32768 40960`.
  *
  * Arguments: a directory for the generated parquet corpora (reused
  * across runs), timed reps per path (one untimed warm-up rep runs
  * first), then the corpus sizes in docs. Prints one `RESULT` line per
  * call (wall seconds, jobs, edges, whether the result is a local
  * relation, i.e. the driver path completed) and one `HEAP` line per
  * size.
  *
  * With `gates` as the first argument it times `Curation`'s gates
  * instead: `exactKeepers(docs).count()` with the gates' driver-path
  * bound `docs` set to `GATE` (by default the policy's own) against the
  * forced distributed cuts (bound -1), on the
  * same corpora, and each `HEAP` line reports the driver heap that the
  * gates fetch of that size holds.
  */
object NearDupGate {
  def textOf(id: Long): String = {
    val base = if (id % 20 == 19) id - 7 else id
    val r = new Random(base * 7919L + 17)
    val len = 40 + r.nextInt(21)
    val ws = Array.fill(len)(s"w${r.nextInt(20000)}")
    if (base != id) { val q = new Random(id); ws(q.nextInt(len)) = s"x${q.nextInt(1000)}" }
    ws.mkString(" ")
  }

  def main(args: Array[String]): Unit = {
    val spark = Graft.session(master = "local[4]", shufflePartitions = 4, appName = "ndgate")
    import spark.implicits._
    val gates = args(0) == "gates"
    val rest = if (gates) args.drop(1) else args
    val (root, reps, sizes) = (rest(0), rest(1).toInt, rest.drop(2).map(_.toLong))
    val gate = sys.env.get("GATE").map(_.toInt)
      .getOrElse(if (gates) Labelled.policy.docs else Labelled.policy.bands)
    // the policy that bounds the path under test at `bound`
    def under(bound: Int) =
      if (gates) Labelled.Policy(docs = bound) else Labelled.Policy(bands = bound)
    val jobs = new AtomicInteger()
    val gateCuts = new AtomicInteger() // jobs of the distributed gates' cuts
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        val d = Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
        if (d.exists(x => x.startsWith("Curation.gates:") && x.endsWith(" cut")))
          gateCuts.incrementAndGet()
      }
    })
    for (n <- sizes) {
      val dir = s"$root/docs_$n"
      if (!new java.io.File(dir).exists())
        spark.range(0, n, 1, 4).map(id => (id.longValue, textOf(id))).toDF("doc_id", "text")
          .write.parquet(dir)
      val docs = spark.read.parquet(dir)
      val paths = Seq("gated" -> gate, "distributed" -> -1)
      for (rep <- 0 to reps; (tag, bound) <- if (rep % 2 == 0) paths else paths.reverse) {
        Ckpt.releaseGraftStorage(spark); System.gc(); Thread.sleep(500)
        jobs.set(0)
        gateCuts.set(0)
        val t0 = System.nanoTime
        val (rows, edgesLocal) =
          if (gates) {
            val kept = Labelled.withPolicy(under(bound))(Curation.exactKeepers(docs, 0.15))
            (kept.count(), true)
          } else {
            val out = Labelled.withPolicy(under(bound))(Dedup.nearDupEdges(docs))
            (out.collect().length.toLong, out.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
          }
        val s = (System.nanoTime - t0) / 1e9
        Thread.sleep(300) // let the listener see the last job
        // for the gates, local = the driver path completed (no gates cut ran)
        val local = if (gates) gateCuts.get == 0 else edgesLocal
        println(f"RESULT n=$n bandRows=${n * 4} path=$tag rep=$rep wall=$s%.3f " +
          s"jobs=${jobs.get} ${if (gates) "keepers" else "edges"}=$rows local=$local gate=$bound")
      }
      val mx = java.lang.management.ManagementFactory.getMemoryMXBean
      def used() = { for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }; mx.getHeapMemoryUsage.getUsed }
      if (gates) {
        // the gates fetch's columns: (doc_id, quality, passed, fp, day)
        val scored = TextAnalysis.qualityScores(docs.select($"doc_id", $"text",
          md5($"text").as("fp"), lit(0).as("day")), "fp", "day")
        val before = used()
        val fetched = scored.select($"doc_id".cast("long"), $"quality",
          coalesce($"quality" >= 0.15, lit(false)), $"fp", $"day").limit(gate + 1).collect()
        val after = used()
        println(f"HEAP n=$n rows=${fetched.length} retainedMB=${(after - before) / 1e6}%.1f")
      } else {
        val bands = Dedup.lshBands(Ckpt.narrowLazy(Dedup.shingles(docs, 3)))
        bands.limit(1).collect()
        val before = used()
        val fetched = bands.select($"doc_id".cast("long"), $"b".cast("long"), $"band_key")
          .limit(gate + 1).collect()
        val buckets = fetched.groupMap(r => (r.getLong(1), r.getString(2)))(_.getLong(0))
        val after = used()
        println(f"HEAP n=$n rows=${fetched.length} buckets=${buckets.size} " +
          f"retainedMB=${(after - before) / 1e6}%.1f")
      }
      Ckpt.releaseGraftStorage(spark)
    }
    spark.stop()
  }
}
