package graft

import java.nio.file.{Files, Paths}
import java.util.Locale
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Optimization-round measurement probe (guide §1: measure first).
  *
  * Usage: Probe <sfDir> <planDir> <reps> <name...>
  *
  * For each named query it (a) writes `.explain("formatted")` to
  * `<planDir>/<name>.txt`, and (b) runs the query `reps` times through
  * the SAME noop-sink protocol as [[Bench.timeOnce]] (one untimed
  * warm-up first), printing per-rep wall seconds plus runtime counters
  * from a [[SparkListener]]: jobs, stages, tasks, shuffle bytes
  * written, and shuffle bytes+records read. The counters are what the
  * plan can't show — how many actions an operator really fires (each
  * `localCheckpoint` is an extra job) and how many bytes actually
  * cross an exchange at this sf.
  *
  * A query that throws prints `[probe] <name> ERROR <class>: <message>`
  * and the list goes on; the exit status is 1 if any query failed.
  *
  * Diagnostic tool only: never part of the bench record or any gate.
  */
object Probe {

  private final class Counters extends SparkListener {
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val shufWrite = new AtomicLong
    val shufRead = new AtomicLong
    val shufReadRecs = new AtomicLong
    override def onJobStart(js: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = te.taskMetrics
      if (m != null) {
        shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufReadRecs.addAndGet(m.shuffleReadMetrics.recordsRead)
      }
    }
    def reset(): Unit = {
      jobs.set(0); stages.set(0); tasks.set(0)
      shufWrite.set(0); shufRead.set(0); shufReadRecs.set(0)
    }
    def line: String = f"jobs=${jobs.get}%d stages=${stages.get}%d " +
      f"tasks=${tasks.get}%d shufW=${mb(shufWrite.get)} " +
      f"shufR=${mb(shufRead.get)} shufRecs=${shufReadRecs.get}%d"
    private def mb(b: Long): String =
      String.format(Locale.ROOT, "%.1fMB", Double.box(b / 1e6))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: Probe <sfDir> <planDir> <reps> <name...>")
    val (sfDir, planDir, reps) = (args(0), args(1), args(2).toInt)
    val names = args.drop(3)
    val unknown = names.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    Files.createDirectories(Paths.get(planDir))
    val spark = Graft.session(appName = "graft-probe")
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    // a failing query costs only itself: one ERROR line (which
    // dev/scaling_cores.py's MEDIAN pattern skips), its frames released,
    // and the exit status once the rest of the list has run
    val failed = names.filterNot { name =>
      try {
        val fn = SparkEntry.queries(name)
        spark.sparkContext.setJobDescription(name)
        // plan capture (fresh frame; operators may persist during build)
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(planDir, s"$name.txt"), plan)
        spark.catalog.clearCache()
        graft.operators.Ckpt.releaseGraftStorage(spark)
        // one untimed warm-up + `reps` timed runs of the Bench protocol
        Bench.timeOnce(spark, sfDir, fn)
        val ts = (1 to reps).map { _ =>
          counters.reset()
          val t = Bench.timeOnce(spark, sfDir, fn)
          println(f"[probe] $name rep ${t}%.3fs ${counters.line}")
          t
        }
        val med = ts.sorted.apply(ts.size / 2)
        println(f"[probe] $name MEDIAN ${med}%.3fs MIN ${ts.min}%.3fs")
        true
      } catch {
        case NonFatal(e) =>
          val msg = String.valueOf(e.getMessage).replaceAll("\\s+", " ")
          println(s"[probe] $name ERROR ${e.getClass.getName}: $msg")
          spark.catalog.clearCache()
          graft.operators.Ckpt.releaseGraftStorage(spark)
          false
      }
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
