package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.{PerfbenchBus, QuietGc}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Graft, SparkEntry, WordCount}
import graft.operators.{Ckpt, MR}
import graft.sources.Tables

/** The JVM half of the benchmark: runs one workload closed-loop (one
  * query at a time, the next starting when the previous one completes)
  * and writes what it measured to `<outDir>/result.json`. `run.py` turns
  * that record into metrics; nothing here aggregates.
  *
  * Usage: `Runner <workload> <dataDir> <seconds> <trace 0|1> <outDir> <item...>`
  * where the items are the query names in run order, or for `wordcount`
  * the search term followed by the corpus files.
  *
  * A run is: `Graft.session`; a warm-up pass that doubles as the
  * verification pass (results written for `run.py` to check); timed
  * passes until `seconds` would be exceeded, at least two (one when
  * tracing); and with trace 1, the ten `Tables.load` calls, a second set
  * of timed passes with job/stage/task recording on and a third set
  * without.
  *
  * Every query is measured through the engine's public entry points in
  * four phases, the same protocol as `graft.Bench.timeOnce`:
  *   - build: the query function, which includes every driver action the
  *     operators fire while they construct the DataFrame;
  *   - plan: `queryExecution.executedPlan` (Catalyst analysis,
  *     optimization and physical planning);
  *   - exec: the noop-sink write;
  *   - cleanup: `clearCache` plus `Ckpt.releaseGraftStorage`.
  * A query's latency is build + plan + exec; a pass's time is the sum of
  * its queries' latencies and cleanups. Before each query, untimed, a full
  * GC and a wait for the context cleanup it releases, so that no query
  * pays for collecting or cleaning up after the queries before it.
  */
object Runner {

  /** One unit of closed-loop work: a query, or one word-count job. */
  final case class Step(name: String, build: () => DataFrame)

  def main(args: Array[String]): Unit = {
    require(args.length >= 6,
      "usage: Runner <workload> <dataDir> <seconds> <trace 0|1> <outDir> <item...>")
    val Array(workload, dataDir, seconds, trace, outDir) = args.take(5)
    val items = args.drop(5).toIndexedSeq
    val rec = new Recorder
    val t0 = rec.nowS
    val spark = Graft.session(appName = "graft-perfbench", failOnConfMismatch = true)
    val sessionS = rec.nowS - t0
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    try {
      val h = new Harness(spark, rec)
      val (steps, verify) = workload match {
        case "wordcount" => wordCount(spark, items.head, items.tail)
        case "relational" | "curation" => queries(spark, dataDir, items, s"$outDir/verify")
        case other => throw new IllegalArgumentException(s"unknown workload: $other")
      }
      val w0 = rec.nowS
      val verified = verify()
      val warmupS = rec.nowS - w0
      // two passes at least, so that no latency percentile of a query
      // workload rests on one sample of each query; one when tracing, whose
      // run reports no latency and has two more sets of passes to fit
      val passes = h.timed(steps, seconds.toDouble, minPasses = if (trace == "1") 1 else 2)
      val traced = if (trace == "1") Some(h.traced(steps, seconds.toDouble, dataDir)) else None
      val out = Json.Obj(
        "workload" -> workload,
        "cores" -> spark.sparkContext.defaultParallelism,
        "session_s" -> sessionS,
        "warmup_s" -> warmupS,
        "verify" -> verified,
        "passes" -> passes,
        "trace" -> traced)
      Files.writeString(Paths.get(outDir, "result.json"), Json.render(out))
    } finally spark.stop()
  }

  /** A query workload. Verification writes each result and the oracle
    * SQL the way `graft.Verify` does, for the DuckDB comparison in
    * `run.py`; a query that throws is reported with its error.
    */
  private def queries(spark: SparkSession, dataDir: String, names: Seq[String],
      verifyDir: String): (Seq[Step], () => Json.Obj) = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    val steps = names.map(n => Step(n, () => SparkEntry.queries(n)(spark, dataDir)))
    def verify(): Json.Obj = {
      Files.createDirectories(Paths.get(verifyDir))
      Files.writeString(Paths.get(verifyDir, "oracle_sql.json"),
        Json.render(Json.Obj(names.map(n => n -> SparkEntry.oracleSql.get(n)): _*)))
      Json.Obj(steps.map { s =>
        val error =
          try { s.build().coalesce(1).write.mode("overwrite").parquet(s"$verifyDir/${s.name}"); None }
          catch { case NonFatal(e) => Some(message(e)) }
          finally cleanup(spark)
        s.name -> error
      }: _*)
    }
    (steps, () => verify())
  }

  /** The paper's job in its reference configuration: `WordCount.tokenize`,
    * the djb2 `MR.defaultHashPartition`, a counting reducer and one
    * reducer per core. Verification collects every count and runs
    * `WordCount.lookup` for the search term; the warm-up also runs the
    * timed job once.
    */
  private def wordCount(spark: SparkSession, term: String, files: Seq[String])
      : (Seq[Step], () => Json.Obj) = {
    import spark.implicits._
    val r = spark.sparkContext.defaultParallelism
    def counts() = MR.run[String, Int, (String, Long)](spark, files, WordCount.tokenize,
      (k, vs) => (k, vs.size.toLong), numPartitions = r,
      partitioner = Some(MR.defaultHashPartition(_, r)))
    def verify(): Json.Obj = {
      val all = counts().collect()
      // the timed job once more, untimed: collect and lookup warm a different sink
      counts().write.format("noop").mode("overwrite").save()
      cleanup(spark)
      val top = all.sortBy { case (w, c) => (-c, w) }.take(10)
      Json.Obj(
        "total" -> all.iterator.map(_._2).sum,
        "distinct" -> all.length,
        "top" -> top.map { case (w, c) => Seq(w, c) }.toSeq,
        "term_count" -> all.find(_._1 == term).map(_._2),
        "lookup" -> WordCount.lookup(spark, files, term))
    }
    (Seq(Step("wordcount", () => counts().toDF())), () => verify())
  }


  private[perfbench] def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    Ckpt.releaseGraftStorage(spark)
  }

  private[perfbench] def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)
}

/** Closed-loop passes over the steps, with span recording when tracing. */
private final class Harness(spark: SparkSession, rec: Recorder) {
  import Runner.Step

  private val sc = spark.sparkContext
  private val gc = new QuietGc(sc)
  private var tracing = false
  private var nextSpan = 0
  private var nextSample = 0
  private val spans = mutable.ArrayBuffer[Json.Obj]()

  /** Time `body`; when tracing, record it as a span under `parent` and,
    * for spans that fire jobs, name it in the jobs' local properties.
    */
  private def span[T](parent: Int, kind: String, name: String, jobs: Boolean)
      (body: Int => T): T = {
    val id = nextSpan
    nextSpan += 1
    val start = rec.nowS
    if (tracing && jobs) sc.setLocalProperty(Recorder.SpanProperty, id.toString)
    try body(id)
    finally {
      if (tracing && jobs) sc.setLocalProperty(Recorder.SpanProperty, null)
      if (tracing) spans += Json.Obj("id" -> id, "parent" -> parent, "kind" -> kind,
        "name" -> name, "start" -> start, "end" -> rec.nowS)
    }
  }

  /** Passes until another one would overrun `seconds`; at least `minPasses`. */
  def timed(steps: Seq[Step], seconds: Double, minPasses: Int): Seq[Json.Obj] = {
    val start = rec.nowS
    val times = mutable.ArrayBuffer[Double]()
    val passes = mutable.ArrayBuffer[Json.Obj]()
    do {
      val (t, p) = pass(steps)
      times += t
      passes += p
    } while (passes.size < minPasses ||
      rec.nowS - start + times.sorted.apply(times.size / 2) <= seconds)
    passes.toSeq
  }

  /** One pass over the steps. Its storage peak is the most block-manager
    * storage held at once during the pass (see [[StorageLedger]]).
    */
  private def pass(steps: Seq[Step]): (Double, Json.Obj) = {
    PerfbenchBus.drain(sc)
    rec.resetPeakStorage()
    val input0 = rec.input
    val samples = span(-1, "pass", "pass", jobs = false) { id =>
      steps.map { step =>
        gc.collect(quietMs = 500, maxMs = 10000)
        run(id, step)
      }
    }
    val t = samples.map(_._1).sum
    PerfbenchBus.drain(sc)
    (t, Json.Obj("seconds" -> t, "input_bytes" -> (rec.input - input0),
      "peak_storage_bytes" -> rec.peakStorage, "queries" -> samples.map(_._2)))
  }

  /** (wall seconds, record) of one query, cleanup included. */
  private def run(passSpan: Int, step: Step): (Double, Json.Obj) =
    span(passSpan, "query", step.name, jobs = false) { q =>
      val sample = nextSample
      nextSample += 1
      rec.startQuery(sample)
      val t0 = rec.nowS
      var persisted = 0
      val error =
        try {
          val df = span(q, "phase", "build", jobs = true)(_ => step.build())
          persisted = sc.getPersistentRDDs.size
          span(q, "phase", "plan", jobs = true)(_ => df.queryExecution.executedPlan)
          span(q, "phase", "exec", jobs = true)(
            _ => df.write.format("noop").mode("overwrite").save())
          None
        } catch { case NonFatal(e) => Some(Runner.message(e)) }
      val latency = rec.nowS - t0
      span(q, "phase", "cleanup", jobs = true) { _ =>
        PerfbenchBus.drain(sc)
        Runner.cleanup(spark)
      }
      rec.endQuery()
      (rec.nowS - t0, Json.Obj("name" -> step.name, "span" -> q, "latency_s" -> latency,
        "persisted_rdds" -> persisted, "error" -> error))
    }

  /** The traced run: `Tables.load` of every table, then timed passes with
    * the recorder's job/stage/task capture on, then untraced passes again.
    */
  def traced(steps: Seq[Step], seconds: Double, dataDir: String): Json.Obj = {
    tracing = true
    rec.tracing = true
    span(-1, "sources", "load", jobs = false) { id =>
      Tables.names.foreach(n => span(id, "load", n, jobs = true)(_ => Tables.load(spark, dataDir, n)))
    }
    val passes = timed(steps, seconds, minPasses = 1)
    PerfbenchBus.drain(sc)
    rec.tracing = false
    tracing = false
    // untraced again: the tracing overhead is judged against the untraced
    // passes on both sides, so that warming over the run cancels out
    val after = timed(steps, seconds, minPasses = 1)
    val stages = rec.stageList.map { s =>
      Json.Obj("id" -> s.id, "attempt" -> s.attempt, "start" -> s.start, "end" -> s.end,
        "failed" -> s.failed, "tasks" -> s.tasks, "failed_tasks" -> s.failedTasks,
        "task_run_s" -> s.taskRunSeconds.toSeq, "gc_s" -> s.gcSeconds,
        "shuffle_write_bytes" -> s.shuffleWriteBytes, "shuffle_read_bytes" -> s.shuffleReadBytes,
        "shuffle_records" -> s.shuffleRecords, "spill_bytes" -> s.spillBytes)
    }
    Json.Obj(
      "passes" -> passes,
      "untraced_after" -> after,
      "spans" -> spans.toSeq,
      "jobs" -> rec.jobs.toSeq.map(j => Json.Obj("id" -> j.id, "parent" -> j.parent,
        "start" -> j.start, "end" -> j.end, "ok" -> j.ok, "stages" -> j.stageIds)),
      "stages" -> stages,
      "actions" -> rec.actions.toSeq.map(a =>
        Json.Obj("name" -> a.name, "at" -> a.at, "ok" -> a.ok)))
  }
}

/** Minimal JSON rendering for the run record. */
private[perfbench] object Json {
  final case class Obj(fields: (String, Any)*)

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case o: Obj => o.fields.map { case (k, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case x @ (_: Boolean | _: Int | _: Long) => x.toString
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => throw new IllegalArgumentException(s"not renderable as JSON: $other")
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
