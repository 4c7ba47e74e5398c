package graft

import java.util.Locale

/** Benchmark main: runs every declared query on SPARK_GRAFT_SF_DIR and
  * records ONE JSON line {"metric":...,"value":N,"unit":"sec","value_min":
  * N,"queries":{...},"queries_min":{...},"hist_medians":{...},"errors":
  * {...},"outliers":{...},"sf":...} durably to bench/results.json and
  * BENCH_HISTORY.jsonl. Stdout prints that full line AND then a compact
  * (<1.8 KB) summary line LAST, because the driver's capture keeps only
  * the final ~2000 stdout chars — see the tail of main.
  *
  * Protocol (BASELINE.md): one warm-up PASS over the whole suite (JIT +
  * codegen + parquet footer cache), then 3 timed PASSES, each running
  * every query once in suite order — the official per-query value is
  * the MEDIAN of its 3 cross-pass samples. Pass-major interleaving is
  * the point (round-8 lesson): with the old query-major repeats
  * (3 consecutive runs of one query), a time-localized host-contention
  * window captured ALL samples of whichever queries it covered and
  * manufactured >2× "regressions" on unchanged code. Interleaved, a
  * query's samples are separated by a full suite traversal (minutes),
  * so a disturbance shorter than a pass inflates at most ONE sample —
  * and the median discards it. A query that throws is reported as -1
  * with its error in the "errors" map — never silently recorded as a
  * fast success. All numbers format under Locale.ROOT so the output is
  * valid JSON regardless of host locale.
  *
  * Noise robustness: the record carries, next to each official median,
  * the MIN of the same 3 cross-pass samples ("queries_min"/"value_min"
  * — a hot sample lifts a median, never a min) and the per-query median
  * of prior same-sf runs from BENCH_HISTORY.jsonl ("hist_medians") — so
  * a single noisy capture documents its own stable reference instead of
  * overstating quietly.
  *
  * Host-noise self-labeling: each query's median is compared against the
  * median of its prior runs at the same sf in BENCH_HISTORY.jsonl. A
  * query more than 3× its history lands in "outliers.queries"; when that
  * happens WHOLESALE (≥ max(3, 25%) of comparable queries), the run as a
  * whole is marked "outliers.flag": true — a contaminated record labels
  * itself at capture time instead of reading as a regression.
  *
  * Contamination guard (VERDICT r12 ask #1): labeling wasn't enough —
  * r12's official record was a self-flagged contention capture that
  * still got enshrined. Now, when the would-be record reads dirty (any
  * query > 3× its history median, or total median > 1.25× this run's
  * own total min), the suite runs extra pass PAIRS (median stays odd)
  * and re-judges, up to SPARK_GRAFT_BENCH_RETRY_PAIRS (default 2) —
  * transient host noise is outvoted by the clean majority; a real
  * regression reproduces in every retry and the record reports
  * "guard":{"clean":false} with its retries spent.
  */
object Bench {

  /** JSON number/string rendering shared by the full record and the
    * compact line — ONE escaping definition, so the two can never
    * diverge into one parseable and one malformed output. ScaleBench and
    * IngestBench format their seconds with the same `num`.
    */
  private[graft] def num(v: Double): String =
    String.format(Locale.ROOT, "%.3f", Double.box(v))

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Per-query historical medians from the cumulative history file, for
    * runs at the same sf. Parses our own single-line format with a
    * narrow regex (query keys start with 'q' and carry numeric values;
    * error-map entries have string values and don't match).
    */
  private[graft] def historyMedians(histPath: String, sfDir: String): Map[String, Double] = {
    val qNum = """"(q[0-9][^"]*)"\s*:\s*(-?[0-9][0-9.]*)""".r
    val sfRe = """"sf"\s*:\s*"([^"]*)"""".r
    // FIRST "queries" object only — later objects on the line (errors,
    // outliers.queries ratios) must not be read as timings
    val qObj = """"queries"\s*:\s*\{([^}]*)\}""".r
    try {
      val p = java.nio.file.Paths.get(histPath)
      if (!java.nio.file.Files.exists(p)) Map.empty
      else {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.readAllLines(p).asScala.toSeq
          .filter(l => sfRe.findFirstMatchIn(l).exists(_.group(1) == sfDir))
          .flatMap(l => qObj.findFirstMatchIn(l).map(_.group(1)).toSeq)
          .flatMap(o => qNum.findAllMatchIn(o).map(m => m.group(1) -> m.group(2).toDouble))
          // strictly positive: a 0.000 recorded timing would later put
          // Infinity ratios (invalid JSON) into the outlier map
          .filter(_._2 > 0)
          .groupBy(_._1)
          .collect { case (name, vs) if vs.size >= 3 =>
            val s = vs.map(_._2).sorted
            name -> s(s.size / 2)
          }
      }
    } catch { case _: Throwable => Map.empty } // unreadable history never fails a bench
  }

  /** One timed execution of a query against sfDir: noop-sink write (full
    * execution, no driver materialization), then cache + graft-storage
    * cleanup OUTSIDE the timed region. Operators persist small
    * intermediate frames; each run constructs fresh DataFrames, so the
    * run's cache entries are dropped afterwards — every run pays its own
    * cache build and nothing accumulates across repeats. localCheckpoint
    * blocks are persistent RDDs outside the SQL cache — released too, or
    * storage accumulates across the whole run. Shared with [[ScaleBench]]
    * so both records measure the same protocol.
    */
  private[graft] def timeOnce(
      spark: org.apache.spark.sql.SparkSession, sfDir: String,
      fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double =
    timed(spark)(fn(spark, sfDir).write.format("noop").mode("overwrite").save())._2

  /** `body`'s result and its seconds, then the run-boundary cleanup of
    * [[timeOnce]] outside the timed region: the one timing bracket for
    * callers that also keep what the run returned (BandAgreement's
    * curve rows).
    */
  private[graft] def timed[A](spark: org.apache.spark.sql.SparkSession)(body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    val t = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    graft.operators.Ckpt.releaseGraftStorage(spark)
    (a, t)
  }

  /** One untimed warm-up of `once`, then the min of `runs` timed runs:
    * the protocol of ScaleBench's and IngestBench's points and of
    * BandAgreement's curves (a scaling or probe-cost curve wants the
    * noise floor; a hot repeat can lift a min, never hide a real cost).
    */
  private[graft] def warmMin(runs: Int)(once: () => Double): Double = {
    require(runs >= 1, s"runs must be >= 1, got $runs")
    once()
    Seq.fill(runs)(once()).min
  }

  /** `<dir>=<relScale>` arguments (ScaleBench, BandAgreement), in scale
    * order. The last '=' splits, so a dir may itself contain one.
    */
  private[graft] def dirScales(specs: Seq[String]): Seq[(String, Double)] =
    specs.map { a =>
      val i = a.lastIndexOf('=')
      require(i > 0, s"bad dir spec: $a")
      (a.take(i), a.drop(i + 1).toDouble)
    }.sortBy(_._2)

  private def historyPath: String =
    sys.env.getOrElse("SPARK_GRAFT_BENCH_HISTORY", "BENCH_HISTORY.jsonl")

  /** Append the one-line JSON record `line`, stamped with `at_ms`, to
    * the cumulative bench history (SPARK_GRAFT_BENCH_HISTORY, default
    * BENCH_HISTORY.jsonl). A failed append is logged under `tag`, never
    * fatal: the record itself is already written.
    */
  private def appendHistory(tag: String, line: String): Unit =
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(historyPath),
      s"""{"at_ms":${System.currentTimeMillis()},${line.drop(1)}""" + "\n",
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    catch { case e: Throwable => System.err.println(s"[$tag] history append failed: $e") }

  /** Write `line` to `outPath` (parent dirs created, previous content
    * replaced), then append it to the bench history. Records with their
    * own "metric" never feed [[historyMedians]], which reads only lines
    * whose "sf" matches a bench sf-dir.
    */
  private[graft] def writeRecord(tag: String, outPath: String, line: String): Unit = {
    val out = java.nio.file.Paths.get(outPath)
    Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(out, line + "\n")
    appendHistory(tag, line)
  }

  /** The interleaved-pass measurement core, pure over an injected
    * runner so the protocol itself is unit-testable: one warm-up pass
    * over the whole suite, then `passes` timed passes run PASS-MAJOR
    * (every query once per pass, suite order), per-query official value
    * = median of its cross-pass samples, companion = min. A query that
    * throws in ANY pass (warm-up included) reports (-1, -1) with its
    * first error message — never a partial aggregate that would read as
    * a fast success. Returns (results, errors) with results in suite
    * order.
    */
  private[graft] def interleavedResults[F](
      suite: Seq[(String, F)], passes: Int, runner: F => Double,
      onFailureCleanup: () => Unit = () => ())
      : (Seq[(String, Double, Double)], Seq[(String, String)]) = {
    val (r, e, _) = guardedInterleavedResults(
      suite, passes, maxExtraPairs = 0, runner,
      contaminated = _ => false, onFailureCleanup)
    (r, e)
  }

  /** [[interleavedResults]] plus the capture-time contamination guard
    * (VERDICT r12 ask #1): after the base passes, if `contaminated`
    * judges the would-be record dirty (the caller's predicate — n_high
    * against history, or medians hot against this run's own mins), run
    * additional pass PAIRS (pairs keep the sample count odd, so the
    * official value stays a true median) and re-judge, up to
    * `maxExtraPairs`. A window that inflated one sample per query is
    * outvoted by the growing clean majority; a REAL regression
    * reproduces in every extra pass and the record stays dirty —
    * retries exhaust and the run reports itself contaminated instead
    * of enshrining a polluted pass as official (the r12 failure: a
    * same-day contention window became the round's 403 s record).
    * Returns (results, errors, extraPairsUsed).
    */
  private[graft] def guardedInterleavedResults[F](
      suite: Seq[(String, F)], passes: Int, maxExtraPairs: Int,
      runner: F => Double,
      contaminated: Seq[(String, Double, Double)] => Boolean,
      onFailureCleanup: () => Unit = () => ())
      : (Seq[(String, Double, Double)], Seq[(String, String)], Int) = {
    // the official value is s(size/2), the middle element — only a
    // median for ODD pass counts (an even count would silently report
    // the upper-middle sample, biased high)
    require(passes >= 1 && passes % 2 == 1, s"passes must be odd, got $passes")
    require(maxExtraPairs >= 0, s"maxExtraPairs must be >= 0, got $maxExtraPairs")
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val failed = scala.collection.mutable.Set[String]()
    val samples = scala.collection.mutable.Map[String, List[Double]]()
      .withDefaultValue(Nil)
    def runOne(name: String, fn: F)(record: Double => Unit): Unit =
      try record(runner(fn))
      catch {
        case e: Throwable =>
          onFailureCleanup()
          errors.getOrElseUpdate(name,
            Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
          failed += name
      }
    // warm-up pass over the whole suite; a query that throws here is
    // excluded from the timed passes (reported -1 + error)
    suite.foreach { case (name, fn) => runOne(name, fn)(_ => ()) }
    // timed passes, PASS-MAJOR: consecutive samples of one query are a
    // full suite traversal apart, so a host-contention window shorter
    // than a pass can contaminate at most one of the samples — the
    // median discards it (round 8's query-major repeats lost all 3 at
    // once to one window)
    def runPass(): Unit =
      for ((name, fn) <- suite if !failed(name))
        runOne(name, fn)(t => samples(name) = samples(name) :+ t)
    for (_ <- 1 to passes) runPass()
    // (name, official median across passes, min across passes): the
    // median is the record; the min is the noise floor — a hot sample
    // shows median ≫ min, so a reader (and the judge) can spot residual
    // noise per query without waiting for the next round's history
    def results: Seq[(String, Double, Double)] = suite.map { case (name, _) =>
      val s = samples(name).sorted
      if (failed(name) || s.isEmpty) (name, -1.0, -1.0)
      else (name, s(s.size / 2), s.head)
    }
    var extra = 0
    while (extra < maxExtraPairs && contaminated(results)) {
      extra += 1
      runPass(); runPass()
    }
    (results, errors.toSeq, extra)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Graft.session(appName = "graft-bench", failOnConfMismatch = true)

    def once(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double =
      timeOnce(spark, sfDir, fn)

    // history medians load BEFORE measuring: the contamination guard
    // judges each candidate record against them at capture time
    val histMed = historyMedians(historyPath, sfDir)
    // the record is contaminated when ANY query reads > 3× its own
    // cross-round history median, or the suite's medians run > 25% hot
    // against this run's own mins (the r12 signature: median 35% above
    // min, four queries 3–5× their 15-round bands). Sub-floor queries
    // are excluded from the per-query arm (ADVICE r13): at ~0.1 s a 3×
    // jitter is one scheduler hiccup, and without a floor it forced up
    // to 4 extra full-suite passes and marked the record dirty — the
    // same 0.3 s floor ScaleBench uses for its slope fits.
    def isContaminated(rs: Seq[(String, Double, Double)]): Boolean = {
      val tot = rs.collect { case (_, v, _) if v >= 0 => v }.sum
      val totMin = rs.collect { case (_, _, m) if m >= 0 => m }.sum
      val nHigh = rs.count { case (n, v, _) =>
        v >= GuardFloorSec && histMed.get(n).exists(h => v > 3.0 * h) }
      nHigh > 0 || (totMin > 0 && tot > 1.25 * totMin)
    }
    val maxExtraPairs =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RETRY_PAIRS", "2").toInt
    val (results, errors, extraPairs) = guardedInterleavedResults(
      SparkEntry.queries.toSeq.sortBy(_._1), passes = 3,
      maxExtraPairs = maxExtraPairs,
      runner = once,
      contaminated = isContaminated,
      onFailureCleanup = () => {
        // a failing query may already have persisted frames — clear
        // here too or they'd contaminate the next query's runs
        spark.catalog.clearCache()
        graft.operators.Ckpt.releaseGraftStorage(spark)
      })
    val guardClean = !isContaminated(results)

    val qs = results.map { case (k, v, _) => jstr(k) + ":" + num(v) }.mkString("{", ",", "}")
    // noise-robust companions to the official medians: the min of this
    // run's own 3 timed repeats per query (and its total) — a single hot
    // repeat can lift a median but never the min, so record readers grade
    // against "queries_min" when "queries" looks inflated
    val qsMin = results.map { case (k, _, m) => jstr(k) + ":" + num(m) }.mkString("{", ",", "}")
    val errs = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }.mkString("{", ",", "}")
    val total = results.collect { case (_, v, _) if v >= 0 => v }.sum
    val totalMin = results.collect { case (_, _, m) if m >= 0 => m }.sum

    // label host noise at capture time: compare against this sf's history
    val ratios = results.collect {
      case (name, v, _) if v > 0 && histMed.contains(name) => name -> v / histMed(name)
    }
    val high = ratios.filter(_._2 > 3.0)
    val wholesale = ratios.nonEmpty && high.size >= math.max(3, ratios.size / 4)
    val outliers = s"""{"flag":$wholesale,"compared":${ratios.size},""" +
      s""""queries":${high.map { case (k, r) => jstr(k) + ":" + num(r) }
        .mkString("{", ",", "}")}}"""
    // per-query history medians (same sf, ≥3 prior samples): the
    // cross-round stable reference, emitted so one record carries both
    // "what this run measured" and "what this query normally costs"
    val histJson = results.collect {
      case (name, _, _) if histMed.contains(name) =>
        jstr(name) + ":" + num(histMed(name))
    }.mkString("{", ",", "}")

    // the guard block records what the capture-time contamination check
    // did: how many extra pass pairs ran and whether the final record
    // judged clean — a dirty record that exhausted its retries labels
    // itself instead of reading as a regression
    val guard = s"""{"extra_pairs":$extraPairs,"max_extra_pairs":$maxExtraPairs,"clean":$guardClean}"""
    val line = s"""{"metric":"total","value":${num(total)},"unit":"sec","value_min":${num(totalMin)},"queries":$qs,"queries_min":$qsMin,"hist_medians":$histJson,"errors":$errs,"outliers":$outliers,"guard":$guard,"sf":${jstr(sfDir)}}"""
    // BASELINE.md protocol: the self-contained official record lives in
    // bench/results.json — a durable file a log-tail capture can't
    // truncate (round 5's stdout-only record lost its head to exactly
    // that). Crash-safe capture (VERDICT r13 ask #1): the line ALWAYS
    // lands in a sibling .attempt.json, but the official path is only
    // promoted (atomic move) when the run earned it — zero errors. The
    // r13 incident: a wall-clock-killed run (SparkContext shut down
    // mid-suite, 149 cascade errors) overwrote the official record in
    // place; now such a run leaves the prior official record intact
    // and its partial is inspectable at the attempt path.
    try {
      val out = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench/results.json"))
      Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
      val attempt = out.resolveSibling(out.getFileName.toString + ".attempt")
      java.nio.file.Files.writeString(attempt, line + "\n")
      if (errors.isEmpty)
        java.nio.file.Files.move(attempt, out,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      else System.err.println(
        s"[bench] ${errors.size} errors: official record NOT promoted; partial at $attempt")
    } catch { case e: Throwable => System.err.println(s"[bench] results.json write failed: $e") }
    // cumulative per-run history so round-over-round per-query regressions
    // are machine-diffable (driver reads the stdout line; this appends)
    appendHistory("bench", line)
    spark.stop()
    // The full record is printed first for humans reading the log...
    println(line)
    // ...but the FINAL stdout line must survive a tail capture. The
    // driver keeps only the last ~2000 stdout chars and parses the
    // {"metric":...} line it finds there; at 110+ queries the full-name
    // "queries" map alone is ~2.9 KB, so the full line can NEVER fit —
    // rounds 5 and 6 both lost the line's head to exactly this. The
    // durable full record lives in bench/results.json (and the history
    // file); stdout ends with the length-budgeted compact line.
    println(compactLine(results, errors, wholesale, ratios.size,
      high.size, total, totalMin, sfDir, extraPairs, guardClean))
  }

  /** The tail-capture-safe record: totals, error/outlier summaries, and
    * the slowest per-query timings packed greedily until the line would
    * exceed [[CompactBudget]] chars, with the omitted remainder
    * summarized as a count + its summed seconds. Invariant (BenchSpec):
    * never longer than the budget, whatever the query count — the
    * driver's capture window is ~2000 chars minus a trailing sbt
    * status line.
    */
  private[graft] val CompactBudget = 1750

  /** Minimum official median (sec) for a query to count toward the
    * contamination guard's per-query arm — ScaleBench's 0.3 s fit
    * floor, reused so "too small to time reliably" means one thing.
    */
  private[graft] val GuardFloorSec = 0.3

  private[graft] def compactLine(
      results: Seq[(String, Double, Double)], errors: Seq[(String, String)],
      wholesale: Boolean, nCompared: Int, nHigh: Int,
      total: Double, totalMin: Double, sfDir: String,
      extraPairs: Int = 0, guardClean: Boolean = true): String = {
    val slowFirst = results.filter(_._2 >= 0).sortBy(-_._2)
    val errsCompact =
      if (errors.isEmpty) "{}"
      else errors.take(3).map { case (k, v) => jstr(k) + ":" + jstr(v.take(60)) }
        .mkString("{", ",", if (errors.size > 3) s""","_more":${errors.size - 3}}""" else "}")
    val fixedTail = s""""errors":$errsCompact,"outliers":{"flag":$wholesale,"compared":$nCompared,"n_high":$nHigh},"guard":{"extra_pairs":$extraPairs,"clean":$guardClean},"full_record":"bench/results.json","sf":${jstr(sfDir)}}"""
    val head = s"""{"metric":"total","value":${num(total)},"unit":"sec","value_min":${num(totalMin)},"n_queries":${results.size},"""
    val entries = slowFirst.map { case (k, v, _) => jstr(k) + ":" + num(v) }
    // greedy slowest-first pack: how many entries fit alongside the fixed
    // parts + the omitted-summary fields (~60 chars reserved)
    var used = head.length + fixedTail.length + 60 + """"queries":{},""".length
    val taken = entries.takeWhile { e => used += e.length + 1; used <= CompactBudget }
    val omitted = slowFirst.drop(taken.size)
    head +
      s""""queries_omitted":${omitted.size},"omitted_sec":${num(omitted.map(_._2).sum)},""" +
      s""""queries":${taken.mkString("{", ",", "}")},""" + fixedTail
  }
}
