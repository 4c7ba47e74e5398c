package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's host-noise self-labeling: history parsing must read the
  * run's real per-query timings — never the outlier-ratio map appended
  * later on the same line — and only compare against a same-sf history
  * deep enough for a stable median.
  */
class BenchSpec extends AnyFunSuite {

  test("static-conf guard: measurement harnesses die on a dropped codegen posture") {
    // a pre-existing default session in the JVM silently drops the
    // static codegen-cache conf; in a Bench/Verify/ScaleBench context
    // that must THROW (the r9 incident: 26 false >2x readings), while
    // interactive CLIs keep the warning
    val ex = intercept[IllegalStateException] {
      Graft.checkStaticConf("100", failHard = true)
    }
    assert(ex.getMessage.contains("codegen.cache.maxEntries"))
    Graft.checkStaticConf("100", failHard = false) // warns, never throws
    Graft.checkStaticConf(Graft.CodegenCacheEntries, failHard = true)
    // and the test JVM's real session must itself pass the hard check
    // (i.e. the posture actually landed here)
    Graft.checkStaticConf(
      TestSpark.spark.conf.get("spark.sql.codegen.cache.maxEntries"),
      failHard = true)
  }

  test("historyMedians: first queries object only, sf-filtered, >= 3 samples") {
    val f = java.nio.file.Files.createTempFile("bh", ".jsonl")
    val lines = Seq(
      // an outliers.queries ratio (9.9) rides the same line and must be ignored
      """{"at_ms":1,"metric":"total","value":9,"unit":"sec","queries":{"q01":1.0,"q02":2.0},"errors":{},"outliers":{"flag":false,"compared":0,"queries":{"q01":9.9}},"sf":"/x/sf0.1"}""",
      """{"queries":{"q01":3.0,"q02":2.0,"q03":1.0},"errors":{},"sf":"/x/sf0.1"}""",
      """{"queries":{"q01":2.0,"q02":2.0,"q03":1.0},"errors":{},"sf":"/x/sf0.1"}""",
      // other sf: never mixed in
      """{"queries":{"q01":100.0,"q02":100.0},"errors":{},"sf":"/y/sf0.01"}""")
    java.nio.file.Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
    val m = Bench.historyMedians(f.toString, "/x/sf0.1")
    assert(m.get("q01").contains(2.0), s"median of (1,3,2): $m")
    assert(m.get("q02").contains(2.0))
    assert(!m.contains("q03"), "two samples are not enough for a stable median")
    assert(Bench.historyMedians(f.toString, "/z/none").isEmpty)
    assert(Bench.historyMedians("/nonexistent/path.jsonl", "/x/sf0.1").isEmpty)
    java.nio.file.Files.delete(f)
  }

  test("historyMedians: new-format lines read the official medians, not min/hist maps") {
    // the record now carries "queries_min" and "hist_medians" companions;
    // history parsing must still pick the FIRST "queries" object (the
    // official medians) — not the min-of-repeats or the echoed history
    val f = java.nio.file.Files.createTempFile("bh2", ".jsonl")
    val line =
      """{"at_ms":1,"metric":"total","value":9,"unit":"sec","value_min":7,""" +
        """"queries":{"q01":3.0},"queries_min":{"q01":1.0},""" +
        """"hist_medians":{"q01":9.0},"errors":{},""" +
        """"outliers":{"flag":false,"compared":1,"queries":{}},"sf":"/x/sf0.1"}"""
    java.nio.file.Files.write(f, Seq(line, line, line).mkString("\n").getBytes("UTF-8"))
    val m = Bench.historyMedians(f.toString, "/x/sf0.1")
    assert(m.get("q01").contains(3.0), s"must read the official median: $m")
    java.nio.file.Files.delete(f)
  }

  test("ScaleBench.slope: log-log least squares recovers the exponent") {
    // exact power laws t = c·s^e
    def pts(e: Double) = Seq(1.0, 10.0, 30.0).map(s => (s, 0.5 * math.pow(s, e)))
    assert(math.abs(ScaleBench.slope(pts(1.0)).get - 1.0) < 1e-9)
    assert(math.abs(ScaleBench.slope(pts(2.0)).get - 2.0) < 1e-9)
    assert(math.abs(ScaleBench.slope(pts(0.0)).get) < 1e-9)
    assert(ScaleBench.slope(Seq((10.0, 1.0))).isEmpty, "one point fits nothing")
    assert(ScaleBench.slope(Seq((10.0, 1.0), (10.0, 2.0))).isEmpty,
      "a degenerate x-range must not divide by zero")
    // historyMedians must never read a scaling record (no "sf" field)
    val f = java.nio.file.Files.createTempFile("bh3", ".jsonl")
    val scaling =
      """{"at_ms":1,"metric":"scaling","unit":"sec","runs":2,"scales":{"1.0":"/x/sf0.1"},""" +
        """"queries":{"q24_exact_dedup":{"times":{"1.0":0.2,"10.0":1.9},"exp_fit":0.98}}}"""
    java.nio.file.Files.write(f, Seq(scaling, scaling, scaling).mkString("\n").getBytes("UTF-8"))
    assert(Bench.historyMedians(f.toString, "/x/sf0.1").isEmpty)
    java.nio.file.Files.delete(f)
  }

  test("interleavedResults: pass-major order, median/min across passes") {
    val order = scala.collection.mutable.ListBuffer[String]()
    // runner cost keyed by (query, visit #): q2's pass-2 sample is hot
    val visits = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    val suite = Seq("q1" -> 1.0, "q2" -> 2.0, "q3" -> 3.0)
    val (res, errs) = Bench.interleavedResults[Double](suite, passes = 3,
      runner = { base =>
        val name = suite.find(_._2 == base).get._1
        order += name
        visits(name) += 1
        if (name == "q2" && visits(name) == 3) base * 50 else base // hot sample
      })
    assert(errs.isEmpty)
    // pass-major: warm-up pass then 3 full passes, never q1,q1,q1
    assert(order.toSeq == Seq.fill(4)(Seq("q1", "q2", "q3")).flatten)
    // the one hot sample (q2, first timed pass = visit 3... visit 1 is
    // warm-up; visits 2-4 are timed) is discarded by the median
    assert(res.find(_._1 == "q2").get._2 == 2.0, s"median must shed one hot sample: $res")
    assert(res.find(_._1 == "q2").get._3 == 2.0)
    assert(res.map(_._1) == Seq("q1", "q2", "q3"), "results keep suite order")
  }

  test("interleavedResults: a window longer than one query's repeats stays contained") {
    // the round-8 failure mode: a contention window spanning ~9
    // consecutive invocations. Query-major repeats (3 per query) would
    // lose ALL samples of 3 queries; interleaved passes lose at most
    // one sample per query — every median must come out clean.
    val n = 20
    val suite = (0 until n).map(i => (f"q$i%02d", 1.0))
    var invocation = 0
    val (res, errs) = Bench.interleavedResults[Double](suite, passes = 3,
      runner = { base =>
        invocation += 1
        // window covers invocations 25..33 (inside timed pass 1: 21..40)
        if (invocation >= 25 && invocation <= 33) base * 10 else base
      })
    assert(errs.isEmpty)
    assert(res.forall(_._2 == 1.0),
      s"every median must survive a 9-invocation window: ${res.filter(_._2 != 1.0)}")
  }

  test("interleavedResults: a throw in any pass reports -1 + first error, others unaffected") {
    val suite = Seq("ok" -> 0, "warmfail" -> 1, "passfail" -> 2)
    val calls = scala.collection.mutable.Map[Int, Int]().withDefaultValue(0)
    var cleanups = 0
    val (res, errs) = Bench.interleavedResults[Int](suite, passes = 3,
      runner = { id =>
        calls(id) += 1
        if (id == 1) throw new RuntimeException("warm boom")
        if (id == 2 && calls(id) == 3) throw new RuntimeException("pass boom")
        1.0
      },
      onFailureCleanup = () => cleanups += 1)
    assert(res.find(_._1 == "ok").get._2 == 1.0)
    assert(res.find(_._1 == "warmfail").get == (("warmfail", -1.0, -1.0)))
    assert(res.find(_._1 == "passfail").get == (("passfail", -1.0, -1.0)),
      "a mid-pass failure must not report its partial samples as a result")
    assert(calls(1) == 1, "a warm-up failure skips every timed pass")
    assert(calls(2) == 3, "a mid-pass failure stops further passes")
    assert(errs.toMap == Map("warmfail" -> "warm boom", "passfail" -> "pass boom"))
    assert(cleanups == 2)
  }

  test("guardedInterleavedResults: a pass-spanning contention window earns extra pairs and settles clean") {
    // the r12 capture mode: contention covering whole passes, so every
    // query's MEDIAN reads hot against its own min. The guard must add
    // pass pairs until the clean majority outvotes the window.
    val suite = Seq("q1" -> 1.0, "q2" -> 2.0)
    var invocation = 0
    def contaminated(rs: Seq[(String, Double, Double)]): Boolean = {
      val tot = rs.map(_._2).sum
      val totMin = rs.map(_._3).sum
      totMin > 0 && tot > 1.25 * totMin
    }
    val (res, errs, extra) = Bench.guardedInterleavedResults[Double](
      suite, passes = 3, maxExtraPairs = 2,
      runner = { base =>
        invocation += 1
        // warm-up = invocations 1-2; timed passes 1-2 (invocations 3-6)
        // are inside the window, pass 3 is clean → median of 3 is hot
        if (invocation >= 3 && invocation <= 6) base * 10 else base
      },
      contaminated = contaminated)
    assert(errs.isEmpty)
    assert(extra == 1, s"one extra pair must suffice (3 clean vs 2 hot): $extra")
    assert(res.forall(r => r._2 == r._3),
      s"medians must settle to the clean floor: $res")
    assert(!contaminated(res))
  }

  test("guardedInterleavedResults: a persistent regression spends its retries and reports dirty") {
    // a REAL slowdown reproduces in every retry — the guard must not
    // launder it into a clean record, only spend its budget and stop
    var invocations = 0
    val (res, _, extra) = Bench.guardedInterleavedResults[Double](
      Seq("q1" -> 1.0), passes = 3, maxExtraPairs = 2,
      runner = { base => invocations += 1; base * 10 }, // always slow
      contaminated = rs => rs.exists(_._2 > 5.0)) // "3x history" stand-in
    assert(extra == 2, "retry budget must be spent, then stop")
    assert(res.head._2 == 10.0, "the reproducing value IS the record")
    // warm-up + 3 base + 2 pairs × 2 passes = 8 invocations
    assert(invocations == 8)
  }

  test("guardedInterleavedResults: a clean run never pays an extra pass") {
    var invocations = 0
    val (_, _, extra) = Bench.guardedInterleavedResults[Double](
      Seq("q1" -> 1.0, "q2" -> 2.0), passes = 3, maxExtraPairs = 2,
      runner = { base => invocations += 1; base },
      contaminated = rs => {
        val tot = rs.map(_._2).sum; val m = rs.map(_._3).sum
        m > 0 && tot > 1.25 * m
      })
    assert(extra == 0)
    assert(invocations == 8, "warm-up + exactly 3 timed passes")
  }

  test("BandAgreement.monotoneAgree: pairwise direction over shared defined arms only") {
    def row(r: Long, p: Long) = (r, 0L, 0L, p)
    // same ordering, different magnitudes → agree
    assert(BandAgreement.monotoneAgree(
      Seq(row(2, 100), row(4, 500), row(8, 900)),
      Seq(row(2, 10), row(4, 50), row(8, 90))))
    // one inverted pair → disagree
    assert(!BandAgreement.monotoneAgree(
      Seq(row(2, 100), row(4, 500), row(8, 900)),
      Seq(row(2, 60), row(4, 50), row(8, 90))))
    // an undefined arm (precision -1, no candidates) is excluded from
    // the judgment rather than read as "smallest"
    assert(BandAgreement.monotoneAgree(
      Seq(row(2, 100), row(4, 500), row(8, 900)),
      Seq(row(2, -1), row(4, 50), row(8, 90))))
    // ties must agree with ties
    assert(BandAgreement.monotoneAgree(
      Seq(row(4, 500), row(8, 500)), Seq(row(4, 7), row(8, 7))))
    assert(!BandAgreement.monotoneAgree(
      Seq(row(4, 500), row(8, 500)), Seq(row(4, 7), row(8, 8))))
    // degenerate: ≤ 1 shared defined arm has zero comparable pairs —
    // a collapsed sampled curve must NOT record agreement vacuously
    assert(!BandAgreement.monotoneAgree(
      Seq(row(2, 100), row(4, 500)), Seq(row(2, -1), row(4, -1))))
    assert(!BandAgreement.monotoneAgree(
      Seq(row(2, 100), row(4, 500)), Seq(row(2, -1), row(4, 50))))
    assert(!BandAgreement.monotoneAgree(Seq.empty, Seq.empty))
  }

  test("ScaleBench: every ScaleQueries/SlopeCeilings name is a registered query") {
    // a typo'd name would silently measure nothing (ceilings) or fail a
    // run at startup (queries) — both lists must stay inside the surface
    val qs = SparkEntry.queries.keySet
    val badQ = ScaleBench.ScaleQueries.filterNot(qs)
    assert(badQ.isEmpty, s"ScaleQueries not in SparkEntry.queries: $badQ")
    val badC = ScaleBench.SlopeCeilings.keySet.filterNot(qs)
    assert(badC.isEmpty, s"SlopeCeilings not in SparkEntry.queries: $badC")
    // every ceiling is positive and every ceiling-gated query that the
    // default suite measures is actually in the suite OR documented as
    // an on-demand diagnostic (q210)
    assert(ScaleBench.SlopeCeilings.values.forall(_ > 0))
  }

  test("compactLine: never exceeds the tail-capture budget, parses, accounts for every query") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // 300 queries with long names — far past what any window could hold
    val results = (0 until 300).map(i =>
      (f"q$i%03d_a_rather_long_query_name_tier", i * 0.017 + 0.05, i * 0.01))
    val errs = (0 until 10).map(i => (s"qerr$i", "x" * 500)) // unbounded messages
    val line = Bench.compactLine(results, errs, wholesale = true,
      nCompared = 290, nHigh = 12, total = 123.456, totalMin = 100.0,
      sfDir = "/root/testdata/sf0.1")
    assert(line.length <= Bench.CompactBudget,
      s"compact line must fit the capture window: ${line.length}")
    val node = mapper.readTree(line) // throws on malformed JSON
    assert(node.get("metric").asText == "total")
    assert(node.get("n_queries").asLong == 300L)
    // every query is either in the map or counted+summed as omitted
    val inline = node.get("queries").size()
    assert(inline + node.get("queries_omitted").asLong == 300L)
    val inlineSum = {
      val it = node.get("queries").elements(); var s = 0.0
      while (it.hasNext) s += it.next().asDouble(); s
    }
    assert(math.abs(inlineSum + node.get("omitted_sec").asDouble
      - results.map(_._2).sum) < 0.01 * results.size,
      "inline + omitted seconds cover the total (to rounding)")
    // the slowest queries are the ones kept inline
    assert(node.get("queries").has("q299_a_rather_long_query_name_tier"))
    assert(!node.get("queries").has("q000_a_rather_long_query_name_tier"))
    // a tiny surface fits whole: nothing omitted
    val small = Bench.compactLine(results.take(5), Nil, wholesale = false,
      nCompared = 5, nHigh = 0, total = 1.0, totalMin = 0.9, sfDir = "/x")
    val sn = mapper.readTree(small)
    assert(sn.get("queries_omitted").asLong == 0L && sn.get("queries").size() == 5)
  }

  test("warmMin: the warm-up is never counted; the value is the min of N") {
    // the warm-up is the fastest call: counting it would read 0.01
    val samples = Iterator(0.01, 5.0, 2.0, 3.0)
    var calls = 0
    assert(Bench.warmMin(3)(() => { calls += 1; samples.next() }) == 2.0)
    assert(calls == 4, "one warm-up + 3 timed runs")
    intercept[IllegalArgumentException](Bench.warmMin(0)(() => 1.0))
  }

  test("dirScales: <dir>=<relScale> splits at the last '=', sorts by scale") {
    assert(Bench.dirScales(Seq("/x/big=10", "/x/a=b=1")) ==
      Seq(("/x/a=b", 1.0), ("/x/big", 10.0)))
    intercept[IllegalArgumentException](Bench.dirScales(Seq("/x/noscale")))
  }

  /** An IngestBench tier with no Spark behind it: batches record their
    * index, the probe builds nothing, each timed probe reads 1, 2, 3, ...
    */
  private def fakeRun(n: Int, compact: Option[(org.apache.spark.sql.SparkSession, String) => Option[Long]])
      : (Seq[(Int, Double)], Double, Seq[Int], Int) = {
    val landed = scala.collection.mutable.ListBuffer[Int]()
    var probes = 0
    val tier = IngestBench.Tier("fake", "fold", (_, i, _) => landed += i, (_, _) => null, compact)
    val (points, after) = IngestBench.runTier(tier, new IngestBench.Inputs(null, "", n),
      "/unused", mk => { mk(); probes += 1; probes.toDouble })
    (points, after, landed.toSeq, probes)
  }

  test("IngestBench.runTier: the probe schedule always holds the first and the last batch") {
    for (n <- Seq(1, 2, 3, 7, 8, 9, 17, 24, 96)) {
      val (points, after, landed, probes) = fakeRun(n, Some((_, _) => Some(n - 1L)))
      val at = points.map(_._1)
      assert(landed == (0 until n), s"every shard lands once, in order (n=$n)")
      assert(at.head == 1 && at.last == n, s"n=$n: $at")
      assert(at == at.distinct.sorted && at.size <= 10, s"about 8 sampled points (n=$n): $at")
      assert(probes == at.size + 1 && after == probes.toDouble,
        s"one probe per point, then one after the compact (n=$n)")
    }
  }

  test("IngestBench.runTier: a compact that does not report the last batch fails loudly") {
    for (bad <- Seq(None, Some(2L), Some(4L))) {
      val ex = intercept[IllegalArgumentException](fakeRun(4, Some((_, _) => bad)))
      assert(ex.getMessage.contains("fake") && ex.getMessage.contains("Some(3)"), ex.getMessage)
    }
  }

  test("IngestBench.runTier: a tier with no compact job reports its final fold as after") {
    val (points, after, _, probes) = fakeRun(5, None)
    assert(after == points.last._2)
    assert(probes == points.size, "no probe runs after the last fold")
  }

  test("IngestBench tiers: record order is the table's, unknown names are rejected") {
    assert(IngestBench.KnownTiers == Seq("neardup", "ivf", "text", "bloom", "profile",
      "budget", "valuehist", "centroids", "transitions", "hazard", "imgfeat"))
    assert(IngestBench.Tiers.filter(_.compact.isEmpty).map(_.name) == Seq("profile"))
    assert(IngestBench.subset(" profile,neardup,") == Seq("neardup", "profile"))
    val ex = intercept[IllegalArgumentException](IngestBench.subset("neardup,nosuch"))
    assert(ex.getMessage.contains("unknown ingest tiers: nosuch"))
  }
}
