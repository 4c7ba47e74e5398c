package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.sql.functions._
import graft.functions.Aggregators
import graft.sources.Tables

/** Approx/UDAF/CLI-tier tests (SURVEY.md §2.5 approx + UDF/UDAF rows):
  * the HLL sketch stays inside its error bound against the exact count,
  * the typed Aggregator matches its algebraic form, and the word-count
  * CLI reproduces the reference's found / not-found contract.
  */
class SketchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("approx_count_distinct within 3*rsd of exact countDistinct") {
    val li = Tables.load(spark, TestSpark.Sf0001, "lineitem")
    val rsd = 0.02
    val row = li.agg(
      countDistinct(col("l_partkey")).as("exact"),
      approx_count_distinct(col("l_partkey"), rsd).as("approx")).head()
    val exact = row.getLong(0).toDouble
    val approx = row.getLong(1).toDouble
    assert(math.abs(approx - exact) / exact <= 3 * rsd,
      s"exact=$exact approx=$approx")
  }

  test("percentile_approx rank error stays within the GK accuracy bound") {
    val li = Tables.load(spark, TestSpark.Sf0001, "lineitem")
    val accuracy = 10000
    val vals = li.select("l_extendedprice").orderBy("l_extendedprice")
      .collect().map(_.getDouble(0))
    val n = vals.length
    for (q <- Seq(0.5, 0.95, 0.99)) {
      val approx = li.agg(
        percentile_approx(col("l_extendedprice"), lit(q), lit(accuracy))).head.getDouble(0)
      // GK summaries guarantee rank error <= n/accuracy; find the
      // approx value's rank and compare against the target rank
      val rank = vals.count(_ <= approx)
      val target = q * n
      assert(math.abs(rank - target) <= n.toDouble / accuracy + 1,
        s"q=$q approx=$approx rank=$rank target=$target n=$n")
    }
  }

  test("wavg Aggregator equals sum(v*w)/sum(w) per group") {
    val li = Tables.load(spark, TestSpark.Sf0001, "lineitem")
    val got = li.groupBy("l_returnflag")
      .agg(
        Aggregators.wavg(col("l_extendedprice"), col("l_quantity")).as("wavg"),
        (sum(col("l_extendedprice") * col("l_quantity")) / sum(col("l_quantity")))
          .as("algebraic"))
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(math.abs(r.getDouble(1) - r.getDouble(2)) < 1e-6,
        s"${r.getString(0)}: ${r.getDouble(1)} vs ${r.getDouble(2)}")
    }
  }

  test("wavg returns NaN on zero total weight") {
    import spark.implicits._
    val df = Seq((1.0, 0.0), (2.0, 0.0)).toDF("v", "w")
    val out = df.agg(Aggregators.wavg(col("v"), col("w"))).head().getDouble(0)
    assert(out.isNaN)
  }

  test("WordCount CLI contract: found term, exact count; missing term, None") {
    val file = TestSpark.resource("words.txt")
    assert(WordCount.lookup(spark, Seq(file), "Hello").contains(2L))
    assert(WordCount.lookup(spark, Seq(file), "hello").contains(1L))
    assert(WordCount.lookup(spark, Seq(file), "zebra").isEmpty)
  }

  test("WordCount.tokenize equals a split on runs of space, tab, LF and CR (ScalaCheck)") {
    // \f, \u000B, \u00A0 and a non-BMP character are not delimiters
    val piece = Gen.oneOf("a", "B", "z", " ", "\t", "\n", "\r", "\f", "\u000B", "\u00A0",
      "\uD83D\uDE00")
    val prop = Prop.forAll(Gen.listOf(piece).map(_.mkString)) { line =>
      WordCount.tokenize(line) ==
        line.split("[ \t\n\r]+").toSeq.filter(_.nonEmpty).map(w => (w, 1))
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
  }

  test("CMS never undercounts, and overestimates stay within the e*T/w bound") {
    import graft.operators.Sketches
    val docs = Tables.load(spark, TestSpark.Sf0001, "documents")
    // probe the ENTIRE corpus vocabulary (bounded, synthetic) + a miss
    val vocab = docs
      .select(explode(expr("filter(split(trim(text), '\\\\s+'), x -> x != '')"))
        .as("w")).distinct().collect().map(_.getString(0)).toSeq.sorted
    val est = Sketches.cmsEstimates(docs, vocab :+ "zzzmissing",
      d = 4, w = 1024).collect()
    assert(est.length == vocab.length + 1, "total audit over all probes")
    val t = est.map(_.getLong(2)).sum
    est.foreach { r =>
      assert(r.getLong(3) >= 0L, s"CMS undercounted ${r.getString(0)}")
      // deterministic corpus + deterministic hashes: if this bound holds
      // once it holds forever (e ≈ 2.718; classic per-row expectation
      // is T/w, the min over 4 rows sits far below e*T/w)
      assert(r.getLong(3) <= math.ceil(math.E * t / 1024).toLong,
        s"${r.getString(0)} overestimate ${r.getLong(3)} breaches e*T/w")
    }
    val miss = est.find(_.getString(0) == "zzzmissing").get
    assert(miss.getLong(2) == 0L, "absent word has exact 0")
  }

  test("CMS degenerate w=1: every estimate collapses to the total token count") {
    import spark.implicits._
    import graft.operators.Sketches
    val df = Seq((1L, "a b c"), (2L, "a a")).toDF("doc_id", "text")
    val r = Sketches.cmsEstimates(df, Seq("a", "zz"), d = 2, w = 1)
      .orderBy("word").collect()
    // one bucket per row absorbs all 5 tokens — est = T for any probe
    assert(r.map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSeq ==
      Seq(("a", 5L, 3L), ("zz", 5L, 0L)))
  }

  test("KMV estimates within 3/sqrt(k-2) of exact distinct per group (q106)") {
    val rows = graft.queries.SketchQueries.queries("q106_kmv_distinct")(
      spark, TestSpark.Sf0001).collect()
    assert(rows.nonEmpty)
    val bound = 3.0 / math.sqrt(62.0) // 3·rsd for k = 64
    rows.foreach { r =>
      val (ap, ep) = (r.getLong(1), r.getLong(2))
      val (asp, esp) = (r.getLong(3), r.getLong(4))
      assert(math.abs(ap - ep).toDouble / ep <= bound,
        s"${r.getString(0)}: parts approx=$ap exact=$ep")
      assert(math.abs(asp - esp).toDouble / esp <= bound,
        s"${r.getString(0)}: supps approx=$asp exact=$esp")
      // sf0.001 exercises both arms: suppliers sit below saturation
      // (k = 64 > distinct supps), where KMV must be EXACT
      if (esp < 64) assert(asp == esp,
        s"below-saturation KMV must be exact: $asp vs $esp")
    }
  }

  test("KMV buffer law: distinct, sorted, capped — duplicates never double-fill") {
    import spark.implicits._
    import graft.operators.Dedup
    // 10 distinct keys, each repeated 7 times, shuffled across partitions
    val df = (0 until 7).flatMap(_ => 1L to 10L).toDF("k").repartition(8)
    val arr = df
      .agg(Aggregators.kmv64(expr(Dedup.h60("concat('t_', cast(k as string))"))))
      .head.getSeq[Long](0)
    assert(arr.length == 10, "below saturation the buffer holds every distinct hash")
    assert(arr == arr.sorted && arr.distinct.length == arr.length)
    // saturated: k=2 instance over the same data keeps the two minima
    val kmv2 = udaf(new Aggregators.KMinValues(2))
    val arr2 = df
      .agg(kmv2(expr(Dedup.h60("concat('t_', cast(k as string))"))))
      .head.getSeq[Long](0)
    assert(arr2 == arr.take(2), "saturated buffer = the k smallest distinct hashes")
  }

  test("histogram percentile bound: exact percentile inside the reported bucket (q107)") {
    val rows = graft.queries.SketchQueries.queries("q107_hist_percentile")(
      spark, TestSpark.Sf0001).collect()
    assert(rows.nonEmpty)
    val li = Tables.load(spark, TestSpark.Sf0001, "lineitem")
      .select(col("l_returnflag"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("cents"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .groupBy(_._1).map { case (f, xs) => f -> xs.map(_._2).sorted.toIndexedSeq }
    rows.foreach { r =>
      val sorted = li(r.getString(0))
      val n = r.getLong(1)
      assert(n == sorted.length)
      for ((pct, i) <- Seq(50 -> 2, 95 -> 3, 99 -> 4)) {
        val hi = r.getLong(i)
        val exact = sorted(((n * pct + 99) / 100 - 1).toInt) // ceil-rank, 1-indexed
        assert(exact <= hi && exact > hi - 10000,
          s"${r.getString(0)} p$pct: exact=$exact not in (${hi - 10000}, $hi]")
      }
    }
  }

  test("CMS guards: empty or ill-formed probes fail fast") {
    import graft.operators.Sketches
    val docs = Tables.load(spark, TestSpark.Sf0001, "documents")
    assertThrows[IllegalArgumentException](
      Sketches.cmsEstimates(docs, Seq.empty))
    assertThrows[IllegalArgumentException](
      Sketches.cmsEstimates(docs, Seq("Bad Word")))
    assertThrows[IllegalArgumentException](
      Sketches.cmsWordMatrix(docs, d = 0))
  }

  test("bloom membership: zero false negatives ever, false positives only flagged rows") {
    import spark.implicits._
    import graft.operators.Sketches
    val corpus = (0 until 200).map(i => (i.toLong, s"corpus document number $i body"))
      .toDF("doc_id", "text")
    // 30 probes are verbatim corpus texts, 70 are novel
    val probes = ((0 until 30).map(i => (1000L + i, s"corpus document number ${i * 6} body")) ++
      (30 until 100).map(i => (1000L + i, s"novel probe text $i payload")))
      .toDF("doc_id", "text")
    // a deliberately tiny filter (m = 64) saturates and forces false
    // positives — the contract under pressure: NO false negative, every
    // present row maybe-present, and the fp mass is visible
    val rows = Sketches.bloomMembership(corpus, probes, k = 4, m = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 100, "total audit: every probe reports")
    assert(rows.count(_._3 == 1L) == 30, "ground truth finds the 30 copies")
    rows.foreach { case (id, maybe, present) =>
      assert(!(present == 1L && maybe == 0L), s"FALSE NEGATIVE at $id")
    }
    // the occupied set is bounded by m however large the corpus
    assert(Sketches.bloomBuild(corpus, k = 4, m = 64).count() <= 64L)
    // and a roomy filter separates: same probes, m = 1 << 17 — fp ~ 0
    val roomy = Sketches.bloomMembership(corpus, probes, k = 4, m = 1 << 17)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(roomy.forall { case (maybe, present) => maybe == present },
      "at load ~0.006 the filter answers exactly")
  }

  test("KMV overlap (q122): union within 3·rsd, below-saturation pairs exact") {
    val rows = graft.queries.SketchQueries.queries("q122_kmv_overlap")(
      spark, TestSpark.Sf0001).collect()
    assert(rows.nonEmpty)
    val bound = 3.0 / math.sqrt(62.0)
    rows.foreach { r =>
      val (k, estU, exU) = (r.getLong(2), r.getLong(3), r.getLong(4))
      val (estI, exI) = (r.getLong(5), r.getLong(6))
      assert(math.abs(estU - exU).toDouble / exU <= bound,
        s"${r.getString(0)}~${r.getString(1)}: est_union=$estU exact=$exU")
      // below saturation the merged sketch IS the union: both exact
      if (exU < 64) {
        assert(k == exU && estU == exU)
        assert(estI == exI, s"below saturation intersection must be exact")
      }
      // estimates are consistent: 0 <= est_inter <= est_union
      assert(estI >= 0 && estI <= estU)
    }
  }

  test("CMS join-size estimate never undercounts; a roomy sketch is near-exact") {
    import graft.operators.Sketches
    val li = Tables.load(spark, TestSpark.Sf0001, "lineitem")
    val ord = Tables.load(spark, TestSpark.Sf0001, "orders")
    val exact = li.select(col("l_orderkey").as("k"))
      .join(ord.select(col("o_orderkey").as("k")), "k").count()
    val est = Sketches.cmsJoinSize(li, "l_orderkey", ord, "o_orderkey")
      .head.getLong(0)
    assert(est >= exact, s"CMS inner product must never undercount: $est < $exact")
    // with w² >> distinct-keys², birthday collisions vanish from at
    // least one of the 4 rows and the min lands exactly (occupied
    // cells, not w, bound the sketch's actual size)
    val roomy = Sketches.cmsJoinSize(li, "l_orderkey", ord, "o_orderkey",
      d = 4, w = 1 << 26).head.getLong(0)
    assert(roomy == exact,
      s"collision-free sketch must be exact: $roomy vs $exact")
  }

  test("CMS join-size is always defined: disjoint key sets estimate 0, not NULL") {
    import spark.implicits._
    import graft.operators.Sketches
    val a = Seq(1L, 2L, 3L).toDF("k")
    val b = Seq(1000001L, 1000002L).toDF("k")
    // 3 + 2 occupied buckets out of a roomy w: every hash row's bucket
    // sets are disjoint, so each row's true dot is 0 — and the min must
    // see those rows (the planner-side consumer expects a number)
    val row = Sketches.cmsJoinSize(a, "k", b, "k", d = 4, w = 1 << 20).head
    assert(!row.isNullAt(0), "est_join_rows must never be NULL")
    assert(row.getLong(0) == 0L, s"disjoint sides must estimate 0: $row")
  }

  test("KMV mergeability law: bottom-k of two capped sketches == union's bottom-k") {
    import spark.implicits._
    import graft.operators.Dedup
    val h = expr(Dedup.h60("concat('mg_', cast(k as string))"))
    val a = (1L to 300L).toDF("k")
    val b = (200L to 500L).toDF("k")
    def sk(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.agg(Aggregators.kmv64(h)).head.getSeq[Long](0)
    val merged = (sk(a) ++ sk(b)).distinct.sorted.take(64)
    val full = sk(a.union(b))
    assert(merged == full,
      "merging capped sketches must equal sketching the full union")
  }
}
