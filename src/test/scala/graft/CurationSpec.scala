package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import graft.operators.{Curation, Dedup, Labelled}
import graft.sources.Tables

/** Laws for the end-to-end curation pass (q48). */
class CurationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("crafted corpus: every verdict branch fires with the right ref") {
    import spark.implicits._
    val rich = (1 to 120).map(i => s"word$i unique token number $i").mkString(" ")
    val docs = Seq(
      (1L, rich),                 // kept
      (2L, rich),                 // exact dup of 1 → exact_dup ref 1
      (3L, "tiny"),               // low_quality (few words)
      (4L, rich + " trailing near duplicate tail"), // near-dup of 1
      (5L, (1 to 150).map(i => s"other vocabulary item $i").mkString(" "))
    ).toDF("doc_id", "text")
    // doc 4 shares all but its 4 trailing shingles with doc 1 (J ≈ 0.99),
    // well above the canonical nearDupEdges threshold
    val got = Curation.curate(docs, minQuality = 0.15)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(2), Option(r.get(3))))
    assert(got.toSeq == Seq(
      (1L, "kept", None),
      (2L, "exact_dup", Some(1L)),
      (3L, "low_quality", None),
      (4L, "near_dup", Some(1L)),
      (5L, "kept", None)))
  }

  test("incremental curation == from-scratch curation (crafted delta + sf corpus)") {
    import spark.implicits._
    import graft.operators.Dedup
    val rich = (1 to 120).map(i => s"word$i unique token number $i").mkString(" ")
    val other = (1 to 150).map(i => s"other vocabulary item $i").mkString(" ")
    val corpus = Seq(
      (1L, rich), (2L, rich), (3L, "tiny"), (4L, other)
    ).toDF("doc_id", "text")
    val delta = Seq(
      (10L, rich),                                   // exact dup of a corpus keeper
      (11L, rich + " trailing near duplicate tail"), // near-dup crossing the cut
      (12L, other + " another close tail variant"),  // near-dup of corpus doc 4
      (13L, "junk"),                                 // low quality
      (14L, (1 to 130).map(i => s"fresh delta content piece $i").mkString(" "))
    ).toDF("doc_id", "text")
    val all = corpus.union(delta)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2),
        Option(r.get(3)))).toSet
    val full = rows(Curation.curate(all))
    val inc = rows(Curation.curateIncremental(
      corpus, delta, Dedup.nearDupEdges(Curation.exactKeepers(corpus))))
    assert(inc == full, s"diff: ${(full -- inc) ++ (inc -- full)}")

    // and on the sf corpus at the q62/q64 cut
    val docs = Tables.load(spark, TestSpark.Sf0001, "documents")
    val nf = math.floor(0.8 * docs.agg(max("doc_id")).head.getLong(0)).toLong
    val c2 = docs.filter(col("doc_id") < nf)
    val d2 = docs.filter(col("doc_id") >= nf)
    val full2 = rows(Curation.curate(docs))
    val inc2 = rows(Curation.curateIncremental(
      c2, d2, Dedup.nearDupEdges(Curation.exactKeepers(c2))))
    assert(inc2 == full2)
  }

  test("corpus laws: verdicts partition the corpus, refs point at kept docs") {
    val docs = Tables.load(spark, TestSpark.Sf0001, "documents")
    val out = Curation.curate(docs, minQuality = 0.15).cache()
    try {
      assert(out.count() == docs.count()) // one verdict per doc, no loss
      // dropped-for-duplication docs must reference a doc that was kept
      val refs = out.filter(col("ref_id").isNotNull)
        .select(col("ref_id").as("doc_id")).distinct()
      val notKept = refs.join(out.filter(col("verdict") === "kept"), Seq("doc_id"), "left_anti")
      assert(notKept.isEmpty, "a dropped doc references a non-kept doc")
      // kept and low_quality rows never carry a ref
      assert(out.filter(col("verdict").isin("kept", "low_quality")
        && col("ref_id").isNotNull).isEmpty)
    } finally out.unpersist()
  }

  test("snapshotDiff: every status fires on a crafted pair of snapshots") {
    import spark.implicits._
    val prev = Seq(
      (1L, "alpha"), (2L, "beta"), (3L, "gamma v1"), (4L, null: String)
    ).toDF("doc_id", "text")
    val cur = Seq(
      (1L, "alpha"),      // unchanged
      (3L, "gamma v2"),   // changed
      (4L, null: String), // null-vs-null is unchanged, not churn
      (5L, "delta")       // added
    ).toDF("doc_id", "text") // doc 2 removed
    val got = Curation.snapshotDiff(prev, cur).orderBy("doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(3))
    assert(got.toSeq == Seq(1L -> "unchanged", 2L -> "removed",
      3L -> "changed", 4L -> "unchanged", 5L -> "added"))
  }

  test("snapshotDiff: self-diff is all unchanged; id sets are preserved") {
    val docs = Tables.load(spark, TestSpark.Sf0001, "documents")
    val d = Curation.snapshotDiff(docs, docs).cache()
    try {
      assert(d.count() == docs.count())
      assert(d.filter(col("status") =!= "unchanged").isEmpty)
    } finally d.unpersist()
  }

  test("qualityKeeper: one keeper per cluster, keeper maximizes rounded quality") {
    val docs = Tables.load(spark, TestSpark.Sf0001, "documents")
    val k = Curation.qualityKeeper(docs).cache()
    try {
      assert(k.count() == docs.count(), "total audit: every doc gets a row")
      // exactly one kept member per cluster, and it IS the keeper_id
      val perCluster = k.groupBy("cluster_id")
        .agg(sum("kept").as("n_kept"), count(lit(1)).as("n"))
      assert(perCluster.filter(col("n_kept") =!= 1).isEmpty)
      assert(k.filter(col("kept") === 1 && col("doc_id") =!= col("keeper_id")).isEmpty)
      // the keeper's rounded quality is the cluster max
      val best = k.groupBy("cluster_id").agg(max("quality").as("maxq"))
      val bad = k.filter(col("kept") === 1).join(best, "cluster_id")
        .filter(col("quality") =!= col("maxq"))
      assert(bad.isEmpty, "keeper must carry the cluster's max quality")
      // the fixture corpus must exercise a case where quality-keeper
      // and min-id keeper disagree, or this test proves nothing
      assert(k.filter(col("kept") === 1 && col("doc_id") =!= col("cluster_id"))
        .count() > 0)
    } finally k.unpersist()
  }

  test("curation funnel: per-source counts partition the verdicts, rates exact") {
    val docs = graft.sources.Tables.load(spark, TestSpark.Sf0001, "documents")
    val f = SparkEntry.queries("q105_curation_funnel")(spark, TestSpark.Sf0001)
      .collect()
    assert(f.map(_.getLong(1)).sum == docs.count(),
      "sources partition the corpus")
    f.foreach { r =>
      assert(r.getLong(2) + r.getLong(3) + r.getLong(4) + r.getLong(5) ==
        r.getLong(1), s"verdict counts must partition source ${r.getString(0)}")
      assert(r.getLong(6) == r.getLong(2) * 1000000L / r.getLong(1),
        "kept_ppm is the exact floored rate")
    }
  }

  test("paretoFrontier == the brute-force NOT EXISTS skyline (soundness + completeness)") {
    val docs = Tables.load(spark, TestSpark.Sf0001, "documents")
    val scored = graft.operators.TextAnalysis.qualityScores(docs)
      .filter(org.apache.spark.sql.functions.col("quality").isNotNull)
      .selectExpr("doc_id", "cast(round(quality * 10000) as bigint) as qs",
        "n_words as tokens")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def dominates(a: (Long, Long, Long), b: (Long, Long, Long)) =
      a._2 >= b._2 && a._3 <= b._3 && (a._2 > b._2 || a._3 < b._3)
    val want = scored.filter(b => !scored.exists(a => dominates(a, b)))
      .map(_._1).toSet
    val got = graft.operators.Curation.paretoFrontier(docs)
      .collect().map(_.getLong(0)).toSet
    assert(got == want,
      s"sweep != brute force: extra=${got -- want} missing=${want -- got}")
    assert(got.nonEmpty)
  }

  // ---- gates on the driver, both days in one build ---------------------

  private val Gates = 1 << 13 // the gates' driver-path bound
  private val Bound = 1 << 17 // the near-dup tier's
  private val Forced = -1
  private val Fetch = s"Curation.gates: fetch |D|<=$Gates"

  /** `body` (a frame's build) under the gates' bound `gates`, the
    * near-dup bound `bands` and the skew cap `max`.
    */
  private def under[T](gates: Int, bands: Int, max: Int = Dedup.NearDupMaxBucket)(body: => T): T =
    Labelled.withPolicy(Labelled.Policy(docs = gates, bands = bands, maxBucket = max))(body)

  /** Rows sorted on their printed form. */
  private def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  private def docsDf(docs: Seq[(java.lang.Long, String)], asInt: Boolean = false): DataFrame = {
    val t = if (asInt) IntegerType else LongType
    spark.createDataFrame(
      docs.map { case (id, text) =>
        Row(if (asInt && id != null) Int.box(id.intValue) else id, text)
      }.asJava,
      StructType(Seq(StructField("doc_id", t), StructField("text", StringType))))
  }

  /** `got` has `want`'s schema (names, types, nullability) and rows. */
  private def same(label: String, got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema == want.schema, s"$label: ${got.schema} vs ${want.schema}")
    val (g, w) = (rowsOf(got), rowsOf(want))
    assert(g == w, s"$label: extra ${g.diff(w)}, missing ${w.diff(g)}")
  }

  /** `curate(corpus ∪ delta)` with driver gates and near-dup tier; then
    * the same with both forced distributed, and `curateIncremental`
    * (yesterday's edges derived in the query, or stored) under every
    * pairing of driver and forced gates and near-dup bounds, must all
    * equal it. Whether the driver gates closed is read off the gates'
    * job labels. Returns the from-scratch verdict rows.
    */
  private def differential(label: String, corpus: DataFrame, delta: DataFrame,
      max: Int = Dedup.NearDupMaxBucket, driverGates: Boolean = true): DataFrame = {
    val all = corpus.union(delta)
    val (full, jobs) = TestSpark.jobsDuring(under(Gates, Bound, max)(Curation.curate(all, 0.15)))
    assert(jobs.contains(Fetch), s"$label: $jobs")
    assert(jobs.exists(_.matches("Curation.gates: \\w+ cut")) != driverGates, s"$label: $jobs")
    same(s"$label forced curate", under(Forced, Forced, max)(Curation.curate(all, 0.15)), full)
    val stored = under(Gates, Bound, max)(Dedup.nearDupEdges(Curation.exactKeepers(corpus)))
    for (g <- Seq(Gates, Forced); b <- Seq(Bound, Forced); edges <- Seq(None, Some(stored)))
      same(s"$label incremental gates $g bands $b ${edges.fold("derived")(_ => "stored")}",
        under(g, b, max)(edges.fold(Curation.curateIncremental(corpus, delta))(
          Curation.curateIncremental(corpus, delta, _, 0.15))), full)
    full
  }

  /** A corpus/delta pair exercising every gate rule across the day cut. */
  private def crafted(asInt: Boolean): (DataFrame, DataFrame) = {
    val rich = (1 to 120).map(i => s"word$i unique token number $i").mkString(" ")
    val other = (1 to 150).map(i => s"other vocabulary item $i").mkString(" ")
    // a delta doc d within Jaccard ~0.8 of two corpus docs a and b that
    // are ~0.65 apart (30 of 300 words replaced at either end): d merges
    // their clusters ({a, a2} and {b, b2}, one-word edits)
    val d = (1 to 300).map(i => s"m$i")
    val a = (1 to 30).map(i => s"ax$i") ++ d.drop(30)
    val b = d.take(270) ++ (1 to 30).map(i => s"bx$i")
    def edit(ws: Seq[String]) = ws.updated(150, "edited").mkString(" ")
    // 20 words: 15 distinct scores exactly 0.15 (the gate), 14 falls under
    val atMin = ((1 to 15) ++ (1 to 5)).map(i => s"q$i").mkString(" ")
    val under = ((1 to 14) ++ (1 to 6)).map(i => s"u$i").mkString(" ")
    val corpus = docsDf(Seq[(java.lang.Long, String)](
      (1L, rich), (2L, rich), (3L, "tiny"), (4L, other), (5L, null), (6L, "   "),
      (20L, a.mkString(" ")), (21L, b.mkString(" ")), (22L, edit(a)), (23L, edit(b)),
      (24L, atMin), (25L, under)), asInt)
    val fresh = (1 to 60).map(i => s"fresh$i delta").mkString(" ")
    val delta = docsDf(Seq[(java.lang.Long, String)](
      (30L, rich),                                   // exact dup across the cut
      (31L, other + " another close tail variant"),  // near-dup of corpus doc 4
      (32L, fresh),                                  // exact dup inside the delta ...
      (33L, fresh),                                  // ... of 32
      (34L, "\t \n"),                                // whitespace only: NULL quality
      (40L, d.mkString(" "))), asInt)
    (corpus, delta)
  }

  test("driver gates == forced-distributed gates == curate(corpus ∪ delta), Long and Int ids") {
    for (asInt <- Seq(false, true)) {
      val (corpus, delta) = crafted(asInt)
      val full = differential(s"int=$asInt", corpus, delta)
      val got = full.collect().map(r =>
        r.get(0).toString.toLong -> (r.get(1), r.getString(2), Option(r.get(3)).map(_.toString.toLong)))
        .toMap
      assert(full.schema("doc_id").dataType == (if (asInt) IntegerType else LongType))
      assert(got(2L)._2 == "exact_dup" && got(2L)._3 == Some(1L))
      assert(got(30L)._2 == "exact_dup" && got(30L)._3 == Some(1L), "exact dup across the cut")
      assert(got(33L)._2 == "exact_dup" && got(33L)._3 == Some(32L), "exact dup inside the delta")
      for (k <- Seq(3L, 5L, 6L, 25L, 34L)) assert(got(k)._2 == "low_quality", s"doc $k: ${got(k)}")
      for (k <- Seq(5L, 6L, 34L)) assert(got(k)._1 == null, s"doc $k has NULL quality")
      assert(got(24L)._1 == 0.15 && got(24L)._2 == "kept", s"quality at minQuality: ${got(24L)}")
      assert(got(31L)._2 == "near_dup" && got(31L)._3 == Some(4L))
      // the delta doc merges the two corpus clusters under doc 20
      for (k <- Seq(21L, 22L, 23L, 40L))
        assert(got(k)._2 == "near_dup" && got(k)._3 == Some(20L), s"doc $k: ${got(k)}")
      val (c0, _) = crafted(asInt)
      val yesterday = Curation.curate(c0).collect()
        .map(r => r.get(0).toString.toLong -> r.getString(2)).toMap
      assert(yesterday(21L) == "kept" && yesterday(20L) == "kept", "two clusters before the delta")
    }
  }

  test("a null doc_id or too many docs runs the distributed gates, with the same answer") {
    val (corpus, delta) = crafted(asInt = false)
    val withNull = delta.union(docsDf(Seq[(java.lang.Long, String)]((null, (1 to 40).map(i => s"nullid$i").mkString(" ")))))
    differential("null doc_id", corpus, withNull, driverGates = false)
    val all = corpus.union(delta)
    val (over, jobs) =
      TestSpark.jobsDuring(under(5, Bound)(Curation.curate(all, 0.15)))
    assert(jobs.contains("Curation.gates: fetch |D|<=5") && jobs.exists(_.endsWith(" cut")), jobs)
    same("over the bound", over, Curation.curate(all))
  }

  test("a bucket under the cap in the corpus and over it in the union: yesterday's edges re-validate") {
    // 12 docs of one 40-word boilerplate plus a distinct tail word share
    // most band buckets: 4 in the corpus sit under a cap of 5, and the 8
    // delta docs push those buckets over it
    val boiler = (1 to 40).map(k => s"common$k").mkString(" ")
    val (corpus0, delta0) = crafted(asInt = false)
    val corpus = corpus0.union(docsDf((0 until 4).map(k => (Long.box(100L + k), s"$boiler tail$k"))))
    val delta = delta0.union(docsDf((4 until 12).map(k => (Long.box(100L + k), s"$boiler tail$k"))))
    val stored = under(Gates, Bound, 5)(Dedup.nearDupEdges(Curation.exactKeepers(corpus)))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(stored.count(_._1 >= 100L) == 6, s"yesterday's boilerplate edges: ${stored.toSeq}")
    val full = differential("cap 5", corpus, delta, max = 5)
    val boilerNear = full.filter(col("doc_id") >= 100L && col("verdict") === "near_dup").count()
    assert(boilerNear < 3, s"the union's caps must drop most boilerplate edges ($boilerNear left)")
  }

  test("q64 builds both days once: one gates fetch, one band cut and fetch, no delta-id fetch") {
    val (_, jobs) = TestSpark.jobsDuring(
      SparkEntry.queries("q64_incremental_curation")(spark, TestSpark.Sf0001))
    val gates = jobs.filter(_.startsWith("Curation.gates"))
    assert(gates.nonEmpty && gates.forall(_ == Fetch), jobs)
    assert(jobs.count(_ == "Dedup.minhash: shingle cut") >= 1, jobs)
    assert(jobs.count(_ == "Dedup.minhash: band cut") == 1, jobs)
    assert(jobs.count(_ == s"Dedup.minhash: fetch bands |B|<=$Bound") == 1, jobs)
    assert(jobs.count(_.startsWith("Dedup.minhash: verify")) == 1, jobs)
    assert(!jobs.exists(_.contains("delta ids")), jobs)
    assert(!jobs.exists(_.startsWith("Components.connected")), jobs)
  }
}

