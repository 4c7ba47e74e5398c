package graft

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import graft.operators.{Dedup, Labelled}

/** The canonical MinHash paths' two renderings — bands capped, paired and
  * verified on the driver, or the distributed plan (forced by a policy
  * whose `bands` bound is -1) — must agree row for row and on the schema for
  * every entry point that takes them, and both must keep the
  * incremental ≡ from-scratch law.
  */
class NearDupDriverSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val Forced = -1
  private val Bound = 1 << 17
  private val Max = Dedup.NearDupMaxBucket

  /** `body` (a frame's build) under the near-dup bound `bands`. */
  private def under[T](bands: Int)(body: => T): T =
    Labelled.withPolicy(Labelled.Policy(bands = bands))(body)

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** Rows sorted on their printed form (ids first, so equal pairs align). */
  private def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  /** `driver` took the driver path, `forced` did not (unless `anyPlan`:
    * the optimizer folds a distributed plan over empty inputs to an
    * empty local relation), and both have the same schema (names, types,
    * nullability) and rows.
    */
  private def same(label: String, driver: DataFrame, forced: DataFrame,
      anyPlan: Boolean = false): Seq[Seq[Any]] = {
    assert(isLocal(driver), s"$label: the driver path was not taken")
    assert(anyPlan || !isLocal(forced), s"$label: the forced path returned a local relation")
    assert(driver.schema == forced.schema, s"$label: ${driver.schema} vs ${forced.schema}")
    val (d, f) = (rowsOf(driver), rowsOf(forced))
    assert(d == f, s"$label: driver-only ${d.diff(f)}, distributed-only ${f.diff(d)}")
    d
  }

  private def docsDf(docs: Seq[(Long, String)], asInt: Boolean = false): DataFrame = {
    val t = if (asInt) IntegerType else LongType
    spark.createDataFrame(
      docs.map { case (id, text) => Row(if (asInt) id.toInt else id, text) }.asJava,
      StructType(Seq(StructField("doc_id", t), StructField("text", StringType))))
  }

  /** `bases` random docs over a 300-word vocabulary, then near-copies of
    * a third of them (one or two words replaced) and exact copies of a
    * few, under shuffled, spread-out ids.
    */
  private def corpus(seed: Int, bases: Int = 40): Seq[(Long, String)] = {
    val r = new Random(seed)
    def words(k: Int) = Seq.fill(k)(s"w${r.nextInt(300)}")
    val base = Seq.fill(bases)(words(25 + r.nextInt(25)))
    val near = base.take(bases / 3).map { ws =>
      val out = ws.toArray
      for (_ <- 0 to r.nextInt(2)) out(r.nextInt(out.length)) = s"x${r.nextInt(1000)}"
      out.toSeq
    }
    val texts = (base ++ near ++ base.slice(bases / 3, bases / 3 + 3)).map(_.mkString(" "))
    val ids = r.shuffle((0 until texts.size).map(k => 7L * k - 50L))
    ids.zip(texts)
  }

  /** Runs every entry point on both paths over `docs`, split into a corpus
    * (ids below `cut`) and a delta, and checks the two laws.
    */
  private def differential(label: String, docs: DataFrame, cut: Long,
      max: Int = Max): Unit = {
    val corpus = docs.filter(col("doc_id") < cut)
    val delta = docs.filter(col("doc_id") >= cut)
    def pairs(df: DataFrame) =
      df.select("i", "j").collect().map(r => (r.get(0).toString.toLong, r.get(1).toString.toLong)).toSet

    same(s"$label minhashPairs",
      under(Bound)(Dedup.minhashPairs(docs, 3, 16, 4, 0.7, max)),
      under(Forced)(Dedup.minhashPairs(docs, 3, 16, 4, 0.7, max)))
    if (max == Max)
      same(s"$label nearDupEdges", under(Bound)(Dedup.nearDupEdges(docs)),
        under(Forced)(Dedup.nearDupEdges(docs)))
    same(s"$label incrementalNearDupEdges",
      under(Bound)(Dedup.incrementalNearDupEdges(corpus, delta, 3, 16, 4, 0.7, max)),
      under(Forced)(Dedup.incrementalNearDupEdges(corpus, delta, 3, 16, 4, 0.7, max)))

    val dir = java.nio.file.Files.createTempDirectory("graft_nd_driver_").toString
    Dedup.writeIndex(corpus, dir)
    val index = Dedup.loadIndex(spark, dir)
    val union = Seq(Bound, Forced).map { b =>
      val stored = under(b)(Dedup.minhashPairs(corpus, 3, 16, 4, 0.7, max))
      val fromScratch = pairs(under(b)(Dedup.minhashPairs(docs, 3, 16, 4, 0.7, max)))
      val inc = under(b)(Dedup.revalidatedUnionEdges(corpus, delta, stored, 3, 16, 4, 0.7, max))
      val viaIndex = under(b)(Dedup.revalidatedUnionEdgesIndexed(index, delta, stored, 0.7, max))
      // the incremental ≡ from-scratch law, on each path
      assert(pairs(inc) == fromScratch, s"$label bound $b: incremental drifts")
      assert(pairs(viaIndex) == fromScratch, s"$label bound $b: indexed drifts")
      (inc, viaIndex)
    }
    same(s"$label revalidatedUnionEdges", union.head._1, union.last._1)
    same(s"$label revalidatedUnionEdgesIndexed", union.head._2, union.last._2)
  }

  test("random corpora with planted near-dups: driver path == distributed, all five entry points") {
    for (seed <- Seq(11, 12)) {
      val docs = corpus(seed)
      val df = docsDf(docs)
      val found = rowsOf(under(Bound)(Dedup.minhashPairs(df, 3, 16, 4, 0.7, Max)))
      // 16 planted pairs; a short doc with two words replaced can fall
      // under 0.7, so most, not all, verify
      assert(found.size >= 8, s"seed $seed: planted pairs should verify, got ${found.size}")
      differential(s"seed $seed", df, cut = docs.map(_._1).sorted.apply(docs.size * 2 / 3))
    }
  }

  test("an over-cap hot bucket under a small maxBucketSize, and maxBucketSize = 0") {
    // 12 identical boilerplate docs fill one bucket per band; a cap of 5
    // drops all four, a cap of 0 keeps them (66 pairs at Jaccard 1.0).
    // The corpus holds 4 of them (under the cap, so their 6 edges are
    // stored) and the delta 8, which pushes every shared bucket over it
    val boiler = (1 to 40).map(k => s"common$k").mkString(" ")
    val docs = corpus(21, bases = 24) ++ (0 until 12).map(k => (1000L + k, boiler))
    val df = docsDf(docs)
    differential("cap 5", df, cut = 1004L, max = 5)
    differential("no cap", df, cut = 1004L, max = 0)
    val capped = rowsOf(under(Bound)(Dedup.minhashPairs(df, 3, 16, 4, 0.7, 5)))
    val uncapped = rowsOf(under(Bound)(Dedup.minhashPairs(df, 3, 16, 4, 0.7, 0)))
    assert(!capped.exists(_.head.toString.toLong >= 1000L), "the hot bucket must be dropped")
    assert(uncapped.count(_.head.toString.toLong >= 1000L) == 66)
  }

  test("Int ids and an empty input take the driver path with the distributed schema") {
    val docs = corpus(31)
    differential("int ids", docsDf(docs, asInt = true),
      cut = docs.map(_._1).sorted.apply(docs.size / 2))
    val empty = docsDf(Nil)
    same("empty minhashPairs", under(Bound)(Dedup.minhashPairs(empty, 3, 16, 4, 0.7, Max)),
      under(Forced)(Dedup.minhashPairs(empty, 3, 16, 4, 0.7, Max)), anyPlan = true)
    same("empty incremental",
      under(Bound)(Dedup.incrementalNearDupEdges(empty, empty, 3, 16, 4, 0.7, Max)),
      under(Forced)(Dedup.incrementalNearDupEdges(empty, empty, 3, 16, 4, 0.7, Max)),
      anyPlan = true)
  }

  test("a null doc_id takes the distributed fallback and returns its answer") {
    val docs = corpus(41)
    val withNull = spark.createDataFrame(
      (docs.map { case (id, t) => Row(id, t) } :+ Row(null, docs.head._2)).asJava,
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    val (got, jobs) = TestSpark.jobsDuring(
      under(Bound)(Dedup.minhashPairs(withNull, 3, 16, 4, 0.7, Max)))
    assert(!isLocal(got), "a null doc_id must fall back")
    assert(jobs.exists(_.startsWith("Dedup.minhash: fetch bands")), jobs)
    assert(!jobs.exists(_.startsWith("Dedup.minhash: verify")), jobs)
    assert(got.schema == under(Forced)(Dedup.minhashPairs(withNull, 3, 16, 4, 0.7, Max)).schema)
    assert(rowsOf(got) ==
      rowsOf(under(Forced)(Dedup.minhashPairs(withNull, 3, 16, 4, 0.7, Max))))
    val cut = docs.map(_._1).sorted.apply(docs.size / 2)
    val inc = under(Bound)(Dedup.incrementalNearDupEdges(withNull.filter(col("doc_id") < cut),
      withNull.filter(col("doc_id") >= cut || col("doc_id").isNull), 3, 16, 4, 0.7, Max))
    assert(!isLocal(inc), "a null delta doc_id must fall back")
  }

  test("frames over the bound fall back to the distributed answer from the band cut") {
    // 56 docs are 224 band rows: a bound of 100 overflows the band fetch;
    // a bound of 300 fits the bands but not the candidates' shingle rows
    // (about 30 docs of 25-49 shingles), so the verify fetch overflows
    val docs = corpus(51)
    val df = docsDf(docs)
    val cut = docs.map(_._1).sorted.apply(docs.size * 2 / 3)
    val (corpusDf, delta) = (df.filter(col("doc_id") < cut), df.filter(col("doc_id") >= cut))
    def fallsBack(label: String, got: DataFrame, forced: DataFrame): Unit = {
      assert(!isLocal(got), s"$label: the driver path should have fallen back")
      assert(got.schema == forced.schema, s"$label: ${got.schema} vs ${forced.schema}")
      assert(rowsOf(got) == rowsOf(forced), s"$label: rows differ")
    }
    val forced = under(Forced)(Dedup.minhashPairs(df, 3, 16, 4, 0.7, Max))
    val stored = under(Forced)(Dedup.minhashPairs(corpusDf, 3, 16, 4, 0.7, Max))
    for ((bound, overflowing) <- Seq(100 -> "bands", 300 -> "verify")) {
      val (got, jobs) =
        TestSpark.jobsDuring(under(bound)(Dedup.minhashPairs(df, 3, 16, 4, 0.7, Max)))
      assert(jobs.exists(_.startsWith("Dedup.minhash: fetch bands")), jobs)
      assert(jobs.exists(_.startsWith("Dedup.minhash: verify")) == (overflowing == "verify"), jobs)
      fallsBack(s"$overflowing minhashPairs", got, forced)
      fallsBack(s"$overflowing incrementalNearDupEdges",
        under(bound)(Dedup.incrementalNearDupEdges(corpusDf, delta, 3, 16, 4, 0.7, Max)),
        under(Forced)(Dedup.incrementalNearDupEdges(corpusDf, delta, 3, 16, 4, 0.7, Max)))
      val inc =
        under(bound)(Dedup.revalidatedUnionEdges(corpusDf, delta, stored, 3, 16, 4, 0.7, Max))
      fallsBack(s"$overflowing revalidatedUnionEdges", inc,
        under(Forced)(Dedup.revalidatedUnionEdges(corpusDf, delta, stored, 3, 16, 4, 0.7, Max)))
      assert(rowsOf(inc.select("i", "j")) == rowsOf(forced.select("i", "j")),
        s"$overflowing: incremental drifts from scratch")
    }
  }

  test("the verify fetch's label counts candidates, over-cap buckets and dropped band rows") {
    val boiler = (1 to 40).map(k => s"common$k").mkString(" ")
    val twin = (1 to 30).map(k => s"word$k").mkString(" ")
    val df = docsDf((0 until 12).map(k => (100L + k, boiler)) ++
      Seq((1L, s"$twin tailA"), (2L, s"$twin tailB")))
    val sc = spark.sparkContext
    sc.setJobDescription("driver-spec caller")
    try {
      val (rows, jobs) = TestSpark.jobsDuring(
        rowsOf(under(Bound)(Dedup.minhashPairs(df, 3, 16, 4, 0.7, 5))))
      assert(rows.map(_.take(2).map(_.toString.toLong)) == Seq(Seq(1L, 2L)), rows)
      assert(jobs.contains(s"Dedup.minhash: fetch bands |B|<=$Bound"), jobs)
      assert(jobs.contains("Dedup.minhash: verify 1 candidates over 2 docs; " +
        "cap 5 dropped 4 buckets, 48 band rows"), jobs)
      assert(sc.getLocalProperty("spark.job.description") == "driver-spec caller")
    } finally sc.setJobDescription(null)
  }
}
