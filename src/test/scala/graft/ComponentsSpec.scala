package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import graft.operators.{Components, Labelled}

/** `Components.connected`'s two paths: the driver-side closure for small
  * edge lists and the distributed min-label fixpoint (reached through a
  * policy whose `edges` bound is -1) must agree on rows, schema and the
  * `maxIter` failure contract.
  */
class ComponentsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val Fixpoint = -1
  private val Cap = 1 << 18

  /** `Components.connected(df, maxIter)` built under the edge bound `cap`. */
  private def connected(df: DataFrame, maxIter: Int, cap: Int): DataFrame =
    Labelled.withPolicy(Labelled.Policy(edges = cap))(Components.connected(df, maxIter))

  /** Sorted (node, component) rows, ids widened to Long. */
  private def rowsOf(df: DataFrame): Seq[(Long, Long)] =
    df.collect().toSeq.map(r => (r.get(0).toString.toLong, r.get(1).toString.toLong)).sorted

  private def edgesDf(edges: Seq[(Long, Long)], asInt: Boolean): DataFrame = {
    val t = if (asInt) IntegerType else LongType
    val rows = edges.map { case (a, b) => if (asInt) Row(a.toInt, b.toInt) else Row(a, b) }
    spark.createDataFrame(rows.asJava,
      StructType(Seq(StructField("i", t, nullable = false), StructField("j", t, nullable = false))))
  }

  // ---- random graphs -------------------------------------------------

  /** `xs` in a random order drawn from the generator's seed. */
  private def shuffled[T](xs: Seq[T]): Gen[Seq[T]] =
    Gen.listOfN(xs.size, Gen.choose(0.0, 1.0)).map(keys => xs.zip(keys).sortBy(_._2).map(_._1))

  /** One shape over the distinct ids `block`. */
  private def shape(block: Seq[Long]): Gen[Seq[(Long, Long)]] = Gen.oneOf(
    block.zip(block.tail), // chain
    block.tail.map(block.head -> _), // star
    for (a <- block; b <- block if a < b) yield (a, b), // clique
    block.grouped(2).collect { case Seq(a, b) => (a, b) }.toSeq) // isolated pairs

  /** 1–4 shapes over disjoint id blocks (negative ids included), then up
    * to one bridge between them, self-loops, reversed duplicates and one
    * exact duplicate, in random order.
    */
  private val graphGen: Gen[Seq[(Long, Long)]] = for {
    sizes <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, Gen.choose(2, 7)))
    base <- Gen.choose(-50L, 50L)
    shaped <- Gen.sequence[List[Seq[(Long, Long)]], Seq[(Long, Long)]](sizes.zipWithIndex.map {
      case (s, b) => Gen.pick(s, (0 until 10).map(base + 10L * b + _))
        .flatMap(ids => shuffled(ids.toSeq)).flatMap(shape)
    })
    all = shaped.flatten
    ends = all.flatMap(e => Seq(e._1, e._2))
    bridges <- Gen.choose(0, 1).flatMap(Gen.listOfN(_, Gen.zip(Gen.oneOf(ends), Gen.oneOf(ends))))
    loops <- Gen.choose(0, 2).flatMap(Gen.listOfN(_, Gen.oneOf(ends).map(x => (x, x))))
    dups <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, Gen.oneOf(all).map(_.swap)))
    edges <- shuffled(all ++ bridges ++ loops ++ dups ++ all.take(1))
  } yield edges

  test("property: the driver closure == the fixpoint, rows and maxIter failures (Long and Int ids)") {
    val prop = Prop.forAll(graphGen, Gen.oneOf(false, true)) { (edges, asInt) =>
      val df = edgesDf(edges, asInt)
      val want = rowsOf(connected(df, 64, Fixpoint))
      assert(rowsOf(connected(df, 64, Cap)) == want, s"edges $edges")
      // every budget in [2, 12]. Once the fixpoint converges at some
      // budget it runs the same rounds at every larger one, so it is not
      // rerun there.
      var fixConverged = false
      for (m <- 2 to 12) {
        val small = Try(connected(df, m, Cap))
        if (!fixConverged) {
          val fix = Try(connected(df, m, Fixpoint))
          assert(small.isSuccess == fix.isSuccess, s"maxIter $m edges $edges")
          for (fe <- fix.failed; se <- small.failed) {
            assert(se.getClass == fe.getClass, s"maxIter $m edges $edges")
            assert(se.getMessage == fe.getMessage, s"maxIter $m edges $edges")
          }
          fixConverged = fix.isSuccess
        }
        if (fixConverged) assert(rowsOf(small.get) == want, s"maxIter $m edges $edges")
      }
      true
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(r.passed, r.status.toString)
  }

  test("a 13-node path: both paths fail at maxIter 11 and converge at 12") {
    // 100..112 with its minimum at one end: D = 12, so the fixpoint
    // needs 6 double-hop rounds
    val df = edgesDf((100L until 112L).map(k => (k, k + 1)), asInt = false)
    val msgs = Seq(Cap, Fixpoint).map(cap =>
      intercept[IllegalStateException](connected(df, 11, cap)).getMessage)
    assert(msgs.distinct == Seq(msgs.head) &&
      msgs.head.contains("within 11 label-propagation hops (maxIter=11)"), msgs)
    val rows = Seq(Cap, Fixpoint).map(cap => rowsOf(connected(df, 12, cap)))
    assert(rows.head == rows.last && rows.head.forall(_._2 == 100L))
  }

  // ---- schema --------------------------------------------------------

  test("the driver closure's schema equals the fixpoint's (nullable and not, Long and Int)") {
    import spark.implicits._
    val frames = Seq(
      Seq((1L, 2L), (2L, 3L)).toDF("i", "j"),
      Seq((1, 2), (5, 6)).toDF("i", "j"),
      Seq((Option(1L), Option(2L))).toDF("i", "j"),
      Seq((Option(7), Option(3))).toDF("i", "j"))
    for (df <- frames) {
      val small = connected(df, 25, Cap)
      val fix = connected(df, 25, Fixpoint)
      assert(small.schema == fix.schema, s"${df.schema}")
      assert(rowsOf(small) == rowsOf(fix))
    }
  }

  // ---- path selection and job labels ---------------------------------

  /** Run `body`, returning its result and the job descriptions of the
    * jobs it started (listener events are asynchronous: wait until the
    * description `last` has been seen or 10 s pass).
    */
  private def withJobs[T](last: String)(body: => T): (T, Seq[String]) = {
    val descs = new ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        descs.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body
      val deadline = System.nanoTime + 10L * 1000000000L
      while (!descs.contains(last) && System.nanoTime < deadline)
        Thread.sleep(20)
      (out, descs.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("a null endpoint or a StringType id takes the fixpoint and returns its answer") {
    import spark.implicits._
    val withNull = Seq((Option(1L), Option(2L)), (Option(2L), Option(3L)), (Option(4L), None))
      .toDF("i", "j")
    val strings = Seq(("b", "a"), ("c", "b"), ("x", "y")).toDF("i", "j")
    for (df <- Seq(withNull, strings)) {
      val (got, descs) = withJobs("Components.connected: round 1") {
        Components.connected(df).collect().map(_.toSeq).toSet
      }
      assert(descs.contains("Components.connected: round 1"), descs)
      assert(got == connected(df, 25, Fixpoint).collect().map(_.toSeq).toSet)
    }
    assert(Components.connected(strings).collect().map(r => r.getString(0) -> r.getString(1)).toMap ==
      Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
  }

  test("jobs carry the operator's labels; the caller's description survives") {
    val sc = spark.sparkContext
    // an RDD-backed frame, not a local relation: the cut and the fetch run
    val local = edgesDf(Seq((1L, 2L), (2L, 3L), (3L, 4L), (9L, 8L)), asInt = false)
    val df = spark.createDataFrame(sc.parallelize(local.collect().toSeq, 2), local.schema)
    sc.setJobDescription("components-spec caller")
    try {
      // the driver closure's result is a local relation: its collect
      // runs no job, so the fetch is the last job to wait for
      val (_, small) = withJobs(s"Components.connected: fetch |E|<=$Cap") {
        Components.connected(df).collect()
      }
      assert(small.contains(s"Components.connected: fetch |E|<=$Cap"), small)
      assert(!small.exists(_.startsWith("Components.connected: round")), small)
      assert(sc.getLocalProperty("spark.job.description") == "components-spec caller")
      val (_, fix) = withJobs("components-spec caller") {
        connected(df, 25, Fixpoint).collect()
      }
      assert(fix.contains("Components.connected: round 1") &&
        fix.contains("Components.connected: round 2"), fix)
      assert(sc.getLocalProperty("spark.job.description") == "components-spec caller")
    } finally sc.setJobDescription(null)
  }

  test("a local-relation edge list is read with no job on the driver path") {
    val df = edgesDf(Seq((1L, 2L), (2L, 3L), (9L, 8L)), asInt = true)
    val (rows, jobs) = TestSpark.jobsDuring(rowsOf(Components.connected(df)))
    assert(jobs.isEmpty, jobs)
    assert(rows == Seq((1L, 1L), (2L, 1L), (3L, 1L), (8L, 8L), (9L, 8L)))
    assert(rows == rowsOf(connected(df, 25, Fixpoint)))
  }
}
