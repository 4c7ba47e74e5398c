package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, XxHash64}
import org.apache.spark.sql.execution.{ProjectExec, SortExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.spark_partition_id
import org.apache.spark.sql.types.LongType
import graft.operators.MR

/** The MR facade laws (SURVEY.md §5.2 t3): emit multiplicity is preserved
  * through the shuffle, every key is reduced exactly once with all its
  * values, the custom-partitioner path agrees with the Catalyst path and
  * places each key in the reduce partition its partitioner names, and
  * the default partitioner is bit-compatible with the reference's djb2
  * (reference src/mapreduce.c:129-138).
  */
object MRSpec {
  // Top-level object members: lambdas referencing them don't capture the
  // (non-serializable) suite instance.
  def tokenize(line: String): Seq[(String, Int)] =
    line.split("\\s+").toIndexedSeq.filter(_.nonEmpty).map(w => (w, 1))

  def countReducer(k: String, vs: Iterator[Int]): (String, Long) = (k, vs.size.toLong)

  def tokenizeBytes(line: String): Seq[(Array[Byte], Int)] =
    line.split("\\s+").toIndexedSeq.filter(_.nonEmpty)
      .map(w => (w.getBytes(java.nio.charset.StandardCharsets.UTF_8), 1))

  def bytesCountReducer(k: Array[Byte], vs: Iterator[Int]): (String, Long) =
    (new String(k, java.nio.charset.StandardCharsets.UTF_8), vs.size.toLong)

  def tokenizeDoubles(line: String): Seq[(Double, Int)] =
    line.split(" ").toIndexedSeq.map(w => (w.toDouble, 1))

  def doubleCountReducer(k: Double, vs: Iterator[Int]): (Double, Long) = (k, vs.size.toLong)

  /** Tokens `word:i` → `(word, i)`: a unique value per emission, so a
    * reducer can show that each value arrives exactly once.
    */
  def tokenizeIndexed(line: String): Seq[(String, Int)] =
    line.split(" ").toIndexedSeq.filter(_.nonEmpty).map { t =>
      val i = t.lastIndexOf(':')
      (t.take(i), t.drop(i + 1).toInt)
    }

  def valuesReducer(k: String, vs: Iterator[Int]): (String, Seq[Int]) = (k, vs.toSeq.sorted)

  /** Reads no value of "hot", one of "warm", every value of the rest. */
  def partialReducer(k: String, vs: Iterator[Int]): (String, Long) = k match {
    case "hot" => (k, 0L)
    case "warm" => (k, vs.take(1).size.toLong)
    case _ => (k, vs.size.toLong)
  }
}

class MRSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import MRSpec._

  val expectedCounts = Map(
    "Hello" -> 2L, "hello" -> 1L, "world" -> 1L, "the" -> 1L, "quick" -> 1L,
    "brown" -> 1L, "fox." -> 1L, "The" -> 1L, "fox!" -> 1L,
    "trailing" -> 1L, "space" -> 1L)

  test("word count over the fixture matches hand-computed counts") {
    val got = MR.run[String, Int, (String, Long)](
      spark, Seq(TestSpark.resource("words.txt")),
      tokenize, countReducer, numPartitions = 4)
      .collect().toMap
    assert(got == expectedCounts)
  }

  test("custom-partitioner path (djb2) agrees with the Catalyst path") {
    val lines = spark.read.textFile(TestSpark.resource("words.txt"))
    val viaCustom = MR.runOnDataset[String, Int, (String, Long)](
      lines, tokenize, countReducer, 4,
      partitioner = Some(MR.defaultHashPartition(_, 4)))
      .collect().toMap
    assert(viaCustom == expectedCounts)
  }

  test("multiplicity law: total reduced count == number of emitted pairs (ScalaCheck)") {
    val wordGen = Gen.nonEmptyListOf(Gen.oneOf("alpha", "beta", "gamma", "x1", "Y_2", "z.z"))
    val prop = Prop.forAll(wordGen) { words =>
      val lines = spark.createDataset(words.grouped(3).map(_.mkString(" ")).toSeq)
      val total = MR.runOnDataset[String, Int, (String, Long)](
        lines, tokenize, countReducer, 4)
        .collect().map(_._2).sum
      total == words.size
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("partition law: custom partitioner co-locates by hash mod n") {
    val gen = Gen.listOfN(50, Gen.alphaNumStr.suchThat(_.nonEmpty))
    val prop = Prop.forAll(gen) { words =>
      words.isEmpty || {
        val lines = spark.createDataset(words.grouped(5).map(_.mkString(" ")).toSeq)
        // reducer returns (key, partition-consistency marker): every
        // value of a key must be seen in one reduce call
        val got = MR.runOnDataset[String, Int, (String, Long)](
          lines, tokenize, countReducer, 3,
          partitioner = Some(MR.defaultHashPartition(_, 3)))
          .collect().groupBy(_._1)
        got.forall { case (_, rows) => rows.length == 1 } &&
          got.view.mapValues(_.head._2).toMap ==
            words.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("user-partitioner path: each key's reduce partition IS its partitioner id") {
    // regression: the path hash-partitioned on the id, re-hashing it —
    // at n = 4 ids 0, 1 and 3 all landed in Spark partition 3 and two
    // reduce partitions sat empty
    val words = (0 until 64).map(i => s"w$i")
    val lines = spark.createDataset(words.grouped(8).map(_.mkString(" ")).toSeq)
    for (n <- Seq(4, 8)) {
      assert(words.map(MR.defaultHashPartition(_, n)).toSet == (0 until n).toSet,
        s"key set no longer hits every id at n=$n")
      val out = MR.runOnDataset[String, Int, (String, Long)](
        lines, tokenize, countReducer, n,
        partitioner = Some(MR.defaultHashPartition(_, n)))
        .withColumn("pid", spark_partition_id())
      val placed = out.collect().map(r => (r.getString(0), r.getInt(2)))
      assert(placed.length == words.size)
      for ((k, pid) <- placed)
        assert(pid == MR.defaultHashPartition(k, n), s"key=$k n=$n")
      assert(placed.map(_._2).toSet == (0 until n).toSet,
        s"an output partition is empty at n=$n")
      val plan = TestSpark.finalPlan(out)
      assert(plan.contains("Exchange shufflepartitionidpassthrough("), plan)
      assert(!plan.contains("hashpartitioning"), plan)
    }
  }

  test("djb2 reference parity, including keys that overflow 64 bits") {
    assert(MR.defaultHashPartition("", 1000000) == 5381 % 1000000)
    assert(MR.defaultHashPartition("a", 1000000) == 177670 % 1000000)
    // independent model of the reference's unsigned-64 accumulate + mod
    // (mapreduce.c:129-138): BigInt with explicit 2^64 wraparound over
    // the key's UTF-8 bytes as SIGNED chars (the reference's x86-64
    // Linux `char` sign-extends bytes >= 0x80 into the accumulator)
    val two64 = BigInt(1) << 64
    def ref(key: String, n: Int): Int = {
      var h = BigInt(5381)
      key.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        .foreach(b => h = (h * 33 + b).mod(two64))
      (h % n).toInt
    }
    val keys = Seq("hello", "hello world", "the quick brown fox jumps over the lazy dog",
      "supercalifragilisticexpialidocious", "aaaaaaaaaaaaaaaaaaaaaaaaaaaa",
      // non-ASCII: multi-byte UTF-8 with sign-extending high bytes — the
      // case the old UTF-16 code-unit fold diverged on
      "héllo wörld", "日本語テキスト", "naïve café", "Ω≈ç√∫ß", "😀ok")
    for (k <- keys; n <- Seq(3, 7, 26, 1000)) {
      // the longer keys (12+ chars) wrap 64 bits with the top bit set,
      // exercising the unsigned-remainder path; the short ones pin the
      // non-overflow agreement
      assert(MR.defaultHashPartition(k, n) == ref(k, n), s"key=$k n=$n")
    }
    // explicit sign-bit check: the 28-a key's djb2 value must be
    // "negative" as a signed Long or the test isn't covering unsigned mod
    assert({
      var h = 5381L
      "aaaaaaaaaaaaaaaaaaaaaaaaaaaa".foreach(c => h = h * 33 + c.toInt)
      h < 0
    }, "test corpus no longer exercises the unsigned-remainder branch")
  }

  test("Array[Byte] keys group by VALUE equality on both reduce paths") {
    // regression: the run walk used Scala == (reference equality for JVM
    // arrays) — each BINARY-keyed row became its own run, one output per
    // row instead of per key, on both the default and user-partitioner
    // paths
    val lines = spark.read.textFile(TestSpark.resource("words.txt"))
    val viaDefault = MR.runOnDataset[Array[Byte], Int, (String, Long)](
      lines, tokenizeBytes, bytesCountReducer, 4).collect().toMap
    assert(viaDefault == expectedCounts)
    val viaCustom = MR.runOnDataset[Array[Byte], Int, (String, Long)](
      lines, tokenizeBytes, bytesCountReducer, 4,
      partitioner = Some(k => MR.defaultHashPartition(
        new String(k, java.nio.charset.StandardCharsets.UTF_8), 4)))
      .collect().toMap
    assert(viaCustom == expectedCounts)
  }

  test("signed-zero Double keys are each reduced once on both reduce paths") {
    // regression: the key sort ordered 0.0 and -0.0 as equal, keeping an
    // interleaved input order, and the run walk split them into one run
    // per row — five outputs of count 1 instead of three keys
    val lines = spark.createDataset(Seq("0.0 -0.0 0.0 -0.0 1.0"))
    val expected = Seq(("-0.0", 2L), ("0.0", 2L), ("1.0", 1L))
    for (partitioner <- Seq(None, Some((_: Double) => 0))) {
      val got = MR.runOnDataset[Double, Int, (Double, Long)](
        lines, tokenizeDoubles, doubleCountReducer, 1, partitioner)
        .collect().map { case (k, n) => (k.toString, n) }.sorted.toSeq
      assert(got == expected, s"partitioner=$partitioner")
    }
  }

  test("both reduce paths sort each partition on the key's xxhash64 alone, above the exchange") {
    val lines = spark.read.textFile(TestSpark.resource("words.txt"))
    val viaDefault = MR.runOnDataset[String, Int, (String, Long)](
      lines, tokenize, countReducer, 4)
    val viaCustom = MR.runOnDataset[String, Int, (String, Long)](
      lines, tokenize, countReducer, 4, partitioner = Some(MR.defaultHashPartition(_, 4)))
    for ((name, ds) <- Seq("default" -> viaDefault.toDF(), "user" -> viaCustom.toDF())) {
      val planText = TestSpark.finalPlan(ds)
      val plan = ds.queryExecution.executedPlan
      val walk = new AdaptiveSparkPlanHelper {}
      val hashCols = walk.collect(plan) { case p: ProjectExec => p.projectList }.flatten
        .collect { case a: Alias if a.child.isInstanceOf[XxHash64] => a.exprId }
      assert(hashCols.size == 1, s"$name: $planText")
      val sorts = walk.collect(plan) { case s: SortExec => s.sortOrder.map(_.child) }
      assert(sorts.size == 1, s"$name: $planText")
      sorts.head match {
        case Seq(a: Attribute) =>
          assert(a.dataType == LongType && a.exprId == hashCols.head, s"$name: $planText")
        case other => fail(s"$name: sort keys $other\n$planText")
      }
      val exchanges = walk.collect(plan) { case e: ShuffleExchangeExec => e }
      assert(exchanges.size == 1, s"$name: $planText")
      assert(!exchanges.head.child.exists(_.expressions.exists(_.exists(_.isInstanceOf[XxHash64]))),
        s"$name: the exchange carries the hash\n$planText")
      if (name == "user") {
        assert(planText.contains("Exchange shufflepartitionidpassthrough("), planText)
        assert(!planText.contains("hashpartitioning"), planText)
      }
    }
  }

  test("hashGroups: array keys delimit runs by content") {
    // one hash for all rows, so only deepEquals separates the keys
    val sorted = Seq(
      (Array[Byte](1, 2), "a", 7L), (Array[Byte](1, 2), "b", 7L), (Array[Byte](3), "c", 7L))
    val runs = MR.hashGroups(sorted.iterator)
      .map { case (k, vs) => (k.toSeq, vs.toSeq) }.toSeq
    assert(runs == Seq((Seq[Byte](1, 2), Seq("a", "b")), (Seq[Byte](3), Seq("c"))))
  }

  test("hashGroups: runs reconstruct the sorted input; partial consumption is safe") {
    val sorted = Seq(("a", 1, 1L), ("a", 2, 1L), ("b", 3, 2L), ("c", 4, 3L), ("c", 5, 3L),
      ("c", 6, 3L))
    val rebuilt = MR.hashGroups(sorted.iterator)
      .flatMap { case (k, vs) => vs.map((k, _)) }.toSeq
    assert(rebuilt == sorted.map { case (k, v, _) => (k, v) })
    // consume only the key, never the values — next run must still be correct
    val keys = MR.hashGroups(sorted.iterator).map(_._1).toSeq
    assert(keys == Seq("a", "b", "c"))
  }

  test("hashGroups: keys colliding on one hash each come out once, values in input order") {
    val collided = Seq("a", "b", "a", "c", "b", "a").zipWithIndex.map { case (k, v) => (k, v, 9L) }
    val rows = collided :+ (("d", 6, 10L))
    def groups(take: (String, Iterator[Int]) => Seq[Int]) =
      MR.hashGroups(rows.iterator).map { case (k, vs) => (k, take(k, vs)) }.toSeq
    assert(groups((_, vs) => vs.toSeq) ==
      Seq(("a", Seq(0, 2, 5)), ("b", Seq(1, 4)), ("c", Seq(3)), ("d", Seq(6))))
    // a reducer that reads no values, or only one, leaves the next group correct
    assert(groups((_, _) => Nil).map(_._1) == Seq("a", "b", "c", "d"))
    assert(groups((_, vs) => vs.take(1).toSeq) ==
      Seq(("a", Seq(0)), ("b", Seq(1)), ("c", Seq(3)), ("d", Seq(6))))
    assert(groups((k, vs) => if (k == "a") vs.take(1).toSeq else vs.toSeq) ==
      Seq(("a", Seq(0)), ("b", Seq(1, 4)), ("c", Seq(3)), ("d", Seq(6))))
  }

  /** groupPairs' rows regrouped per key: the values of a key's rows,
    * concatenated in output order.
    */
  private def regroup[K, V](rows: Seq[(K, Array[V])]): Map[K, Seq[V]] =
    rows.foldLeft(Map.empty[K, Seq[V]]) { case (m, (k, vs)) =>
      m.updated(k, m.getOrElse(k, Seq.empty) ++ vs)
    }

  private def emitOrder[K, V](pairs: Seq[(K, V)]): Map[K, Seq[V]] =
    pairs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap

  test("groupPairs: a flush at the key bound splits a key across windows, values once in emit order") {
    // windows a a a b | a c | b a | a
    val pairs = Seq("a", "a", "a", "b", "a", "c", "b", "a", "a").zipWithIndex
    val rows = MR.groupPairs(pairs.iterator, maxKeys = 2, maxValues = 100, maxBytes = Long.MaxValue)
      .toSeq
    assert(rows.map(_._1).sorted == Seq("a", "a", "a", "a", "b", "b", "c"))
    assert(regroup(rows) == emitOrder(pairs))
    assert(rows.map(r => (r._1, r._2.length)).sortBy(r => (r._1, -r._2)) ==
      Seq(("a", 3), ("a", 1), ("a", 1), ("a", 1), ("b", 1), ("b", 1), ("c", 1)))
  }

  test("groupPairs: a flush at the value bound splits a key across windows, values once in emit order") {
    // windows a a b a | b a a b | a b: each ships a and b once
    val pairs = Seq("a", "a", "b", "a", "b", "a", "a", "b", "a", "b").zipWithIndex
    val rows = MR.groupPairs(pairs.iterator, maxKeys = 100, maxValues = 4, maxBytes = Long.MaxValue)
      .toSeq
    assert(rows.map(_._1).sorted == Seq("a", "a", "a", "b", "b", "b"))
    assert(regroup(rows) == emitOrder(pairs))
    assert(rows.map(_._2.length).sum == pairs.size)
  }

  test("groupPairs: a flush at the byte budget keeps every value once") {
    val pairs = (0 until 50).map(i => (s"k${i % 7}", i))
    val rows = MR.groupPairs(pairs.iterator, maxKeys = 1 << 16, maxValues = 1 << 20, maxBytes = 1)
      .toSeq
    // a budget of one byte flushes after every pair: nothing groups, nothing is lost
    assert(rows.size == pairs.size)
    assert(regroup(rows) == emitOrder(pairs))
  }

  test("groupPairs: null, 0.0/-0.0 and Array[Byte] keys are never merged across distinct keys") {
    val k1 = Array[Byte](1, 2)
    val k1Copy = Array[Byte](1, 2)
    val k2 = Array[Byte](3)
    val keys: Seq[Any] = Seq(null, 0.0, -0.0, 0.0, null, k1, k2, k1Copy, k1, -0.0, "0.0", 0.0f, -0.0f)
    val pairs = keys.zipWithIndex
    for (bounds <- Seq((1 << 16, 1 << 20), (3, 100))) {
      val rows = MR.groupPairs(pairs.iterator, bounds._1, bounds._2, Long.MaxValue).toSeq
      // each row's values come from emissions whose key equals the row's,
      // by the reduce side's own test (Objects.deepEquals)
      for ((k, vs) <- rows; i <- vs)
        assert(java.util.Objects.deepEquals(keys(i), k), s"value $i (key ${keys(i)}) under key $k")
      assert(rows.flatMap(_._2).sorted == pairs.map(_._2), s"bounds=$bounds")
    }
    // with room for every key, equal scalar keys group and 0.0/-0.0 stay apart
    val rows = MR.groupPairs(pairs.iterator, 1 << 16, 1 << 20, Long.MaxValue).toSeq
    val byKey = rows.collect { case (k, vs) if !k.isInstanceOf[Array[Byte]] =>
      (String.valueOf(k) + "/" + Option(k).map(_.getClass.getSimpleName).getOrElse(""), vs.toSeq)
    }.toMap
    assert(byKey == Map("null/" -> Seq(0, 4), "0.0/Double" -> Seq(1, 3), "-0.0/Double" -> Seq(2, 9),
      "0.0/String" -> Seq(10), "0.0/Float" -> Seq(11), "-0.0/Float" -> Seq(12)))
  }

  test("grouped runOnDataset ≡ a driver-side grouping over skewed inputs, both paths, R = 1, 3, 8 (ScalaCheck)") {
    // a few hot words and a long tail, spread over several map tasks so a
    // key reaches the reducer as several groups
    val wordGen = Gen.frequency(
      8 -> Gen.oneOf("the", "of", "and"), 3 -> Gen.oneOf("x1", "Y_2", "z.z", "ß"),
      1 -> Gen.alphaNumStr.suchThat(_.nonEmpty).map(_.take(6)))
    val gen = for {
      words <- Gen.listOf(wordGen)
      tasks <- Gen.choose(1, 4)
    } yield (words, tasks)
    for (r <- Seq(1, 3, 8); user <- Seq(false, true)) {
      val prop = Prop.forAll(gen) { case (words, tasks) =>
        val tokens = words.zipWithIndex.map { case (w, i) => s"$w:$i" }
        val lines = spark.createDataset(
          spark.sparkContext.parallelize(tokens.grouped(4).map(_.mkString(" ")).toSeq, tasks))
        val got = MR.runOnDataset[String, Int, (String, Seq[Int])](
          lines, tokenizeIndexed, valuesReducer, r,
          partitioner = if (user) Some(MR.defaultHashPartition(_, r)) else None)
          .collect()
        val want = words.zipWithIndex.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
        got.length == want.size && got.toMap == want
      }
      val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(5), prop)
      assert(res.passed, s"R=$r user=$user: ${res.status}")
    }
  }

  test("a reducer that reads 0 or 1 values of a key with several groups leaves the next keys right") {
    // "hot" and "warm" sit in each of 3 map tasks, so each reaches its
    // reducer as 3 groups of several values
    val text = Seq("hot hot warm a hot warm", "warm hot b hot warm a", "hot warm warm c hot hot")
    val lines = spark.createDataset(spark.sparkContext.parallelize(text, 3))
    val words = text.flatMap(_.split(" "))
    val want = words.groupBy(identity).map { case (k, v) => (k, v.size.toLong) } ++
      Map("hot" -> 0L, "warm" -> 1L)
    for (r <- Seq(1, 2); partitioner <- Seq(None, Some((_: String) => 0))) {
      val got = MR.runOnDataset[String, Int, (String, Long)](
        lines, tokenize, partialReducer, r, partitioner).collect()
      assert(got.length == want.size && got.toMap == want, s"R=$r partitioner=$partitioner")
    }
  }

  test("the map side ships one row per key and map task, not one per pair, on both paths") {
    val text = Seq("hot hot hot a hot", "hot b hot a")
    val lines = spark.createDataset(spark.sparkContext.parallelize(text, 2))
    for (partitioner <- Seq(None, Some(MR.defaultHashPartition(_: String, 3)))) {
      val ds = MR.runOnDataset[String, Int, (String, Long)](
        lines, tokenize, countReducer, 3, partitioner).toDF()
      assert(ds.collect().map(r => (r.getString(0), r.getLong(1))).toMap ==
        Map("hot" -> 6L, "a" -> 2L, "b" -> 1L))
      val walk = new AdaptiveSparkPlanHelper {}
      val written = walk.collect(ds.queryExecution.executedPlan) { case e: ShuffleExchangeExec =>
        e.metrics("shuffleRecordsWritten").value
      }
      // {hot, a} from the first task, {hot, b, a} from the second: 5 rows for 9 pairs
      assert(written == Seq(5L), s"partitioner=$partitioner")
    }
  }
}
