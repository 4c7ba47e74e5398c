package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Components, Dedup, RangeJoin, Similarity}
import graft.sources.Tables

/** Laws for the scale-path operators added in round 2: IVF ANN,
  * bucketed band join, connected components.
  */
class ScaleOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  // ---- RangeJoin -----------------------------------------------------

  test("band join: differential vs naive inequality join on the corpus") {
    val ev = Tables.load(spark, TestSpark.Sf0001, "events")
      .filter(col("event_type") === "click")
      .select(col("event_id"), col("ts"))
    val banded = RangeJoin.timeBandPairs(ev, "event_id", "ts", windowSeconds = 600L)
      .orderBy("i", "j").collect().map(_.toSeq)
    val naive = ev.as("a").join(ev.as("b"),
        col("a.event_id") < col("b.event_id") &&
          abs(unix_micros(col("b.ts")) - unix_micros(col("a.ts"))) <= 600000000L)
      .select(col("a.event_id").as("i"), col("b.event_id").as("j"),
        (unix_micros(col("b.ts")) - unix_micros(col("a.ts"))).as("delta_us"))
      .orderBy("i", "j").collect().map(_.toSeq)
    assert(banded.nonEmpty && banded.toSeq == naive.toSeq)
  }

  test("band join: boundary pairs at exactly ±window included, beyond excluded") {
    import spark.implicits._
    // 10:00:04.999999 vs 10:00:10 crosses a 5s bin boundary (bins 0 and 2
    // with 5s bins would miss it if adjacency were unhandled)
    val df = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00")),
      (2L, Timestamp.valueOf("2024-01-01 10:00:05")),       // Δ(1,2) = 5s exactly
      (3L, Timestamp.valueOf("2024-01-01 10:00:10.000001")) // Δ(2,3) = 5.000001s
    ).toDF("event_id", "ts")
    val got = RangeJoin.timeBandPairs(df, "event_id", "ts", 5L)
      .select("i", "j").orderBy("i", "j")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 2L)))
  }

  // ---- SkewJoin at scale ----------------------------------------------

  /** events with an injected celebrity key: `pmod(event_id, 5) < 3`
    * remaps 60% of rows to user -1 at any corpus scale (the shape of the
    * retired SkewScaleBench, whose record is bench/scaling_r10_skew.json).
    */
  private def skewedEvents(dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .select(col("event_id"),
        when(pmod(col("event_id"), lit(5L)) < 3, lit(-1L))
          .otherwise(col("user_id")).as("user_id"),
        col("value"))

  /** per-user profile side derived from the same skewed events: rows
    * grow with the corpus, columns don't collide with the event side.
    */
  private def userProfiles(ev: DataFrame): DataFrame =
    ev.groupBy("user_id")
      .agg(count(lit(1)).as("u_events"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("u_cents"))

  test("autoJoin flips broadcast -> salted as the profile side outgrows the budget (the SkewScaleBench shape)") {
    val ev = skewedEvents(TestSpark.Sf0001)
    val users = userProfiles(ev)
    // the 1x regime: profile side fits the row budget -> broadcast
    val small = operators.SkewJoin.choose(ev, "user_id", users, "user_id",
      broadcastRows = 1000L)
    assert(small.strategy == "broadcast", s"$small")
    // the grown regime (threshold scaled down in place of the corpus):
    // profile side past the budget + the injected 60% celebrity key ->
    // salted, with fan-out sized to the observed share
    val grown = operators.SkewJoin.choose(ev, "user_id", users, "user_id",
      broadcastRows = 10L)
    assert(grown.strategy == "salted", s"$grown")
    assert(grown.left.maxSharePpm >= 500000L,
      s"injected celebrity key must dominate: $grown")
    assert(grown.buckets >= 4 && grown.buckets <= 32)
    // and the salted execution is result-identical to the plain join
    val plain = ev.join(users, "user_id")
      .agg(count(lit(1)), sum("u_events")).collect().toSeq
    val salted = operators.SkewJoin.salted(ev, users, "user_id",
        disambig = "cast(event_id as string)", buckets = grown.buckets)
      .agg(count(lit(1)), sum("u_events")).collect().toSeq
    assert(salted == plain, "salted branch must lose/duplicate nothing")
  }

  // ---- Components ----------------------------------------------------

  test("components: chain longer than the checkpoint stride converges to one label") {
    import spark.implicits._
    // path 100-101-...-112 forces ≥ 6 propagation rounds (exercises the
    // localCheckpoint lineage cut), plus a separate 2-clique
    val chain = (100L until 112L).map(k => (k, k + 1))
    val edges = (chain :+ (200L, 201L)).toDF("i", "j")
    val got = Components.connected(edges).orderBy("node")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.count(_._2 == 100L) == 13)
    assert(got.filter(_._1 >= 200L).forall(_._2 == 200L))
  }

  test("components: non-convergence at maxIter fails loudly, not silently wrong") {
    import spark.implicits._
    // a 13-node path needs ~12 propagation hops; maxIter=4 cannot finish
    val edges = (100L until 112L).map(k => (k, k + 1)).toDF("i", "j")
    val ex = intercept[IllegalStateException] {
      Components.connected(edges, maxIter = 4).collect()
    }
    assert(ex.getMessage.contains("maxIter"))
  }

  test("components: every near-dup edge ends up inside one cluster, ids are minima") {
    val pairs = Dedup.minhashPairs(
      Tables.load(spark, TestSpark.Sf0001, "documents"),
      n = 3, numHashes = 16, rowsPerBand = 4, threshold = 0.7)
    val comp = Components.connected(pairs)
    val viol = pairs
      .join(comp.withColumnRenamed("node", "i").withColumnRenamed("component", "ci"), "i")
      .join(comp.withColumnRenamed("node", "j").withColumnRenamed("component", "cj"), "j")
      .filter(col("ci") =!= col("cj"))
    assert(viol.isEmpty, "edge endpoints must share a component")
    // a component's label is a member of the component (its minimum)
    val badLabel = comp.groupBy("component").agg(min("node").as("mn"))
      .filter(col("component") =!= col("mn"))
    assert(badLabel.isEmpty)
  }

  // ---- IVF -----------------------------------------------------------

  test("IVF: cosines are exact for returned neighbors, ranks contiguous from 1") {
    val emb = Tables.load(spark, TestSpark.Sf0001, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val ivf = Similarity.ivfTopK(emb, q, k = 5, centroidEvery = 20, nProbe = 3)
    val exact = Similarity.bruteForceTopK(emb, q, k = 200)
      .select(col("query_id"), col("neighbor_id"), col("cos").as("cos_exact"))
    // every IVF hit appears in the exact ranking with the identical cosine
    val mism = ivf.join(exact, Seq("query_id", "neighbor_id"), "left")
      .filter(col("cos_exact").isNull || col("cos_exact") =!= col("cos"))
    assert(mism.isEmpty)
    val ranks = ivf.groupBy("query_id")
      .agg(min("rank").as("lo"), max("rank").as("hi"), count(lit(1)).as("n"))
      .filter(col("lo") =!= 1 || col("hi") =!= col("n"))
    assert(ranks.isEmpty)
  }

  test("IVF: a built index serves repeated query sets identically to one-shots") {
    val emb = Tables.load(spark, TestSpark.Sf0001, "embeddings")
    val idx = Similarity.ivfIndex(emb, centroidEvery = 20)
    val q1 = emb.filter(col("vec_id") < 10)
    val q2 = emb.filter(col("vec_id") >= 10 && col("vec_id") < 20)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    // the checkpointed assignment answers BOTH query sets — and answers
    // them exactly as a from-scratch one-shot build would
    assert(rows(Similarity.ivfSearch(idx, q1, k = 5, nProbe = 3)) ==
      rows(Similarity.ivfTopK(emb, q1, k = 5, centroidEvery = 20, nProbe = 3)))
    assert(rows(Similarity.ivfSearch(idx, q2, k = 5, nProbe = 3)) ==
      rows(Similarity.ivfTopK(emb, q2, k = 5, centroidEvery = 20, nProbe = 3)))
  }

  test("IVF: a persisted index searched from a FRESH session == the in-memory index") {
    val emb = Tables.load(spark, TestSpark.Sf0001, "embeddings")
    val idx = Similarity.ivfTrainedIndex(emb, iters = 2, centroidEvery = 20)
    val q = emb.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val want = rows(Similarity.ivfSearch(idx, q, k = 5, nProbe = 3))
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_spec_").toString
    Similarity.writeIvfIndex(idx, dir)
    // a NEW session (fresh SessionState; and release the builder's
    // checkpoint storage so a hidden dependence on it would fail loudly)
    graft.operators.Ckpt.releaseGraftStorage(spark)
    val s2 = spark.newSession()
    val loaded = Similarity.loadIvfIndex(s2, dir)
    assert(loaded.stride == idx.stride, "stride manifest must round-trip")
    val q2 = Tables.load(s2, TestSpark.Sf0001, "embeddings").filter(col("vec_id") < 10)
    assert(rows(Similarity.ivfSearch(loaded, q2, k = 5, nProbe = 3)) == want)
  }

  test("IVF k-means: planted clusters co-assign and training is bit-deterministic") {
    import spark.implicits._
    // 3 tight, well-separated clusters of 10 vectors each, ids interleaved
    // so the stride-7 seed draws from more than one cluster
    val rows = (0 until 30).map { id =>
      val c = id % 3
      val base = Array.fill(4)(0.02f * ((id * 7 + c) % 5))
      base(c) = 1.0f
      (id.toLong, base.toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val idx = Similarity.ivfTrainedIndex(emb, iters = 2, centroidEvery = 7)
    val cells = idx.assigned.select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Lloyd keeps however many seeds land inside a tight cluster (it
    // never merges centroids), so the invariant is cell PURITY: no cell
    // mixes vectors from two planted clusters
    val byCell = (0 until 30).groupBy(id => cells(id.toLong))
    byCell.foreach { case (cell, ids) =>
      assert(ids.map(_ % 3).toSet.size == 1, s"cell $cell mixes clusters: $ids")
    }
    // bit-determinism: a second training run yields identical centroids
    def centRows(i: Similarity.IvfIndex) = i.cents.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toList)).sortBy(_._1).toList
    val again = Similarity.ivfTrainedIndex(emb, iters = 2, centroidEvery = 7)
    assert(centRows(idx) == centRows(again))
  }

  test("IVF k-means: trained index clears the same recall floor on corpus data") {
    val emb = Tables.load(spark, TestSpark.Sf0001, "embeddings")
    val q = emb.filter(col("vec_id") < 50)
    val idx = Similarity.ivfTrainedIndex(emb, iters = 2, centroidEvery = 20)
    val ivf = Similarity.ivfSearch(idx, q, k = 5, nProbe = 3)
      .select("query_id", "neighbor_id")
    val exact = Similarity.bruteForceTopK(emb, q, k = 5)
      .select("query_id", "neighbor_id")
    val hits = ivf.intersect(exact).count().toDouble
    val total = exact.count().toDouble
    assert(hits / total >= 0.35, s"trained recall ${hits / total}")
  }

  test("ivfAppend: append == from-scratch assignment; stored corpus rows untouched") {
    val emb = Tables.load(spark, TestSpark.Sf0001, "embeddings")
    val cut = 400L
    val idx = Similarity.ivfTrainedIndex(
      emb.filter(col("vec_id") < cut), iters = 2, centroidEvery = 20)
    val appended = Similarity.ivfAppend(idx, emb.filter(col("vec_id") >= cut))
    def asg(i: Similarity.IvfIndex) = i.assigned.select("vec_id", "cell")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val got = asg(appended)
    // delta rows present, corpus rows bit-unchanged
    val corpusAsg = asg(idx)
    assert(got.size == emb.count())
    corpusAsg.foreach { case (id, cell) => assert(got(id) == cell) }
    // the appended index answers searches; an empty delta is identity
    assert(Similarity.ivfSearch(appended,
      emb.filter(col("vec_id") < 10), k = 5, nProbe = 3).count() > 0)
    val same = Similarity.ivfAppend(idx, emb.filter(col("vec_id") < -1))
    assert(asg(same) == corpusAsg)
    assert(same.stride == idx.stride)
  }

  test("int8TopK: exact parity on hand-checked vectors; corpus recall vs float tier") {
    import spark.implicits._
    // scales cancel: quantized cosine of colinear vectors is 1.0 exactly
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.5f, 0.0f)),
      (3L, Seq(0.0f, 2.0f)), (4L, Seq(0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val r = Similarity.int8TopK(corpus, corpus.filter(col("vec_id") === 1), k = 5)
      .orderBy("rank").collect()
      .map(x => (x.getLong(1), x.getDouble(2), x.getLong(3)))
    // vec 2 colinear (qcos 1.0), vec 3 orthogonal (0.0), vec 4 zero-norm dropped
    assert(r.toSeq == Seq((2L, 1.0, 1L), (3L, 0.0, 2L)))
    // the quantized tier must agree with the float ground truth almost
    // everywhere — int8 error can only flip near-ties
    val emb = Tables.load(spark, TestSpark.Sf0001, "embeddings")
    val q = emb.filter(col("vec_id") < 50)
    val quant = Similarity.int8TopK(emb, q, k = 5).select("query_id", "neighbor_id")
    val exact = Similarity.bruteForceTopK(emb, q, k = 5).select("query_id", "neighbor_id")
    val hits = quant.intersect(exact).count().toDouble
    val total = exact.count().toDouble
    assert(hits / total >= 0.9, s"int8 recall ${hits / total}")
  }

  test("zero-norm embeddings never rank as neighbors, zero-norm queries match nothing") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)), (3L, Seq(0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val fromOne = Similarity.bruteForceTopK(
      corpus, corpus.filter(col("vec_id") === 1), k = 5).collect()
    // vec 3 has no direction: cos is undefined (NULL), so it must be
    // absent rather than ranked into the tail
    assert(fromOne.map(_.getLong(1)).toSet == Set(2L))
    val fromZero = Similarity.bruteForceTopK(
      corpus, corpus.filter(col("vec_id") === 3), k = 5).collect()
    assert(fromZero.isEmpty, "a zero-norm query has no defined neighbors")
  }

  test("int8 quantization: hand-checked values, zero-vector edge, error bound") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0f, -0.5f, 0.25f)),
      (2L, Seq(0.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(df).orderBy("vec_id").collect()
    assert(q(0).getDouble(1) === 1.0)
    assert(q(0).getSeq[Byte](2) == Seq[Byte](127, -64, 32)) // -63.5 rounds away from zero
    assert(q(1).getDouble(1) === 0.0)
    assert(q(1).getSeq[Byte](2) == Seq[Byte](0, 0, 0))
    // corpus audit: worst error within the scale/254 quantization bound
    // (+1 micro-unit measurement rounding slop)
    val audit = Similarity.int8QuantAudit(
      Tables.load(spark, TestSpark.Sf0001, "embeddings")).collect()
    assert(audit.nonEmpty)
    audit.foreach { r =>
      val bound = r.getDouble(4) / 254.0 * 1e6 + 1
      assert(r.getLong(2) <= bound,
        s"label ${r.get(0)}: max_err ${r.getLong(2)} > bound $bound")
    }
  }

  test("IVF: recall@5 vs brute force clears the probe-budget floor") {
    val emb = Tables.load(spark, TestSpark.Sf0001, "embeddings")
    val q = emb.filter(col("vec_id") < 50)
    val ivf = Similarity.ivfTopK(emb, q, k = 5, centroidEvery = 20, nProbe = 3)
      .select("query_id", "neighbor_id")
    val exact = Similarity.bruteForceTopK(emb, q, k = 5)
      .select("query_id", "neighbor_id")
    val hits = ivf.intersect(exact).count().toDouble
    val total = exact.count().toDouble
    // 3 of ~25 cells probed; random buckets would give ~0.12 — require
    // the index to beat that by a wide, stable margin
    assert(hits / total >= 0.35, s"recall ${hits / total}")
  }

  test("clusterBalancedSample: quota law, total audit, partition-stable kept set") {
    val emb = Tables.load(spark, TestSpark.Sf0001, "embeddings")
    val idx = Similarity.ivfTrainedIndex(emb, iters = 2, centroidEvery = 20)
    val s = Similarity.clusterBalancedSample(idx, quota = 10L)
    val rows = s.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // total audit: one row per corpus vector
    assert(rows.length.toLong == emb.count())
    // quota law: no cell keeps more than `quota`; ranks are 1..|cell|
    rows.groupBy(_._2).foreach { case (cell, members) =>
      assert(members.count(_._4 == 1L) <= 10, s"cell $cell over quota")
      assert(members.map(_._3).sorted.toList == (1L to members.length).toList,
        s"cell $cell ranks not dense")
      assert(members.forall(m => (m._4 == 1L) == (m._3 <= 10L)))
    }
    // a cell with > quota members must actually be capped (the corpus
    // with stride 20 has ~25 cells over 500 vectors, so some cell is)
    assert(rows.groupBy(_._2).exists(_._2.length > 10), "test needs a full cell")
    // kept set is a pure function of (vec_id, cell) — repartitioning
    // the assignment cannot move it
    val shuffled = Similarity.clusterBalancedSample(
      idx.copy(assigned = idx.assigned.repartition(7)), quota = 10L)
    assert(shuffled.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet == rows.toSet)
  }
}
