package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.sources.Tables
import graft.streaming.Streams
import graft.streaming.Streams.{UserEvent, UserState}

/** Streaming-tier differential tests (SURVEY.md §5.2 t3): the same
  * transforms planned over a stream must equal their batch rendering;
  * watermarks drop exactly the late rows; session windows merge by gap;
  * mapGroupsWithState accumulates across micro-batches.
  *
  * No DuckDB oracle here by design — streaming semantics are checked
  * against the engine's own batch results (which ARE oracle-gated, q25).
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** events rows (sf0.001) as typed tuples for MemoryStream replay. */
  private lazy val eventRows: Seq[(Long, Timestamp, Long, String, Double)] =
    Tables.load(spark, TestSpark.Sf0001, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3), r.getDouble(4)))
      .toIndexedSeq

  test("tumbling windows: streaming replay of the full event log == batch q25 buckets") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val streamed = Streams.tumblingCounts(
      stream.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"))
    val query = streamed.writeStream
      .format("memory").queryName("tumbling_out").outputMode("complete").start()
    try {
      stream.addData(eventRows)
      query.processAllAvailable()
      val got = spark.table("tumbling_out")
        .orderBy("hour_bucket", "event_type").collect().map(_.toSeq)
      // batch rendering via the same transform...
      val batch = Streams.tumblingCounts(Tables.load(spark, TestSpark.Sf0001, "events"))
        .orderBy("hour_bucket", "event_type").collect().map(_.toSeq)
      assert(got.toSeq == batch.toSeq)
      // ...which itself must equal the oracle-gated q25 (date_trunc form)
      val q25 = graft.queries.Analytics.queries("q25_time_buckets")(spark, TestSpark.Sf0001)
        .collect().map(_.toSeq)
      assert(batch.toSeq == q25.toSeq)
    } finally query.stop()
  }

  test("stateless text-prep ops (chunk, quality) run unchanged on a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.load(spark, TestSpark.Sf0001, "documents")
      .select("doc_id", "text").limit(50)
    val rows = docs.as[(Long, String)].collect().toSeq
    // the SAME operators plan over the unbounded frame — narrow
    // projections/explodes need no state, watermark, or output-mode care
    // (the aggregating text ops — repetition, tf-idf — are batch-shaped
    // and would need update-mode + state; they are NOT claimed here)
    def differential(name: String,
        op: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
        order: Seq[String]): Unit = {
      val stream = MemoryStream[(Long, String)]
      val query = op(stream.toDF().toDF("doc_id", "text")).writeStream
        .format("memory").queryName(name).outputMode("append").start()
      try {
        stream.addData(rows)
        query.processAllAvailable()
        val got = spark.table(name)
          .orderBy(order.head, order.tail: _*).collect().map(_.toSeq)
        val batch = op(docs)
          .orderBy(order.head, order.tail: _*).collect().map(_.toSeq)
        assert(got.toSeq == batch.toSeq, name)
      } finally query.stop()
    }
    differential("chunk_out",
      d => graft.operators.TextAnalysis.chunk(d, size = 100, overlap = 20),
      Seq("doc_id", "chunk_id"))
    differential("quality_out",
      d => graft.operators.TextAnalysis.qualityScores(d),
      Seq("doc_id"))
  }

  test("sliding windows: events land in every size/slide bucket they overlap") {
    import spark.implicits._
    val df = Seq(
      (1L, ts("2024-01-01 10:05:00"), 1L, "a", 1.0),
      (2L, ts("2024-01-01 10:35:00"), 1L, "a", 2.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Streams.slidingCounts(df, "1 hour", "30 minutes")
      .orderBy("window_start")
      .collect().map(r => (r.getString(0), r.getLong(3), r.getDouble(4)))
    assert(got.toSeq == Seq(
      ("2024-01-01 09:30:00", 1L, 1.0),   // only 10:05
      ("2024-01-01 10:00:00", 2L, 3.0),   // both
      ("2024-01-01 10:30:00", 1L, 2.0)))  // only 10:35
  }

  test("watermark drops exactly the rows behind it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val agg = Streams.tumblingCounts(
      stream.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
      watermark = Some("1 hour"))
    val query = agg.writeStream
      .format("memory").queryName("wm_out").outputMode("update").start()
    try {
      // batch 1: event at 12:00 → after this batch the watermark is 11:00
      stream.addData(Seq((1L, ts("2024-01-01 12:00:00"), 1L, "a", 1.0)))
      query.processAllAvailable()
      val afterB1 = spark.table("wm_out").count()
      assert(afterB1 == 1) // the 12:00 bucket update
      // batch 2: 09:30 is behind the watermark (bucket closes 10:00 ≤ 11:00)
      // → dropped; 11:30's bucket closes 12:00 > 11:00 → kept
      stream.addData(Seq(
        (2L, ts("2024-01-01 09:30:00"), 1L, "a", 1.0),
        (3L, ts("2024-01-01 11:30:00"), 1L, "a", 1.0)))
      query.processAllAvailable()
      val rows = spark.table("wm_out")
        .select("hour_bucket").collect().map(_.getString(0)).toSeq
      assert(rows.count(_ == "2024-01-01 11:00:00") == 1, s"on-time row must aggregate: $rows")
      assert(!rows.contains("2024-01-01 09:00:00"), s"late row must be dropped: $rows")
    } finally query.stop()
  }

  test("stream-static join: streamed events enrich with customer segment == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val customer = Tables.load(spark, TestSpark.Sf0001, "customer")
    val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val enriched = Streams.withCustomerSegment(
      stream.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"), customer)
    val query = enriched.writeStream
      .format("memory").queryName("enrich_out").outputMode("append").start()
    try {
      stream.addData(eventRows)
      query.processAllAvailable()
      val got = spark.table("enrich_out")
        .select("event_id", "c_mktsegment").orderBy("event_id")
        .collect().map(_.toSeq)
      val batch = Streams.withCustomerSegment(
          Tables.load(spark, TestSpark.Sf0001, "events"), customer)
        .select("event_id", "c_mktsegment").orderBy("event_id")
        .collect().map(_.toSeq)
      assert(got.nonEmpty && got.toSeq == batch.toSeq)
    } finally query.stop()
  }

  test("stream-stream interval join: streamed click->purchase pairs == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val joined = Streams.clickToPurchase(
      stream.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"))
    val query = joined.writeStream
      .format("memory").queryName("ss_join_out").outputMode("append").start()
    try {
      stream.addData(eventRows)
      query.processAllAvailable()
      val got = spark.table("ss_join_out")
        .select("purchase_id", "click_id").orderBy("purchase_id", "click_id")
        .collect().map(_.toSeq)
      val batch = Streams.clickToPurchase(
          Tables.load(spark, TestSpark.Sf0001, "events"))
        .select("purchase_id", "click_id").orderBy("purchase_id", "click_id")
        .collect().map(_.toSeq)
      assert(got.nonEmpty && got.toSeq == batch.toSeq)
    } finally query.stop()
  }

  test("streaming dedup: replayed event_ids are dropped across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val deduped = Streams.dedupEvents(
      stream.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"))
    val query = deduped.writeStream
      .format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      stream.addData(Seq(
        (1L, ts("2024-01-01 10:00:00"), 1L, "a", 1.0),
        (1L, ts("2024-01-01 10:00:00"), 1L, "a", 1.0), // same-batch dup
        (2L, ts("2024-01-01 10:01:00"), 1L, "a", 2.0)))
      query.processAllAvailable()
      stream.addData(Seq(
        (2L, ts("2024-01-01 10:01:00"), 1L, "a", 2.0), // cross-batch replay
        (3L, ts("2024-01-01 10:02:00"), 1L, "a", 3.0)))
      query.processAllAvailable()
      val ids = spark.table("dedup_out").select("event_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L))
    } finally query.stop()
  }

  test("watermarked dedup: state evicts beyond the delay, replay within it drops") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val deduped = Streams.dedupWithinWatermark(
      stream.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
      delay = "10 minutes")
    val query = deduped.writeStream
      .format("memory").queryName("dedup_wm_out").outputMode("append").start()
    try {
      stream.addData(Seq((1L, ts("2024-01-01 10:00:00"), 1L, "a", 1.0)))
      query.processAllAvailable()
      // replay inside the redelivery window → dropped
      stream.addData(Seq((1L, ts("2024-01-01 10:05:00"), 1L, "a", 1.0)))
      query.processAllAvailable()
      // push the watermark far past key 1's expiry, then replay it:
      // its state was evicted, so the replay is (by contract) re-admitted
      stream.addData(Seq((2L, ts("2024-01-01 12:00:00"), 1L, "a", 2.0)))
      query.processAllAvailable()
      stream.addData(Seq((1L, ts("2024-01-01 12:00:30"), 1L, "a", 1.0)))
      query.processAllAvailable()
      val ids = spark.table("dedup_wm_out").select("event_id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids.count(_ == 1L) == 2, s"evicted key must re-admit: $ids")
      assert(ids.count(_ == 2L) == 1)
    } finally query.stop()
  }

  test("session windows merge events within the gap and split across it (batch)") {
    import spark.implicits._
    val df = Seq(
      (1L, ts("2024-01-01 10:00:00"), 7L, "a", 1.0),
      (2L, ts("2024-01-01 10:10:00"), 7L, "a", 2.0),
      (3L, ts("2024-01-01 10:25:00"), 7L, "a", 3.0),  // still same session (gap 30m)
      (4L, ts("2024-01-01 12:00:00"), 7L, "a", 4.0),  // new session
      (5L, ts("2024-01-01 10:05:00"), 8L, "a", 5.0))  // other user
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Streams.sessionCounts(df, "30 minutes")
      .orderBy("user_id", "session_start")
      .collect().map(r => (r.getLong(2), r.getString(0), r.getString(1), r.getLong(3)))
    assert(got.toSeq == Seq(
      (7L, "2024-01-01 10:00:00", "2024-01-01 10:55:00", 3L),
      (7L, "2024-01-01 12:00:00", "2024-01-01 12:30:00", 1L),
      (8L, "2024-01-01 10:05:00", "2024-01-01 10:35:00", 1L)))
  }

  test("session windows finalize on a stream once the watermark passes them") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val agg = Streams.sessionCounts(
      stream.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
      gap = "30 minutes", watermark = Some("10 minutes"))
    val query = agg.writeStream
      .format("memory").queryName("sess_out").outputMode("append").start()
    try {
      stream.addData(Seq(
        (1L, ts("2024-01-01 10:00:00"), 7L, "a", 1.0),
        (2L, ts("2024-01-01 10:10:00"), 7L, "a", 2.0)))
      query.processAllAvailable()
      assert(spark.table("sess_out").isEmpty) // session still open
      // far-future event pushes the watermark past 10:40 + 10m
      stream.addData(Seq((3L, ts("2024-01-01 15:00:00"), 9L, "a", 0.0)))
      query.processAllAvailable()
      stream.addData(Seq((4L, ts("2024-01-01 18:00:00"), 9L, "a", 0.0)))
      query.processAllAvailable()
      val done = spark.table("sess_out")
        .collect().map(r => (r.getLong(2), r.getString(0), r.getLong(3))).toSeq
      assert(done.contains((7L, "2024-01-01 10:00:00", 2L)),
        s"user 7's closed session must be appended, got $done")
    } finally query.stop()
  }

  test("flatMapGroupsWithState: streamed session-close events == batch islands") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val closed = Streams.sessionCloseEvents(
      stream.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
      gapSeconds = 1800L)
    val query = closed.writeStream
      .format("memory").queryName("sess_close_out").outputMode("append").start()
    try {
      stream.addData(eventRows)
      query.processAllAvailable()
      // sentinel far past every timeout pushes the watermark so all
      // trailing open sessions flush
      val maxTs = eventRows.map(_._2.getTime).max
      stream.addData(Seq((999999L, new Timestamp(maxTs + 86400L * 1000L), 999L, "x", 0.0)))
      query.processAllAvailable()
      val got = spark.table("sess_close_out")
        .filter(col("user_id") =!= 999L)
        .select("user_id", "start_us", "end_us", "n_events")
        .orderBy("user_id", "start_us").collect().map(_.toSeq)
      val batch = graft.operators.Sessions.sessionize(
          Tables.load(spark, TestSpark.Sf0001, "events"), gapSeconds = 1800L)
        .select("user_id", "session_start_us", "session_end_us", "n_events")
        .orderBy("user_id", "session_start_us").collect().map(_.toSeq)
      assert(got.nonEmpty && got.toSeq == batch.toSeq)
    } finally query.stop()
  }

  test("flatMapGroupsWithState: out-of-order straggler extends the session backward") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val closed = Streams.sessionCloseEvents(
      stream.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
      gapSeconds = 1800L, watermarkDelay = "2 hours")
    val query = closed.writeStream
      .format("memory").queryName("sess_ooo_out").outputMode("append").start()
    try {
      stream.addData(Seq((1L, ts("2024-01-01 10:00:00"), 7L, "a", 1.0)))
      query.processAllAvailable()
      // straggler 20 minutes EARLIER, still above the watermark: must
      // merge into the open session as its new start, not regress its end
      stream.addData(Seq((2L, ts("2024-01-01 09:40:00"), 7L, "a", 1.0)))
      query.processAllAvailable()
      stream.addData(Seq((3L, ts("2024-01-02 12:00:00"), 999L, "x", 0.0)))
      query.processAllAvailable()
      val got = spark.table("sess_ooo_out")
        .filter(col("user_id") === 7L)
        .select("start_us", "end_us", "n_events")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val s = Timestamp.valueOf("2024-01-01 09:40:00").getTime * 1000L
      val e = Timestamp.valueOf("2024-01-01 10:00:00").getTime * 1000L
      assert(got.toSeq == Seq((s, e, 2L)), s"got ${got.toSeq}")
    } finally query.stop()
  }

  test("flatMapGroupsWithState: straggler bridges into an island that closed within a batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val closed = Streams.sessionCloseEvents(
      stream.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
      gapSeconds = 1800L, watermarkDelay = "3 hours")
    val query = closed.writeStream
      .format("memory").queryName("sess_bridge_out").outputMode("append").start()
    try {
      // one micro-batch, two islands for user 7 (10:00 and 13:00): the
      // earlier island "closes inside the batch", but with a 3h delay an
      // admissible straggler may still land in its gap — it must be HELD,
      // not emitted (the round-2 advice finding)
      stream.addData(Seq(
        (1L, ts("2024-01-01 10:00:00"), 7L, "a", 1.0),
        (2L, ts("2024-01-01 13:00:00"), 7L, "a", 1.0)))
      query.processAllAvailable()
      assert(spark.table("sess_bridge_out").isEmpty,
        "no island may be emitted while the watermark can still admit a merge")
      // straggler at 10:20 — watermark is 13:00 − 3h = 10:00, so this is
      // admissible and within the first island's gap: it must extend it
      stream.addData(Seq((3L, ts("2024-01-01 10:20:00"), 7L, "a", 1.0)))
      query.processAllAvailable()
      // flush everything
      stream.addData(Seq((4L, ts("2024-01-02 20:00:00"), 999L, "x", 0.0)))
      query.processAllAvailable()
      val got = spark.table("sess_bridge_out")
        .filter(col("user_id") === 7L)
        .select("start_us", "end_us", "n_events")
        .orderBy("start_us")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      def us(s: String) = Timestamp.valueOf(s).getTime * 1000L
      assert(got.toSeq == Seq(
        (us("2024-01-01 10:00:00"), us("2024-01-01 10:20:00"), 2L),
        (us("2024-01-01 13:00:00"), us("2024-01-01 13:00:00"), 1L)),
        s"got ${got.toSeq}")
    } finally query.stop()
  }

  test("checkpointed restart: session state and sink survive stop/resume exactly-once") {
    import org.apache.spark.sql.Row
    val root = java.nio.file.Files.createTempDirectory("graft_ckpt_").toFile
    val src = new java.io.File(root, "src"); src.mkdirs()
    val sink = new java.io.File(root, "sink").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath

    val ev = Tables.load(spark, TestSpark.Sf0001, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val sch = ev.schema
    // chronological phases: with watermarkDelay 0 the file order must be
    // time-ordered or later files would mark earlier ones late
    val rows = ev.orderBy("ts").collect()
    val (h1, h2) = rows.splitAt(rows.length / 2)
    val maxTs = rows.map(_.getTimestamp(1).getTime).max
    val sentinel = Row(999999L, new Timestamp(maxTs + 86400L * 1000L), 999L, "x", 0.0)

    def drop(phase: String, rs: Seq[Row]): Unit = {
      val tmp = new java.io.File(root, s"tmp_$phase")
      spark.createDataFrame(spark.sparkContext.parallelize(rs, 1), sch)
        .write.mode("overwrite").parquet(tmp.getAbsolutePath)
      tmp.listFiles.filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach {
        case (f, i) => java.nio.file.Files.copy(
          f.toPath, new java.io.File(src, s"${phase}_$i.parquet").toPath)
      }
    }
    // each run is a FRESH query resuming from the shared checkpoint —
    // two full stop/restart cycles over the stream's lifetime
    def run(): Unit = {
      val stream = spark.readStream.schema(sch).parquet(src.getAbsolutePath)
      val q = Streams.sessionCloseEvents(stream, gapSeconds = 1800L)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }

    drop("p1", h1.toIndexedSeq); run()
    val afterP1 = spark.read.parquet(sink).count()
    assert(afterP1 > 0, "phase 1 must already close some sessions")
    drop("p2", h2.toIndexedSeq); run()
    drop("p3", Seq(sentinel)); run() // flush trailing open sessions

    val got = spark.read.parquet(sink) // sink read honors _spark_metadata
      .filter(col("user_id") =!= 999L)
      .select("user_id", "start_us", "end_us", "n_events")
      .orderBy("user_id", "start_us").collect().map(_.toSeq)
    val batch = graft.operators.Sessions.sessionize(
        Tables.load(spark, TestSpark.Sf0001, "events"), gapSeconds = 1800L)
      .select("user_id", "session_start_us", "session_end_us", "n_events")
      .orderBy("user_id", "session_start_us").collect().map(_.toSeq)
    assert(got.length == batch.length,
      s"lost or duplicated sessions across restarts: ${got.length} vs ${batch.length}")
    assert(got.toSeq == batch.toSeq)
  }

  test("foreachBatch ingest dedup: per-batch edges == batch incremental passes, across restarts") {
    val root = java.nio.file.Files.createTempDirectory("graft_ingest_").toFile
    val src = new java.io.File(root, "src"); src.mkdirs()
    val state = new java.io.File(root, "state").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath

    val docs = Tables.load(spark, TestSpark.Sf0001, "documents")
    val sch = docs.schema
    // three chronological ingest files (append-only ids — the q62 contract)
    val cuts = Seq((0L, 200L), (200L, 400L), (400L, Long.MaxValue))
    def slice(lo: Long, hi: Long) =
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
    cuts.zipWithIndex.foreach { case ((lo, hi), i) =>
      val tmp = new java.io.File(root, s"tmp_$i")
      slice(lo, hi).coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
      tmp.listFiles.filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.copy(
          f.toPath, new java.io.File(src, s"ingest_$i.parquet").toPath)
      }
      // each drop runs a FRESH query resuming from the shared checkpoint
      // → two full stop/restart cycles across the three micro-batches
      val stream = spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1).parquet(src.getAbsolutePath)
      val q = Streams.ingestNearDup(stream, state, ckpt)
      try q.processAllAvailable() finally q.stop()
    }

    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // per-batch edges must equal the batch-mode incremental pass on the
    // same cut (batch 0 = the self-dedup of the bootstrap slice)
    val b0 = pairs(spark.read.parquet(s"$state/edges/batch=0"))
    assert(b0 == pairs(graft.operators.Dedup.nearDupEdges(slice(0L, 200L))))
    val b1 = pairs(spark.read.parquet(s"$state/edges/batch=1"))
    assert(b1 == pairs(graft.operators.Dedup.incrementalNearDupEdges(
      slice(0L, 200L), slice(200L, 400L))))
    val b2 = pairs(spark.read.parquet(s"$state/edges/batch=2"))
    assert(b2 == pairs(graft.operators.Dedup.incrementalNearDupEdges(
      slice(0L, 400L), slice(400L, Long.MaxValue))))
    // and the accumulated result is the from-scratch corpus edge set
    val all = pairs(Streams.ingestEdges(spark, state).get)
    assert(all == pairs(graft.operators.Dedup.nearDupEdges(docs)))
    assert(all.nonEmpty, "corpus must contain planted cross-batch near-dups")
    // a restart with no new files must not duplicate or recompute state
    val stream = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", 1).parquet(src.getAbsolutePath)
    val q = Streams.ingestNearDup(stream, state, ckpt)
    try q.processAllAvailable() finally q.stop()
    assert(pairs(Streams.ingestEdges(spark, state).get) == all)
    // the accumulated index is directly searchable by the delta operators
    val idx = Streams.ingestIndex(spark, state).get
    val viaIdx = pairs(graft.operators.Dedup.incrementalNearDupEdgesIndexed(
      graft.operators.Dedup.DedupIndex(
        idx.shingles, idx.bands, 3, 16, 4), docs.limit(0)))
    assert(viaIdx.isEmpty, "empty delta must produce no edges")

    // ——— compaction cadence ———
    // fold the 3 committed batches into the canonical base: every reader
    // answer must be unchanged, and the base must be a standalone
    // Dedup.writeIndex artifact
    val shCount = Streams.ingestIndex(spark, state).get.shingles.count()
    assert(Streams.compactNearDup(spark, state) == Some(2L))
    assert(pairs(Streams.ingestEdges(spark, state).get) == all,
      "compaction must not change the edge set")
    val baseIdx = graft.operators.Dedup.loadIndex(spark, s"$state/base/compact=2/index")
    assert((baseIdx.n, baseIdx.numHashes, baseIdx.rowsPerBand) == ((3, 16, 4)))
    assert(baseIdx.shingles.count() == shCount,
      "base must hold exactly the accumulated shingle rows")
    // covered batch dirs are GC'd; _committed markers survive (they are
    // the replay-skip contract)
    assert(!new java.io.File(s"$state/shingles/batch=0").exists)
    assert(new java.io.File(s"$state/_committed/0").exists)
    // nothing new to fold → no-op
    assert(Streams.compactNearDup(spark, state).isEmpty)
    // restart AFTER the compact with no new files: replay-skip must hold
    // (markers outlive GC) and readers still see the identical edge set
    val stream2 = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", 1).parquet(src.getAbsolutePath)
    val q2 = Streams.ingestNearDup(stream2, state, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    assert(pairs(Streams.ingestEdges(spark, state).get) == all)
    // ingest CONTINUES on top of the base: a post-compact delta batch
    // (append-only ids) must produce exactly the batch-mode incremental
    // edges, and the accumulated set must equal the from-scratch corpus
    val delta = docs.filter(col("doc_id") < 20L)
      .withColumn("doc_id", col("doc_id") + 500L)
    Streams.ingestNearDupBatch(delta, state, batchId = 3L)
    assert(pairs(spark.read.parquet(s"$state/edges/batch=3")) ==
      pairs(graft.operators.Dedup.incrementalNearDupEdges(docs, delta)))
    val allPlus = pairs(graft.operators.Dedup.nearDupEdges(docs.unionByName(delta)))
    assert(pairs(Streams.ingestEdges(spark, state).get) == allPlus)
    // second compaction folds base + the new delta; still identical
    assert(Streams.compactNearDup(spark, state) == Some(3L))
    assert(pairs(Streams.ingestEdges(spark, state).get) == allPlus)
    assert(!new java.io.File(s"$state/base/compact=2").exists,
      "previous base must be GC'd after the new marker commits")
  }

  test("foreachBatch ingest text index: streamed BM25 == from-scratch build, across restarts") {
    import graft.operators.TextIndex
    val root = java.nio.file.Files.createTempDirectory("graft_ingest_ti_").toFile
    val src = new java.io.File(root, "src"); src.mkdirs()
    val state = new java.io.File(root, "state").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath

    val docs = Tables.load(spark, TestSpark.Sf0001, "documents")
    val sch = docs.schema
    val cuts = Seq((0L, 200L), (200L, 400L), (400L, Long.MaxValue))
    def slice(lo: Long, hi: Long) =
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
    cuts.zipWithIndex.foreach { case ((lo, hi), i) =>
      val tmp = new java.io.File(root, s"tmp_$i")
      slice(lo, hi).coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
      tmp.listFiles.filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.copy(
          f.toPath, new java.io.File(src, s"ingest_$i.parquet").toPath)
      }
      // fresh query per drop resuming from the shared checkpoint — two
      // full stop/restart cycles across the three micro-batches
      val stream = spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1).parquet(src.getAbsolutePath)
      val q = Streams.ingestTextIndex(stream, state, ckpt)
      try q.processAllAvailable() finally q.stop()
    }

    val streamed = Streams.ingestTextIndexRead(spark, state).get
    val scratch = TextIndex.build(docs)
    assert(streamed.nDocs == scratch.nDocs &&
      streamed.totalTokens == scratch.totalTokens,
      "summed batch stats must equal the from-scratch corpus stats")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
    val terms = Seq("vector", "join", "spark")
    assert(rows(TextIndex.bm25(streamed, terms, k = 30)) ==
      rows(TextIndex.bm25Rank(docs, terms, k = 30)),
      "BM25 over the streamed index must equal the scan path")
    assert(rows(TextIndex.lookup(streamed, "vector").orderBy("doc_id")) ==
      rows(TextIndex.lookup(scratch, "vector").orderBy("doc_id")))
    // a restart with no new files must not duplicate postings
    val stream = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", 1).parquet(src.getAbsolutePath)
    val q = Streams.ingestTextIndex(stream, state, ckpt)
    try q.processAllAvailable() finally q.stop()
    assert(Streams.ingestTextIndexRead(spark, state).get
      .postings.count() == scratch.postings.count())
    // compacting the batch-partitioned state into the canonical layout
    // must change nothing observable: same stats, same BM25, same lookup
    val compactDir = new java.io.File(root, "compact").getAbsolutePath
    TextIndex.compact(Streams.ingestTextIndexRead(spark, state).get, compactDir)
    val compacted = TextIndex.load(spark, compactDir)
    assert(compacted.nDocs == scratch.nDocs &&
      compacted.totalTokens == scratch.totalTokens)
    assert(rows(TextIndex.bm25(compacted, terms, k = 30)) ==
      rows(TextIndex.bm25Rank(docs, terms, k = 30)))

    // ——— in-place compaction cadence (Streams.compactTextIndex) ———
    // fold the committed batches into the state dir's own base: readers
    // answer identically, the base is TextIndex.load-able standalone,
    // and covered batch dirs are GC'd while replay markers survive
    assert(Streams.compactTextIndex(spark, state) == Some(2L))
    val folded = Streams.ingestTextIndexRead(spark, state).get
    assert(folded.nDocs == scratch.nDocs &&
      folded.totalTokens == scratch.totalTokens)
    assert(rows(TextIndex.bm25(folded, terms, k = 30)) ==
      rows(TextIndex.bm25Rank(docs, terms, k = 30)))
    assert(rows(TextIndex.load(spark, s"$state/base/compact=2")
        .postings.groupBy().count()) ==
      rows(folded.postings.groupBy().count()))
    assert(!new java.io.File(s"$state/postings/batch=0").exists)
    assert(new java.io.File(s"$state/_committed/0").exists)
    assert(Streams.compactTextIndex(spark, state).isEmpty, "nothing new to fold")
    // restart AFTER the compact with no new files: replay-skip must hold
    val stream2 = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", 1).parquet(src.getAbsolutePath)
    val q2 = Streams.ingestTextIndex(stream2, state, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    assert(Streams.ingestTextIndexRead(spark, state).get
      .postings.count() == scratch.postings.count())
    // ingest CONTINUES on top of the base (append-only ids), and a second
    // compaction folds base + delta — BM25 stays ≡ the from-scratch build
    val delta = docs.filter(col("doc_id") < 20L)
      .withColumn("doc_id", col("doc_id") + 500L)
    Streams.ingestTextIndexBatch(delta, state, batchId = 3L)
    val corpusPlus = docs.unionByName(delta)
    assert(rows(TextIndex.bm25(
        Streams.ingestTextIndexRead(spark, state).get, terms, k = 30)) ==
      rows(TextIndex.bm25Rank(corpusPlus, terms, k = 30)))
    assert(Streams.compactTextIndex(spark, state) == Some(3L))
    assert(rows(TextIndex.bm25(
        Streams.ingestTextIndexRead(spark, state).get, terms, k = 30)) ==
      rows(TextIndex.bm25Rank(corpusPlus, terms, k = 30)))
    assert(!new java.io.File(s"$state/base/compact=2").exists,
      "previous base must be GC'd after the new marker commits")
  }

  test("foreachBatch ingest profile: streamed partials fold to the single-pass profile, across restart") {
    val root = java.nio.file.Files.createTempDirectory("graft_ingest_prof_").toFile
    val src = new java.io.File(root, "src"); src.mkdirs()
    val state = new java.io.File(root, "state").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath

    val docs = Tables.load(spark, TestSpark.Sf0001, "documents")
    val sch = docs.schema
    val cuts = Seq((0L, 200L), (200L, 400L), (400L, Long.MaxValue))
    def slice(lo: Long, hi: Long) =
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
    cuts.zipWithIndex.foreach { case ((lo, hi), i) =>
      val tmp = new java.io.File(root, s"tmp_$i")
      slice(lo, hi).coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
      tmp.listFiles.filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.copy(
          f.toPath, new java.io.File(src, s"ingest_$i.parquet").toPath)
      }
      // fresh query per drop, resuming from the shared checkpoint — two
      // full stop/restart cycles across the three micro-batches
      val stream = spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1).parquet(src.getAbsolutePath)
      val q = Streams.ingestProfile(stream, state, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("column_name").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4), r.getString(5))).toSeq
    val streamed = canon(Streams.ingestProfileRead(spark, state).get)
    val single = canon(graft.operators.Profile.mergeProfile(
      graft.operators.Profile.profilePartial(docs)))
    assert(streamed == single,
      "streamed partials must fold to the one-pass profile exactly")
    // restart with no new files: replay-skip must not perturb the fold
    val stream = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", 1).parquet(src.getAbsolutePath)
    val q = Streams.ingestProfile(stream, state, ckpt)
    try q.processAllAvailable() finally q.stop()
    assert(canon(Streams.ingestProfileRead(spark, state).get) == single)
    assert(new java.io.File(s"$state/_committed/0").exists)
  }

  test("profile ingest refuses pre-versioning state instead of mis-merging") {
    import spark.implicits._
    val state = java.nio.file.Files
      .createTempDirectory("graft_prof_ver_").toFile.getAbsolutePath
    Streams.ingestProfileBatch(Seq((8L, "a")).toDF("id", "k"), state, 0L)
    Streams.ingestProfileBatch(Seq((12L, "b")).toDF("id", "k"), state, 1L)
    // rewrite batch 1 as a version-less (v1-style) partial
    val dir1 = s"$state/profile/batch=1"
    val v1 = spark.read.parquet(dir1).drop("pp_version")
    val (sch, rows) = (v1.schema, v1.collect().toSeq)
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows), sch)
      .write.mode("overwrite").parquet(dir1)
    val ex = intercept[IllegalStateException] {
      Streams.ingestProfileRead(spark, state)
    }
    assert(ex.getMessage.contains("older"))
  }

  test("foreachBatch ingest value-hist: streamed robust outliers == batch, across restart + compact") {
    import graft.operators.Profile
    val root = java.nio.file.Files.createTempDirectory("graft_ingest_vhist_").toFile
    val src = new java.io.File(root, "src"); src.mkdirs()
    val state = new java.io.File(root, "state").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath

    val events = Tables.load(spark, TestSpark.Sf0001, "events")
    val sch = events.schema
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("grp").collect().toSeq
    val cuts = Seq((0L, 300L), (300L, 700L), (700L, Long.MaxValue))
    cuts.zipWithIndex.foreach { case ((lo, hi), i) =>
      val tmp = new java.io.File(root, s"tmp_$i")
      events.filter(col("event_id") >= lo && col("event_id") < hi)
        .coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
      tmp.listFiles.filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.copy(
          f.toPath, new java.io.File(src, s"ingest_$i.parquet").toPath)
      }
      // fresh query per drop resuming from the shared checkpoint —
      // two full stop/restart cycles across the three micro-batches
      val stream = spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1).parquet(src.getAbsolutePath)
      val q = Streams.ingestValueHist(stream, state, ckpt, "event_type", "value")
      try q.processAllAvailable() finally q.stop()
    }
    // histogram fold is order/batching-independent: the streamed audit
    // must equal the one-shot batch audit over the same corpus
    val batch = Profile.robustOutliers(events, "event_type", "value")
    assert(rows(Streams.ingestRobustOutliers(spark, state).get) == rows(batch))

    // compact folds the three partials into one base; audit unchanged,
    // covered batch dirs GC'd while replay markers survive
    assert(Streams.compactValueHist(spark, state) == Some(2L))
    assert(rows(Streams.ingestRobustOutliers(spark, state).get) == rows(batch))
    assert(!new java.io.File(s"$state/hist/batch=0").exists)
    assert(new java.io.File(s"$state/_committed/0").exists)
    assert(Streams.compactValueHist(spark, state).isEmpty, "nothing new to fold")

    // replay of a committed batch id is a no-op on top of the base
    Streams.ingestValueHistBatch(
      events.limit(50), state, batchId = 1L, "event_type", "value")
    assert(rows(Streams.ingestRobustOutliers(spark, state).get) == rows(batch))

    // ingest continues on top of the base and a second compaction
    // matches the batch audit over the grown corpus
    val delta = events.filter(col("event_id") < 100L)
      .withColumn("event_id", col("event_id") + 100000L)
      .withColumn("value", col("value") * 3.0)
    Streams.ingestValueHistBatch(delta, state, batchId = 3L, "event_type", "value")
    val grown = Profile.robustOutliers(
      events.unionByName(delta), "event_type", "value")
    assert(rows(Streams.ingestRobustOutliers(spark, state).get) == rows(grown))
    assert(Streams.compactValueHist(spark, state) == Some(3L))
    assert(rows(Streams.ingestRobustOutliers(spark, state).get) == rows(grown))
    assert(!new java.io.File(s"$state/base/compact=2").exists,
      "previous base must be GC'd after the new marker commits")
  }

  test("foreachBatch ingest budget: streamed fold == one-shot rollup, across restart + compact + replay") {
    import graft.operators.Prep
    val root = java.nio.file.Files.createTempDirectory("graft_ingest_budget_").toFile
    val src = new java.io.File(root, "src"); src.mkdirs()
    val state = new java.io.File(root, "state").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath

    val docs = Tables.load(spark, TestSpark.Sf0001, "documents")
    val sch = docs.schema
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("source", "split").collect().toSeq
    val cuts = Seq((0L, 150L), (150L, 350L), (350L, Long.MaxValue))
    cuts.zipWithIndex.foreach { case ((lo, hi), i) =>
      val tmp = new java.io.File(root, s"tmp_$i")
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
      tmp.listFiles.filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.copy(
          f.toPath, new java.io.File(src, s"ingest_$i.parquet").toPath)
      }
      // fresh query per drop resuming from the shared checkpoint —
      // two full stop/restart cycles across the three micro-batches
      val stream = spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1).parquet(src.getAbsolutePath)
      val q = Streams.ingestBudget(stream, state, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    // per-doc deterministic split + integer token sums fold losslessly:
    // the streamed budget equals the one-shot rollup bit-for-bit
    assert(rows(Streams.ingestBudgetRead(spark, state).get)
      == rows(Prep.budgetPartial(docs)))

    // compact folds the partials into one base; read face unchanged,
    // covered batch dirs GC'd, commit markers survive
    assert(Streams.compactBudget(spark, state) == Some(2L))
    assert(rows(Streams.ingestBudgetRead(spark, state).get)
      == rows(Prep.budgetPartial(docs)))
    assert(!new java.io.File(s"$state/budget/batch=0").exists)
    assert(new java.io.File(s"$state/_committed/0").exists)
    assert(Streams.compactBudget(spark, state).isEmpty, "nothing new to fold")

    // replay of a committed batch id is a no-op on top of the base
    // (a double-counted partial would double its source's token mass)
    Streams.ingestBudgetBatch(docs.limit(50), state, batchId = 1L)
    assert(rows(Streams.ingestBudgetRead(spark, state).get)
      == rows(Prep.budgetPartial(docs)))

    // second generation: a genuinely new batch on top of the base, then
    // a second compaction — both equal the one-shot over the union
    val delta = docs.filter(col("doc_id") < 100L)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    Streams.ingestBudgetBatch(delta, state, batchId = 3L)
    val grown = Prep.budgetPartial(docs.unionByName(delta))
    assert(rows(Streams.ingestBudgetRead(spark, state).get) == rows(grown))
    assert(Streams.compactBudget(spark, state) == Some(3L))
    assert(rows(Streams.ingestBudgetRead(spark, state).get) == rows(grown))
    assert(!new java.io.File(s"$state/base/compact=2").exists,
      "previous base must be GC'd after the new marker commits")
    org.apache.commons.io.FileUtils.deleteDirectory(root)
  }

  test("foreachBatch ingest centroids: streamed == one-shot batch, across restart + compact") {
    import graft.operators.Similarity
    val root = java.nio.file.Files.createTempDirectory("graft_ingest_cent_").toFile
    val src = new java.io.File(root, "src"); src.mkdirs()
    val state = new java.io.File(root, "state").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath

    val emb = Tables.load(spark, TestSpark.Sf0001, "embeddings")
    val sch = emb.schema
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("label").collect().toSeq
    def oneShot(df: org.apache.spark.sql.DataFrame) =
      Similarity.finishCentroids(Similarity.centroidPartial(df))
    val cuts = Seq((0L, 150L), (150L, 350L), (350L, Long.MaxValue))
    cuts.zipWithIndex.foreach { case ((lo, hi), i) =>
      val tmp = new java.io.File(root, s"tmp_$i")
      emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
        .coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
      tmp.listFiles.filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.copy(
          f.toPath, new java.io.File(src, s"ingest_$i.parquet").toPath)
      }
      // fresh query per drop resuming from the shared checkpoint —
      // two full stop/restart cycles across the three micro-batches
      val stream = spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1).parquet(src.getAbsolutePath)
      val q = Streams.ingestCentroids(stream, state, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    // integer component sums fold losslessly: the streamed centroids
    // must equal the one-shot scan BIT-FOR-BIT, whatever the batching
    assert(rows(Streams.ingestCentroidsRead(spark, state).get)
      == rows(oneShot(emb)))

    // compact folds the three partials into one base of merged SUMS;
    // read face unchanged, covered batch dirs GC'd, markers survive
    assert(Streams.compactCentroids(spark, state) == Some(2L))
    assert(rows(Streams.ingestCentroidsRead(spark, state).get)
      == rows(oneShot(emb)))
    assert(!new java.io.File(s"$state/cent/batch=0").exists)
    assert(new java.io.File(s"$state/_committed/0").exists)
    assert(Streams.compactCentroids(spark, state).isEmpty, "nothing new to fold")

    // replay of a committed batch id is a no-op on top of the base
    // (a double-counted partial would DOUBLE its label's sums)
    Streams.ingestCentroidsBatch(emb.limit(50), state, batchId = 1L)
    assert(rows(Streams.ingestCentroidsRead(spark, state).get)
      == rows(oneShot(emb)))

    // ingest continues on top of the base; a second compaction matches
    // the one-shot scan over the grown corpus
    val delta = emb.filter(col("vec_id") < 100L)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    Streams.ingestCentroidsBatch(delta, state, batchId = 3L)
    val grown = oneShot(emb.unionByName(delta))
    assert(rows(Streams.ingestCentroidsRead(spark, state).get) == rows(grown))
    assert(Streams.compactCentroids(spark, state) == Some(3L))
    assert(rows(Streams.ingestCentroidsRead(spark, state).get) == rows(grown))
    assert(!new java.io.File(s"$state/base/compact=2").exists,
      "previous base must be GC'd after the new marker commits")
  }

  test("foreachBatch ingest transitions: streamed matrix == batch, across restart + compact") {
    import graft.operators.Sessions
    val root = java.nio.file.Files.createTempDirectory("graft_ingest_trans_").toFile
    val src = new java.io.File(root, "src"); src.mkdirs()
    val state = new java.io.File(root, "state").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath

    val events = Tables.load(spark, TestSpark.Sf0001, "events")
    val sch = events.schema
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("from_type", "to_type").collect().toSeq
    // event_id order is event-time order in this corpus, so id-range
    // batches satisfy the tier's per-user monotone-ingest contract —
    // and they SPLIT user streams mid-session, which is exactly the
    // boundary the frontier must repair
    val cuts = Seq((0L, 300L), (300L, 700L), (700L, Long.MaxValue))
    cuts.zipWithIndex.foreach { case ((lo, hi), i) =>
      val tmp = new java.io.File(root, s"tmp_$i")
      events.filter(col("event_id") >= lo && col("event_id") < hi)
        .coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
      tmp.listFiles.filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.copy(
          f.toPath, new java.io.File(src, s"ingest_$i.parquet").toPath)
      }
      val stream = spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1).parquet(src.getAbsolutePath)
      val q = Streams.ingestTransitions(stream, state, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    // boundary pairs live in neither batch alone: only the carried
    // frontier makes streamed == one-shot batch over the whole corpus
    val batch = Sessions.transitionMatrix(events)
    assert(rows(Streams.ingestTransitionsRead(spark, state).get) == rows(batch))

    // compact folds partials + carries the frontier; matrix unchanged,
    // covered dirs GC'd while replay markers survive
    assert(Streams.compactTransitions(spark, state) == Some(2L))
    assert(rows(Streams.ingestTransitionsRead(spark, state).get) == rows(batch))
    assert(!new java.io.File(s"$state/trans/batch=0").exists)
    assert(!new java.io.File(s"$state/frontier/batch=0").exists)
    assert(new java.io.File(s"$state/_committed/0").exists)
    assert(Streams.compactTransitions(spark, state).isEmpty, "nothing new to fold")

    // replay of a committed id is a no-op on top of the base
    Streams.ingestTransitionsBatch(events.limit(50), state, batchId = 1L)
    assert(rows(Streams.ingestTransitionsRead(spark, state).get) == rows(batch))

    // ingest continues on the compacted base: a later-in-time delta
    // folds to the batch matrix over the grown corpus
    val delta = events.filter(col("event_id") < 200L)
      .withColumn("ts", col("ts") + expr("INTERVAL 60 DAYS"))
      .withColumn("event_id", col("event_id") + 100000L)
    Streams.ingestTransitionsBatch(delta, state, batchId = 3L)
    val grown = Sessions.transitionMatrix(events.unionByName(delta))
    assert(rows(Streams.ingestTransitionsRead(spark, state).get) == rows(grown))
    assert(Streams.compactTransitions(spark, state) == Some(3L))
    assert(rows(Streams.ingestTransitionsRead(spark, state).get) == rows(grown))
    assert(!new java.io.File(s"$state/base/compact=2").exists,
      "previous base must be GC'd after the new marker commits")
  }

  test("foreachBatch ingest hazard: streamed Nelson-Aalen == batch, across restart + compact") {
    import graft.operators.Sessions
    val root = java.nio.file.Files.createTempDirectory("graft_ingest_haz_").toFile
    val src = new java.io.File(root, "src"); src.mkdirs()
    val state = new java.io.File(root, "state").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath

    val events = Tables.load(spark, TestSpark.Sf0001, "events")
    val sch = events.schema
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("week").collect().toSeq
    // unlike transitions, the hazard fold is ORDER-INDEPENDENT — so cut
    // by user parity, which interleaves event time across batches and
    // puts some users' first/second purchases in different batches
    val cuts = Seq(0L, 1L, 2L)
    cuts.zipWithIndex.foreach { case (m, i) =>
      val tmp = new java.io.File(root, s"tmp_$i")
      events.filter(pmod(col("user_id"), lit(3)) === m)
        .coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
      tmp.listFiles.filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.copy(
          f.toPath, new java.io.File(src, s"ingest_$i.parquet").toPath)
      }
      // fresh query per drop resuming from the shared checkpoint —
      // two full stop/restart cycles across the three micro-batches
      val stream = spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1).parquet(src.getAbsolutePath)
      val q = Streams.ingestHazard(stream, state, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    // the union of per-batch two-earliest contains the global
    // two-earliest: streamed == one-shot batch q165 over the corpus
    val batch = Sessions.repurchaseHazard(events)
    assert(rows(Streams.ingestHazardRead(spark, state).get) == rows(batch))

    // compact re-ranks candidates to <= 2 rows per user + one horizon;
    // hazard unchanged, covered dirs GC'd, replay markers survive
    assert(Streams.compactHazard(spark, state) == Some(2L))
    assert(rows(Streams.ingestHazardRead(spark, state).get) == rows(batch))
    assert(!new java.io.File(s"$state/firsts/batch=0").exists)
    assert(!new java.io.File(s"$state/hz/batch=0").exists)
    assert(new java.io.File(s"$state/_committed/0").exists)
    assert(Streams.compactHazard(spark, state).isEmpty, "nothing new to fold")
    // the compacted candidate state is user-bounded: <= 2 rows per user
    val baseFirsts = spark.read.parquet(s"$state/base/compact=2/firsts")
    val overCap = baseFirsts.groupBy("user_id").count().filter(col("count") > 2)
    assert(overCap.count() == 0, "compaction must re-rank to two rows per user")

    // replay of a committed id is a no-op on top of the base
    Streams.ingestHazardBatch(events.limit(50), state, batchId = 1L)
    assert(rows(Streams.ingestHazardRead(spark, state).get) == rows(batch))

    // ingest continues on the base: a later-in-time delta (new users
    // AND a moved horizon) folds to the batch hazard over the grown
    // corpus — censoring weeks shift with the new horizon
    val delta = events.filter(col("event_id") < 200L)
      .withColumn("ts", col("ts") + expr("INTERVAL 60 DAYS"))
      .withColumn("event_id", col("event_id") + 100000L)
      .withColumn("user_id", col("user_id") + 100000L)
    Streams.ingestHazardBatch(delta, state, batchId = 3L)
    val grown = Sessions.repurchaseHazard(events.unionByName(delta))
    assert(rows(Streams.ingestHazardRead(spark, state).get) == rows(grown))
    assert(Streams.compactHazard(spark, state) == Some(3L))
    assert(rows(Streams.ingestHazardRead(spark, state).get) == rows(grown))
    assert(!new java.io.File(s"$state/base/compact=2").exists,
      "previous base must be GC'd after the new marker commits")
  }

  test("transition ingest fails loudly on out-of-order batches instead of mis-pairing") {
    val root = java.nio.file.Files.createTempDirectory("graft_trans_ooo_").toFile
    val state = new java.io.File(root, "state").getAbsolutePath
    val events = Tables.load(spark, TestSpark.Sf0001, "events")
    Streams.ingestTransitionsBatch(
      events.filter(col("event_id") >= 500L && col("event_id") < 600L),
      state, batchId = 0L)
    val e = intercept[IllegalStateException] {
      Streams.ingestTransitionsBatch(
        events.filter(col("event_id") < 500L), state, batchId = 1L)
    }
    assert(e.getMessage.contains("monotone"))
  }

  test("Bloom ingest refuses a (k, m) drift against the pinned meta") {
    import spark.implicits._
    val state = java.nio.file.Files
      .createTempDirectory("graft_bloom_km_").toFile.getAbsolutePath
    val docs = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
    Streams.ingestBloomBatch(docs, state, 0L, k = 4, m = 4096)
    // mixed-modulus unions can produce FALSE NEGATIVES — the one
    // failure the filter's contract forbids; the batch must die loudly
    val ex = intercept[IllegalArgumentException] {
      Streams.ingestBloomBatch(docs, state, 1L, k = 4, m = 2048)
    }
    assert(ex.getMessage.contains("pinned state"))
    val ex2 = intercept[IllegalArgumentException] {
      Streams.ingestBloomBatch(docs, state, 1L, k = 8, m = 4096)
    }
    assert(ex2.getMessage.contains("pinned state"))
    // matching params still ingest, and the replayed id 0 still skips
    Streams.ingestBloomBatch(docs, state, 1L, k = 4, m = 4096)
    Streams.ingestBloomBatch(docs, state, 0L, k = 8, m = 2048) // replay: no-op
    val (_, k, m) = Streams.ingestBloomRead(spark, state).get
    assert((k, m) == (4, 4096))
  }

  test("foreachBatch ingest Bloom: streamed filter == batch build, across restart + compact") {
    import graft.operators.Sketches
    val root = java.nio.file.Files.createTempDirectory("graft_ingest_bloom_").toFile
    val src = new java.io.File(root, "src"); src.mkdirs()
    val state = new java.io.File(root, "state").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath

    val docs = Tables.load(spark, TestSpark.Sf0001, "documents")
    val sch = docs.schema
    val cuts = Seq((0L, 200L), (200L, 400L), (400L, Long.MaxValue))
    def slice(lo: Long, hi: Long) =
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
    cuts.zipWithIndex.foreach { case ((lo, hi), i) =>
      val tmp = new java.io.File(root, s"tmp_$i")
      slice(lo, hi).coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
      tmp.listFiles.filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.copy(
          f.toPath, new java.io.File(src, s"ingest_$i.parquet").toPath)
      }
      // fresh query per drop resuming from the shared checkpoint — two
      // full stop/restart cycles across the three micro-batches
      val stream = spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1).parquet(src.getAbsolutePath)
      val q = Streams.ingestBloom(stream, state, ckpt, k = 4, m = 4096)
      try q.processAllAvailable() finally q.stop()
    }

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().toSeq
    // probe set: half verbatim members, half novel
    val probes = docs.filter(col("doc_id") < 100L)
      .select((col("doc_id") + 10000L).as("doc_id"), col("text"))
      .unionByName(spark.range(10100, 10170)
        .selectExpr("id AS doc_id", "concat('novel probe ', id) AS text"))
    // bit union is order/batching-independent: streamed filter must be
    // BIT-IDENTICAL to the one-shot batch build over the same corpus
    val streamed = Streams.ingestBloomProbe(spark, state, probes).get
    val batch = Sketches.bloomProbe(
      Sketches.bloomBuild(docs, k = 4, m = 4096), probes, k = 4, m = 4096)
    assert(rows(streamed) == rows(batch))
    assert(rows(streamed).count(_.getLong(1) == 1L) >= 100,
      "all verbatim members maybe-present (no false negative)")

    // compact into a canonical writeBloom-layout base: verdicts
    // identical, the base is bloomMembershipStored-servable standalone,
    // covered batch dirs GC'd while replay markers survive
    assert(Streams.compactBloom(spark, state) == Some(2L))
    assert(rows(Streams.ingestBloomProbe(spark, state, probes).get) == rows(batch))
    assert(rows(Sketches.bloomMembershipStored(
      spark, s"$state/base/compact=2", probes)) == rows(batch))
    assert(!new java.io.File(s"$state/bits/batch=0").exists)
    assert(new java.io.File(s"$state/_committed/0").exists)
    assert(Streams.compactBloom(spark, state).isEmpty, "nothing new to fold")

    // restart after the compact with no new files: replay-skip holds
    val stream2 = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", 1).parquet(src.getAbsolutePath)
    val q2 = Streams.ingestBloom(stream2, state, ckpt, k = 4, m = 4096)
    try q2.processAllAvailable() finally q2.stop()
    assert(rows(Streams.ingestBloomProbe(spark, state, probes).get) == rows(batch))

    // ingest continues on top of the base; a second compaction folds
    // base + delta and stays == the batch build over the grown corpus
    val delta = docs.filter(col("doc_id") < 20L)
      .withColumn("text", concat(col("text"), lit(" appended-delta-token")))
      .withColumn("doc_id", col("doc_id") + 500L)
    Streams.ingestBloomBatch(delta, state, batchId = 3L, k = 4, m = 4096)
    val grown = Sketches.bloomProbe(
      Sketches.bloomBuild(docs.unionByName(delta), k = 4, m = 4096),
      probes, k = 4, m = 4096)
    assert(rows(Streams.ingestBloomProbe(spark, state, probes).get) == rows(grown))
    assert(Streams.compactBloom(spark, state) == Some(3L))
    assert(rows(Streams.ingestBloomProbe(spark, state, probes).get) == rows(grown))
    assert(!new java.io.File(s"$state/base/compact=2").exists,
      "previous base must be GC'd after the new marker commits")
  }

  test("foreachBatch ingest IVF: streamed assignment == batch ivfAppend chain, across restarts") {
    import graft.operators.Similarity
    val root = java.nio.file.Files.createTempDirectory("graft_ingest_ivf_").toFile
    val src = new java.io.File(root, "src"); src.mkdirs()
    val state = new java.io.File(root, "state").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath

    val emb = Tables.load(spark, TestSpark.Sf0001, "embeddings")
    val sch = emb.schema
    val cuts = Seq((0L, 300L), (300L, 400L), (400L, Long.MaxValue))
    def slice(lo: Long, hi: Long) =
      emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
    cuts.zipWithIndex.foreach { case ((lo, hi), i) =>
      val tmp = new java.io.File(root, s"tmp_$i")
      slice(lo, hi).coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
      tmp.listFiles.filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.copy(
          f.toPath, new java.io.File(src, s"ingest_$i.parquet").toPath)
      }
      // fresh query per drop resuming from the shared checkpoint — two
      // full stop/restart cycles across the three micro-batches
      val stream = spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1).parquet(src.getAbsolutePath)
      val q = Streams.ingestIvf(stream, state, ckpt)
      try q.processAllAvailable() finally q.stop()
    }

    def asg(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cell").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the batch-mode reference: index built on the bootstrap slice, the
    // two deltas appended — same cuts, same centroids
    val built = Similarity.ivfTrainedIndex(slice(0L, 300L), iters = 2)
    val appended = Similarity.ivfAppend(
      Similarity.ivfAppend(built, slice(300L, 400L)), slice(400L, Long.MaxValue))
    val streamed = Streams.ingestIvfIndex(spark, state).get
    assert(streamed.stride == built.stride, "stride manifest must round-trip")
    assert(asg(streamed.assigned) == asg(appended.assigned))
    assert(streamed.assigned.count() == emb.count())
    // a restart with no new files must not duplicate assignment rows
    val stream = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", 1).parquet(src.getAbsolutePath)
    val q = Streams.ingestIvf(stream, state, ckpt)
    try q.processAllAvailable() finally q.stop()
    assert(Streams.ingestIvfIndex(spark, state).get.assigned.count() == emb.count())
    // the streamed index answers searches identically to the batch chain
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val qs = emb.filter(col("vec_id") < 10)
    assert(rows(Similarity.ivfSearch(streamed, qs, k = 5, nProbe = 3)) ==
      rows(Similarity.ivfSearch(appended, qs, k = 5, nProbe = 3)))

    // ——— compaction cadence ———
    // fold the committed assignment deltas into the canonical base: the
    // search answer is unchanged, the base is loadIvfIndex-able
    // standalone, covered batch dirs are GC'd, replay markers survive
    val want = rows(Similarity.ivfSearch(appended, qs, k = 5, nProbe = 3))
    assert(Streams.compactIvf(spark, state) == Some(2L))
    val folded = Streams.ingestIvfIndex(spark, state).get
    assert(folded.stride == built.stride)
    assert(asg(folded.assigned) == asg(appended.assigned),
      "compaction must not change the assignment")
    assert(rows(Similarity.ivfSearch(folded, qs, k = 5, nProbe = 3)) == want)
    val baseIdx = Similarity.loadIvfIndex(spark, s"$state/base/compact=2")
    assert(rows(Similarity.ivfSearch(baseIdx, qs, k = 5, nProbe = 3)) == want)
    assert(!new java.io.File(s"$state/assigned/batch=0").exists)
    assert(new java.io.File(s"$state/_committed/0").exists)
    assert(Streams.compactIvf(spark, state).isEmpty, "nothing new to fold")
    // restart AFTER the compact with no new files: replay-skip must hold
    val stream2 = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", 1).parquet(src.getAbsolutePath)
    val q2 = Streams.ingestIvf(stream2, state, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    assert(Streams.ingestIvfIndex(spark, state).get.assigned.count() == emb.count())
    // ingest CONTINUES on top of the base: a post-compact delta assigns
    // against the SAME stored centroids (q87's law), and a second
    // compaction folds base + delta without changing the assignment
    val delta = emb.filter(col("vec_id") < 20L)
      .withColumn("vec_id", col("vec_id") + 500L)
    Streams.ingestIvfBatch(delta, state, batchId = 3L)
    val appendedPlus = Similarity.ivfAppend(appended, delta)
    assert(asg(Streams.ingestIvfIndex(spark, state).get.assigned) ==
      asg(appendedPlus.assigned))
    assert(Streams.compactIvf(spark, state) == Some(3L))
    assert(asg(Streams.ingestIvfIndex(spark, state).get.assigned) ==
      asg(appendedPlus.assigned))
    assert(!new java.io.File(s"$state/base/compact=2").exists,
      "previous base must be GC'd after the new marker commits")
  }

  test("mapGroupsWithState accumulates per-user state across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[UserEvent]
    val states = Streams.runningUserState(stream.toDS())
    val query = states.writeStream
      .format("memory").queryName("state_out").outputMode("update").start()
    try {
      stream.addData(Seq(
        UserEvent(1L, "a", 10.0, ts("2024-01-01 10:00:00")),
        UserEvent(1L, "a", 5.0, ts("2024-01-01 10:01:00")),
        UserEvent(2L, "b", 7.0, ts("2024-01-01 10:02:00"))))
      query.processAllAvailable()
      stream.addData(Seq(UserEvent(1L, "a", 2.5, ts("2024-01-01 11:00:00"))))
      query.processAllAvailable()
      val byBatch = spark.table("state_out").as[UserState].collect()
      // last update for user 1 reflects all 3 events (state survived batches)
      assert(byBatch.filter(_.user_id == 1L).map(_.n_events).max == 3)
      assert(byBatch.filter(_.user_id == 1L).map(_.total_value).max == 17.5)
      assert(byBatch.filter(_.user_id == 2L).map(_.n_events).max == 1)
    } finally query.stop()
  }

  test("mapGroupsWithState on a batch Dataset equals plain aggregation (differential)") {
    import spark.implicits._
    val events = Tables.load(spark, TestSpark.Sf0001, "events")
      .select(col("user_id"), col("event_type"), col("value"), col("ts"))
      .as[UserEvent]
    val viaState = Streams.runningUserState(events)
      .collect().map(s => (s.user_id, (s.n_events, math.rint(s.total_value * 100) / 100)))
      .toMap
    val viaAgg = events.toDF().groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("value").as("total"))
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), math.rint(r.getDouble(2) * 100) / 100)))
      .toMap
    assert(viaState == viaAgg)
  }

  test("foreachBatch ingest image features: streamed decode == batch decode, replay-safe, compaction-stable") {
    import graft.operators.Multimodal
    val root = java.nio.file.Files.createTempDirectory("graft_ingest_img_").toFile
    val state = new java.io.File(root, "state").getAbsolutePath
    val docs = Tables.load(spark, TestSpark.Sf0001, "documents")
      .filter(col("doc_id") < 60)
    val blobs = Multimodal.pngCorpus(docs).toDF()
    def slice(i: Int) = blobs.filter(pmod(col("doc_id"), lit(3)) === i)
    (0 until 3).foreach(i =>
      Streams.ingestImageFeaturesBatch(slice(i), state, i.toLong))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getSeq[Long](3))).toSeq
    val want = canon(
      Multimodal.extractImageFeatures(Multimodal.pngCorpus(docs)).toDF())
    assert(canon(Streams.ingestImageFeaturesRead(spark, state).get) == want,
      "streamed per-batch decode must equal the batch decode")
    // a replayed committed batch is a durable no-op (exactly-once)
    Streams.ingestImageFeaturesBatch(slice(1), state, 1L)
    assert(canon(Streams.ingestImageFeaturesRead(spark, state).get) == want)
    // compaction folds WITHOUT re-decoding, preserves rows, GCs batches
    assert(Streams.compactImageFeatures(spark, state) == Some(2L))
    assert(canon(Streams.ingestImageFeaturesRead(spark, state).get) == want)
    assert(!new java.io.File(s"$state/features/batch=0").exists,
      "covered batch dirs must be GC'd after the compaction marker")
    // post-compaction delta appends beside the base
    val extra = Tables.load(spark, TestSpark.Sf0001, "documents")
      .filter(col("doc_id") >= 60 && col("doc_id") < 80)
    Streams.ingestImageFeaturesBatch(
      Multimodal.pngCorpus(extra).toDF(), state, 3L)
    val wantPlus = canon(Multimodal.extractImageFeatures(
      Multimodal.pngCorpus(docs.unionByName(extra))).toDF())
    assert(canon(Streams.ingestImageFeaturesRead(spark, state).get) == wantPlus)
  }

  test("ingestImageFeatures end-to-end: file-streamed blobs through writeStream match the batch decode") {
    // the wrapper itself (writeStream → foreachBatch → start), not just
    // its batch step: blob files arrive one per micro-batch, the decode
    // runs once per batch, and the folded feature read equals a batch
    // decode over everything — the other eleven tiers' e2e coverage
    // (r12 review finding: only the batch step was driven directly)
    import graft.operators.Multimodal
    val root = java.nio.file.Files.createTempDirectory("graft_ingest_img_e2e_").toFile
    val state = new java.io.File(root, "state").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
    val src = new java.io.File(root, "src"); src.mkdirs()
    val docs = Tables.load(spark, TestSpark.Sf0001, "documents")
      .filter(col("doc_id") < 45)
    val blobs = Multimodal.pngCorpus(docs).toDF()
    val sch = blobs.schema
    // three file drops → three micro-batches through the shared protocol
    (0 until 3).foreach { i =>
      val tmp = new java.io.File(root, s"tmp_$i")
      blobs.filter(pmod(col("doc_id"), lit(3)) === i)
        .coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
      tmp.listFiles.filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.copy(
          f.toPath, new java.io.File(src, s"blobs_$i.parquet").toPath)
      }
    }
    val stream = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", 1).parquet(src.getAbsolutePath)
    val q = Streams.ingestImageFeatures(stream, state, ckpt)
    try q.processAllAvailable() finally q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getSeq[Long](3))).toSeq
    val want = canon(
      Multimodal.extractImageFeatures(Multimodal.pngCorpus(docs)).toDF())
    assert(canon(Streams.ingestImageFeaturesRead(spark, state).get) == want,
      "streamed decode must equal the batch decode")
    // restart against the same checkpoint with no new files: the
    // replay-skip protocol must hold through the wrapper too
    val stream2 = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", 1).parquet(src.getAbsolutePath)
    val q2 = Streams.ingestImageFeatures(stream2, state, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    assert(canon(Streams.ingestImageFeaturesRead(spark, state).get) == want)
  }

  test("compaction folds exactly the state it listed: a batch that commits mid-fold stays a delta, counted once") {
    import graft.operators.Prep
    val root = java.nio.file.Files.createTempDirectory("graft_compact_race_").toFile
    val state = new java.io.File(root, "state").getAbsolutePath
    val docs = Tables.load(spark, TestSpark.Sf0001, "documents")
    def slice(i: Int) = docs.filter(pmod(col("doc_id"), lit(4)) === i)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("source", "split").collect().toSeq
    (0 until 3).foreach(i => Streams.ingestBudgetBatch(slice(i), state, i.toLong))
    // a live ingest commits batch 3 AFTER the compaction took its
    // listing; the fold must see only the listed batches 0..2
    val c = Streams.compact(spark, state, Seq("budget")) { (s, base) =>
      Streams.ingestBudgetBatch(slice(3), state, 3L)
      assert(s.ids == Seq(0L, 1L, 2L))
      Prep.mergeBudgetPartials(s.read("budget"))
        .write.mode("overwrite").parquet(s"$base/budget")
    }
    assert(c == Some(2L), "the watermark is the listed max, not the mid-fold commit")
    assert(new java.io.File(s"$state/budget/batch=3").exists,
      "the mid-fold batch is not covered by the base and must survive GC")
    assert(!new java.io.File(s"$state/budget/batch=0").exists)
    // base (0..2) + delta (3) = every batch exactly once
    val all = rows(Prep.budgetPartial(docs))
    assert(rows(Streams.ingestBudgetRead(spark, state).get) == all)
    // the next cadence run folds the straggler
    assert(Streams.compactBudget(spark, state) == Some(3L))
    assert(rows(Streams.ingestBudgetRead(spark, state).get) == all)
    assert(!new java.io.File(s"$state/budget/batch=3").exists)
    org.apache.commons.io.FileUtils.deleteDirectory(root)
  }

  test("compaction writes its marker last: a fold that dies mid-base keeps the previous view, and a retry succeeds") {
    val root = java.nio.file.Files.createTempDirectory("graft_compact_crash_").toFile
    val state = new java.io.File(root, "state").getAbsolutePath
    val events = Tables.load(spark, TestSpark.Sf0001, "events")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("week").collect().toSeq
    (0 until 3).foreach(i => Streams.ingestHazardBatch(
      events.filter(pmod(col("user_id"), lit(3)) === i), state, i.toLong))
    val before = rows(Streams.ingestHazardRead(spark, state).get)
    // the fold writes one of the base's two frames, then dies
    val ex = intercept[IllegalStateException] {
      Streams.compact(spark, state, Seq("firsts", "hz")) { (s, base) =>
        s.read("firsts").write.mode("overwrite").parquet(s"$base/firsts")
        throw new IllegalStateException("fold died mid-base")
      }
    }
    assert(ex.getMessage.contains("mid-base"))
    val compacted = new java.io.File(s"$state/_compacted")
    assert(!compacted.exists || compacted.list().isEmpty, "no marker may be written")
    for (f <- Seq("firsts", "hz"); i <- 0 until 3)
      assert(new java.io.File(s"$state/$f/batch=$i").exists, s"$f/batch=$i was deleted")
    assert(rows(Streams.ingestHazardRead(spark, state).get) == before)
    // a retried compaction overwrites the partial base and commits
    assert(Streams.compactHazard(spark, state) == Some(2L))
    assert(rows(Streams.ingestHazardRead(spark, state).get) == before)
    assert(!new java.io.File(s"$state/firsts/batch=0").exists)
    org.apache.commons.io.FileUtils.deleteDirectory(root)
  }
}
