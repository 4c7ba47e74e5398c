package graft.streaming

import scala.util.control.NonFatal
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, StreamingQuery}
import graft.operators.{Dedup, Multimodal, Prep, Profile, Sessions, Similarity, Sketches, TextIndex}

/** Structured Streaming tier over the `events` dataflow (SURVEY.md §2.5
  * streaming row, §7 step 7).
  *
  * Every transform here is written against the unified Dataset model: the
  * SAME function plans over a batch DataFrame and a `readStream` frame.
  * That is the differential-test contract (SURVEY §5.2 t3): the streaming
  * rendering fed the full event log must equal the batch rendering — e.g.
  * [[tumblingCounts]] over a stream ≡ the q25 batch buckets — because a
  * stream is just a table being incrementally materialized.
  *
  * Scale posture: windowed aggregations shuffle once on (window, key);
  * `withWatermark` bounds state (late rows beyond the delay are dropped
  * and window state older than the watermark is evicted, so state size
  * tracks the watermark horizon, not the stream length);
  * [[runningUserState]] keys state by user so it distributes across
  * executors with the shuffle and lives in the state store (RocksDB at
  * scale), never on the driver.
  */
object Streams {

  /** Tumbling 1-hour counts/sums per event_type — the streaming form of
    * q25 (`window(ts, 1h)` buckets align with `date_trunc('hour')`).
    * Pass a watermark to bound state / drop late data on streams.
    */
  def tumblingCounts(events: DataFrame, watermark: Option[String] = None): DataFrame =
    withWm(events, watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour_bucket"),
        col("event_type"), col("n"), col("sum_value"))

  /** Sliding windows: each event lands in `size`/`slide` overlapping
    * buckets (Spark plans this as a generate + single shuffle, not one
    * aggregation per offset).
    */
  def slidingCounts(
      events: DataFrame, size: String = "1 hour", slide: String = "30 minutes",
      watermark: Option[String] = None): DataFrame =
    withWm(events, watermark)
      .groupBy(window(col("ts"), size, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("window_end"),
        col("event_type"), col("n"), col("sum_value"))

  /** Session windows per user: a session extends while consecutive events
    * arrive within `gap`; on streams, sessions finalize once the
    * watermark passes their close (append mode).
    */
  def sessionCounts(
      events: DataFrame, gap: String = "30 minutes",
      watermark: Option[String] = None): DataFrame =
    withWm(events, watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("user_id"), col("n"), col("sum_value"))

  private def withWm(events: DataFrame, watermark: Option[String]): DataFrame =
    watermark.fold(events)(w => events.withWatermark("ts", w))

  /** Streaming ingest dedup, unbounded state: one event per `event_id`
    * survives, replays are dropped — exactly-once semantics over an
    * at-least-once transport. On a STREAM the survivor is the first
    * seen; the batch rendering keeps an arbitrary row per id, so the
    * batch ≡ stream differential holds when replays are byte-identical —
    * which is the redelivery case this exists for (a replay that
    * MUTATED payload is an upstream bug, not a duplicate). State grows
    * with distinct keys; use [[dedupWithinWatermark]] on long-running
    * streams.
    */
  def dedupEvents(events: DataFrame): DataFrame =
    events.dropDuplicates("event_id")

  /** Streaming ingest dedup with BOUNDED state: duplicates are dropped
    * only while their key's first arrival is younger than the watermark
    * delay, after which the key's state is evicted — state size tracks
    * the watermark horizon, not the stream length. The contract a 100 TB
    * ingest needs: replays land within the transport's redelivery window,
    * so eviction beyond it is safe and keeps the state store flat.
    */
  def dedupWithinWatermark(events: DataFrame, delay: String = "1 hour"): DataFrame =
    events.withWatermark("ts", delay).dropDuplicatesWithinWatermark("event_id")

  /** Stream-static enrichment: each event picks up its user's customer
    * segment. The static side is a plain DataFrame — Spark re-plans it
    * per micro-batch and broadcasts it when small, the standard shape
    * for dimension enrichment of a 100 TB/day event stream (no state
    * store involved; left join keeps events with no dimension row).
    */
  def withCustomerSegment(events: DataFrame, customer: DataFrame): DataFrame =
    events.join(
      customer.select(col("c_custkey").as("user_id"), col("c_mktsegment")),
      Seq("user_id"), "left")

  /** Stream-stream interval join: each purchase matched to the same
    * user's clicks at most `windowSeconds` earlier. Both sides carry
    * watermarks and the join condition bounds event-time distance, so
    * each side's state store holds only the watermark horizon — the
    * requirements Structured Streaming imposes for an unbounded
    * stream-stream inner join to run with bounded state. The same
    * transform over batch frames is the differential oracle.
    */
  def clickToPurchase(events: DataFrame, watermarkDelay: String = "1 hour",
      windowSeconds: Long = 3600L): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", watermarkDelay)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", watermarkDelay)
    purchases.join(clicks,
        col("user_id") === col("c_user") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr(s"INTERVAL $windowSeconds SECONDS"))
      .select(col("purchase_id"), col("user_id"), col("click_id"),
        col("p_ts"), col("c_ts"))
  }

  // ——— the exactly-once ingest protocol, shared by every foreachBatch tier ———
  // A state dir holds batch-scoped frames `<frame>/batch=N` and one
  // `_committed/N` marker per batch, written LAST. Markers are never
  // deleted: they are the replay-skip contract. A compaction folds the
  // committed batches into a canonical base `base/compact=C` (the tier's
  // standalone artifact layout) and writes `_compacted/C` LAST: every
  // batch id ≤ C is then read from the base. Readers resolve one
  // [[State]]: C = max compacted marker, deltas = committed ids above C.
  // Markers go through the Hadoop FileSystem of the state dir, so the
  // same code runs against HDFS/object stores, not just local disk
  // (object-store caveat: marker visibility needs read-after-write
  // consistency, which S3/GCS/ABFS all provide today).

  private val Committed = "_committed"
  private val Compacted = "_compacted"

  /** One listing of a state dir: the compaction watermark `c` (-1 =
    * never compacted) and every committed batch id. A tier's batch step,
    * reader and compaction each work off ONE State, so a batch that
    * commits meanwhile is never half-seen.
    */
  private[graft] case class State(spark: SparkSession, dir: String, c: Long,
      committed: Seq[Long]) {
    /** Committed batches not yet covered by the watermark, ascending. */
    val ids: Seq[Long] = committed.filter(_ > c).sorted
    def isEmpty: Boolean = c < 0 && ids.isEmpty
    def base: Option[String] = if (c >= 0) Some(baseDir(dir, c)) else None
    /** The base's copy of `frame` (at `baseFrame` under the base), then
      * every delta batch's, oldest first.
      */
    def paths(frame: String, baseFrame: String): Seq[String] =
      base.map(b => s"$b/$baseFrame").toSeq ++ ids.map(i => s"$dir/$frame/batch=$i")
    def paths(frame: String): Seq[String] = paths(frame, frame)
    def read(frame: String, baseFrame: String): DataFrame =
      spark.read.parquet(paths(frame, baseFrame): _*)
    def read(frame: String): DataFrame = read(frame, frame)
  }

  private def state(spark: SparkSession, dir: String): State =
    State(spark, dir, markers(spark, dir, Compacted).foldLeft(-1L)(math.max),
      markers(spark, dir, Committed))

  /** A tier's read face: `f` over the current state, None before the
    * first commit.
    */
  private def view[T](spark: SparkSession, dir: String)(f: State => T): Option[T] =
    Some(state(spark, dir)).filterNot(_.isEmpty).map(f)

  /** The one `foreachBatch` starter: each micro-batch runs `step`, the
    * same public batch function tests and batch-mode replays call.
    */
  private def stream(df: DataFrame, checkpointDir: String)(
      step: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) => step(batch.toDF(), batchId) }
      .start()

  /** Commit one batch exactly once. A replayed id that is already
    * committed is skipped. Otherwise `write` gets the state as listed
    * before this batch and the batch-scoped dir of each frame
    * (`<dir>/<frame>/batch=<id>`), and `_committed/<id>` is written
    * LAST. A batch that crashed mid-write left no marker: its dirs are
    * simply overwritten on replay, and no reader ever sees them.
    */
  private def commitOnce(batch: DataFrame, dir: String, batchId: Long)(
      write: (State, String => String) => Unit): Unit = {
    val s = state(batch.sparkSession, dir)
    if (!s.committed.contains(batchId)) {
      write(s, frame => s"$dir/$frame/batch=$batchId")
      mark(s.spark, dir, Committed, batchId)
    }
  }

  /** Fold every committed batch (and any prior base) into a fresh
    * canonical base `base/compact=C`, C = the newest committed id. Takes
    * ONE listing and `fold`s exactly that state into the base dir it is
    * handed; `_compacted/C` is written LAST, so a crash mid-fold leaves
    * readers on the previous view. Safe against a live ingest: a batch
    * that commits mid-compact is not in the listing, so it stays a delta
    * until the next cadence run. Then a best-effort GC deletes the
    * covered `frames` batch dirs and the previous base; a crash mid-GC
    * only leaves extra files, which the next compaction sweeps (its ids
    * derive from `_committed`, which is never pruned). Returns C, or
    * None when there is nothing new to fold.
    */
  private[graft] def compact(spark: SparkSession, dir: String, frames: Seq[String])(
      fold: (State, String) => Unit): Option[Long] = {
    val s = state(spark, dir)
    s.ids.lastOption.map { c =>
      fold(s, baseDir(dir, c))
      mark(spark, dir, Compacted, c)
      val fs = fileSystem(spark, dir)
      def rm(p: String): Unit =
        try fs.delete(new Path(p), true) catch { case NonFatal(_) => () }
      for (f <- frames; i <- s.ids) rm(s"$dir/$f/batch=$i")
      s.base.foreach(rm)
      c
    }
  }

  private def baseDir(dir: String, c: Long): String = s"$dir/base/compact=$c"

  private def fileSystem(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  private def markers(spark: SparkSession, dir: String, kind: String): Seq[Long] = {
    val fs = fileSystem(spark, dir)
    val p = new Path(s"$dir/$kind")
    if (!fs.exists(p)) Nil else fs.listStatus(p).toSeq.map(_.getPath.getName.toLong)
  }

  private def mark(spark: SparkSession, dir: String, kind: String, id: Long): Unit =
    fileSystem(spark, dir).create(new Path(s"$dir/$kind/$id"), true).close()

  private def save(df: Dataset[_], path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  private val Shingles = "shingles"
  private val Bands = "bands"
  private val Edges = "edges"
  private val IndexDir = "index"

  /** Streaming ingest near-dup — the `foreachBatch` composition that
    * closes the loop between the streaming tier and the incremental
    * dedup tier: each micro-batch of documents is deduped against the
    * ACCUMULATED corpus index (the persisted shingle/band frames of
    * every prior batch — the `Dedup.writeIndex` artifact shape), then
    * appended to it. This is the actual shape of a production ingest:
    * per batch, only the new documents are shingled; the corpus side is
    * parquet reads of narrow index frames.
    *
    * Artifacts under `stateDir` (a distributed FS path in production):
    *   - `shingles/batch=N`, `bands/batch=N` — the accumulated index
    *   - `edges/batch=N` — verified near-dup edges touching batch N
    *     (including batch-internal pairs), ≡
    *     `Dedup.incrementalNearDupEdges(prior batches, batch N)` —
    *     differentially tested, micro-batch by micro-batch
    *   - `_committed/N` — written LAST per batch
    *
    * Exactly-once across restarts: a replayed batch id that is already
    * committed is skipped; a batch that crashed mid-write left no marker
    * and its batch-scoped dirs are simply overwritten on replay. Readers
    * ([[ingestIndex]]/[[ingestEdges]]) see only committed batches, so a
    * partial write is never observed.
    */
  def ingestNearDup(
      docs: DataFrame, stateDir: String, checkpointDir: String,
      n: Int = 3, numHashes: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.7,
      maxBucketSize: Int = Dedup.NearDupMaxBucket): StreamingQuery =
    stream(docs, checkpointDir)(ingestNearDupBatch(_, stateDir, _,
      n, numHashes, rowsPerBand, threshold, maxBucketSize))

  /** One ingest step (see [[ingestNearDup]]); public for batch-mode
    * replays and tests — the streaming query calls exactly this.
    */
  def ingestNearDupBatch(
      batch: DataFrame, stateDir: String, batchId: Long,
      n: Int = 3, numHashes: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.7,
      maxBucketSize: Int = Dedup.NearDupMaxBucket): Unit =
    commitOnce(batch, stateDir, batchId) { (s, at) =>
      // empty prior index for the first batch: the incremental pass then
      // returns exactly the batch-internal pairs (every pair "touches the
      // delta"), so one code path serves bootstrap and steady state
      val idx =
        if (s.isEmpty) Dedup.buildIndex(batch.limit(0), n, numHashes, rowsPerBand)
        else nearDupIndex(s, n, numHashes, rowsPerBand)
      save(Dedup.incrementalNearDupEdgesIndexed(idx, batch, threshold, maxBucketSize),
        at(Edges))
      val sh = Dedup.shingles(batch, n)
      save(sh, at(Shingles))
      save(Dedup.lshBands(sh, numHashes, rowsPerBand), at(Bands))
    }

  /** The accumulated ingest index over all COMMITTED batches (None
    * before the first commit) — directly searchable by the incremental
    * Dedup operators. After a [[compactNearDup]] the base's canonical
    * frames stand in for the batches they folded: the read is base +
    * uncompacted deltas, so probe cost stays flat in batch count.
    */
  def ingestIndex(spark: SparkSession, stateDir: String,
      n: Int = 3, numHashes: Int = 16, rowsPerBand: Int = 4): Option[Dedup.DedupIndex] =
    view(spark, stateDir)(nearDupIndex(_, n, numHashes, rowsPerBand))

  private def nearDupIndex(s: State, n: Int, numHashes: Int,
      rowsPerBand: Int): Dedup.DedupIndex = {
    s.base.foreach { b =>
      val m = s.spark.read.parquet(s"$b/$IndexDir/meta").head()
      require(m.getAs[Int]("n") == n && m.getAs[Int]("num_hashes") == numHashes &&
          m.getAs[Int]("rows_per_band") == rowsPerBand,
        s"ingestIndex params ($n,$numHashes,$rowsPerBand) differ from the " +
          s"compacted base's manifest ($m) — refusing to mix band layouts")
    }
    Dedup.DedupIndex(s.read(Shingles, s"$IndexDir/$Shingles"),
      s.read(Bands, s"$IndexDir/$Bands"), n, numHashes, rowsPerBand)
  }

  /** All committed near-dup edges of an [[ingestNearDup]] run so far
    * (compacted base edges + uncompacted delta batches).
    */
  def ingestEdges(spark: SparkSession, stateDir: String): Option[DataFrame] =
    view(spark, stateDir)(_.read(Edges))

  /** Fold every committed near-dup ingest batch (and any prior base)
    * into a fresh canonical base: `base/compact=C/index` in the
    * [[Dedup.writeIndex]] layout (loadable by [[Dedup.loadIndex]] as a
    * standalone artifact) plus `base/compact=C/edges`, where C is the
    * newest committed batch folded in. The `_compacted/C` marker is
    * written LAST — the same commit protocol as the ingest itself, so a
    * crash mid-compact leaves readers on the previous view. Covered
    * batch dirs and the previous base are then deleted.
    *
    * Safe against a live ingest: only batches committed at the time of
    * the listing are folded; a batch that commits mid-compact stays a
    * delta until the next cadence run. Returns the new watermark C, or
    * None when there is nothing new to fold.
    */
  def compactNearDup(spark: SparkSession, stateDir: String,
      n: Int = 3, numHashes: Int = 16, rowsPerBand: Int = 4): Option[Long] =
    compact(spark, stateDir, Seq(Shingles, Bands, Edges)) { (s, base) =>
      Dedup.compactIndex(nearDupIndex(s, n, numHashes, rowsPerBand), s"$base/$IndexDir")
      save(s.read(Edges), s"$base/$Edges")
    }

  private val Cents = "cents"
  private val Meta = "meta"
  private val Assigned = "assigned"

  /** Streaming embedding ingest — the [[ingestNearDup]] shape on the
    * similarity tier: the FIRST micro-batch is the index build job
    * (k-means-trained on the bootstrap vectors, centroids + stride
    * persisted once), and every later batch runs the q87 contract —
    * assign ONLY the batch's vectors against the stored broadcast
    * centroids ([[Similarity.ivfAssign]]) and persist the batch's
    * assignment rows. Centroids never move per ingest (production
    * retrains on a cadence as a separate build job), so the accumulated
    * assignment is differentially ≡ a batch-mode [[Similarity.ivfAppend]]
    * chain over the same cuts — tested micro-batch by micro-batch,
    * across restarts.
    *
    * Artifacts under `stateDir`: `cents/` + `meta/` (bootstrap, the
    * [[Similarity.writeIvfIndex]] layout), `assigned/batch=N`,
    * `_committed/N` written LAST — the same exactly-once replay contract
    * as [[ingestNearDupBatch]].
    */
  def ingestIvf(emb: DataFrame, stateDir: String,
      checkpointDir: String, iters: Int = 2): StreamingQuery =
    stream(emb, checkpointDir)(ingestIvfBatch(_, stateDir, _, iters))

  /** One embedding-ingest step (see [[ingestIvf]]); public for batch-mode
    * replays and tests — the streaming query calls exactly this.
    */
  def ingestIvfBatch(batch: DataFrame, stateDir: String, batchId: Long,
      iters: Int = 2): Unit =
    commitOnce(batch, stateDir, batchId) { (s, at) =>
      if (s.isEmpty) { // bootstrap: THIS batch is the index build job
        val idx = Similarity.ivfTrainedIndex(batch, iters = iters)
        save(idx.cents, s"$stateDir/$Cents")
        save(s.spark.range(1).select(lit(idx.stride).as("stride")), s"$stateDir/$Meta")
        save(idx.assigned, at(Assigned))
      } else // steady state: one batch-sized scan, q87's law
        save(Similarity.ivfAssign(ivfIndex(s), batch), at(Assigned))
    }

  /** The accumulated streamed index over all COMMITTED batches (None
    * before bootstrap commits) — directly [[Similarity.ivfSearch]]-able.
    * After a [[compactIvf]] the base's canonical artifact stands in for
    * the assignment deltas it folded.
    */
  def ingestIvfIndex(spark: SparkSession, stateDir: String): Option[Similarity.IvfIndex] =
    view(spark, stateDir)(ivfIndex)

  private def ivfIndex(s: State): Similarity.IvfIndex = {
    // cents/stride never change after bootstrap; read them from the
    // base when one exists so the base alone is the full artifact
    val pfx = s.base.getOrElse(s.dir)
    Similarity.ivfIndexFrom(
      s.spark.read.parquet(s"$pfx/$Meta").head().getAs[Int]("stride"),
      s.spark.read.parquet(s"$pfx/$Cents"), s.read(Assigned))
  }

  /** Fold every committed IVF assignment delta (and any prior base) into
    * a fresh canonical base: `base/compact=C` in the
    * [[Similarity.writeIvfIndex]] layout — cents + summed assignment +
    * stride manifest, loadable by [[Similarity.loadIvfIndex]] as a
    * standalone artifact. Same commit/GC protocol as [[compactNearDup]]
    * (`_compacted/C` marker written last; covered `assigned/batch=N`
    * dirs and the previous base then deleted). The bootstrap
    * `cents`/`meta` at the state root are kept — they are the build
    * job's artifact and stay byte-identical to the base's copy.
    */
  def compactIvf(spark: SparkSession, stateDir: String): Option[Long] =
    compact(spark, stateDir, Seq(Assigned))((s, base) =>
      Similarity.writeIvfIndex(ivfIndex(s), base))

  private val Postings = "postings"
  private val Doclens = "doclens"
  private val Stats = "stats"

  /** Streaming inverted-index ingest — the [[ingestNearDup]] shape on
    * the retrieval tier: each micro-batch of documents tokenizes ONLY
    * its own docs into postings/doclens frames and appends them to the
    * accumulated stored index (the [[graft.operators.TextIndex]] layout,
    * batch-partitioned). Because ingested doc_ids are append-only,
    * batch posting frames are (word, doc_id)-disjoint and the
    * accumulated index is exactly the from-scratch build — BM25 over
    * the streamed index ≡ [[graft.operators.TextIndex.bm25Rank]] over
    * everything ingested so far, differentially tested across restarts.
    *
    * Artifacts under `stateDir`: `postings/batch=N`, `doclens/batch=N`,
    * `stats/batch=N` (that batch's doc/token counts — the reader SUMS
    * them, so stats stay mergeable), `_committed/N` written LAST — the
    * same exactly-once replay contract as [[ingestNearDupBatch]].
    */
  def ingestTextIndex(docs: DataFrame, stateDir: String,
      checkpointDir: String): StreamingQuery =
    stream(docs, checkpointDir)(ingestTextIndexBatch(_, stateDir, _))

  /** One text-index ingest step (see [[ingestTextIndex]]); public for
    * batch-mode replays and tests — the streaming query calls exactly
    * this.
    */
  def ingestTextIndexBatch(batch: DataFrame, stateDir: String,
      batchId: Long): Unit =
    commitOnce(batch, stateDir, batchId) { (s, at) =>
      val idx = TextIndex.build(batch)
      save(idx.postings.repartition(col("word")), at(Postings))
      save(idx.doclens, at(Doclens))
      save(s.spark.range(1).select(lit(idx.nDocs).as("n_docs"),
        lit(idx.totalTokens).as("total_tokens")), at(Stats))
    }

  /** The accumulated streamed inverted index over all COMMITTED batches
    * (None before the first commit) — directly
    * [[graft.operators.TextIndex.bm25]]/`lookup`-servable.
    */
  def ingestTextIndexRead(spark: SparkSession,
      stateDir: String): Option[TextIndex.Index] =
    view(spark, stateDir)(textIndex)

  private def textIndex(s: State): TextIndex.Index = {
    // the base's stats manifest is the already-summed fold of the
    // batches it covers — summing it WITH the delta manifests keeps
    // stats mergeable across compactions
    val st = s.read(Stats).agg(sum("n_docs"), sum("total_tokens")).head()
    TextIndex.Index(s.read(Postings), s.read(Doclens), st.getLong(0), st.getLong(1))
  }

  /** Fold every committed text-index ingest batch (and any prior base)
    * into a fresh canonical base: `base/compact=C` in the
    * [[TextIndex.compact]] layout — word-repartitioned postings,
    * doclens, summed stats manifest, loadable by [[TextIndex.load]] as
    * a standalone artifact. Same commit/GC protocol as
    * [[compactNearDup]]. This is the cadence job that keeps BM25 probe
    * cost flat: without it a term probe touches one posting file group
    * PER BATCH forever.
    */
  def compactTextIndex(spark: SparkSession, stateDir: String): Option[Long] =
    compact(spark, stateDir, Seq(Postings, Doclens, Stats))((s, base) =>
      TextIndex.compact(textIndex(s), base))

  private val Bits = "bits"

  /** Streaming ingest Bloom — a `foreachBatch` composition of the
    * membership front door ([[Sketches.bloomMembership]]) built
    * incrementally. Per batch the arriving docs' occupied-bucket set
    * (distinct, ≤ m rows) lands under `bits/batch=N` with the (k, m)
    * meta written at bootstrap; the same marker-last commit protocol
    * as the other tiers. Bloom state is a pure SET UNION — bits
    * only ever turn on — so the fold over committed batches is
    * associative, replay-safe, and order-independent: the streamed
    * filter is bit-identical to a batch [[Sketches.bloomBuild]] over
    * the union of the batches (the StreamingSpec differential).
    */
  def ingestBloom(docs: DataFrame, stateDir: String, checkpointDir: String,
      k: Int = 4, m: Int = 131072): StreamingQuery =
    stream(docs, checkpointDir)(ingestBloomBatch(_, stateDir, _, k, m))

  /** One Bloom ingest step (see [[ingestBloom]]); public for batch-mode
    * replays and tests — the streaming query calls exactly this.
    */
  def ingestBloomBatch(batch: DataFrame, stateDir: String, batchId: Long,
      k: Int = 4, m: Int = 131072): Unit =
    commitOnce(batch, stateDir, batchId) { (s, at) =>
      // (k, m) drift gate: bucket sets hashed under different moduli must
      // never be unioned — a mixed filter can yield FALSE NEGATIVES, the
      // one failure a Bloom filter's contract forbids. On any non-first
      // batch the pinned meta is authoritative; fail loudly on mismatch
      // (the profile tier gates the same drift class via pp_version).
      if (!s.isEmpty) {
        val (_, k0, m0) = bloom(s)
        require(k0 == k && m0 == m,
          s"Bloom ingest (k=$k, m=$m) conflicts with the pinned state " +
            s"(k=$k0, m=$m0) at $stateDir — mixed-modulus bucket unions " +
            "break the no-false-negatives contract")
      }
      save(Sketches.bloomBuild(batch, k, m), at(Bits))
      // (k, m) pin: every batch writes the same one-row frame (the
      // foreachBatch loop is serial, and identical content makes the
      // overwrite idempotent under replay)
      save(bloomMeta(s.spark, k, m), s"$stateDir/$Meta")
    }

  private def bloomMeta(spark: SparkSession, k: Int, m: Int): DataFrame =
    spark.range(1).select(lit(k.toLong).as("k"), lit(m.toLong).as("m"))

  /** The accumulated streamed filter over all COMMITTED batches (and
    * any compacted base): the distinct union of their occupied-bucket
    * sets, with the pinned (k, m). None before the first commit.
    */
  def ingestBloomRead(spark: SparkSession,
      stateDir: String): Option[(DataFrame, Int, Int)] =
    view(spark, stateDir)(bloom)

  private def bloom(s: State): (DataFrame, Int, Int) = {
    val meta = s.spark.read.parquet(s"${s.dir}/$Meta").head()
    (s.read(Bits).distinct(), meta.getAs[Long]("k").toInt, meta.getAs[Long]("m").toInt)
  }

  /** Probe the streamed filter — verdict-only rows, the ingest
    * front-door shape ([[Sketches.bloomProbe]] over the accumulated
    * set). None before the first commit.
    */
  def ingestBloomProbe(spark: SparkSession, stateDir: String,
      probes: DataFrame): Option[DataFrame] =
    ingestBloomRead(spark, stateDir).map { case (occ, k, m) =>
      Sketches.bloomProbe(occ, probes, k, m)
    }

  /** Fold every committed Bloom batch (and any prior base) into a
    * fresh canonical base: `base/compact=C` in the [[Sketches.writeBloom]]
    * layout (`bits/` + `meta/`), loadable by
    * [[Sketches.bloomMembershipStored]] as a standalone artifact. Same
    * commit/GC protocol as the other tiers. Keeps probe cost flat: an
    * uncompacted probe unions one bucket-set file group per batch
    * forever.
    */
  def compactBloom(spark: SparkSession, stateDir: String): Option[Long] =
    compact(spark, stateDir, Seq(Bits)) { (s, base) =>
      val (occ, k, m) = bloom(s)
      save(occ, s"$base/$Bits")
      save(bloomMeta(spark, k, m), s"$base/$Meta")
    }

  private val ProfilePart = "profile"

  /** Streaming data-quality profile — a `foreachBatch` ingest
    * composition: each micro-batch writes its MERGEABLE per-column
    * profile partial ([[graft.operators.Profile.profilePartial]]:
    * counts + portable min/max + a KMV distinct sketch) under
    * `profile/batch=N`, commit marker last (the shared exactly-once
    * protocol). [[ingestProfileRead]] folds every committed partial —
    * and because the KMV merge is lossless at the sketch level, the
    * streamed profile is IDENTICAL to a single-pass profile of all
    * data ingested so far, whatever the batching (the differential
    * law StreamingSpec pins). No compaction cadence needed: a partial
    * is O(columns) rows, so a year of micro-batches reads in
    * milliseconds.
    */
  def ingestProfile(rows: DataFrame, stateDir: String,
      checkpointDir: String): StreamingQuery =
    stream(rows, checkpointDir)(ingestProfileBatch(_, stateDir, _))

  /** One profile ingest step (see [[ingestProfile]]); public for
    * batch-mode replays and tests.
    */
  def ingestProfileBatch(batch: DataFrame, stateDir: String,
      batchId: Long): Unit =
    commitOnce(batch, stateDir, batchId)((_, at) =>
      save(Profile.profilePartial(batch), at(ProfilePart)))

  /** The accumulated profile over all COMMITTED batches (None before
    * the first commit): (column_name, n_rows, n_nulls, n_distinct_est,
    * min_str, max_str).
    */
  def ingestProfileRead(spark: SparkSession,
      stateDir: String): Option[DataFrame] =
    view(spark, stateDir) { s =>
      // mergeSchema + an explicit version gate: a state dir written by
      // an older partial format must FAIL here, not silently mis-merge
      // (v1 rendered integral extrema as strings — coalescing them
      // under the v2 schema would discard them)
      val partials = spark.read.option("mergeSchema", "true")
        .parquet(s.paths(ProfilePart): _*)
      val ok = partials.columns.contains("pp_version") && {
        // coalesce BEFORE min: rows from a version-less partial read
        // under the merged schema carry NULL, which a bare min() would
        // skip right past
        val r = partials.agg(min(coalesce(col("pp_version"), lit(-1L)))).head()
        !r.isNullAt(0) && r.getLong(0) == Profile.ProfilePartialVersion
      }
      if (!ok) throw new IllegalStateException(
        s"profile state under $stateDir carries partials from an older " +
          "format version — re-ingest (mixed-version folds would " +
          "silently mis-merge integral extrema)")
      Profile.mergeProfile(partials)
    }

  private val Hist = "hist"

  /** Streaming value histogram — a `foreachBatch` ingest
    * composition: each micro-batch writes its (grp, cents, c)
    * histogram partial ([[graft.operators.Profile.valueHist]] — a pure
    * mergeable: partials from disjoint batches fold by summing `c`,
    * so the fold is associative, replay-safe, and order-independent).
    * The folded histogram feeds the robust median/MAD outlier audit
    * ([[Profile.robustOutliersFromHist]]) — streamed ≡ the one-shot
    * batch [[Profile.robustOutliers]] over the union of the batches,
    * at hash level (the StreamingSpec differential). Same marker-last
    * commit protocol and [[compactValueHist]] cadence job as the
    * other tiers; state is bounded by groups × value grid, never rows.
    */
  def ingestValueHist(rows: DataFrame, stateDir: String, checkpointDir: String,
      groupCol: String, valueCol: String): StreamingQuery =
    stream(rows, checkpointDir)(ingestValueHistBatch(_, stateDir, _, groupCol, valueCol))

  /** One histogram ingest step (see [[ingestValueHist]]); public for
    * batch-mode replays and tests.
    */
  def ingestValueHistBatch(batch: DataFrame, stateDir: String, batchId: Long,
      groupCol: String, valueCol: String): Unit =
    commitOnce(batch, stateDir, batchId)((_, at) =>
      save(Profile.valueHist(batch, groupCol, valueCol), at(Hist)))

  /** The folded histogram over all COMMITTED batches (and any compacted
    * base): one row per (grp, cents) with the summed count. None before
    * the first commit.
    */
  def ingestValueHistRead(spark: SparkSession,
      stateDir: String): Option[DataFrame] =
    view(spark, stateDir)(valueHist)

  private def valueHist(s: State): DataFrame =
    s.read(Hist).groupBy("grp", "cents").agg(sum("c").as("c"))

  /** The robust outlier audit over the streamed state — the ingest-side
    * face of q138. None before the first commit.
    */
  def ingestRobustOutliers(spark: SparkSession, stateDir: String,
      kNum: Long = 3L, kDen: Long = 1L): Option[DataFrame] =
    ingestValueHistRead(spark, stateDir)
      .map(Profile.robustOutliersFromHist(_, kNum, kDen))

  /** Fold every committed histogram batch (and any prior base) into a
    * fresh canonical base — same commit/GC protocol as [[compactBloom]];
    * keeps read cost flat as batch count grows.
    */
  def compactValueHist(spark: SparkSession, stateDir: String): Option[Long] =
    compact(spark, stateDir, Seq(Hist))((s, base) => save(valueHist(s), s"$base/$Hist"))

  private val Cent = "cent"

  /** Streaming per-label embedding-centroid state — a
    * `foreachBatch` ingest composition: each micro-batch of embedding
    * rows writes its per-label quantized component-sum partial
    * ([[graft.operators.Similarity.centroidPartial]] — a pure
    * mergeable: integer sums fold with NO precision loss, so the
    * streamed centroid is bit-identical to a one-shot scan whatever
    * the batching). The read face finishes the folded sums through the
    * SAME divide-back the batch queries use (q170/q206 arithmetic), so
    * a production drift monitor can compare live-ingested centroids
    * against a stored snapshot without ever rescanning the corpus.
    * Marker-last commit + [[compactCentroids]] cadence, the shared
    * protocol; state is labels × dim longs, never rows.
    */
  def ingestCentroids(emb: DataFrame, stateDir: String,
      checkpointDir: String): StreamingQuery =
    stream(emb, checkpointDir)(ingestCentroidsBatch(_, stateDir, _))

  /** One centroid ingest step (see [[ingestCentroids]]); public for
    * batch-mode replays and tests.
    */
  def ingestCentroidsBatch(batch: DataFrame, stateDir: String,
      batchId: Long): Unit =
    commitOnce(batch, stateDir, batchId)((_, at) =>
      save(Similarity.centroidPartial(batch), at(Cent)))

  /** The finished per-label centroids over all COMMITTED batches (and
    * any compacted base): (label, cnt, ce). None before the first
    * commit.
    */
  def ingestCentroidsRead(spark: SparkSession,
      stateDir: String): Option[DataFrame] =
    view(spark, stateDir)(s => Similarity.finishCentroids(centroidSums(s)))

  private def centroidSums(s: State): DataFrame =
    Similarity.mergeCentroidPartials(s.read(Cent))

  /** Fold the committed centroid partials into one base (the shared
    * compact/GC protocol) — merged SUMS are stored, not finished
    * centroids, so later deltas keep folding losslessly.
    */
  def compactCentroids(spark: SparkSession, stateDir: String): Option[Long] =
    compact(spark, stateDir, Seq(Cent))((s, base) => save(centroidSums(s), s"$base/$Cent"))

  private val Budget = "budget"

  /** Streaming training-token budget — a `foreachBatch`
    * ingest composition: each micro-batch of documents writes its
    * per-(source, split) doc/token partial
    * ([[graft.operators.Prep.budgetPartial]] — split assignment is the
    * q56 hash bucket and the count is the q39 whitespace counter, both
    * PER-DOC deterministic, so the partial is a pure integer mergeable
    * and the folded budget is bit-identical to a one-shot rollup of
    * every ingested doc whatever the batching — the StreamingSpec
    * differential). The LIVE face of q213's stored-manifest budget: a
    * mixture monitor watches per-(source, split) token mass fill as
    * batches land instead of waiting for the pipeline rebuild. (The
    * curation/semantic include flags are corpus-GLOBAL — a doc's
    * near-dup status can flip as later docs arrive — so the streamed
    * budget is the pre-chain mass; the stored manifest stays the
    * post-chain authority.) Marker-last commit + [[compactBudget]]
    * cadence; state is sources × splits rows per batch.
    */
  def ingestBudget(docs: DataFrame, stateDir: String,
      checkpointDir: String): StreamingQuery =
    stream(docs, checkpointDir)(ingestBudgetBatch(_, stateDir, _))

  /** One budget ingest step (see [[ingestBudget]]); public for
    * batch-mode replays and tests.
    */
  def ingestBudgetBatch(batch: DataFrame, stateDir: String,
      batchId: Long): Unit =
    commitOnce(batch, stateDir, batchId)((_, at) =>
      save(Prep.budgetPartial(batch), at(Budget)))

  /** The folded (source, split, n_docs, ws_tokens) budget over all
    * COMMITTED batches (and any compacted base). None before the first
    * commit.
    */
  def ingestBudgetRead(spark: SparkSession,
      stateDir: String): Option[DataFrame] =
    view(spark, stateDir)(budget)

  private def budget(s: State): DataFrame = Prep.mergeBudgetPartials(s.read(Budget))

  /** Fold the committed budget partials into one base (the shared
    * compact/GC protocol) — merged integer sums, so later deltas keep
    * folding losslessly.
    */
  def compactBudget(spark: SparkSession, stateDir: String): Option[Long] =
    compact(spark, stateDir, Seq(Budget))((s, base) => save(budget(s), s"$base/$Budget"))

  private val Trans = "trans"
  private val Frontier = "frontier"

  /** Streaming Markov transition matrix — the first ORDER-SENSITIVE
    * `foreachBatch` ingest composition: transition
    * counts are NOT a pure mergeable (the pair spanning two batches
    * belongs to neither batch alone), so each micro-batch carries a
    * per-user FRONTIER — the last (ts, event_id, type) seen per user —
    * and counts its within-batch pairs PLUS the frontier→first-event
    * boundary pair, writing a summable (from_type, to_type, n) partial.
    * Folded counts + the shared normalization tail
    * ([[graft.operators.Sessions.normalizeTransitions]]) ≡ the one-shot
    * batch [[graft.operators.Sessions.transitionMatrix]] over the
    * concatenated stream, at hash level (the StreamingSpec
    * differential).
    *
    * Contract: per-user event-time monotone ingest (append order — a
    * log). A batch event at-or-before its user's stored frontier would
    * silently mis-pair, so the batch step FAILS LOUDLY on the first
    * violation instead (the Bloom-meta / profile-version posture:
    * detectable drift never folds quietly). Same marker-last commit,
    * replay-skip, and [[compactTransitions]] cadence as the other
    * tiers; state is the (from, to) count grid plus one frontier row
    * per user.
    */
  def ingestTransitions(events: DataFrame, stateDir: String,
      checkpointDir: String, gapSeconds: Long = 1800L): StreamingQuery =
    stream(events, checkpointDir)(ingestTransitionsBatch(_, stateDir, _, gapSeconds))

  /** One transition ingest step (see [[ingestTransitions]]); public for
    * batch-mode replays and tests.
    */
  def ingestTransitionsBatch(batch: DataFrame, stateDir: String,
      batchId: Long, gapSeconds: Long = 1800L): Unit =
    commitOnce(batch, stateDir, batchId) { (s, at) =>
      val ev = batch.select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      val all = frontier(s) match {
        case None => ev
        case Some(f) =>
          val firsts = ev.groupBy("user_id")
            .agg(min(struct(unix_micros(col("ts")).as("ts_us"),
              col("event_id").as("event_id"))).as("first"))
          val viol = firsts
            .join(f.select(col("user_id"),
              struct(col("ts_us"), col("event_id")).as("last")), "user_id")
            .filter(!(col("first") > col("last")))
          val bad = viol.limit(1).collect()
          if (bad.nonEmpty) throw new IllegalStateException(
            s"ingestTransitions: batch $batchId carries an event at-or-" +
              s"before the stored frontier for user ${bad.head.get(0)} — " +
              "out-of-order ingest would silently mis-pair transitions; " +
              "this tier requires per-user event-time monotone batches")
          ev.unionByName(f.select(col("user_id"),
            expr("timestamp_micros(ts_us)").as("ts"), col("event_id"),
            col("event_type")))
      }
      save(Sessions.transitionCounts(all, gapSeconds), at(Trans))
      save(all.groupBy("user_id")
        .agg(max(struct(unix_micros(col("ts")).as("ts_us"),
          col("event_id").as("event_id"),
          col("event_type").as("event_type"))).as("m"))
        .select(col("user_id"), col("m.ts_us").as("ts_us"),
          col("m.event_id").as("event_id"),
          col("m.event_type").as("event_type")), at(Frontier))
    }

  /** The newest frontier snapshot (one row per user): the highest delta
    * batch's or, failing that, the compacted base's.
    */
  private def frontier(s: State): Option[DataFrame] =
    s.paths(Frontier).lastOption.map(s.spark.read.parquet(_))

  private def transitionCounts(s: State): DataFrame =
    s.read(Trans).groupBy("from_type", "to_type").agg(sum("n").as("n"))

  /** The row-normalized transition matrix over all committed batches
    * (and any compacted base) — the ingest-side face of q151. None
    * before the first commit.
    */
  def ingestTransitionsRead(spark: SparkSession,
      stateDir: String): Option[DataFrame] =
    view(spark, stateDir)(s => Sessions.normalizeTransitions(transitionCounts(s)))

  /** Fold every committed transition partial (and any prior base) into
    * a fresh canonical base, carrying the newest frontier forward —
    * same commit/GC protocol as [[compactValueHist]]; keeps read cost
    * flat as batch count grows.
    */
  def compactTransitions(spark: SparkSession, stateDir: String): Option[Long] =
    compact(spark, stateDir, Seq(Trans, Frontier)) { (s, base) =>
      save(transitionCounts(s), s"$base/$Trans")
      save(frontier(s).get, s"$base/$Frontier")
    }

  private val Firsts = "firsts"
  private val Horizon = "hz"

  /** Streaming survival analysis — a `foreachBatch` ingest
    * composition: the Nelson–Aalen repurchase hazard (batch face q165,
    * [[graft.operators.Sessions.repurchaseHazard]]) over an event
    * stream. Unlike the order-sensitive transitions tier, this state IS
    * a pure mergeable: the study needs only each user's two EARLIEST
    * purchases plus the corpus' last purchase second, and the global
    * two-earliest always lie inside the union of per-batch two-earliest
    * (each batch persists ≤ 2 slim (user_id, event_id, s) rows per user
    * and a 1-row batch horizon), so the fold is associative,
    * replay-safe, and order-independent — streamed ≡ batch is a hash
    * law whatever the batching (the StreamingSpec differential). Same
    * marker-last commit, replay-skip, and [[compactHazard]] cadence as
    * the other tiers; compaction re-ranks accumulated candidates back
    * to ≤ 2 rows per user, so state stays user-bounded however long the
    * ingest runs.
    */
  def ingestHazard(events: DataFrame, stateDir: String,
      checkpointDir: String, eventType: String = "purchase"): StreamingQuery =
    stream(events, checkpointDir)(ingestHazardBatch(_, stateDir, _, eventType))

  /** One hazard ingest step (see [[ingestHazard]]); public for
    * batch-mode replays and tests.
    */
  def ingestHazardBatch(batch: DataFrame, stateDir: String, batchId: Long,
      eventType: String = "purchase"): Unit =
    commitOnce(batch, stateDir, batchId) { (_, at) =>
      val sec = "((unix_micros(ts) - pmod(unix_micros(ts), 1000000)) div 1000000)"
      val p = batch.filter(col("event_type") === eventType
          && col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), col("event_id"), expr(sec).as("s"))
      save(twoEarliest(p), at(Firsts))
      save(p.agg(max(col("s")).as("tmax")), at(Horizon))
    }

  /** Each user's two earliest (s, event_id) purchase rows. */
  private def twoEarliest(p: DataFrame): DataFrame =
    p.withColumn("rn", row_number().over(
        Window.partitionBy("user_id").orderBy(col("s"), col("event_id"))))
      .filter(col("rn") <= 2).drop("rn")

  private def horizon(s: State): DataFrame =
    s.read(Horizon).agg(max(col("tmax")).as("tmax"))

  /** The Nelson–Aalen hazard frame over everything ingested (and any
    * compacted base) — hash-identical to batch q165 over the union of
    * the batches. None before the first commit.
    */
  def ingestHazardRead(spark: SparkSession,
      stateDir: String): Option[DataFrame] =
    view(spark, stateDir)(s => Sessions.hazardFromPurchases(s.read(Firsts), horizon(s)))

  /** Fold every committed hazard batch (and any prior base) into a
    * fresh canonical base: candidates re-ranked back to ≤ 2 rows per
    * user, horizons folded to one row — same commit/GC protocol as the
    * other tiers; keeps BOTH read cost and state size flat as batch
    * count grows.
    */
  def compactHazard(spark: SparkSession, stateDir: String): Option[Long] =
    compact(spark, stateDir, Seq(Firsts, Horizon)) { (s, base) =>
      save(twoEarliest(s.read(Firsts)), s"$base/$Firsts")
      save(horizon(s), s"$base/$Horizon")
    }

  private val Features = "features"

  /** Streaming ingest of IMAGE FEATURES — the `foreachBatch`
    * composition joining the multimodal tier to the ingest protocol:
    * as payload blobs arrive, ONLY the new batch pays the codec pass
    * ([[graft.operators.Multimodal.extractImageFeatures]] — the q215
    * per-partition `javax.imageio` decode), and its integer-exact
    * feature rows land under `features/batch=N` with the same
    * marker-last exactly-once contract as the other tiers.
    * Feature rows are pure per-doc derivations of append-only doc_ids,
    * so batch frames are disjoint and the fold over committed batches
    * is row-identical to a batch decode over everything ingested — the
    * StreamingSpec differential, checked across replays and
    * compaction. At 100 TB this is THE shape for an image corpus: a
    * crawl never re-decodes yesterday's payloads, and downstream
    * consumers (dedup on the histogram fingerprint, resize manifests)
    * read the feature artifact, never the bytes.
    */
  def ingestImageFeatures(blobs: DataFrame, stateDir: String,
      checkpointDir: String): StreamingQuery =
    stream(blobs, checkpointDir)(ingestImageFeaturesBatch(_, stateDir, _))

  /** One image-feature ingest step (see [[ingestImageFeatures]]);
    * public for batch-mode replays and tests. `batch` carries the
    * [[graft.operators.Multimodal.Blob]] schema (doc_id, bytes).
    */
  def ingestImageFeaturesBatch(batch: DataFrame, stateDir: String,
      batchId: Long): Unit =
    commitOnce(batch, stateDir, batchId)((_, at) =>
      save(Multimodal.extractImageFeatures(
        batch.as[Multimodal.Blob](Encoders.product[Multimodal.Blob])), at(Features)))

  /** The accumulated feature table over all COMMITTED batches (None
    * before the first commit): (doc_id, width, height, lum_hist).
    */
  def ingestImageFeaturesRead(spark: SparkSession,
      stateDir: String): Option[DataFrame] =
    view(spark, stateDir)(_.read(Features))

  /** Fold committed image-feature batches (and any prior base) into one
    * canonical base — same commit/GC protocol as [[compactNearDup]];
    * keeps a feature probe reading one file group instead of one per
    * batch forever. The fold is a plain disjoint union: no re-decode.
    */
  def compactImageFeatures(spark: SparkSession, stateDir: String): Option[Long] =
    compact(spark, stateDir, Seq(Features))((s, base) =>
      save(s.read(Features), s"$base/$Features"))

  /** Typed event row for the stateful API (subset of the events schema). */
  case class UserEvent(user_id: Long, event_type: String, value: Double,
      ts: java.sql.Timestamp)

  /** Running per-user state: event count, value total, last event time. */
  case class UserState(user_id: Long, n_events: Long, total_value: Double)

  /** The sessionization state machine reads ONLY (user_id, ts) — a slim
    * keyed row keeps event_type/value strings out of the groupByKey
    * shuffle on the ingest path. (Public: encoder-generated projections
    * live outside this object and cannot access a private class.)
    */
  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp)

  /** Open-session island for [[sessionCloseEvents]] (epoch µs). */
  case class OpenSession(start_us: Long, last_us: Long, n: Long)

  /** [[sessionCloseEvents]] state: ALL islands not yet sealed by the
    * watermark, earliest first — not just the trailing one.
    */
  case class OpenSessions(islands: List[OpenSession])

  /** A closed session, emitted once (epoch µs bounds). */
  case class ClosedSession(user_id: Long, start_us: Long, end_us: Long, n_events: Long)

  /** Session-close events via `flatMapGroupsWithState` + event-time
    * timeout — the 0..n-outputs-per-group stateful surface (vs
    * [[runningUserState]]'s exactly-one).
    *
    * Append-once semantics mirror Spark's own `session_window` append
    * mode: an island [start, end] is emitted only once the event-time
    * watermark strictly passes end + gap — before that, an admissible
    * straggler (event-time ≥ watermark, allowed whenever watermarkDelay
    * > 0) could still land within the gap and merge with or bridge into
    * it, which batch [[graft.operators.Sessions.sessionize]] would fold
    * into one island. So state holds EVERY unsealed island, not just
    * the trailing one; the event-time timeout is set to the earliest
    * unsealed deadline, and each wake-up (new data or timeout) emits
    * exactly the islands the watermark has sealed. State per key is
    * bounded by the watermark horizon (islands older than delay + gap
    * are always sealed), evicted when no island remains.
    *
    * Differential contract (tested at delay 0 and 2h): streamed closed
    * sessions == batch sessionize islands, once the watermark has
    * flushed every trailing session.
    */
  def sessionCloseEvents(events: DataFrame, gapSeconds: Long = 1800L,
      watermarkDelay: String = "0 seconds"): Dataset[ClosedSession] = {
    import org.apache.spark.sql.streaming.OutputMode
    implicit val seEnc: Encoder[SessionEvent] = Encoders.product[SessionEvent]
    implicit val osEnc: Encoder[OpenSessions] = Encoders.product[OpenSessions]
    implicit val csEnc: Encoder[ClosedSession] = Encoders.product[ClosedSession]
    implicit val longEnc: Encoder[Long] = Encoders.scalaLong
    val gapUs = gapSeconds * 1000000L

    events.withWatermark("ts", watermarkDelay)
      .select(col("user_id"), col("ts"))
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSessions, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[SessionEvent], state: GroupState[OpenSessions]) =>
          // One unified path for data batches AND timeout wake-ups (where
          // `it` is empty): fold the batch's sorted times into islands,
          // merge them with the parked ones (an early straggler can
          // extend an island backward or bridge two — never regress an
          // end), then emit exactly the islands the watermark has sealed.
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val parked = state.getOption.map(_.islands).getOrElse(Nil)
          val times = it
            // floorDiv, not /: getNanos is always the non-negative
            // sub-second part, so the seconds component must floor for
            // pre-epoch instants (-0.5s is floor(-500ms/1000) = -1s plus
            // 500000µs of nanos, not 0s plus 500000µs)
            .map(e => Math.floorDiv(e.ts.getTime, 1000L) * 1000000L +
              e.ts.getNanos / 1000L)
            .toArray.sorted
          val fresh = times.foldLeft(List.empty[OpenSession]) {
            case (cur :: done, t) if t - cur.last_us <= gapUs =>
              cur.copy(last_us = t, n = cur.n + 1) :: done
            case (acc, t) => OpenSession(t, t, 1L) :: acc
          }
          val merged = (parked ++ fresh)
            .sortBy(s => (s.start_us, s.last_us))
            .foldLeft(List.empty[OpenSession]) {
              case (cur :: done, s) if s.start_us - cur.last_us <= gapUs =>
                OpenSession(cur.start_us, math.max(cur.last_us, s.last_us),
                  cur.n + s.n) :: done
              case (acc, s) => s :: acc
            }.reverse
          // strict <: a boundary event at exactly watermark == end + gap
          // is still admissible, so the island is not sealed yet
          val (flushed, pending) = merged.partition(_.last_us + gapUs < wmUs)
          if (pending.isEmpty) state.remove()
          else {
            state.update(OpenSessions(pending))
            // wake when the earliest deadline passes; a deadline may
            // already sit behind the watermark (late straggler reopened
            // it) — clamp forward, Spark rejects timestamps <= watermark
            state.setTimeoutTimestamp(math.max(
              pending.map(s => (s.last_us + gapUs) / 1000L + 1L).min,
              state.getCurrentWatermarkMs() + 1L))
          }
          flushed.iterator.map(s => ClosedSession(uid, s.start_us, s.last_us, s.n))
      }
  }

  /** Custom running state per user via `mapGroupsWithState` — the
    * arbitrary-stateful-processing surface (the streaming analogue of the
    * reference's user-defined Reducer: the framework shuffles by key and
    * hands the user code each key's values plus durable state).
    *
    * Emits the updated state for every group touched in a (micro-)batch.
    * On a batch Dataset the same code runs with initial-empty state, so
    * the result must equal a plain groupBy aggregation — that equivalence
    * is the differential test.
    */
  def runningUserState(events: Dataset[UserEvent]): Dataset[UserState] = {
    implicit val longEnc: Encoder[Long] = Encoders.scalaLong
    implicit val stateEnc: Encoder[UserState] = Encoders.product[UserState]
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserState, UserState](GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[UserEvent], state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(uid, 0L, 0.0))
          var n = prev.n_events
          var total = prev.total_value
          it.foreach { e => n += 1; total += e.value }
          val next = UserState(uid, n, total)
          state.update(next)
          next
      }
  }
}
