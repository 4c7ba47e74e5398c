package graft

import java.util.Locale
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Probe-cost A/B for the streaming ingest tiers (VERDICT r5 ask #3's
  * measurement half): drive each `foreachBatch` ingest composition
  * batch-by-batch through its public batch function, time a FIXED probe
  * against the accumulated state as the batch count grows, then compact
  * and time the same probe against the canonical base — the record that
  * shows probe cost growing with batch count and falling back to
  * ~single-batch cost after the compaction job, which is the entire
  * reason [[graft.streaming.Streams.compactNearDup]] / `compactIvf` /
  * `compactTextIndex` exist.
  *
  * Reading the record: the `probe_by_batches` curve mixes two effects —
  * the corpus itself grows as batches land (a probe against 24 batches
  * sees 24× the documents of a probe against 1), and the state
  * fragments across batch dirs. The controlled A/B is the LAST
  * `probe_by_batches` cell vs `after_compact`: same corpus, same probe,
  * only the layout differs (N batch-partitioned dirs vs the one
  * canonical base). Fragmentation cost scales with batch count, so run
  * with many small batches (e.g. 96 at sf0.01) to isolate it from
  * compute, and realistic batches (e.g. 24 at sf0.1) to see the blend.
  *
  * Probes (constant probe-side work per measurement):
  *   - neardup: [[graft.operators.Dedup.incrementalNearDupEdgesIndexed]]
  *     of a fixed 100-doc delta against the accumulated index — the
  *     steady-state ingest step's own shape.
  *   - ivf: [[graft.operators.Similarity.ivfSearch]] of a fixed 64-query
  *     frame, k=10 — the serving path.
  *   - text: [[graft.operators.TextIndex.bm25]] over a fixed term set —
  *     the retrieval path.
  *   - bloom: [[graft.streaming.Streams.ingestBloomProbe]] of a fixed
  *     100-doc delta — the membership front door every arriving doc
  *     pays.
  *   - profile: [[graft.streaming.Streams.ingestProfileRead]]'s fold —
  *     no compact job exists for this tier (partials are O(columns)
  *     rows), so the flat read-cost curve IS the claim under test.
  *   - valuehist: [[graft.streaming.Streams.ingestRobustOutliers]] —
  *     the streamed q138 audit over the folded histogram state.
  *   - centroids: [[graft.streaming.Streams.ingestCentroidsRead]] —
  *     the finished per-label centroids over the folded integer sums.
  *   - transitions / hazard: each tier's read-face fold (the r8/r9
  *     order-sensitive and re-ranked compositions).
  *
  * Protocol per probe point: 1 warm-up + 2 timed [[Bench.timeOnce]]
  * runs, min recorded (same noop-sink + cache-release discipline as the
  * official bench). Probe points: every batch count in the sampled set,
  * plus `after_compact`.
  *
  * Usage: `IngestBench <outPath> <sfDir> <numBatches>`; set
  * `SPARK_GRAFT_INGEST_TIERS` (comma-separated tier names) to probe a
  * subset — the scale (30×) record targets the heaviest state tiers
  * rather than paying the full 11-tier sweep at every corpus size.
  */
object IngestBench {

  private def probeMin(spark: SparkSession, mk: () => DataFrame): Double = {
    def once() = Bench.timeOnce(spark, "", (_, _) => mk())
    once() // warm-up
    math.min(once(), once())
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: IngestBench <outPath> <sfDir> <numBatches>")
    val (outPath, sfDir, nBatches) = (args(0), args(1), args(2).toInt)
    val spark = Graft.session(appName = "graft-ingestbench", failOnConfMismatch = true)
    import graft.operators.{Dedup, Similarity, TextIndex}
    import graft.sources.Tables
    import graft.streaming.Streams

    val docs = Tables.load(spark, sfDir, "documents")
    val emb = Tables.load(spark, sfDir, "embeddings")
    val probeDocs = docs.filter(col("doc_id") < 100)
    val probeQs = emb.filter(col("vec_id") < 64)
    val probeTerms = Seq("the", "data", "model", "with")
    val root = java.nio.file.Files.createTempDirectory("graft-ingestbench")
    // sample ~8 probe points; always the first and the final batch count
    val step = math.max(1, nBatches / 8)
    def probed(i: Int): Boolean = i == 0 || i == nBatches - 1 || (i + 1) % step == 0

    def num(v: Double): String = String.format(Locale.ROOT, "%.3f", Double.box(v))
    def tierJson(byBatches: Seq[(Int, Double)], after: Double): String =
      "{\"probe_by_batches\":" +
        byBatches.map { case (b, t) => "\"" + b + "\":" + num(t) }.mkString("{", ",", "}") +
        ",\"after_compact\":" + num(after) + "}"

    // optional tier subset (comma-separated SPARK_GRAFT_INGEST_TIERS):
    // a 30x corpus makes the full 11-tier sweep hours long — at scale
    // the record targets the heaviest state tiers, not all of them
    val KnownTiers = Seq("neardup", "ivf", "text", "bloom", "profile",
      "budget", "valuehist", "centroids", "transitions", "hazard",
      "imgfeat")
    val only = sys.env.get("SPARK_GRAFT_INGEST_TIERS")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { t =>
      val unknown = t -- KnownTiers.toSet
      require(unknown.isEmpty, s"unknown ingest tiers: ${unknown.mkString(",")}")
    }
    def on(name: String): Boolean = only.forall(_.contains(name))
    val tierParts = scala.collection.mutable.ListBuffer[String]()

    // ——— near-dup tier ———
    if (on("neardup")) {
    val ndState = s"$root/neardup"
    val ndPoints = (0 until nBatches).flatMap { i =>
      Streams.ingestNearDupBatch(docs.filter(pmod(col("doc_id"), lit(nBatches)) === i), ndState, i)
      if (probed(i)) {
        val t = probeMin(spark, () => Dedup.incrementalNearDupEdgesIndexed(
          Streams.ingestIndex(spark, ndState).get, probeDocs))
        System.err.println(f"[ingestbench] neardup probe @ ${i + 1} batches: $t%.3f s")
        Some((i + 1, t))
      } else None
    }
    require(Streams.compactNearDup(spark, ndState).contains((nBatches - 1).toLong))
    val ndAfter = probeMin(spark, () => Dedup.incrementalNearDupEdgesIndexed(
      Streams.ingestIndex(spark, ndState).get, probeDocs))
    System.err.println(f"[ingestbench] neardup probe after compact: $ndAfter%.3f s")
    tierParts += s""""neardup":${tierJson(ndPoints, ndAfter)}"""
    }

    // ——— ivf tier ———
    if (on("ivf")) {
    val ivfState = s"$root/ivf"
    val ivfPoints = (0 until nBatches).flatMap { i =>
      Streams.ingestIvfBatch(emb.filter(pmod(col("vec_id"), lit(nBatches)) === i), ivfState, i)
      if (probed(i)) {
        val t = probeMin(spark, () =>
          Similarity.ivfSearch(Streams.ingestIvfIndex(spark, ivfState).get, probeQs, k = 10))
        System.err.println(f"[ingestbench] ivf probe @ ${i + 1} batches: $t%.3f s")
        Some((i + 1, t))
      } else None
    }
    require(Streams.compactIvf(spark, ivfState).contains((nBatches - 1).toLong))
    val ivfAfter = probeMin(spark, () =>
      Similarity.ivfSearch(Streams.ingestIvfIndex(spark, ivfState).get, probeQs, k = 10))
    System.err.println(f"[ingestbench] ivf probe after compact: $ivfAfter%.3f s")
    tierParts += s""""ivf":${tierJson(ivfPoints, ivfAfter)}"""
    }

    // ——— text-index tier ———
    if (on("text")) {
    val txState = s"$root/text"
    val txPoints = (0 until nBatches).flatMap { i =>
      Streams.ingestTextIndexBatch(docs.filter(pmod(col("doc_id"), lit(nBatches)) === i), txState, i)
      if (probed(i)) {
        val t = probeMin(spark, () =>
          TextIndex.bm25(Streams.ingestTextIndexRead(spark, txState).get, probeTerms))
        System.err.println(f"[ingestbench] text probe @ ${i + 1} batches: $t%.3f s")
        Some((i + 1, t))
      } else None
    }
    require(Streams.compactTextIndex(spark, txState).contains((nBatches - 1).toLong))
    val txAfter = probeMin(spark, () =>
      TextIndex.bm25(Streams.ingestTextIndexRead(spark, txState).get, probeTerms))
    System.err.println(f"[ingestbench] text probe after compact: $txAfter%.3f s")
    tierParts += s""""text":${tierJson(txPoints, txAfter)}"""
    }

    // ——— bloom tier ———
    if (on("bloom")) {
    val blState = s"$root/bloom"
    val blPoints = (0 until nBatches).flatMap { i =>
      Streams.ingestBloomBatch(docs.filter(pmod(col("doc_id"), lit(nBatches)) === i), blState, i)
      if (probed(i)) {
        val t = probeMin(spark, () =>
          Streams.ingestBloomProbe(spark, blState, probeDocs).get)
        System.err.println(f"[ingestbench] bloom probe @ ${i + 1} batches: $t%.3f s")
        Some((i + 1, t))
      } else None
    }
    require(Streams.compactBloom(spark, blState).contains((nBatches - 1).toLong))
    val blAfter = probeMin(spark, () =>
      Streams.ingestBloomProbe(spark, blState, probeDocs).get)
    System.err.println(f"[ingestbench] bloom probe after compact: $blAfter%.3f s")
    tierParts += s""""bloom":${tierJson(blPoints, blAfter)}"""
    }

    // ——— profile tier (no compact job: partials are O(columns) rows;
    // the flat read cost IS the claim this measures) ———
    if (on("profile")) {
    val prState = s"$root/profile"
    val prPoints = (0 until nBatches).flatMap { i =>
      Streams.ingestProfileBatch(docs.filter(pmod(col("doc_id"), lit(nBatches)) === i), prState, i)
      if (probed(i)) {
        val t = probeMin(spark, () =>
          Streams.ingestProfileRead(spark, prState).get)
        System.err.println(f"[ingestbench] profile fold @ ${i + 1} batches: $t%.3f s")
        Some((i + 1, t))
      } else None
    }
    val prAfter = prPoints.last._2 // no compact: "after" = the final fold
    tierParts += s""""profile":${tierJson(prPoints, prAfter)}"""
    }

    // ——— budget tier (per-(source, split) integer doc/token partials;
    // the live face of the stored-manifest budget) ———
    if (on("budget")) {
    val bgState = s"$root/budget"
    val bgPoints = (0 until nBatches).flatMap { i =>
      Streams.ingestBudgetBatch(
        docs.filter(pmod(col("doc_id"), lit(nBatches)) === i), bgState, i)
      if (probed(i)) {
        val t = probeMin(spark, () =>
          Streams.ingestBudgetRead(spark, bgState).get)
        System.err.println(f"[ingestbench] budget fold @ ${i + 1} batches: $t%.3f s")
        Some((i + 1, t))
      } else None
    }
    require(Streams.compactBudget(spark, bgState).contains((nBatches - 1).toLong))
    val bgAfter = probeMin(spark, () =>
      Streams.ingestBudgetRead(spark, bgState).get)
    System.err.println(f"[ingestbench] budget fold after compact: $bgAfter%.3f s")
    tierParts += s""""budget":${tierJson(bgPoints, bgAfter)}"""
    }

    lazy val events = Tables.load(spark, sfDir, "events")

    // ——— value-histogram tier (pure-mergeable partials at (grp, cents)
    // grain; the compact job folds N batch dirs into one base) ———
    if (on("valuehist")) {
    val vhState = s"$root/valuehist"
    val vhPoints = (0 until nBatches).flatMap { i =>
      Streams.ingestValueHistBatch(
        events.filter(pmod(col("event_id"), lit(nBatches)) === i),
        vhState, i, groupCol = "event_type", valueCol = "value")
      if (probed(i)) {
        val t = probeMin(spark, () =>
          Streams.ingestRobustOutliers(spark, vhState).get)
        System.err.println(f"[ingestbench] valuehist fold @ ${i + 1} batches: $t%.3f s")
        Some((i + 1, t))
      } else None
    }
    require(Streams.compactValueHist(spark, vhState).contains((nBatches - 1).toLong))
    val vhAfter = probeMin(spark, () =>
      Streams.ingestRobustOutliers(spark, vhState).get)
    System.err.println(f"[ingestbench] valuehist fold after compact: $vhAfter%.3f s")
    tierParts += s""""valuehist":${tierJson(vhPoints, vhAfter)}"""
    }

    // ——— centroids tier (exact-integer mergeable at label grain; the
    // compact job stores merged SUMS so later deltas keep folding) ———
    if (on("centroids")) {
    val ctState = s"$root/centroids"
    val ctPoints = (0 until nBatches).flatMap { i =>
      Streams.ingestCentroidsBatch(
        emb.filter(pmod(col("vec_id"), lit(nBatches)) === i), ctState, i)
      if (probed(i)) {
        val t = probeMin(spark, () =>
          Streams.ingestCentroidsRead(spark, ctState).get)
        System.err.println(f"[ingestbench] centroids fold @ ${i + 1} batches: $t%.3f s")
        Some((i + 1, t))
      } else None
    }
    require(Streams.compactCentroids(spark, ctState).contains((nBatches - 1).toLong))
    val ctAfter = probeMin(spark, () =>
      Streams.ingestCentroidsRead(spark, ctState).get)
    System.err.println(f"[ingestbench] centroids fold after compact: $ctAfter%.3f s")
    tierParts += s""""centroids":${tierJson(ctPoints, ctAfter)}"""
    }

    // ——— transitions tier (order-sensitive: CONTIGUOUS event-id
    // ranges, not pmod shards — id order is event-time order in this
    // corpus, and the tier's contract is per-user monotone batches) ———
    if (on("transitions")) {
    val nEv = events.count()
    val trState = s"$root/transitions"
    val trPoints = (0 until nBatches).flatMap { i =>
      val lo = i * nEv / nBatches
      val hi = if (i == nBatches - 1) Long.MaxValue else (i + 1) * nEv / nBatches
      Streams.ingestTransitionsBatch(
        events.filter(col("event_id") >= lo && col("event_id") < hi),
        trState, i)
      if (probed(i)) {
        val t = probeMin(spark, () =>
          Streams.ingestTransitionsRead(spark, trState).get)
        System.err.println(f"[ingestbench] transitions fold @ ${i + 1} batches: $t%.3f s")
        Some((i + 1, t))
      } else None
    }
    require(Streams.compactTransitions(spark, trState).contains((nBatches - 1).toLong))
    val trAfter = probeMin(spark, () =>
      Streams.ingestTransitionsRead(spark, trState).get)
    System.err.println(f"[ingestbench] transitions fold after compact: $trAfter%.3f s")
    tierParts += s""""transitions":${tierJson(trPoints, trAfter)}"""
    }

    // ——— hazard tier (order-independent mergeable like the profile
    // fold, but WITH a compact job: per-user candidate rows accumulate
    // 2/user/batch until compaction re-ranks them back to 2/user) ———
    if (on("hazard")) {
    val hzState = s"$root/hazard"
    val hzPoints = (0 until nBatches).flatMap { i =>
      Streams.ingestHazardBatch(
        events.filter(pmod(col("user_id"), lit(nBatches)) === i), hzState, i)
      if (probed(i)) {
        val t = probeMin(spark, () =>
          Streams.ingestHazardRead(spark, hzState).get)
        System.err.println(f"[ingestbench] hazard fold @ ${i + 1} batches: $t%.3f s")
        Some((i + 1, t))
      } else None
    }
    require(Streams.compactHazard(spark, hzState).contains((nBatches - 1).toLong))
    val hzAfter = probeMin(spark, () =>
      Streams.ingestHazardRead(spark, hzState).get)
    System.err.println(f"[ingestbench] hazard fold after compact: $hzAfter%.3f s")
    tierParts += s""""hazard":${tierJson(hzPoints, hzAfter)}"""
    }

    // ——— image-features tier (decode-once multimodal ingest: each
    // batch pays the codec pass for ITS payloads only; the probe is
    // the accumulated feature-table fold, which compaction keeps at
    // one file group) ———
    if (on("imgfeat")) {
    val imState = s"$root/imgfeat"
    val imPoints = (0 until nBatches).flatMap { i =>
      Streams.ingestImageFeaturesBatch(
        graft.operators.Multimodal.pngCorpus(
          docs.filter(pmod(col("doc_id"), lit(nBatches)) === i)).toDF(),
        imState, i)
      if (probed(i)) {
        val t = probeMin(spark, () =>
          Streams.ingestImageFeaturesRead(spark, imState).get)
        System.err.println(f"[ingestbench] imgfeat fold @ ${i + 1} batches: $t%.3f s")
        Some((i + 1, t))
      } else None
    }
    require(Streams.compactImageFeatures(spark, imState).contains((nBatches - 1).toLong))
    val imAfter = probeMin(spark, () =>
      Streams.ingestImageFeaturesRead(spark, imState).get)
    System.err.println(f"[ingestbench] imgfeat fold after compact: $imAfter%.3f s")
    tierParts += s""""imgfeat":${tierJson(imPoints, imAfter)}"""
    }

    spark.stop()
    // record WHICH tiers ran: a SPARK_GRAFT_INGEST_TIERS subset sweep
    // must be distinguishable from a full 11-tier sweep downstream
    val subsetField = only match {
      case Some(t) =>
        val sel = KnownTiers.filter(t.contains)
        s""""subset":true,"tiers_run":[${sel.map("\"" + _ + "\"").mkString(",")}],"""
      case None => s""""subset":false,"""
    }
    val line = s"""{"metric":"ingest_probe","unit":"sec","batches":$nBatches,"sf":"$sfDir",$subsetField"tiers":{""" +
      tierParts.mkString(",") + "}}"
    val out = java.nio.file.Paths.get(outPath)
    Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(out, line + "\n")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_HISTORY", "BENCH_HISTORY.jsonl")),
      s"""{"at_ms":${System.currentTimeMillis()},${line.drop(1)}""" + "\n",
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    catch { case e: Throwable => System.err.println(s"[ingestbench] history append failed: $e") }
    println(line)
  }
}
