package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Multimodal, Similarity, TextIndex}
import graft.sources.Tables
import graft.streaming.Streams

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
  * Every tier is one [[Tiers]] entry, run by [[runTier]]: ingest the
  * shards, probe at the sampled batch counts, compact (which must report
  * the last batch id), probe again. Probes (constant probe-side work per
  * measurement):
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
  *     rows), so the flat read-cost curve IS the claim under test, and
  *     its `after_compact` is the final fold.
  *   - valuehist: [[graft.streaming.Streams.ingestRobustOutliers]] —
  *     the streamed q138 audit over the folded histogram state.
  *   - centroids: [[graft.streaming.Streams.ingestCentroidsRead]] —
  *     the finished per-label centroids over the folded integer sums.
  *   - budget / transitions / hazard / imgfeat: each tier's read-face
  *     fold (the r8/r9 order-sensitive and re-ranked compositions).
  *
  * Protocol per probe point: [[Bench.warmMin]] of 2 [[Bench.timeOnce]]
  * runs (same noop-sink + cache-release discipline as the official
  * bench). Probe points: every batch count in the sampled set, plus
  * `after_compact`.
  *
  * Usage: `IngestBench <outPath> <sfDir> <numBatches>`; set
  * `SPARK_GRAFT_INGEST_TIERS` (comma-separated tier names) to probe a
  * subset — the scale (30×) record targets the heaviest state tiers
  * rather than paying the full 11-tier sweep at every corpus size.
  */
object IngestBench {

  /** The base tables, loaded on first use, and the fixed probe inputs. */
  private[graft] final class Inputs(val spark: SparkSession, sfDir: String, val n: Int) {
    lazy val docs: DataFrame = Tables.load(spark, sfDir, "documents")
    lazy val emb: DataFrame = Tables.load(spark, sfDir, "embeddings")
    lazy val events: DataFrame = Tables.load(spark, sfDir, "events")
    lazy val nEvents: Long = events.count()
    lazy val probeDocs: DataFrame = docs.filter(col("doc_id") < 100)
    lazy val probeQs: DataFrame = emb.filter(col("vec_id") < 64)
    /** shard `i` of `n`: the rows whose `key` is `i` mod `n` */
    def shard(df: DataFrame, key: String, i: Int): DataFrame =
      df.filter(pmod(col(key), lit(n)) === i)
  }

  /** One ingest tier: `batch(in, i, state)` lands shard `i` into the
    * state dir, `probe(in, state)` builds the tier's fixed probe over the
    * accumulated state, and `compact` folds the batch dirs into one base
    * (None: the tier has no compact job). `word` names the probe on
    * stderr ("probe" or "fold").
    */
  private[graft] final case class Tier(
      name: String, word: String,
      batch: (Inputs, Int, String) => Unit,
      probe: (Inputs, String) => DataFrame,
      compact: Option[(SparkSession, String) => Option[Long]])

  /** Every ingest tier, in record order. */
  private[graft] val Tiers: Seq[Tier] = Seq(
    Tier("neardup", "probe",
      (in, i, st) => Streams.ingestNearDupBatch(in.shard(in.docs, "doc_id", i), st, i),
      (in, st) => Dedup.incrementalNearDupEdgesIndexed(
        Streams.ingestIndex(in.spark, st).get, in.probeDocs),
      Some(Streams.compactNearDup(_, _))),
    Tier("ivf", "probe",
      (in, i, st) => Streams.ingestIvfBatch(in.shard(in.emb, "vec_id", i), st, i),
      (in, st) => Similarity.ivfSearch(Streams.ingestIvfIndex(in.spark, st).get, in.probeQs, k = 10),
      Some(Streams.compactIvf)),
    Tier("text", "probe",
      (in, i, st) => Streams.ingestTextIndexBatch(in.shard(in.docs, "doc_id", i), st, i),
      (in, st) => TextIndex.bm25(Streams.ingestTextIndexRead(in.spark, st).get,
        Seq("the", "data", "model", "with")),
      Some(Streams.compactTextIndex)),
    Tier("bloom", "probe",
      (in, i, st) => Streams.ingestBloomBatch(in.shard(in.docs, "doc_id", i), st, i),
      (in, st) => Streams.ingestBloomProbe(in.spark, st, in.probeDocs).get,
      Some(Streams.compactBloom)),
    // no compact job: partials are O(columns) rows; the flat read cost
    // IS the claim this measures
    Tier("profile", "fold",
      (in, i, st) => Streams.ingestProfileBatch(in.shard(in.docs, "doc_id", i), st, i),
      (in, st) => Streams.ingestProfileRead(in.spark, st).get,
      None),
    // per-(source, split) integer doc/token partials; the live face of
    // the stored-manifest budget
    Tier("budget", "fold",
      (in, i, st) => Streams.ingestBudgetBatch(in.shard(in.docs, "doc_id", i), st, i),
      (in, st) => Streams.ingestBudgetRead(in.spark, st).get,
      Some(Streams.compactBudget)),
    // pure-mergeable partials at (grp, cents) grain
    Tier("valuehist", "fold",
      (in, i, st) => Streams.ingestValueHistBatch(in.shard(in.events, "event_id", i),
        st, i, groupCol = "event_type", valueCol = "value"),
      (in, st) => Streams.ingestRobustOutliers(in.spark, st).get,
      Some(Streams.compactValueHist)),
    // exact-integer mergeable at label grain; the compact job stores
    // merged SUMS so later deltas keep folding
    Tier("centroids", "fold",
      (in, i, st) => Streams.ingestCentroidsBatch(in.shard(in.emb, "vec_id", i), st, i),
      (in, st) => Streams.ingestCentroidsRead(in.spark, st).get,
      Some(Streams.compactCentroids)),
    // order-sensitive: CONTIGUOUS event-id ranges, not pmod shards — id
    // order is event-time order in this corpus, and the tier's contract
    // is per-user monotone batches
    Tier("transitions", "fold",
      (in, i, st) => {
        val lo = i * in.nEvents / in.n
        val hi = if (i == in.n - 1) Long.MaxValue else (i + 1) * in.nEvents / in.n
        Streams.ingestTransitionsBatch(
          in.events.filter(col("event_id") >= lo && col("event_id") < hi), st, i)
      },
      (in, st) => Streams.ingestTransitionsRead(in.spark, st).get,
      Some(Streams.compactTransitions)),
    // order-independent mergeable like the profile fold, but WITH a
    // compact job: per-user candidate rows accumulate 2/user/batch until
    // compaction re-ranks them back to 2/user
    Tier("hazard", "fold",
      (in, i, st) => Streams.ingestHazardBatch(in.shard(in.events, "user_id", i), st, i),
      (in, st) => Streams.ingestHazardRead(in.spark, st).get,
      Some(Streams.compactHazard)),
    // decode-once multimodal ingest: each batch pays the codec pass for
    // ITS payloads only; compaction keeps the feature table at one file
    // group
    Tier("imgfeat", "fold",
      (in, i, st) => Streams.ingestImageFeaturesBatch(
        Multimodal.pngCorpus(in.shard(in.docs, "doc_id", i)).toDF(), st, i),
      (in, st) => Streams.ingestImageFeaturesRead(in.spark, st).get,
      Some(Streams.compactImageFeatures)))

  private[graft] val KnownTiers: Seq[String] = Tiers.map(_.name)

  /** The tiers a SPARK_GRAFT_INGEST_TIERS value names, in record order;
    * an unknown name fails the run before any work.
    */
  private[graft] def subset(spec: String): Seq[String] = {
    val t = spec.split(',').map(_.trim).filter(_.nonEmpty).toSet
    val unknown = t -- KnownTiers
    require(unknown.isEmpty, s"unknown ingest tiers: ${unknown.mkString(",")}")
    KnownTiers.filter(t.contains)
  }

  /** Ingest `in.n` shards of `tier` into `state`, timing its probe with
    * `time` at about 8 sampled batch counts (always the first and the
    * last), then compact and time it once more. Returns
    * (probe_by_batches, after_compact); a tier with no compact job
    * reports its final fold as "after".
    */
  private[graft] def runTier(tier: Tier, in: Inputs, state: String,
      time: (() => DataFrame) => Double): (Seq[(Int, Double)], Double) = {
    def probe(at: String): Double = {
      val t = time(() => tier.probe(in, state))
      System.err.println(f"[ingestbench] ${tier.name} ${tier.word} $at: $t%.3f s")
      t
    }
    val step = math.max(1, in.n / 8)
    val points = (0 until in.n).flatMap { i =>
      tier.batch(in, i, state)
      if (i == 0 || i == in.n - 1 || (i + 1) % step == 0)
        Some((i + 1, probe(s"@ ${i + 1} batches")))
      else None
    }
    val after = tier.compact.fold(points.last._2) { compact =>
      val last = compact(in.spark, state)
      require(last.contains((in.n - 1).toLong),
        s"${tier.name}: compact returned $last, not Some(${in.n - 1})")
      probe("after compact")
    }
    (points, after)
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: IngestBench <outPath> <sfDir> <numBatches>")
    val (outPath, sfDir, nBatches) = (args(0), args(1), args(2).toInt)
    // optional tier subset: a 30x corpus makes the full 11-tier sweep
    // hours long — at scale the record targets the heaviest state tiers
    val only = sys.env.get("SPARK_GRAFT_INGEST_TIERS").map(subset)
    val spark = Graft.session(appName = "graft-ingestbench", failOnConfMismatch = true)
    val in = new Inputs(spark, sfDir, nBatches)
    val root = java.nio.file.Files.createTempDirectory("graft-ingestbench")
    def probeMin(mk: () => DataFrame): Double =
      Bench.warmMin(2)(() => Bench.timeOnce(spark, "", (_, _) => mk()))
    val tierParts = Tiers.filter(t => only.forall(_.contains(t.name))).map { tier =>
      val (byBatches, after) = runTier(tier, in, s"$root/${tier.name}", probeMin)
      s""""${tier.name}":{"probe_by_batches":""" +
        byBatches.map { case (b, t) => "\"" + b + "\":" + Bench.num(t) }.mkString("{", ",", "}") +
        ",\"after_compact\":" + Bench.num(after) + "}"
    }
    spark.stop()
    // record WHICH tiers ran: a SPARK_GRAFT_INGEST_TIERS subset sweep
    // must be distinguishable from a full 11-tier sweep downstream
    val subsetField = only match {
      case Some(sel) =>
        s""""subset":true,"tiers_run":[${sel.map("\"" + _ + "\"").mkString(",")}],"""
      case None => s""""subset":false,"""
    }
    val line = s"""{"metric":"ingest_probe","unit":"sec","batches":$nBatches,"sf":"$sfDir",$subsetField"tiers":{""" +
      tierParts.mkString(",") + "}}"
    Bench.writeRecord("ingestbench", outPath, line)
    println(line)
  }
}
