package graft

import java.util.Locale

/** Sampled-vs-full band-curve agreement probe (VERDICT r12 ask #8).
  *
  * q217 ([[graft.operators.Dedup.bandCurveSampled]]) is the suite's
  * scale-safe rendering of the band-shape tuning curve; its gate pins
  * "sampled ≡ full" only at gated scale (sf0.01, where the derived ppm
  * admits the whole corpus). This probe evidences the law that matters
  * OPERATIONALLY at larger corpora: the derived-ppm sample keeps the
  * curve's SHAPE — the precision ORDERING across rows_per_band (what an
  * operator reads the curve for) and the r=2 collision arm's relative
  * position — not just its cost, as the corpus grows past the sample
  * target.
  *
  * For each scale dir it runs the full curve and the sampled curve
  * at EVERY target in SPARK_GRAFT_BAND_TARGETS (comma-separated
  * targetDocs, default "250,2000,8000"), recording row-for-row by
  * rows_per_band: candidate/verified counts, precision_ppm, the
  * sampled/full precision ratio, and the realized sample size. Each
  * curve's `sec_*` is [[Bench.warmMin]]: one warm-up, then the min of
  * `TimedRuns` runs; its rows come from the first run. Each
  * (scale, target) row is judged on
  *   - `order_agree`: the two precision orderings (rows_per_band sorted
  *     by precision_ppm, ties by r; undefined arms excluded) are
  *     identical, and
  *   - `monotone_agree`: both curves agree on the pairwise direction of
  *     precision between every two band shapes both define.
  *
  * The target SWEEP is the point (this is the knob's measured operating
  * envelope, not a vacuous pass): pair-based metrics carry ~ppm² of the
  * corpus pair mass, so a target that samples a fixed doc COUNT thins
  * pairs quadratically as the corpus grows — at 10×, target 250 keeps
  * ~1e-5 of pairs and the curve degenerates (measured: 5 candidates, 0
  * verified). The gate therefore requires agreement only at the LARGEST
  * target per scale — the rendering an operator would actually size for
  * a tuning probe (cost stays bounded by the target, not the corpus).
  * Gate failure exits 1 AFTER the record is written.
  *
  * Usage: `BandAgreement <outPath> <dir>=<relScale> [<dir>=<relScale> ...]`
  * e.g. `BandAgreement bench/band_agreement_r13.json /root/testdata/sf0.1=1 /tmp/gen10x=10`
  */
object BandAgreement {

  // timed runs per curve after one warm-up (Bench.warmMin): a cold
  // first curve carries JIT and codegen warm-up, so cold sampled times
  // fell as the target grew, the reverse of the work
  private val TimedRuns = 2

  private def num(v: Double): String =
    String.format(Locale.ROOT, "%.4f", Double.box(v))

  /** (rows_per_band, n_candidates, n_verified, precision_ppm) rows in
    * rows_per_band order. precision is -1 when undefined (no candidates)
    * — undefined arms are excluded from the ordering judgment.
    */
  private def curveRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Long)] =
    df.collect().map { r =>
      (r.getLong(0), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4))
    }.sortBy(_._1).toSeq

  private def ordering(rows: Seq[(Long, Long, Long, Long)]): Seq[Long] =
    rows.filter(_._4 >= 0).sortBy(r => (-r._4, r._1)).map(_._1)

  /** Both curves give every defined band-shape pair the same pairwise
    * precision direction (<, =, >). Degenerate curves sharing ≤ 1
    * defined arm return false (ADVICE r13): with zero comparable pairs
    * the ∀ is vacuously true, and a sampled curve that collapsed to
    * nothing (0 verified pairs at a thinned target) would record
    * monotone_agree:true — a curve that cannot be judged must not read
    * as agreeing.
    */
  private[graft] def monotoneAgree(
      full: Seq[(Long, Long, Long, Long)],
      sampled: Seq[(Long, Long, Long, Long)]): Boolean = {
    val f = full.filter(_._4 >= 0).map(r => r._1 -> r._4).toMap
    val s = sampled.filter(_._4 >= 0).map(r => r._1 -> r._4).toMap
    val shared = f.keySet.intersect(s.keySet).toSeq.sorted
    shared.size >= 2 && shared.combinations(2).forall { case Seq(a, b) =>
      (f(a) compare f(b)).sign == (s(a) compare s(b)).sign
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: BandAgreement <outPath> <dir>=<relScale> [<dir>=<relScale> ...]")
    val outPath = args(0)
    val dirs = Bench.dirScales(args.drop(1).toSeq)

    val targets = sys.env.getOrElse("SPARK_GRAFT_BAND_TARGETS", "250,2000,8000")
      .split(',').map(_.trim.toLong).toSeq.sorted
    val spark = Graft.session(appName = "graft-band-agreement",
      failOnConfMismatch = true)
    def rowsJson(rows: Seq[(Long, Long, Long, Long)]) = rows.map {
      case (r, c, v, p) =>
        s"""{"rows_per_band":$r,"n_candidates":$c,"n_verified":$v,"precision_ppm":$p}"""
    }.mkString("[", ",", "]")
    // one curve through Bench.warmMin: the rows of its first (warm-up)
    // run, which the verdicts judge, and the min of TimedRuns warm runs
    def timedCurve(curve: => org.apache.spark.sql.DataFrame): (Seq[(Long, Long, Long, Long)], Double) = {
      var rows: Option[Seq[(Long, Long, Long, Long)]] = None
      val t = Bench.warmMin(TimedRuns) { () =>
        val (r, sec) = Bench.timed(spark)(curveRows(curve))
        if (rows.isEmpty) rows = Some(r)
        sec
      }
      (rows.get, t)
    }
    val records = dirs.map { case (dir, scale) =>
      val docs = graft.sources.Tables.load(spark, dir, "documents")
      val (full, tFull) = timedCurve(graft.operators.Dedup.bandCurve(docs))
      val perTarget = targets.map { tgt =>
        val (sampled, tSampled) =
          timedCurve(graft.operators.Dedup.bandCurveSampled(docs, targetDocs = tgt))
        val orderAgree = ordering(full) == ordering(sampled)
        val monoAgree = monotoneAgree(full, sampled)
        System.err.println(f"[band-agreement] ${scale}%.3gx target $tgt: " +
          f"full $tFull%.1fs sampled $tSampled%.1fs " +
          f"order_agree=$orderAgree monotone_agree=$monoAgree")
        val ratios = full.zip(sampled).collect {
          case ((r, _, _, pf), (r2, _, _, ps)) if r == r2 && pf > 0 && ps >= 0 =>
            s""""$r":${num(ps.toDouble / pf)}"""
        }.mkString("{", ",", "}")
        val json =
          s"""{"target_docs":$tgt,"sec_sampled":${num(tSampled)},""" +
            s""""sampled":${rowsJson(sampled)},""" +
            s""""precision_ratio_sampled_over_full":$ratios,""" +
            s""""order_sampled":${ordering(sampled).mkString("[", ",", "]")},""" +
            s""""order_agree":$orderAgree,"monotone_agree":$monoAgree}"""
        (json, orderAgree && monoAgree)
      }
      // the gate: the LARGEST target (the size an operator would pick
      // for a probe at this corpus) must reproduce the full curve's shape
      val gate = perTarget.last._2
      val json =
        s"""{"scale":$scale,"dir":"$dir","sec_full":${num(tFull)},""" +
          s""""full":${rowsJson(full)},""" +
          s""""order_full":${ordering(full).mkString("[", ",", "]")},""" +
          s""""targets":${perTarget.map(_._1).mkString("[", ",", "]")},""" +
          s""""largest_target_agrees":$gate}"""
      (json, gate)
    }
    spark.stop()

    val line = s"""{"metric":"band_agreement","target_docs":${targets.mkString("[", ",", "]")},"scales":${records.map(_._1).mkString("[", ",", "]")},"agree":${records.forall(_._2)}}"""
    val out = java.nio.file.Paths.get(outPath)
    Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(out, line + "\n")
    println(line)
    if (!records.forall(_._2)) {
      System.err.println("[band-agreement] SHAPE DISAGREEMENT — see record")
      sys.exit(1)
    }
  }
}
