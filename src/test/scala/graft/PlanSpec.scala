package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint

/** Plan-quality gates: the shapes that make queries survive a 100×
  * scale-up, asserted on the actual (post-AQE) physical plans so a
  * regression to a quadratic join, a lost pushdown, or a forced
  * broadcast fails the build — not just a slower benchmark.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def executedPlan(df: DataFrame): String = TestSpark.finalPlan(df)

  private def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, TestSpark.Sf0001)

  test("q03 filters and projection reach the parquet scan") {
    val plan = executedPlan(q("q03_filter_project"))
    assert(plan.contains("LessThan(l_shipdate") && plan.contains("GreaterThan(l_quantity"),
      s"filters not pushed to the scan:\n$plan")
    val scanCols = plan.linesIterator.find(_.contains("FileScan parquet"))
      .getOrElse(fail("no FileScan in plan"))
    assert(!scanCols.contains("l_comment#") && !scanCols.contains("l_partkey#"),
      s"scan reads columns the query never uses: $scanCols")
  }

  test("q16 global top-k plans as TakeOrderedAndProject, never a full sort") {
    assert(executedPlan(q("q16_topk_global")).contains("TakeOrderedAndProject"))
  }

  test("join hints only ever pin bounded dimension tables (region/nation)") {
    for (name <- Seq("q04_join_inner", "q05_join_multiway", "q06_join_broadcast",
        "q15_topk_per_group")) {
      val hints = q(name).queryExecution.analyzed.collect { case h: ResolvedHint => h }
      val offenders = hints.filterNot(_.child.output.map(_.name)
        .forall(n => n.startsWith("n_") || n.startsWith("r_")))
      assert(offenders.isEmpty,
        s"$name hints a scaling table: ${offenders.map(_.child.output.map(_.name))}")
    }
  }

  test("q83/q84 bounded profile joins broadcast; doc rows never sort-merge against them") {
    // q83: the per-source profile (bounded by source count) must come
    // back to the doc rows as a broadcast, and q84's vocab-bounded
    // unigram counts + 1-row total must broadcast into the scoring join
    for (name <- Seq("q83_source_gate", "q84_collocations")) {
      val plan = executedPlan(q(name))
      assert(plan.contains("BroadcastHashJoin"),
        s"$name lost its bounded-side broadcast:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a cartesian product:\n$plan")
    }
  }

  // An Inner BNLJ (the shape a non-equi pair join lowers to) or a
  // CartesianProduct is quadratic in data and banned outright. A Cross
  // BNLJ against a bounded broadcast literal frame is the sanctioned
  // fan-out idiom (minhash seeds ×16, IVF centroids O(√n)) — pipelined,
  // combined by partial aggregation before any exchange.
  test("bucketed scale paths never fall back to nested-loop or cartesian joins") {
    // q54 is absent by design: building its frame executes the
    // components loop eagerly, and its only scale-sensitive join stage
    // IS q33's code path, plan-gated here under q33.
    for (name <- Seq("q27_dedup_minhash", "q29_dedup_simhash_pairs",
        "q33_ann_lsh_pairs", "q45_ann_ivf", "q46_range_band",
        "q55_dedup_minhash_estimate")) {
      val plan = executedPlan(q(name))
      assert(!plan.contains("BroadcastNestedLoopJoin BuildRight, Inner") &&
        !plan.contains("BroadcastNestedLoopJoin BuildLeft, Inner") &&
        !plan.contains("CartesianProduct"),
        s"$name plans a quadratic join:\n${plan.take(2000)}")
    }
  }

  test("round-4 additions never fall back to nested-loop or cartesian joins") {
    import org.apache.spark.sql.functions.col
    for (name <- Seq("q62_incremental_dedup", "q63_tfidf")) {
      val plan = executedPlan(q(name))
      assert(!plan.contains("BroadcastNestedLoopJoin BuildRight, Inner") &&
        !plan.contains("BroadcastNestedLoopJoin BuildLeft, Inner") &&
        !plan.contains("CartesianProduct"),
        s"$name plans a quadratic join:\n${plan.take(2000)}")
    }
    // trained IVF: gate the UNmaterialized build+search plan so the
    // Lloyd rounds themselves (not just the search over checkpointed
    // frames) are in view — q61's gated query materializes them away
    val emb = graft.sources.Tables.load(spark, TestSpark.Sf0001, "embeddings")
    val idx = graft.operators.Similarity.ivfTrainedIndex(
      emb, iters = 2, centroidEvery = 20, materialize = false)
    val plan = executedPlan(graft.operators.Similarity.ivfSearch(
      idx, emb.filter(col("vec_id") < 10), k = 5, nProbe = 3))
    assert(!plan.contains("BroadcastNestedLoopJoin BuildRight, Inner") &&
      !plan.contains("BroadcastNestedLoopJoin BuildLeft, Inner") &&
      !plan.contains("CartesianProduct"),
      s"trained IVF plans a quadratic join:\n${plan.take(2000)}")
  }

  test("skew guards plan as BROADCAST anti-joins — the band frame never shuffles for the guard") {
    import spark.implicits._
    import graft.operators.Dedup
    // the guard filters against the OVER-cap keys (≤ rows/cap of them by
    // construction), so a physical LeftAnti must only ever be a
    // broadcast — a shuffled (sort-merge / shuffled-hash) LeftAnti means
    // the small-side inversion regressed and the band frame shuffles
    // again. When no key is hot, AQE eliminates the join outright
    // (empty-relation propagation), which is also correct.
    def noShuffledAnti(label: String, plan: String): Unit = {
      val bad = plan.linesIterator.filter(l =>
        l.contains("LeftAnti") &&
          (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))).toSeq
      assert(bad.isEmpty,
        s"$label skew guard shuffles instead of broadcasting: ${bad.mkString("; ")}")
    }
    for (name <- Seq("q27_dedup_minhash", "q29_dedup_simhash_pairs"))
      noShuffledAnti(name, executedPlan(q(name)))
    // with hot keys AND survivors present the anti-join must materialize
    // as a physical broadcast (not vanish, not shuffle): an over-cap
    // boilerplate cluster plus two small docs whose keys survive
    val boiler = (1 to 100).map(i => s"common$i").mkString(" ")
    val docs = (0 until 120).map(i => (i.toLong, s"$boiler u$i")) ++ Seq(
      (9001L, (1 to 19).map(i => s"word$i").mkString(" ") + " tailA"),
      (9002L, (1 to 19).map(i => s"word$i").mkString(" ") + " tailB"))
    val sh = Dedup.shingles(docs.toDF("doc_id", "text"), 3)
    val plan = executedPlan(Dedup.minhashCandidates(sh, maxBucketSize = 50))
    noShuffledAnti("hot corpus", plan)
    assert(plan.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftAnti")),
      s"hot-key corpus must exercise a broadcast guard anti-join:\n${plan.take(1500)}")
  }

  test("q10 aggregation is map-side partial (two HashAggregate phases)") {
    val plan = executedPlan(q("q10_agg_tpch_q1"))
    assert(plan.contains("partial"), s"no partial aggregation:\n${plan.take(1500)}")
  }

  test("q30 cosine kernel runs inside whole-stage codegen") {
    val plan = executedPlan(q("q30_embedding_pairs"))
    // codegen'd stages carry the *(id) marker; the dot-product must sit
    // inside one, not in an interpreted Project
    val scoring = plan.linesIterator.find(_.contains("graft_array_dot"))
      .getOrElse(fail("dot-product kernel missing from plan"))
    assert(scoring.contains("*("), s"pair scoring fell out of codegen: $scoring")
  }

  test("q44 sessionization reuses one exchange for windows and rollup") {
    val plan = executedPlan(q("q44_sessionize"))
    // one shuffle on user_id shared by both window passes and the
    // aggregation, plus the final presentation sort — nothing else
    val exchanges = plan.linesIterator.count(_.contains("+- Exchange"))
    assert(exchanges <= 2, s"expected <= 2 exchanges, got $exchanges:\n${plan.take(2000)}")
  }

  test("q43 as-of join is one shuffle, no range-condition join") {
    val plan = executedPlan(q("q43_asof_join"))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "as-of degraded to a nested-loop join")
    val hashExchanges = plan.linesIterator
      .count(l => l.contains("+- Exchange hashpartitioning"))
    assert(hashExchanges <= 1, s"as-of should shuffle once, got $hashExchanges")
  }

  test("q73 quota rates broadcast back — the verdict scan never shuffles full data") {
    val plan = executedPlan(q("q73_sample_quota"))
    assert(plan.contains("BroadcastHashJoin"),
      s"stratum rates must broadcast onto the verdict scan:\n$plan")
    // the only hash exchange feeds the tiny per-stratum count aggregate;
    // a second one would mean the full corpus shuffles before its verdict
    val hashExchanges = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(hashExchanges <= 1,
      s"quota sampling should shuffle only stratum counts, got $hashExchanges")
  }

  test("q74 snapshot diff joins narrow hashes — text never crosses the exchange") {
    val plan = executedPlan(q("q74_dataset_diff"))
    assert(plan.contains("FullOuter"), s"diff must be a full-outer join:\n$plan")
    plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { l =>
      assert(!l.contains("text#"),
        s"document text shuffled through the diff exchange: $l")
    }
  }

  test("q96 stored-index probe pushes the term filter into the postings scan") {
    val plan = executedPlan(q("q96_bm25_indexed"))
    // the whole point of the stored index: a probe reads postings for
    // its terms, never the corpus — the IN filter must reach parquet
    assert(plan.contains("In(word"),
      s"term filter not pushed into the postings scan:\n$plan")
    assert(!plan.contains("text#"),
      s"stored-index path read document text:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must never be a global sort:\n$plan")
  }

  test("q95 scan-path top-k plans as TakeOrderedAndProject") {
    assert(executedPlan(q("q95_bm25")).contains("TakeOrderedAndProject"))
  }

  test("q103 keeper resolves through a partial aggregate, not an event-sorting window") {
    val plan = executedPlan(q("q103_event_dedup"))
    // the documented claim: the exchange carries one row per group. The
    // struct-typed min renders as SortAggregate (not hash-aggregable),
    // but partial + final phases must both be present — and a Window
    // operator here would mean every event shuffled to sort globally
    assert(!plan.contains("Window"), s"q103 regressed to a window sort:\n$plan")
    val aggs = plan.split("SortAggregate").length - 1 +
      plan.split("HashAggregate").length - 1
    assert(aggs >= 2, s"q103 lost its two-phase partial aggregation:\n$plan")
  }

  test("text/sketch/substring-tier additions never fall back to nested-loop or cartesian joins") {
    // one assertion body, one list to extend per round. r5: q95/q96's
    // only cross joins are the 1-row stats frames, q98's probe fan-out
    // is a bounded literal, q99/q100 are vocab-grain equi-joins. r7:
    // q108/q110/q112's pair work is equi-keyed (gram hash / prefix
    // shingle), q113/q114 are agg + equi-join chains, q109 adds only
    // the span/token equi-joins on top of q108, q116 probes candidate
    // pairs against 8-byte signatures, q118/q119 join on bucket ids.
    // r8: q137's pair self-join is basket-equi-keyed (the 1-row total
    // rides a broadcast Cross, which is sanctioned); q138 is histogram
    // aggs + windows; q140/q141 pair only within blocks / sort windows;
    // q142's wedges and closures are all equi-joins on node ids; q148
    // rides q33's windowed LSH candidate equi-join (planes fold to
    // literals — no plane join). (q143 is excluded: its INPUT is q30's
    // labeled quadratic ground-truth tier; the prediction machinery
    // itself is equi-keyed.)
    for (name <- Seq(
        "q95_bm25", "q96_bm25_indexed", "q98_cms_counts",
        "q99_lm_familiarity_indexed", "q100_vocab_drift",
        "q108_shared_runs", "q109_span_scrub", "q110_self_runs",
        "q112_prefix_join", "q113_novelty", "q114_retention",
        "q116_bbit_minhash", "q118_bloom_membership",
        "q137_basket_lift", "q138_robust_outliers", "q140_fuzzy_linkage",
        "q141_sorted_neighborhood", "q142_triangles",
        "q146_spike_detect", "q147_attribution",
        "q148_link_predict_lsh",
        // r8 second batch: q149/q152's only cross joins are broadcast
        // 1-row bounds/peak frames (sanctioned), q151/q154 are windows
        // + equi-joins, q153 is degree aggs + anti-joins per round,
        // q155 collapses to supplier grain then dimension equi-joins
        "q149_concurrency", "q151_transitions", "q152_daily_trend",
        "q153_kcore", "q154_growth_accounting",
        "q155_market_concentration", "q156_rolling_active",
        "q157_readability", "q158_cohort_ltv", "q159_dow_profile",
        "q160_cusum", "q161_interevent", "q162_gini",
        // r8 third batch: q163/q164 are vocab-grain aggs + windows,
        // q165's only cross join is the broadcast 1-row study horizon,
        // q166 rides the q152 dense-axis skeleton (broadcast bounds)
        "q163_lexical_richness", "q164_zipf_profile",
        "q165_repurchase_hazard", "q166_burstiness",
        // q167's one cross join is the broadcast 1-row grand total;
        // q168/q169 are equi-joins + per-type windows / user-grain aggs
        "q167_contingency_lift", "q168_abc_classes",
        "q169_event_diversity",
        // q172 rides the q152 dense axis; q173 is one scan + source
        // fold; q174's cross join is sources × bounded bucket axis
        // (broadcast). (q171 is the labeled ground-truth 1-NN pair
        // scan — excluded like q26/q30/q32.)
        "q172_ar1", "q173_char_classes", "q174_ks_drift",
        // q176 is one per-user window then type³-grain aggs. (q175's
        // complete pair grid is a broadcast cross of the BOUNDED source
        // dimension — a sanctioned BNLJ like q51; q177 composes the
        // q130/q42 chains, each plan-audited at its own tier.)
        "q176_event_trigrams",
        // q178's cross joins are broadcast 1-row horizon/threshold
        // frames; q179 windows at depth-histogram grain; q180 is the
        // sanctioned global vocab window
        "q178_rfm_segments", "q179_session_depth",
        "q180_word_burstiness",
        // q181's cross joins are broadcast 1-row histogram-threshold
        // frames; q182 rides q37's bounded-profile equi-join
        "q181_whale_share", "q182_lang_purity",
        // q183 is presence-grain windows; q184 rides the bounded
        // near-dup edge relation + component-grain rollups
        "q183_streaks", "q184_dup_cluster_sources",
        // the TPC-H classics are pure equi-star joins (q189's EXISTS is
        // a left-semi whose non-equi lateness conjunct rides the equi
        // key; q193's 1-row threshold cross is a sanctioned broadcast
        // like q181's, so it sits outside this gate)
        "q185_tpch_q3", "q186_tpch_q5", "q187_tpch_q10",
        "q189_tpch_q4", "q190_tpch_q12", "q191_tpch_q14", "q192_tpch_q18",
        // q197's 1-row max frame is a sanctioned broadcast cross
        "q194_tpch_q6", "q195_tpch_q7", "q196_tpch_q8", "q198_tpch_q17",
        "q199_tpch_q13", "q200_tpch_q19", "q201_tpch_q9",
        // q188 fuses tiers that are each gate-audited; its only cross
        // joins are the bounded broadcast frames those tiers carry
        "q188_source_datasheet")) {
      val plan = executedPlan(q(name))
      assert(!plan.contains("BroadcastNestedLoopJoin BuildRight, Inner") &&
        !plan.contains("BroadcastNestedLoopJoin BuildLeft, Inner") &&
        !plan.contains("CartesianProduct"),
        s"$name plans a quadratic join:\n${plan.take(2000)}")
    }
  }

  test("q115 z-order audit is one scan + one partial-agg pair, no join, no window") {
    val plan = executedPlan(q("q115_zorder"))
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"layout audit must not join or window:\n${plan.take(2000)}")
    assert(plan.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"bucket rollup should partial-aggregate map-side:\n${plan.take(2000)}")
  }

  test("TPC-H classics: top-k is TakeOrderedAndProject, date filters pushed to the scans") {
    for (name <- Seq("q185_tpch_q3", "q187_tpch_q10", "q192_tpch_q18")) {
      val plan = executedPlan(q(name))
      assert(plan.contains("TakeOrderedAndProject"),
        s"$name's top-k must never globally sort:\n${plan.take(2000)}")
      assert(plan.contains("PushedFilters: ["),
        s"$name must push its filters into the parquet scans:\n${plan.take(2000)}")
    }
  }

  test("q125 pagerank top-k is TakeOrderedAndProject; rounds stay equi-joined") {
    val plan = executedPlan(q("q125_pagerank"))
    assert(plan.contains("TakeOrderedAndProject"),
      s"rank top-50 must never globally sort:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"pagerank round regressed to a quadratic join:\n${plan.take(2000)}")
  }

  test("q123 resample: raw events collapse before the axis join; window runs at axis grain") {
    val plan = executedPlan(q("q123_event_resample"))
    // the zero-fill join and running-sum window read the AGGREGATED
    // bucket frame; a SortMergeJoin against raw events (value column
    // crossing the join) would mean row-grain axis work
    assert(plan.contains("Window"), "running total must be a window")
    val winDown = plan.split("Window", 2).last
    assert(winDown.contains("HashAggregate") || winDown.contains("SortAggregate"),
      s"window must sit above the bucket aggregation, not raw events:\n${plan.take(2500)}")
  }

  test("q121 constraint audit: ref-integrity parents broadcast under the child scan") {
    val plan = executedPlan(q("q121_constraint_audit"))
    // cross-table checks anti-join the child against the parent's key
    // projection — at dimension sizes that side must broadcast, and no
    // branch may plan a cartesian
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"fk checks should broadcast-anti-join:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct"),
      s"audit branch planned a cartesian:\n${plan.take(2000)}")
  }

  test("vocab tiers: no unpartitioned window over an unbounded frame (r13 de-weak)") {
    // q89/q94/q99/q180 used to rank the ENTIRE type vocabulary in one
    // task (10⁸–10⁹ rows at web scale) when only top-k / a threshold
    // was consumed. Gate: any unpartitioned logical Window in these
    // plans must sit above a GlobalLimit (the orderBy.limit truncation
    // — physically TakeOrderedAndProject), so its input is bounded by a
    // PARAMETER, never the corpus.
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, Window => LWindow}
    for (name <- Seq("q89_vocab_coverage", "q94_lm_familiarity",
        "q99_lm_familiarity_indexed", "q180_word_burstiness")) {
      val plan = q(name).queryExecution.optimizedPlan
      val offenders = plan.collect {
        case w: LWindow if w.partitionSpec.isEmpty &&
          w.child.collectFirst { case g: GlobalLimit => g }.isEmpty => w
      }
      assert(offenders.isEmpty,
        s"$name has an unpartitioned window over an untruncated frame:\n" +
          offenders.map(_.simpleString(3)).mkString("\n"))
    }
    // and the truncation must plan as TakeOrderedAndProject (partial
    // per-partition top-k), not a global sort feeding a limit
    for (name <- Seq("q89_vocab_coverage", "q180_word_burstiness")) {
      val plan = executedPlan(q(name))
      assert(plan.contains("TakeOrderedAndProject"),
        s"$name's vocab truncation must be TakeOrderedAndProject:\n${plan.take(2000)}")
    }
  }

  test("q113 novelty never shuffles text — only 16-byte (doc, gh) rows cross exchanges") {
    // the scan may read `text` to shingle it, but every exchange after
    // tokenization carries hashed grams/ids only
    val plan = executedPlan(q("q113_novelty"))
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("text#")),
      s"raw text crosses an exchange:\n${exchanges.mkString("\n")}")
  }

  test("Spread is the identity on an input that already has >= parallelism partitions") {
    // the 100 TB posture claim (r14 Spread, r15 gate): Spread only
    // repartitions when the planned scan has FEWER splits than the
    // session's parallelism — at production scale (scan >= cores) it
    // must insert NO exchange and return the frame unchanged
    import org.apache.spark.sql.functions.col
    val p = spark.sparkContext.defaultParallelism
    val wide = spark.range(0, 1000, 1, p + 2).select(col("id").as("doc_id"))
    assert(graft.operators.Spread(wide) eq wide,
      "Spread must return the SAME frame (no repartition node) on a wide input")
    val narrow = spark.range(0, 1000, 1, 1).select(col("id").as("doc_id"))
    val spreadPlan = graft.operators.Spread(narrow).queryExecution
      .optimizedPlan.toString
    assert(spreadPlan.contains("Repartition"),
      s"Spread must round-robin a single-split input:\n$spreadPlan")
  }

  test("q142/q143 multi-consumer cuts keep the executed plan flat (r14 Ckpt fix pinned)") {
    // before the Graphs cuts, q142's plan was a 5689-node tree (the LSH
    // verify chain replicated into every consumer branch). Pin the cut:
    // the FINAL plan must stay orders of magnitude below that — a
    // regression that re-inlines the producer per consumer trips this
    // long before it trips the bench.
    for (name <- Seq("q142_triangles", "q143_link_predict")) {
      val df = q(name)
      df.collect()
      val nodes = df.queryExecution.executedPlan.collect { case p => p }.size
      assert(nodes <= 400,
        s"$name executed plan has $nodes nodes — the multi-consumer cut regressed")
    }
  }

  test("forced-distributed near-dup paths keep the quadratic-join and skew-guard gates") {
    // the driver path turns q27/q62's frames into local relations, so the
    // gates above would pass on them vacuously; the distributed plan that
    // larger inputs take is gated here with the driver path forced off
    // (the hot-key broadcast guard is gated above through
    // minhashCandidates, which the driver path does not touch)
    import org.apache.spark.sql.functions.col
    import graft.operators.{Dedup, Labelled}
    val Forced = Labelled.Policy(bands = -1)
    def noQuadratic(label: String, plan: String): Unit =
      assert(!plan.contains("BroadcastNestedLoopJoin BuildRight, Inner") &&
        !plan.contains("BroadcastNestedLoopJoin BuildLeft, Inner") &&
        !plan.contains("CartesianProduct"),
        s"$label plans a quadratic join:\n${plan.take(2000)}")
    def noShuffledAnti(label: String, plan: String): Unit = {
      val bad = plan.linesIterator.filter(l =>
        l.contains("LeftAnti") &&
          (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))).toSeq
      assert(bad.isEmpty,
        s"$label skew guard shuffles instead of broadcasting: ${bad.mkString("; ")}")
    }
    val docs = graft.sources.Tables.load(spark, TestSpark.Sf0001, "documents")
    val pairs = executedPlan(Labelled.withPolicy(Forced)(
      Dedup.minhashPairs(docs, 3, 16, 4, 0.7, Dedup.NearDupMaxBucket)))
    noQuadratic("minhashPairs", pairs)
    noShuffledAnti("minhashPairs", pairs)
    val nf = 400L
    noQuadratic("incrementalNearDupEdges", executedPlan(Labelled.withPolicy(Forced)(
      Dedup.incrementalNearDupEdges(docs.filter(col("doc_id") < nf),
        docs.filter(col("doc_id") >= nf), 3, 16, 4, 0.7, Dedup.NearDupMaxBucket))))
  }

  test("Spread reads planned splits: no job for a derived pipeline, same decisions") {
    import org.apache.spark.sql.functions.{col, md5, min}
    import org.apache.spark.sql.catalyst.plans.logical.Repartition
    import graft.operators.Spread
    val p = spark.sparkContext.defaultParallelism
    def spreadTo(df: DataFrame): Option[Int] =
      df.queryExecution.analyzed.collectFirst { case r: Repartition => r.numPartitions }
    // a one-split parquet scan, alone and semi-joined against keeper ids
    // (the corpusKept shape): both spread, and the semi-join runs nothing
    val docs = graft.sources.Tables.load(spark, TestSpark.Sf0001, "documents")
      .select("doc_id", "text")
    val keepers = docs.groupBy(md5(col("text"))).agg(min("doc_id").as("doc_id"))
    val kept = docs.join(keepers, Seq("doc_id"), "left_semi")
    val (scan, scanJobs) = TestSpark.jobsDuring(Spread(docs))
    val (semi, semiJobs) = TestSpark.jobsDuring(Spread(kept))
    assert(scanJobs.isEmpty && semiJobs.isEmpty, s"scan $scanJobs, semi-join $semiJobs")
    assert(spreadTo(scan) == Some(p) && spreadTo(semi) == Some(p))
    // a scan of at least p splits (one file cut into 4 KB splits) comes
    // back unchanged, alone or derived; so does a derived pipeline over
    // a range of p + 2 slices
    val dir = java.nio.file.Files.createTempDirectory("graft_spread_").toString
    spark.range(0, 20000, 1, 1).select(org.apache.spark.sql.functions.rand(7).as("id"))
      .write.mode("overwrite").parquet(dir)
    val key = "spark.sql.files.maxPartitionBytes"
    spark.conf.set(key, "4096")
    try {
      val wide = spark.read.parquet(dir)
      assert(wide.rdd.getNumPartitions >= p, "the scan should plan >= p splits")
      val wideKept = wide.join(wide.limit(10), Seq("id"), "left_semi")
      val range = spark.range(0, 1000, 1, p + 2)
      val rangeKept = range.join(range.groupBy((col("id") % 7).as("id")).count(), Seq("id"), "left_semi")
      val (out, wideJobs) = TestSpark.jobsDuring(
        Seq(Spread(wide), Spread(wideKept), Spread(rangeKept)))
      assert(wideJobs.isEmpty, wideJobs)
      assert(out.zip(Seq(wide, wideKept, rangeKept)).forall { case (a, b) => a eq b },
        "a wide input must come back unchanged")
    } finally spark.conf.unset(key)
  }
}
