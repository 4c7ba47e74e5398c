package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Bpe, Components, Dedup, Multimodal, TextAnalysis, TextIndex}
import graft.sources.Tables

/** Oracle-gated text-analysis + multimodal-metadata + dedup-pipeline
  * queries over `documents` (the training-data-pipeline tier beyond the
  * reference's word count).
  *
  * q37 language ID trains its trigram profiles on the corpus itself (the
  * labeled `lang` column), so the whole train-then-classify pipeline is
  * inside the query and reproducible in DuckDB. q42 is the end-to-end
  * dedup decision: MinHash-LSH near-dup pairs → per-doc drop/keep
  * verdicts (the lowest-id pair partner is kept).
  */
object TextQueries {

  /** The q38 composite-quality expression over word-count exprs — ONE
    * definition shared with the q48/q64/q66 curation chain
    * ([[CurationQueries]]) so the gate formula cannot drift between
    * oracles. NULL when `nWords` is 0 (both engines: x/0 on doubles is
    * NULL), the arm the curation low_quality gate relies on.
    */
  private[queries] def qualitySql(nWords: String, nDistinct: String): String =
    s"round(least(1.0, CAST($nWords AS DOUBLE) / 100.0) * " +
      s"(CAST($nDistinct AS DOUBLE) / $nWords), 4)"

  private val WsSql =
    """ws AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS w FROM documents)"""

  /** q37's language-ID CTEs (trigram profiles → per-doc argmax `pred`)
    * — ONE definition shared with q182's source-purity rollup so the
    * audit can't drift from the classifier it audits.
    */
  private[queries] lazy val LangPredSql: String =
    """tri AS (
      |  SELECT doc_id, lang,
      |         unnest(list_transform(generate_series(1, len(text) - 2),
      |                               i -> substr(text, i, 3))) AS g
      |  FROM documents),
      |cnt AS (SELECT lang, g, count(*) AS c FROM tri GROUP BY lang, g),
      |prof AS (SELECT lang AS plang, g FROM (
      |           SELECT lang, g, row_number() OVER (PARTITION BY lang
      |                    ORDER BY c DESC, g) AS rk FROM cnt) t
      |         WHERE rk <= 200),
      |doctri AS (SELECT DISTINCT doc_id, g FROM tri),
      |scores AS (SELECT doc_id, plang, count(*) AS score
      |           FROM doctri JOIN prof USING (g) GROUP BY doc_id, plang),
      |pred AS (SELECT doc_id, plang, score FROM (
      |           SELECT *, row_number() OVER (PARTITION BY doc_id
      |                    ORDER BY score DESC, plang) AS rk FROM scores) t
      |         WHERE rk = 1)""".stripMargin

  /** q130's decile CTEs (scaled-quality histogram → ceil-rank decile
    * thresholds `th` + scored docs `s`) — ONE definition shared with
    * q177's cross-tier audit so the decile assignment cannot drift.
    */
  private[queries] lazy val DecileSql: String =
    s"""wsq AS (SELECT doc_id,
       |          list_filter(string_split_regex(trim(text), '\\s+'),
       |                      x -> x != '') AS w
       |        FROM documents),
       |m AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
       |             CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct
       |      FROM wsq),
       |q AS (SELECT doc_id, ${qualitySql("n_words", "n_distinct")} AS quality
       |      FROM m),
       |s AS (SELECT doc_id, CAST(round(quality * 10000) AS BIGINT) AS qs
       |      FROM q WHERE quality IS NOT NULL),
       |h AS (SELECT qs, CAST(count(*) AS BIGINT) AS c FROM s GROUP BY qs),
       |cw AS (SELECT qs, CAST(sum(c) OVER (ORDER BY qs) AS BIGINT) AS cum,
       |              (SELECT CAST(sum(c) AS BIGINT) FROM h) AS n
       |       FROM h),
       |ps AS (SELECT unnest([10, 20, 30, 40, 50, 60, 70, 80, 90]) AS p),
       |th AS (SELECT ps.p,
       |         min(CASE WHEN cw.cum >= (cw.n * ps.p + 99) // 100
       |             THEN cw.qs END) AS t
       |       FROM cw CROSS JOIN ps GROUP BY ps.p)""".stripMargin

  def queries: Map[String, Q] = Map(
    "q37_lang_id" -> ((spark, dir) =>
      TextAnalysis.languageId(Tables.load(spark, dir, "documents"), k = 200)
        .orderBy("doc_id")),

    "q38_quality" -> ((spark, dir) =>
      TextAnalysis.qualityScores(Tables.load(spark, dir, "documents"))
        .orderBy("doc_id")),

    // equal-frequency quality deciles WITHOUT a global sort: windows
    // over the ≤ 10001-bucket scaled-quality histogram, nine
    // thresholds broadcast back as one array — the scale-safe ntile
    // for curriculum ordering and decile-rate mixing
    "q130_quality_deciles" -> ((spark, dir) =>
      TextAnalysis.qualityDeciles(Tables.load(spark, dir, "documents"))
        .orderBy("doc_id")),

    "q39_token_count" -> ((spark, dir) =>
      TextAnalysis.tokenCounts(Tables.load(spark, dir, "documents"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("ws_tokens").as("total_ws_tokens"),
          sum("re_tokens").as("total_re_tokens"),
          round(avg("ws_tokens"), 4).as("avg_ws_tokens"))
        .orderBy("source")),

    // tokenizer-fertility audit per language: sub-word (BPE-ish regex)
    // tokens per whitespace word, in ppm — the per-language number a
    // tokenizer choice is graded on (high fertility = a language the
    // vocab splits into fragments, paying context length for nothing).
    // Integer ppm division so no engine compares float ratios
    "q212_fertility" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      TextAnalysis.tokenCounts(docs)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("ws_tokens").as("ws_tokens"),
          sum("re_tokens").as("re_tokens"))
        .select(col("lang"), col("n_docs"), col("ws_tokens"), col("re_tokens"),
          when(col("ws_tokens") > 0,
            expr("re_tokens * 1000000 div ws_tokens")).as("fertility_ppm"))
        .orderBy("lang")
    }),

    "q40_doc_fingerprint" -> ((spark, dir) =>
      TextAnalysis.fingerprints(Tables.load(spark, dir, "documents"), n = 5)
        .orderBy("doc_id")),

    "q41_blob_meta" -> ((spark, dir) =>
      Multimodal.blobMeta(Tables.load(spark, dir, "documents"))
        .orderBy("doc_id")),

    // REAL image decode, hash-gated end to end: one deterministic PNG
    // per doc (the `Multimodal.synthPixel` closed form), encoded and
    // then DECODED by the JDK's own ImageIO codec on the executors,
    // with the decoded dimensions + 16-bucket luminance histogram
    // compared against the oracle's ANALYTIC rendering of the same
    // formula. DuckDB has no image codec but needs none — the expected
    // features are exact integer arithmetic, so any decode drift
    // (dimensions, sample values, a colorspace remap) hash-mismatches.
    // Zero-count buckets are dropped to mirror the oracle's GROUP BY,
    // which only yields buckets that occur.
    "q215_image_decode" -> ((spark, dir) => {
      val feats = Multimodal.extractImageFeatures(
        Multimodal.pngCorpus(Tables.load(spark, dir, "documents")))
      feats.select(col("doc_id"), col("width"), col("height"),
          posexplode(col("lum_hist")).as(Seq("bucket", "n_px")))
        .filter(col("n_px") > 0)
        .select(col("doc_id"), col("width"), col("height"),
          col("bucket").cast("long").as("bucket"), col("n_px"))
        .orderBy("doc_id", "bucket")
    }),

    // q215 over the MIXED-container corpus (doc_id mod 3 → PNG / BMP /
    // GIF — all lossless for 8-bit gray): the same analytic oracle
    // gates all three JDK codecs, including the GIF palette
    // (IndexColorModel) path, in one query — a real image pipeline
    // never sees a single container format
    "q221_image_decode_mixed" -> ((spark, dir) => {
      val feats = Multimodal.extractImageFeatures(
        Multimodal.mixedCorpus(Tables.load(spark, dir, "documents")))
      feats.select(col("doc_id"), col("width"), col("height"),
          posexplode(col("lum_hist")).as(Seq("bucket", "n_px")))
        .filter(col("n_px") > 0)
        .select(col("doc_id"), col("width"), col("height"),
          col("bucket").cast("long").as("bucket"), col("n_px"))
        .orderBy("doc_id", "bucket")
    }),

    // REAL audio decode, hash-gated end to end (the q215 trick on the
    // audio tier): one deterministic 16-bit PCM mono WAV per doc
    // (closed-form samples, Multimodal.synthAudioSample), encoded AND
    // decoded by the JDK's own javax.sound.sampled codec on the
    // executors, with the decoded rate/frame-count/amplitude histogram
    // compared against the oracle's ANALYTIC rendering of the formula —
    // any decode drift (header misread, endianness, sample scaling)
    // hash-mismatches. Zero-count buckets dropped to mirror the
    // oracle's GROUP BY.
    "q222_audio_decode" -> ((spark, dir) => {
      val feats = Multimodal.extractAudioFeatures(
        Multimodal.wavCorpus(Tables.load(spark, dir, "documents")))
      feats.select(col("doc_id"), col("sample_rate"), col("n_samples"),
          posexplode(col("amp_hist")).as(Seq("bucket", "n")))
        .filter(col("n") > 0)
        .select(col("doc_id"), col("sample_rate"), col("n_samples"),
          col("bucket").cast("long").as("bucket"), col("n"))
        .orderBy("doc_id", "bucket")
    }),

    // q222 over the MIXED-container corpus (doc_id mod 3 → WAV / AIFF /
    // AU — all lossless 16-bit PCM): the same analytic oracle gates all
    // three JDK audio codecs, including the big-endian AIFF/AU frame
    // path, in one query — the audio mirror of q221 (VERDICT r12 ask #4)
    "q224_audio_decode_mixed" -> ((spark, dir) => {
      val feats = Multimodal.extractAudioFeatures(
        Multimodal.mixedAudioCorpus(Tables.load(spark, dir, "documents")))
      feats.select(col("doc_id"), col("sample_rate"), col("n_samples"),
          posexplode(col("amp_hist")).as(Seq("bucket", "n")))
        .filter(col("n") > 0)
        .select(col("doc_id"), col("sample_rate"), col("n_samples"),
          col("bucket").cast("long").as("bucket"), col("n"))
        .orderBy("doc_id", "bucket")
    }),

    // REAL image resize, hash-gated like q215: the synthetic PNGs are
    // decoded, nearest-neighbor resampled to maxDim 16 in exact integer
    // arithmetic, re-encoded, decoded AGAIN, and the decoded feature
    // table is compared against the oracle's analytic rendering of the
    // resampling formula (source pixel of (x, y) = (x·w0 // W,
    // y·h0 // H)) — so the full decode→scale→encode→decode loop is
    // inside the gate
    "q216_image_resize" -> ((spark, dir) => {
      val resized = Multimodal.resizeImages(
        Multimodal.pngCorpus(Tables.load(spark, dir, "documents")), maxDim = 16)
      Multimodal.extractImageFeatures(resized)
        .select(col("doc_id"), col("width"), col("height"),
          posexplode(col("lum_hist")).as(Seq("bucket", "n_px")))
        .filter(col("n_px") > 0)
        .select(col("doc_id"), col("width"), col("height"),
          col("bucket").cast("long").as("bucket"), col("n_px"))
        .orderBy("doc_id", "bucket")
    }),

    "q42_dedup_keep" -> ((spark, dir) =>
      Dedup.nearDupEdges(Tables.load(spark, dir, "documents"))
        .groupBy(col("j"))
        .agg(min("i").as("keep_id"), count(lit(1)).as("n_pairs"))
        .select(col("j").as("drop_id"), col("keep_id"), col("n_pairs"))
        .orderBy("drop_id")),

    "q60_repetition" -> ((spark, dir) =>
      TextAnalysis.repetitionSignals(Tables.load(spark, dir, "documents"))
        .orderBy("doc_id")),

    "q63_tfidf" -> ((spark, dir) =>
      TextAnalysis.tfidfTopTerms(Tables.load(spark, dir, "documents"), k = 3)
        .orderBy("doc_id", "rank")),

    "q67_chunk" -> ((spark, dir) =>
      TextAnalysis.chunk(Tables.load(spark, dir, "documents"),
          size = 200, overlap = 50)
        .orderBy("doc_id", "chunk_id")),

    "q68_boilerplate" -> ((spark, dir) =>
      TextAnalysis.boilerplateGrams(Tables.load(spark, dir, "documents"),
          n = 3, minDocs = 5)
        .orderBy(org.apache.spark.sql.functions.col("n_docs").desc,
          org.apache.spark.sql.functions.col("g"))),

    // PII redaction scrub. The synthetic corpus is PII-free, so the
    // query plants deterministic PII (email / phone / IPv4, keyed on
    // doc_id % 5) into the text FIRST — in-query, both engines — and
    // the scrub must find and redact exactly those plants; docs with no
    // plant prove the zero-hit total-audit arm.
    "q78_pii_scrub" -> ((spark, dir) => {
      val injected = Tables.load(spark, dir, "documents").select(
        col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 5 === 0,
            concat(lit(" mail u"), col("doc_id").cast("string"),
              lit("@example.com please")))
          .when(col("doc_id") % 5 === 1, lit(" call 555-123-4567 now"))
          .when(col("doc_id") % 5 === 2,
            concat(lit(" host 10.0.0."), (col("doc_id") % 256).cast("string"),
              lit(" up")))
          .otherwise(lit(""))).as("text"))
      TextAnalysis.piiScrub(injected).orderBy("doc_id")
    }),

    // two-level curation: per-source mean quality (exact-integer sum)
    // gates every doc from that source — the prune-whole-domains pass
    "q83_source_gate" -> ((spark, dir) =>
      TextAnalysis.sourceQualityGate(Tables.load(spark, dir, "documents"),
          minAvgQuality = 0.23)
        .orderBy("doc_id")),

    // corpus collocations by rational lift (un-logged PMI, the q63
    // float-parity trade); ranking compares the ROUNDED score, ties
    // break lexicographically
    "q84_collocations" -> ((spark, dir) =>
      TextAnalysis.collocations(Tables.load(spark, dir, "documents"),
          minCount = 20)
        .orderBy(col("lift").desc, col("g1"), col("g2"))),

    "q85_truncation_audit" -> ((spark, dir) =>
      TextAnalysis.truncationAudit(Tables.load(spark, dir, "documents"),
          maxLen = 64, bucketWidth = 16)
        .orderBy("source", "bucket")),

    // vocab-size coverage curve: exact token-occurrence share covered by
    // the top-k word types — the pre-BPE vocabulary sizing numbers
    "q89_vocab_coverage" -> ((spark, dir) =>
      TextAnalysis.vocabCoverage(Tables.load(spark, dir, "documents"),
          sizes = Seq(100L, 500L, 1000L, 2000L, 5000L))
        .orderBy("vocab_size")),

    // corpus-grain lexical richness per source: pooled type/token and
    // hapax counts with exact-ppm ratios — the Heaps'-law reading the
    // per-doc TTR (q38) cannot give
    "q163_lexical_richness" -> ((spark, dir) =>
      TextAnalysis.lexicalRichness(Tables.load(spark, dir, "documents"))
        .orderBy("source")),

    // rank-frequency Zipf profile per source: top-1/10/100 token-mass
    // shares + tail mass in exact ppm, rank window partitioned by source
    "q164_zipf_profile" -> ((spark, dir) =>
      TextAnalysis.zipfProfile(Tables.load(spark, dir, "documents"))
        .orderBy("source")),

    // per-source character-class shares (letter/digit/space/other ppm)
    // — the cheapest extraction-pipeline drift fingerprint
    "q173_char_classes" -> ((spark, dir) =>
      TextAnalysis.charClassProfile(Tables.load(spark, dir, "documents"))
        .orderBy("source")),

    // pairwise source-vocabulary Jaccard — the syndication screen at
    // vocab grain, complete pair grid over the bounded source dimension
    "q175_source_overlap" -> ((spark, dir) =>
      TextAnalysis.sourceVocabOverlap(Tables.load(spark, dir, "documents"))
        .orderBy("s1", "s2")),

    // Church–Gale word burstiness of the top-100 corpus words: cf/df
    // and occurrences-per-containing-doc — stopword vs boilerplate triage
    "q180_word_burstiness" -> ((spark, dir) =>
      TextAnalysis.wordBurstiness(Tables.load(spark, dir, "documents"),
          topK = 100)
        .orderBy("rank")),

    // q37's classifier rolled to source grain: per-source label/pred
    // agreement ppm — the "which source's language labels can I trust"
    // audit (on THIS corpus labels carry no trigram signal, so purity
    // sits near chance BY DESIGN — the audit's honest reading)
    "q182_lang_purity" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      TextAnalysis.languageId(docs, k = 200)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("pred_lang") === col("lang"), 1L).otherwise(0L))
            .as("n_match"))
        .withColumn("match_ppm", expr("(n_match * 1000000) div n_docs"))
        .orderBy("source")
    }),

    // SOURCE DATASHEET: one wide row per source fusing the gated
    // per-source tiers — docs/tokens, corpus TTR + hapax (q163), Zipf
    // head mass (q164), char classes (q173), KS length drift (q174),
    // language purity (q182), and the near-dup drop rate — the
    // "datasheets for datasets" artifact a mixture owner reads before
    // re-weighting; every column is the same arithmetic as its source
    // tier, so the fused report cannot disagree with the per-tier gates
    "q188_source_datasheet" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      sourceDatasheetOf(docs, TextAnalysis.languageId(docs, k = 200),
        Dedup.nearDupEdges(docs))
    }),

    // the STORED-ARTIFACT rendering of q188 (VERDICT r11 ask #4): the
    // datasheet's two expensive inputs — the near-dup edge relation
    // and the per-doc language predictions (q188's cost is ~80% the
    // language-ID pass) — are READ from yesterday's persisted jobs;
    // the remaining per-source tiers are genuine single scans and
    // recompute (each ≤ ~0.5 s at sf0.1). At 100 TB the mixture
    // owner's report consumes job outputs, it doesn't re-run the
    // jobs. Gated against q188's from-scratch oracle: stored ≡
    // recomputed, driver-enforced.
    "q220_source_datasheet_stored" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      sourceDatasheetOf(docs,
        spark.read.parquet(s"${langPredDir(spark, dir)}/langpred"),
        spark.read.parquet(s"${corpusEdgesDir(spark, dir)}/edges"))
    }),

    // near-dup cluster provenance: per (cluster_size, distinct
    // sources) cell, how many clusters — n_sources = 1 means re-posts
    // INSIDE a source (dedup locally), > 1 means cross-source
    // syndication (the q104 finding at cluster grain); the table that
    // says whether dedup can shard by source at 100 TB
    "q184_dup_cluster_sources" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      dupClusterSourcesOf(docs,
        Components.connected(Dedup.nearDupEdges(docs)))
    }),

    // the STORED-COMPONENT rendering of q184 (r13): cluster provenance
    // off the dedup job's persisted component map — no chain, no
    // closure at read time; gated against q184's from-scratch oracle
    "q229_dup_cluster_sources_stored" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      dupClusterSourcesOf(docs,
        spark.read.parquet(s"${corpusEdgesDir(spark, dir)}/components"))
    }),

    // quality-decile × near-dup-verdict audit: is low-quality text
    // also the duplicated text? joins the q130 decile machinery with
    // q42's drop verdicts — per decile, the docs the near-dup tier
    // would drop and the exact-ppm drop rate
    "q177_quality_dup_profile" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      val drops = Dedup.nearDupEdges(docs)
        .select(col("j").as("doc_id")).distinct()
        .withColumn("dropped", lit(1L))
      TextAnalysis.qualityDeciles(docs)
        .join(drops, Seq("doc_id"), "left")
        .groupBy("decile")
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("dropped"), lit(0L))).as("n_dropped"))
        .withColumn("drop_ppm", expr("(n_dropped * 1000000) div n_docs"))
        .orderBy("decile")
    }),

    // two-sample KS distance of each source's doc-length CDF vs the
    // corpus', at 64-char buckets — the mixture re-weighting screen
    "q174_ks_drift" -> ((spark, dir) =>
      TextAnalysis.lengthKsDrift(Tables.load(spark, dir, "documents"))
        .orderBy("source")),

    "q94_lm_familiarity" -> ((spark, dir) =>
      TextAnalysis.lmFamiliarity(Tables.load(spark, dir, "documents"),
          vocabTopK = 1000L)
        .orderBy("doc_id")),

    // Flesch-Kincaid grade per doc in exact centi-integer rational —
    // sentence floor at 1 (this corpus is punctuation-free: the floor
    // arm runs corpus-wide by design), vowel-group syllables
    "q157_readability" -> ((spark, dir) =>
      TextAnalysis.readability(Tables.load(spark, dir, "documents"))
        .orderBy("doc_id")),

    // exact-integer rational BM25 ranked retrieval (k1=6/5, b=3/4,
    // un-logged idf — the q63/q84/q94 parity trade); scores in ppm by
    // BIGINT floor division so the ranking hashes identically in DuckDB
    "q95_bm25" -> ((spark, dir) =>
      TextIndex.bm25Rank(Tables.load(spark, dir, "documents"),
          Bm25Terms, k = 20)
        .orderBy("rank")),

    // the same retrieval served from the PERSISTED inverted index (one
    // stored-artifact build per sf-dir per JVM) — gated against q95's
    // oracle, so stored ≡ recomputed is a driver-enforced hash law
    "q96_bm25_indexed" -> ((spark, dir) =>
      TextIndex.bm25(
          TextIndex.load(spark, textIndexDir(spark, dir)), Bm25Terms, k = 20)
        .orderBy("rank")),

    // the reference's term lookup (R10, q02's contract) against the
    // stored postings: no corpus scan, the word filter pushes into the
    // postings parquet scan
    "q97_term_postings" -> ((spark, dir) =>
      TextIndex.lookup(
          TextIndex.load(spark, textIndexDir(spark, dir)), "vector")
        .orderBy("doc_id")),

    // ingest-time LM familiarity: the delta scored against the STORED
    // corpus index (q94's quality tier made delta-proportional — corpus
    // counts off the postings frame, never a rescan); corpus-unseen
    // words count as OOV, the arm the self-corpus variant can't express
    "q99_lm_familiarity_indexed" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      val idx = TextIndex.load(spark, corpusTextIndexDir(spark, dir))
      TextIndex.lmFamiliarity(idx, docs.filter(col("doc_id") >= deltaCut(docs)),
          vocabTopK = 1000L)
        .orderBy("doc_id")
    }),

    // word-distribution drift between the corpus and delta snapshots —
    // "did the language change", biggest rate movers first
    "q100_vocab_drift" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      val nf = deltaCut(docs)
      TextAnalysis.vocabDrift(docs.filter(col("doc_id") < nf),
          docs.filter(col("doc_id") >= nf))
        .orderBy(col("abs_delta_ppm").desc, col("word"))
    }),

    // one BPE-training iteration's scoring pass: frequency-weighted
    // adjacent character-pair counts, vocab-grain after the one scan
    "q101_bpe_pairs" -> ((spark, dir) =>
      TextAnalysis.bpePairCounts(Tables.load(spark, dir, "documents"), k = 20)
        .orderBy("rank")),

    // the MULTI-iteration BPE train q101 scores one pass of, persisted
    // (the q96/q203 stored protocol) and read back: the stored merge
    // table, hash-gated against a DuckDB oracle that REPLAYS the whole
    // training loop from the corpus (macro-expanded iterations — the
    // strongest stored ≡ recomputed law on the surface)
    "q223_bpe_train_stored" -> ((spark, dir) =>
      Bpe.loadMergesDF(spark, bpeDir(spark, dir))
        .select(col("step"), col("left").as("left_sym"),
          col("right").as("right_sym"), col("merged"), col("pair_count"))
        .orderBy("step")),

    // q212's fertility audit re-read off the TRAINED tokenizer: per
    // language, whitespace tokens vs stored-merge BPE tokens in exact
    // integer ppm — the number an actual vocab ships with, not the
    // BPE-ish regex proxy. Tokens-per-word is computed at VOCAB grain
    // (one replace-chain over distinct words) and joined back to
    // occurrences; the oracle replays training AND application
    "q230_bpe_fertility_trained" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      Bpe.fertility(docs, Bpe.loadMerges(spark, bpeDir(spark, dir)))
        .orderBy("lang")
    }))

  /** Fixed probe terms for the BM25 queries (present in the synthetic
    * corpus vocabulary with differing document frequencies).
    */
  private val Bm25Terms = Seq("vector", "spark", "join", "window")

  /** q96/q97's stored text index: built once per sf-dir per JVM into a
    * temp dir (the "yesterday's index job" stand-in — same pattern as
    * the q70 near-dup index cache).
    */
  private val txtIdxCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def textIndexDir(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    cachedIndexDir(txtIdxCache, dir, "graft_txt_idx_") { d =>
      TextIndex.write(Tables.load(spark, dir, "documents"), d)
    }

  /** q99's stored index over the BELOW-the-cut corpus slice only (the
    * "yesterday's index" the delta scores against — the q70 cut).
    */
  private val corpusTxtIdxCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def corpusTextIndexDir(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    cachedIndexDir(corpusTxtIdxCache, dir, "graft_txt_cidx_") { d =>
      val docs = Tables.load(spark, dir, "documents")
      TextIndex.write(docs.filter(col("doc_id") < deltaCut(docs)), d)
    }

  /** Merge count for the stored BPE tokenizer (q223/q230). 16 keeps
    * the macro-expanded oracle tractable while exercising the regime
    * that matters: merged symbols merging with merged symbols (the
    * corpus trains e.g. co+lu → colu → colum by step 16).
    */
  private val BpeMergeCount = 16

  /** q223/q230's stored trained tokenizer — "yesterday's BPE training
    * job" (the [[Bpe.train]] driver loop persisted), built once per
    * sf-dir per JVM like the index caches above.
    */
  private val bpeCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def bpeDir(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    cachedIndexDir(bpeCache, dir, "graft_bpe_") { d =>
      Bpe.write(Tables.load(spark, dir, "documents"), BpeMergeCount, d)
    }

  /** The DuckDB replay of [[Bpe.train]]'s first `n` iterations,
    * macro-expanded (one CTE triple per iteration — pair scoring,
    * 1-row argmax, merge application): after this prefix, `b{k}` holds
    * iteration k's winning merge and `s{n}` the fully-merged per-word
    * symbol strings. Same wrapped-string rendering as [[Bpe]]
    * ("|a||b|"; plain left-to-right `replace` IS non-overlapping merge
    * application in both engines), so training replays bit-for-bit.
    * MATERIALIZED is load-bearing: each s/b is referenced twice, and
    * inlined CTEs would expand the chain exponentially.
    */
  private def bpeTrainSqlPrefix(n: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH wf AS MATERIALIZED (
       |  SELECT w AS word, count(*) AS freq
       |  FROM (SELECT unnest(list_filter(string_split_regex(trim(text),
       |                 '\\s+'), x -> x <> '')) AS w
       |        FROM documents) GROUP BY w),
       |s0 AS MATERIALIZED (
       |  SELECT word, freq,
       |         '|' || array_to_string(string_split(word, ''), '||') || '|' AS s
       |  FROM wf)""".stripMargin
    for (k <- 1 to n) sb ++= s""",
       |p$k AS MATERIALIZED (
       |  SELECT ts[i] AS l, ts[i+1] AS r, sum(freq) AS cnt
       |  FROM (SELECT freq, string_split(s[2:-2], '||') AS ts,
       |               unnest(generate_series(1,
       |                 len(string_split(s[2:-2], '||')) - 1)) AS i
       |        FROM s${k - 1}) GROUP BY 1, 2),
       |b$k AS MATERIALIZED (
       |  SELECT l, r, cnt FROM p$k ORDER BY cnt DESC, l, r LIMIT 1),
       |s$k AS MATERIALIZED (
       |  SELECT word, freq,
       |         replace(s, '|'||b.l||'||'||b.r||'|', '|'||b.l||b.r||'|') AS s
       |  FROM s${k - 1} CROSS JOIN b$k b)""".stripMargin
    sb.toString
  }

  /** q220's stored per-doc language predictions — "yesterday's
    * text-analysis job" (the q37 pass persisted), built once per
    * sf-dir per JVM like the index caches above.
    */
  private val langCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def langPredDir(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    cachedIndexDir(langCache, dir, "graft_langpred_") { d =>
      TextAnalysis.languageId(Tables.load(spark, dir, "documents"), k = 200)
        .select("doc_id", "lang", "pred_lang")
        .write.mode("overwrite").parquet(s"$d/langpred")
    }

  /** q188/q220: the fused per-source datasheet over the per-doc language
    * predictions (doc_id, lang, pred_lang) and the near-dup edge
    * relation (j = the dropped doc). ONE definition so the inline and
    * stored renderings cannot drift. Both inputs are by-name: each is
    * built where the inline rendering always built it, after the
    * single-scan tiers.
    */
  private def sourceDatasheetOf(docs: DataFrame, preds: => DataFrame,
      edges: => DataFrame): DataFrame = {
    val rich = TextAnalysis.lexicalRichness(docs)
      .select("source", "n_docs", "n_tokens", "ttr_ppm", "hapax_ppm")
    val zipf = TextAnalysis.zipfProfile(docs)
      .select(col("source"), col("top10_ppm"))
    val cls = TextAnalysis.charClassProfile(docs)
      .select(col("source"), col("alpha_ppm"), col("other_ppm"))
    val ks = TextAnalysis.lengthKsDrift(docs)
      .select(col("source"), col("d_ppm").as("ks_ppm"))
    val pur = preds
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy("source")
      .agg(sum(when(col("pred_lang") === col("lang"), 1L).otherwise(0L))
        .as("n_match"))
    val dsrc = docs.select(col("doc_id"), col("source"))
      .join(edges.select(col("j").as("doc_id")).distinct(), Seq("doc_id"))
      .groupBy("source").agg(count(lit(1)).as("n_dropped"))
    rich
      .join(zipf, Seq("source"), "left")
      .join(cls, Seq("source"), "left")
      .join(ks, Seq("source"), "left")
      .join(pur, Seq("source"), "left")
      .join(dsrc, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("ttr_ppm"), col("hapax_ppm"), col("top10_ppm"),
        col("alpha_ppm"), col("other_ppm"), col("ks_ppm"),
        expr("(coalesce(n_match, 0) * 1000000) div n_docs")
          .as("lang_match_ppm"),
        expr("(coalesce(n_dropped, 0) * 1000000) div n_docs")
          .as("dup_drop_ppm"))
      .orderBy("source")
  }

  def oracles: Map[String, String] = Map(
    "q157_readability" ->
      """SELECT doc_id, n_words, n_sentences, n_syllables,
        |       CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1
        |            ELSE 0 END AS BIGINT) AS fk_sign,
        |       CASE WHEN n_words > 0
        |            THEN abs(num) // (n_sentences * n_words)
        |       END AS fk_abs_centi
        |FROM (SELECT doc_id, n_words, n_sentences, n_syllables,
        |        39 * n_words * n_words
        |          + 1180 * n_syllables * n_sentences
        |          - 1559 * n_sentences * n_words AS num
        |      FROM (SELECT doc_id,
        |              CAST(len(list_filter(
        |                string_split_regex(trim(text), '\s+'),
        |                x -> x <> '')) AS BIGINT) AS n_words,
        |              greatest(CAST(1 AS BIGINT),
        |                CAST(len(regexp_extract_all(text, '[.!?]+'))
        |                     AS BIGINT)) AS n_sentences,
        |              CAST(len(regexp_extract_all(lower(text),
        |                '[aeiouy]+')) AS BIGINT) AS n_syllables
        |            FROM documents))
        |ORDER BY doc_id""".stripMargin,

    "q37_lang_id" ->
      s"""WITH $LangPredSql
         |SELECT d.doc_id, d.lang,
         |       coalesce(p.plang, 'unknown') AS pred_lang,
         |       coalesce(p.score, 0) AS score
         |FROM documents d LEFT JOIN pred p ON d.doc_id = p.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    // q37's prediction CTEs rolled to source grain — one shared
    // definition (LangPredSql) so the purity audit can't drift from
    // the classifier it audits
    "q182_lang_purity" ->
      s"""WITH $LangPredSql
         |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN coalesce(p.plang, 'unknown') = d.lang
         |                THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
         |       (CAST(sum(CASE WHEN coalesce(p.plang, 'unknown') = d.lang
         |                 THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
         |         // count(*) AS match_ppm
         |FROM documents d LEFT JOIN pred p ON d.doc_id = p.doc_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q38_quality" ->
      s"""WITH wsq AS (SELECT doc_id, len(text) AS n_chars0,
         |                    len(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS n_punct0,
         |                    list_filter(string_split_regex(trim(text), '\\s+'),
         |                                x -> x != '') AS w
         |             FROM documents),
         |m AS (SELECT doc_id,
         |             CAST(n_chars0 AS BIGINT) AS n_chars,
         |             CAST(n_punct0 AS BIGINT) AS n_punct,
         |             CAST(len(w) AS BIGINT) AS n_words,
         |             CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
         |             CAST(len(list_filter(w, x -> x IN
         |               ('the', 'a', 'an', 'of', 'to', 'and', 'in', 'is', 'it', 'that')))
         |               AS BIGINT) AS n_stop,
         |             CAST(list_sum(list_transform(w, x -> len(x))) AS DOUBLE) AS sum_wlen
         |      FROM wsq)
         |SELECT doc_id, n_chars, n_words, n_distinct,
         |       round(CAST(n_distinct AS DOUBLE) / n_words, 4) AS ttr,
         |       round(sum_wlen / n_words, 4) AS mean_wlen,
         |       round(CAST(n_punct AS DOUBLE) / n_chars, 4) AS punct_ratio,
         |       round(CAST(n_stop AS DOUBLE) / n_words, 4) AS stop_ratio,
         |       ${qualitySql("n_words", "n_distinct")} AS quality
         |FROM m
         |ORDER BY doc_id""".stripMargin,

    // q38's quality formula scaled to 4dp integers, histogram + cum
    // window + ceil-rank thresholds (the q107 arithmetic), assignment
    // by threshold count — all integer once scaled
    "q130_quality_deciles" ->
      s"""WITH $DecileSql
         |SELECT s.doc_id, s.qs,
         |       CAST(1 + sum(CASE WHEN th.t < s.qs THEN 1 ELSE 0 END)
         |         AS BIGINT) AS decile
         |FROM s CROSS JOIN th
         |GROUP BY s.doc_id, s.qs
         |ORDER BY s.doc_id""".stripMargin,

    // fused from the SAME shared chains the per-tier gates use:
    // ShinglesSql's `ws` doubles as the token list, NearDupPairsSql
    // yields the drop set, LangPredSql the predictions; the per-source
    // arithmetic repeats q163/q164/q173/q174/q182 verbatim
    "q188_source_datasheet" -> SourceDatasheetSql,
    // the stored-edges datasheet answers to the same from-scratch
    // oracle — stored ≡ recomputed, driver-enforced
    "q220_source_datasheet_stored" -> SourceDatasheetSql,


    // q47's closure + a source-distinct rollup — the same shared CTEs
    "q184_dup_cluster_sources" -> DupClusterSourcesSql,
    // the stored-component rendering answers to the same from-scratch
    // oracle — stored ≡ recomputed at provenance grain, driver-enforced
    "q229_dup_cluster_sources_stored" -> DupClusterSourcesSql,

    // q130's decile machinery + q42's drop verdicts, one shared
    // definition each (DecileSql / NearDupPairsSql) so this audit can
    // never drift from the tiers it cross-tabulates
    "q177_quality_dup_profile" ->
      s"""WITH ${DedupQueries.ShinglesSql},
         |${DedupQueries.NearDupPairsSql},
         |drops AS (SELECT DISTINCT j AS doc_id FROM pairs),
         |$DecileSql,
         |dec AS (SELECT s.doc_id,
         |          CAST(1 + sum(CASE WHEN th.t < s.qs THEN 1 ELSE 0 END)
         |            AS BIGINT) AS decile
         |        FROM s CROSS JOIN th
         |        GROUP BY s.doc_id, s.qs)
         |SELECT dec.decile, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN drops.doc_id IS NOT NULL
         |                THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
         |       (CAST(sum(CASE WHEN drops.doc_id IS NOT NULL
         |                 THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
         |         // count(*) AS drop_ppm
         |FROM dec LEFT JOIN drops USING (doc_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q39_token_count" ->
      s"""WITH $WsSql,
         |t AS (SELECT ws.doc_id, d.source,
         |             CAST(len(list_filter(w, x -> x != '')) AS BIGINT) AS ws_tokens,
         |             CAST(len(regexp_extract_all(d.text, '[a-z0-9]+|[^a-z0-9 ]')) AS BIGINT) AS re_tokens
         |      FROM ws JOIN documents d ON ws.doc_id = d.doc_id)
         |SELECT source,
         |       count(*) AS n_docs,
         |       CAST(sum(ws_tokens) AS BIGINT) AS total_ws_tokens,
         |       CAST(sum(re_tokens) AS BIGINT) AS total_re_tokens,
         |       round(avg(ws_tokens), 4) AS avg_ws_tokens
         |FROM t
         |GROUP BY source
         |ORDER BY source""".stripMargin,

    // q39's token pair rolled to language grain with the integer ppm
    // ratio — the same WsSql/regex definitions so the two cannot drift
    "q212_fertility" ->
      s"""WITH $WsSql,
         |t AS (SELECT ws.doc_id, d.lang,
         |             CAST(len(list_filter(w, x -> x != '')) AS BIGINT) AS ws_tokens,
         |             CAST(len(regexp_extract_all(d.text, '[a-z0-9]+|[^a-z0-9 ]')) AS BIGINT) AS re_tokens
         |      FROM ws JOIN documents d ON ws.doc_id = d.doc_id),
         |a AS (SELECT lang, count(*) AS n_docs,
         |             CAST(sum(ws_tokens) AS BIGINT) AS ws_tokens,
         |             CAST(sum(re_tokens) AS BIGINT) AS re_tokens
         |      FROM t GROUP BY lang)
         |SELECT lang, n_docs, ws_tokens, re_tokens,
         |       CASE WHEN ws_tokens > 0
         |            THEN re_tokens * 1000000 // ws_tokens END AS fertility_ppm
         |FROM a
         |ORDER BY lang""".stripMargin,

    "q40_doc_fingerprint" ->
      s"""WITH $WsSql,
         |sh5 AS (SELECT DISTINCT doc_id,
         |               concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4]) AS g
         |        FROM ws, UNNEST(generate_series(1, len(w) - 4)) AS t(i)
         |        WHERE len(w) >= 5),
         |h AS (SELECT doc_id,
         |             CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS h
         |      FROM sh5)
         |SELECT doc_id, min(h) AS fp_min, max(h) AS fp_max, count(*) AS n_shingles
         |FROM h
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,

    // BYTE offsets, not char offsets (Spark slices the binary): DuckDB
    // has no BLOB substring and `substring(text,...)::BLOB` both slices
    // by character and errors on non-ASCII — so hex the encoded text
    // once and slice the hex string at 2x the byte positions.
    "q41_blob_meta" ->
      """WITH h AS (SELECT doc_id, text, hex(encode(text)) AS hx FROM documents)
        |SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       md5(text) AS content_md5,
        |       substr(hx, 1, 16) AS head_hex,
        |       substr(hx, 33, 8) || ':' || substr(hx, 65, 8) AS frame_sample
        |FROM h
        |ORDER BY doc_id""".stripMargin,

    "q215_image_decode" -> ImageDecodeSql,
    // lossless containers decode to identical features — the mixed
    // PNG/BMP/GIF corpus answers to the same analytic oracle
    "q221_image_decode_mixed" -> ImageDecodeSql,

    "q222_audio_decode" -> AudioDecodeSql,
    // lossless PCM containers decode to identical features — the mixed
    // WAV/AIFF/AU corpus answers to the same analytic oracle
    "q224_audio_decode_mixed" -> AudioDecodeSql,

    // the analytic twin of decode→resize→encode→decode: target dims
    // W = greatest(1, w0·16 // max(w0,h0)) (pass-through when already
    // within 16 — the CASE arms), source pixel of (x, y) =
    // (x·w0 // W, y·h0 // H), then the q215 pixel formula at the
    // source coordinates; all integer division, so the engine's
    // nearest-neighbor resample must match bit for bit
    "q216_image_resize" ->
      """WITH xs AS (SELECT unnest(generate_series(0, 15)) AS x),
        |     ys AS (SELECT unnest(generate_series(0, 15)) AS y),
        |dims AS (
        |  SELECT doc_id, 16 + (doc_id % 17) AS w0, 16 + (doc_id % 13) AS h0,
        |         greatest(16 + (doc_id % 17), 16 + (doc_id % 13)) AS m
        |  FROM documents),
        |tdims AS (
        |  SELECT doc_id, w0, h0,
        |         CASE WHEN m <= 16 THEN w0 ELSE greatest(1, w0 * 16 // m) END AS w,
        |         CASE WHEN m <= 16 THEN h0 ELSE greatest(1, h0 * 16 // m) END AS h
        |  FROM dims),
        |px AS (
        |  SELECT d.doc_id, d.w AS width, d.h AS height,
        |         ((d.doc_id * 31 + (xs.x * d.w0 // d.w) * 7
        |           + (ys.y * d.h0 // d.h) * 3) % 256) // 16 AS bucket
        |  FROM tdims d, xs, ys
        |  WHERE xs.x < d.w AND ys.y < d.h)
        |SELECT doc_id, width, height, bucket, count(*) AS n_px
        |FROM px
        |GROUP BY doc_id, width, height, bucket
        |ORDER BY doc_id, bucket""".stripMargin,

    "q42_dedup_keep" ->
      s"""WITH ${DedupQueries.ShinglesSql},
         |${DedupQueries.NearDupPairsSql}
         |SELECT j AS drop_id, min(i) AS keep_id, count(*) AS n_pairs
         |FROM pairs
         |GROUP BY j
         |ORDER BY drop_id""".stripMargin,

    "q60_repetition" ->
      """WITH ws AS (SELECT doc_id,
        |              list_filter(string_split_regex(trim(text), '\s+'),
        |                          x -> x != '') AS w
        |            FROM documents),
        |occ AS (
        |  SELECT doc_id, 1 AS n, unnest(w) AS g FROM ws
        |  UNION ALL
        |  SELECT doc_id, 2 AS n, w[i] || ' ' || w[i+1] AS g
        |  FROM ws, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
        |  WHERE len(w) >= 2
        |  UNION ALL
        |  SELECT doc_id, 5 AS n,
        |         concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4]) AS g
        |  FROM ws, UNNEST(generate_series(1, len(w) - 4)) AS t(i)
        |  WHERE len(w) >= 5),
        |cnt AS (SELECT doc_id, n, g, count(*) AS c FROM occ GROUP BY doc_id, n, g),
        |sig AS (SELECT doc_id,
        |          max(CASE WHEN n = 1 THEN c END) AS mx1,
        |          sum(CASE WHEN n = 1 THEN c END) AS tot1,
        |          max(CASE WHEN n = 2 THEN c END) AS mx2,
        |          sum(CASE WHEN n = 2 THEN c END) AS tot2,
        |          sum(CASE WHEN n = 5 THEN c END) AS tot5,
        |          count(CASE WHEN n = 5 THEN 1 END) AS dst5
        |        FROM cnt GROUP BY doc_id)
        |SELECT d.doc_id,
        |       CAST(coalesce(tot1, 0) AS BIGINT) AS n_words,
        |       round(coalesce(CAST(mx1 AS DOUBLE) / tot1, 0), 4) AS top_word_frac,
        |       round(coalesce(CAST(mx2 AS DOUBLE) / tot2, 0), 4) AS top_bigram_frac,
        |       round(coalesce(CAST(tot5 - dst5 AS DOUBLE) / tot5, 0), 4) AS dup_5gram_frac
        |FROM documents d LEFT JOIN sig USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q63_tfidf" ->
      """WITH wsq AS (SELECT doc_id,
        |               list_filter(string_split_regex(trim(text), '\s+'),
        |                           x -> x != '') AS w
        |             FROM documents),
        |words AS (SELECT doc_id, unnest(w) AS word FROM wsq),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM words GROUP BY doc_id, word),
        |dfq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (SELECT tf.doc_id, tf.word, tf.tf, dfq.df,
        |                  round(tf.tf * (n.n_docs + 1.0) / (dfq.df + 1.0), 4) AS score
        |           FROM tf JOIN dfq USING (word) CROSS JOIN n),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |                      ORDER BY score DESC, word) AS rank
        |           FROM scored)
        |SELECT doc_id, word, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        |       score, rank
        |FROM ranked WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,

    "q67_chunk" ->
      """WITH starts AS (
        |  SELECT doc_id, text, unnest(generate_series(1,
        |           greatest(1, len(text) - 50), 150)) AS start
        |  FROM documents)
        |SELECT doc_id,
        |       CAST((start - 1) // 150 AS BIGINT) AS chunk_id,
        |       CAST(start AS BIGINT) AS start,
        |       CAST(least(start + 199, len(text)) AS BIGINT) AS "end",
        |       substr(text, CAST(start AS INTEGER), 200) AS chunk
        |FROM starts
        |ORDER BY doc_id, chunk_id""".stripMargin,

    "q68_boilerplate" ->
      """WITH ws AS (SELECT doc_id,
        |              list_filter(string_split_regex(trim(text), '\s+'),
        |                          x -> x != '') AS w
        |            FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |             concat_ws(' ', w[i], w[i+1], w[i+2]) AS g
        |      FROM ws, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
        |      WHERE len(w) >= 3)
        |SELECT g, count(*) AS n_docs
        |FROM g
        |GROUP BY g
        |HAVING count(*) >= 5
        |ORDER BY n_docs DESC, g""".stripMargin,

    // mirrors the q78 plant + the operator's sequential email → IPv4 →
    // phone contract (each stage counts on the previous stage's output);
    // DuckDB regexp_replace needs the explicit 'g' flag (Spark's is
    // global by default)
    "q78_pii_scrub" ->
      """WITH inj AS (
        |  SELECT doc_id,
        |         text || CASE
        |           WHEN doc_id % 5 = 0 THEN ' mail u' || CAST(doc_id AS VARCHAR) || '@example.com please'
        |           WHEN doc_id % 5 = 1 THEN ' call 555-123-4567 now'
        |           WHEN doc_id % 5 = 2 THEN ' host 10.0.0.' || CAST(doc_id % 256 AS VARCHAR) || ' up'
        |           ELSE '' END AS text
        |  FROM documents),
        |s1 AS (SELECT doc_id,
        |              CAST(len(regexp_extract_all(text,
        |                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |              regexp_replace(text,
        |                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
        |       FROM inj),
        |s2 AS (SELECT doc_id, n_email,
        |              CAST(len(regexp_extract_all(t1,
        |                '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ipv4,
        |              regexp_replace(t1,
        |                '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS t2
        |       FROM s1)
        |SELECT doc_id, n_email, n_ipv4,
        |       CAST(len(regexp_extract_all(t2, '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phone,
        |       n_email + n_ipv4 + CAST(len(regexp_extract_all(t2,
        |         '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_pii,
        |       regexp_replace(t2, '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS text_clean
        |FROM s2
        |ORDER BY doc_id""".stripMargin,

    // mirrors the exact-integer mean: round(quality*10000) recovers an
    // exact BIGINT per doc, summed order-independently, divided once
    "q83_source_gate" ->
      s"""WITH wsq AS (SELECT doc_id, source,
         |                    list_filter(string_split_regex(trim(text), '\\s+'),
         |                                x -> x != '') AS w
         |             FROM documents),
         |q AS (SELECT doc_id, source,
         |             ${qualitySql("len(w)", "len(list_distinct(w))")} AS quality
         |      FROM wsq),
         |prof AS (SELECT source,
         |                count(*) AS src_docs,
         |                count(CAST(round(quality * 10000) AS BIGINT)) AS n_scored,
         |                sum(CAST(round(quality * 10000) AS BIGINT)) AS sum_qt
         |         FROM q GROUP BY source)
         |SELECT q.doc_id, q.source, q.quality, p.src_docs,
         |       round(CASE WHEN p.n_scored > 0
         |                  THEN p.sum_qt / (p.n_scored * 10000.0) END, 4)
         |         AS src_avg_quality,
         |       CAST(CASE WHEN round(CASE WHEN p.n_scored > 0
         |                                 THEN p.sum_qt / (p.n_scored * 10000.0) END, 4)
         |                      >= 0.23
         |                 THEN 1 ELSE 0 END AS BIGINT) AS src_ok
         |FROM q JOIN prof p ON q.source = p.source
         |ORDER BY q.doc_id""".stripMargin,

    "q84_collocations" ->
      """WITH ws AS (SELECT doc_id,
        |              list_filter(string_split_regex(trim(text), '\s+'),
        |                          x -> x != '') AS w
        |            FROM documents),
        |bg AS (SELECT w[i] AS g1, w[i+1] AS g2
        |       FROM ws, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
        |       WHERE len(w) >= 2),
        |pc AS (SELECT g1, g2, count(*) AS c_pair FROM bg
        |       GROUP BY g1, g2 HAVING count(*) >= 20),
        |uc AS (SELECT word, count(*) AS c
        |       FROM (SELECT unnest(w) AS word FROM ws) GROUP BY word),
        |t AS (SELECT count(*) AS t_pairs FROM bg)
        |SELECT pc.g1, pc.g2, pc.c_pair,
        |       a.c AS c1, b.c AS c2,
        |       round((CAST(t.t_pairs AS DOUBLE) * pc.c_pair)
        |             / (CAST(a.c AS DOUBLE) * b.c), 4) AS lift
        |FROM pc JOIN uc a ON pc.g1 = a.word
        |        JOIN uc b ON pc.g2 = b.word
        |        CROSS JOIN t
        |ORDER BY lift DESC, g1, g2""".stripMargin,

    "q85_truncation_audit" ->
      s"""WITH $WsSql,
         |tk AS (SELECT doc_id,
         |              CAST(len(list_filter(w, x -> x != '')) AS BIGINT) AS toks
         |       FROM ws),
         |cells AS (SELECT d.source, tk.toks // 16 AS bucket,
         |                 count(*) AS n_docs,
         |                 CAST(sum(tk.toks) AS BIGINT) AS tokens_total,
         |                 CAST(sum(least(tk.toks, 64)) AS BIGINT) AS tokens_kept
         |          FROM tk JOIN documents d ON tk.doc_id = d.doc_id
         |          GROUP BY d.source, tk.toks // 16)
         |SELECT source, bucket, n_docs, tokens_total, tokens_kept,
         |       tokens_total - tokens_kept AS tokens_lost,
         |       round(CASE WHEN tokens_total > 0
         |                  THEN CAST(tokens_total - tokens_kept AS DOUBLE)
         |                       / tokens_total END, 4) AS loss_frac,
         |       round(CAST(sum(n_docs) OVER (PARTITION BY source ORDER BY bucket)
         |                  AS DOUBLE)
         |             / sum(n_docs) OVER (PARTITION BY source), 4) AS cum_doc_frac
         |FROM cells
         |ORDER BY source, bucket""".stripMargin,

    "q89_vocab_coverage" ->
      s"""WITH $WsSql,
         |freq AS (SELECT word, count(*) AS c
         |         FROM (SELECT unnest(list_filter(w, x -> x != '')) AS word FROM ws)
         |         GROUP BY word),
         |ranked AS (SELECT word, c,
         |             CAST(row_number() OVER (ORDER BY c DESC, word) AS BIGINT) AS rank,
         |             CAST(sum(c) OVER (ORDER BY c DESC, word) AS BIGINT) AS cum
         |           FROM freq),
         |t AS (SELECT CAST(sum(c) AS BIGINT) AS total_tokens FROM freq),
         |sz AS (SELECT unnest([100, 500, 1000, 2000, 5000]) AS vocab_size)
         |SELECT CAST(sz.vocab_size AS BIGINT) AS vocab_size,
         |       max(r.rank) AS n_types,
         |       max(r.cum) AS covered_tokens,
         |       t.total_tokens,
         |       round(CASE WHEN t.total_tokens > 0
         |                  THEN CAST(max(r.cum) AS DOUBLE) / t.total_tokens END, 4)
         |         AS coverage
         |FROM ranked r JOIN sz ON r.rank <= sz.vocab_size
         |CROSS JOIN t
         |GROUP BY sz.vocab_size, t.total_tokens
         |ORDER BY vocab_size""".stripMargin,

    "q180_word_burstiness" ->
      s"""WITH $WsSql,
         |occ AS (SELECT word, doc_id, CAST(count(*) AS BIGINT) AS k
         |        FROM (SELECT doc_id, unnest(w) AS word FROM ws)
         |        GROUP BY 1, 2),
         |st AS (SELECT word, CAST(sum(k) AS BIGINT) AS cf,
         |         CAST(count(*) AS BIGINT) AS df
         |       FROM occ GROUP BY 1),
         |rk AS (SELECT word, cf, df,
         |         CAST(row_number() OVER (ORDER BY cf DESC, word)
         |              AS BIGINT) AS rank
         |       FROM st)
         |SELECT rank, word, cf, df, (cf * 1000) // df AS burst_milli
         |FROM rk WHERE rank <= 100
         |ORDER BY rank""".stripMargin,

    "q175_source_overlap" ->
      s"""WITH $WsSql,
         |tok AS (SELECT source, unnest(w) AS word
         |        FROM ws JOIN documents d USING (doc_id)),
         |ty AS (SELECT DISTINCT source, word FROM tok),
         |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM ty
         |       GROUP BY 1),
         |it AS (SELECT a.source AS s1, b.source AS s2,
         |         CAST(count(*) AS BIGINT) AS inter
         |       FROM ty a JOIN ty b
         |         ON a.word = b.word AND a.source < b.source
         |       GROUP BY 1, 2),
         |grid AS (SELECT a.source AS s1, a.n AS n1, b.source AS s2,
         |           b.n AS n2
         |         FROM sz a CROSS JOIN sz b WHERE a.source < b.source)
         |SELECT g.s1, g.s2, g.n1, g.n2,
         |       coalesce(it.inter, 0) AS inter,
         |       g.n1 + g.n2 - coalesce(it.inter, 0) AS un,
         |       CASE WHEN g.n1 + g.n2 - coalesce(it.inter, 0) > 0
         |            THEN (coalesce(it.inter, 0) * 1000000)
         |                 // (g.n1 + g.n2 - coalesce(it.inter, 0)) END
         |         AS jaccard_ppm
         |FROM grid g LEFT JOIN it ON g.s1 = it.s1 AND g.s2 = it.s2
         |ORDER BY g.s1, g.s2""".stripMargin,

    "q163_lexical_richness" ->
      s"""WITH $WsSql,
         |tok AS (SELECT source, unnest(w) AS word
         |        FROM ws JOIN documents d USING (doc_id)),
         |ty AS (SELECT source, word, CAST(count(*) AS BIGINT) AS c
         |       FROM tok GROUP BY 1, 2),
         |agg AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
         |          CAST(count(*) AS BIGINT) AS n_types,
         |          CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |            AS hapax_types
         |        FROM ty GROUP BY 1),
         |d AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
         |      FROM documents GROUP BY 1)
         |SELECT d.source, d.n_docs,
         |       coalesce(a.n_tokens, 0) AS n_tokens,
         |       coalesce(a.n_types, 0) AS n_types,
         |       coalesce(a.hapax_types, 0) AS hapax_types,
         |       CASE WHEN coalesce(a.n_tokens, 0) > 0
         |            THEN (a.n_types * 1000000) // a.n_tokens END AS ttr_ppm,
         |       CASE WHEN coalesce(a.n_types, 0) > 0
         |            THEN (a.hapax_types * 1000000) // a.n_types END
         |         AS hapax_ppm
         |FROM d LEFT JOIN agg a ON d.source = a.source
         |ORDER BY d.source""".stripMargin,

    "q164_zipf_profile" ->
      s"""WITH $WsSql,
         |tok AS (SELECT source, unnest(w) AS word
         |        FROM ws JOIN documents d USING (doc_id)),
         |ty AS (SELECT source, word, CAST(count(*) AS BIGINT) AS c
         |       FROM tok GROUP BY 1, 2),
         |rk AS (SELECT source, c,
         |         CAST(row_number() OVER (PARTITION BY source
         |           ORDER BY c DESC, word) AS BIGINT) AS rank
         |       FROM ty),
         |agg AS (SELECT source, CAST(count(*) AS BIGINT) AS n_types,
         |          CAST(sum(c) AS BIGINT) AS total_tokens,
         |          CAST(sum(CASE WHEN rank <= 1 THEN c ELSE 0 END)
         |               AS BIGINT) AS top1,
         |          CAST(sum(CASE WHEN rank <= 10 THEN c ELSE 0 END)
         |               AS BIGINT) AS top10,
         |          CAST(sum(CASE WHEN rank <= 100 THEN c ELSE 0 END)
         |               AS BIGINT) AS top100
         |        FROM rk GROUP BY 1)
         |SELECT source, n_types, total_tokens,
         |       (top1 * 1000000) // total_tokens AS top1_ppm,
         |       (top10 * 1000000) // total_tokens AS top10_ppm,
         |       (top100 * 1000000) // total_tokens AS top100_ppm,
         |       ((total_tokens - top100) * 1000000) // total_tokens
         |         AS tail_ppm
         |FROM agg ORDER BY source""".stripMargin,

    // class counts are length-minus-stripped-length; DuckDB's
    // regexp_replace needs the explicit 'g' flag (Spark's is global)
    "q173_char_classes" ->
      """WITH per AS (
        |  SELECT source, CAST(length(text) AS BIGINT) AS n,
        |         CAST(length(text)
        |              - length(regexp_replace(text, '[a-zA-Z]', '', 'g'))
        |              AS BIGINT) AS alpha,
        |         CAST(length(text)
        |              - length(regexp_replace(text, '[0-9]', '', 'g'))
        |              AS BIGINT) AS digit,
        |         CAST(length(text)
        |              - length(regexp_replace(text, '\s', '', 'g'))
        |              AS BIGINT) AS space
        |  FROM documents),
        |agg AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |          CAST(sum(n) AS BIGINT) AS n_chars,
        |          CAST(sum(alpha) AS BIGINT) AS a,
        |          CAST(sum(digit) AS BIGINT) AS d,
        |          CAST(sum(space) AS BIGINT) AS s
        |        FROM per GROUP BY 1)
        |SELECT source, n_docs, n_chars,
        |       CASE WHEN n_chars > 0 THEN (a * 1000000) // n_chars END
        |         AS alpha_ppm,
        |       CASE WHEN n_chars > 0 THEN (d * 1000000) // n_chars END
        |         AS digit_ppm,
        |       CASE WHEN n_chars > 0 THEN (s * 1000000) // n_chars END
        |         AS space_ppm,
        |       CASE WHEN n_chars > 0
        |            THEN ((n_chars - a - d - s) * 1000000) // n_chars END
        |         AS other_ppm
        |FROM agg ORDER BY source""".stripMargin,

    // CDFs are integer cumulative counts over the bucket axis, each
    // scaled to ppm with ONE floor before the subtraction
    "q174_ks_drift" ->
      """WITH b AS (SELECT source, n_chars // 64 AS bucket,
        |             CAST(count(*) AS BIGINT) AS c
        |           FROM documents GROUP BY 1, 2),
        |corpus AS (SELECT bucket, CAST(sum(c) AS BIGINT) AS call FROM b
        |           GROUP BY 1),
        |cc AS (SELECT bucket,
        |         CAST(sum(call) OVER (ORDER BY bucket) AS BIGINT) AS cuma
        |       FROM corpus),
        |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM b
        |       GROUP BY 1),
        |nt AS (SELECT CAST(sum(c) AS BIGINT) AS na FROM b),
        |axis AS (SELECT s.source, k.bucket
        |         FROM (SELECT DISTINCT source FROM b) s
        |         CROSS JOIN (SELECT bucket FROM corpus) k),
        |cums AS (SELECT a.source, a.bucket,
        |           CAST(sum(coalesce(b.c, 0)) OVER (PARTITION BY a.source
        |             ORDER BY a.bucket) AS BIGINT) AS cums
        |         FROM axis a LEFT JOIN b
        |           ON a.source = b.source AND a.bucket = b.bucket),
        |gaps AS (SELECT c.source, c.bucket, ns.ns,
        |           abs((c.cums * 1000000) // ns.ns
        |               - (cc.cuma * 1000000) // nt.na) AS gap
        |         FROM cums c JOIN cc ON c.bucket = cc.bucket
        |                     JOIN ns ON c.source = ns.source
        |                     CROSS JOIN nt)
        |SELECT source, ns AS n_docs, gap AS d_ppm, bucket AS ks_bucket
        |FROM (SELECT source, ns, gap, bucket,
        |        row_number() OVER (PARTITION BY source
        |          ORDER BY gap DESC, bucket) AS rn
        |      FROM gaps)
        |WHERE rn = 1 ORDER BY source""".stripMargin,

    "q94_lm_familiarity" ->
      s"""WITH $WsSql,
         |tok AS (SELECT doc_id, word
         |        FROM (SELECT doc_id, unnest(w) AS word FROM ws)
         |        WHERE word != ''),
         |freq AS (SELECT word, count(*) AS c FROM tok GROUP BY word),
         |vocab AS (SELECT word, c,
         |            CAST(row_number() OVER (ORDER BY c DESC, word) AS BIGINT) AS rank
         |          FROM freq),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS corpus_tokens FROM freq),
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |               CAST(sum(c) AS BIGINT) AS sum_c,
         |               CAST(sum(CASE WHEN rank > 1000 THEN 1 ELSE 0 END) AS BIGINT) AS oov
         |        FROM tok JOIN vocab USING (word) GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
         |       CASE WHEN a.n_tokens > 0 THEN a.sum_c // a.n_tokens END AS mean_tok_count,
         |       CASE WHEN a.n_tokens > 0 THEN (a.oov * 1000000) // a.n_tokens END AS oov_ppm,
         |       t.corpus_tokens
         |FROM documents d LEFT JOIN agg a USING (doc_id) CROSS JOIN tot t
         |ORDER BY d.doc_id""".stripMargin,

    "q95_bm25" -> Bm25Sql,

    // the stored-index path must reproduce the scan path bit-for-bit —
    // same oracle, so the equivalence is hash-gated by the driver
    "q96_bm25_indexed" -> Bm25Sql,

    "q97_term_postings" ->
      s"""WITH $WsSql,
         |tok AS (SELECT doc_id, word
         |        FROM (SELECT doc_id, unnest(w) AS word FROM ws)
         |        WHERE word != '')
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS tf
         |FROM tok WHERE word = 'vector'
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,

    // recomputes the stored corpus index from the below-the-cut slice —
    // the stored ≡ recomputed law on the quality tier
    "q99_lm_familiarity_indexed" ->
      """WITH cut AS (SELECT CAST(floor(0.8 * max(doc_id)) AS BIGINT) AS v
        |             FROM documents),
        |ctok AS (SELECT doc_id, word
        |         FROM (SELECT doc_id,
        |                      unnest(string_split_regex(trim(text), '\s+')) AS word
        |               FROM documents WHERE doc_id < (SELECT v FROM cut))
        |         WHERE word != ''),
        |freq AS (SELECT word, CAST(sum(1) AS BIGINT) AS c FROM ctok GROUP BY word),
        |vocab AS (SELECT word, c,
        |            CAST(row_number() OVER (ORDER BY c DESC, word) AS BIGINT) AS rank
        |          FROM freq),
        |tot AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS corpus_tokens
        |        FROM freq),
        |dtok AS (SELECT doc_id, word
        |         FROM (SELECT doc_id,
        |                      unnest(string_split_regex(trim(text), '\s+')) AS word
        |               FROM documents WHERE doc_id >= (SELECT v FROM cut))
        |         WHERE word != ''),
        |agg AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |               CAST(sum(coalesce(v.c, 0)) AS BIGINT) AS sum_c,
        |               CAST(sum(CASE WHEN v.rank IS NULL OR v.rank > 1000
        |                             THEN 1 ELSE 0 END) AS BIGINT) AS oov
        |        FROM dtok t LEFT JOIN vocab v USING (word) GROUP BY t.doc_id)
        |SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
        |       CASE WHEN a.n_tokens > 0 THEN a.sum_c // a.n_tokens END
        |         AS mean_tok_count,
        |       CASE WHEN a.n_tokens > 0 THEN (a.oov * 1000000) // a.n_tokens END
        |         AS oov_ppm,
        |       t.corpus_tokens
        |FROM documents d LEFT JOIN agg a USING (doc_id) CROSS JOIN tot t
        |WHERE d.doc_id >= (SELECT v FROM cut)
        |ORDER BY d.doc_id""".stripMargin,

    "q100_vocab_drift" ->
      """WITH cut AS (SELECT CAST(floor(0.8 * max(doc_id)) AS BIGINT) AS v
        |             FROM documents),
        |otok AS (SELECT word
        |         FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
        |               FROM documents WHERE doc_id < (SELECT v FROM cut))
        |         WHERE word != ''),
        |ntok AS (SELECT word
        |         FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
        |               FROM documents WHERE doc_id >= (SELECT v FROM cut))
        |         WHERE word != ''),
        |fa AS (SELECT word, CAST(count(*) AS BIGINT) AS c_old FROM otok GROUP BY word),
        |fb AS (SELECT word, CAST(count(*) AS BIGINT) AS c_new FROM ntok GROUP BY word),
        |tot AS (SELECT (SELECT CAST(coalesce(sum(c_old), 0) AS BIGINT) FROM fa) AS t_old,
        |               (SELECT CAST(coalesce(sum(c_new), 0) AS BIGINT) FROM fb) AS t_new),
        |joined AS (SELECT coalesce(a.word, b.word) AS word,
        |                  coalesce(a.c_old, 0) AS c_old,
        |                  coalesce(b.c_new, 0) AS c_new,
        |                  CASE WHEN t.t_old > 0
        |                       THEN (coalesce(a.c_old, 0) * 1000000) // t.t_old END
        |                    AS rate_old_ppm,
        |                  CASE WHEN t.t_new > 0
        |                       THEN (coalesce(b.c_new, 0) * 1000000) // t.t_new END
        |                    AS rate_new_ppm
        |           FROM fa a FULL OUTER JOIN fb b ON a.word = b.word
        |           CROSS JOIN tot t)
        |SELECT word, c_old, c_new, rate_old_ppm, rate_new_ppm,
        |       rate_new_ppm - rate_old_ppm AS delta_ppm,
        |       abs(rate_new_ppm - rate_old_ppm) AS abs_delta_ppm
        |FROM joined
        |ORDER BY abs_delta_ppm DESC, word""".stripMargin,

    "q101_bpe_pairs" ->
      s"""WITH $WsSql,
         |tok AS (SELECT word FROM (SELECT unnest(w) AS word FROM ws)
         |        WHERE word != ''),
         |wf AS (SELECT word, CAST(count(*) AS BIGINT) AS freq
         |       FROM tok GROUP BY word),
         |pr AS (SELECT word, freq,
         |              substr(word, CAST(i AS INTEGER), 1) AS "left",
         |              substr(word, CAST(i AS INTEGER) + 1, 1) AS "right"
         |       FROM (SELECT word, freq,
         |                    unnest(generate_series(1, len(word) - 1)) AS i
         |             FROM wf)),
         |pc AS (SELECT "left", "right", CAST(sum(freq) AS BIGINT) AS pair_count,
         |              CAST(count(DISTINCT word) AS BIGINT) AS n_words
         |       FROM pr GROUP BY 1, 2),
         |rk AS (SELECT CAST(row_number() OVER (ORDER BY pair_count DESC,
         |                "left", "right") AS BIGINT) AS rank,
         |              "left", "right", pair_count, n_words
         |       FROM pc)
         |SELECT rank, "left", "right", pair_count, n_words
         |FROM rk WHERE rank <= 20
         |ORDER BY rank""".stripMargin,

    // the full training-loop replay: each b{k} is iteration k's argmax
    // merge — macro-expanded CTE triples, no recursion needed (plain
    // concatenation, NOT stripMargin: the SQL's own '|' delimiter
    // literals must survive)
    "q223_bpe_train_stored" ->
      (bpeTrainSqlPrefix(BpeMergeCount) + "\n" +
        (1 to BpeMergeCount).map(k =>
            s"SELECT CAST($k AS BIGINT) AS step, l AS left_sym, " +
              s"r AS right_sym, l||r AS merged, " +
              s"CAST(cnt AS BIGINT) AS pair_count FROM b$k")
          .mkString("", "\nUNION ALL\n", "\nORDER BY step")),

    // training replay + application: s{N} holds every word's merged
    // symbol string, so tokens-per-word is one list length, joined to
    // the occurrence explode at language grain
    "q230_bpe_fertility_trained" ->
      (bpeTrainSqlPrefix(BpeMergeCount) + s""",
occ AS (SELECT lang, unnest(list_filter(string_split_regex(trim(text),
          '\\s+'), x -> x <> '')) AS word FROM documents),
v AS (SELECT word, CAST(len(string_split(s[2:-2], '||')) AS BIGINT) AS n_bpe
      FROM s$BpeMergeCount)
SELECT lang, count(*) AS ws_tokens,
       CAST(sum(n_bpe) AS BIGINT) AS bpe_tokens,
       CAST(sum(n_bpe) AS BIGINT) * 1000000 // count(*) AS fertility_ppm
FROM occ JOIN v USING (word)
GROUP BY lang
ORDER BY lang"""))

  /** Rational BM25 in exact BIGINT arithmetic — every constant mirrors
    * `TextIndex` (TfNum/TfDen·, invavg_ppm floored once corpus-wide,
    * per-term ppm floor, un-logged rational idf). DuckDB's `//` is
    * floor division; all operands here are non-negative, so it agrees
    * with Spark's `div` everywhere.
    */
  private val Bm25Sql: String =
    s"""WITH $WsSql,
       |tok AS (SELECT doc_id, word
       |        FROM (SELECT doc_id, unnest(w) AS word FROM ws)
       |        WHERE word != ''),
       |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
       |       FROM tok GROUP BY doc_id),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS d,
       |              (1000000 * CAST(count(*) AS BIGINT))
       |                // CAST(sum(n_tokens) AS BIGINT) AS invavg_ppm
       |       FROM dl),
       |qt AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf FROM tok
       |       WHERE word IN ('vector', 'spark', 'join', 'window')
       |       GROUP BY doc_id, word),
       |dfr AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM qt GROUP BY word),
       |trm AS (SELECT q.doc_id, l.n_tokens,
       |               (22000000000000 * q.tf)
       |                 // (10000000 * q.tf + 3000000
       |                     + 9 * l.n_tokens * s.invavg_ppm) AS tfq_ppm,
       |               f.df, s.d
       |        FROM qt q JOIN dl l USING (doc_id)
       |        JOIN dfr f USING (word) CROSS JOIN st s),
       |sc AS (SELECT doc_id,
       |              CAST(sum((tfq_ppm * (2 * (d - df) + 1))
       |                // (2 * df + 1)) AS BIGINT) AS score_ppm,
       |              CAST(count(*) AS BIGINT) AS n_hit_terms,
       |              max(n_tokens) AS n_tokens
       |       FROM trm GROUP BY doc_id)
       |SELECT CAST(row_number() OVER (ORDER BY score_ppm DESC, doc_id) AS BIGINT)
       |         AS rank,
       |       doc_id, score_ppm, n_hit_terms, n_tokens
       |FROM sc ORDER BY score_ppm DESC, doc_id LIMIT 20""".stripMargin

  /** q184/q229 rollup over a (node, component) assignment: per
    * (cluster_size, distinct sources) cell, cluster count. ONE
    * definition for the inline and stored-component renderings.
    */
  private def dupClusterSourcesOf(
      docs: org.apache.spark.sql.DataFrame,
      comp: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    comp.join(docs.select(col("doc_id").as("node"), col("source")),
        Seq("node"))
      .groupBy("component")
      .agg(count(lit(1)).as("cluster_size"),
        countDistinct(col("source")).as("n_sources"))
      .groupBy("cluster_size", "n_sources")
      .agg(count(lit(1)).as("n_clusters"))
      .orderBy("cluster_size", "n_sources")

  /** q184/q229: the canonical chain + recursive closure at provenance
    * grain — ONE oracle rendering for the inline and stored gates.
    */
  private lazy val DupClusterSourcesSql: String =
    s"""WITH RECURSIVE ${DedupQueries.ShinglesSql},
       |${DedupQueries.NearDupPairsSql},
       |${DedupQueries.closureSql("pairs")},
       |cs AS (SELECT c.component,
       |         CAST(count(*) AS BIGINT) AS cluster_size,
       |         CAST(count(DISTINCT d.source) AS BIGINT) AS n_sources
       |       FROM comp c JOIN documents d ON c.node = d.doc_id
       |       GROUP BY 1)
       |SELECT cluster_size, n_sources,
       |       CAST(count(*) AS BIGINT) AS n_clusters
       |FROM cs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q215/q221: the analytic twin of the engine's encode→decode round
    * trip — pixel (x, y) of doc d is ((d·31 + x·7 + y·3) mod 256) gray
    * at width 16 + d mod 17, height 16 + d mod 13
    * (Multimodal.synthPixel / synthDims verbatim); luminance of a gray
    * sample is the sample, so the bucket histogram is a pure GROUP BY
    * over the formula. Container-blind: every lossless codec must
    * reproduce these features exactly.
    */
  private lazy val ImageDecodeSql: String =
    """WITH xs AS (SELECT unnest(generate_series(0, 31)) AS x),
      |     ys AS (SELECT unnest(generate_series(0, 27)) AS y),
      |px AS (
      |  SELECT d.doc_id,
      |         16 + (d.doc_id % 17) AS width,
      |         16 + (d.doc_id % 13) AS height,
      |         ((d.doc_id * 31 + xs.x * 7 + ys.y * 3) % 256) // 16 AS bucket
      |  FROM documents d, xs, ys
      |  WHERE xs.x < 16 + (d.doc_id % 17)
      |    AND ys.y < 16 + (d.doc_id % 13))
      |SELECT doc_id, width, height, bucket, count(*) AS n_px
      |FROM px
      |GROUP BY doc_id, width, height, bucket
      |ORDER BY doc_id, bucket""".stripMargin

  /** q222/q224: the analytic twin of the engine's PCM encode→decode
    * round trip — frame i of doc d is the signed sample
    * ((d·31 + i·4099) mod 65536) − 32768 over 256 + d mod 241 frames at
    * 8 kHz (Multimodal.synthAudioSample / synthAudioLen verbatim); the
    * amplitude bucket (s + 32768) >> 12 is then
    * ((d·31 + i·4099) mod 65536) // 4096 — pure integer GROUP BY.
    * Container-blind: every lossless PCM codec (WAV, AIFF, AU) must
    * reproduce these features exactly.
    */
  private lazy val AudioDecodeSql: String =
    """WITH idx AS (SELECT unnest(generate_series(0, 495)) AS i),
      |s AS (
      |  SELECT d.doc_id,
      |         256 + (d.doc_id % 241) AS n_samples,
      |         ((d.doc_id * 31 + idx.i * 4099) % 65536) // 4096 AS bucket
      |  FROM documents d, idx
      |  WHERE idx.i < 256 + (d.doc_id % 241))
      |SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate, n_samples,
      |       bucket, count(*) AS n
      |FROM s
      |GROUP BY doc_id, n_samples, bucket
      |ORDER BY doc_id, bucket""".stripMargin

  /** q188/q220: the fused per-source datasheet from scratch —
    * one oracle rendering for the inline and stored-edges gates.
    */
  private lazy val SourceDatasheetSql: String =
    s"""WITH ${DedupQueries.ShinglesSql},
         |${DedupQueries.NearDupPairsSql},
         |$LangPredSql,
         |dtok AS (SELECT source, unnest(w) AS word
         |         FROM ws JOIN documents d USING (doc_id)),
         |dty AS (SELECT source, word, CAST(count(*) AS BIGINT) AS c
         |        FROM dtok GROUP BY 1, 2),
         |rich AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
         |           CAST(count(*) AS BIGINT) AS n_types,
         |           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |             AS hapax
         |         FROM dty GROUP BY 1),
         |nd AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
         |       FROM documents GROUP BY 1),
         |zrk AS (SELECT source, c,
         |          CAST(row_number() OVER (PARTITION BY source
         |            ORDER BY c DESC, word) AS BIGINT) AS rank
         |        FROM dty),
         |zp AS (SELECT source, CAST(sum(c) AS BIGINT) AS total_tokens,
         |         CAST(sum(CASE WHEN rank <= 10 THEN c ELSE 0 END)
         |              AS BIGINT) AS top10
         |       FROM zrk GROUP BY 1),
         |kcls AS (SELECT source, CAST(length(text) AS BIGINT) AS n,
         |           CAST(length(text) - length(regexp_replace(text,
         |                '[a-zA-Z]', '', 'g')) AS BIGINT) AS al,
         |           CAST(length(text) - length(regexp_replace(text,
         |                '[0-9]', '', 'g')) AS BIGINT) AS dg,
         |           CAST(length(text) - length(regexp_replace(text,
         |                '\\s', '', 'g')) AS BIGINT) AS sp
         |         FROM documents),
         |cagg AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_chars,
         |           CAST(sum(al) AS BIGINT) AS a,
         |           CAST(sum(dg) AS BIGINT) AS dgt,
         |           CAST(sum(sp) AS BIGINT) AS s
         |         FROM kcls GROUP BY 1),
         |kb AS (SELECT source, n_chars // 64 AS bucket,
         |         CAST(count(*) AS BIGINT) AS c
         |       FROM documents GROUP BY 1, 2),
         |kcorp AS (SELECT bucket, CAST(sum(c) AS BIGINT) AS call
         |          FROM kb GROUP BY 1),
         |kcc AS (SELECT bucket,
         |          CAST(sum(call) OVER (ORDER BY bucket) AS BIGINT) AS cuma
         |        FROM kcorp),
         |kns AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM kb
         |        GROUP BY 1),
         |knt AS (SELECT CAST(sum(c) AS BIGINT) AS na FROM kb),
         |kax AS (SELECT s.source, k.bucket
         |        FROM (SELECT DISTINCT source FROM kb) s
         |        CROSS JOIN (SELECT bucket FROM kcorp) k),
         |kcum AS (SELECT a.source, a.bucket,
         |           CAST(sum(coalesce(kb.c, 0)) OVER (PARTITION BY a.source
         |             ORDER BY a.bucket) AS BIGINT) AS cums
         |         FROM kax a LEFT JOIN kb
         |           ON a.source = kb.source AND a.bucket = kb.bucket),
         |kgap AS (SELECT c.source,
         |           abs((c.cums * 1000000) // kns.ns
         |               - (kcc.cuma * 1000000) // knt.na) AS gap
         |         FROM kcum c JOIN kcc ON c.bucket = kcc.bucket
         |                     JOIN kns ON c.source = kns.source
         |                     CROSS JOIN knt),
         |kks AS (SELECT source, max(gap) AS ks_ppm FROM kgap GROUP BY 1),
         |pur AS (SELECT d.source,
         |          CAST(sum(CASE WHEN coalesce(p.plang, 'unknown') = d.lang
         |                   THEN 1 ELSE 0 END) AS BIGINT) AS n_match
         |        FROM documents d LEFT JOIN pred p ON d.doc_id = p.doc_id
         |        GROUP BY 1),
         |drops AS (SELECT DISTINCT j AS doc_id FROM pairs),
         |dsrc AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_dropped
         |         FROM documents d JOIN drops ON d.doc_id = drops.doc_id
         |         GROUP BY 1)
         |SELECT nd.source, nd.n_docs,
         |       coalesce(rich.n_tokens, 0) AS n_tokens,
         |       CASE WHEN coalesce(rich.n_tokens, 0) > 0
         |            THEN (rich.n_types * 1000000) // rich.n_tokens END
         |         AS ttr_ppm,
         |       CASE WHEN coalesce(rich.n_types, 0) > 0
         |            THEN (rich.hapax * 1000000) // rich.n_types END
         |         AS hapax_ppm,
         |       (zp.top10 * 1000000) // zp.total_tokens AS top10_ppm,
         |       CASE WHEN cagg.n_chars > 0
         |            THEN (cagg.a * 1000000) // cagg.n_chars END
         |         AS alpha_ppm,
         |       CASE WHEN cagg.n_chars > 0
         |            THEN ((cagg.n_chars - cagg.a - cagg.dgt - cagg.s)
         |                  * 1000000) // cagg.n_chars END AS other_ppm,
         |       kks.ks_ppm,
         |       (coalesce(pur.n_match, 0) * 1000000) // nd.n_docs
         |         AS lang_match_ppm,
         |       (coalesce(dsrc.n_dropped, 0) * 1000000) // nd.n_docs
         |         AS dup_drop_ppm
         |FROM nd LEFT JOIN rich ON nd.source = rich.source
         |        LEFT JOIN zp ON nd.source = zp.source
         |        LEFT JOIN cagg ON nd.source = cagg.source
         |        LEFT JOIN kks ON nd.source = kks.source
         |        LEFT JOIN pur ON nd.source = pur.source
         |        LEFT JOIN dsrc ON nd.source = dsrc.source
         |ORDER BY nd.source""".stripMargin

}
