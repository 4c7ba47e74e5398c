package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis tier for training-data pipelines: language ID, quality
  * scoring, token counting, document fingerprinting. The reference's own
  * word count is the seed of this category (text → per-key statistics);
  * these operators are the corpus-scale versions a 100 TB pipeline runs
  * before/alongside dedup.
  *
  * Scale posture: every operator is a linear scan plus bounded shuffles —
  * token/trigram explodes are proportional to corpus bytes, profiles are
  * bounded (languages × k) so the classify join broadcasts, and argmax
  * uses one window shuffle on doc_id. No collects, no quadratic joins.
  */
object TextAnalysis {

  /** Whitespace word array (trim + split + drop empties) — the
    * reference's tokenizer with the SURVEY §2.2 Q1 fix. Shared with the
    * inverted-index tier ([[TextIndex]]) so the index's tokenization
    * cannot drift from the scan-side analyzers'.
    */
  private[operators] val WordsExpr =
    "filter(split(trim(text), '\\\\s+'), x -> x != '')"

  /** Character trigrams per doc: (doc_id, lang, g). Docs shorter than 3
    * chars yield no rows (guarded: Spark's `sequence(1, n)` counts DOWN
    * when n < 1, unlike DuckDB's empty `generate_series`).
    */
  def charTrigrams(docs: DataFrame): DataFrame =
    Spread(docs).select(col("doc_id"), col("lang"),
      explode(expr(
        "transform(if(length(text) >= 3, sequence(1, length(text) - 2), " +
          "array()), i -> substring(text, i, 3))")).as("g"))

  /** N-gram-profile language ID (Cavnar & Trenkle '94 shape, trained on
    * the labeled corpus): profile = top-`k` char trigrams per language
    * by frequency; a doc's predicted language is the profile sharing the
    * most of its distinct trigrams (ties → language asc, docs matching
    * no profile → "unknown"). Output: (doc_id, lang, pred_lang, score).
    */
  def languageId(docs: DataFrame, k: Int = 200): DataFrame = {
    // The trigram explode feeds two branches with DIFFERENT shuffle keys
    // (profiles: (lang, g); per-doc distinct: (doc_id, g)), so the scan
    // genuinely runs twice — and every sharing variant measured SLOWER
    // at sf0.1: an unmaterialized shared (doc_id, lang, g) parent agg
    // (round 2: Catalyst collapses the agg levels per branch, explode
    // still runs twice plus an agg pass), a localCheckpoint of the raw
    // explode (4.54s → 4.84s: ~1000 rows/doc to materialize), and a
    // checkpointed per-doc aggregation feeding both branches (4.65s →
    // 5.88s: it introduces a full 3-key shuffle where the profile
    // branch previously map-side-combined to ~langs × trigrams before
    // its exchange). The double linear scan IS the cheap shape; at
    // 100 TB the profile side trains on a bounded labeled sample, not
    // the full corpus.
    val tri = charTrigrams(docs)
    val topK = Window.partitionBy("lang").orderBy(col("c").desc, col("g"))
    val profiles = tri.groupBy("lang", "g").agg(count(lit(1)).as("c"))
      .withColumn("rk", row_number().over(topK)).filter(col("rk") <= k)
      .select(col("lang").as("plang"), col("g"))
    val docTri = tri.select("doc_id", "g").distinct()
    // profiles are bounded (langs × k) — AQE broadcasts this join
    val scores = docTri.join(profiles, "g")
      .groupBy("doc_id", "plang").agg(count(lit(1)).as("score"))
    val best = Window.partitionBy("doc_id").orderBy(col("score").desc, col("plang"))
    val pred = scores.withColumn("rk", row_number().over(best))
      .filter(col("rk") === 1).select("doc_id", "plang", "score")
    docs.select("doc_id", "lang").join(pred, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("plang"), lit("unknown")).as("pred_lang"),
        coalesce(col("score"), lit(0L)).as("score"))
  }

  /** Words counted as stopwords by [[qualityScores]] (a fixed bounded
    * set, folded into the plan as a literal — no dictionary join).
    */
  private val Stopwords =
    Seq("the", "a", "an", "of", "to", "and", "in", "is", "it", "that")

  /** Per-doc quality signals: char/word/distinct-word counts, type-token
    * ratio, mean word length, punctuation ratio (chars outside
    * `[a-z0-9 ]`), stopword ratio, and a composite score = min(1,
    * words/100) × TTR (longer docs with diverse vocabulary score
    * higher). One scan, no shuffle — every measure folds over the doc's
    * own text/word array. The `carry` columns of `docs` ride along after
    * doc_id.
    */
  def qualityScores(docs: DataFrame, carry: String*): DataFrame = {
    val stopList = Stopwords.map(w => s"'$w'").mkString(", ")
    val keys = ("doc_id" +: carry).map(col)
    docs.select(keys ++ Seq(
        length(col("text")).cast("long").as("n_chars"),
        length(regexp_replace(col("text"), "[a-z0-9 ]", "")).cast("long")
          .as("n_punct"),
        expr(WordsExpr).as("w")): _*)
      .select(keys ++ Seq(col("n_chars"), col("n_punct"),
        size(col("w")).cast("long").as("n_words"),
        size(array_distinct(col("w"))).cast("long").as("n_distinct"),
        expr(s"size(filter(w, x -> x IN ($stopList)))").cast("long").as("n_stop"),
        col("w")): _*)
      .select(keys ++ Seq(col("n_chars"), col("n_words"), col("n_distinct"),
        // empty/whitespace-only docs have 0 words (and possibly 0 chars):
        // the guards yield NULL ratios — matching DuckDB's x/0 = NULL and
        // the NULL-quality arm Curation's gate documents — instead of
        // tripping ANSI-mode DIVIDE_BY_ZERO and aborting the corpus scan
        round(when(col("n_words") > 0,
          col("n_distinct").cast("double") / col("n_words")), 4).as("ttr"),
        round(when(col("n_words") > 0,
          expr("aggregate(w, 0L, (acc, x) -> acc + length(x))").cast("double")
            / col("n_words")), 4).as("mean_wlen"),
        round(when(col("n_chars") > 0,
          col("n_punct").cast("double") / col("n_chars")), 4).as("punct_ratio"),
        round(when(col("n_words") > 0,
          col("n_stop").cast("double") / col("n_words")), 4).as("stop_ratio"),
        round(when(col("n_words") > 0,
          least(lit(1.0), col("n_words").cast("double") / 100.0)
            * (col("n_distinct").cast("double") / col("n_words"))), 4).as("quality")): _*)
  }

  /** Flesch-Kincaid readability per document, exact-integer: whitespace
    * words, sentence count as `[.!?]+` runs floored at 1 (a fragment
    * still reads as one sentence — on THIS corpus' punctuation-free
    * synthetic text every doc hits the floor, exercising the degenerate
    * arm by design), and syllables as lowercase `[aeiouy]+` vowel
    * groups (the standard cheap heuristic; vowel-less tokens contribute
    * 0, documented). The grade 0.39·W/S + 11.8·Y/W − 15.59 becomes the
    * cross-multiplied rational num = 39W² + 1180YS − 1559SW over
    * den = S·W at centi-grade scale, emitted as sign + abs-then-floor
    * centi (negatives floor differently per engine — the q152 pattern).
    * One linear scan, no joins.
    */
  def readability(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        size(expr(WordsExpr)).cast("long").as("n_words"),
        greatest(lit(1L),
          expr("regexp_count(text, '[.!?]+')").cast("long"))
          .as("n_sentences"),
        expr("regexp_count(lower(text), '[aeiouy]+')").cast("long")
          .as("n_syllables"))
      .withColumn("num",
        lit(39L) * col("n_words") * col("n_words")
          + lit(1180L) * col("n_syllables") * col("n_sentences")
          - lit(1559L) * col("n_sentences") * col("n_words"))
      .select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_syllables"),
        signum(col("num")).cast("bigint").as("fk_sign"),
        when(col("n_words") > 0,
          expr("abs(num) div (n_sentences * n_words)")).as("fk_abs_centi"))

  /** Per-doc token counts: whitespace words and a BPE-ish segmentation
    * (maximal alnum runs + single non-alnum marks) — the cheap proxy for
    * "how many tokens will the tokenizer bill for this doc".
    */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      expr(s"size($WordsExpr)").cast("long").as("ws_tokens"),
      expr("size(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9 ]', 0))").cast("long")
        .as("re_tokens"))

  /** Word n-gram list as a SQL expr over the word array `w` — guarded
    * against Spark's descending `sequence(1, n<1)` (see [[charTrigrams]]).
    */
  private def gramList(n: Int): String =
    if (n == 1) "w"
    else s"if(size(w) >= $n, transform(sequence(1, size(w) - ${n - 1}), " +
      s"i -> concat_ws(' ', slice(w, i, $n))), array())"

  /** Per-doc repetition signals (the Gopher/MassiveText repetition
    * filters, adapted to the corpus' single-line docs): fraction of word
    * occurrences taken by the most frequent word, same for word bigrams,
    * and the fraction of word 5-gram occurrences that are duplicates of
    * an earlier one. High values mark boilerplate/looping text that a
    * training pipeline drops before tokenization. Docs with fewer than
    * n words score 0 for that signal.
    *
    * Scale posture: one explode (≈3 gram rows per word) feeding a
    * count agg keyed (doc_id, n, g) — partial aggregation combines
    * map-side, so the shuffle carries per-doc distinct grams, not
    * occurrences — then a per-doc fold. Linear in corpus bytes, no
    * joins wider than the final broadcast-size left join back to docs.
    */
  def repetitionSignals(docs: DataFrame): DataFrame = {
    val occ = Spread(docs).select(col("doc_id"), expr(WordsExpr).as("w"))
      .select(col("doc_id"), explode(expr(
        s"""flatten(array(
           |  transform(${gramList(1)}, g -> struct(1L as n, g as g)),
           |  transform(${gramList(2)}, g -> struct(2L as n, g as g)),
           |  transform(${gramList(5)}, g -> struct(5L as n, g as g))))"""
          .stripMargin)).as("t"))
      .select(col("doc_id"), col("t.n").as("n"), col("t.g").as("g"))
    val counts = occ.groupBy("doc_id", "n", "g").agg(count(lit(1)).as("c"))
    val sig = counts.groupBy("doc_id").agg(
      max(when(col("n") === 1, col("c"))).as("mx1"),
      sum(when(col("n") === 1, col("c"))).as("tot1"),
      max(when(col("n") === 2, col("c"))).as("mx2"),
      sum(when(col("n") === 2, col("c"))).as("tot2"),
      sum(when(col("n") === 5, col("c"))).as("tot5"),
      count(when(col("n") === 5, lit(1))).as("dst5"))
    docs.select("doc_id").join(sig, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("tot1"), lit(0L)).as("n_words"),
        round(coalesce(col("mx1").cast("double") / col("tot1"), lit(0.0)), 4)
          .as("top_word_frac"),
        round(coalesce(col("mx2").cast("double") / col("tot2"), lit(0.0)), 4)
          .as("top_bigram_frac"),
        round(coalesce((col("tot5") - col("dst5")).cast("double") / col("tot5"),
          lit(0.0)), 4).as("dup_5gram_frac"))
  }

  /** Top-`k` characteristic terms per document by tf·idf, with
    * idf = (n_docs + 1)/(df + 1) — the RATIONAL smoothed inverse document
    * frequency, deliberately un-logged: rational arithmetic over exact
    * integer counts is bit-identical across engines, where libm `ln`
    * differs in final ulps and would poison the hash gate. The trade is
    * documented, not hidden: rarity weighs more aggressively than with
    * log damping (callers wanting classic scores can `ln()` the ratio —
    * per-term order within a fixed tf is unchanged since log is
    * monotone). Ranking ties break by term asc; ranking compares the
    * ROUNDED score (4 dp), so order is engine-reproducible too.
    *
    * Scale posture: one word explode, a (doc, word) count, a vocab-sized
    * document-frequency agg (AQE broadcasts the df side when the vocab
    * is small; a natural-language vocab is bounded ≪ corpus), and one
    * per-doc rank window — all linear, hot stopword keys ride the AQE
    * skew-join split.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    val words = docs.select(col("doc_id"), explode(expr(WordsExpr)).as("word"))
    val tf = words.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val n = docs.select(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "word")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("word"), col("tf"), col("df"),
        round(col("tf") * (col("n_docs") + 1.0) / (col("df") + 1.0), 4).as("score"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("word"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("doc_id", "word", "tf", "df", "score", "rank")
  }

  /** Fixed-size overlapping character chunks — the context-window prep
    * step (RAG indexing, long-doc splitting) between curation and
    * embedding. Chunks start every `size - overlap` characters; the last
    * chunk may be short; a doc shorter than `size` (including empty)
    * yields exactly one chunk. Offsets are 1-based character positions,
    * chunk_id counts from 0 — both part of the output contract so
    * re-chunking is reproducible anywhere. One narrow explode, no
    * shuffle; chunk volume = corpus bytes × size/(size−overlap).
    */
  def chunk(docs: DataFrame, size: Int = 200, overlap: Int = 50): DataFrame = {
    require(size > 0 && overlap >= 0 && overlap < size,
      s"need 0 <= overlap < size, got size=$size overlap=$overlap")
    val stride = size - overlap
    docs.select(col("doc_id"), col("text"),
        explode(expr(
          s"sequence(1, greatest(1, length(text) - $overlap), $stride)"))
          .as("start"))
      .select(col("doc_id"),
        expr(s"cast((start - 1) div $stride as bigint)").as("chunk_id"),
        col("start").cast("long").as("start"),
        least(col("start") + (size - 1), length(col("text"))).cast("long").as("end"),
        expr(s"substring(text, start, $size)").as("chunk"))
  }

  /** Corpus-boilerplate n-grams: word `n`-grams appearing in at least
    * `minDocs` DISTINCT documents — the C4-style blocklist builder
    * (discover the repeated boilerplate first, then strip or down-weight
    * docs containing it). Per-doc-distinct explode into a map-side-
    * combined count keyed by the gram; output is the bounded blocklist,
    * not per-doc rows. Raw gram STRINGS are kept (unlike the dedup
    * tier's 60-bit hashes) because the blocklist's consumer needs the
    * text to match against — the having-filter bounds what survives.
    */
  def boilerplateGrams(docs: DataFrame, n: Int = 3, minDocs: Int = 5): DataFrame = {
    require(n >= 1 && minDocs >= 1, s"need n >= 1, minDocs >= 1")
    docs.select(col("doc_id"), expr(WordsExpr).as("w"))
      .select(col("doc_id"), explode(expr(gramList(n))).as("g"))
      .distinct()
      .groupBy("g").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
  }

  /** PII scrub: redact emails, IPv4 addresses, and NANP-style phone
    * numbers, reporting per-doc counts alongside the cleaned text — the
    * redaction pass a corpus runs before any text ships to training.
    * Every doc gets a row (zero-hit docs included) so the scrub is a
    * total audit.
    *
    * The three patterns apply SEQUENTIALLY (email → IPv4 → phone), each
    * counting on the text as already redacted by the previous stage —
    * one unambiguous contract both engines reproduce exactly (an IPv4
    * inside an email's domain counts once, as the email). Patterns are
    * deliberately lookaround-free so Java regex (Spark) and RE2 (DuckDB)
    * agree; `\b` over ASCII text is identical in both.
    *
    * Scale shape: a pure per-row projection — no shuffle, no explode,
    * stays inside whole-stage codegen; at 100 TB it fuses into whatever
    * scan feeds it.
    */
  def piiScrub(docs: DataFrame): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipv4  = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val phone = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
    def hits(c: Column, pat: String): Column =
      size(regexp_extract_all(c, lit(pat), lit(0))).cast("long")
    docs
      .withColumn("n_email", hits(col("text"), email))
      .withColumn("_t1", regexp_replace(col("text"), email, "<EMAIL>"))
      .withColumn("n_ipv4", hits(col("_t1"), ipv4))
      .withColumn("_t2", regexp_replace(col("_t1"), ipv4, "<IP>"))
      .withColumn("n_phone", hits(col("_t2"), phone))
      .select(col("doc_id"),
        col("n_email"), col("n_ipv4"), col("n_phone"),
        (col("n_email") + col("n_ipv4") + col("n_phone")).as("n_pii"),
        regexp_replace(col("_t2"), phone, "<PHONE>").as("text_clean"))
  }

  /** Source-level quality gate — the two-level curation pass: profile
    * each source (doc count, mean quality), then every document inherits
    * its source's verdict. A 100 TB web pipeline prunes whole low-quality
    * domains this way before spending per-doc work on their contents.
    *
    * The mean is computed in EXACT integer arithmetic: per-doc quality is
    * already rounded to 4 dp, so `round(quality * 10000)` recovers an
    * exact integer that sums order-independently (a raw double `avg()`
    * would be partial-aggregation-order-dependent and poison the
    * cross-engine hash gate); one double division at the end. Docs with
    * NULL quality (empty text) count toward `src_docs` but not the mean.
    *
    * Scale posture: one linear quality scan, a per-source partial agg
    * (profile is bounded by the source count, ≪ corpus), and a broadcast
    * join back — no wide shuffle of document rows.
    */
  def sourceQualityGate(docs: DataFrame, minAvgQuality: Double = 0.23): DataFrame = {
    val q = qualityScores(docs).select("doc_id", "quality")
      .join(docs.select("doc_id", "source"), "doc_id")
    val prof = q
      .select(col("source"),
        when(col("quality").isNotNull,
          round(col("quality") * 10000).cast("long")).as("qt"))
      .groupBy("source")
      .agg(count(lit(1)).as("src_docs"), count(col("qt")).as("n_scored"),
        sum("qt").as("sum_qt"))
      .select(col("source"), col("src_docs"),
        round(when(col("n_scored") > 0,
          col("sum_qt") / (col("n_scored") * 10000.0)), 4).as("src_avg_quality"))
    q.join(broadcast(prof), "source")
      .select(col("doc_id"), col("source"), col("quality"),
        col("src_docs"), col("src_avg_quality"),
        when(col("src_avg_quality") >= minAvgQuality, lit(1L)).otherwise(lit(0L))
          .as("src_ok"))
  }

  /** Corpus collocations: adjacent word pairs occurring at least
    * `minCount` times, scored by lift = (T · c(xy)) / (c(x) · c(y)) with
    * unigram occurrence counts c and T = total bigram occurrences — the
    * un-logged PMI estimate (log is monotone, so ranking is unchanged;
    * rational arithmetic over exact integer counts keeps the score
    * bit-identical across engines, the q63 tf·idf trade). High-lift
    * pairs are the multi-word expressions a tokenizer or phrase-mining
    * pass should treat as units.
    *
    * Scale posture: one bigram explode into a map-side-combined count
    * keyed by the pair, a vocab-bounded unigram agg (AQE broadcasts it
    * into the scoring join), and a 1-row broadcast total. Output is
    * bounded by the `minCount` floor, not corpus size.
    */
  def collocations(docs: DataFrame, minCount: Long = 20): DataFrame = {
    val w = docs.select(expr(WordsExpr).as("w"))
    val bg = w.select(explode(expr(
      "if(size(w) >= 2, transform(sequence(1, size(w) - 1), " +
        "i -> struct(element_at(w, i) as g1, element_at(w, i + 1) as g2)), " +
        "array())")).as("p"))
      .select(col("p.g1").as("g1"), col("p.g2").as("g2"))
    val pairCnt = bg.groupBy("g1", "g2").agg(count(lit(1)).as("c_pair"))
      .filter(col("c_pair") >= minCount)
    val uni = w.select(explode(col("w")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("c"))
    val total = bg.select(count(lit(1)).as("t_pairs"))
    pairCnt
      .join(uni.select(col("word").as("g1"), col("c").as("c1")), "g1")
      .join(uni.select(col("word").as("g2"), col("c").as("c2")), "g2")
      .crossJoin(broadcast(total))
      .select(col("g1"), col("g2"), col("c_pair"), col("c1"), col("c2"),
        round(col("t_pairs").cast("double") * col("c_pair")
          / (col("c1").cast("double") * col("c2")), 4).as("lift"))
  }

  /** Sequence-length histogram + truncation-loss audit: bucket documents
    * by whitespace-token count (`bucketWidth` tokens per bucket), and for
    * a training cut at `maxLen` tokens report how many tokens each
    * (source, bucket) cell keeps vs loses, plus the running share of the
    * source's docs at-or-below the bucket — the numbers that pick a
    * context length / packing plan before a tokenization run is paid for.
    * All sums are exact integers; the two ratios divide once at the end.
    *
    * Scale posture: one linear token-count scan into a (source, bucket)
    * partial agg — cells are bounded (sources × buckets), so the
    * cumulative window shuffles a profile-sized frame, not the corpus.
    */
  def truncationAudit(docs: DataFrame, maxLen: Int = 64,
      bucketWidth: Int = 16): DataFrame = {
    require(maxLen > 0 && bucketWidth > 0,
      s"need maxLen > 0, bucketWidth > 0, got $maxLen/$bucketWidth")
    val t = docs.select(col("source"),
      expr(s"cast(size($WordsExpr) as bigint)").as("toks"))
    val cells = t
      .select(col("source"), col("toks"),
        expr(s"toks div $bucketWidth").as("bucket"))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("tokens_total"),
        sum(least(col("toks"), lit(maxLen.toLong))).as("tokens_kept"))
    val bySrc = Window.partitionBy("source")
    val cum = Window.partitionBy("source").orderBy("bucket")
    cells.select(col("source"), col("bucket"), col("n_docs"),
      col("tokens_total"), col("tokens_kept"),
      (col("tokens_total") - col("tokens_kept")).as("tokens_lost"),
      round(when(col("tokens_total") > 0,
        (col("tokens_total") - col("tokens_kept")).cast("double")
          / col("tokens_total")), 4).as("loss_frac"),
      round(sum(col("n_docs")).over(cum).cast("double")
        / sum(col("n_docs")).over(bySrc), 4).as("cum_doc_frac"))
  }

  /** Vocabulary-coverage curve: for each candidate vocab size, the
    * fraction of corpus token OCCURRENCES covered by the top-`size` word
    * types (frequency desc, ties word asc) — the numbers that size a
    * tokenizer vocabulary before the expensive BPE train. All counts are
    * exact longs; the one division happens per output row.
    *
    * Scale posture: one word explode into a map-side-combined frequency
    * agg; only ranks ≤ max(sizes) are ever consumed, so the vocab is
    * pre-truncated to the top max(sizes) types via `orderBy.limit`
    * (TakeOrderedAndProject — per-partition partial top-k, no global
    * sort) and the rank/running-sum window runs over the ≤ max(sizes)
    * survivor frame, bounded by the PARAMETER. At web scale the type
    * vocabulary is 10⁸–10⁹ rows (hapax-heavy); ranking it in one task
    * was r13's `weak` finding — the total-token denominator comes from
    * a separate 1-row agg, so truncation changes no output value.
    */
  def vocabCoverage(docs: DataFrame,
      sizes: Seq[Long] = Seq(100L, 500L, 1000L, 2000L, 5000L)): DataFrame = {
    require(sizes.nonEmpty && sizes.forall(_ >= 1), s"sizes must be >= 1: $sizes")
    val maxSize = sizes.max
    require(maxSize <= Int.MaxValue, s"max size must fit an Int: $maxSize")
    val freq = docs.select(explode(expr(WordsExpr)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("c"))
    // (c desc, word) is a TOTAL order, so the top-maxSize cut is
    // deterministic; the global window then ranks only the survivors
    val top = freq.orderBy(col("c").desc, col("word")).limit(maxSize.toInt)
    val rk = Window.orderBy(col("c").desc, col("word"))
    val ranked = top
      .withColumn("rank", row_number().over(rk).cast("long"))
      .withColumn("cum", sum(col("c")).over(rk))
    val total = freq.select(sum(col("c")).as("total_tokens"))
    val sz = docs.sparkSession.createDataFrame(
      sizes.map(Tuple1(_))).toDF("vocab_size")
    ranked.join(broadcast(sz), col("rank") <= col("vocab_size"))
      .groupBy("vocab_size")
      .agg(max(col("rank")).as("n_types"), max(col("cum")).as("covered_tokens"))
      .crossJoin(broadcast(total))
      .select(col("vocab_size"), col("n_types"), col("covered_tokens"),
        col("total_tokens"),
        round(when(col("total_tokens") > 0,
          col("covered_tokens").cast("double") / col("total_tokens")), 4)
          .as("coverage"))
  }

  /** Rolling-hash document fingerprints (winnowing-lite): min/max of the
    * portable 60-bit hash over word `n`-gram shingles plus the shingle
    * count. Equal fingerprints ⇒ near-identical content; the min-hash
    * value is exactly the k=1 MinHash signature, so this composes with
    * the dedup tier.
    */
  def fingerprints(docs: DataFrame, n: Int = 5): DataFrame =
    Dedup.shingles(docs, n)
      .groupBy("doc_id")
      .agg(min("gh").as("fp_min"), max("gh").as("fp_max"),
        count(lit(1)).as("n_shingles"))

  /** Unigram language-model familiarity score per doc — the CCNet-style
    * "does this text look like the corpus" quality tier, with the same
    * engine-parity trade as tf-idf ([[tfidfTopTerms]]) and collocations:
    * NO logs. Instead of per-token log-prob (libm-ulp-fragile) the score
    * is the exact-integer mean corpus count of the doc's tokens
    * (`mean_tok_count = Σ c(t) div n`, arithmetic not geometric mean) and
    * the out-of-vocabulary rate against the top-`vocabTopK` types
    * (`oov_ppm`). Low mean count + high OOV = unfamiliar text (gibberish,
    * wrong language, OCR noise) — rank order is what a perplexity filter
    * consumes, and both numbers are bit-identical in any engine.
    *
    * Shape: one token explode, a vocab-grain count agg (map-side
    * combined), then the in-vocab set = the top-`vocabTopK` types via
    * `orderBy.limit` (TakeOrderedAndProject — no global vocab sort; at
    * web scale the type vocabulary is corpus-sized and ranking it in
    * one task was r13's `weak` finding). Only "rank > vocabTopK" was
    * ever consumed — a boolean — so membership in the ≤ K survivor set
    * (broadcastable) replaces the rank with identical semantics: the
    * (c desc, word) order is total, so the K-boundary cut is the same
    * one row_number made. Then one occurrence ⋈ vocab equi-join and a
    * doc-grain agg. Total audit: every doc gets a row; token-free docs
    * carry NULL score fields rather than divide.
    */
  def lmFamiliarity(docs: DataFrame, vocabTopK: Long = 1000L): DataFrame = {
    require(vocabTopK >= 1 && vocabTopK <= Int.MaxValue,
      s"vocabTopK must be in [1, 2^31): $vocabTopK")
    val toks = docs.select(col("doc_id"), explode(expr(WordsExpr)).as("word"))
    val freq = toks.groupBy("word").agg(count(lit(1)).as("c"))
    val inVocab = freq.orderBy(col("c").desc, col("word"))
      .limit(vocabTopK.toInt).select(col("word"), lit(true).as("_in_vocab"))
    val total = freq.select(sum(col("c")).as("t_total"))
    val perDoc = toks.join(freq, "word")
      .join(inVocab, Seq("word"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("c")).as("_sum_c"),
        sum(when(col("_in_vocab").isNull, 1L).otherwise(0L)).as("_oov"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        expr("case when n_tokens > 0 then _sum_c div n_tokens end")
          .as("mean_tok_count"),
        expr("case when n_tokens > 0 then (_oov * 1000000L) div n_tokens end")
          .as("oov_ppm"),
        col("t_total").as("corpus_tokens"))
  }

  /** Top-`k` BPE merge candidates: adjacent character-pair counts over
    * the corpus, weighted by word frequency — the scoring pass of ONE
    * BPE-training iteration (the driver loop applies the winning merge
    * and re-scores; the per-iteration corpus cost is THIS query). The
    * pivotal scale fact: after the vocab-grain word-frequency agg
    * (map-side combined), everything downstream — the character
    * explode, the pair agg, the rank window — runs over DISTINCT words,
    * so a 100 TB corpus pays one token scan and then a vocab-sized
    * computation, never a per-occurrence character explode. Pair counts
    * are exact BIGINTs (Σ within-word multiplicity × word freq); ties
    * rank (left, right) asc. Word-end markers are a tokenizer-config
    * detail deliberately omitted — the merge mechanics are identical.
    */
  def bpePairCounts(docs: DataFrame, k: Int = 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val wf = docs.select(explode(expr(WordsExpr)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    // guard: Spark's sequence(1, n) counts DOWN for n < 1 (single-char
    // words) — same trap as charTrigrams
    val pairs = wf.select(col("word"), col("freq"),
        explode(expr("if(length(word) >= 2, sequence(1, length(word) - 1), " +
          "array())")).as("i"))
      .select(col("word"), col("freq"),
        expr("substring(word, i, 1)").as("left"),
        expr("substring(word, i + 1, 1)").as("right"))
    val counts = pairs.groupBy("left", "right")
      .agg(sum("freq").as("pair_count"),
        countDistinct(col("word")).as("n_words"))
    // single-partition window: the pair space is bounded by charset²
    val rk = Window.orderBy(col("pair_count").desc, col("left"), col("right"))
    counts.withColumn("rank", row_number().over(rk).cast("long"))
      .filter(col("rank") <= k)
      .select("rank", "left", "right", "pair_count", "n_words")
  }

  /** Word-distribution drift between two corpus snapshots — the
    * monitoring audit a pipeline reads before promoting a new crawl
    * ([[Curation.snapshotDiff]] answers "which docs changed"; this
    * answers "did the LANGUAGE change"): per union-vocab word, both
    * occurrence counts, both rates in exact ppm (floored once per side),
    * and the signed/absolute rate delta, biggest movers first. All
    * integer arithmetic — engine-exact, no libm divergence measures
    * (callers wanting KL can compute it from the counts; the ppm-delta
    * ranking is what the alert threshold consumes).
    *
    * Scale posture: two token explodes into map-side-combined
    * vocab-grain aggs, one vocab-sized full-outer equi-join, 1-row
    * totals broadcast — nothing shuffles occurrences. Bound: the ppm
    * scaling needs `count · 10⁶` inside BIGINT, i.e. per-side token
    * totals < ~9.2·10¹² (ANSI mode fails LOUD past it, never silently
    * wraps); a corpus beyond that runs the audit per source/shard and
    * the rates stay exact.
    */
  def vocabDrift(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    def freq(df: DataFrame, cname: String) =
      df.select(explode(expr(WordsExpr)).as("word"))
        .groupBy("word").agg(count(lit(1)).as(cname))
    val fa = freq(oldDocs, "c_old")
    val fb = freq(newDocs, "c_new")
    val totals = fa.agg(coalesce(sum("c_old"), lit(0L)).as("t_old"))
      .crossJoin(broadcast(fb.agg(coalesce(sum("c_new"), lit(0L)).as("t_new"))))
    fa.join(fb, Seq("word"), "full_outer")
      .crossJoin(broadcast(totals))
      .select(col("word"),
        coalesce(col("c_old"), lit(0L)).as("c_old"),
        coalesce(col("c_new"), lit(0L)).as("c_new"),
        expr("case when t_old > 0 then " +
          "(coalesce(c_old, 0L) * 1000000L) div t_old end").as("rate_old_ppm"),
        expr("case when t_new > 0 then " +
          "(coalesce(c_new, 0L) * 1000000L) div t_new end").as("rate_new_ppm"))
      .withColumn("delta_ppm", col("rate_new_ppm") - col("rate_old_ppm"))
      .withColumn("abs_delta_ppm", abs(col("delta_ppm")))
  }

  /** Equal-frequency quality deciles WITHOUT a global sort — the
    * scale-safe ntile. `ntile(10)` shuffles and sorts every row; this
    * pass buckets the (4dp-scaled) quality histogram instead: windows
    * run over ≤ 10001 histogram rows whatever the corpus size, the
    * nine decile thresholds reduce to ONE 9-element array broadcast
    * back over the scan (the q107 histogram-percentile shape, turned
    * into a per-row assignment). The curriculum/mixing use: train on
    * decile 10 first, or mix deciles at set rates, reproducibly.
    *
    * Tie semantics (documented difference vs row-ntile): docs sharing
    * a scaled score always share a decile — a histogram cannot split
    * equal values, and for curriculum purposes equal quality SHOULD
    * mean equal treatment. Unscored docs (0-word: quality NULL) are
    * excluded. decile = 1 + |{p : t_p < qs}| over the ceil-rank
    * thresholds t_10..t_90, all integer arithmetic.
    */
  def qualityDeciles(docs: DataFrame): DataFrame = {
    // the tokenization-heavy scoring pass feeds BOTH the histogram
    // chain and the final assignment — cut its lineage once or it runs
    // twice (Spark has no cross-branch subtree reuse; the Ckpt doc's
    // measured rationale)
    val scored = Ckpt.narrowLazy(qualityScores(docs)
      .filter(col("quality").isNotNull)
      .select(col("doc_id"),
        expr("cast(round(quality * 10000) as bigint)").as("qs")))
    val hist = scored.groupBy("qs").agg(count(lit(1)).as("c"))
    val cum = hist
      .withColumn("cum", sum(col("c")).over(Window.orderBy("qs")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast( // 1-row total — bounded by construction
        hist.agg(sum(col("c")).cast("long").as("n"))))
    def thr(p: Int) =
      min(when(col("cum") >= expr(s"(n * $p + 99) div 100"), col("qs")))
        .as(s"t$p")
    val th = cum.agg(thr(10), (20 to 90 by 10).map(thr): _*)
    val tarr = th.select(
      array((10 to 90 by 10).map(p => col(s"t$p")): _*).as("tarr"))
    scored.crossJoin(broadcast(tarr)) // 1-row threshold array — bounded
      .select(col("doc_id"), col("qs"),
        (lit(1L) + expr("size(filter(tarr, t -> t < qs))").cast("long"))
          .as("decile"))
  }

  /** Corpus-level lexical richness per source: token count, type count,
    * hapax-legomenon count (types occurring exactly once), and the
    * corpus TTR / hapax share in exact ppm floor division. The per-DOC
    * TTR already lives in [[qualityScores]]; this is the SOURCE-grain
    * reading — a source whose corpus TTR or hapax share collapses is
    * template/boilerplate farmland, one whose hapax share explodes is
    * OCR noise or ID soup. The two ratios disagree with any per-doc
    * average because types pool sublinearly across docs (Heaps' law) —
    * which is exactly why the corpus grain is worth a separate scan.
    *
    * Shape: one token explode into a (source, word)-grain count agg
    * (map-side combined — the exchange carries the per-source VOCAB,
    * never token occurrences), then a source-grain fold. A zero-token
    * source survives with NULL ratios via the left join from the
    * source axis. Envelope: n_types·10⁶ < 2⁶³ — holds through ~9·10¹²
    * types per source.
    */
  def lexicalRichness(docs: DataFrame): DataFrame = {
    val types = docs
      .select(col("source"), explode(expr(WordsExpr)).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax_types"))
    docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .join(types, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_types"), lit(0L)).as("n_types"),
        coalesce(col("hapax_types"), lit(0L)).as("hapax_types"))
      .withColumn("ttr_ppm",
        when(col("n_tokens") > 0, expr("(n_types * 1000000) div n_tokens")))
      .withColumn("hapax_ppm",
        when(col("n_types") > 0, expr("(hapax_types * 1000000) div n_types")))
  }

  /** Character-class profile per source: letter / digit / whitespace /
    * other shares of the corpus bytes in exact ppm — the cheapest
    * source-health fingerprint there is (markup and code push OTHER up,
    * tables and IDs push DIGIT, OCR noise drifts every class at once;
    * a jump between snapshots means the extraction pipeline changed
    * before any model ever sees the text). Class counts are
    * length-minus-stripped-length — one linear scan, no explode, no
    * shuffle beyond the source-grain fold.
    */
  def charClassProfile(docs: DataFrame): DataFrame =
    docs.select(col("source"),
        length(col("text")).cast("long").as("n"),
        (length(col("text"))
          - length(regexp_replace(col("text"), "[a-zA-Z]", "")))
          .cast("long").as("alpha"),
        (length(col("text"))
          - length(regexp_replace(col("text"), "[0-9]", "")))
          .cast("long").as("digit"),
        (length(col("text"))
          - length(regexp_replace(col("text"), "\\s", "")))
          .cast("long").as("space"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_chars"),
        sum(col("alpha")).as("a"), sum(col("digit")).as("d"),
        sum(col("space")).as("s"))
      .select(col("source"), col("n_docs"), col("n_chars"),
        when(col("n_chars") > 0, expr("(a * 1000000) div n_chars"))
          .as("alpha_ppm"),
        when(col("n_chars") > 0, expr("(d * 1000000) div n_chars"))
          .as("digit_ppm"),
        when(col("n_chars") > 0, expr("(s * 1000000) div n_chars"))
          .as("space_ppm"),
        when(col("n_chars") > 0,
          expr("((n_chars - a - d - s) * 1000000) div n_chars"))
          .as("other_ppm"))

  /** Two-sample Kolmogorov–Smirnov distance between each source's
    * doc-length distribution and the whole corpus', at
    * `bucketChars`-wide length buckets: D = max over buckets of
    * |CDF_source − CDF_corpus| in exact ppm, plus the bucket where the
    * gap peaks (lowest such bucket — deterministic). The
    * distribution-drift screen for mixture construction: a source
    * whose length CDF sits far from the corpus' will dominate some
    * context-length band after packing ([[graft.operators.Prep.pack]]),
    * and D is the one-number ranking of which sources to re-weight.
    *
    * Exactness: both CDFs are integer cumulative counts over the
    * bucket axis; each is scaled to ppm with ONE floor division before
    * the subtraction, so the statistic is engine-portable (the floors
    * shift each side < 1 ppm). Shape: doc-grain collapses to
    * (source, bucket) map-side; every window runs at source × bucket
    * grain — bounded by max-length/`bucketChars`, never doc count.
    */
  def lengthKsDrift(docs: DataFrame, bucketChars: Int = 64): DataFrame = {
    require(bucketChars >= 1, s"bucketChars must be >= 1: $bucketChars")
    val b = docs
      .select(col("source"), expr(s"n_chars div $bucketChars").as("bucket"))
      .groupBy("source", "bucket").agg(count(lit(1)).as("c"))
    val corpusCum = b.groupBy("bucket").agg(sum(col("c")).as("call"))
      .withColumn("cuma", sum(col("call")).over(Window.orderBy("bucket")))
    val nsrc = b.groupBy("source").agg(sum(col("c")).as("ns"))
    val ntot = b.agg(sum(col("c")).as("na"))
    // sources × corpus buckets — both bounded dimension frames
    val axis = b.select("source").distinct()
      .crossJoin(broadcast(corpusCum.select("bucket")))
    val wS = Window.partitionBy("source").orderBy("bucket")
    val gaps = axis.join(b, Seq("source", "bucket"), "left")
      .select(col("source"), col("bucket"),
        coalesce(col("c"), lit(0L)).as("c"))
      .withColumn("cums", sum(col("c")).over(
        wS.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(corpusCum.select(col("bucket"), col("cuma")), Seq("bucket"))
      .join(nsrc, Seq("source"))
      .crossJoin(broadcast(ntot)) // 1-row corpus total — bounded
      .select(col("source"), col("bucket"), col("ns"),
        abs(expr("(cums * 1000000) div ns - (cuma * 1000000) div na"))
          .as("gap"))
    val w = Window.partitionBy("source").orderBy(col("gap").desc, col("bucket"))
    gaps.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("source"), col("ns").as("n_docs"),
        col("gap").as("d_ppm"), col("bucket").as("ks_bucket"))
  }

  /** Word burstiness (Church–Gale): for the top-`topK` corpus words by
    * collection frequency, cf, df, and the mean occurrences per
    * CONTAINING doc (`burst_milli = 1000·cf div df`). Function words
    * spread evenly (burst ≈ cf/corpus-docs-with-any-text); topical and
    * boilerplate words clump — high burst at high rank is the
    * repeated-template signature that df-blind frequency lists miss,
    * and the df/cf split is what stopword-vs-boilerplate triage needs.
    *
    * Shape: one token explode to a (word, doc) map-side-combined
    * count, a vocab-grain fold, then `orderBy.limit(topK)`
    * (TakeOrderedAndProject — per-partition partial top-k; ranking the
    * FULL vocab in one task and filtering after was r13's `weak`
    * finding) and a rank window over only the ≤ topK survivors. The
    * (cf desc, word) order is total, so the truncated ranks are the
    * ones the post-filter kept.
    */
  def wordBurstiness(docs: DataFrame, topK: Int = 100): DataFrame = {
    require(topK >= 1, s"topK must be >= 1: $topK")
    val rk = Window.orderBy(col("cf").desc, col("word"))
    docs.select(col("doc_id"), explode(expr(WordsExpr)).as("word"))
      .groupBy("word", "doc_id").agg(count(lit(1)).as("k"))
      .groupBy("word")
      .agg(sum(col("k")).as("cf"), count(lit(1)).as("df"))
      .orderBy(col("cf").desc, col("word")).limit(topK)
      .withColumn("rank", row_number().over(rk).cast("long"))
      .select(col("rank"), col("word"), col("cf"), col("df"),
        expr("(cf * 1000) div df").as("burst_milli"))
  }

  /** Pairwise source-vocabulary Jaccard overlap: for every unordered
    * source pair, |V₁ ∩ V₂| / |V₁ ∪ V₂| over distinct word types, in
    * exact ppm — the corpus-composition screen that surfaces
    * syndication/mirroring at VOCABULARY grain before the per-document
    * dedup tiers pay for pair enumeration (two sources sharing 95% of
    * their types are one source twice; one sharing almost nothing is a
    * different language or domain, a mixture-weighting fact).
    *
    * Shape: one token explode to the DISTINCT (source, word) frame;
    * the intersection is a word-grain self-equi-join whose fan-out per
    * word is (sources carrying it)² ≤ sources² — bounded by the
    * dimension, never the corpus; the complete pair grid (zero-overlap
    * pairs included) comes from a broadcast sources × sources cross of
    * the bounded size frame.
    */
  def sourceVocabOverlap(docs: DataFrame): DataFrame = {
    val ty = docs
      .select(col("source"), explode(expr(WordsExpr)).as("word")).distinct()
    val sizes = ty.groupBy("source").agg(count(lit(1)).as("n"))
    val inter = ty.as("a").join(ty.as("b"),
        col("a.word") === col("b.word") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
      .agg(count(lit(1)).as("inter"))
    sizes.select(col("source").as("s1"), col("n").as("n1"))
      .crossJoin(broadcast( // sources × sources — bounded dimension grid
        sizes.select(col("source").as("s2"), col("n").as("n2"))))
      .filter(col("s1") < col("s2"))
      .join(inter, Seq("s1", "s2"), "left")
      .select(col("s1"), col("s2"), col("n1"), col("n2"),
        coalesce(col("inter"), lit(0L)).as("inter"))
      .withColumn("un", col("n1") + col("n2") - col("inter"))
      .withColumn("jaccard_ppm",
        when(col("un") > 0, expr("(inter * 1000000) div un")))
  }

  /** Rank-frequency (Zipf) profile per source: what share of a source's
    * token mass its top-1 / top-10 / top-100 word types carry, and the
    * tail mass beyond rank 100, in exact ppm. Natural prose sits near
    * the Zipfian shape (top-10 ≈ 20–30%); a head share near 10⁶ means
    * a degenerate template corpus, a near-uniform profile (tail share
    * ≈ type share) means ID/hash soup — the distribution-shape
    * companion to [[lexicalRichness]]'s two scalars.
    *
    * Shape: the same (source, word)-grain agg, then a rank window
    * PARTITIONED BY SOURCE over the vocab frame (unlike
    * [[vocabCoverage]]'s sanctioned global window, this one
    * parallelizes across sources) and a source-grain fold. Rank ties
    * break (count desc, word asc) — the house vocab order.
    */
  def zipfProfile(docs: DataFrame): DataFrame = {
    val rk = Window.partitionBy("source").orderBy(col("c").desc, col("word"))
    docs.select(col("source"), explode(expr(WordsExpr)).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("c"))
      .withColumn("rank", row_number().over(rk).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_types"), sum(col("c")).as("total_tokens"),
        sum(when(col("rank") <= 1, col("c")).otherwise(0L)).as("top1"),
        sum(when(col("rank") <= 10, col("c")).otherwise(0L)).as("top10"),
        sum(when(col("rank") <= 100, col("c")).otherwise(0L)).as("top100"))
      .select(col("source"), col("n_types"), col("total_tokens"),
        expr("(top1 * 1000000) div total_tokens").as("top1_ppm"),
        expr("(top10 * 1000000) div total_tokens").as("top10_ppm"),
        expr("(top100 * 1000000) div total_tokens").as("top100_ppm"),
        expr("((total_tokens - top100) * 1000000) div total_tokens")
          .as("tail_ppm"))
  }
}
