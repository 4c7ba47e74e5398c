package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Document deduplication suite — the LLM-training-pipeline tier the
  * engine adds on top of the reference's MapReduce surface (the
  * reference's word count is the degenerate "analyze text by key" case;
  * dedup is the same shuffle-on-derived-key pattern at corpus scale).
  *
  * Tiers:
  *   - exact: hash-groupBy on a content fingerprint (md5) — one shuffle.
  *   - n-gram Jaccard: shingle → posting-list self-join → set overlap.
  *   - MinHash + LSH: the scale path — per-doc signatures (k permuted
  *     hashes), banded into buckets; only same-bucket candidates are
  *     verified. At 100 TB the candidate join replaces the quadratic
  *     all-pairs join: cost ~ O(docs × bands) + O(sum over buckets of
  *     bucket²).
  *   - SimHash: 60-bit signature per doc; near-dups = small Hamming
  *     distance. Signature build is one shuffle; pair scan is over
  *     signatures (8 bytes/doc), not documents.
  *
  * Every candidate-pair tier derives only its block keys and its score;
  * the hot-key cap, the same-key pairing and the overlap count are the
  * shared steps of [[Blocking]].
  *
  * Width discipline (the property that decides the 100 TB bill): every
  * shingle is hashed to a 60-bit long AT BIRTH ([[shingles]]), so every
  * downstream distinct / posting-list join / signature shuffle moves
  * 16-byte (doc_id, gh) rows — never multi-word shingle strings. Document
  * text itself only ever appears in the initial pruned scans.
  *
  * All hash derivations bottom out in md5 (not Spark's `hash`/`xxhash64`)
  * so results are engine-portable and oracle-checkable: the first 15 hex
  * chars of an md5 give a uniform 60-bit non-negative value that DuckDB
  * reproduces with `CAST('0x'||substr(md5(x),1,15) AS BIGINT)`. The
  * minhash permutations on top are integer arithmetic mod a 31-bit prime
  * (multiply-shift family) — same portability, no per-(shingle, seed) md5.
  */
object Dedup {

  /** Portable 60-bit hash of a string SQL expression (see class doc).
    * Emits the engine's native codegen'd form
    * ([[graft.functions.Hash60]] — same value as
    * `cast(conv(substr(md5($sqlExpr), 1, 15), 16, 10) as bigint)`, no
    * hex-string round-trip; equivalence pinned in FunctionsSpec and by
    * every oracle gate). Oracle SQL keeps the hex rendering — DuckDB
    * reproduces the value as `CAST('0x' || substr(md5(x), 1, 15) AS
    * BIGINT)`.
    */
  private[graft] def h60(sqlExpr: String): String =
    s"${graft.functions.Hash60.Name}($sqlExpr)"

  /** Distinct word n-gram shingles per document, hashed at birth:
    * (doc_id, gh: long) with gh = 60-bit md5 of the shingle text.
    * Tokenization matches the reference's word model (whitespace split,
    * drop empties — reference src/main.c:19, fixed per SURVEY.md §2.2 Q1).
    * Jaccard over gh equals Jaccard over raw shingles up to md5
    * collisions (~2^-60 per pair); an oracle hashing the same way sees
    * the identical sets either way.
    */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame = {
    val gram = (0 until n).map(k => s"w[i+$k]").mkString("concat_ws(' ', ", ", ", ")")
    // tokenize + n-gram explode + per-shingle md5 is the dedup tier's
    // scan CPU; spread a single-split source so it doesn't run one-task
    Spread(docs)
      // drop empties explicitly: split of an empty/whitespace-only text
      // yields [""], which at n = 1 would otherwise become the shingle
      // md5("") and make all empty docs mutual duplicates — the word
      // model is "whitespace split, drop empties" (it matched only by
      // accident at n >= 2 via the size filter)
      .select(col("doc_id"),
        expr(TextAnalysis.WordsExpr).as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"),
        explode(expr(s"transform(sequence(0, size(w)-$n), i -> $gram)")).as("g"))
      .select(col("doc_id"), expr(h60("g")).as("gh"))
      .distinct()
  }

  /** Exact-dedup tier: one row per distinct content fingerprint with the
    * group size and the kept (minimum) doc_id.
    */
  def exactGroups(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("fingerprint"))
      .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keeper"))

  /** Pairwise shingle-set Jaccard via posting-list self-join:
    * J(a,b) = |A∩B| / (|A|+|B|-|A∩B|). The join shuffles on the shingle
    * hash (equi-key), so work is proportional to posting-list sizes
    * squared — use [[minhashPairs]] at scale; this is the exact tier.
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.8): DataFrame =
    // no checkpoint here: the posting self-join dominates and the full
    // per-occurrence frame is large — A/B at sf0.1 read 1.92s re-derive
    // vs 2.14s checkpointed (materialization outweighs the saved scans)
    jaccardAtLeast(Blocking.overlap(shingles(docs, n)), threshold)

  /** Jaccard c / (n_i + n_j − c) of a [[Blocking.overlap]] frame, kept
    * at ≥ `threshold` and rounded to 4 dp: (i, j, jaccard).
    */
  private def jaccardAtLeast(ov: DataFrame, threshold: Double): DataFrame =
    ov.select(col("i"), col("j"),
        (col("c").cast("double") / (col("n_i") + col("n_j") - col("c"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .select(col("i"), col("j"), round(col("jaccard"), 4).as("jaccard"))

  /** Asymmetric near-dup: containment of the SMALLER shingle set within
    * the pair — |A∩B| / min(|A|, |B|) — catches a short document quoted
    * wholesale inside a long one (wire-copy inclusion, template +
    * payload), which symmetric Jaccard structurally misses: |A∩B|/|A∪B|
    * stays low whenever |B| ≫ |A| no matter how completely A is
    * contained. Ground-truth posting-list tier with [[ngramJaccardPairs]]'s
    * cost model (pair work tracks shared-shingle collisions — ScaleBench
    * measured exponent ≈ 2.0 on the 10×→30× corpus decade, as the label
    * predicts: common shingles' posting lists grow with the corpus); the
    * LSH/winnowing tiers stay the discovery path at corpus scale — a
    * containment-biased production variant would band only the smaller
    * side's signature, which this exact tier exists to verify against.
    */
  def containmentPairs(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.9): DataFrame =
    Blocking.overlap(shingles(docs, n))
      .select(col("i"), col("j"), col("n_i"), col("n_j"), col("c").as("inter"),
        (col("c").cast("double") / least(col("n_i"), col("n_j"))).as("containment"))
      .filter(col("containment") >= threshold)
      .select(col("i"), col("j"), col("n_i"), col("n_j"), col("inter"),
        round(col("containment"), 4).as("containment"))

  /** EXACT set-similarity join via prefix filtering (the AllPairs/PPJoin
    * family — Bayardo et al. WWW'07, Xiao et al. WWW'08 — re-expressed
    * as three DataFrame joins): unlike the LSH tiers this is complete BY
    * THEOREM, not with probability. Order every doc's shingles by global
    * rarity (document frequency asc, hash asc — one total order shared
    * corpus-wide); a doc of m shingles exposes only its first
    * p = m − ceil(t·m) + 1 rarest shingles as its "prefix". For any pair
    * with J ≥ t, the FIRST common shingle x in the global order lies
    * inside BOTH prefixes: were x past a's prefix, all common shingles
    * would sit in a's last ceil(t·m_a) − 1 positions, capping the
    * intersection below t·m_a ≤ |a∩b| — contradiction (symmetrically
    * for b). So joining prefix-to-prefix misses nothing at threshold t.
    *
    * The threshold is a RATIONAL tNum/tDen and every filter is exact
    * integer arithmetic (prefix length via `div`, the length filter
    * tDen·m_min ≥ tNum·m_max, the final verify c·tDen ≥ tNum·(union)) —
    * an IEEE ceil(0.8·m) can land one ULP high and silently SHORTEN the
    * prefix, breaking the completeness proof; integers cannot.
    *
    * Scale shape: the prefix join's posting lists are the corpus's
    * RAREST shingles by construction — document frequency asc is
    * exactly "shortest posting lists first" — so candidate volume
    * tracks true-pair volume, not corpus²; the verify is candidate-
    * proportional ([[jaccardOfCandidates]]' shape). The global-rarity
    * rank is one agg + an equi-join, and the per-doc prefix window is
    * bounded by document shingle count. Like every exact tier
    * (q26/q92) the worst case is output-proportional: a corpus of N
    * identical docs has N²/2 qualifying pairs and no algorithm returns
    * fewer rows than its answer.
    */
  def prefixJaccardPairs(docs: DataFrame, n: Int = 3,
      tNum: Long = 4L, tDen: Long = 5L): DataFrame = {
    require(tNum > 0 && tNum <= tDen, s"threshold must be in (0,1]: $tNum/$tDen")
    import org.apache.spark.sql.expressions.Window
    // LAZY cuts (r15, guide §1.5): a lazy localCheckpoint runs the
    // shuffle stages below it at the cut and persists its blocks the
    // first time ANY consumer computes its last stage — multi-consumer
    // sharing is identical to the eager form, but the per-cut count()
    // job disappears and each chain's last stage runs in the query's
    // own action. Applied to every non-loop cut in this file.
    val sh = Ckpt.narrowLazy(shingles(docs, n))
    val freq = sh.groupBy("gh").agg(count(lit(1)).as("df"))
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("m"))
    val byRarity = Window.partitionBy("doc_id").orderBy(col("df"), col("gh"))
    val prefix = Ckpt.narrowLazy(sh.join(freq, "gh").join(sz, "doc_id")
      .withColumn("p", row_number().over(byRarity))
      .filter(col("p") <=
        col("m") - expr(s"($tNum * m + ${tDen - 1}) div $tDen") + 1)
      .select(col("doc_id"), col("gh"), col("m")))
    // length filter tDen·m_min ≥ tNum·m_max on the carried set sizes
    val cand = Blocking.pairs(prefix, Seq("gh"), carry = Seq("m"))
      .filter(lit(tDen) * least(col("m_i"), col("m_j")) >=
        lit(tNum) * greatest(col("m_i"), col("m_j")))
      .select(col("i"), col("j"))
    Blocking.overlapOf(sh, cand)
      .filter(col("c") * lit(tDen) >=
        lit(tNum) * (col("n_i") + col("n_j") - col("c")))
      .select(col("i"), col("j"),
        round(col("c").cast("double") /
          (col("n_i") + col("n_j") - col("c")), 4).as("jaccard"))
  }

  /** Per-document shingle novelty at ingest order — the marginal-value
    * profile of a corpus: for each doc, how many of its distinct
    * n-gram shingles were NEVER seen in any earlier (smaller doc_id)
    * document. The canonical "is new data still adding anything"
    * curve for a training-data pipeline — novelty_ppm collapsing
    * toward 0 across a crawl snapshot is the saturation signal that
    * justifies dropping a source before paying full dedup cost.
    * Linear shape: one min-agg per shingle (first_doc), one equi-join
    * back, one per-doc count — no pair work anywhere. Docs with no
    * shingles (< n tokens) report 0/0 with NULL ppm.
    */
  def noveltyProfile(docs: DataFrame, n: Int = 3): DataFrame = {
    val sh = Ckpt.narrowLazy(shingles(docs, n))
    val first = sh.groupBy("gh").agg(min(col("doc_id")).as("first_doc"))
    val per = sh.join(first, "gh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum((col("first_doc") === col("doc_id")).cast("long")).as("n_novel"))
    docs.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        // integer div, not double-divide-then-cast: an IEEE quotient a
        // hair under an exact integer truncates one off the oracle's //
        when(col("n_shingles") > 0,
          expr("(n_novel * 1000000) div n_shingles"))
          .cast("long").as("novelty_ppm"))
  }

  /** Exact Jaccard restricted to the given candidate (i, j) pairs.
    *
    * Cost is O(|candidates| × shingles-per-doc), independent of the
    * number of non-candidate pairs: shingle sets are first semi-joined
    * down to docs that appear in some candidate pair, then the
    * intersection count is computed per candidate pair only (join the
    * pair to i's shingles, match them against j's). This is what makes
    * LSH an actual scale path — verification work tracks the candidate
    * set, never the full pair space ([[Blocking.overlapOf]]).
    * `ckptPruned` cuts the candidate-pruned shingle frame: TRUE when
    * `sh` is a LAZY corpus-sized parquet union (the incremental/probe
    * paths), FALSE when it is already checkpointed blocks (see
    * `cutPruned` there for the measured trade).
    */
  private[graft] def jaccardOfCandidates(
      sh: DataFrame, cand: DataFrame, threshold: Double,
      ckptPruned: Boolean = false): DataFrame =
    jaccardAtLeast(Blocking.overlapOf(sh, cand, ckptPruned), threshold)

  /** Prime modulus of the minhash permutation family (2^31 − 1). */
  private[graft] val MinhashP = 2147483647L

  /** Canonical LSH bucket-size cap — the default `maxBucketSize` on every
    * minhash candidate path, including [[nearDupEdges]] (and therefore
    * q42/q47/q48's [[Curation.curate]]).
    *
    * Why 1000: a band bucket of m docs emits m(m−1)/2 candidate pairs, so
    * the cap bounds per-bucket join output at ~500k pairs — a single
    * task's worth of work — independent of corpus size. Unbounded, one
    * boilerplate bucket of 10⁶ docs at 100 TB emits 5·10¹¹ pairs and owns
    * the shuffle. Recall trade (and why the cap is safe as a DEFAULT):
    * the canonical pipeline runs exact dedup first, so a >1000-doc bucket
    * that still exists is boilerplate collision, not true duplication;
    * docs dropped from one hot band remain reachable through their other
    * `numHashes/rowsPerBand − 1` bands; and the planted-dup recall == 1.0
    * law in DedupSpec holds with the cap ON. The DuckDB oracle band CTE
    * mirrors the same filter ([[graft.queries.DedupQueries]]), so the
    * capped path — not an uncapped shadow — is what the hash gate checks.
    */
  val NearDupMaxBucket: Int = 1000

  /** Multiplier / offset of permutation `s`, md5-derived so an oracle
    * regenerates them: a_s ∈ [1, P−1], b_s ∈ [0, P−1].
    */
  private[graft] def minhashA(s: Int): Long = seed60(s"mh_a_$s") % (MinhashP - 1) + 1
  private[graft] def minhashB(s: Int): Long = seed60(s"mh_b_$s") % MinhashP

  private[graft] def seed60(key: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8"))
    java.lang.Long.parseLong(md.map(b => f"$b%02x").mkString.substring(0, 15), 16)
  }

  /** Permutation `s` of the 60-bit shingle hash: (a_s·(gh mod P) + b_s)
    * mod P — pure 64-bit-safe integer arithmetic (a·x < 2^62), identical
    * in any engine, no md5 per (shingle, seed).
    */
  private def perm(s: Int): Column =
    (lit(minhashA(s)) * (col("gh") % MinhashP) + lit(minhashB(s))) % MinhashP

  /** One row per doc with all `numHashes` signature minima as columns
    * m0..m{k-1}: ONE groupBy over the (doc_id, gh) frame, partial-agg
    * combined map-side, so the shuffle moves one narrow row per doc —
    * no seed fan-out, no md5 in the aggregate update path (the
    * permutations are two multiplies and two mods each).
    */
  private def minhashWide(sh: DataFrame, numHashes: Int): DataFrame = {
    val mins = (0 until numHashes).map(s => min(perm(s)).as(s"m$s"))
    sh.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** b-bit MinHash near-dup estimates (Li & König, WWW 2010, at b = 1):
    * keep only the LOWEST BIT of each of `numHashes` permutation minima,
    * packed into ONE long per document — 60 bits of signature where the
    * classic tier stores 60 × 32-bit minima. Two signatures agree on a
    * bit with probability 1/2 + J/2 (b = 1, large-universe limit), so
    * Ĵ = 2·(agree/numHashes) − 1, clipped at 0. Candidates come from the
    * SAME 16-hash/4-row LSH bands as [[minhashPairs]] (the first 16
    * permutations of the same family, same skew cap), so the tier
    * composes with the house candidate scheme rather than inventing a
    * second one; the estimate path then costs one XOR + popcount per
    * candidate pair against 8-byte signatures.
    *
    * Why it exists at 100 TB: the signature table is the resident
    * artifact of a dedup service; 8 bytes/doc vs 240 makes the
    * difference between a signature store that fits hot memory and one
    * that doesn't, at ~2× the estimator variance (σ ≈ 0.13 at 60
    * hashes) — the audit tier (exact Jaccard on verified pairs) stays
    * available when the estimate needs confirming.
    *
    * numHashes is capped at 60: bits 0..59 keep the packed signature
    * positive, so shift/xor/popcount arithmetic is sign-free and
    * identical in any BIGINT engine.
    */
  def bbitMinhashPairs(docs: DataFrame, n: Int = 3, numHashes: Int = 60,
      rowsPerBand: Int = 4, threshold: Double = 0.5,
      maxBucketSize: Int = NearDupMaxBucket): DataFrame = {
    require(numHashes >= 16 && numHashes <= 60,
      s"numHashes must be in [16, 60], got $numHashes")
    require(rowsPerBand >= 1 && rowsPerBand <= 16,
      s"rowsPerBand must be in [1, 16], got $rowsPerBand")
    val sh = Ckpt.narrowLazy(shingles(docs, n))
    // one aggregation computes all minima; bands draw from the first
    // ≤16 columns (the house 16-hash candidate scheme), the packed
    // signature uses all of them. The band pool is the largest
    // rowsPerBand multiple ≤ 16, so any rowsPerBand in [1, 16] forms
    // full bands — a trailing partial band never silently drops.
    val bandPool = 16 / rowsPerBand * rowsPerBand
    val wide = Ckpt.narrowLazy(minhashWide(sh, numHashes))
    val sigExpr = (0 until numHashes)
      .map(s => s"shiftleft(m$s % 2, $s)").mkString(" + ")
    val sig = wide.select(col("doc_id"), expr(sigExpr).as("bsig"))
    // `wide` is already checkpointed; the band frame is its narrow
    // projection, so skip the second eager cut
    val cand = candidatesOfBands(
      bandsOfWide(wide, bandPool, rowsPerBand), maxBucketSize, cut = false)
    val agree = lit(numHashes) -
      expr("bit_count(ba ^ bb)").cast("long")
    cand
      .join(sig.select(col("doc_id").as("i"), col("bsig").as("ba")), "i")
      .join(sig.select(col("doc_id").as("j"), col("bsig").as("bb")), "j")
      .select(col("i"), col("j"),
        round(greatest(lit(0.0),
          (lit(2.0) * agree - numHashes) / numHashes), 4).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Frequency-capped exact dedup: keep up to `maxCopies` occurrences
    * of each distinct text, ranked by doc_id — the "natural
    * distribution" middle ground between no dedup and [[exactGroups]]'
    * single keeper (hard-deduping to one copy also deletes the
    * popularity signal; keeping a bounded few preserves it at bounded
    * cost — the trade discussed alongside exact substring dedup in the
    * Lee et al. 2021 line of work). Output is a per-doc audit:
    * (doc_id, fingerprint, copy_rank, kept). One hash, one window per
    * fingerprint group — no pair work.
    */
  def cappedDedup(docs: DataFrame, maxCopies: Long = 2L): DataFrame = {
    require(maxCopies >= 1, s"maxCopies must be >= 1, got $maxCopies")
    import org.apache.spark.sql.expressions.Window
    val byFp = Window.partitionBy("fingerprint").orderBy("doc_id")
    docs.select(col("doc_id"), md5(col("text")).as("fingerprint"))
      .withColumn("copy_rank", row_number().over(byFp).cast("long"))
      .withColumn("kept", (col("copy_rank") <= maxCopies).cast("bigint"))
  }

  /** Sorted-neighborhood near-dup pairs (Hernández-Stolfo SNM): sort
    * each blocking pass by a derived key, compare every record only
    * against its `windowSize − 1` successors in sort order, then verify
    * candidates with exact Jaccard — the classic linkage-era
    * alternative to hash blocking, useful when duplicates share a
    * PREFIX or SUFFIX but not necessarily any full shingle band.
    *
    * Two passes (the multi-pass design from the original paper): pass 0
    * sorts by the leading 4 words within first-word blocks, pass 1 by
    * the reversed trailing 4 words within last-word blocks — a pair
    * split across one pass's block boundary is recovered by the other
    * pass instead of by an unbounded sliding sort.
    *
    * Scale posture (100 TB): each pass is one shuffle on the block key
    * + `windowSize − 1` `lead()`s inside the partition-local sort — no
    * self-join, no global sort, candidate volume ≤ 2·(w−1)·n rows by
    * construction (the linear-output guarantee that makes SNM
    * attractive at scale); verification is candidate-proportional
    * ([[jaccardOfCandidates]], the q27 contract).
    */
  def sortedNeighborhoodPairs(docs: DataFrame, n: Int = 3,
      windowSize: Int = 5, threshold: Double = 0.7): DataFrame = {
    require(windowSize >= 2, s"windowSize must be >= 2, got $windowSize")
    import org.apache.spark.sql.expressions.Window
    val keyed = docs
      .select(col("doc_id"), expr(TextAnalysis.WordsExpr).as("w"))
      .filter(size(col("w")) >= 1)
    def pass(blk: Column, key: Column): DataFrame = {
      val win = Window.partitionBy("blk").orderBy("k", "doc_id")
      keyed.select(col("doc_id"), blk.as("blk"), key.as("k"))
        .select(col("doc_id"),
          array((1 until windowSize)
            .map(d => lead(col("doc_id"), d).over(win)): _*).as("nbrs"))
        .select(col("doc_id"), explode(col("nbrs")).as("nbr"))
        .filter(col("nbr").isNotNull)
        .select(least(col("doc_id"), col("nbr")).as("i"),
          greatest(col("doc_id"), col("nbr")).as("j"))
    }
    val cand = pass(element_at(col("w"), 1),
        concat_ws(" ", slice(col("w"), 1, 4)))
      .union(pass(element_at(col("w"), -1),
        concat_ws(" ", slice(reverse(col("w")), 1, 4))))
      .distinct()
    jaccardOfCandidates(Ckpt.narrowLazy(shingles(docs, n)), cand, threshold)
  }

  /** LSH band keys: (doc_id, b, band_key) with band_key = md5 of the
    * band's `rowsPerBand` minima joined in seed order. Projected straight
    * off the wide signature row — banding adds NO aggregation or shuffle
    * beyond the signature groupBy itself.
    */
  def lshBands(sh: DataFrame, numHashes: Int = 16, rowsPerBand: Int = 4): DataFrame =
    bandsOfWide(minhashWide(sh, numHashes), numHashes, rowsPerBand)

  /** Band-key projection off an existing wide signature frame — pure
    * narrow projection, no aggregation or shuffle of its own.
    */
  private def bandsOfWide(wide: DataFrame, numHashes: Int, rowsPerBand: Int): DataFrame = {
    // a trailing partial band would silently never form (losing the
    // recall its hashes paid for) — reject the configuration instead
    require(numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be a multiple of rowsPerBand ($rowsPerBand)")
    val nb = numHashes / rowsPerBand
    val bands = (0 until nb).map { b =>
      val ms = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(s => col(s"m$s").cast("string"))
      struct(lit(b.toLong).as("b"), md5(concat_ws(",", ms: _*)).as("band_key"))
    }
    wide
      .select(col("doc_id"), explode(array(bands: _*)).as("bb"))
      .select(col("doc_id"), col("bb.b").as("b"), col("bb.band_key").as("band_key"))
  }

  /** Same-bucket candidate pairs (i < j) from the banded signatures.
    *
    * `maxBucketSize` (default [[NearDupMaxBucket]]; 0 = unbounded, for
    * ground-truth comparisons only) is the LSH skew guard for corpus
    * scale: a single hot bucket of m docs contributes m(m−1)/2 candidate
    * pairs — at 100 TB one boilerplate bucket of 10⁶ docs would emit
    * 5·10¹¹ pairs and own the shuffle. Buckets above the cap are dropped
    * BEFORE the self-join (one extra aggregation over the narrow band
    * frame, no extra scan of anything wide). Recall note: run exact
    * dedup first (as [[Curation.curate]] does) so true duplicates are
    * already collapsed — the mega-buckets this drops are then boilerplate
    * collisions, whose pairs either fail verification or resurface via
    * the doc's other bands.
    */
  private[graft] def minhashCandidates(
      sh: DataFrame, numHashes: Int = 16, rowsPerBand: Int = 4,
      maxBucketSize: Int = NearDupMaxBucket): DataFrame =
    candidatesOfBands(lshBands(sh, numHashes, rowsPerBand), maxBucketSize)

  /** Key columns of a band frame: one bucket per (band, band_key). */
  private val BandKey = Seq("b", "band_key")

  /** Same-bucket pairs from a band frame (see [[minhashCandidates]] for
    * the skew-guard contract).
    */
  private def candidatesOfBands(
      bandFrame: DataFrame, maxBucketSize: Int, cut: Boolean = true): DataFrame =
    // the band frame feeds both sides of the bucket self-join (and the
    // skew-guard aggregation); cut the lineage so its producer pipeline
    // runs once, not per consumer. `cut = false` when the caller's frame
    // is already a narrow projection of checkpointed blocks — a second
    // eager materialization there is pure overhead
    Blocking.pairs(Blocking.cap(
      if (cut) Ckpt.narrowLazy(bandFrame) else bandFrame, BandKey, maxBucketSize),
      BandKey)

  /** LSH band-shape sensitivity curve: for rowsPerBand ∈ {2, 4, 8} over
    * the same 16 minhash permutations (bands = 16/r), the candidate
    * volume, the verified ≥ `threshold` pair count, and the resulting
    * precision — the measured evidence for choosing band shape (more
    * rows/band = fewer, more precise candidates) instead of folklore.
    * One shared shingle scan; each config is one band aggregation + the
    * shared verify tail, all skew-capped exactly as the production path.
    * ONE definition serves both the full-corpus rendering (q210) and
    * the hash-sampled rendering ([[bandCurveSampled]], q217) so the two
    * can never drift.
    *
    * SCALE POSTURE: the r=2 arm is the curve's reason to exist — 8
    * two-row bands collide near-quadratically on a large corpus
    * (measured: 1.93 exponent, 144 s at the 100× decade,
    * bench/scaling_r11_newq.json), scattered across small buckets the
    * skew cap cannot bind. Running THIS rendering on a full production
    * corpus is therefore a scale bug; tune the knob with
    * [[bandCurveSampled]], which bounds the corpus the curve sees.
    */
  def bandCurve(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.7): DataFrame =
    bandCurveOfShingles(Ckpt.narrowLazy(shingles(docs, n)), threshold)

  private def bandCurveOfShingles(sh: DataFrame, threshold: Double): DataFrame =
    Seq(2, 4, 8).map { r =>
      val cand = minhashCandidates(sh, numHashes = 16, rowsPerBand = r)
      cand.agg(count(lit(1)).as("n_candidates"))
        .crossJoin(jaccardOfCandidates(sh, cand, threshold)
          .agg(count(lit(1)).as("n_verified")))
        .select(lit(r.toLong).as("rows_per_band"),
          lit(16L / r).as("bands"), col("n_candidates"), col("n_verified"),
          when(col("n_candidates") > 0,
            expr("n_verified * 1000000 div n_candidates"))
            .as("precision_ppm"))
    }.reduce(_.unionByName(_)).orderBy("rows_per_band")

  /** [[bandCurveSampled]]'s default sample target and membership salt —
    * ONE definition interpolated into both the engine default and the
    * q217 oracle SQL (DedupQueries), so a default change can never
    * surface as an opaque hash-gate mismatch (r12 review finding).
    */
  val BandCurveTargetDocs: Long = 250L
  val BandCurveSalt: String = "band_curve"

  /** [[bandCurve]] over a deterministic hash sample of the corpus — the
    * scale-safe rendering of the band-shape tuning curve (VERDICT r11
    * ask #1). Membership = salted 60-bit md5 of doc_id mod 10⁶ <
    * derived ppm (the q56/q208 split-bucket contract: a doc's
    * membership never changes as OTHER docs come and go, across engines
    * and partitionings), with ppm DERIVED from the corpus count so the
    * sample targets `targetDocs` documents at ANY corpus size — pure
    * integer arithmetic (min(10⁶, targetDocs·10⁶ / n), one count()
    * job, the [[Similarity.derivedBits]] precedent) that an oracle
    * recomputes from its own count(*). The r=2 collision arm then runs
    * on a BOUNDED subcorpus: cost is sized by `targetDocs`, not the
    * corpus, so a 100 TB tuning probe stays constant-cost where the
    * full-corpus curve was the suite's one super-linear entry.
    *
    * Statistical contract: precision_ppm is a ratio metric over a
    * uniform doc sample — a valid, slightly noisier probe of the same
    * band-shape ordering (candidate/verified COUNTS scale ~ppm²; the
    * curve is read for its precision ORDERING, which sampling
    * preserves in expectation). Agreement law: on any corpus with ≤
    * `targetDocs` documents the derived ppm is 10⁶, the sample is the
    * whole corpus, and the output EQUALS [[bandCurve]]'s — spec-pinned
    * (DedupSpec), and exercised by the q217 gate at sf0.01 where the
    * 500-doc corpus samples to ~250 docs against an oracle that
    * reproduces the sample bit-for-bit.
    *
    * SIZING `targetDocs` (measured operating envelope, [[graft.BandAgreement]]
    * → bench/band_agreement_r13.json): because pair mass thins as ppm²,
    * a fixed target keeps ~(target/n)² of the corpus' pairs — at 10× the
    * gated corpus, target 250 retains ~1e-5 of pairs and the curve
    * degenerates (0 verified pairs everywhere); target 8000 reproduces
    * the full curve's precision ordering AND its pairwise direction
    * exactly. An operator sizes the target for pair confidence, not doc
    * coverage; cost stays bounded by the target whatever the corpus.
    */
  def bandCurveSampled(docs: DataFrame, targetDocs: Long = BandCurveTargetDocs,
      n: Int = 3, threshold: Double = 0.7,
      salt: String = BandCurveSalt): DataFrame = {
    // upper bound keeps targetDocs * 10^6 inside Long (9.2e18 / 1e6);
    // any real tuning target is orders of magnitude below it
    require(targetDocs >= 1 && targetDocs <= 1000000000000L,
      s"targetDocs must be in [1, 10^12], got $targetDocs")
    require(salt.nonEmpty && salt.forall(c =>
        (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
        (c >= '0' && c <= '9') || c == '_'),
      s"salt must be non-empty [A-Za-z0-9_], got '$salt'")
    val nDocs = docs.count()
    require(nDocs > 0, "bandCurveSampled: empty corpus")
    val ppm = math.min(1000000L, targetDocs * 1000000L / nDocs)
    val sampled = docs.filter(
      expr(h60(s"concat('${salt}_', cast(doc_id as string))"))
        % 1000000L < ppm)
    bandCurveOfShingles(Ckpt.narrowLazy(shingles(sampled, n)), threshold)
  }

  /** Full MinHash-LSH near-dup pipeline: shingle → signature → band →
    * same-bucket candidates → exact Jaccard verification ≥ `threshold`.
    *
    * The hashed shingle frame feeds every later step (signature build,
    * candidate-doc fetch or semi-join, both sides of the intersection
    * join), so it is locally checkpointed ONCE — 16 bytes/doc/shingle of
    * RDD blocks — and every consumer reads blocks instead of re-deriving
    * the text scan + shingle distinct. A/B at sf0.1 (warm, checkpoint
    * build inside the timer): q27 2.49s vs 2.72s re-derive, q29 3.08s vs
    * 3.70s, and q48 — where this frame's lineage is deepest — 7.7s
    * stable vs 11.7s+ degrading run-over-run.
    *
    * Two paths, one answer (rows, column types and nullability):
    *
    *  - Small band frames are capped, paired and verified on the driver.
    *    The band frame is cut (lazily), and one bounded collect fetches at
    *    most one band row (doc_id, b, band_key) more than the
    *    [[Labelled.Policy]] bound `bands` from the cut. When they fit,
    *    doc_id is `LongType` or `IntegerType` and no doc_id is null, the
    *    driver drops every bucket of more than `maxBucketSize` rows, forms
    *    the distinct i < j pairs of the surviving buckets, fetches the
    *    candidate docs' shingle rows with one more bounded collect, and
    *    counts (i, j, c, n_i, n_j) exactly as [[Blocking.overlapOf]] does.
    *    Those rows go through [[jaccardAtLeast]] as a local relation, so
    *    the division, threshold and rounding stay Spark's own, and the
    *    result is a local relation (its consumers never re-run the
    *    chain). The same bound caps the band rows, the distinct
    *    candidates and the shingle rows, and so driver memory (the
    *    bound's scaladoc gives the measured heap). Near-dup band frames are
    *    bands × docs rows (2,000 at sf0.01 with 25 candidates), so this
    *    is the common path; it replaces a chain of about 30 AQE
    *    stage-jobs with the band cut and two fetches, one job each at
    *    sf0.01.
    *  - Anything else (more band rows, candidates or shingle rows than
    *    the bound, another id type, a null doc_id) runs the distributed
    *    plan over the same band cut, so its signatures are not computed
    *    again: [[Blocking.cap]] drops hot buckets as a broadcast
    *    anti-join, [[Blocking.pairs]] self-joins the rest,
    *    [[Blocking.overlapOf]] verifies. The rows the driver path fetched
    *    before it fell back are thrown away.
    *
    * The cut and the fetches carry job descriptions (`Dedup.minhash:
    * band cut`, `fetch bands |B|<=<bands>`, then `verify <k> candidates
    * over <d> docs; cap <max> dropped <h> buckets, <r> band rows`), so
    * the skew guard's drops are counted in the job that follows them.
    * With no candidate left there is nothing to verify and no job runs.
    */
  def minhashPairs(
      docs: DataFrame, n: Int = 3, numHashes: Int = 16,
      rowsPerBand: Int = 4, threshold: Double = 0.7,
      maxBucketSize: Int = NearDupMaxBucket): DataFrame = {
    val sh = shingleCut(shingles(docs, n))
    val bands = bandCut(lshBands(sh, numHashes, rowsPerBand))
    val local = for {
      rows <- fetchBands(bands)
      bk = DriverBands(rows, maxBucketSize, bands.schema("doc_id"))
      cand <- bounded(bk.pairs)
      edges <- verifyOnDriver(sh, cand, bk, maxBucketSize, threshold)
    } yield edges
    releasedOr(local, sh, bands)(jaccardOfCandidates(sh,
      candidatesOfBands(bands, maxBucketSize, cut = false), threshold))
  }

  /** The lazy cut of a band frame that both paths read (the driver
    * path's fetch, or the distributed plan's cap and self-join), under
    * its own job description: the signature shuffle runs at the cut.
    */
  private def bandCut(bands: DataFrame): DataFrame =
    Labelled(bands, "Dedup.minhash: band cut")(Ckpt.narrowLazy(bands))

  /** The lazy cut of a shingle frame that the band cut and then the
    * verify step read, under its own job description: the shingle
    * distinct's shuffle runs at the cut.
    */
  private def shingleCut(sh: DataFrame): DataFrame =
    Labelled(sh, "Dedup.minhash: shingle cut")(Ckpt.narrowLazy(sh))

  /** A band frame fetched and capped on the driver: the surviving
    * buckets' distinct member ids (Long-cast, ascending), the skew
    * guard's counters, and the doc_id field (type and nullability).
    */
  private final case class DriverBands(
      buckets: Seq[Array[Long]], overCap: Int, droppedRows: Long, id: StructField) {

    /** (i, j), i < j, for every two docs sharing a bucket. */
    def pairs: Iterator[(Long, Long)] = buckets.iterator.flatMap(m =>
      m.indices.iterator.flatMap(x => (x + 1 until m.length).iterator.map(y => (m(x), m(y)))))

    /** (least, greatest) for every delta doc and other doc sharing a
      * bucket — [[deltaEdgesOf]]'s candidate join.
      */
    def deltaPairs(delta: Set[Long]): Iterator[(Long, Long)] = buckets.iterator.flatMap(m =>
      m.iterator.filter(delta).flatMap(d =>
        m.iterator.filter(_ != d).map(a => (math.min(a, d), math.max(a, d)))))

    /** The distinct `stored` pairs whose ends still share a surviving
      * bucket — [[unionEdgesOf]]'s re-validation join.
      */
    def revalidated(stored: Seq[(Long, Long)]): Seq[(Long, Long)] = {
      val ends = stored.flatMap(p => Seq(p._1, p._2)).toSet
      val at = scala.collection.mutable.HashMap.empty[Long, scala.collection.mutable.BitSet]
      for ((m, k) <- buckets.zipWithIndex; d <- m if ends(d))
        at.getOrElseUpdate(d, scala.collection.mutable.BitSet.empty) += k
      stored.distinct.filter { case (i, j) =>
        at.get(i).exists(bi => at.get(j).exists(bj => (bi & bj).nonEmpty))
      }
    }
  }

  private object DriverBands {
    /** [[Blocking.cap]]'s rule on the driver over the fetched band rows
      * of the docs `keep` accepts: a bucket of more than `maxBucketSize`
      * rows is dropped (`maxBucketSize <= 0` keeps all). A row with a
      * null b or band_key joins nothing and is never capped on either
      * path, so it is skipped.
      */
    def apply(rows: Array[Row], maxBucketSize: Int, id: StructField,
        keep: Long => Boolean = _ => true): DriverBands = {
      val buckets = rows.filter(r => !r.isNullAt(1) && !r.isNullAt(2) && keep(r.getLong(0)))
        .groupMap(r => (r.getLong(1), r.getString(2)))(_.getLong(0)).values.toSeq
      val (hot, kept) = buckets.partition(m => maxBucketSize > 0 && m.length > maxBucketSize)
      DriverBands(kept.map(_.distinct.sorted), hot.size, hot.map(_.length.toLong).sum, id)
    }
  }

  /** The driver path's first step: one bounded collect of the band frame
    * (doc_id Long-cast, b, band_key). None when the rows do not fit
    * under the `bands` bound, doc_id is not Long/Int, or a doc_id is null.
    */
  private def fetchBands(bands: DataFrame): Option[Array[Row]] =
    Labelled.fetch(bands, s"Dedup.minhash: fetch bands |B|<=${Labelled.Bands.value}",
      Labelled.Bands, Seq("doc_id"), col("b").cast("long"), col("band_key"))

  /** The incremental renderings' first steps: the band rows of both
    * days (one fetch), the delta's ids (a fetch that runs no job when
    * `deltaIds` is a local relation) and the union's capped buckets.
    */
  private def daysOnDriver(bandsAll: DataFrame, deltaIds: DataFrame,
      maxBucketSize: Int): Option[(Array[Row], Set[Long], DriverBands)] = for {
    rows <- fetchBands(bandsAll)
    delta <- Labelled.fetch(deltaIds,
      s"Dedup.minhash: fetch delta ids <=${Labelled.Bands.value}", Labelled.Bands, Seq("doc_id"))
  } yield (rows, delta.map(_.getLong(0)).toSet,
    DriverBands(rows, maxBucketSize, bandsAll.schema("doc_id")))

  /** The distinct pairs of `it`, sorted; None once more than the `bands`
    * bound.
    */
  private def bounded(it: Iterator[(Long, Long)]): Option[Array[(Long, Long)]] = {
    val small = Labelled.Bands.value
    val out = scala.collection.mutable.HashSet.empty[(Long, Long)]
    while (it.hasNext && out.size <= small) out += it.next()
    if (out.size <= small) Some(out.toArray.sorted) else None
  }

  /** The driver path's verify step: one bounded fetch of the candidate
    * docs' rows of `sh`, then per candidate c = matching (gh) row pairs,
    * n = each doc's row count — [[Blocking.overlapOf]]'s counts, pairs
    * with c = 0 absent — as a local relation through [[jaccardAtLeast]].
    * None when the rows do not fit under the `bands` bound. The fetch's
    * job description carries the candidate and skew-guard counters.
    */
  private def verifyOnDriver(sh: DataFrame, cand: Array[(Long, Long)],
      bk: DriverBands, maxBucketSize: Int, threshold: Double): Option[DataFrame] = {
    val docs = cand.flatMap(p => Array(p._1, p._2)).distinct
    // every banded doc has a shingle row, so more docs than the bound
    // cannot fit: fall back without the fetch
    val fetched =
      if (docs.isEmpty) Some(Array.empty[Row])
      else if (docs.length > Labelled.Bands.value) None
      else Labelled.fetch(sh.filter(col("doc_id").cast("long").isInCollection(docs.toSeq)),
        s"Dedup.minhash: verify ${cand.length} candidates over ${docs.length} docs; " +
          s"cap $maxBucketSize dropped ${bk.overCap} buckets, ${bk.droppedRows} band rows",
        Labelled.Bands, Seq("doc_id"), col("gh").cast("long"))
    fetched.map { rows =>
      val size = rows.groupMapReduce(_.getLong(0))(_ => 1L)(_ + _)
      val sets = rows.filter(!_.isNullAt(1))
        .groupMap(_.getLong(0))(_.getLong(1)).view.mapValues(_.sorted).toMap
      val none = Array.empty[Long]
      val counted = cand.iterator.flatMap { case (i, j) =>
        val c = sharedRows(sets.getOrElse(i, none), sets.getOrElse(j, none))
        if (c > 0) Some(Seq(i, j, c, size(i), size(j))) else None
      }.toSeq
      val t = bk.id.dataType
      jaccardAtLeast(Labelled.local(sh, StructType(Seq(
        StructField("i", t, bk.id.nullable), StructField("j", t, bk.id.nullable),
        StructField("c", LongType, nullable = false),
        StructField("n_i", LongType, nullable = false),
        StructField("n_j", LongType, nullable = false))), counted), threshold)
    }
  }

  /** Matching row pairs of two ascending gh arrays (an equi-join count:
    * a value held r times on one side and s times on the other adds r·s).
    */
  private def sharedRows(a: Array[Long], b: Array[Long]): Long = {
    var (x, y, c) = (0, 0, 0L)
    while (x < a.length && y < b.length) {
      if (a(x) < b(y)) x += 1
      else if (a(x) > b(y)) y += 1
      else {
        val v = a(x)
        val x0 = x
        val y0 = y
        while (x < a.length && a(x) == v) x += 1
        while (y < b.length && b(y) == v) y += 1
        c += (x - x0).toLong * (y - y0)
      }
    }
    c
  }

  /** The driver path's frame when it produced one (releasing the
    * shingle and band cuts: nothing reads them again), else
    * `distributed`, which reads both cuts.
    */
  private def releasedOr(local: Option[DataFrame], sh: DataFrame, bands: DataFrame)(
      distributed: => DataFrame): DataFrame = local match {
    case Some(df) => Ckpt.release(sh); Ckpt.release(bands); df
    case None => distributed
  }

  /** The engine's ONE canonical near-dup edge definition — every surface
    * that consumes near-dup pairs (q42 keep/drop verdicts, q47 connected
    * components, q48 curation) calls this, so the shingle width, hash
    * count, banding, verification threshold and skew cap cannot drift
    * apart between them. The [[NearDupMaxBucket]] guard is ON here: this
    * is the path a 100 TB curation run takes, so it runs with the
    * bucket cap a 100 TB corpus needs (and the oracle mirrors).
    *
    * It takes [[minhashPairs]]' two paths: a band frame under the
    * [[Labelled.Policy]] bound `bands` with Long/Int ids and no null
    * doc_id is capped, paired and verified on the driver (two bounded
    * fetches, a local-relation result); anything else runs the
    * distributed plan. The skew cap is the policy's `maxBucket`.
    */
  def nearDupEdges(docs: DataFrame): DataFrame =
    minhashPairs(docs, 3, 16, 4, 0.7, Labelled.policy.maxBucket)

  /** Incremental near-dup edges: the ingest-time rendering of
    * [[nearDupEdges]]. Given the existing `corpus` and a `delta` of new
    * documents (doc_id sets MUST be disjoint), returns exactly the
    * verified near-dup pairs that TOUCH the delta — i.e.
    * `nearDupEdges(corpus ∪ delta)` restricted to pairs with ≥ 1 delta
    * endpoint — without ever forming a corpus-side self-join.
    *
    * Why this is the 100 TB daily-ingest shape: bands are an equi-keyed
    * index, so joining the full band frame against ONLY the delta's
    * bands prunes every bucket the delta doesn't touch; candidate volume
    * tracks the delta and its collisions, not the corpus pair space.
    * This rendering re-derives the corpus frames in-query (self-
    * contained, for oracle gating); the production shape is
    * [[writeIndex]] / [[loadIndex]] + [[incrementalNearDupEdgesIndexed]],
    * where the corpus side is a stored parquet index and only the NEW
    * docs are scanned — the delta then costs one scan of the new docs
    * plus bucket-local joins. Same skew cap, threshold and verification
    * as the canonical path, so verdicts never drift from what a
    * from-scratch run would say.
    *
    * Same two paths as [[minhashPairs]]: the driver path also fetches the
    * delta's ids (under the same `bands` bound, none null) and pairs each
    * delta doc with every other member of its surviving buckets.
    */
  def incrementalNearDupEdges(
      corpus: DataFrame, delta: DataFrame, n: Int = 3, numHashes: Int = 16,
      rowsPerBand: Int = 4, threshold: Double = 0.7,
      maxBucketSize: Int = NearDupMaxBucket): DataFrame = {
    // per-doc derivations, so union-of-shingles == shingles-of-union
    val shAll = shingleCut(shingles(corpus, n).union(shingles(delta, n)))
    incrementalEdgesOf(shAll, bandCut(lshBands(shAll, numHashes, rowsPerBand)),
      delta.select("doc_id"), threshold, maxBucketSize)
  }

  /** The delta-side candidate join + verification shared by the
    * recompute-in-query and stored-index renderings of incremental
    * near-dup: cap the combined band frame (cut), restrict one join
    * side to the delta's bands, verify exact Jaccard over the combined
    * shingles — on the driver when the frames fit, else distributed.
    */
  private def incrementalEdgesOf(
      shAll: DataFrame, bandsAll: DataFrame, deltaIds: DataFrame,
      threshold: Double, maxBucketSize: Int, ckptPruned: Boolean = false): DataFrame = {
    val local = for {
      (_, delta, bk) <- daysOnDriver(bandsAll, deltaIds, maxBucketSize)
      cand <- bounded(bk.deltaPairs(delta))
      edges <- verifyOnDriver(shAll, cand, bk, maxBucketSize, threshold)
    } yield edges
    releasedOr(local, shAll, bandsAll)(deltaEdgesOf(shAll,
      Blocking.cap(bandsAll, BandKey, maxBucketSize), deltaIds,
      threshold, ckptPruned))
  }

  private def deltaEdgesOf(
      shAll: DataFrame, cappedBands: DataFrame, deltaIds: DataFrame,
      threshold: Double, ckptPruned: Boolean = false): DataFrame = {
    val bands = cappedBands
    val bandsD = bands.join(deltaIds, Seq("doc_id"), "left_semi")
    val cand = bands.as("a")
      .join(bandsD.as("d"),
        col("a.b") === col("d.b") && col("a.band_key") === col("d.band_key") &&
          col("a.doc_id") =!= col("d.doc_id"))
      .select(least(col("a.doc_id"), col("d.doc_id")).as("i"),
        greatest(col("a.doc_id"), col("d.doc_id")).as("j"))
      .distinct()
    jaccardOfCandidates(shAll, cand, threshold, ckptPruned)
  }

  /** The COMPLETE edge set of `nearDupEdges(corpus ∪ delta)` (as (i, j)
    * pairs), assembled incrementally from yesterday's stored edges plus
    * delta-proportional work: stored corpus edges are RE-VALIDATED
    * against the union's bucket caps (kept only if the pair still shares
    * ≥ 1 surviving band bucket), then unioned with the delta-touching
    * edges.
    *
    * Why this is exactly the from-scratch result: a doc's band keys are
    * a pure function of its text and never change, and bucket sizes only
    * GROW as the delta joins — so a bucket surviving the post-union cap
    * was surviving pre-delta too, meaning (a) every re-validated stored
    * pair is a candidate the from-scratch run generates and has already
    * verified, and (b) every from-scratch corpus–corpus pair shared a
    * surviving bucket yesterday and is therefore in the stored edges.
    * Re-validation drops precisely the pairs whose every shared bucket
    * outgrew the cap — the pairs a from-scratch run would never
    * generate. The previously documented skew-cap corner is thereby
    * closed: incremental ≡ from-scratch holds UNCONDITIONALLY (the
    * q64/q71 hash gates check it against the from-scratch SQL).
    *
    * Contract: `corpusEdges` must be `nearDupEdges(corpus)` (same
    * parameters); re-validation cost is |edges| × bands-per-doc equi-join
    * rows — edge-proportional, never corpus-quadratic.
    *
    * Same two paths as [[minhashPairs]]. The driver path also fetches the
    * delta's ids (no job when they are a local relation) and the stored
    * edges under the same `bands` bound (ids Long/Int and none null; the
    * stored ends of the band frame's id type), keeps each stored pair
    * that still shares a surviving bucket, and returns those rows
    * followed by the verified delta-touching pairs as one local relation
    * with the distributed union's schema.
    */
  def revalidatedUnionEdges(
      corpus: DataFrame, delta: DataFrame, corpusEdges: DataFrame,
      n: Int = 3, numHashes: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.7, maxBucketSize: Int = NearDupMaxBucket): DataFrame = {
    val shAll = shingleCut(shingles(corpus, n).union(shingles(delta, n)))
    unionEdgesOf(shAll, bandCut(lshBands(shAll, numHashes, rowsPerBand)),
      delta.select("doc_id"), Some(corpusEdges), threshold, maxBucketSize)
  }

  /** The edge set of `nearDupEdges(kept)` (as (i, j) pairs, with
    * `maxBucketSize` as the skew cap) where `kept` holds two days' docs
    * and `deltaIds` names the second day's, built by
    * [[revalidatedUnionEdges]]' law: yesterday's edges re-validated
    * against the union's caps, plus the delta-touching edges.
    * Yesterday's edges are the `stored` ones or, when None, derived in
    * the same pass: the pairs of the buckets of the docs not in
    * `deltaIds`, capped at those corpus-only sizes, then verified. Both
    * days share one shingle cut and one band cut. On the driver path
    * they also share one band fetch and one verify fetch for both
    * candidate sets, and a local-relation `deltaIds` (the curation
    * gates' keeper set) is read without a job. The distributed fallback
    * derives yesterday's edges from the band cut anti-joined with
    * `deltaIds`, then runs the stored-edge composition.
    */
  private[operators] def unionEdges(kept: DataFrame, deltaIds: DataFrame,
      stored: Option[DataFrame], maxBucketSize: Int): DataFrame = {
    val sh = shingleCut(shingles(kept))
    unionEdgesOf(sh, bandCut(lshBands(sh)), deltaIds, stored, 0.7, maxBucketSize)
  }

  /** [[revalidatedUnionEdges]] over a stored [[DedupIndex]] — the corpus
    * side reads its parquet index frames; only delta text is shingled.
    */
  def revalidatedUnionEdgesIndexed(
      index: DedupIndex, delta: DataFrame, corpusEdges: DataFrame,
      threshold: Double = 0.7, maxBucketSize: Int = NearDupMaxBucket): DataFrame = {
    val (shAll, bandsAll) = indexedUnionFrames(index, delta)
    unionEdgesOf(shAll, bandsAll,
      delta.select("doc_id"), Some(corpusEdges), threshold, maxBucketSize, ckptPruned = true)
  }

  private def unionEdgesOf(
      shAll: DataFrame, bandsAll: DataFrame, deltaIds: DataFrame,
      stored: Option[DataFrame], threshold: Double, maxBucketSize: Int,
      ckptPruned: Boolean = false): DataFrame = {
    val id = bandsAll.schema("doc_id")
    val local = for {
      storedRows <- stored.fold(Option(Array.empty[Row])) { e =>
        if (Seq("i", "j").exists(c => e.schema(c).dataType != id.dataType)) None
        else Labelled.fetch(e, s"Dedup.minhash: fetch stored edges <=${Labelled.Bands.value}",
          Labelled.Bands, Seq("i", "j"))
      }
      (rows, delta, bk) <- daysOnDriver(bandsAll, deltaIds, maxBucketSize)
      fresh <- bounded(bk.deltaPairs(delta))
      // yesterday's candidates when none are stored: the corpus-only
      // buckets, capped at the corpus-only sizes
      old <- if (stored.isDefined) Some(Array.empty[(Long, Long)])
        else bounded(DriverBands(rows, maxBucketSize, id, d => !delta(d)).pairs)
      verified <- verifyOnDriver(shAll, old ++ fresh, bk, maxBucketSize, threshold)
    } yield {
      val ok = verified.select(col("i").cast("long"), col("j").cast("long")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val yesterday = storedRows.toSeq.map(r => (r.getLong(0), r.getLong(1))) ++ old.filter(ok)
      val kept = (bk.revalidated(yesterday) ++ fresh.filter(ok)).map { case (i, j) => Seq(i, j) }
      // a union column is nullable when either side's is
      def field(c: String) = StructField(c, id.dataType,
        stored.exists(_.schema(c).nullable) || id.nullable)
      Labelled.local(shAll, StructType(Seq(field("i"), field("j"))), kept)
    }
    releasedOr(local, shAll, bandsAll) {
      val bands = Blocking.cap(bandsAll, BandKey, maxBucketSize)
      val corpusEdges = stored.getOrElse(jaccardOfCandidates(shAll, candidatesOfBands(
        bandsAll.join(deltaIds, Seq("doc_id"), "left_anti"), maxBucketSize, cut = false),
        threshold, ckptPruned))
      // stored pairs that still share a surviving bucket (class doc above)
      val revalidated = corpusEdges.select(col("i"), col("j"))
        .join(bands.as("x"), col("i") === col("x.doc_id"))
        .join(bands.as("y"),
          col("j") === col("y.doc_id") && col("x.b") === col("y.b") &&
            col("x.band_key") === col("y.band_key"))
        .select(col("i"), col("j"))
        .distinct()
      revalidated.union(
        deltaEdgesOf(shAll, bands, deltaIds, threshold, ckptPruned)
          .select(col("i"), col("j")))
    }
  }

  /** A persisted near-dup index: the hashed-shingle and band frames the
    * incremental operators name as their stored artifacts, plus the
    * parameters they were derived with (so a load can't silently mix
    * incompatible shingle widths or band layouts).
    *
    * This is the production storage contract behind
    * [[incrementalNearDupEdges]]: [[writeIndex]] is yesterday's curation
    * job persisting its narrow frames; [[loadIndex]] +
    * [[incrementalNearDupEdgesIndexed]] is today's ingest reading them
    * back — the corpus text is never rescanned or re-shingled, so the
    * daily pass costs one scan of the NEW docs plus bucket-local joins
    * (delta-proportional, not corpus-proportional).
    */
  final case class DedupIndex(
      shingles: DataFrame, bands: DataFrame,
      n: Int, numHashes: Int, rowsPerBand: Int)

  /** Build the index frames in memory (the non-persisted rendering —
    * exactly the frames [[incrementalNearDupEdges]] derives per query).
    */
  def buildIndex(docs: DataFrame, n: Int = 3, numHashes: Int = 16,
      rowsPerBand: Int = 4): DedupIndex = {
    val sh = Ckpt.narrowLazy(shingles(docs, n))
    DedupIndex(sh, lshBands(sh, numHashes, rowsPerBand), n, numHashes, rowsPerBand)
  }

  /** Persist the near-dup index of `docs` under `dir`: parquet of the
    * (doc_id, gh) shingle frame, the (doc_id, b, band_key) band frame,
    * and a one-row parameter manifest. At cluster scale both frames are
    * narrow (8–16 bytes/row before encoding) — the write is a fraction
    * of the shingle scan that produced them; a production layout would
    * additionally bucket `bands` by band_key so the next ingest's
    * candidate join is co-located without a shuffle.
    */
  def writeIndex(docs: DataFrame, dir: String, n: Int = 3,
      numHashes: Int = 16, rowsPerBand: Int = 4): Unit = {
    // lazy: the shingle write itself is the materializing action; the
    // band write then reads the persisted blocks
    val sh = Ckpt.narrowLazy(shingles(docs, n))
    try compactIndex(
      DedupIndex(sh, lshBands(sh, numHashes, rowsPerBand),
        n, numHashes, rowsPerBand), dir)
    finally Ckpt.release(sh)
  }

  /** Write a [[DedupIndex]]'s frames in the canonical [[writeIndex]]
    * layout — the ONE definition of that layout, used by [[writeIndex]]
    * for fresh builds and directly for compacting an accumulated
    * batch-partitioned ingest index (the
    * [[graft.streaming.Streams]] `ingestNearDup` artifact shape, or any
    * union of delta indexes) back into the canonical shape — the
    * maintenance job that keeps a long-running ingest's probe cost flat
    * instead of growing with batch count (the [[graft.operators.TextIndex.compact]]
    * sibling on the dedup tier).
    */
  def compactIndex(index: DedupIndex, dir: String): Unit = {
    index.shingles.write.mode("overwrite").parquet(s"$dir/shingles")
    index.bands.write.mode("overwrite").parquet(s"$dir/bands")
    index.shingles.sparkSession.range(1)
      .select(lit(index.n).as("n"), lit(index.numHashes).as("num_hashes"),
        lit(index.rowsPerBand).as("rows_per_band"))
      .write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Load a [[writeIndex]] artifact. The frames come back as plain
    * parquet scans — no checkpoint needed, they are already materialized
    * storage.
    */
  def loadIndex(spark: org.apache.spark.sql.SparkSession, dir: String): DedupIndex = {
    val m = spark.read.parquet(s"$dir/meta").head
    DedupIndex(
      spark.read.parquet(s"$dir/shingles"),
      spark.read.parquet(s"$dir/bands"),
      m.getAs[Int]("n"), m.getAs[Int]("num_hashes"), m.getAs[Int]("rows_per_band"))
  }

  /** [[incrementalNearDupEdges]] over a stored corpus index: identical
    * output (differentially tested), but the corpus side contributes
    * only parquet scans of its narrow index frames — the delta's docs
    * are the only text shingled this run.
    */
  def incrementalNearDupEdgesIndexed(
      index: DedupIndex, delta: DataFrame, threshold: Double = 0.7,
      maxBucketSize: Int = NearDupMaxBucket): DataFrame = {
    val (shAll, bandsAll) = indexedUnionFrames(index, delta)
    // shAll is a LAZY parquet union here — verify on the pruned ckpt
    incrementalEdgesOf(shAll, bandsAll,
      delta.select("doc_id"), threshold, maxBucketSize, ckptPruned = true)
  }

  /** (index ∪ delta) shingle and band frames for the incremental
    * paths. Only the DELTA side is checkpointed: the index side is
    * already materialized parquet, and eagerly checkpointing the full
    * union made every probe pay a corpus-sized copy — linear in the
    * CORPUS where the whole point of the index is delta-proportional
    * work (measured at the 100× ingest probe: ~25 s/probe against a
    * 500k-doc index, `bench/ingest_probe_r12_100x.json`, vs 3.5 s at
    * 30× — the flat-probe claim failed at the decade). The shingle
    * union stays LAZY; verification prunes it to candidate docs and
    * checkpoints THAT (`jaccardOfCandidates(ckptPruned = true)`), so
    * the only corpus-proportional work left is single narrow parquet
    * scans. The band union is checkpointed as before — it is two
    * orders of magnitude narrower (bands/doc rows, no gh sets) and feeds
    * the driver path's band fetch, or the skew-cap agg plus both
    * candidate-join sides.
    */
  private def indexedUnionFrames(
      index: DedupIndex, delta: DataFrame): (DataFrame, DataFrame) = {
    val shD = Ckpt.narrowLazy(shingles(delta, index.n))
    (index.shingles.union(shD),
      bandCut(index.bands.union(lshBands(shD, index.numHashes, index.rowsPerBand))))
  }

  /** Estimated-Jaccard near-dup pairs: the pure-sketch tier above
    * [[minhashPairs]]. Candidates come from the same banded buckets, but
    * verification is the signature agreement fraction (matching minima /
    * numHashes — an unbiased Jaccard estimator, ±~1/√numHashes), so the
    * verify step touches ONLY the 8-byte-per-hash signature rows and
    * never rejoins the shingle sets. At 100 TB this is the tier to run
    * when even candidate-restricted exact verification is too expensive:
    * cost = one signature aggregation + an equi bucket join + a
    * per-candidate row lookup — nothing proportional to document size
    * past the first scan. Deterministic (fixed md5-derived permutations),
    * so the DuckDB oracle reproduces every estimate bit-for-bit.
    */
  def minhashEstimatePairs(
      docs: DataFrame, n: Int = 3, numHashes: Int = 16,
      rowsPerBand: Int = 4, threshold: Double = 0.5,
      maxBucketSize: Int = NearDupMaxBucket): DataFrame = {
    // ONE signature aggregation serves banding AND both verify sides
    val wide = Ckpt.narrowLazy(minhashWide(shingles(docs, n), numHashes))
    val agree = (0 until numHashes)
      .map(s => when(col(s"a.m$s") === col(s"b.m$s"), 1L).otherwise(0L))
      .reduce(_ + _)
    candidatesOfBands(bandsOfWide(wide, numHashes, rowsPerBand), maxBucketSize, cut = false)
      .join(wide.as("a"), col("i") === col("a.doc_id"))
      .join(wide.as("b"), col("j") === col("b.doc_id"))
      .select(col("i"), col("j"),
        (agree.cast("double") / numHashes).as("est"))
      .filter(col("est") >= threshold)
      .select(col("i"), col("j"), round(col("est"), 4).as("est_jaccard"))
  }

  /** SimHash: 60-bit signature per doc. Bit b of the signature is the
    * sign of the sum over shingles of ±1 depending on bit b of the
    * shingle hash `gh` — the shingle hash IS the bit source; no second
    * hash pass.
    */
  def simhashSignatures(docs: DataFrame, n: Int = 3): DataFrame = {
    // One aggregation pass: 60 conditional ±1 sums (one per signature
    // bit) in a single groupBy — no row explosion, so the shuffle moves
    // one row per (doc, shingle), not 60. The bit columns then fold into
    // the signature in a plain projection.
    val bitSums = (0 until 60).map { b =>
      sum(expr(s"case when (shiftright(gh, $b) & 1) = 1 then 1 else -1 end")).as(s"b$b")
    }
    val sigExpr = (0 until 60)
      .map(b => s"shiftleft(cast(case when b$b > 0 then 1 else 0 end as bigint), $b)")
      .mkString(" + ")
    shingles(docs, n).groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), expr(sigExpr).as("simhash"))
  }

  /** Candidate pairs within `maxHamming` bits by pigeonhole blocking
    * (Manku et al., WWW'07 shape), never the all-pairs cross join:
    *
    *   - tight bounds (block width 60/(d+1) ≥ 8 bits): split into d+1
    *     contiguous blocks; any pair within distance d agrees exactly on
    *     at least one block, so candidates share a (block, value) key.
    *   - loose bounds (width < 8 bits — e.g. the default d=10, where
    *     5-bit keys would admit ~n²/32 of the pair space): split into
    *     d+2 blocks; within distance d at most d blocks differ, so at
    *     least TWO agree, and candidates share a (block-pair, value-pair)
    *     key — C(d+2, 2) keys of doubled width (~10 bits at d=10),
    *     squaring the per-key selectivity at the cost of more key rows.
    *
    * Both shapes are equi self-joins with no false negatives by
    * construction. Carries (simhash_i, simhash_j) through for exact
    * verification.
    *
    * `maxKeySize` (default [[NearDupMaxBucket]] via [[simhashPairs]];
    * 0 = off, for ground-truth comparisons only)
    * is the same skew guard as the minhash band cap: a boilerplate
    * cluster of m near-identical signatures shares most block keys and
    * contributes ~m(m−1)/2 candidates per shared key, so one hot key of
    * 10⁶ docs owns the shuffle at corpus scale. Keys above the cap are
    * dropped BEFORE the self-join. Trade: pairs whose every common key
    * is oversized are lost — i.e. members of a mega-cluster — which is
    * the explicit point of capping; pairs with any small shared key
    * survive.
    */
  private[graft] def simhashCandidates(
      sig: DataFrame, maxHamming: Int, maxKeySize: Int = 0): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 58, s"maxHamming $maxHamming out of range")
    def blockVal(k: Int, m: Int): String = {
      val lo = k * 60 / m
      val width = (k + 1) * 60 / m - lo
      s"shiftright(simhash, $lo) & ${(1L << width) - 1}"
    }
    val keys: Seq[Column] =
      if (60 / (maxHamming + 1) >= 8) {
        val m = maxHamming + 1
        (0 until m).map(k =>
          struct(lit(k.toLong).as("k1"), lit(-1L).as("k2"),
            expr(blockVal(k, m)).as("v1"), lit(0L).as("v2")))
      } else {
        val m = maxHamming + 2
        for { k1 <- 0 until m; k2 <- k1 + 1 until m } yield
          struct(lit(k1.toLong).as("k1"), lit(k2.toLong).as("k2"),
            expr(blockVal(k1, m)).as("v1"), expr(blockVal(k2, m)).as("v2"))
      }
    val blocked = sig.select(col("doc_id"), col("simhash"),
      explode(array(keys: _*)).as("blk"))
    Blocking.pairs(Blocking.cap(blocked, Seq("blk"), maxKeySize), Seq("blk"),
      carry = Seq("simhash"))
  }

  /** Near-dup pairs by SimHash Hamming distance ≤ `maxHamming`:
    * pigeonhole-blocked candidates ([[simhashCandidates]]), then exact
    * Hamming verification. The (doc_id, simhash) frame — 16 bytes/doc —
    * is locally checkpointed before the blocked self-join so the
    * signature pipeline (text scan + shingle distinct + 60-sum groupBy)
    * runs ONCE, not once per join side.
    *
    * The [[NearDupMaxBucket]] skew guard is ON by default — same policy
    * as the minhash tier: this is the path a corpus-scale run takes, so
    * it ships with the hot-key cap a 100 TB corpus needs, and q29's
    * DuckDB oracle mirrors the blocked+capped candidate generation
    * ([[graft.queries.DedupQueries]]) so the capped path is what the
    * hash gate checks. The brute-force no-false-negatives law survives
    * as a DedupSpec test (cap can't trip at that test's density).
    * `maxKeySize = 0` disables the guard for ground-truth comparisons.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 10, n: Int = 3,
      maxKeySize: Int = NearDupMaxBucket): DataFrame = {
    val sig = Ckpt.narrowLazy(simhashSignatures(docs, n))
    simhashCandidates(sig, maxHamming, maxKeySize)
      .select(col("i"), col("j"),
        expr("cast(bit_count(simhash_i ^ simhash_j) as bigint)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Sub-document exact dedup at chunk grain — the line-dedup pass of
    * web-corpus pipelines, rendered over fixed `size`-char chunks since
    * this corpus has no line structure: the FIRST occurrence (minimal
    * (doc_id, chunk_id)) of each distinct chunk text is kept, every
    * later occurrence drops, and each doc reassembles its kept chunks
    * in order into `text_clean` alongside kept/total counts. Exact
    * duplicate docs keep one full copy and shrink to nothing elsewhere;
    * shared boilerplate spans drop everywhere but their first sighting.
    * Complements [[boilerplateGrams]] (which builds a frequency
    * blocklist, not a rewrite) and doc-level [[exactGroups]].
    *
    * Scale shape: chunking is a linear explode (~bytes/size rows);
    * first-occurrence is a partial-aggregated min-struct per full-md5
    * chunk hash — map-side combine absorbs a boilerplate chunk sitting
    * in millions of docs, where a window over the hash would put that
    * hash's every occurrence in one task — then an equi-join back (AQE
    * skew-split applies) and one doc_id agg. Full md5 (not the 60-bit
    * dedup hash) because a collision here REWRITES text, not just
    * over-groups a candidate pair.
    */
  def chunkDedup(docs: DataFrame, size: Int = 200): DataFrame = {
    val ch = TextAnalysis.chunk(docs, size, overlap = 0)
      .select(col("doc_id"), col("chunk_id"), col("chunk"),
        md5(col("chunk")).as("h"))
    val first = ch.groupBy("h")
      .agg(min(struct(col("doc_id"), col("chunk_id"))).as("f"))
    ch.join(first, "h")
      .withColumn("kept",
        (col("doc_id") === col("f.doc_id") &&
          col("chunk_id") === col("f.chunk_id")).cast("bigint"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("kept")).as("n_kept"),
        expr("array_join(transform(array_sort(collect_list(" +
          "case when kept = 1 then struct(chunk_id, chunk) end)), " +
          "x -> x.chunk), '')").as("text_clean"))
  }

  /** Eval-set decontamination: per corpus document, how many distinct
    * word n-grams it shares with a held-out eval corpus, and a
    * contaminated flag at `minShared` — the overlap screen run before
    * training so benchmark text can't leak into the train set (the
    * complement of the q69 audit, which checks INTERNAL split leakage
    * through near-dup edges; this screens against an EXTERNAL corpus on
    * raw n-gram collision, the standard published procedure).
    *
    * Scale shape: eval benchmarks are tiny next to a training corpus,
    * so the eval side reduces to a broadcast distinct-gram set and the
    * pass is one corpus shingle scan + a broadcast semi-probe + a
    * doc_id count — nothing proportional to corpus pairs. If the eval
    * side ever isn't broadcastable, drop the hint and the same plan
    * runs as a linear gram equi-join. Every doc gets a row (zero
    * shared grams included) so the screen is a total audit, not just a
    * blocklist.
    */
  def evalOverlap(corpus: DataFrame, eval: DataFrame, n: Int = 3,
      minShared: Long = 1L): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val evGrams = broadcast(shingles(eval, n).select("gh").distinct())
    val counts = shingles(corpus, n).join(evGrams, "gh")
      .groupBy("doc_id").agg(count(lit(1)).as("_c"))
    corpus.select(col("doc_id")).join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("_c"), lit(0L)).as("shared_grams"),
        (coalesce(col("_c"), lit(0L)) >= minShared)
          .cast("bigint").as("contaminated"))
  }

  /** Positional word n-gram shingles: (doc_id, pos, gh) with `pos` the
    * 0-based gram offset — the ORDERED rendering of [[shingles]]
    * (duplicates and order kept) that position-sensitive operators
    * (winnowing) consume. Same token model, same hash-at-birth width
    * discipline: downstream moves 24-byte rows, never gram strings.
    */
  private[graft] def positionalShingles(docs: DataFrame, n: Int): DataFrame = {
    val gram = (0 until n).map(k => s"w[i+$k]").mkString("concat_ws(' ', ", ", ", ")")
    Spread(docs)
      .select(col("doc_id"),
        expr(TextAnalysis.WordsExpr).as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"),
        posexplode(expr(s"transform(sequence(0, size(w) - $n), i -> $gram)")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        expr(h60("col")).as("gh"))
  }

  /** Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken, SIGMOD
    * 2003 — the reference's word model swapped in for char k-grams): from
    * each window of `w` consecutive gram hashes keep the minimum, ties
    * broken by RIGHTMOST position (the robust-winnowing rule, so runs of
    * equal hashes re-select one fingerprint, not w). Guarantee: any
    * shared run of >= n + w - 1 consecutive words surfaces at least one
    * shared fingerprint; expected density 2/(w+1) of positions — the
    * sub-linear sketch that makes pairwise overlap detection affordable
    * where the full posting list ([[ngramJaccardPairs]]) is not.
    *
    * Shape: one positional-shingle scan, a w-way window fan-out (w rows
    * per gram, w small), one (doc_id, window) arg-min. The per-doc count
    * window partitions by doc_id — bounded by max document length, the
    * same grain the tokenizer itself already pays. Docs shorter than
    * n + w - 1 words still fingerprint: every position falls in the one
    * window starting at 0.
    */
  def winnowedFingerprints(docs: DataFrame, n: Int = 3, w: Int = 4): DataFrame = {
    require(w >= 1, s"window must be >= 1, got $w")
    import org.apache.spark.sql.expressions.Window
    val ps = positionalShingles(docs, n)
      .withColumn("np", count(lit(1)).over(Window.partitionBy("doc_id")))
    val inWindows = ps
      .select(col("doc_id"), col("pos"), col("gh"), col("np"),
        explode(expr(s"sequence(0L, ${w - 1}L)")).as("off"))
      .withColumn("s", col("pos") - col("off"))
      .filter(col("s") >= 0 && col("s") <= greatest(col("np") - w, lit(0L)))
    val rn = Window.partitionBy("doc_id", "s")
      .orderBy(col("gh").asc, col("pos").desc)
    inWindows
      .withColumn("rn", row_number().over(rn))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("gh")).distinct()
  }

  /** Document pairs sharing >= `minShared` winnowed fingerprints, scored
    * by fingerprint containment |F_a ∩ F_b| / min(|F_a|, |F_b|) — the
    * MOSS-style overlap report. The posting-list self-join runs over the
    * ~2/(w+1)-density fingerprint sets, not the full shingle lists, and
    * fingerprints appearing in more than `maxPostings` docs are dropped
    * first (boilerplate stop-fingerprints — the house hot-key guard,
    * mirrored in the oracle): pair work tracks genuine shared content,
    * never a viral snippet's posting list squared.
    */
  def winnowingPairs(docs: DataFrame, n: Int = 3, w: Int = 4,
      minShared: Long = 3L, maxPostings: Long = 1000L): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxPostings >= 2, s"maxPostings must be >= 2, got $maxPostings")
    val fp = winnowedFingerprints(docs, n, w)
    Blocking.overlap(Blocking.cap(fp, Seq("gh"), maxPostings), fp)
      .filter(col("c") >= minShared)
      .select(col("i").as("doc_a"), col("j").as("doc_b"), col("c").as("shared"),
        col("n_i").as("nfp_a"), col("n_j").as("nfp_b"),
        round(col("c").cast("double") /
          least(col("n_i"), col("n_j")), 4).as("overlap"))
  }

  /** Exact maximal shared token runs between document pairs — the
    * substring-dedup grain (Lee et al. 2021, "Deduplicating Training
    * Data Makes Language Models Better": verbatim repeated SEQUENCES,
    * not whole near-dup documents, drive memorization; doc-level tiers
    * structurally miss a 200-token quote inside two otherwise-unrelated
    * pages). Where that work builds a corpus suffix array, the
    * distributed rendering is diagonal run assembly over the positional
    * gram matches: two docs share a verbatim run of L >= n consecutive
    * words iff their positional n-gram shingles match at L-n+1
    * consecutive positions with a CONSTANT offset pos_i - pos_j (the
    * "diagonal", as in a dot-plot alignment). So:
    *
    *   positional shingles -> stop-gram guard -> equi-join on gh ->
    *   gaps-and-islands per (i, j, diagonal) -> one run row per island.
    *
    * Each output row is one MAXIMAL shared run: (i, j, start_i, start_j,
    * run_tokens) with run_tokens = matching grams + n - 1 (a run of L
    * tokens yields L-n+1 consecutive gram matches). Runs shorter than
    * `minRun` tokens are dropped — the tier's whole point is long
    * verbatim spans, and the floor keeps incidental 3-gram collisions
    * out of the report.
    *
    * Scale shape: the only non-linear step is the equi-join, and it is
    * doubly bounded. The stop-gram guard drops grams occurring more
    * than `maxPostings` times FIRST (boilerplate n-grams; occurrence
    * count, not doc count, so a pathological "word word word ..." doc
    * cannot fan out against itself either). Then detection joins at
    * MINRUN-TOKEN super-gram grain ([[runsOf]]) — a join row needs
    * minRun consecutive shared tokens, not n, so the match volume
    * tracks ANSWER volume instead of Σ postings² over every
    * coincidentally-shared trigram (measured at the 30× ScaleGen
    * corpus: 344.7M raw-gram matches vs ~answer-sized super-gram
    * matches — the raw join OOM'd a single-JVM 100× run that the
    * super-gram join completes). Dropping a hot gram can split a run
    * crossing it into two islands — at most it shortens reported runs
    * through boilerplate, never invents one; the guard is mirrored in
    * the q108 oracle so the gate checks the guarded path.
    * The islands window partitions by (i, j, diagonal) — per-partition
    * size is bounded by the shorter doc's length, the same grain the
    * tokenizer already pays. Join/window traffic is (id, position)
    * rows plus the j-element gh ARRAY each super-gram row carries
    * (j = minRun − n + 1 — the array IS the join key); text never
    * leaves the initial scan.
    */
  def sharedRuns(docs: DataFrame, n: Int = 3, minRun: Long = 15L,
      maxPostings: Long = 1000L): DataFrame =
    guardedRuns(docs, n, minRun, maxPostings).filter(col("i") < col("j"))

  /** The span tier's one argument door: the super-gram frame below needs
    * j = minRun − n + 1 >= 1, and a stop-gram cap under 2 would drop
    * every gram any pair could share.
    */
  private def requireSpanArgs(n: Int, minRun: Long, maxPostings: Long): Unit = {
    require(minRun >= n, s"minRun must be >= n = $n, got $minRun")
    require(maxPostings >= 2, s"maxPostings must be >= 2, got $maxPostings")
  }

  /** [[runsOf]] over `docs`' stop-gram-guarded positional grams. */
  private def guardedRuns(docs: DataFrame, n: Int, minRun: Long,
      maxPostings: Long): DataFrame = {
    requireSpanArgs(n, minRun, maxPostings)
    runsOf(Blocking.cap(positionalShingles(docs, n), Seq("gh"), maxPostings),
      n, minRun)
  }

  /** Diagonal run assembly over an already-guarded positional gram frame
    * (doc_id, pos, gh) — the one core of [[sharedRuns]], [[selfRuns]] and
    * every scrub round. One self-join pairs each super-gram occurrence
    * with every LATER one in (doc_id, pos) order, so a single pass emits
    * both families: rows with i < j are cross-doc runs, rows with i = j
    * within-doc runs (start_i the earlier copy). A filter on i/j over the
    * result is pushed into the join condition by the optimizer (i = j
    * becomes a second equi-key), so each public face joins only its own
    * pairs.
    *
    * Detection runs at MINRUN-TOKEN grain, not n-gram grain: j =
    * minRun − n + 1 consecutive kept grams fold into one "super-gram"
    * whose key is the literal gh SEQUENCE (an array — no new hash
    * surface), and the diagonal join matches super-grams. A maximal
    * n-gram island of length m ≥ j corresponds 1:1 to a maximal
    * super-gram island of length m − j + 1 at the same start (an
    * n'-gram match at p IS n-gram matches at p..p+j−1), so the output
    * is IDENTICAL to joining raw grams — run_tokens = count + (n+j−1)
    * − 1 = m + n − 1 >= minRun, starts unchanged — while a junk match
    * now needs minRun consecutive shared tokens instead of n. Measured
    * at the 30× ScaleGen corpus (minRun 10): raw-gram matches 344.7M
    * rows, super-gram matches track answer volume — the difference
    * between an OOM at 100× in one JVM and a linear pass. Runs SHORTER
    * than minRun produce no super-gram match. Super-grams inherit the
    * stop-gram cap structurally: every occurrence of a super-gram is an
    * occurrence of each constituent kept gram, so its posting list is ≤
    * the cap with no second cap (and no oracle change — the oracle
    * computes the same result the straightforward way, which is the
    * point of the hash gate). A periodic tandem repeat matches its own
    * shifted super-gram sequence, so [[selfRuns]]' primitive-tail
    * contract holds at this grain too.
    */
  private def runsOf(kept: DataFrame, n: Int, minRun: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val j = (minRun - n + 1).toInt // requireSpanArgs: minRun >= n, so j >= 1
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    // j consecutive KEPT positions → one super-gram; a hole (dropped
    // stop-gram) or doc end yields lead ≠ pos + j − 1 and no row, which
    // is exactly where raw-gram islands break too. A null doc_id never
    // satisfies the join's order predicate, so the filter drops no
    // match; it keeps the two join sides identical so AQE shuffles
    // `kept` by doc_id once for both. Without it, a doc_id join above
    // (a scrub round's cut apply) lets the optimizer infer the filter
    // on one side only, and that side got its own exchange.
    val sup = kept.filter(col("doc_id").isNotNull)
      .withColumn("ghs", collect_list(col("gh")).over(byDoc.rowsBetween(0, j - 1)))
      .withColumn("endp", lead(col("pos"), j - 1).over(byDoc))
      .filter(col("endp") === col("pos") + (j - 1))
      .select(col("doc_id"), col("pos"), col("ghs"))
    // (i, pi) and (j, pj) each carry one super-gram, so (i, j, diag, pi)
    // is unique and the islands row_number is deterministic without a
    // tie-break column.
    val matches = sup.as("a")
      .join(sup.as("b"), col("a.ghs") === col("b.ghs") &&
        (col("a.doc_id") < col("b.doc_id") ||
          col("a.doc_id") === col("b.doc_id") && col("a.pos") < col("b.pos")))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        col("a.pos").as("pi"), col("b.pos").as("pj"))
      .withColumn("diag", col("pi") - col("pj"))
    val island = Window.partitionBy("i", "j", "diag").orderBy("pi")
    matches
      .withColumn("island", col("pi") - row_number().over(island))
      .groupBy("i", "j", "diag", "island")
      .agg(min(col("pi")).as("start_i"), min(col("pj")).as("start_j"),
        (count(lit(1)) + lit(n + j - 2).cast("long")).as("run_tokens"))
      .select(col("i"), col("j"), col("start_i"), col("start_j"),
        col("run_tokens"))
  }

  /** Cut spans (doc_id, s, e) of a [[runsOf]] frame: each run's later
    * copy, [start_j, start_j + run_tokens) in doc j.
    */
  private def laterCopies(runs: DataFrame): DataFrame =
    runs.select(col("j").as("doc_id"), col("start_j").as("s"),
      (col("start_j") + col("run_tokens")).as("e"))

  /** Span-scrub remediation over [[sharedRuns]] — the rewrite step of
    * exact substring dedup: every DETECTED shared run keeps its FIRST
    * occurrence (the smaller-doc_id side, matching the keeper convention
    * of [[exactGroups]]/[[chunkDedup]]) and is cut from the later doc,
    * so no PRE-EXISTING cross-doc run >= `minRun` tokens survives twice.
    * Overlapping cut spans from different partner docs are interval-
    * merged per doc BEFORE touching token grain (classic running-max
    * islands over the few span rows a doc owns), so the position
    * explode is bounded by document length — never by how many partners
    * quote the doc. Output is the full corpus, one row per doc:
    * (doc_id, n_tokens, n_dropped, text_clean), with text_clean the
    * kept tokens rejoined in order (single spaces — the tokenizer's
    * word model, reference src/main.c:19, does not preserve runs of
    * whitespace, and neither does the rewrite).
    *
    * What a SINGLE pass does NOT guarantee (use [[scrubRunsFixpoint]]
    * when the corpus-level invariant itself is the requirement):
    *  - cutting a span makes its flanking tokens adjacent, and the new
    *    adjacency can FORM a run >= minRun against another doc (two
    *    sub-minRun shared fragments fused by the cut between them);
    *  - a run repeated WITHIN one doc survives — [[sharedRuns]] pairs
    *    distinct docs only (the within-doc grain is [[selfRuns]]);
    *  - the stop-gram guard is a remediation blind spot here, not just
    *    a reporting one: grams in > `maxPostings` occurrences are
    *    dropped BEFORE detection, so the MOST heavily duplicated spans
    *    (boilerplate in more than ~maxPostings/(L-n+1) docs) are never
    *    cut, and a rescan under the same guard cannot see them either.
    *    [[hotSegmentCuts]] closes the identical-block shape of that
    *    hole at linear cost; [[scrubRunsFixpoint]] runs it by default.
    */
  def scrubSharedRuns(docs: DataFrame, n: Int = 3, minRun: Long = 15L,
      maxPostings: Long = 1000L): DataFrame =
    applyCutSpans(docs, laterCopies(sharedRuns(docs, n, minRun, maxPostings)))

  /** Apply token-position cut spans (doc_id, s, e) to the corpus:
    * interval-merge per doc, drop covered positions, rejoin kept tokens
    * in order. The merged-span explode is bounded by document length.
    */
  private[operators] def applyCutSpans(docs: DataFrame, spans: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // interval-merge per doc: a span starts a new merged island iff it
    // begins past every earlier span's end (running max up to the
    // PREVIOUS row); count of island-starts so far = island id.
    val bySpan = Window.partitionBy("doc_id")
      .orderBy(col("s"), col("e"))
    val merged = spans
      .withColumn("pmax",
        max(col("e")).over(bySpan.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("news",
        (col("pmax").isNull || col("s") > col("pmax")).cast("bigint"))
      .withColumn("isl",
        sum(col("news")).over(bySpan.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "isl")
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
    val toks = docs
      .select(col("doc_id"),
        posexplode(expr(TextAnalysis.WordsExpr)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("word"))
    // token-grain drop set: explode each MERGED span once — total rows
    // <= corpus token count by construction.
    val dropped = merged.select(col("doc_id"),
      explode(expr("sequence(s, e - 1)")).as("pos"))
    toks.join(dropped, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(expr("array_join(transform(array_sort(collect_list(" +
        "struct(pos, word))), x -> x.word), ' ')").as("_kept"),
        count(lit(1)).as("_nk"))
      .join(docs.select(col("doc_id"),
        size(expr(TextAnalysis.WordsExpr))
          .cast("long").as("n_tokens")), Seq("doc_id"), "right")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("_nk"), lit(0L))).as("n_dropped"),
        coalesce(col("_kept"), lit("")).as("text_clean"))
  }

  /** Maximal verbatim runs repeated WITHIN a single document — the
    * self-diagonal [[sharedRuns]] leaves out (it keeps i < j only): the
    * i = j rows of the same [[runsOf]] join, islands per (doc,
    * diagonal). Output one row per maximal repeat: (doc_id, start_i,
    * start_j, run_tokens) with start_i the earlier occurrence. Tandem
    * periodic repeats (offset < run length) surface as one long
    * overlapping pair — the cut side [start_j, start_j + run) is exactly
    * the non-primitive tail, so scrubbing it collapses "w w w ... w" to
    * its primitive prefix. Cost shape is [[sharedRuns]]': the gram
    * self-join is occurrence-bounded by the same stop-gram guard (and
    * joins on (ghs, doc_id)); per-(doc, diag) island windows are bounded
    * by document length.
    */
  def selfRuns(docs: DataFrame, n: Int = 3, minRun: Long = 15L,
      maxPostings: Long = 1000L): DataFrame =
    guardedRuns(docs, n, minRun, maxPostings).filter(col("i") === col("j"))
      .select(col("i").as("doc_id"), col("start_i"), col("start_j"),
        col("run_tokens"))

  /** Cut spans for duplicated HOT segments — the remediation pass for
    * the stop-gram guard's blind spot. Grams in > `maxPostings`
    * occurrences never reach [[sharedRuns]]' pair join, so a boilerplate
    * block pasted into very many docs is invisible to it. But exactly
    * because such a block is verbatim-identical everywhere, it shows up
    * as the same maximal stretch of consecutive hot-gram positions in
    * every host doc: take those stretches (islands over hot positions,
    * linear), fingerprint each by the md5 of its ordered gram-hash
    * sequence, and exact-group by fingerprint — keeper is the minimal
    * (doc_id, start), every other occurrence becomes a cut span. Linear
    * cost end to end: no pair join, one agg on the fingerprint (the
    * million-doc boilerplate group is an agg group, not a bucket
    * self-join). Partial inclusion is closed by a second, containment
    * rule: a distinct stretch whose gram sequence is a PROPER contiguous
    * subsequence of another distinct stretch's is a fragment of that
    * block — every occurrence is cut (the containing block's keeper
    * carries the canonical copy). Without it, > maxPostings docs each
    * carrying a DIFFERENT fragment of one block would keep the block's
    * grams hot forever and the fixpoint would stall with live residue
    * (DedupSpec pins exactly that corpus). Containment is detected at
    * DISTINCT-block grain, anchored on the fragment's first gram hash
    * (an equi-join — every true containment matches there), so nothing
    * touches occurrence grain and nothing is blocks². Remaining caveat:
    * two OVERLAPPING fragments of a block that never materializes whole
    * (no island contains either) still share their overlap — that shape
    * needs the cold-gram diagonal, which the next fixpoint round gets
    * once cuts thin the postings below the cap.
    */
  private[graft] def hotSegmentCuts(docs: DataFrame, n: Int = 3,
      minRun: Long = 15L, maxPostings: Long = 1000L): DataFrame = {
    val ps = positionalShingles(docs, n)
    val hotG = ps.groupBy("gh").agg(count(lit(1)).as("_occ"))
      .filter(col("_occ") > maxPostings).select("gh")
    hotCutsOf(ps.join(hotG, "gh"), n, minRun)
  }

  /** Hot-segment fingerprint cuts over an already-selected hot gram
    * frame — [[hotSegmentCuts]]' core, shared with [[scrubRound]].
    */
  private def hotCutsOf(hot: DataFrame, n: Int, minRun: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val segs = hot
      .withColumn("island", col("pos") - row_number().over(byDoc))
      .groupBy("doc_id", "island")
      .agg(min(col("pos")).as("s"),
        (count(lit(1)) + lit(n - 1).cast("long")).as("run_tokens"),
        expr("transform(array_sort(collect_list(struct(pos, gh))), " +
          "x -> x.gh)").as("ghs"))
      .filter(col("run_tokens") >= minRun)
      .withColumn("fp", expr(
        "md5(array_join(transform(ghs, g -> cast(g as string)), ','))"))
    // rule (a) — identical blocks: keeper = minimal (doc_id, s) per
    // fingerprint, every other occurrence cut
    val keepers = segs.groupBy("fp")
      .agg(count(lit(1)).as("_cnt"),
        min(struct(col("doc_id"), col("s"))).as("_keep"))
      .filter(col("_cnt") > 1)
      .select(col("fp"), col("_keep.doc_id").as("kd"), col("_keep.s").as("ks"))
    val dupCuts = segs.join(keepers, "fp")
      .filter(!(col("doc_id") === col("kd") && col("s") === col("ks")))
      .select(col("doc_id"), col("s"), (col("s") + col("run_tokens")).as("e"))
    // rule (b) — fragments: a DISTINCT block properly contained in
    // another distinct block is cut at EVERY occurrence (keeper
    // included — the containing block's keeper is the canonical copy).
    // Anchor the candidate join on the fragment's first gram: every
    // true containment matches there, so the equi-join is complete and
    // candidate volume is (fragment, anchor-hit) pairs, never blocks².
    val blocks = segs.select(col("fp"), col("ghs")).dropDuplicates("fp")
    val postings = blocks
      .select(col("fp").as("_dfp"), col("ghs").as("_dghs"),
        posexplode(col("ghs")))
      .select(col("_dfp"), col("_dghs"), (col("pos") + 1).as("_off"),
        col("col").as("_g"))
    val fragFps = blocks
      .select(col("fp"), col("ghs"), element_at(col("ghs"), 1).as("_g"))
      .join(postings, "_g")
      .filter(size(col("_dghs")) > size(col("ghs")) &&
        expr("slice(_dghs, _off, size(ghs)) = ghs"))
      .select("fp").distinct()
    val fragCuts = segs.join(fragFps, Seq("fp"), "left_semi")
      .select(col("doc_id"), col("s"), (col("s") + col("run_tokens")).as("e"))
    dupCuts.unionByName(fragCuts).distinct()
  }

  /** One scrub round over the current text `cur`: its cut spans (doc_id,
    * s, e) and the gram-state cuts it made, for the caller to release.
    * One gram state serves all three span families — the positional
    * shingling and the occurrence count are the round's dominant linear
    * passes, and paying them once per family measured 10.3s against
    * 6.4s at sf0.1. Grams at or under the cap feed the one [[runsOf]]
    * join (cross-doc and within-doc runs together, each cut at its later
    * copy); grams over it feed [[hotCutsOf]].
    */
  private[graft] def scrubRound(cur: DataFrame, n: Int, minRun: Long,
      maxPostings: Long): (DataFrame, Seq[DataFrame]) = {
    // ps and occ each feed two consumers below, so both are cut; lazy
    // cuts, so only their last stage waits for the loop's first action
    val ps = Ckpt.narrowLazy(positionalShingles(cur, n))
    val occ = Ckpt.narrowLazy(ps.groupBy("gh").agg(count(lit(1)).as("_occ")))
    val kept = ps.join(occ.filter(col("_occ") <= maxPostings).select("gh"), "gh")
    val hot = ps.join(occ.filter(col("_occ") > maxPostings).select("gh"), "gh")
    (laterCopies(runsOf(kept, n, minRun)).unionByName(hotCutsOf(hot, n, minRun)),
      Seq(ps, occ))
  }

  /** Cumulative (doc_id, n_dropped) after one more [[applyCutSpans]]
    * round `scrubbed`; `dropped` is the total so far (null before the
    * first round).
    */
  private def droppedAfter(dropped: DataFrame, scrubbed: DataFrame): DataFrame = {
    val nd = scrubbed.select(col("doc_id"), col("n_dropped"))
    if (dropped == null) nd
    else dropped.as("d").join(nd.withColumnRenamed("n_dropped", "_nd"), "doc_id")
      .select(col("doc_id"), (col("d.n_dropped") + col("_nd")).as("n_dropped"))
  }

  /** The scrub loops' output: the input's token counts ⋈ the cumulative
    * drops ⋈ the final text.
    */
  private def scrubbedCorpus(orig: DataFrame, dropped: DataFrame,
      cur: DataFrame): DataFrame =
    orig.join(dropped, "doc_id")
      .join(cur.select(col("doc_id"), col("text").as("text_clean")), "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("n_dropped"), col("text_clean"))

  /** Fixpoint span scrub — iterates cut-and-rescan until NO duplicated
    * run >= `minRun` remains detectable, delivering the corpus-level
    * invariant a single [[scrubSharedRuns]] pass cannot (cuts create
    * new flanking adjacencies that can fuse two sub-minRun shared
    * fragments into a fresh run; within-doc repeats need the
    * [[selfRuns]] diagonal; identical hot boilerplate needs
    * [[hotSegmentCuts]]). Each round gathers all three span families
    * over the CURRENT text and applies them at once; a round that finds
    * no span is the fixpoint. Termination: every non-final round cuts
    * >= 1 token from a finite corpus, so rounds are bounded by total
    * token count — `maxIters` is a cost ceiling, not a correctness
    * crutch, and hitting it is surfaced in the `converged` column
    * rather than silently returned. Partially-included boilerplate (a
    * doc carrying a fragment of a hot block) is cut by the hot pass's
    * containment rule when the block materializes whole somewhere, and
    * by the cold diagonal in a later round otherwise (cuts thin the
    * postings below the cap); the narrow residual left is overlapping
    * fragments of a never-whole block whose grams a cap-evading
    * adversary keeps hot across every round.
    *
    * Scale shape: the driver loop holds only an iteration counter and
    * a span count per round; each round's frame is localCheckpoint'ed
    * (plan-growth cut — text is rewritten, lineage would otherwise
    * stack a full scrub pipeline per round), and a round RETIRES the
    * previous round's checkpoint blocks as soon as its own are
    * materialized ([[Ckpt.release]]), so pinned executor storage stays
    * O(1) in rounds — an adversarial many-round corpus would otherwise
    * hold one full rewritten-text copy per round until the run
    * boundary. Rounds in practice: 1 detection round + 1 empty
    * confirmation on clean corpora, 2–3 on adversarial ones.
    *
    * Output: (doc_id, n_tokens — ORIGINAL count, n_dropped —
    * cumulative, text_clean, n_iters, converged).
    */
  def scrubRunsFixpoint(docs: DataFrame, n: Int = 3, minRun: Long = 15L,
      maxPostings: Long = 1000L, maxIters: Int = 8): DataFrame = {
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    requireSpanArgs(n, minRun, maxPostings)
    var cur = docs.select(col("doc_id"), col("text"))
    var curCk: DataFrame = null // checkpoint backing cur (null = raw input)
    var dropped: DataFrame = null // cumulative (doc_id, n_dropped), own ckpt
    var orig: DataFrame = null // (doc_id, n_tokens) of the INPUT corpus
    var iters = 0
    var converged = false
    while (iters < maxIters && !converged) {
      val (found, gramState) = scrubRound(cur, n, minRun, maxPostings)
      // spans is counted, then applied: cut it so the apply reads blocks
      val spans = Ckpt.narrowLazy(found)
      val roundState = gramState :+ spans
      // count, not isEmpty: the one action that materializes the whole
      // lazy round state (isEmpty's limit-1 would leave the checkpoints
      // partially materialized and pay a backfill job per frame)
      if (spans.count() == 0) {
        converged = true
        roundState.foreach(Ckpt.release)
      } else {
        val scrubbed = Ckpt.narrow(applyCutSpans(cur, spans))
        // the audit columns get their OWN checkpoints so earlier
        // rounds' full-text frames can retire below
        if (orig == null)
          orig = Ckpt.narrow(scrubbed.select(col("doc_id"), col("n_tokens")))
        val newDropped = Ckpt.narrow(droppedAfter(dropped, scrubbed))
        // everything this round read is materialized downstream now:
        // retire the round's gram state + spans, the previous round's
        // text frame, and the superseded cumulative audit
        roundState.foreach(Ckpt.release)
        if (curCk != null) Ckpt.release(curCk)
        if (dropped != null) Ckpt.release(dropped)
        dropped = newDropped
        curCk = scrubbed
        cur = scrubbed.select(col("doc_id"), col("text_clean").as("text"))
        iters += 1
      }
    }
    val base =
      if (orig == null)
        // zero rounds cut anything: corpus already at fixpoint
        docs.select(col("doc_id"),
          size(expr(TextAnalysis.WordsExpr))
            .cast("long").as("n_tokens"), lit(0L).as("n_dropped"),
          col("text").as("text_clean"))
      else scrubbedCorpus(orig, dropped, cur)
    base.withColumn("n_iters", lit(iters.toLong))
      .withColumn("converged", lit(converged))
  }

  /** FIXED-round span scrub — exactly `rounds` cut-and-rescan rounds of
    * [[scrubRunsFixpoint]]'s three span families (cross-doc, within-doc,
    * hot-segment), applied unconditionally: a round that detects no span
    * rewrites nothing and the next round runs anyway. The point of the
    * variant is the GATE, not production use: because the round count is
    * a constant of the query (not of the data), the whole output is
    * expressible as one `rounds`-times-unrolled SQL statement, so this
    * tier hash-gates end-to-end where the run-to-convergence face
    * (q111) is rows-only by design. Agreement law: on any corpus whose
    * fixpoint arrives within `rounds` iterations, the text_clean /
    * n_dropped columns here equal [[scrubRunsFixpoint]]'s —
    * property-tested in DedupSpec on the adversarial corpora.
    *
    * Output: (doc_id, n_tokens — ORIGINAL count, n_dropped — cumulative,
    * text_clean). Each round is the fixpoint's [[scrubRound]] with a lazy
    * cut on the rewritten text and nothing released; total cost is
    * exactly `rounds` rounds — no span count.
    */
  def scrubRunsFixed(docs: DataFrame, n: Int = 3, minRun: Long = 15L,
      maxPostings: Long = 1000L, rounds: Int = 2): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    requireSpanArgs(n, minRun, maxPostings)
    var cur = docs.select(col("doc_id"), col("text"))
    var dropped: DataFrame = null
    var orig: DataFrame = null
    for (_ <- 1 to rounds) {
      val scrubbed = Ckpt.narrowLazy(
        applyCutSpans(cur, scrubRound(cur, n, minRun, maxPostings)._1))
      if (orig == null)
        orig = scrubbed.select(col("doc_id"), col("n_tokens"))
      dropped = droppedAfter(dropped, scrubbed)
      cur = scrubbed.select(col("doc_id"), col("text_clean").as("text"))
    }
    scrubbedCorpus(orig, dropped, cur)
  }
}
