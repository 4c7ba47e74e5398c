package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}
import graft.sources.Tables

/** t3 properties for the dedup/similarity tier (SURVEY.md §5.2):
  * MinHash recall against the exact shingle-Jaccard tier as ground truth,
  * SimHash separating planted near-dups from noise, and sign-LSH recall
  * on planted embedding near-dups.
  */
class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  lazy val docs = Tables.load(spark, TestSpark.Sf0001, "documents")
  lazy val emb = Tables.load(spark, TestSpark.Sf0001, "embeddings")

  test("exact tier: fingerprint groups partition the corpus") {
    val groups = Dedup.exactGroups(docs).collect()
    assert(groups.map(_.getLong(1)).sum == docs.count())
  }

  test("minhash LSH recall == 1.0 vs exact n-gram Jaccard at 0.8 (planted dups)") {
    val exact = Dedup.ngramJaccardPairs(docs, 3, 0.8)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaLsh = Dedup.minhashPairs(docs, 3, 16, 4, 0.8)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "corpus should contain planted near-dup pairs")
    assert(viaLsh == exact,
      s"missed: ${exact -- viaLsh}, spurious: ${viaLsh -- exact}")
  }

  test("sorted neighborhood: verified subset of exact tier, candidate volume linear") {
    val exact = Dedup.ngramJaccardPairs(docs, 3, 0.7)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val snm = Dedup.sortedNeighborhoodPairs(docs, 3, windowSize = 5, threshold = 0.7)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(snm.nonEmpty, "SNM should surface the planted prefix-sharing dups")
    // soundness: every emitted pair carries the exact tier's Jaccard
    snm.foreach { case (p, j) =>
      assert(exact.get(p).contains(j), s"pair $p: SNM $j vs exact ${exact.get(p)}")
    }
    // the SNM trade: candidates (and hence recall) are bounded by the
    // sort windows — planted full-duplicates share their leading words,
    // so the prefix pass must land them in adjacent sort positions
    val planted = Dedup.exactGroups(docs).filter(col("n_dups") > 1).count()
    assert(planted == 0 || snm.nonEmpty)
    // widening the window only adds pairs (monotone candidate growth)
    val wide = Dedup.sortedNeighborhoodPairs(docs, 3, windowSize = 9, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(snm.keySet.subsetOf(wide), "window growth must be monotone")
  }

  test("simhash separates planted near-dups (<=10 bits) from noise") {
    val nearDups = Dedup.ngramJaccardPairs(docs, 3, 0.8)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val simPairs = Dedup.simhashPairs(docs, maxHamming = 10)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // all planted near-dups are within 10 bits
    assert((nearDups -- simPairs).isEmpty, s"simhash missed: ${nearDups -- simPairs}")
  }

  test("minhash estimate: recalls planted dups, tracks exact Jaccard within sketch error") {
    // sketch tier must keep every pair the exact-verified tier keeps at
    // a margin below its threshold (planted dups are J ≈ 0.9+, and a
    // 16-hash estimate of J ≥ 0.9 falls under 0.5 with prob ~1e-5)
    val exact = Dedup.minhashPairs(docs, 3, 16, 4, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val est = Dedup.minhashEstimatePairs(docs, 3, 16, 4, 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(exact.nonEmpty)
    exact.foreach { case (i, j, jac) =>
      val e = est.getOrElse((i, j), fail(s"estimate tier dropped planted pair ($i,$j)"))
      // binomial(16, J) / 16: 4 sigma ≈ 4 * sqrt(J(1-J)/16) ≤ 0.5
      assert(math.abs(e - jac) <= 0.5, s"($i,$j): est $e vs exact $jac")
    }
    // estimates are exact sixteenths — the sketch never reports values
    // its 16-hash resolution cannot produce
    est.values.foreach(e => assert((e * 16).isWhole, s"non-sixteenth estimate $e"))
  }

  test("semantic dedup: verdicts partition the corpus, one keeper per cluster") {
    val verdict = Similarity.semanticDedup(emb, threshold = 0.4, tables = 16, bits = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(verdict.length == emb.count(), "one verdict row per vector")
    verdict.groupBy(_._2).foreach { case (cluster, members) =>
      assert(members.count(_._3 == 1L) == 1, s"cluster $cluster keeper count")
      assert(members.map(_._1).min == cluster, s"cluster $cluster id not its min member")
      assert(members.find(_._3 == 1L).get._1 == cluster, s"cluster $cluster keeper not the min")
    }
    // every verified edge's endpoints landed in the same cluster
    val byId = verdict.map(v => v._1 -> v._2).toMap
    Similarity.lshCosinePairs(emb, 0.4, tables = 16, bits = 8)
      .collect().foreach { r =>
        assert(byId(r.getLong(0)) == byId(r.getLong(1)),
          s"edge (${r.getLong(0)},${r.getLong(1)}) split across clusters")
      }
  }

  test("sign-LSH finds planted embedding near-duplicates") {
    // plant: perturb 20 vectors slightly (cos ≈ 1), offset ids by 100000
    val planted = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 100000).as("vec_id"),
        expr("transform(embedding, x -> cast(x * 1.01 + 0.001 as float))").as("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionByName(planted)
    val found = Similarity.lshCosinePairs(corpus, threshold = 0.95, tables = 8, bits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0L until 20L).map(i => (i, i + 100000)).toSet
    val recall = expected.count(found.contains).toDouble / expected.size
    assert(recall >= 0.9, s"recall $recall, found ${found.size} pairs")
    // precision: every returned pair really has cos >= 0.95 (verified path)
    val exact = Similarity.cosinePairs(corpus, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.subsetOf(exact))
  }

  test("pruning gate: bucketed candidate volumes stay far below the pair space") {
    // a parameter change that silently degrades pruning (narrower block
    // keys, fewer bands, coarser buckets) must fail CI the same way a
    // BNLJ regression already does
    val n = docs.count().toDouble
    val pairSpace = n * (n - 1) / 2.0
    val mh = Dedup.minhashCandidates(Dedup.shingles(docs, 3), 16, 4).count()
    assert(mh / pairSpace < 0.01, s"minhash candidates $mh of ${pairSpace.toLong} pairs")
    val sim = Dedup.simhashCandidates(Dedup.simhashSignatures(docs, 3), 10).count()
    assert(sim / pairSpace < 0.10, s"simhash candidates $sim of ${pairSpace.toLong} pairs")
    val m = emb.count().toDouble
    val embPairs = m * (m - 1) / 2.0
    val b = Similarity.signLshBuckets(emb, tables = 16, bits = 8, dim = 64)
    val lsh = b.as("a").join(b.as("b"),
        col("a.t") === col("b.t") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id")).distinct().count()
    assert(lsh / embPairs < 0.10, s"sign-LSH candidates $lsh of ${embPairs.toLong} pairs")
    // q59's strict config (16 tables x 12 bits): uncorrelated vectors
    // collide at ~16/2^12 of the pair space — candidates must stay far
    // below even the q33/q54 config's volume
    val bs = Similarity.signLshBuckets(emb, tables = 16, bits = 12, dim = 64)
    val strict = bs.as("a").join(bs.as("b"),
        col("a.t") === col("b.t") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id")).distinct().count()
    assert(strict / embPairs < 0.02,
      s"strict sign-LSH candidates $strict of ${embPairs.toLong} pairs")
    // the within-bucket window guard's hard bound: the CAPPED candidate
    // set (the default path every gated query runs) never exceeds
    // tables × window per vector — the linear-at-any-density contract
    // that keeps sign-LSH from going quadratic as fixed-bucket-space
    // occupancy grows with the corpus (measured: q33 exponent ≈ 2.0 on
    // the 10×→30× decade before the guard)
    val capped = Similarity.lshCosinePairs(emb, threshold = -1.0,
      tables = 16, bits = 8).count()
    assert(capped <= 16L * Similarity.LshBucketWindow * m,
      s"windowed candidates $capped exceed tables×window×n")
  }

  test("strict semantic dedup (q59 config) clusters planted embedding dups") {
    // the regime SemDeDup exists for: cos ~ 1 near-duplicates. Plant 20,
    // require >= 0.9 of them to land in their original's cluster under
    // the gated (16 tables x 12 bits, threshold 0.9) configuration.
    val planted = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 100000).as("vec_id"),
        expr("transform(embedding, x -> cast(x * 1.01 + 0.001 as float))").as("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionByName(planted)
    val verdict = Similarity.semanticDedup(corpus, threshold = 0.9, tables = 16, bits = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val recalled = (0L until 20L).count(i => verdict(i + 100000L) == verdict(i))
    assert(recalled >= 18, s"strict config clustered only $recalled/20 planted dups")
    // nothing below the threshold clusters: the base corpus tops out at
    // cos ~ 0.51, so every base vector keeps its own id as cluster_id
    // (planted ids are offset above all base ids, so min-label never
    // moves a base vector's cluster)
    emb.select("vec_id").collect().map(_.getLong(0)).foreach { v =>
      assert(verdict(v) == v, s"base vector $v joined cluster ${verdict(v)}")
    }
  }

  test("shingles drop empty tokens: whitespace-only docs are not mutual duplicates") {
    val df = Seq((1L, "   "), (2L, ""), (3L, "real words here")).toDF("doc_id", "text")
    assert(Dedup.shingles(df, n = 1).filter(col("doc_id") <= 2).count() == 0,
      "empty/whitespace docs must yield no unigram shingles (not md5(''))")
    assert(Dedup.shingles(df, n = 1).filter(col("doc_id") === 3).count() == 3)
  }

  test("incremental near-dup == full-run edges touching the delta") {
    val cut = 0.8 * docs.agg(max("doc_id")).head.getLong(0)
    val nf = math.floor(cut).toLong
    val inc = Dedup.incrementalNearDupEdges(
        docs.filter(col("doc_id") < nf), docs.filter(col("doc_id") >= nf))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = Dedup.nearDupEdges(docs)
      .filter(col("j") >= nf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(inc == full, s"missed: ${full -- inc}, spurious: ${inc -- full}")
    // and nothing corpus-internal leaks in
    val corpusOnly = Dedup.nearDupEdges(docs).filter(col("j") < nf).count()
    assert(corpusOnly > 0 || full.nonEmpty, "cut should split the planted pairs")
  }

  test("simhash blocking: candidate fraction stays flat as a noise corpus scales") {
    // worst case for blocking: mutually unrelated docs → near-uniform
    // signatures. Two-block 10-bit keys bound the expected candidate
    // fraction at ~C(12,2)/2^10 ≈ 6.4% of the pair space INDEPENDENT of
    // n — candidates track the pair count with a flat small constant.
    // (The 5-bit single-block scheme this replaced sat at ~30% here.)
    def synth(n: Int) = spark.range(n).selectExpr("id as doc_id",
      "concat_ws(' ', transform(sequence(0, 59), " +
        "k -> substr(md5(concat(id, '_', k)), 1, 8))) as text")
    def frac(n: Int): Double = {
      val c = Dedup.simhashCandidates(Dedup.simhashSignatures(synth(n), 3), 10).count()
      c.toDouble / (n.toLong * (n - 1) / 2)
    }
    val f1 = frac(300)
    val f2 = frac(950) // ~10x the pair space
    assert(f1 < 0.09, s"fraction at n=300: $f1")
    assert(f2 < 0.09, s"fraction at n=950: $f2")
    assert(f2 < f1 * 1.5, s"pruning degrades with scale: $f1 -> $f2")
  }

  test("LSH skew guard: oversized buckets are dropped, small buckets survive") {
    import spark.implicits._
    // 300 boilerplate docs sharing a 100-word base (NOT exact dups — each
    // appends a unique tail) collapse into hot band buckets; unguarded,
    // they alone emit tens of thousands of candidate pairs
    val boiler = (1 to 100).map(i => s"common$i").mkString(" ")
    val hot = (0 until 300).map(i => (i.toLong, s"$boiler unique$i"))
    val small = Seq(
      (9001L, (1 to 19).map(i => s"word$i").mkString(" ") + " tailA"),
      (9002L, (1 to 19).map(i => s"word$i").mkString(" ") + " tailB"))
    val sh = Dedup.shingles((hot ++ small).toDF("doc_id", "text"), 3)
    val unbounded = Dedup.minhashCandidates(sh).count()
    val capped = Dedup.minhashCandidates(sh, maxBucketSize = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(unbounded > 30000L, s"hot bucket should dominate unguarded: $unbounded")
    assert(capped.size < 2000, s"cap must drop the hot buckets: ${capped.size}")
    assert(capped.contains((9001L, 9002L)), "small-bucket pair must survive the cap")
  }

  test("simhash blocking at adversarial density: hot-key guard bounds candidates") {
    import spark.implicits._
    // the flat-fraction test above uses uniform noise; this is the
    // adversarial shape — a boilerplate cluster whose near-identical
    // signatures share most block keys, so unguarded candidates grow as
    // m^2/2 regardless of how selective the blocking is on random input
    val boiler = (1 to 100).map(i => s"common$i").mkString(" ")
    val hot = (0 until 300).map(i => (i.toLong, s"$boiler unique$i"))
    val small = Seq(
      (9001L, (1 to 19).map(i => s"word$i").mkString(" ") + " tailA"),
      (9002L, (1 to 19).map(i => s"word$i").mkString(" ") + " tailB"))
    val sig = Dedup.simhashSignatures((hot ++ small).toDF("doc_id", "text"), 3)
    val unguarded = Dedup.simhashCandidates(sig, 10).count()
    assert(unguarded > 40000L, s"hot keys should dominate unguarded: $unguarded")
    val capped = Dedup.simhashCandidates(sig, 10, maxKeySize = 50)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.size < 2000, s"guard must drop the hot keys: ${capped.size}")
    assert(capped.contains((9001L, 9002L)), "small-key pair must survive the cap")
  }

  test("simhashPairs DEFAULT path engages the skew guard above NearDupMaxBucket") {
    import spark.implicits._
    // a duplicate-content cluster larger than the canonical cap: all n
    // docs share one signature, so every one of its 66 block-pair keys
    // holds n > NearDupMaxBucket members — unguarded this emits n(n−1)/2
    // ≈ 1M pairs; the DEFAULT simhashPairs call must drop the hot keys
    // (this is the post-exact-dedup boilerplate-collision shape the cap
    // targets — a cluster that LEGITIMATELY spreads across sub-cap keys
    // is kept, by design, because its pairs verify as true near-dups)
    val boiler = (1 to 100).map(i => s"common$i").mkString(" ")
    val n = 1400
    val hot = (0 until n).map(i => (i.toLong, boiler))
    val small = Seq(
      (900001L, (1 to 19).map(i => s"word$i").mkString(" ") + " tailA"),
      (900002L, (1 to 19).map(i => s"word$i").mkString(" ") + " tailB"))
    val df = (hot ++ small).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(df, maxHamming = 10).select("i", "j")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!pairs.exists { case (i, j) => i < 900000L && j < 900000L },
      s"guard did not engage on the default path: ${pairs.size} pairs")
    assert(pairs.contains((900001L, 900002L)), "small-key pair must survive the cap")
  }

  test("canonical nearDupEdges path engages the skew guard above NearDupMaxBucket") {
    import spark.implicits._
    // a boilerplate cluster LARGER than the canonical cap: ~96% of its
    // docs share every band key (one unique trailing shingle in ~99), so
    // each band's hot bucket holds ~1340 docs > NearDupMaxBucket — the
    // exact shape that, unguarded, would emit ~n²/2 ≈ 1M candidate pairs
    val boiler = (1 to 100).map(i => s"common$i").mkString(" ")
    val n = 1400
    val hot = (0 until n).map(i => (i.toLong, s"$boiler unique$i"))
    val small = Seq(
      (900001L, (1 to 19).map(i => s"word$i").mkString(" ") + " tailA"),
      (900002L, (1 to 19).map(i => s"word$i").mkString(" ") + " tailB"))
    val df = (hot ++ small).toDF("doc_id", "text")
    val edges = Dedup.nearDupEdges(df).select("i", "j")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges.size < 10000,
      s"guard did not engage on the canonical path: ${edges.size} edges")
    assert(edges.contains((900001L, 900002L)), "small-bucket pair must survive the cap")
    // and the curation surface consuming this path inherits the guard:
    // boilerplate docs pass quality and exact-dedup (unique tails), so
    // unguarded they would all be near_dup — capped, they stay kept
    val verdicts = graft.operators.Curation.curate(df, minQuality = 0.15)
      .groupBy("verdict").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(verdicts.getOrElse("kept", 0L) > n / 2,
      s"curate must take the capped path (boilerplate kept, not near_dup): $verdicts")
    assert(verdicts.getOrElse("near_dup", 0L) < n / 2, s"verdicts: $verdicts")
  }

  test("simhash blocked pairs == brute-force Hamming pairs under BOTH block schemes") {
    // no-false-negatives is claimed "by construction" — pin it against a
    // Scala-side brute force across bounds that exercise the single-block
    // scheme (d <= 6: width >= 8), the two-block scheme (the d = 10
    // default), and the degenerate exact-match bound (d = 0)
    val docs = spark.range(120).selectExpr("id as doc_id",
      "concat_ws(' ', transform(sequence(0, 39), " +
        "k -> substr(md5(concat(id % 37, '_', k)), 1, 6))) as text")
    val sigs = graft.operators.Dedup.simhashSignatures(docs, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    for (d <- Seq(0, 3, 10, 15)) {
      val want = (for {
        (i, si) <- sigs; (j, sj) <- sigs if i < j
        h = java.lang.Long.bitCount(si ^ sj) if h <= d
      } yield (i, j, h.toLong)).toSet
      val got = Dedup.simhashPairs(docs, maxHamming = d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want,
        s"d=$d missed ${want -- got} spurious ${got -- want}")
    }
  }

  test("persisted index: stored ≡ recomputed ≡ restricted full-run edges") {
    // the storage-contract law behind the daily-ingest story: write the
    // corpus index to parquet, load it back, and the indexed incremental
    // pass must emit byte-identical edges to (a) the recompute-in-query
    // incremental pass and (b) the from-scratch full run restricted to
    // delta-touching pairs
    val cut = 400L
    val corpus = docs.filter(col("doc_id") < cut)
    val delta = docs.filter(col("doc_id") >= cut)
    def edgeSet(df: org.apache.spark.sql.DataFrame) =
      df.select("i", "j", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_spec_").toString
    Dedup.writeIndex(corpus, dir)
    val idx = Dedup.loadIndex(spark, dir)
    assert((idx.n, idx.numHashes, idx.rowsPerBand) == (3, 16, 4),
      "meta manifest must round-trip the build parameters")
    val stored = edgeSet(Dedup.incrementalNearDupEdgesIndexed(idx, delta))
    val recomputed = edgeSet(Dedup.incrementalNearDupEdges(corpus, delta))
    val full = edgeSet(Dedup.nearDupEdges(docs)
      .filter(col("j") >= cut || col("i") >= cut))
    assert(stored == recomputed,
      s"stored-index drift: ${stored -- recomputed} / ${recomputed -- stored}")
    assert(stored == full,
      s"vs full run: ${stored -- full} / ${full -- stored}")
    assert(stored.nonEmpty, "cut should leave delta-touching planted pairs")
  }

  test("revalidated stored edges: incremental ≡ from-scratch when delta overflows a bucket") {
    import spark.implicits._
    // corpus cluster of 8 sits UNDER a cap of 10 (edges mined and
    // stored); 13 delta near-dups push every shared bucket over the cap,
    // so a from-scratch run drops those candidates — re-validation must
    // drop the stored edges the same way, making the edge sets equal
    val boiler = (1 to 60).map(i => s"base$i").mkString(" ")
    val corpus = (0 until 8).map(i => (i.toLong, s"$boiler tail$i")).toDF("doc_id", "text")
    val delta = (100 until 113).map(i => (i.toLong, s"$boiler tail$i")).toDF("doc_id", "text")
    val cap = 10
    val stored = Dedup.minhashPairs(corpus, 3, 16, 4, 0.7, maxBucketSize = cap)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val storedPairs = pairs(stored)
    assert(storedPairs.nonEmpty, "under-cap corpus bucket must mine edges")
    val fromScratch = pairs(
      Dedup.minhashPairs(corpus.union(delta), 3, 16, 4, 0.7, maxBucketSize = cap))
    val incremental = pairs(
      Dedup.revalidatedUnionEdges(corpus, delta, stored, 3, 16, 4, 0.7, maxBucketSize = cap))
    assert(incremental == fromScratch,
      s"drift: ${incremental -- fromScratch} / ${fromScratch -- incremental}")
    assert((storedPairs -- fromScratch).nonEmpty,
      "test shape must actually overflow a bucket (some stored edge dropped)")
    // the stored-index rendering obeys the same law
    val dir = java.nio.file.Files.createTempDirectory("graft_reval_spec_").toString
    Dedup.writeIndex(corpus, dir)
    val viaIndex = pairs(Dedup.revalidatedUnionEdgesIndexed(
      Dedup.loadIndex(spark, dir), delta, stored, 0.7, maxBucketSize = cap))
    assert(viaIndex == fromScratch)
  }

  test("persisted index: indexed curation ≡ in-query incremental curation") {
    import graft.operators.Curation
    val cut = 400L
    val corpus = docs.filter(col("doc_id") < cut)
    val delta = docs.filter(col("doc_id") >= cut)
    val kept = Curation.exactKeepers(corpus)
    val dir = java.nio.file.Files.createTempDirectory("graft_cur_spec_").toString
    Dedup.writeIndex(kept, dir)
    val edges = Dedup.nearDupEdges(kept)
    edges.write.mode("overwrite").parquet(s"$dir/edges")
    def verdictMap(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "verdict").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    val viaIndex = verdictMap(Curation.curateIncrementalIndexed(
      corpus, delta, spark.read.parquet(s"$dir/edges"),
      Dedup.loadIndex(spark, dir)))
    val inQuery = verdictMap(Curation.curateIncremental(corpus, delta, edges))
    assert(viaIndex == inQuery)
  }

  test("IVF derived centroid stride is ceil(sqrt(n))") {
    assert(Similarity.derivedStride(500L) == 23)
    assert(Similarity.derivedStride(1L) == 1)
    assert(Similarity.derivedStride(0L) == 1)
    assert(Similarity.derivedStride(1000000L) == 1000)
  }

  test("sign-LSH derived bits: floor semantics, monotone, occupancy invariant") {
    import Similarity.{derivedBits, LshTargetOccupancy}
    // floor binds at every gated scale (n <= 2000 for both configs)
    assert(derivedBits(500L, 8) == 8 && derivedBits(2000L, 8) == 8)
    assert(derivedBits(2000L, 12) == 12)
    // the ScaleGen corpora: 60k vectors -> 10 bits, 200k -> 12
    assert(derivedBits(60000L, 8) == 10)
    assert(derivedBits(200000L, 8) == 12)
    // exact powers of the occupancy boundary: pure integer arithmetic,
    // no float-log2 edge (2^8 * 64 = 16384 exactly)
    assert(derivedBits(16384L, 8) == 8 && derivedBits(16385L, 8) == 9)
    // the invariant the whole posture rests on: occupancy <= target
    // at the derived bits, for any corpus up to the 2^30 cap
    for (n <- Seq(1L, 1000L, 123457L, 10000000L, 1000000000L)) {
      val b = derivedBits(n, 8)
      assert(b <= 30)
      assert(b == 30 || (1L << b) * LshTargetOccupancy >= n,
        s"occupancy invariant violated at n=$n, b=$b")
      assert(b == 8 || (1L << (b - 1)) * LshTargetOccupancy < n,
        s"bits not minimal at n=$n, b=$b")
    }
  }

  test("brute-force topk rank-1 equals scala-side argmax") {
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray)).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val top1 = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    (0L until 5L).foreach { q =>
      val expected = vecs.keys.filter(_ != q)
        .maxBy(n => (math.rint(cos(vecs(q), vecs(n)) * 1e6), -n))
      assert(top1(q) == expected, s"query $q")
    }
  }

  test("chunkDedup: first occurrence wins, later drops, reassembly preserves order") {
    import spark.implicits._
    val block = "A" * 10   // one full chunk at size = 10
    val docs = Seq(
      (1L, block + "unique-one"),        // chunk0 = block (first), chunk1 kept
      (2L, block + "unique-two"),        // chunk0 = block -> dropped
      (3L, "unique-three" + block.take(8)), // no aligned full block: kept whole
      (4L, block + block)                // self-duplicate: 2nd chunk drops too
    ).toDF("doc_id", "text")
    val got = Dedup.chunkDedup(docs, size = 10).orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)), r.getString(3))).toMap
    assert(got(1L) == (((2L, 2L), block + "unique-one")))
    assert(got(2L) == (((2L, 1L), "unique-two")))
    // doc 3's chunks are "unique-thr", "ee" + "A"*8 — neither equals the
    // block chunk, both kept
    assert(got(3L) == (((2L, 2L), "unique-three" + block.take(8))))
    // doc 4: both chunks equal doc 1's chunk0 -> zero kept, empty text
    assert(got(4L) == (((2L, 0L), "")))
  }

  test("evalOverlap: hand-checked shared-gram counts, total audit, broadcast probe") {
    import spark.implicits._
    val eval = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    // eval's distinct 3-grams: {the quick brown, quick brown fox, brown fox jumps}
    val corpus = Seq(
      (1L, "the quick brown fox jumps high"),  // shares all 3
      (2L, "a b the quick brown c"),           // shares exactly 1
      (3L, "totally disjoint text here now"),  // shares 0 — still audited
      (4L, "xx")                               // too short for any 3-gram
    ).toDF("doc_id", "text")
    val got = Dedup.evalOverlap(corpus, eval)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(1L -> (3L, 1L), 2L -> (1L, 1L),
      3L -> (0L, 0L), 4L -> (0L, 0L)))
    // the eval gram set must probe as a broadcast, not shuffle the corpus
    val plan = TestSpark.finalPlan(Dedup.evalOverlap(corpus, eval))
    assert(plan.contains("BroadcastHashJoin"),
      s"eval grams must broadcast onto the corpus shingle scan:\n$plan")
  }

  test("containmentPairs: full inclusion scores 1.0 where Jaccard misses it") {
    import spark.implicits._
    val small = (1 to 10).map(i => s"alpha$i beta$i gamma$i").mkString(" ")
    val big = small + " " + (1 to 60).map(i => s"filler$i pad$i").mkString(" ")
    val df = Seq(
      (1L, small),                       // every small shingle appears in big
      (2L, big),
      (3L, "unrelated words entirely distinct here now")
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(df, n = 3, threshold = 0.9).collect()
    assert(got.length === 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1)) === ((1L, 2L)))
    assert(r.getDouble(5) === 1.0, "the smaller set is fully contained")
    // symmetric Jaccard stays far below its threshold on the same pair —
    // the case this operator exists for
    assert(Dedup.ngramJaccardPairs(df, n = 3, threshold = 0.8).isEmpty)
    // corpus law: containment >= Jaccard, so the canonical 0.9-Jaccard
    // planted dups all surface here too
    val docs = Tables.load(spark, TestSpark.Sf0001, "documents")
    val jac = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.9)
      .select("i", "j")
    val cont = Dedup.containmentPairs(docs, n = 3, threshold = 0.9)
      .select("i", "j")
    assert(jac.exceptAll(cont).isEmpty)
  }

  test("winnowing: selection == a plain-Scala robust-winnow fold per doc") {
    val n = 3; val w = 4
    val pos = Dedup.positionalShingles(docs, n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    // reference: every window of w consecutive hashes selects its min,
    // ties to the rightmost position; docs shorter than one window form
    // a single window
    // NB: iterate — flatMap on the Map itself would re-key by doc and
    // collapse every doc to a single fingerprint
    val expected = pos.iterator.flatMap { case (doc, hs) =>
      val starts = 0 to math.max(hs.length - w, 0)
      starts.map { s =>
        val win = hs.slice(s, math.min(s + w, hs.length)).zipWithIndex
        doc -> win.minBy { case (h, i) => (h, -i) }._1
      }
    }.toSet
    val got = Dedup.winnowedFingerprints(docs, n, w)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected)
  }

  test("winnowing: a shared run of >= n+w-1 words always shares a fingerprint") {
    import spark.implicits._
    // 6 shared words (= n+w-1 at n=3, w=4), long distinct tails
    val run = "common one two three four five"
    val a = run + " " + (1 to 40).map(i => s"lefttok$i").mkString(" ")
    val b = (1 to 40).map(i => s"righttok$i").mkString(" ") + " " + run
    val df = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val pairs = Dedup.winnowingPairs(df, n = 3, w = 4, minShared = 1L)
      .collect()
    assert(pairs.length === 1 && pairs.head.getLong(0) === 1L)
    // and the sketch is sparse: far fewer fingerprints than grams
    val nfp = pairs.head.getLong(3)
    assert(nfp > 0 && nfp < 41, s"density should be ~2/(w+1), got $nfp/41")
  }

  test("winnowing: the maxPostings cap drops viral boilerplate postings") {
    import spark.implicits._
    val boiler = "subscribe to our newsletter for daily updates today"
    val df = (1 to 30).map(i =>
      (i.toLong, s"$boiler " + (1 to 10).map(k => s"own${i}_$k").mkString(" ")))
      .toDF("doc_id", "text")
    val capped = Dedup.winnowingPairs(df, n = 3, w = 4,
      minShared = 1L, maxPostings = 10L)
    assert(capped.isEmpty,
      "boilerplate-only overlap must vanish once its postings exceed the cap")
    val uncapped = Dedup.winnowingPairs(df, n = 3, w = 4,
      minShared = 1L, maxPostings = 1000L)
    assert(uncapped.count() === 30L * 29 / 2,
      "without the cap every pair shares the boilerplate fingerprints")
  }

  test("syndication audit = the canonical edges minus same-source pairs, nothing else") {
    val docs = graft.sources.Tables.load(spark, TestSpark.Sf0001, "documents")
    val edges = Dedup.nearDupEdges(docs)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val syn = SparkEntry.queries("q104_syndication")(spark, TestSpark.Sf0001)
      .collect()
    assert(syn.nonEmpty, "the corpus plants cross-source near-dups")
    syn.foreach { r =>
      assert(edges.contains((r.getLong(0), r.getLong(1))),
        "every syndication pair is a canonical near-dup edge")
      assert(r.getString(3) != r.getString(4), "endpoints span sources")
    }
  }

  /** Plain-Scala maximal shared-run finder — the brute-force ground
    * truth for [[Dedup.sharedRuns]]: all (i, j, start_i, start_j, len)
    * with len >= minRun where the token slices match verbatim and the
    * run extends neither left nor right.
    */
  private def bruteRuns(docs: Seq[(Long, String)], minRun: Int): Set[(Long, Long, Long, Long, Long)] = {
    val toks = docs.map { case (id, t) =>
      id -> t.trim.split("\\s+").filter(_.nonEmpty).toVector
    }.toMap
    (for {
      Seq((i, a), (j, b)) <- toks.toSeq.sortBy(_._1).combinations(2).toSeq
      si <- a.indices; sj <- b.indices
      if a(si) == b(sj)
      if si == 0 || sj == 0 || a(si - 1) != b(sj - 1) // maximal-left only
    } yield {
      var len = 0
      while (si + len < a.length && sj + len < b.length &&
        a(si + len) == b(sj + len)) len += 1
      (i, j, si.toLong, sj.toLong, len.toLong)
    }).filter(_._5 >= minRun).toSet
  }

  /** The within-doc extension of [[bruteRuns]] — ground truth for
    * [[Dedup.selfRuns]]: all (doc_id, start_i, start_j, len) with
    * start_i < start_j, len >= minRun, the two token slices equal and the
    * run extending neither left nor right.
    */
  private def bruteSelfRuns(docs: Seq[(Long, String)], minRun: Int): Set[(Long, Long, Long, Long)] =
    (for {
      (id, t) <- docs
      a = t.trim.split("\\s+").filter(_.nonEmpty).toVector
      si <- a.indices; sj <- (si + 1) until a.length
      if a(si) == a(sj)
      if si == 0 || a(si - 1) != a(sj - 1) // maximal-left only
    } yield {
      var len = 0
      while (sj + len < a.length && a(si + len) == a(sj + len)) len += 1
      (id, si.toLong, sj.toLong, len.toLong)
    }).filter(_._4 >= minRun).toSet

  test("sharedRuns == brute-force maximal verbatim runs on a crafted corpus") {
    import spark.implicits._
    val run = (1 to 20).map(k => s"shared$k").mkString(" ") // 20-token run
    val seq = Seq(
      (1L, s"alpha beta $run gamma delta"),
      (2L, s"intro words here $run and a tail of extra words"),
      // sub-threshold overlap only (8 tokens < 15): must NOT report
      (3L, "one two " + (1 to 8).map(k => s"shared$k").mkString(" ") + " xx yy"),
      // the run twice in one doc: two diagonals against docs 1 and 2
      (4L, s"$run filler tokens between $run closing words"),
      (5L, "completely unrelated content with no overlap at all whatsoever"))
    val got = Dedup.sharedRuns(seq.toDF("doc_id", "text"),
        n = 3, minRun = 15L, maxPostings = 1000L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    val want = bruteRuns(seq, 15)
    assert(want.exists(_._5 == 20L), "the crafted 20-token run is ground truth")
    assert(got == want, s"missed: ${want -- got}, spurious: ${got -- want}")
    // doc 4 carries the run twice: both copies pair against doc 1
    assert(got.count(t => t._1 == 1L && t._2 == 4L) == 2)
  }

  test("sharedRuns == brute force on dense random small-vocab corpora (super-gram grain)") {
    import spark.implicits._
    // a 6-word vocabulary makes every trigram collide corpus-wide and
    // seeds accidental runs at every length — the adversarial regime
    // for the minRun-token super-gram detection (window assembly across
    // repeated grams, multiple diagonals per pair, runs at exactly the
    // threshold, runs one short of it)
    val rnd = new scala.util.Random(20260816L)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    val docs = (1L to 14L).map { id =>
      val len = 20 + rnd.nextInt(25)
      id -> Vector.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    // within-doc ground truth: the same corpus plus docs that plant one
    // random segment twice, apart or back to back (a tandem repeat)
    def words(k: Int) = Vector.fill(k)(vocab(rnd.nextInt(vocab.size)))
    val selfDocs = docs ++ (15L to 20L).map { id =>
      val seg = words(15 + rnd.nextInt(8))
      id -> (if (id % 2 == 0) words(3) ++ seg ++ words(4) ++ seg ++ words(2)
        else words(2) ++ seg ++ seg ++ words(3)).mkString(" ")
    }
    for (minRun <- Seq(3, 6, 15)) { // 3 = degenerate j=1 (raw-gram path)
      val got = Dedup.sharedRuns(docs.toDF("doc_id", "text"),
          n = 3, minRun = minRun.toLong, maxPostings = 1000000L)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
      val want = bruteRuns(docs, minRun)
      assert(got == want,
        s"minRun=$minRun missed: ${want -- got}, spurious: ${got -- want}")
      // the i = j rows of the same run join: within-doc repeats
      val gotSelf = Dedup.selfRuns(selfDocs.toDF("doc_id", "text"),
          n = 3, minRun = minRun.toLong, maxPostings = 1000000L)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val wantSelf = bruteSelfRuns(selfDocs, minRun)
      assert(wantSelf.exists(_._1 >= 15L), s"minRun=$minRun: the planted repeats are ground truth")
      assert(gotSelf == wantSelf,
        s"selfRuns minRun=$minRun missed: ${wantSelf -- gotSelf}, " +
          s"spurious: ${gotSelf -- wantSelf}")
    }
  }

  test("sharedRuns: a hot-gram hole splits a run; each side reports iff >= minRun") {
    import spark.implicits._
    // the shared 29-token run L1..L16 H1 H2 H3 R1..R10 carries ONE hot
    // trigram (H1 H2 H3, pasted into 30 pad docs → occ 32 > cap 20);
    // dropping it splits the gram islands at pos 16: left island grams
    // 0..15 (18 tokens, reported), right island grams 17..26 (12
    // tokens < minRun, dead) — the super-gram frame must break at the
    // hole exactly like raw grams
    val left = (1 to 16).map(k => s"L$k").mkString(" ")
    val right = (1 to 10).map(k => s"R$k").mkString(" ")
    val df = ((0 until 30).map(i => (10L + i, s"pad$i H1 H2 H3 wad$i")) ++ Seq(
      (1L, s"$left H1 H2 H3 $right"),
      (2L, s"$left H1 H2 H3 $right"))).toDF("doc_id", "text")
    val got = Dedup.sharedRuns(df, n = 3, minRun = 15L, maxPostings = 20L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == Set((1L, 2L, 0L, 0L, 18L)),
      s"left side must survive as exactly 18 tokens at pos 0, right side must die: $got")
  }

  test("sharedRuns: stop-gram guard drops boilerplate-only runs, real runs survive it") {
    import spark.implicits._
    val boiler = (1 to 17).map(k => s"b$k").mkString(" ")
    val df = ((0 until 30).map(i => (i.toLong, s"$boiler tail$i words$i")) :+
      (100L, s"unique prefix $boiler unique suffix")).toDF("doc_id", "text")
    // every 3-gram inside the boilerplate occurs 31 times > cap 20
    val capped = Dedup.sharedRuns(df, n = 3, minRun = 15L, maxPostings = 20L)
    assert(capped.isEmpty,
      "boilerplate-only runs must vanish once gram occurrences exceed the cap")
    val uncapped = Dedup.sharedRuns(df, n = 3, minRun = 15L, maxPostings = 1000L)
    assert(uncapped.count() == 31L * 30 / 2,
      "without the cap every pair shares the 17-token boilerplate run")
  }

  test("scrubSharedRuns: keeper text intact, later copy cut, overlaps merged, audit conserves") {
    import spark.implicits._
    val run = (1 to 20).map(k => s"s$k").mkString(" ")
    val seq = Seq(
      (1L, s"head $run tail"),                  // keeper: never a j side
      (2L, s"pre $run post"),                   // loses the run to doc 1
      // overlapping cuts: shares s1..s20 with 1/2 AND s6..s25 with 6 —
      // spans [?,?] overlap inside this doc and must interval-merge
      (3L, (1 to 25).map(k => s"s$k").mkString(" ")),
      (6L, (6 to 25).map(k => s"s$k").mkString(" ")),
      (7L, "")                                  // token-free doc: 0 / ''
    )
    val got = Dedup.scrubSharedRuns(seq.toDF("doc_id", "text"),
        n = 3, minRun = 15L, maxPostings = 1000L)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got.keySet == Set(1L, 2L, 3L, 6L, 7L), "total audit: every doc reports")
    assert(got(1L) == ((22L, 0L, s"head $run tail")), "smallest doc_id keeps its text")
    assert(got(2L) == ((22L, 20L, "pre post")), "later copy loses exactly the run")
    // doc 3: s1..s25 all cut (vs doc 1's s1..s20 and itself being doc 6's
    // keeper — doc 3 < 6, so 3 keeps vs 6; but 3 > 1 and 3 > 2 lose s1..s20;
    // merged spans cover the union the brute-force check below computes
    val (nt3, nd3, clean3) = got(3L)
    assert(nt3 == 25L && clean3.split("\\s+").filter(_.nonEmpty).length == (25L - nd3).toInt)
    // conservation on every row: kept tokens == n_tokens - n_dropped
    got.foreach { case (_, (nt, nd, txt)) =>
      val kept = txt.split("\\s+").filter(_.nonEmpty).length.toLong
      assert(kept == nt - nd && nd >= 0 && nd <= nt)
    }
    assert(got(7L) == ((0L, 0L, "")), "token-free doc carries 0 / empty, never NULL")
    // single-pass contract: no PRE-EXISTING cross-doc run survives (the
    // corpus-level invariant needs the fixpoint — see the tests below)
    val rescan = Dedup.sharedRuns(
      got.toSeq.map { case (id, (_, _, txt)) => (id, txt) }.toDF("doc_id", "text"),
      n = 3, minRun = 15L, maxPostings = 1000L)
    assert(rescan.isEmpty, "post-scrub corpus has no shared run >= minRun")
  }

  /** Uncapped cross-doc + within-doc rescan — the NON-circular residual
    * check (the scrub's own guard is deliberately not applied, so what
    * the guard hides from remediation is visible to the test).
    */
  private def residualRuns(cleaned: Seq[(Long, String)], minRun: Long) = {
    val df = cleaned.toDF("doc_id", "text")
    Dedup.sharedRuns(df, n = 3, minRun = minRun, maxPostings = 1000000L)
      .collect().toSeq ++
      Dedup.selfRuns(df, n = 3, minRun = minRun, maxPostings = 1000000L)
        .collect().toSeq
  }

  private def cleanedOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
    df.select("doc_id", "text_clean").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq

  test("flank fusion: single pass leaves a NEW run, fixpoint removes it") {
    // ADVICE.md round-6 case: keeper 'A B'; later doc 'A X B' where A
    // and B are each sub-minRun but X >= minRun is shared elsewhere —
    // cutting X fuses A and B into a fresh >= minRun run
    val a = (1 to 4).map(k => s"a$k").mkString(" ")
    val b = (1 to 4).map(k => s"b$k").mkString(" ")
    val x = (1 to 8).map(k => s"x$k").mkString(" ")
    val seq = Seq((0L, s"$a $b"), (1L, x), (2L, s"$a $x $b"))
    val once = Dedup.scrubSharedRuns(seq.toDF("doc_id", "text"),
      n = 3, minRun = 6L, maxPostings = 1000L)
    val onceRes = residualRuns(cleanedOf(once), 6L)
    assert(onceRes.nonEmpty,
      "documented single-pass residual: the fused 'A B' run survives one pass")
    val fix = Dedup.scrubRunsFixpoint(seq.toDF("doc_id", "text"),
      n = 3, minRun = 6L, maxPostings = 1000L)
    val rows = fix.collect().map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4), r.getBoolean(5)))).toMap
    assert(rows.values.forall(_._5), "fixpoint must report converged")
    assert(rows(0L)._3 == s"$a $b", "keeper doc intact")
    assert(rows(2L)._4 >= 2L, "the fused run needs a second round")
    assert(residualRuns(cleanedOf(fix.withColumnRenamed("text_clean", "text_clean")), 6L).isEmpty,
      "no duplicated run survives the fixpoint")
    rows.values.foreach { case (nt, nd, txt, _, _) =>
      assert(txt.split("\\s+").count(_.nonEmpty).toLong == nt - nd,
        "cumulative audit conserves tokens")
    }
  }

  test("scrub loops cut the larger doc_id's copy even where it sits earlier") {
    // the run join orders pairs on (doc_id, pos): a cross-doc run whose
    // later doc holds it at a SMALLER position must still be cut there,
    // never in the keeper
    val run = (1 to 18).map(k => s"r$k").mkString(" ")
    val seq = Seq((1L, s"a b c d e f $run"), (2L, s"$run g h"))
    val df = seq.toDF("doc_id", "text")
    for (out <- Seq(
        Dedup.scrubRunsFixpoint(df, n = 3, minRun = 15L, maxPostings = 1000L),
        Dedup.scrubRunsFixed(df, n = 3, minRun = 15L, maxPostings = 1000L))) {
      val got = out.select("doc_id", "text_clean").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == Map(1L -> seq.head._2, 2L -> "g h"), got)
    }
  }

  test("scrubRunsFixed ≡ scrubRunsFixpoint when convergence fits the round budget") {
    // the q111b contract: with rounds >= the fixpoint's cutting-round
    // count, the fixed-round unroll lands on the identical corpus —
    // exercised on the flank-fusion corpus (needs 2 rounds), the
    // hot-boilerplate corpus (guarded grams), and the real sf0.001 slice
    val a = (1 to 4).map(k => s"a$k").mkString(" ")
    val b = (1 to 4).map(k => s"b$k").mkString(" ")
    val x = (1 to 8).map(k => s"x$k").mkString(" ")
    val fusion = Seq((0L, s"$a $b"), (1L, x), (2L, s"$a $x $b"))
      .toDF("doc_id", "text")
    val boiler = (1 to 17).map(k => s"b$k").mkString(" ")
    val hot = ((0 until 30).map(i => (i.toLong, s"$boiler tail$i words$i")) :+
      (100L, s"unique prefix $boiler unique suffix")).toDF("doc_id", "text")
    val corpus = Tables.load(spark, TestSpark.Sf0001, "documents")
    for ((df, minRun, cap) <- Seq((fusion, 6L, 1000L), (hot, 15L, 5L),
        (corpus, 15L, 1000L))) {
      val fix = Dedup.scrubRunsFixpoint(df, n = 3, minRun = minRun,
        maxPostings = cap)
      val cutRounds = math.max(1L, fix.agg(max("n_iters")).head.getLong(0)).toInt
      val expect = fix.select("doc_id", "n_tokens", "n_dropped", "text_clean")
        .orderBy("doc_id").collect().toSeq
      val got = Dedup.scrubRunsFixed(df, n = 3, minRun = minRun,
          maxPostings = cap, rounds = cutRounds)
        .orderBy("doc_id").collect().toSeq
      assert(got == expect, s"fixed($cutRounds) must equal the fixpoint")
      // an extra round past the fixpoint is a no-op (idempotence)
      val extra = Dedup.scrubRunsFixed(df, n = 3, minRun = minRun,
          maxPostings = cap, rounds = cutRounds + 1)
        .orderBy("doc_id").collect().toSeq
      assert(extra == expect, "a round past the fixpoint must cut nothing")
    }
  }

  test("selfRuns: within-doc repeats and tandem periodic collapse") {
    val r = (1 to 8).map(k => s"r$k").mkString(" ")
    val seq = Seq(
      (0L, s"$r mid1 mid2 mid3 $r"),            // clean internal repeat
      (1L, "w1 w2 w3 w1 w2 w3 w1 w2 w3"),       // tandem period 3
      (2L, "no repeats in this document at all"))
    val got = Dedup.selfRuns(seq.toDF("doc_id", "text"),
        n = 3, minRun = 6L, maxPostings = 1000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // doc 0: r1..r8 at 0 and 11 -> one 8-token run
    assert(got.contains((0L, 0L, 11L, 8L)), s"missing doc-0 repeat in $got")
    // doc 1: diag -3 matches grams 0..3 -> tokens [0,6) == [3,9)
    assert(got.contains((1L, 0L, 3L, 6L)), s"missing tandem run in $got")
    assert(!got.exists(_._1 == 2L), "clean doc reports nothing")
    // fixpoint collapses the tandem repeat to its primitive prefix
    val fix = Dedup.scrubRunsFixpoint(seq.toDF("doc_id", "text"),
      n = 3, minRun = 6L, maxPostings = 1000L)
    val txt = fix.collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(txt(1L) == "w1 w2 w3", s"tandem collapse, got '${txt(1L)}'")
    assert(txt(0L) == s"$r mid1 mid2 mid3", s"later internal copy cut, got '${txt(0L)}'")
    assert(residualRuns(txt.toSeq.map { case (k, v) => (k, v) }, 6L).isEmpty)
  }

  test("hot boilerplate: guard-blinded runs are cut by the hot-segment pass") {
    val boiler = (1 to 17).map(k => s"b$k").mkString(" ")
    val seq = (0 until 30).map(i => (i.toLong, s"$boiler tail$i words$i")) :+
      (100L, s"unique prefix $boiler unique suffix")
    val df = seq.toDF("doc_id", "text")
    // cap 5: every interior gram occurs 31 times -> sharedRuns is blind
    assert(Dedup.sharedRuns(df, n = 3, minRun = 15L, maxPostings = 5L).isEmpty)
    val cuts = Dedup.hotSegmentCuts(df, n = 3, minRun = 15L, maxPostings = 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(cuts.length == 30, s"one cut per non-keeper host, got ${cuts.length}")
    assert(!cuts.exists(_._1 == 0L), "minimal (doc_id, start) keeps the block")
    val fix = Dedup.scrubRunsFixpoint(df, n = 3, minRun = 15L, maxPostings = 5L)
    val txt = fix.collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(txt(0L).startsWith(boiler), "keeper doc intact")
    assert((1 until 30).forall(i => txt(i.toLong) == s"tail$i words$i"),
      "every other host loses exactly the block")
    assert(txt(100L) == "unique prefix unique suffix")
    assert(residualRuns(txt.toSeq, 15L).isEmpty,
      "uncapped rescan proves the guard blind spot is remediated")
  }

  test("partially-included hot blocks: fragment containment cuts what the fingerprint grouping missed") {
    // the r9 residual: MORE THAN maxPostings docs each carry a DIFFERENT
    // contiguous fragment of one hot block. Fingerprint grouping sees
    // count-1 fps (no cut), and the fragments keep the block's grams hot
    // in EVERY round, so the cold diagonal never gets to see them — the
    // old fixpoint stalled converged=true with live duplicated runs.
    val words = (1 to 25).map(k => s"b$k")
    val boiler = words.mkString(" ")
    // 30 full copies + 10 distinct fragments (length 16..20 at offsets
    // 0..4), each with unique flanks so no two fragments share an fp
    val seq = (0 until 30).map(i => (i.toLong, s"$boiler tail$i words$i")) ++
      (0 until 10).map { i =>
        val frag = words.slice(i % 5, (i % 5) + 16 + (i % 5)).mkString(" ")
        (200L + i, s"u${i}a u${i}b $frag u${i}c u${i}d")
      }
    val df = seq.toDF("doc_id", "text")
    // the direct pass now cuts every fragment occurrence too
    val cuts = Dedup.hotSegmentCuts(df, n = 3, minRun = 15L, maxPostings = 5L)
      .collect().map(_.getLong(0)).toSet
    assert((200L until 210L).forall(cuts.contains),
      s"every fragment host must be cut, got $cuts")
    assert(!cuts.contains(0L), "the containing block's keeper survives")
    val fix = Dedup.scrubRunsFixpoint(df, n = 3, minRun = 15L, maxPostings = 5L)
    val rows = fix.collect().map(r =>
      r.getLong(0) -> ((r.getString(3), r.getBoolean(5)))).toMap
    assert(rows.values.forall(_._2), "fixpoint must converge")
    assert(rows(0L)._1.startsWith(boiler), "keeper doc intact")
    (0 until 10).foreach { i =>
      assert(rows(200L + i)._1 == s"u${i}a u${i}b u${i}c u${i}d",
        s"fragment host ${200 + i} keeps only its flanks: '${rows(200L + i)._1}'")
    }
    // the done-criterion: an UNCAPPED rescan of the scrubbed corpus
    // finds no duplicated run >= minRun anywhere
    assert(residualRuns(rows.toSeq.map { case (k, (t, _)) => (k, t) }, 15L).isEmpty,
      "uncapped rescan must find no residual run")
  }

  test("sampled 1-NN agreement law: the hash-sample probe tracks the full ground truth") {
    // the executable sampling posture of the O(n²) calibration tiers:
    // at 500000 ppm the probe halves the corpus; the law is that the
    // corpus-weighted agreement estimates the full metric (per-label
    // cells run at ~25 samples here, so they get a loose band — the
    // probe's contract is the aggregate, not a 25-sample cell)
    def rows(df: org.apache.spark.sql.DataFrame): Map[Int, (Long, Long, Long)] =
      df.collect().map(r =>
        r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val full = rows(Similarity.knnLabelAgreement(emb))
    val samp = rows(Similarity.knnLabelAgreementSampled(emb, ppm = 500000L))
    assert(samp.keySet == full.keySet, "every label survives the half-sample")
    val nSamp = samp.values.map(_._1).sum
    val nFull = full.values.map(_._1).sum
    assert(nSamp > nFull / 3 && nSamp < 2 * nFull / 3,
      s"half-sample size $nSamp of $nFull out of band")
    samp.foreach { case (l, (n, _, ppm)) =>
      assert(n <= full(l)._1, s"label $l sampled more than it has")
      assert(math.abs(ppm - full(l)._3) <= 250000L,
        s"label $l sampled agreement $ppm vs full ${full(l)._3}")
    }
    // corpus-weighted agreement: the real contract (measured 69230 vs
    // 76923 ppm on this corpus — a weak-signal encoder near the 10%
    // random baseline, so 50000 ppm is ~7 sigma of the real gap)
    def overall(m: Map[Int, (Long, Long, Long)]): Long =
      m.values.map(_._2).sum * 1000000L / m.values.map(_._1).sum
    assert(math.abs(overall(samp) - overall(full)) <= 50000L,
      s"overall ${overall(samp)} vs ${overall(full)}")
    // deterministic: the same call is bit-stable (hash membership, no RNG)
    val again = rows(Similarity.knnLabelAgreementSampled(emb, ppm = 500000L))
    assert(again == samp, "sampled probe must be deterministic")
  }

  test("prefixJaccardPairs == exact all-pairs Jaccard (completeness theorem)") {
    // the prefix scheme must return EXACTLY the qualifying pairs — not
    // almost all of them (this is what separates it from the LSH tiers)
    val exact = Dedup.ngramJaccardPairs(docs, 3, 0.75)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val pref = Dedup.prefixJaccardPairs(docs, 3, tNum = 3L, tDen = 4L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(exact.nonEmpty, "corpus should contain qualifying pairs")
    assert(pref == exact,
      s"missed: ${exact.keySet -- pref.keySet}, spurious: ${pref.keySet -- exact.keySet}")
  }

  test("prefixJaccardPairs: boundary pair exactly AT the rational threshold survives") {
    // 9 shared shingles, 12 each side -> J = 9/15 = 3/5 exactly; an
    // IEEE prefix length or threshold compare that rounds one ULP the
    // wrong way drops it — the integer arithmetic cannot
    val shared = (1 to 11).map(k => s"s$k").mkString(" ") // 9 shared 3-grams
    val a = s"$shared a1 a2 a3 a4"   // 15 tokens -> 13 grams... adjust below
    val b = s"$shared b1 b2 b3 b4"
    // build sizes explicitly: tokens 11 + 4 = 15 -> 13 grams each; the
    // 2 grams spanning the boundary differ, shared = 9, union = 17 — so
    // use threshold 9/17 to sit exactly on the boundary
    val df = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val hit = Dedup.prefixJaccardPairs(df, 3, tNum = 9L, tDen = 17L).collect()
    assert(hit.length == 1 && hit.head.getLong(0) == 1L)
    val miss = Dedup.prefixJaccardPairs(df, 3, tNum = 10L, tDen = 17L).collect()
    assert(miss.isEmpty, "one notch above the exact ratio excludes the pair")
  }

  test("bbit minhash: recalls every planted pair, estimates within 4 sigma, 30ths grid") {
    val exact = Dedup.minhashPairs(docs, 3, 16, 4, 0.9)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val est = Dedup.bbitMinhashPairs(docs, 3, 60, 4, 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(exact.nonEmpty)
    exact.foreach { case (pair, j) =>
      val e = est.getOrElse(pair, fail(s"1-bit tier dropped planted pair $pair"))
      // sigma of the 60-bit agreement estimator ~ 0.13; 4 sigma ~ 0.5
      assert(math.abs(e - j) <= 0.5, s"$pair: est $e vs exact $j")
    }
    // (2a - 60)/60 = (a - 30)/30 for integer agreement a: the estimator
    // can only produce 30ths (clipped at 0), observed through the
    // output's 4-dp rounding
    est.values.foreach { e =>
      assert(math.abs(e - math.round(e * 30) / 30.0) <= 5e-5,
        s"estimate $e is not a 4-dp-rounded 30th")
    }
  }

  test("bbit minhash accepts any rowsPerBand in [1, 16] (pool = largest multiple <= 16)") {
    // 5 does not divide 16 — the band pool derives to 15 (3 bands of
    // 5) instead of tripping the full-bands require; candidates only
    // shrink as bands lengthen, so estimates stay a subset of the
    // loosest (rowsPerBand = 1) tier and remain 30ths-grid values
    val loose = Dedup.bbitMinhashPairs(docs, 3, 60, 1, 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val banded5 = Dedup.bbitMinhashPairs(docs, 3, 60, 5, 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(banded5.keySet.subsetOf(loose.keySet),
      "stricter bands must not invent candidate pairs")
    banded5.foreach { case (p, e) =>
      assert(loose(p) == e, s"estimate for $p must not depend on banding")
    }
    intercept[IllegalArgumentException] {
      Dedup.bbitMinhashPairs(docs, 3, 60, 17, 0.5)
    }
  }

  test("cappedDedup: ranks contiguous, kept == min(group, cap), keeper matches exact tier") {
    val capped = Dedup.cappedDedup(docs, maxCopies = 2L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val byFp = capped.groupBy(_._2)
    byFp.values.foreach { g =>
      assert(g.map(_._3).sorted.toSeq == (1L to g.size).toSeq, "contiguous ranks")
      assert(g.count(_._4 == 1L) == math.min(g.size, 2), "kept = min(|group|, cap)")
      // ranks follow doc_id order
      assert(g.sortBy(_._1).map(_._3).toSeq == (1L to g.size).toSeq)
    }
    // rank-1 rows are exactly exactGroups' keepers
    val keepers = Dedup.exactGroups(docs).collect().map(_.getLong(2)).toSet
    assert(capped.filter(_._3 == 1L).map(_._1).toSet == keepers)
  }

  test("noveltyProfile: first occurrence owns novelty, totals conserve") {
    val rows = Dedup.noveltyProfile(docs, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // the smallest doc_id with any shingles is 100% novel
    val firstWith = rows.find(_._2 > 0).get
    assert(firstWith._2 == firstWith._3, "first doc's shingles are all novel")
    // each distinct shingle's novelty is granted exactly once
    val distinctGrams = Dedup.shingles(docs, 3).select("gh").distinct().count()
    assert(rows.map(_._3).sum == distinctGrams,
      "sum of per-doc novel counts == corpus distinct shingle count")
    rows.foreach { case (id, ns, nn) =>
      assert(nn <= ns, s"doc $id: novel $nn > shingles $ns")
    }
  }

  test("labelCoherence: axis-aligned labels separate; flipped member flagged") {
    import spark.implicits._
    // label 0 hugs the x-axis, label 1 the y-axis; vec 5 is y-aligned
    // but labeled 0 — the label error the audit exists to surface
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(0.9f, 0.1f), 0),
      (3L, Array(0.0f, 1.0f), 1), (4L, Array(0.1f, 0.9f), 1),
      (5L, Array(0.0f, 1.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val r = Similarity.labelCoherence(emb).orderBy("vec_id").collect()
    assert(r.length == 5)
    val byId = r.map(x => x.getLong(0) ->
      (x.getDouble(2), x.getInt(3), x.getDouble(4), x.getLong(5))).toMap
    // clean members sit closer to their own centroid
    Seq(1L, 2L, 3L, 4L).foreach { id =>
      val (own, _, oth, sep) = byId(id)
      assert(own > oth && sep == 1L, s"vec $id should separate: $own vs $oth")
    }
    // the flipped vector is closer to label 1's centroid
    val (own5, lbl5, oth5, sep5) = byId(5L)
    assert(lbl5 == 1 && oth5 > own5 && sep5 == 0L,
      s"planted label error must surface: own=$own5 other=$oth5")
  }

  test("centroidDrift: identical slices cos 1, rotated class cos 0, one-sided labels NULL") {
    import spark.implicits._
    // cut at 100: vec_id < 100 is yesterday, >= 100 the delta.
    // label 0: identical centroid both sides -> drift_cos = 1.0
    // label 1: x-axis yesterday, y-axis delta -> drift_cos = 0.0
    // label 2: yesterday only; label 3: delta only -> NULL cosine
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(1.0f, 0.0f), 0),
      (101L, Array(1.0f, 0.0f), 0),
      (3L, Array(1.0f, 0.0f), 1), (102L, Array(0.0f, 1.0f), 1),
      (4L, Array(0.5f, 0.5f), 2), (103L, Array(0.5f, 0.5f), 3)
    ).toDF("vec_id", "embedding", "label")
    val r = Similarity.centroidDrift(emb, cut = 100L).orderBy("label")
      .collect()
    assert(r.map(_.getInt(0)).toSeq == Seq(0, 1, 2, 3))
    val byLabel = r.map(x => x.getInt(0) ->
      ((x.getLong(1), x.getLong(2)),
        if (x.isNullAt(5)) None else Some(x.getDouble(5)))).toMap
    assert(byLabel(0) == (((2L, 1L), Some(1.0))), s"${byLabel(0)}")
    assert(byLabel(1) == (((1L, 1L), Some(0.0))), s"${byLabel(1)}")
    assert(byLabel(2) == (((1L, 0L), None)), "yesterday-only label: NULL cos")
    assert(byLabel(3) == (((0L, 1L), None)), "delta-only label: NULL cos")
    // norms: label 2's yesterday centroid is (0.5, 0.5) -> |c| = 0.7071
    val l2 = r.find(_.getInt(0) == 2).get
    assert(l2.getDouble(3) == 0.7071 && l2.isNullAt(4), s"$l2")
  }

  test("knnLabelAgreement: flipped member drags BOTH labels' agreement down") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(0.9f, 0.1f), 0),
      (3L, Array(0.0f, 1.0f), 1), (4L, Array(0.1f, 0.9f), 1),
      (5L, Array(0.0f, 1.0f), 0) // label error: its NN is vec 3 (label 1)
    ).toDF("vec_id", "embedding", "label")
    val r = Similarity.knnLabelAgreement(emb).orderBy("label").collect()
      .map(x => (x.getInt(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    // label 0: 1,2 agree, 5's NN is 3 -> 2/3; label 1: 3's NN is the
    // flipped 5 (cos 1.0 beats 4's 0.9938) -> 1/2
    assert(r.toSeq == Seq((0, 3L, 2L, 666666L), (1, 2L, 1L, 500000L)))
  }

  test("scrubRunsFixpoint: already-clean corpus is a zero-round fixpoint") {
    val seq = Seq((0L, "entirely distinct first document text"),
      (1L, "another unrelated second document body"))
    val rows = Dedup.scrubRunsFixpoint(seq.toDF("doc_id", "text"),
        n = 3, minRun = 6L, maxPostings = 1000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getLong(4), r.getBoolean(5)))
    assert(rows.forall(_._6), "converged")
    assert(rows.forall(_._5 == 0L), "zero rounds")
    assert(rows.forall(r => r._3 == 0L), "nothing dropped")
    rows.foreach { r =>
      assert(r._4 == seq.toMap.apply(r._1), "text unchanged verbatim")
    }
  }

  test("scrub/run entry points reject minRun < n loudly (invalid super-gram frame)") {
    // the run join builds a rowsBetween(0, j-1) frame with
    // j = minRun - n + 1; minRun < n would make the bound negative at
    // runtime — every entry point must fail at the door instead
    val df = Seq((0L, "a b c d e")).toDF("doc_id", "text")
    for (f <- Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
        d => Dedup.sharedRuns(d, n = 3, minRun = 2L),
        d => Dedup.selfRuns(d, n = 3, minRun = 2L),
        d => Dedup.scrubRunsFixpoint(d, n = 3, minRun = 2L),
        d => Dedup.scrubRunsFixed(d, n = 3, minRun = 2L))) {
      val ex = intercept[IllegalArgumentException](f(df))
      assert(ex.getMessage.contains("minRun"), ex.getMessage)
    }
    // a stop-gram cap under 2 would drop every gram a pair could share:
    // the same door rejects it for all five entry points
    for (f <- Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
        d => Dedup.sharedRuns(d, n = 3, minRun = 3L, maxPostings = 1L),
        d => Dedup.selfRuns(d, n = 3, minRun = 3L, maxPostings = 1L),
        d => Dedup.scrubSharedRuns(d, n = 3, minRun = 3L, maxPostings = 1L),
        d => Dedup.scrubRunsFixpoint(d, n = 3, minRun = 3L, maxPostings = 1L),
        d => Dedup.scrubRunsFixed(d, n = 3, minRun = 3L, maxPostings = 1L))) {
      val ex = intercept[IllegalArgumentException](f(df))
      assert(ex.getMessage.contains("maxPostings"), ex.getMessage)
    }
  }

  test("span tier: one ghs join per scrub round; the run filters sit inside it") {
    import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, Expression, LessThan}
    import org.apache.spark.sql.catalyst.plans.logical.Join
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    def equi(c: Expression, name: String): Boolean = conjuncts(c).exists {
      case EqualTo(l: Attribute, r: Attribute) => l.name == name && r.name == name
      case _ => false
    }
    // the optimized super-gram self-joins of a frame (equi-key ghs)
    def ghsJoins(df: org.apache.spark.sql.DataFrame): Seq[Expression] =
      df.queryExecution.optimizedPlan.collect {
        case j: Join if j.condition.exists(equi(_, "ghs")) => j.condition.get
      }
    val run = (1 to 16).map(k => s"w$k").mkString(" ")
    val df = Seq((1L, s"$run x $run"), (2L, s"y $run")).toDF("doc_id", "text")
    val (spans, state) = Dedup.scrubRound(df, 3, 15L, 1000L)
    assert(ghsJoins(spans).size == 1, "cross-doc and within-doc runs share one join")
    state.foreach(graft.operators.Ckpt.release)
    // sharedRuns: the doc-order filter i < j is a join condition
    val cross = ghsJoins(Dedup.sharedRuns(df, n = 3, minRun = 15L))
    assert(cross.size == 1)
    assert(conjuncts(cross.head).exists {
      case LessThan(l: Attribute, r: Attribute) => l.name == "doc_id" && r.name == "doc_id"
      case _ => false
    }, cross.head.sql)
    // selfRuns: i = j makes doc_id a second equi-key of the same join
    val self = ghsJoins(Dedup.selfRuns(df, n = 3, minRun = 15L))
    assert(self.size == 1 && equi(self.head, "doc_id"), self.map(_.sql))
  }

  test("oracle minhashCandSql rejects nSeeds < 16 (band pool takes the first 16)") {
    // the house band pool is the first 16 permutations; an oracle built
    // from fewer would band incomplete signatures and silently diverge
    // from Dedup.bandsOfWide — the require is the loud alternative
    val ex = intercept[IllegalArgumentException](
      graft.queries.DedupQueries.minhashCandSql(nSeeds = 8))
    assert(ex.getMessage.contains("band pool"), ex.getMessage)
    assert(graft.queries.DedupQueries.minhashCandSql(nSeeds = 60)
      .contains("generate_series(0, 59)"), "larger seed pools remain valid")
  }

  test("bandCurveSampled == bandCurve when the corpus fits the target (derived ppm = 10^6)") {
    // the q217/q210 agreement law: at <= targetDocs documents the
    // derived ppm saturates, the sample is the whole corpus, and the
    // sampled curve is the full curve row for row
    val full = Dedup.bandCurve(docs).collect().map(_.toSeq).toSeq
    val sampled = Dedup.bandCurveSampled(docs, targetDocs = 1000000L)
      .collect().map(_.toSeq).toSeq
    assert(full.size == 3 && sampled == full)
  }

  test("bandCurveSampled: derived-ppm sample is deterministic, bounded, and partitioning-blind") {
    val n = docs.count()
    val target = math.max(1L, n / 2)
    val a = Dedup.bandCurveSampled(docs, targetDocs = target)
      .collect().map(_.toSeq).toSeq
    val b = Dedup.bandCurveSampled(docs.repartition(7), targetDocs = target)
      .collect().map(_.toSeq).toSeq
    assert(a == b, "hash-bucket membership must not depend on partitioning")
    // a strict sample does strictly less candidate work than the full
    // curve on this corpus (the scale property the suite entry rests on)
    val fullCand = Dedup.bandCurve(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    a.foreach { row =>
      val (r, cand) = (row(0).asInstanceOf[Long], row(2).asInstanceOf[Long])
      assert(cand <= fullCand(r), s"sampled candidates exceed full at r=$r")
    }
    assert(intercept[IllegalArgumentException](
      Dedup.bandCurveSampled(docs, targetDocs = 0L))
      .getMessage.contains("targetDocs"))
  }
}
