package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Source/sink coverage beyond the benchmark parquet: CSV and JSON
  * round-trips (schema preserved, values identical) and a
  * date-partitioned parquet sink whose partitions actually prune at
  * the scan — the layout a 100 TB events table lives in.
  */
class SourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmp(name: String) = s"/tmp/graft_sources/$name"

  test("Tables.load: the parquet schema job is labelled; the caller's description survives") {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription("sources-spec caller")
    try {
      val (after, jobs) = TestSpark.jobsDuring {
        Tables.load(spark, TestSpark.Sf0001, "events")
        sc.getLocalProperty("spark.job.description")
      }
      assert(jobs.nonEmpty && jobs.forall(_ == "Tables.load: events"), s"$jobs")
      assert(after == "sources-spec caller")
    } finally sc.setLocalProperty("spark.job.description", prev)
  }

  test("csv round-trip: orders survive header+schema read unchanged") {
    val orig = Tables.load(spark, TestSpark.Sf0001, "orders")
    orig.write.mode("overwrite").option("header", "true").csv(tmp("orders_csv"))
    val back = spark.read.option("header", "true").schema(orig.schema).csv(tmp("orders_csv"))
    assert(back.schema == orig.schema)
    val a = orig.orderBy("o_orderkey").collect().map(_.toSeq)
    val b = back.orderBy("o_orderkey").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("json-lines round-trip: nested-free table survives unchanged") {
    val orig = Tables.load(spark, TestSpark.Sf0001, "customer")
    orig.write.mode("overwrite").json(tmp("customer_json"))
    val back = spark.read.schema(orig.schema).json(tmp("customer_json"))
    val a = orig.orderBy("c_custkey").collect().map(_.toSeq)
    val b = back.orderBy("c_custkey").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("orc round-trip: columnar sibling format preserves schema and values") {
    val orig = Tables.load(spark, TestSpark.Sf0001, "lineitem")
    orig.write.mode("overwrite").orc(tmp("lineitem_orc"))
    val back = spark.read.orc(tmp("lineitem_orc"))
    assert(back.schema == orig.schema)
    assert(back.count() == orig.count())
    val a = orig.orderBy("l_orderkey", "l_linenumber").limit(100).collect().map(_.toSeq)
    val b = back.orderBy("l_orderkey", "l_linenumber").limit(100).collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("date-partitioned sink prunes partitions at the scan") {
    val ev = Tables.load(spark, TestSpark.Sf0001, "events")
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    ev.write.mode("overwrite").partitionBy("day").parquet(tmp("events_by_day"))

    val days = ev.select("day").distinct().orderBy("day")
      .collect().map(_.getString(0))
    assert(days.length > 1, "need multiple partitions to prove pruning")
    val target = days(days.length / 2)

    val filtered = spark.read.parquet(tmp("events_by_day"))
      .filter(col("day") === target)
    val plan = TestSpark.finalPlan(filtered)
    assert(plan.contains(s"PartitionFilters: [isnotnull(day"),
      s"day filter did not become a partition filter:\n${plan.take(1500)}")
    // the physical scan must touch only the one matching directory
    val scanned = filtered.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    assert(!scanned.contains("PartitionFilters: []"), "no partition filter at the leaf scan")
    // and the row count equals that day's rows, read without a post-filter
    val expected = ev.filter(col("day") === target).count()
    assert(filtered.count() == expected)
  }

  test("binaryFile source: payload files become Blob rows, ids from names, fail-loud contract") {
    import graft.operators.Multimodal
    val dir = new java.io.File(tmp("payloads")); dir.mkdirs()
    dir.listFiles().foreach(_.delete())
    val payloads = Map(3L -> Array.tabulate(64)(i => (i * 7 % 251).toByte),
      12L -> Array.tabulate(200)(i => (255 - i % 256).toByte),
      47L -> "tiny".getBytes("UTF-8"))
    payloads.foreach { case (id, bytes) =>
      java.nio.file.Files.write(
        new java.io.File(dir, s"$id.bin").toPath, bytes)
    }
    val blobs = Multimodal.blobsFromFiles(spark, dir.getAbsolutePath)
      .collect().map(b => b.doc_id -> b.bytes).toMap
    assert(blobs.keySet == payloads.keySet)
    payloads.foreach { case (id, bytes) =>
      assert(java.util.Arrays.equals(blobs(id), bytes), s"bytes differ for $id")
    }
    // features over the file-sourced payloads == features over the same
    // bytes ingested any other way (the decode contract is source-blind)
    val feats = Multimodal.extractFeatures(
        Multimodal.blobsFromFiles(spark, dir.getAbsolutePath))
      .collect().map(f => f.doc_id -> f).toMap
    payloads.foreach { case (id, bytes) =>
      assert(feats(id).n_bytes == bytes.length)
      assert(feats(id).histogram.sum == bytes.length,
        "histogram must conserve every byte")
    }
    // a file without a numeric id must fail loudly, not renumber
    java.nio.file.Files.write(
      new java.io.File(dir, "noid.bin").toPath, Array[Byte](1, 2))
    assertThrows[IllegalArgumentException] {
      Multimodal.blobsFromFiles(spark, dir.getAbsolutePath)
    }
    // a trailing-digit name like img_001.jpg must ALSO fail — an
    // unanchored match would silently renumber it to 1
    new java.io.File(dir, "noid.bin").delete()
    java.nio.file.Files.write(
      new java.io.File(dir, "img_001.jpg").toPath, Array[Byte](3))
    assertThrows[IllegalArgumentException] {
      Multimodal.blobsFromFiles(spark, dir.getAbsolutePath)
    }
    // duplicate ids across extensions must fail, not merge payloads
    new java.io.File(dir, "img_001.jpg").delete()
    java.nio.file.Files.write(
      new java.io.File(dir, "3.jpg").toPath, Array[Byte](9))
    val ex = intercept[IllegalArgumentException] {
      Multimodal.blobsFromFiles(spark, dir.getAbsolutePath)
    }
    assert(ex.getMessage.contains("duplicate"))
  }

  test("binaryFile → real WAV decode: file-sourced payloads decode to the analytic features") {
    import graft.operators.Multimodal
    // actual .wav files on disk, ingested executor-side through the
    // binaryFile source and decoded by the REAL javax.sound codec —
    // the full production path for an audio corpus, end to end
    val dir = new java.io.File(tmp("wav_payloads")); dir.mkdirs()
    dir.listFiles().foreach(_.delete())
    val ids = Seq(7L, 33L, 480L)
    ids.foreach { id =>
      java.nio.file.Files.write(new java.io.File(dir, s"$id.wav").toPath,
        Multimodal.encodeSynthWav(id))
    }
    val feats = Multimodal.extractAudioFeatures(
        Multimodal.blobsFromFiles(spark, dir.getAbsolutePath))
      .collect().map(f => f.doc_id -> f).toMap
    assert(feats.keySet == ids.toSet)
    ids.foreach { id =>
      val n = Multimodal.synthAudioLen(id)
      assert(feats(id).sample_rate == 8000L && feats(id).n_samples == n,
        s"file $id.wav header")
      val want = new Array[Long](16)
      for (i <- 0 until n)
        want((Multimodal.synthAudioSample(id, i) + 32768) >> 12) += 1
      assert(feats(id).amp_hist == want.toSeq, s"file $id.wav histogram")
    }
  }

  test("binaryFile → mixed WAV/AIFF/AU decode: every JDK PCM container rides the production path") {
    import graft.operators.Multimodal
    // one file per container family on disk, ingested executor-side
    // through binaryFile and decoded by the REAL javax.sound codec —
    // the q224 production path, per container, end to end
    val dir = new java.io.File(tmp("mixed_audio_payloads")); dir.mkdirs()
    dir.listFiles().foreach(_.delete())
    val files = Seq(11L -> "wav", 12L -> "aiff", 13L -> "au")
    files.foreach { case (id, fmt) =>
      java.nio.file.Files.write(new java.io.File(dir, s"$id.$fmt").toPath,
        Multimodal.encodeSynthAudio(id, fmt))
    }
    val feats = Multimodal.extractAudioFeatures(
        Multimodal.blobsFromFiles(spark, dir.getAbsolutePath))
      .collect().map(f => f.doc_id -> f).toMap
    assert(feats.keySet == files.map(_._1).toSet)
    files.foreach { case (id, fmt) =>
      val n = Multimodal.synthAudioLen(id)
      assert(feats(id).sample_rate == 8000L && feats(id).n_samples == n,
        s"file $id.$fmt header")
      val want = new Array[Long](16)
      for (i <- 0 until n)
        want((Multimodal.synthAudioSample(id, i) + 32768) >> 12) += 1
      assert(feats(id).amp_hist == want.toSeq, s"file $id.$fmt histogram")
    }
  }

  test("binaryFile → real PNG decode: file-sourced payloads decode to the analytic features") {
    import graft.operators.Multimodal
    // actual .png files on disk, ingested executor-side through the
    // binaryFile source and decoded by the REAL ImageIO codec — the
    // full production path for an image corpus, end to end
    val dir = new java.io.File(tmp("png_payloads")); dir.mkdirs()
    dir.listFiles().foreach(_.delete())
    val ids = Seq(5L, 21L, 300L)
    ids.foreach { id =>
      java.nio.file.Files.write(new java.io.File(dir, s"$id.png").toPath,
        Multimodal.encodeSynthPng(id))
    }
    val feats = Multimodal.extractImageFeatures(
        Multimodal.blobsFromFiles(spark, dir.getAbsolutePath))
      .collect().map(f => f.doc_id -> f).toMap
    assert(feats.keySet == ids.toSet)
    ids.foreach { id =>
      val (w, h) = Multimodal.synthDims(id)
      assert(feats(id).width == w && feats(id).height == h, s"file $id.png dims")
      val want = new Array[Long](16)
      for (y <- 0 until h; x <- 0 until w)
        want(Multimodal.synthPixel(id, x, y) >> 4) += 1
      assert(feats(id).lum_hist == want.toSeq, s"file $id.png histogram")
    }
  }
}
