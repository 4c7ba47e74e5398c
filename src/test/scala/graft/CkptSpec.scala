package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Ckpt

/** The lineage-cut policy point: graft-created checkpoint storage is
  * tracked and released at run boundaries WITHOUT touching caches other
  * code holds on the shared SparkContext.
  */
class CkptSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("releaseGraftStorage drops tracked checkpoints, foreign caches survive") {
    val sc = spark.sparkContext
    val base = sc.getPersistentRDDs.keySet
    val foreign = spark.range(10).toDF("x").persist()
    foreign.count()
    val foreignIds = sc.getPersistentRDDs.keySet -- base
    assert(foreignIds.nonEmpty, "foreign persist must register")

    val cp = Ckpt.narrow(spark.range(100).toDF("y"))
    assert(cp.count() == 100)
    val graftIds = sc.getPersistentRDDs.keySet -- base -- foreignIds
    assert(graftIds.nonEmpty, "narrow() must register persistent RDD blocks")

    Ckpt.releaseGraftStorage(spark)
    val after = sc.getPersistentRDDs.keySet
    assert(graftIds.forall(!after.contains(_)), "graft blocks must be dropped")
    assert(foreignIds.forall(after.contains), "foreign cache must survive")
    assert(foreign.count() == 10)
    foreign.unpersist()
  }

  test("release(df) frees one checkpointed frame; Dataset.unpersist alone cannot") {
    val sc = spark.sparkContext
    val base = sc.getPersistentRDDs.keySet
    val cp = Ckpt.narrow(spark.range(50).toDF("z"))
    assert(cp.count() == 50)
    val ids = sc.getPersistentRDDs.keySet -- base
    assert(ids.nonEmpty)
    // the Dataset-level call is a no-op for RDD-level checkpoint storage
    cp.unpersist()
    assert(ids.forall(sc.getPersistentRDDs.keySet.contains),
      "Dataset.unpersist must not be able to free checkpoint blocks (if it " +
        "ever can, Components' per-round release can simplify)")
    Ckpt.release(cp)
    val after = sc.getPersistentRDDs.keySet
    assert(ids.forall(!after.contains(_)), "release(df) must drop the blocks")
    // idempotent + harmless on non-checkpointed frames
    Ckpt.release(cp)
    Ckpt.release(spark.range(5).toDF("w"))
  }

  test("spark.graft.ckpt.dir engages durable checkpoints; default unchanged after unset") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_dir_").toString
    spark.conf.set(Ckpt.DirKey, dir)
    try {
      val df = Ckpt.narrow(spark.range(100).toDF("id"))
      assert(df.count() == 100)
      // reliable checkpoint files must land under the configured dir —
      // the artifact that survives executor loss where local blocks don't
      def files(p: java.io.File): Seq[java.io.File] =
        if (p.isDirectory) Option(p.listFiles()).toSeq.flatten.flatMap(files)
        else Seq(p)
      assert(files(new java.io.File(dir)).nonEmpty,
        "durable mode must write checkpoint files under the configured dir")
      // the cut frame computes correctly from the durable artifact
      assert(df.agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0) == 4950L)
    } finally spark.conf.unset(Ckpt.DirKey)
    // back to default: local checkpoint blocks register as persistent RDDs
    val sc = spark.sparkContext
    val base = sc.getPersistentRDDs.keySet
    val local = Ckpt.narrow(spark.range(7).toDF("id"))
    assert(local.count() == 7)
    assert((sc.getPersistentRDDs.keySet -- base).nonEmpty,
      "default local-checkpoint path must be restored after unset")
    Ckpt.releaseGraftStorage(spark)
  }

  test("lazy checkpoints are tracked too") {
    val sc = spark.sparkContext
    val base = sc.getPersistentRDDs.keySet
    val cp = Ckpt.narrowLazy(spark.range(50).toDF("z"))
    assert(cp.count() == 50)
    assert((sc.getPersistentRDDs.keySet -- base).nonEmpty)
    Ckpt.releaseGraftStorage(spark)
    assert((sc.getPersistentRDDs.keySet -- base).isEmpty)
  }

  test("narrowLazy over a shuffle runs the stages below the cut at the cut") {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    val sc = spark.sparkContext
    val group = s"ckpt-spec-lazy-${System.nanoTime}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val a = spark.range(200000).groupBy((col("id") % 1000).as("k"))
      .agg(count(lit(1)).as("n"))
    val b = spark.range(200000).groupBy((col("id") % 700).as("k"))
      .agg(sum("id").as("s"))
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "narrowLazy over a join of two aggregates")
    val cut = try Ckpt.narrowLazy(a.join(b, "k")) finally sc.clearJobGroup()
    // listener delivery is asynchronous: give the bus time to catch up
    val deadline = System.nanoTime + 10000000000L
    while (jobs.get == 0 && System.nanoTime < deadline) Thread.sleep(20)
    sc.removeSparkListener(listener)
    assert(jobs.get > 0, "a lazy cut over shuffles must run their stages at the cut")
    // the last stage still waits for the first action
    assert(cut.count() == 700)
    Ckpt.release(cut)
  }
}
