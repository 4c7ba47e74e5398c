package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Par

/** `Par.both` failure reporting: a branch's exception reaches the caller
  * as that branch threw it, and a failing calling branch cancels the
  * helper's Spark jobs.
  */
class ParSpec extends AnyFunSuite {

  test("helper-branch failure surfaces as its original exception, not wrapped") {
    val boom = new IllegalStateException("helper failed")
    val got = intercept[IllegalStateException] {
      Par.both[Int, Int](1, throw boom)
    }
    assert(got eq boom)
  }

  test("calling-branch failure propagates; the helper's outcome is not observed") {
    val boom = new IllegalArgumentException("caller failed")
    val got = intercept[IllegalArgumentException] {
      Par.both[Int, Int](throw boom, throw new IllegalStateException("helper failed"))
    }
    assert(got eq boom)
  }

  test("calling-branch failure cancels the helper's running Spark job and waits for it") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicReference
    import org.apache.spark.TaskContext
    import org.apache.spark.scheduler.{JobResult, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val sc = TestSpark.spark.sparkContext
    val desc = s"par-spec-long-${System.nanoTime}"
    val jobId = new AtomicReference[Integer]()
    val result = new AtomicReference[JobResult]()
    val started = new CountDownLatch(1)
    val ended = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.job.description") == desc)) {
          jobId.set(js.jobId)
          started.countDown()
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (jobId.get != null && je.jobId == jobId.get.intValue) {
          result.set(je.jobResult)
          ended.countDown()
        }
    }
    sc.addSparkListener(listener)
    try {
      val boom = new IllegalArgumentException("caller failed")
      val jobSeconds = 60
      val t0 = System.nanoTime
      val got = intercept[IllegalArgumentException] {
        Par.both[Int, Long]({
          assert(started.await(30, TimeUnit.SECONDS), "helper job never started")
          throw boom
        }, {
          sc.setJobDescription(desc)
          // two tasks that poll for a kill and otherwise run jobSeconds
          sc.parallelize(1 to 2, 2).map { x =>
            val end = System.nanoTime + jobSeconds * 1000000000L
            while (!TaskContext.get.isInterrupted() && System.nanoTime < end)
              Thread.sleep(20)
            x
          }.count()
        })
      }
      val took = (System.nanoTime - t0) / 1e9
      assert(got eq boom)
      assert(took < jobSeconds / 3.0, s"both returned after $took s")
      assert(ended.await(10, TimeUnit.SECONDS), "the helper job never ended")
      assert(result.get != org.apache.spark.scheduler.JobSucceeded)
      assert(result.get.toString.contains("cancelled"), result.get.toString)
    } finally sc.removeSparkListener(listener)
  }

  test("helper-branch failure cancels the calling branch's running Spark job") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicReference
    import org.apache.spark.TaskContext
    import org.apache.spark.scheduler.{JobResult, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val sc = TestSpark.spark.sparkContext
    val desc = s"par-spec-caller-long-${System.nanoTime}"
    val jobId = new AtomicReference[Integer]()
    val result = new AtomicReference[JobResult]()
    val started = new CountDownLatch(1)
    val ended = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.job.description") == desc)) {
          jobId.set(js.jobId)
          started.countDown()
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (jobId.get != null && je.jobId == jobId.get.intValue) {
          result.set(je.jobResult)
          ended.countDown()
        }
    }
    sc.addSparkListener(listener)
    val tagsBefore = sc.getJobTags()
    try {
      val boom = new IllegalStateException("helper failed")
      val jobSeconds = 60
      val t0 = System.nanoTime
      val got = intercept[IllegalStateException] {
        Par.both[Long, Int]({
          sc.setJobDescription(desc)
          try {
            // two tasks that poll for a kill and otherwise run jobSeconds
            sc.parallelize(1 to 2, 2).map { x =>
              val end = System.nanoTime + jobSeconds * 1000000000L
              while (!TaskContext.get.isInterrupted() && System.nanoTime < end)
                Thread.sleep(20)
              x
            }.count()
          } finally sc.setJobDescription(null)
        }, {
          assert(started.await(30, TimeUnit.SECONDS), "calling-branch job never started")
          throw boom
        })
      }
      val took = (System.nanoTime - t0) / 1e9
      assert(got eq boom)
      assert(took < jobSeconds / 3.0, s"both returned after $took s")
      assert(ended.await(10, TimeUnit.SECONDS), "the calling-branch job never ended")
      assert(result.get != org.apache.spark.scheduler.JobSucceeded)
      assert(result.get.toString.contains("cancelled"), result.get.toString)
      // only the per-call tag is removed again; the caller's tags stay
      assert(sc.getJobTags() == tagsBefore)
    } finally sc.removeSparkListener(listener)
  }

  test("a Labelled policy override is restored after its body, also on a throw, and reaches Par.both's helper") {
    import graft.operators.Labelled
    import graft.operators.Labelled.{Bands, Docs, Edges, Policy}
    val default = Labelled.policy
    assert(default == Policy() && Edges.value == (1 << 18) && Bands.value == (1 << 17) &&
      Docs.value == (1 << 13) && default.maxBucket == graft.operators.Dedup.NearDupMaxBucket)
    val forced = Policy(edges = -1, bands = -1, docs = -1, maxBucket = 5)
    // both branches read the override, the helper on the thread both() starts
    val (a, b) = Labelled.withPolicy(forced)(
      Par.both((Labelled.policy, Bands.value), (Labelled.policy, Bands.value)))
    assert(a == (forced, -1) && b == (forced, -1))
    assert(Labelled.policy == default)
    // a nested override ends with its own body
    Labelled.withPolicy(forced) {
      assert(Labelled.withPolicy(Policy(docs = 5))(Docs.value) == 5)
      assert(Labelled.policy == forced)
    }
    val boom = new IllegalStateException("body failed")
    assert(intercept[IllegalStateException](Labelled.withPolicy(forced)(throw boom)) eq boom)
    assert(Labelled.policy == default)
  }
}
