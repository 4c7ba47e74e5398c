package graft.perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ckpt

class StorageLedgerSpec extends AnyFunSuite {

  test("a cut/release loop holds about one round's blocks, not the sum") {
    val l = new StorageLedger
    l.startQuery(0)
    for (round <- 0 until 10) {
      (0 until 4).foreach(p => l.update(s"rdd_${round}_$p", Some(round), 100L))
      if (round > 0) l.unpersist(round - 1)
    }
    // the round being cut plus the one it replaces
    assert(l.peak == 800L)
    assert(l.held == 400L)
  }

  test("a block updated to 0 bytes is dropped; unpersist drops the RDD's other blocks") {
    val l = new StorageLedger
    l.update("rdd_7_0", Some(7), 100L)
    l.update("rdd_7_1", Some(7), 50L)
    l.update("rdd_7_0", Some(7), 0L)
    assert(l.held == 50L)
    l.unpersist(7)
    assert(l.held == 0L)
    l.unpersist(7)
    assert(l.held == 0L)
  }

  test("blocks that are not an RDD's count only while their query runs") {
    val l = new StorageLedger
    l.update("broadcast_9_piece0", None, 70L) // made between queries: never counted
    l.startQuery(0)
    l.update("broadcast_0_piece0", None, 50L)
    l.update("broadcast_9_piece0", None, 80L)
    assert(l.held == 50L)
    l.endQuery()
    l.resetPeak()
    assert(l.peak == 0L)
    l.startQuery(1)
    assert(l.held == 0L)
    l.update("broadcast_1_piece0", None, 30L)
    l.update("broadcast_0_piece0", None, 0L) // collected late, while query 1 runs
    assert(l.held == 30L)
    l.update("broadcast_1_piece0", None, 0L) // collected while its own query runs
    assert(l.held == 30L)
    assert(l.peak == 30L)
  }

  test("Recorder: Ckpt cuts released each round report one round's storage") {
    val spark = SparkSession.builder().master("local[2]").appName("storage-ledger-spec")
      .config("spark.ui.enabled", "false").getOrCreate()
    val sc = spark.sparkContext
    try {
      val rec = new Recorder
      sc.addSparkListener(rec)
      def cut(i: Int) = Ckpt.narrow(spark.range(0, 200000).selectExpr(s"id + $i AS v"))
      rec.startQuery(0)
      var prev: DataFrame = cut(0)
      PerfbenchBus.drain(sc)
      val oneRound = rec.peakStorage
      assert(oneRound > 0L)
      val rounds = 6
      for (i <- 1 until rounds) {
        val next = cut(i)
        Ckpt.release(prev)
        prev = next
      }
      PerfbenchBus.drain(sc)
      assert(rec.peakStorage < 2.5 * oneRound, s"peak ${rec.peakStorage}, one round $oneRound")
      Ckpt.release(prev)
      rec.endQuery()
      PerfbenchBus.drain(sc)
      rec.resetPeakStorage()
      assert(rec.peakStorage == 0L)
    } finally spark.stop()
  }
}
