package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The harness's only view into a run: a listener pair registered from
  * outside the engine.
  *
  * Always on (cheap counters, needed by the end-to-end metrics):
  *   - bytes read by tasks from their input (parquet, text, or cached and
  *     checkpointed blocks; a detail figure, not a metric);
  *   - block-manager storage held, kept by a [[StorageLedger]]: every RDD
  *     block (persisted frames and checkpoint blocks) from when it is
  *     stored until it is dropped or its RDD is unpersisted, plus the
  *     other blocks (broadcast pieces) the running query has stored.
  *
  * Only while [[tracing]] is set: job, stage and task records, and one
  * entry per Dataset action (the QueryExecutionListener half), each
  * parented to the phase span named by the `perfbench.span` local
  * property the harness sets around every phase.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder._

  /** The clocks: spans use `nanoTime`, listener events carry epoch
    * milliseconds; both are reported as seconds since construction.
    */
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  def nowS: Double = (System.nanoTime() - baseNs) / 1e9
  private def msToS(ms: Long): Double = (ms - baseMs) / 1e3

  @volatile var tracing: Boolean = false

  private val storage = new StorageLedger
  private var inputBytes = 0L

  val jobs = mutable.ArrayBuffer[Job]()
  private val stages = mutable.LinkedHashMap[(Int, Int), Stage]()
  val actions = mutable.ArrayBuffer[Action]()

  /** Call only with the listener bus drained, so that every block event
    * so far has been applied.
    */
  def startQuery(id: Int): Unit = synchronized(storage.startQuery(id))
  def endQuery(): Unit = synchronized(storage.endQuery())
  def resetPeakStorage(): Unit = synchronized(storage.resetPeak())
  def peakStorage: Long = synchronized(storage.peak)
  def input: Long = synchronized(inputBytes)
  def stageList: Seq[Stage] = synchronized(stages.values.toSeq)

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
    storage.update(info.blockId.name, info.blockId.asRDDId.map(_.rddId), bytes)
  }

  // Unpersisting removes an RDD's blocks without a block update per block
  // (BlockManager.removeRdd does not tell the master); this event is the
  // only report of the removal.
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
    synchronized(storage.unpersist(e.rddId))

  override def onJobStart(e: SparkListenerJobStart): Unit = if (tracing) synchronized {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
    jobs += Job(e.jobId, parent.map(_.toInt).getOrElse(-1), msToS(e.time), Double.NaN,
      ok = false, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.indexWhere(_.id == e.jobId) match {
      case -1 => ()
      case i => jobs(i) = jobs(i).copy(end = msToS(e.time),
        ok = e.jobResult == JobSucceeded)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stages.get((info.stageId, info.attemptNumber())).foreach { s =>
      s.start = info.submissionTime.map(msToS).getOrElse(Double.NaN)
      s.end = info.completionTime.map(msToS).getOrElse(Double.NaN)
      s.failed = info.failureReason.isDefined
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (tracing) synchronized {
    val info = e.stageInfo
    stages((info.stageId, info.attemptNumber())) = new Stage(info.stageId, info.attemptNumber())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) inputBytes += m.inputMetrics.bytesRead
    stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
      s.tasks += 1
      if (e.reason != org.apache.spark.Success) s.failedTasks += 1
      if (m != null) {
        s.taskRunSeconds += m.executorRunTime / 1e3
        s.gcSeconds += m.jvmGCTime / 1e3
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.shuffleRecords += m.shuffleReadMetrics.recordsRead
        s.spillBytes += m.diskBytesSpilled
      }
    }
  }

  // QueryExecutionListener callbacks arrive asynchronously, so an action
  // is placed in time by the end of its planning, which happens when the
  // action starts.
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    action(funcName, qe, ok = true)
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    action(funcName, qe, ok = false)
  private def action(funcName: String, qe: QueryExecution, ok: Boolean): Unit =
    if (tracing) synchronized {
      val planned = qe.tracker.phases.values.map(_.endTimeMs).maxOption
      actions += Action(funcName, planned.map(msToS).getOrElse(Double.NaN), ok)
    }
}

/** Block-manager storage held, from block events. RDD blocks are held
  * run-wide until dropped or unpersisted. Other blocks, broadcast pieces
  * mostly, are freed whenever the driver's GC collects their handles,
  * during their query or long after it; so that GC timing does not set
  * the figure, a block that is not an RDD's is owned by the query running
  * when it first appeared (by none between queries) and counts, at the
  * largest size it had, from then until that query ends. The figure is
  * the RDD blocks plus the running query's other blocks, and [[peak]] is
  * the highest it reached since the last [[resetPeak]]. Not thread-safe:
  * [[Recorder]] serializes.
  */
final class StorageLedger {
  private val rddBlocks = mutable.HashMap[Int, mutable.HashMap[String, Long]]()
  private val otherBlocks = mutable.HashMap[String, (Option[Int], Long)]()
  private val owned = mutable.HashMap[Int, Long]().withDefaultValue(0L)
  private var rddBytes = 0L
  private var owner: Option[Int] = None
  private var peakBytes = 0L

  def held: Long = rddBytes + owner.map(owned).getOrElse(0L)
  def peak: Long = peakBytes

  /** A block's new size; 0 when it was removed. */
  def update(block: String, rdd: Option[Int], bytes: Long): Unit = {
    rdd match {
      case Some(id) =>
        val of = rddBlocks.getOrElseUpdate(id, mutable.HashMap())
        rddBytes += bytes - of.getOrElse(block, 0L)
        if (bytes == 0L) of.remove(block) else of(block) = bytes
        if (of.isEmpty) rddBlocks.remove(id)
      case None =>
        val (own, old) = otherBlocks.getOrElse(block, (owner, 0L))
        own.foreach(o => owned(o) += math.max(0L, bytes - old))
        if (bytes == 0L) otherBlocks.remove(block) else otherBlocks(block) = (own, bytes)
    }
    peakBytes = math.max(peakBytes, held)
  }

  def unpersist(rdd: Int): Unit =
    rddBlocks.remove(rdd).foreach(of => rddBytes -= of.values.sum)

  def startQuery(id: Int): Unit = owner = Some(id)

  def endQuery(): Unit = owner = None

  def resetPeak(): Unit = peakBytes = held
}

object Recorder {
  val SpanProperty = "perfbench.span"

  final case class Job(id: Int, parent: Int, start: Double, end: Double, ok: Boolean,
      stageIds: Seq[Int])
  final case class Action(name: String, at: Double, ok: Boolean)

  final class Stage(val id: Int, val attempt: Int) {
    var start = Double.NaN
    var end = Double.NaN
    var failed = false
    var tasks = 0
    var failedTasks = 0
    var gcSeconds = 0.0
    var shuffleWriteBytes = 0L
    var shuffleReadBytes = 0L
    var shuffleRecords = 0L
    var spillBytes = 0L
    val taskRunSeconds = mutable.ArrayBuffer[Double]()
  }
}
