package org.apache.spark

/** Listener-bus drain for the benchmark harness. `waitUntilEmpty` and,
  * for [[QuietGc]], the context cleaner are `private[spark]`, hence this
  * package.
  */
object PerfbenchBus {

  /** Listener events are delivered asynchronously; the harness waits for
    * every event posted so far before it reads its counters, so that a
    * query's jobs, tasks and block updates are attributed to that query
    * and not to the next one.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

/** A full GC that waits for the cleanup it releases. After a GC the
  * context cleaner removes the shuffle files, broadcasts and RDDs of
  * every collected handle on its own thread; unless the harness waits,
  * that work overlaps whichever query runs next and slows it. One per
  * context: the cleaner listener it attaches stays attached.
  */
final class QuietGc(sc: SparkContext) {
  @volatile private var last = System.nanoTime()

  sc.cleaner.foreach(_.attachListener(new CleanerListener {
    private def cleaned(): Unit = last = System.nanoTime()
    def rddCleaned(rddId: Int): Unit = cleaned()
    def shuffleCleaned(shuffleId: Int): Unit = cleaned()
    def broadcastCleaned(broadcastId: Long): Unit = cleaned()
    def accumCleaned(accId: Long): Unit = cleaned()
    def checkpointCleaned(rddId: Long): Unit = cleaned()
  }))

  /** `System.gc()`, then wait until the cleaner has cleaned nothing for
    * `quietMs`, or `maxMs` have passed.
    */
  def collect(quietMs: Long, maxMs: Long): Unit = {
    System.gc()
    last = System.nanoTime()
    val deadline = last + maxMs * 1000000L
    while ((System.nanoTime() - last) / 1000000L < quietMs && System.nanoTime() < deadline)
      Thread.sleep(20)
  }
}
