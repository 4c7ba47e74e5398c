package graft.operators

/** Overlap independent driver-blocking build phases (optimization guide
  * §2.6: "Spark's scheduler happily runs several jobs at once inside one
  * application; actions are only sequential because your driver code
  * calls them sequentially").
  *
  * Composite queries like q86/q66 chain two INDEPENDENT operator
  * pipelines (lexical near-dup components vs semantic-dedup components)
  * whose construction runs driver-side actions (iterative convergence
  * counts, checkpoint materializations). Built sequentially, the second
  * chain's jobs wait for the first chain's tail; built through [[both]],
  * the two chains' jobs interleave and back-fill each other's stragglers
  * under the default FIFO scheduler. Results are unchanged — each branch
  * is a pure function of its input frames — only the job overlap differs.
  */
private[graft] object Par {

  /** Evaluate `fa` on the calling thread and `fb` on one helper thread,
    * returning both. The helper is created by the calling thread, so it
    * inherits the caller's Spark local properties (job group,
    * description, any custom span label); its jobs additionally carry
    * one job tag private to this call.
    *
    * Failures propagate as the branch threw them: if `fa` throws, the
    * helper's running Spark jobs are cancelled through that tag, `both`
    * waits for the helper to stop, and `fa`'s exception propagates (the
    * helper's outcome is never observed); otherwise a throw from `fb` is
    * rethrown as its original exception, not wrapped in an
    * `ExecutionException`.
    */
  def both[A, B](fa: => A, fb: => B): (A, B) = {
    import java.util.concurrent.{ExecutionException, Executors, TimeUnit, TimeoutException}
    import org.apache.spark.sql.SparkSession
    val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext)
    val tag = s"graft-par-${java.util.UUID.randomUUID}"
    val ex = Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, "graft-par")
      t.setDaemon(true)
      t
    })
    try {
      val f = ex.submit(new java.util.concurrent.Callable[B] {
        override def call(): B = { sc.foreach(_.addJobTag(tag)); fb }
      })
      val a = try fa catch {
        case e: Throwable =>
          // re-cancel until the helper stops: a job it starts after one
          // cancel is caught by the next
          while (!f.isDone) {
            sc.foreach(_.cancelJobsWithTag(tag, "Par.both: the sibling branch failed"))
            try f.get(100, TimeUnit.MILLISECONDS)
            catch { case _: TimeoutException | _: ExecutionException => () }
          }
          throw e
      }
      val b = try f.get() catch { case e: ExecutionException => throw e.getCause }
      (a, b)
    } finally {
      ex.shutdown()
      ex.awaitTermination(1, TimeUnit.SECONDS)
    }
  }
}
