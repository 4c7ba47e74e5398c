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
    * description, any custom span label); each branch's jobs
    * additionally carry one job tag private to this call and branch.
    * The calling thread's tag is removed again when `fa` ends, leaving
    * its other tags and properties as they were.
    *
    * Failures propagate as the branch threw them, and a failing branch
    * cancels the other's running Spark jobs through the other's tag:
    *  - if `fa` throws on its own, the helper's jobs are cancelled,
    *    `both` waits for the helper to stop, and `fa`'s exception
    *    propagates (the helper's outcome is never observed);
    *  - if `fb` throws, the calling branch's jobs are cancelled until
    *    `fa` ends, and `fb`'s original exception propagates (not
    *    wrapped in an `ExecutionException`, and not the cancellation
    *    `SparkException` that `fa` saw).
    */
  def both[A, B](fa: => A, fb: => B): (A, B) = {
    import java.util.concurrent.{CountDownLatch, ExecutionException, Executors, TimeUnit, TimeoutException}
    import org.apache.spark.sql.SparkSession
    val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext)
    val id = java.util.UUID.randomUUID
    val (helperTag, callerTag) = (s"graft-par-$id", s"graft-par-caller-$id")
    // the caller's cancelled jobs fail with this reason, which is how a
    // cancellation this call made is told apart from fa's own failure
    val helperFailed = s"Par.both: the helper branch failed ($callerTag)"
    val callerDone = new CountDownLatch(1)
    // cancel `tag`'s jobs until `stopped` (a wait of up to 100 ms) says
    // the other branch has ended: a job it starts after one cancel is
    // caught by the next
    def cancelUntil(tag: String, reason: String)(stopped: => Boolean): Unit =
      while ({ sc.foreach(_.cancelJobsWithTag(tag, reason)); !stopped }) ()
    val ex = Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, "graft-par")
      t.setDaemon(true)
      t
    })
    try {
      // submitting creates the helper thread, so it inherits the local
      // properties from before the caller's own tag is added below
      val f = ex.submit(new java.util.concurrent.Callable[B] {
        override def call(): B = {
          sc.foreach(_.addJobTag(helperTag))
          try fb catch {
            case e: Throwable =>
              cancelUntil(callerTag, helperFailed)(callerDone.await(100, TimeUnit.MILLISECONDS))
              throw e
          }
        }
      })
      def helperResult(): B = try f.get() catch { case e: ExecutionException => throw e.getCause }
      sc.foreach(_.addJobTag(callerTag))
      val a = try fa catch {
        case e: Throwable =>
          callerDone.countDown()
          // fa failed because the failed helper cancelled its job:
          // helperResult() rethrows the helper's exception
          if (Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
              .exists(c => Option(c.getMessage).exists(_.contains(helperFailed))))
            helperResult()
          cancelUntil(helperTag, "Par.both: the sibling branch failed") {
            try f.get(100, TimeUnit.MILLISECONDS)
            catch { case _: TimeoutException | _: ExecutionException => () }
            f.isDone
          }
          throw e
      } finally {
        callerDone.countDown()
        sc.foreach(_.removeJobTag(callerTag))
      }
      (a, helperResult())
    } finally {
      ex.shutdown()
      ex.awaitTermination(1, TimeUnit.SECONDS)
    }
  }
}
