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
    * returning both. Job-description/group properties are thread-local
    * in Spark, so the helper branch's jobs simply carry none.
    *
    * Failures propagate as the branch threw them: if `fa` throws, that
    * exception propagates and the helper's outcome is never observed;
    * otherwise a throw from `fb` is rethrown as its original exception,
    * not wrapped in an `ExecutionException`. A failing branch does not
    * cancel the other branch's running Spark jobs.
    */
  def both[A, B](fa: => A, fb: => B): (A, B) = {
    import java.util.concurrent.{ExecutionException, Executors, TimeUnit}
    val ex = Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, "graft-par")
      t.setDaemon(true)
      t
    })
    try {
      val f = ex.submit(new java.util.concurrent.Callable[B] {
        override def call(): B = fb
      })
      val a = fa
      val b = try f.get() catch { case e: ExecutionException => throw e.getCause }
      (a, b)
    } finally {
      ex.shutdown()
      ex.awaitTermination(1, TimeUnit.SECONDS)
    }
  }
}
