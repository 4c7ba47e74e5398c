package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's ONE policy point for cutting lineage on narrow frames.
  *
  * Operators checkpoint small derived frames (hashed shingles, band
  * keys, LSH buckets, signatures, edge lists — tens of bytes per row)
  * wherever one frame feeds both sides of a self-join or several
  * consumers, because Spark has no cross-branch subtree reuse and the
  * producing pipeline would otherwise run once PER consumer (measured:
  * q47 6.2s → 3.3s, q48 33s → 4s at sf0.1 from these cuts alone).
  *
  * `localCheckpoint` stores the blocks on executors: fastest, but NOT
  * fault-tolerant — losing an executor that holds a block fails the job
  * (truncated lineage cannot recompute). That is the right trade in
  * local mode and on stable clusters where these frames are rebuilt in
  * seconds. For long-running jobs on clusters with real executor churn,
  * set `spark.graft.ckpt.dir` to a durable path (HDFS/object store):
  * every cut then goes through `df.checkpoint()` against that dir —
  * RELIABLE checkpoint files that survive executor loss — and every
  * operator inherits the policy from this one call site. The trade is
  * one extra write+read of each narrow frame per cut; default (unset)
  * behavior is unchanged.
  */
private[graft] object Ckpt {

  /** Session config key selecting durable checkpoints (empty/unset =
    * executor-local blocks).
    */
  val DirKey = "spark.graft.ckpt.dir"

  /** The raw dir last applied via `setCheckpointDir` — the context
    * qualifies and suffixes what it is given, so remembering our own
    * input is the only way to make the set idempotent.
    */
  private var appliedCkptDir: Option[String] = None

  /** Cut lineage under the session-configured policy (see class doc). */
  private def cut(df: DataFrame, eager: Boolean): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption(DirKey).filter(_.nonEmpty) match {
      case Some(dir) =>
        synchronized {
          if (!appliedCkptDir.contains(dir)) {
            spark.sparkContext.setCheckpointDir(dir)
            appliedCkptDir = Some(dir)
          }
        }
        register(df.checkpoint(eager))
      case None => register(df.localCheckpoint(eager))
    }
  }

  /** RDD ids persisted by [[narrow]]/[[narrowLazy]], so release touches
    * only storage THIS engine created — a host application's caches on
    * the shared SparkContext survive a graft run boundary.
    */
  private val tracked = scala.collection.mutable.Set[Int]()

  private def register(df: DataFrame): DataFrame = {
    // localCheckpoint wraps the persisted RDD in a LogicalRDD — record
    // its id (the persist is registered with the context immediately,
    // for lazy checkpoints too)
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        tracked.synchronized { tracked += l.rdd.id }
      case other =>
        // unexpected plan shape (e.g. a Spark upgrade wrapping the
        // checkpoint result): the block then lives until driver GC, as
        // before tracking existed — warn so the regression isn't silent
        System.err.println(
          s"[graft.Ckpt] untracked checkpoint: analyzed plan is " +
            s"${other.getClass.getSimpleName}, not LogicalRDD; " +
            "releaseGraftStorage will not free this block")
    }
    df
  }

  /** Eagerly materialize and cut the lineage of a NARROW frame. */
  def narrow(df: DataFrame): DataFrame = cut(df, eager = true)

  /** Lazy lineage cut for frames the caller materializes itself
    * immediately afterwards (e.g. a convergence-check `count()` in an
    * iterative loop): same storage contract as [[narrow]] once
    * materialized, but the cut does not run the frame's last stage.
    * It is not free: under AQE `localCheckpoint(eager = false)` executes
    * the adaptive plan to get its RDD, so every shuffle stage below the
    * cut runs AT the cut (Spark 4.1.2, AQE on, `local[2]`: a join of
    * two aggregates over `range(200000)` fired 3 jobs at the cut, a
    * `persist()` of the same frame 0). Only the last stage, which writes
    * the blocks, waits for the first action that reads the frame; over
    * a frame with no shuffle below it nothing runs at the cut.
    */
  def narrowLazy(df: DataFrame): DataFrame = cut(df, eager = false)

  /** Drop every RDD persisted by [[narrow]]/[[narrowLazy]] — the
    * run-boundary cleanup for bench/verify loops. `catalog.clearCache()`
    * only empties the SQL CacheManager; localCheckpoint blocks live as
    * plain persistent RDDs and otherwise linger until the driver GCs
    * their handles (ContextCleaner), so a many-query run accumulates
    * orphaned executor storage the protocol's per-run isolation claim
    * says it doesn't.
    *
    * Scoped to graft-created storage: caches other code holds on the
    * shared context are untouched. CONTRACT: no graft-checkpointed
    * DataFrame may survive this call — truncated lineage cannot
    * recompute dropped blocks (`Checkpoint block rdd_N_M not found`).
    * Call it only at a boundary where every graft frame is about to be
    * rebuilt from storage. That includes held index objects whose
    * frames are checkpointed — e.g. a built
    * [[graft.operators.Similarity.IvfIndex]] — which must be rebuilt,
    * not searched, after a release.
    */
  def releaseGraftStorage(spark: SparkSession): Unit = tracked.synchronized {
    val persistent = spark.sparkContext.getPersistentRDDs
    tracked.foreach(id => persistent.get(id).foreach(_.unpersist(blocking = false)))
    tracked.clear()
  }

  /** Release ONE graft-checkpointed frame's storage — the per-frame
    * complement of [[releaseGraftStorage]] for iterative loops that
    * retire a [[narrow]]/[[narrowLazy]] snapshot each round.
    * `Dataset.unpersist` CANNOT do this: localCheckpoint storage is a
    * plain RDD-level persist outside the SQL CacheManager, so the
    * Dataset call silently frees nothing. No-op for frames this object
    * didn't checkpoint.
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        // check-and-remove atomically: of two racing callers (or a
        // concurrent releaseGraftStorage) exactly one owns the unpersist
        val owned = tracked.synchronized { tracked.remove(l.rdd.id) }
        if (owned)
          df.sparkSession.sparkContext.getPersistentRDDs.get(l.rdd.id)
            .foreach(_.unpersist(blocking = false))
      case _ => ()
    }
}
