package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

package object queries {
  /** A declared query: (session, sf-dir) => result frame. Every query is
    * deterministic (total ORDER BY with a unique tie-break; doubles
    * rounded; timestamps rendered at second precision or coarser) so the
    * driver can hash-compare it against its DuckDB oracle.
    */
  type Q = (SparkSession, String) => DataFrame

  /** The ingest-delta cut on the Long column `id` (doc_id for q62/q64,
    * vec_id for q87's embeddings): rows with id ≥ floor(0.8 · max id)
    * play the "newly arrived" role. 0 on an empty table (empty corpus +
    * empty delta → empty result, not a NullPointerException from
    * getLong on a null max). The oracles recompute the identical cut
    * from their own max. Its jobs run under `deltaCut: max(<id>)`.
    */
  private[queries] def deltaCut(df: DataFrame, id: String = "doc_id"): Long = {
    val r = graft.operators.Labelled(df, s"deltaCut: max($id)")(
      df.agg(org.apache.spark.sql.functions.max(id)).head())
    if (r.isNullAt(0)) 0L else math.floor(0.8 * r.getLong(0)).toLong
  }

  /** Per-JVM stored near-dup artifact over the full corpus —
    * "yesterday's dedup job" whose parquet the stored-backed report
    * variants (q219/q220) READ instead of re-running the whole
    * shingle → MinHash → verify chain inline. The job persists BOTH
    * grains a downstream consumer needs: the raw edge list
    * (`edges/` — i, j, jaccard) and the connected-COMPONENT assignment
    * over it (`components/` — node, component; the q47 output). The
    * component map matters at scale: the closure is O(|E|)-iterative,
    * so a dashboard that re-derives it per read pays the whole graph
    * every time (measured 9.7 s at the 100× decade, VERDICT r12 ask
    * #2) — stored, the read is a join + rollup, flat in batch count.
    * At 100 TB these are exactly the artifacts a dedup job persists
    * for every downstream report; the variants' hash gates against
    * the from-scratch oracles are the stored ≡ recomputed law (the
    * q203 / q71 protocol).
    */
  private val edgesCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[queries] def corpusEdgesDir(
      spark: SparkSession, dir: String): String =
    cachedIndexDir(edgesCache, dir, "graft_edges_") { d =>
      graft.operators.Dedup
        .nearDupEdges(graft.sources.Tables.load(spark, dir, "documents"))
        .write.mode("overwrite").parquet(s"$d/edges")
      // the closure runs ONCE, at job time, over the just-written narrow
      // edge parquet — never per dashboard read
      graft.operators.Components
        .connected(spark.read.parquet(s"$d/edges"))
        .write.mode("overwrite").parquet(s"$d/components")
    }

  /** "Yesterday's job" stand-in for the stored-index queries: run
    * `build` into a temp dir ONCE per sf-dir per JVM — the shared
    * cache protocol behind every qNN-indexed query's stored artifact.
    * Every created directory tree is deleted on JVM exit (one shutdown
    * hook, registered lazily at first use): repeated test/bench JVMs
    * and long-lived drivers would otherwise accumulate full on-disk
    * index copies under the system temp dir, one per sf-dir per JVM.
    */
  private[queries] def cachedIndexDir(
      cache: java.util.concurrent.ConcurrentHashMap[String, String],
      dir: String, prefix: String)(build: String => Unit): String =
    cache.computeIfAbsent(dir, _ => {
      val d = java.nio.file.Files.createTempDirectory(prefix)
      CleanupOnExit.register(d)
      build(d.toString)
      d.toString
    })

  /** JVM-exit cleanup for [[cachedIndexDir]] trees. Deletion is
    * best-effort (exit path): children before parents, failures
    * ignored — a half-removed temp tree is strictly better than a
    * whole one, and nothing correct depends on the files after exit.
    */
  private object CleanupOnExit {
    private val dirs = scala.collection.mutable.ListBuffer[java.nio.file.Path]()
    private lazy val hookInstalled: Unit =
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        dirs.synchronized(dirs.toList).foreach { root =>
          try {
            import scala.jdk.CollectionConverters._
            java.nio.file.Files.walk(root).sorted(
                java.util.Comparator.reverseOrder[java.nio.file.Path]())
              .iterator().asScala
              .foreach(p => try java.nio.file.Files.deleteIfExists(p)
                catch { case _: Throwable => () })
          } catch { case _: Throwable => () }
        }, "graft-index-cache-cleanup"))

    def register(p: java.nio.file.Path): Unit = {
      hookInstalled
      dirs.synchronized(dirs += p)
    }
  }
}
