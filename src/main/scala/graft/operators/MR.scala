package graft.operators

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Typed MapReduce facade — the idiomatic Spark rendering of the
  * reference's public API (reference `src/mapreduce.h:47-54`: `MR_Run`,
  * `Mapper`/`Reducer`/`Partitioner` function pointers, `MR_Emit`).
  *
  * Mapping (SURVEY.md §2.3):
  *   - `MR_Run(argc, argv, Map, m, Reduce, r, part)` → [[run]]
  *   - `Mapper` + `MR_Emit`  → `mapper: String => IterableOnce[(K, V)]`
  *     (emission is the returned collection; the shuffle write that
  *     `MR_Emit` does by hand — reference `src/mapreduce.c:110-125` —
  *     is Spark's Exchange, implicit and spillable)
  *   - `Reducer` + `Getter` pull loop (reference `src/mapreduce.c:89-107`)
  *     → `reducer: (K, Iterator[V]) => OUT`; the iterator has the same
  *     consume-within-the-call contract, without the shared-cursor
  *     corruption mode (SURVEY.md §2.2 Q4)
  *   - `Partitioner` → optional `K => Int`; when supplied we reproduce
  *     the reference's exact dataflow — the user's id (mod
  *     `numPartitions`) IS the Spark reduce partition id, as the
  *     reference's id alone picks the reducer (`src/mapreduce.c:115`);
  *     then sort within partition and a grouped streaming reduce over
  *     sorted runs (reference `src/mapreduce.c:141-160,215-238`)
  *   - `num_reducers` → `numPartitions`, without the `MAPS_NUM = 100`
  *     cap (reference `src/mapreduce.h:8`)
  *
  * Everything stays lazily planned: the result is a Dataset, never an
  * eagerly collected map, so Catalyst can fuse user pipelines downstream.
  */
object MR {

  /** Full job: text files → flatMap → shuffle on key → grouped reduce.
    * The reference's `MR_Run` (reference `src/mapreduce.c:316-322`),
    * minus its wave scheduler (Spark's DAG scheduler) and its quirks
    * (file-extension filter, argv off-by-one — SURVEY.md §2.2 Q2/Q3).
    */
  def run[K: Encoder, V: Encoder, OUT: Encoder](
      spark: SparkSession,
      inputs: Seq[String],
      mapper: String => IterableOnce[(K, V)],
      reducer: (K, Iterator[V]) => OUT,
      numPartitions: Int,
      partitioner: Option[K => Int] = None): Dataset[OUT] =
    runOnDataset(spark.read.textFile(inputs: _*), mapper, reducer,
      numPartitions, partitioner)

  /** Same job over any Dataset[String] (e.g. a parquet text column) —
    * the engine treats the reference's file input as just one source.
    */
  def runOnDataset[K: Encoder, V: Encoder, OUT: Encoder](
      lines: Dataset[String],
      mapper: String => IterableOnce[(K, V)],
      reducer: (K, Iterator[V]) => OUT,
      numPartitions: Int,
      partitioner: Option[K => Int] = None): Dataset[OUT] = {
    // a zero/negative reducer count would otherwise surface as an opaque
    // executor-side ArithmeticException inside floorMod/remainderUnsigned
    require(numPartitions > 0, s"numPartitions must be > 0, got $numPartitions")
    implicit val kvEnc: Encoder[(K, V)] =
      Encoders.tuple(implicitly[Encoder[K]], implicitly[Encoder[V]])
    val kv: Dataset[(K, V)] = lines.flatMap(mapper)
    partitioner match {
      case None =>
        // Default-partitioner path: hash-partition on the KEY COLUMN to
        // exactly `numPartitions` (the num_reducers contract — R reduce
        // partitions, e.g. for per-partition output files — must hold
        // here too, not just under a user partitioner; groupByKey would
        // silently use spark.sql.shuffle.partitions instead, and
        // repartition-then-groupByKey would shuffle twice because the
        // lambda key is opaque to Catalyst). One exchange + in-partition
        // sort + streaming grouped reduce — the same physical shape
        // Catalyst plans for typed mapGroups, with the count pinned.
        kv.repartition(numPartitions, col("_1"))
          .sortWithinPartitions(col("_1"))
          .mapPartitions(it => groupedRuns(it).map { case (k, vs) => reducer(k, vs) })
      case Some(p) =>
        // Reference-faithful path: the user's partition id IS the reduce
        // partition (reference src/mapreduce.c:115), then sort within
        // partition (src/mapreduce.c:141-160) and a streaming grouped
        // reduce over the sorted runs (src/mapreduce.c:215-238).
        // repartitionById plans a pass-through exchange that routes each
        // row to partition `_1` as is; hash-partitioning on the id
        // instead would re-hash it, so distinct ids could collide and
        // leave reduce partitions empty while one takes most of the rows.
        implicit val pkvEnc: Encoder[(Int, K, V)] = Encoders.tuple(
          Encoders.scalaInt, implicitly[Encoder[K]], implicitly[Encoder[V]])
        kv.map { case (k, v) => (math.floorMod(p(k), numPartitions), k, v) }
          .repartitionById(numPartitions, col("_1"))
          .sortWithinPartitions(col("_2"))
          .mapPartitions(it => groupedRuns(it.map(t => (t._2, t._3)))
            .map { case (k, vs) => reducer(k, vs) })
    }
  }

  /** djb2 — bit-compatible with the reference's default partitioner
    * (reference `src/mapreduce.c:129-138`), exposed for parity tests.
    * The reference walks the key's raw bytes as C `char` (SIGNED on the
    * reference's x86-64 Linux target, so multi-byte UTF-8 units fold in
    * sign-extended), accumulating in a 64-bit `unsigned long`: folding
    * the UTF-8 bytes as JVM signed `Byte`s wraps identically, and the
    * final `hash % num_partitions` on an unsigned value maps to
    * `Long.remainderUnsigned` (plain `%` would go negative once the
    * accumulator's top bit is set, which any key of ~10+ chars reaches).
    * Scope: keys without NUL (C strings end there; the word model never
    * produces one).
    */
  def defaultHashPartition(key: String, numPartitions: Int): Int = {
    var hash = 5381L
    key.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .foreach(b => hash = (hash << 5) + hash + b)
    java.lang.Long.remainderUnsigned(hash, numPartitions.toLong).toInt
  }

  /** Group a key-sorted iterator into (key, streaming-values) runs —
    * the reference's distinct-key walk with its `prev` sentinel
    * (reference `src/mapreduce.c:220,226-233`), lazily. Each inner
    * iterator must be consumed before the next run is requested (same
    * contract as the reference's Getter, SURVEY.md §2.2 Q4) — the outer
    * iterator drains any unconsumed tail itself, so partial consumption
    * is safe (no corruption mode).
    *
    * Run boundaries use VALUE equality via `Objects.deepEquals`: the
    * upstream `sortWithinPartitions` orders by the key's Catalyst
    * representation, under which equal arrays (`Array[Byte]` → BINARY,
    * `Array[Int]` → ARRAY, …) sort adjacently but compare as distinct
    * under Scala `==` (JVM reference equality for arrays) — plain `==`
    * would split every array-keyed group into one run per row. Keys
    * nested inside a Product that themselves contain arrays keep the
    * Product's own `equals` and are out of scope (same caveat as any
    * case class with array fields).
    */
  private[graft] def groupedRuns[K, V](it: Iterator[(K, V)]): Iterator[(K, Iterator[V])] =
    new Iterator[(K, Iterator[V])] {
      private val buf = it.buffered
      private var current: Iterator[V] = Iterator.empty
      def hasNext: Boolean = {
        while (current.hasNext) current.next() // drain unconsumed tail
        buf.hasNext
      }
      def next(): (K, Iterator[V]) = {
        if (!hasNext) throw new NoSuchElementException
        val k = buf.head._1
        current = new Iterator[V] {
          def hasNext: Boolean =
            buf.hasNext && java.util.Objects.deepEquals(buf.head._1, k)
          def next(): V = {
            if (!hasNext) throw new NoSuchElementException
            buf.next()._2
          }
        }
        (k, current)
      }
    }
}
