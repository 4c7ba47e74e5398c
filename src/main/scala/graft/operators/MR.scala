package graft.operators

import java.util.Objects
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag
import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.encoders.AgnosticEncoders.{agnosticEncoderFor, ArrayEncoder}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SizeEstimator

/** Typed MapReduce facade — the idiomatic Spark rendering of the
  * reference's public API (reference `src/mapreduce.h:47-54`: `MR_Run`,
  * `Mapper`/`Reducer`/`Partitioner` function pointers, `MR_Emit`).
  *
  * Mapping (SURVEY.md §2.3):
  *   - `MR_Run(argc, argv, Map, m, Reduce, r, part)` → [[run]]
  *   - `Mapper` + `MR_Emit`  → `mapper: String => IterableOnce[(K, V)]`
  *     (emission is the returned collection; the shuffle write that
  *     `MR_Emit` does by hand — reference `src/mapreduce.c:110-125` —
  *     is Spark's Exchange, implicit and spillable). Departure: where
  *     `MR_Emit` appends one pair at a time, each map task groups its
  *     pairs by key in a bounded table ([[groupPairs]]) and ships one
  *     `(key, values)` row per key and window. The table flushes at
  *     2^16 keys, 2^20 values or an estimated 32 MB (sampled with
  *     Spark's `SizeEstimator`); the budget holds per running map task,
  *     on the task's heap outside Spark's memory manager, so a session
  *     with c cores may hold c tables at once. On a word count that cuts
  *     the shuffle records about tenfold; on input without repeated keys
  *     every pair still ships as its own one-value row. The reducer
  *     contract is unchanged: every key is reduced once, with every
  *     value once; value order across map tasks stays unspecified
  *   - `Reducer` + `Getter` pull loop (reference `src/mapreduce.c:89-107`)
  *     → `reducer: (K, Iterator[V]) => OUT`; the iterator has the same
  *     consume-within-the-call contract, without the shared-cursor
  *     corruption mode (SURVEY.md §2.2 Q4)
  *   - `Partitioner` → optional `K => Int`; when supplied we reproduce
  *     the reference's exact dataflow — the user's id (mod
  *     `numPartitions`) IS the Spark reduce partition id, as the
  *     reference's id alone picks the reducer (`src/mapreduce.c:115`)
  *   - the per-partition `qsort` by `strcmp` plus the distinct-key walk
  *     (reference `src/mapreduce.c:141-160,215-238`) → a sort within
  *     each reduce partition on the key's 64-bit `xxhash64` (one LongType
  *     column, so Spark radix-sorts it with no record comparator) and a
  *     collision-safe streaming grouper over the equal-hash runs
  *     ([[hashGroups]]). Departure: the reducer is called in hash order
  *     within a partition, not in key order
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
    val kEnc = implicitly[Encoder[K]]
    val vEnc = implicitly[Encoder[V]]
    implicit val vTag: ClassTag[V] = vEnc.clsTag
    val vsEnc: Encoder[Array[V]] = {
      val e = agnosticEncoderFor(vEnc)
      ArrayEncoder(e, e.nullable)
    }
    val exchanged = partitioner match {
      case None =>
        // Default-partitioner path: hash-partition on the KEY COLUMN to
        // exactly `numPartitions` (the num_reducers contract — R reduce
        // partitions, e.g. for per-partition output files — must hold
        // here too, not just under a user partitioner; groupByKey would
        // silently use spark.sql.shuffle.partitions instead, and
        // repartition-then-groupByKey would shuffle twice because the
        // lambda key is opaque to Catalyst).
        lines.mapPartitions(it => groupPairs(it.flatMap(mapper)))(
            Encoders.tuple(kEnc, vsEnc))
          .repartition(numPartitions, col("_1")).toDF()
      case Some(p) =>
        // Reference-faithful path: the user's partition id IS the reduce
        // partition (reference src/mapreduce.c:115), computed once per
        // group. repartitionById plans a pass-through exchange that
        // routes each row to partition `_1` as is; hash-partitioning on
        // the id instead would re-hash it, so distinct ids could collide
        // and leave reduce partitions empty while one takes most of the
        // rows.
        lines.mapPartitions(it => groupPairs(it.flatMap(mapper)).map { case (k, vs) =>
            (math.floorMod(p(k), numPartitions), k, vs) })(
            Encoders.tuple(Encoders.scalaInt, kEnc, vsEnc))
          .repartitionById(numPartitions, col("_1"))
          .select(col("_2").as("_1"), col("_3").as("_2"))
    }
    // Both paths: sort each reduce partition on the key's xxhash64, then
    // a streaming grouped reduce over the equal-hash runs, whose values
    // are the key's groups read one after another. The hash is computed
    // after the exchange so the shuffle does not carry it.
    implicit val rowEnc: Encoder[(K, Array[V], Long)] =
      Encoders.tuple(kEnc, vsEnc, Encoders.scalaLong)
    exchanged.withColumn("_3", xxhash64(col("_1"))).as[(K, Array[V], Long)]
      .sortWithinPartitions(col("_3"))
      .mapPartitions(it => hashGroups(it).map { case (k, groups) =>
        reducer(k, groups.flatMap(_.iterator)) })
  }

  // The map-side grouping table's bounds (see groupPairs). On a 10 MB
  // Zipf word count (4 map tasks, 4 cores) tighter bounds lost most of
  // the gain: 2^14 keys / 2^16 values kept about half, 2^12 / 2^14 a
  // quarter.
  private val GroupKeys = 1 << 16
  private val GroupValues = 1 << 20
  private val GroupBytes = 32L << 20
  // SizeEstimator walks its argument reflectively, so only every Nth
  // pair is sized; the table's bytes are extrapolated from the means
  private val SampleEvery = 1024
  // per key: a hash-map node, the key's ArrayBuilder and the builder's
  // first array (16 slots)
  private val EntryBytes = 128
  // per value, beyond its sampled size: its slot in the builder's
  // array, doubled for the builder's growth slack
  private val SlotBytes = 16

  /** The map side of [[runOnDataset]]: group one map task's pairs by key
    * in a bounded table and emit one `(key, values)` row per key and
    * window, the values in emit order. The table flushes when it holds
    * `maxKeys` keys, `maxValues` values, or an estimated `maxBytes`
    * (key and value sizes sampled with `SizeEstimator` on every
    * `SampleEvery`-th pair, as Spark's `SizeTracker` samples), so a key
    * may come out once per window. The table lives on the task's heap,
    * outside Spark's memory manager: the bounds hold per running task.
    *
    * Keys compare by JVM `equals`/`hashCode` (a `java.util.HashMap`,
    * not Scala's `==`, which would merge `0.0` and `-0.0`). That never
    * merges keys [[hashGroups]] keeps apart: `deepEquals` is `equals`
    * except on arrays, where the table falls back to identity, which
    * only loses grouping; the reduce side still merges those keys.
    */
  private[graft] def groupPairs[K, V: ClassTag](
      pairs: Iterator[(K, V)],
      maxKeys: Int = GroupKeys,
      maxValues: Int = GroupValues,
      maxBytes: Long = GroupBytes): Iterator[(K, Array[V])] =
    new Iterator[(K, Array[V])] {
      private val table = new java.util.HashMap[K, mutable.ArrayBuilder[V]]()
      private var out: Iterator[(K, Array[V])] = Iterator.empty
      private var seen = 0L
      private var samples = 0
      private var keyBytes = 0.0 // running means over the sampled pairs
      private var valueBytes = 0.0

      def hasNext: Boolean = {
        if (!out.hasNext && pairs.hasNext) fill()
        out.hasNext
      }

      def next(): (K, Array[V]) = {
        if (!hasNext) throw new NoSuchElementException
        out.next()
      }

      private def fill(): Unit = {
        table.clear()
        var values = 0
        var full = false
        while (!full && pairs.hasNext) {
          val (k, v) = pairs.next()
          if (seen % SampleEvery == 0) {
            samples += 1
            keyBytes += (SizeEstimator.estimate(k.asInstanceOf[AnyRef]) - keyBytes) / samples
            valueBytes += (SizeEstimator.estimate(v.asInstanceOf[AnyRef]) - valueBytes) / samples
          }
          seen += 1
          var vs = table.get(k)
          if (vs == null) {
            vs = mutable.ArrayBuilder.make[V]
            table.put(k, vs)
          }
          vs += v
          values += 1
          full = table.size >= maxKeys || values >= maxValues ||
            table.size * (keyBytes + EntryBytes) + values * (valueBytes + SlotBytes) > maxBytes
        }
        out = table.entrySet().iterator().asScala.map(e => (e.getKey, e.getValue.result()))
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
    val bytes = key.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var hash = 5381L
    var i = 0
    while (i < bytes.length) {
      hash = (hash << 5) + hash + bytes(i)
      i += 1
    }
    java.lang.Long.remainderUnsigned(hash, numPartitions.toLong).toInt
  }

  /** Group a hash-sorted iterator of (key, value, key hash) rows into
    * (key, streaming-values) groups — the reference's distinct-key walk
    * with its `prev` sentinel (reference `src/mapreduce.c:220,226-233`),
    * lazily, over runs of equal hash instead of runs of equal key. Each
    * key comes out exactly once: a run's first key streams its values;
    * rows of the run whose key differs from it (a 64-bit hash collision,
    * or keys like `0.0`/`-0.0` that Spark hashes alike) are set aside and
    * handed out, each key once with its values in input order, after the
    * run. A collision therefore costs memory, never correctness. Each
    * inner iterator must be consumed before the next group is requested
    * (same contract as the reference's Getter, SURVEY.md §2.2 Q4) — the
    * outer iterator drains any unconsumed tail itself, so partial
    * consumption is safe (no corruption mode).
    *
    * Keys compare by VALUE via `Objects.deepEquals`: equal arrays
    * (`Array[Byte]` → BINARY, `Array[Int]` → ARRAY, …) hash alike but
    * compare as distinct under Scala `==` (JVM reference equality for
    * arrays). Keys nested inside a Product that themselves contain
    * arrays keep the Product's own `equals` and are out of scope (same
    * caveat as any case class with array fields).
    */
  private[graft] def hashGroups[K, V](it: Iterator[(K, V, Long)]): Iterator[(K, Iterator[V])] =
    new Iterator[(K, Iterator[V])] {
      private val buf = it.buffered
      private var current: Iterator[V] = Iterator.empty
      private val aside = mutable.Queue[(K, mutable.ArrayBuffer[V])]()
      def hasNext: Boolean = {
        while (current.hasNext) current.next() // drain unconsumed tail
        aside.nonEmpty || buf.hasNext
      }
      def next(): (K, Iterator[V]) = {
        if (!hasNext) throw new NoSuchElementException
        if (aside.nonEmpty) {
          val (k, vs) = aside.dequeue()
          (k, vs.iterator)
        } else {
          val (k, _, h) = buf.head
          current = new Iterator[V] {
            def hasNext: Boolean = {
              while (buf.hasNext && buf.head._3 == h && !Objects.deepEquals(buf.head._1, k)) {
                val (k2, v2, _) = buf.next()
                aside.find(g => Objects.deepEquals(g._1, k2)) match {
                  case Some((_, vs)) => vs += v2
                  case None => aside += ((k2, mutable.ArrayBuffer(v2)))
                }
              }
              buf.hasNext && buf.head._3 == h
            }
            def next(): V = {
              if (!hasNext) throw new NoSuchElementException
              buf.next()._2
            }
          }
          (k, current)
        }
      }
    }
}
