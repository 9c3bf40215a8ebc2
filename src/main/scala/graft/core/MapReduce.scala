package graft.core

import org.apache.spark.sql.{Dataset, Encoder, Encoders, KeyValueGroupedDataset}
import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoder, ExpressionEncoder, encoderFor}
import org.apache.spark.sql.catalyst.encoders.AgnosticEncoders.{ArrayEncoder, EncoderField, ProductEncoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.Metadata
import scala.collection.mutable.ArrayBuffer
import scala.reflect.{ClassTag, classTag}

/** The reference engine's entire programming model, re-expressed on Spark.
  *
  * The reference (`/root/reference/firebird.h:17-277`) is a single templated
  * scheduler: the user subclasses it, overrides `map()` (firebird.h:248,
  * emitting via `emit_intermediate`, firebird.h:239-242) and `reduce()`
  * (firebird.h:249, receiving the key plus an iterator over ALL grouped
  * values, emitting via `emit`, firebird.h:243-245), calls `run()`
  * (firebird.h:182-231) and reads an unordered output vector
  * (firebird.h:234-236).
  *
  * Semantics preserved here:
  *   - map has flatMap semantics: 0..n emissions per input element
  *     (the shortest_path map emits nothing when no edge relaxes,
  *     reference main.cpp:41-43).
  *   - one map task per core groups its emitted pairs in a hash table
  *     before the merge, as each reference map thread (one per core,
  *     firebird.h:139-164) does in its `std::map<K, list<V>>`
  *     (firebird.h:42,59).
  *   - reduce sees the FULL list of values for a key through a one-shot
  *     iterator — not a binary combiner (firebird.h:249).
  *   - output order is NOT guaranteed (reference README.txt:55-58), matching
  *     Spark's unordered Dataset results.
  *
  * The serial splice-merge "shuffle" (firebird.h:84-95) becomes a
  * distributed hash Exchange over the per-task groups. Unlike the
  * reference, which keeps every intermediate value in memory until the
  * merge (firebird.h:79-82), a task's table is flushed into the shuffle
  * every fixed number of values, so a key may reach the reduce as several
  * partial groups; the reduce sees them chained into one iterator.
  */
trait MapReduceJob[I, K, V, O] extends Serializable {
  /** ≅ `map` + `emit_intermediate` (firebird.h:248,239-242). */
  def map(in: I): IterableOnce[(K, V)]

  /** ≅ `reduce` + `emit` (firebird.h:249,243-245). `vals` is a one-shot
    * iterator over every value grouped under `key`, mirroring the
    * reference's `MapOutputValIter begin/end` contract. */
  def reduce(key: K, vals: Iterator[V]): IterableOnce[O]
}

object MapReduce {

  /** Values a map task's hash table takes before it is flushed into the
    * shuffle; bounds the task memory the combine holds. */
  private val FlushValues = 1 << 16

  /** ≅ `MapReduceScheduler::run()` (firebird.h:182-231): split → map →
    * per-task grouping → merge → reduce, as one Spark plan. Each map task
    * (one per core) ships one (key, values array) row per key it saw (per
    * flush), so the shuffle carries at most keys × cores rows rather than
    * one per emitted pair; the reduce still sees every value. When the
    * reduction is associative, [[runAggregated]] ships one buffer per key
    * instead of the values.
    */
  def run[I, K, V, O](ds: Dataset[I], job: MapReduceJob[I, K, V, O])(
      implicit kv: Encoder[(K, V)], ko: Encoder[(K, O)]): Dataset[(K, O)] = {
    val v = tupleFields(kv)._2
    val values = ArrayEncoder(v.enc, v.nullable).asInstanceOf[AgnosticEncoder[Array[V]]]
    val tag = v.enc.clsTag.asInstanceOf[ClassTag[V]]
    combine(ds, job.map, kv, values)(
        x => new ArrayBuffer[V](4) += x, (b: ArrayBuffer[V], x: V) => b += x,
        (b: ArrayBuffer[V]) => b.toArray(tag))
      .flatMapGroups((key: K, parts: Iterator[(K, Array[V])]) =>
        job.reduce(key, parts.flatMap(_._2.iterator)).iterator.map((key, _)))
  }

  /** Associative/commutative fast path: the same MapReduce shape, but each
    * map task folds its values into one [[Aggregator]] buffer per key
    * (the combiner the reference lacks, firebird.h:79-82 groups but never
    * pre-reduces), and the reduce merges the buffers and finishes.
    */
  def runAggregated[I, K, V, O](ds: Dataset[I],
      mapFn: I => IterableOnce[(K, V)], agg: Aggregator[V, _, O])(
      implicit kv: Encoder[(K, V)], ko: Encoder[(K, O)]): Dataset[(K, O)] =
    aggregate(ds, mapFn, agg)

  /** [[runAggregated]] with the buffer type named. */
  private def aggregate[I, K, V, B, O](ds: Dataset[I],
      mapFn: I => IterableOnce[(K, V)], agg: Aggregator[V, B, O])(
      implicit kv: Encoder[(K, V)], ko: Encoder[(K, O)]): Dataset[(K, O)] =
    combine(ds, mapFn, kv, encoderFor(agg.bufferEncoder).encoder)(
        x => agg.reduce(agg.zero, x), agg.reduce, (b: B) => b)
      .mapGroups { (key: K, parts: Iterator[(K, B)]) =>
        var b = parts.next()._2
        while (parts.hasNext) b = agg.merge(b, parts.next()._2)
        (key, agg.finish(b))
      }

  /** The one combine seam. The input is coalesced to one partition per
    * core (`defaultParallelism`, without a shuffle), and each partition's
    * emitted pairs go into a JVM hash table of per-key partials (`open` on
    * a key's first value, `add` on the rest); every [[FlushValues]] values
    * and at the end of the partition the table is emitted as (key,
    * `close`(partial)) rows encoded with `partial`, and the shuffle groups
    * those rows on the key column. The table's key equality may be finer
    * than the encoded key's (arrays compare by reference, -0.0 differs
    * from 0.0): such keys only make more partials, which the shuffle
    * groups together again. */
  private def combine[I, K, V, T, P](ds: Dataset[I],
      mapFn: I => IterableOnce[(K, V)], kv: Encoder[(K, V)],
      partial: AgnosticEncoder[P])(
      open: V => T, add: (T, V) => T, close: T => P): KeyValueGroupedDataset[K, (K, P)] = {
    val k = tupleFields(kv)._1
    val rowEnc: Encoder[(K, P)] = ProductEncoder[(K, P)](classTag[(K, P)],
      Seq(k, EncoderField("_2", partial, partial.nullable, Metadata.empty)), None)
    val keyEnc = ExpressionEncoder(k.enc.asInstanceOf[AgnosticEncoder[K]])
    // a product key is serialized as top-level columns, which its
    // deserializer reads by field name
    val keyCols =
      if (keyEnc.isSerializedAsStructForTopLevel)
        keyEnc.schema.fieldNames.toSeq.map(f => col("_1").getField(f).as(f))
      else Seq(col("_1"))
    ds.coalesce(ds.sparkSession.sparkContext.defaultParallelism)
      .mapPartitions(in => hashCombine(in.flatMap(mapFn), open, add)
        .map { case (key, t) => (key, close(t)) })(rowEnc)
      .groupBy(keyCols: _*).as[K, (K, P)](keyEnc, rowEnc)
  }

  private def hashCombine[K, V, T](pairs: Iterator[(K, V)],
      open: V => T, add: (T, V) => T): Iterator[(K, T)] = new Iterator[(K, T)] {
    private val table = new java.util.HashMap[K, T]()
    private var out = table.entrySet.iterator

    def hasNext: Boolean = out.hasNext || (pairs.hasNext && { fill(); true })

    def next(): (K, T) = {
      if (!hasNext) throw new NoSuchElementException
      val e = out.next()
      (e.getKey, e.getValue)
    }

    private def fill(): Unit = {
      table.clear()
      var n = 0
      while (n < FlushValues && pairs.hasNext) {
        val (key, x) = pairs.next()
        val t = table.get(key)
        if (t == null && !table.containsKey(key)) table.put(key, open(x))
        else {
          val u = add(t, x)
          if (u.asInstanceOf[AnyRef] ne t.asInstanceOf[AnyRef]) table.put(key, u)
        }
        n += 1
      }
      out = table.entrySet.iterator
    }
  }

  /** The key and value fields of a `(K, V)` tuple encoder. */
  private def tupleFields[K, V](kv: Encoder[(K, V)]): (EncoderField, EncoderField) =
    encoderFor(kv).encoder match {
      case ProductEncoder(tag, Seq(k, v), _) if tag.runtimeClass == classOf[(_, _)] => (k, v)
      case other => throw new IllegalArgumentException(
        "MapReduce needs the (key, value) encoder to be a tuple product " +
          "encoder (spark.implicits' or Encoders.tuple), got " +
          s"${other.getClass.getSimpleName} of ${other.dataType.simpleString}")
    }

  /** Count-per-key aggregator (≅ number_count's reduce, which just counts
    * list length — reference sample_apps/number_count/main.cpp:15-20). */
  def countAgg[V]: Aggregator[V, Long, Long] = new Aggregator[V, Long, Long] {
    def zero: Long = 0L
    def reduce(b: Long, a: V): Long = b + 1
    def merge(b1: Long, b2: Long): Long = b1 + b2
    def finish(r: Long): Long = r
    def bufferEncoder: Encoder[Long] = Encoders.scalaLong
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** Min-fold aggregator (≅ shortest_path's reduce,
    * reference sample_apps/shortest_path/main.cpp:48-56 minus the shared
    * `dist[]` side effect, which in Spark lives in the driver loop — see
    * graft.apps.ShortestPath). */
  def minAgg: Aggregator[Double, Double, Double] =
    new Aggregator[Double, Double, Double] {
      def zero: Double = Double.PositiveInfinity
      def reduce(b: Double, a: Double): Double = math.min(b, a)
      def merge(b1: Double, b2: Double): Double = math.min(b1, b2)
      def finish(r: Double): Double = r
      def bufferEncoder: Encoder[Double] = Encoders.scalaDouble
      def outputEncoder: Encoder[Double] = Encoders.scalaDouble
    }
}
