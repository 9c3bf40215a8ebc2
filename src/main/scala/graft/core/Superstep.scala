package graft.core

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.LongMap
import scala.reflect.ClassTag

/** The superstep engine: the reference's frontier loop
  * (`shortest_path/main.cpp:30-62,178-188`) in the vertex-centric model of
  * Pregel (Malewicz et al., SIGMOD 2010). Map relaxes a frontier node's CSR
  * out-edges, reduce folds the messages per node, and a driver loop repeats
  * until the frontier is empty. A [[Superstep.Program]] supplies the
  * algorithm; the engine owns everything else.
  *
  * Layout: edges are hash-partitioned by `src` once per solve into one
  * [[Csr]] per partition, persisted. Vertex state is one node→state map per
  * partition under the same partitioner, so every level joins through
  * `zipPartitions` and nothing but the messages is shuffled.
  *
  * Scale notes for the 100 TB target:
  *   - edges are the big side: they are indexed once per solve and never
  *     reshuffled; each level reads only the frontier's out-edges.
  *   - state is cut every batch (`localCheckpoint`), so lineage stays one
  *     batch deep over hundreds of supersteps, and each batch releases its
  *     predecessor's blocks at once. On a real cluster swap the cut for
  *     `checkpoint` against a reliable dir to also survive executor loss.
  *   - `levels` supersteps run per Spark action, so the driver round-trip
  *     count is supersteps/levels.
  */
object Superstep {

  /** One vertex program. `S` is a node's state and `M` a message. */
  abstract class Program[S, M] extends Serializable {
    /** The state of a node the map has no entry for. */
    def zero: S
    /** One partition's initial state map and frontier. `home(n)` says
      * whether node `n` belongs to this partition. */
    def seed(csr: Csr, home: Long => Boolean): (LongMap[S], Array[(Long, S)])
    /** The message an active node in state `s` sends along an out-edge. */
    def send(s: S, dst: Long, weight: Double): M
    /** Folds two messages to one node (map-side and reduce-side). */
    def combine(a: M, b: M): M
    /** A node's state after it receives `m`. */
    def merge(s: S, m: M): S
    /** Whether the merge from `old` to `now` puts the node on the frontier. */
    def activated(old: S, now: S): Boolean
  }

  /** Stats-estimated bytes of edge rows per index partition: 8 MB ≈
    * 250 k (src, dst, weight) rows. Every level pays a fixed cost per
    * partition, so a small graph runs at its own parallelism instead of
    * the conf `spark.sql.shuffle.partitions`, which stays the cap. */
  private val BytesPerPart = 8L << 20

  /** Runs `p` over `edges` (`src`, `dst`, `weight`; rows with a null are
    * dropped) until the frontier is empty. Returns every node's final
    * state as `Row(node, state)` under `schema`, and the number of
    * batches run.
    *
    * A batch runs `levels` supersteps in ONE action. Level j maps each
    * frontier node through its partition's CSR to messages, combines them
    * per node with a map-side combine, and (unless it is the last level)
    * keeps as level j+1's frontier the nodes whose merge would activate
    * them against the batch-start state. That guard is sound only for
    * programs whose merge is idempotent, like a min; a program with
    * additive messages runs one level per batch. After the last level
    * one co-partitioned fold merges every level's messages into the state
    * maps, and the nodes it activated are the next batch's frontier.
    *
    * Jobs are described `graft:<name>/index` and `graft:<name>/batch-<n>`. */
  def run[S: ClassTag, M: ClassTag](name: String, edges: DataFrame,
      p: Program[S, M], levels: Int, schema: StructType): (DataFrame, Int) = {
    require(levels >= 1, s"levels must be at least 1, not $levels")
    val spark = edges.sparkSession
    val sc = spark.sparkContext
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"),
      col("weight").cast("double"))
    // partition count from the optimizer's size estimate (an exact
    // count would cost a pass); floor 2 so every test crosses partitions
    val estBytes = e.queryExecution.optimizedPlan.stats.sizeInBytes
    val conf = spark.sessionState.conf.numShufflePartitions
    val part = new HashPartitioner(math.max(2L,
      ((estBytes + BytesPerPart - 1) / BytesPerPart)
        .min(BigInt(conf)).toLong).toInt)

    // (state map, frontier) per partition
    type Part = (LongMap[S], Array[(Long, S)])
    val (csr, seeded, seedActive) = Jobs.described(sc, s"graft:$name/index") {
      // each input partition ships one block per index partition `i`,
      // keyed by `i` itself, which `part` maps to partition `i`
      val idx = e.rdd.mapPartitions { rows =>
        val bs = Array.fill(part.numPartitions)(new Csr.Builder)
        rows.foreach { r =>
          if (!r.anyNull)
            bs(part.getPartition(r.getLong(0))).add(r.getLong(0), r.getLong(1), r.getDouble(2))
        }
        Iterator.tabulate(bs.length)(i => (i, bs(i).result()))
      }.partitionBy(part)
        .mapPartitions(it => Iterator(Csr(it.map(_._2))), preservesPartitioning = true)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val st: RDD[Part] = idx.mapPartitionsWithIndex((i, g) =>
        Iterator(p.seed(g.next(), n => part.getPartition(n) == i)),
        preservesPartitioning = true).localCheckpoint()
      (idx, st, st.map(_._2.length.toLong).fold(0L)(_ + _))
    }
    var state = seeded
    var active = seedActive
    var batch = 0
    while (active > 0) {
      batch += 1
      val cur = state.mapPartitions(_.map(_._1), preservesPartitioning = true)
      def level(frontier: RDD[(Long, S)]): RDD[(Long, M)] =
        frontier.zipPartitions(csr) { (f, g) =>
          val idx = g.next()
          f.flatMap { case (n, s) => idx.out(n).map { case (dst, w) => (dst, p.send(s, dst, w)) } }
        }.reduceByKey(part, p.combine(_, _))
      // the improvement guard: only nodes the merge activates against
      // the batch-start state go on to the next level
      def guard(ms: RDD[(Long, M)]): RDD[(Long, S)] =
        ms.zipPartitions(cur, preservesPartitioning = true) { (it, ss) =>
          val st = ss.next()
          it.flatMap { case (n, m) =>
            val old = st.getOrElse(n, p.zero)
            val now = p.merge(old, m)
            if (p.activated(old, now)) Some(n -> now) else None
          }
        }
      val msgs = Seq.iterate(level(state.mapPartitions(
        _.flatMap(_._2), preservesPartitioning = true)), levels)(ms => level(guard(ms)))
      val next: RDD[Part] = sc.union(msgs).zipPartitions(state,
          preservesPartitioning = true) { (ms, ss) =>
        val st = ss.next()._1.clone()
        val hit = LongMap.empty[Unit]
        ms.foreach { case (n, m) =>
          val old = st.getOrElse(n, p.zero)
          val now = p.merge(old, m)
          if (p.activated(old, now)) hit(n) = ()
          st(n) = now
        }
        Iterator((st, hit.keysIterator.map(n => n -> st(n)).toArray))
      }.localCheckpoint()
      active = Jobs.described(sc, s"graft:$name/batch-$batch") {
        next.map(_._2.length.toLong).fold(0L)(_ + _)
      }
      state.unpersist(false) // its successor is materialized
      state = next
    }
    csr.unpersist(false)
    (spark.createDataFrame(state.flatMap(_._1.iterator.map { case (n, s) => Row(n, s) }),
      schema), batch)
  }
}

/** One partition's edges in compressed sparse row form (the reference's
  * `offsets`/`edges` arrays, main.cpp:32-46): `srcs` sorted and distinct;
  * the out-edges of `srcs(i)` are `offsets(i) until offsets(i + 1)` in
  * `dsts` and `weights`. */
final class Csr private (srcs: Array[Long], offsets: Array[Int],
    dsts: Array[Long], weights: Array[Double]) extends Serializable {

  /** `(dst, weight)` for each out-edge of `src`; none if it has none. */
  def out(src: Long): Iterator[(Long, Double)] = {
    val i = java.util.Arrays.binarySearch(srcs, src)
    if (i < 0) Iterator.empty
    else Iterator.range(offsets(i), offsets(i + 1)).map(j => (dsts(j), weights(j)))
  }

  /** Every source node with its out-degree. */
  def degrees: Iterator[(Long, Long)] =
    srcs.indices.iterator.map(i => (srcs(i), (offsets(i + 1) - offsets(i)).toLong))
}

object Csr {

  /** Edges as parallel primitive arrays `(src, dst, weight)`: a shuffle
    * record that serializes in bulk, where one record per edge would pay
    * the serializer's per-object cost millions of times. */
  type Block = (Array[Long], Array[Long], Array[Double])

  /** Collects edges into a [[Block]]. */
  final class Builder {
    private val src = Array.newBuilder[Long]
    private val dst = Array.newBuilder[Long]
    private val weight = Array.newBuilder[Double]
    def add(s: Long, d: Long, w: Double): Unit = { src += s; dst += d; weight += w }
    def result(): Block = (src.result(), dst.result(), weight.result())
  }

  /** The CSR of the edges in `blocks`, grouped by source with a counting
    * pass over primitive arrays. */
  def apply(blocks: Iterator[Block]): Csr = {
    val bs = blocks.toArray
    val src = Array.concat(bs.map(_._1): _*)
    val sorted = src.clone()
    java.util.Arrays.sort(sorted)
    val srcs = sorted.iterator.zipWithIndex
      .collect { case (x, j) if j == 0 || x != sorted(j - 1) => x }.toArray
    val row = src.map(java.util.Arrays.binarySearch(srcs, _))
    val offsets = new Array[Int](srcs.length + 1)
    row.foreach(i => offsets(i + 1) += 1)
    for (i <- srcs.indices) offsets(i + 1) += offsets(i)
    val dst = Array.concat(bs.map(_._2): _*)
    val weight = Array.concat(bs.map(_._3): _*)
    val (dsts, weights) = (new Array[Long](src.length), new Array[Double](src.length))
    val next = offsets.clone()
    for (j <- src.indices) {
      val at = next(row(j))
      next(row(j)) += 1
      dsts(at) = dst(j)
      weights(at) = weight(j)
    }
    new Csr(srcs, offsets, dsts, weights)
  }
}
