package graft.apps

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.LongMap

/** The reference's second sample app: iterative single-source shortest path
  * (`/root/reference/sample_apps/shortest_path/main.cpp`).
  *
  * Reference shape: Bellman-Ford-style frontier relaxation — map scans a
  * frontier node's CSR out-edges and emits `(dst, dist[src]+w)` iff it
  * improves the current distance (main.cpp:32-46); reduce folds min per node
  * and writes the shared `dist[]` array as a side effect (main.cpp:48-56);
  * a driver loop feeds the reduce output back as the next frontier until it
  * is empty (main.cpp:178-188).
  *
  * Spark-first re-expression: the CSR becomes one [[Csr]] per edge
  * partition, hash-partitioned by `src`; the shared `dist[]` becomes one
  * node→dist map per partition under the same partitioner, so a level's
  * frontier probes its own partition's CSR and only the candidates are
  * shuffled; the min reduce is `reduceByKey(min)`; the improvement guard
  * filters candidates against the dist maps; the fixpoint test is an
  * empty improved set.
  *
  * Scale notes for the 100 TB target:
  *   - edges are the big side: they are indexed once per solve and never
  *     reshuffled; each level reads only the frontier's out-edges.
  *   - state is cut every batch (`localCheckpoint`), so lineage stays one
  *     batch deep over hundreds of supersteps.
  *   - k relaxation levels run per Spark action (frontier batching, see
  *     [[distributedSssp]]) so the driver round-trip count is diameter/k,
  *     not diameter.
  */
object ShortestPath {

  /** Parse the reference's text graph format (main.cpp:68-106): first line
    * `numNodes numEdges`, then `src dst weight` triples. The reference graph
    * is undirected — both directions inserted (main.cpp:92-93); duplicate /
    * parallel edges are kept (min-reduce makes them harmless).
    */
  def loadGraph(spark: SparkSession, path: String): DataFrame = {
    val lines = spark.read.text(path)
    val parsed = lines
      .select(split(trim(col("value")), "\\s+").as("t"))
      .where(size(col("t")) === 3) // header line has 2 tokens
      .select(
        col("t").getItem(0).cast("long").as("src"),
        col("t").getItem(1).cast("long").as("dst"),
        col("t").getItem(2).cast("double").as("weight"))
    undirect(parsed)
  }

  /** Insert reverse edges (reference loader main.cpp:92-93). */
  def undirect(edges: DataFrame): DataFrame =
    edges.unionAll(edges.select(
      col("dst").as("src"), col("src").as("dst"), col("weight")))

  /** Driver-local twin of [[syntheticGraph]]'s (src, dst) pair MULTISET
    * (weights dropped): ring + skip-7 directed edges, src ≠ dst, both
    * orientations, duplicates kept exactly as the distributed generator
    * keeps them (no dedup anywhere in that path). Exact long arithmetic;
    * the PageRank/LabelProp hybrid specs pin consumers of this twin
    * against the distributed plan row-by-row. Order is irrelevant to
    * every consumer (degree counts and contribution sums are
    * multiset-invariant). */
  def syntheticEdgesLocal(n: Long): Array[(Int, Int)] = {
    val buf = new scala.collection.mutable.ArrayBuffer[(Int, Int)](4 * n.toInt)
    var i = 0L
    while (i < n) {
      val ring = (i + 1) % n
      val skip = (i * 7 + 11) % n
      if (ring != i) { buf += ((i.toInt, ring.toInt)); buf += ((ring.toInt, i.toInt)) }
      if (skip != i) { buf += ((i.toInt, skip.toInt)); buf += ((skip.toInt, i.toInt)) }
      i += 1
    }
    buf.toArray
  }

  /** Deterministic synthetic graph (no data files needed): ring + skip
    * edges over `n` nodes. Used by the `sssp_synthetic` query entry so the
    * op is exercised at every scale factor without external inputs. */
  def syntheticGraph(spark: SparkSession, n: Long): DataFrame = {
    val ids = spark.range(0, n, 1, 32)
    val ring = ids.select(
      col("id").as("src"), ((col("id") + 1) % n).as("dst"),
      lit(1.0).as("weight"))
    val skip = ids.select(
      col("id").as("src"), ((col("id") * 7 + 11) % n).as("dst"),
      ((col("id") % 10) + 1).cast("double").as("weight"))
    undirect(ring.unionAll(skip)).where(col("src") =!= col("dst"))
  }

  /** DuckDB oracle for [[syntheticGraph]]+[[distributedSssp]]: rebuild the
    * same ring+skip edge relation from `range(n)` and solve shortest paths
    * with a bounded recursive CTE. All edge weights are positive integers,
    * so candidate distances are integers too; pruning candidates above
    * `bound` keeps the (node, dist) pair space finite — the recursion
    * provably terminates — while any true shortest path (every prefix sum
    * ≤ its final dist ≤ source eccentricity) survives as long as
    * `bound` ≥ the source's eccentricity (20 for n=1000, verified by
    * Dijkstra; callers pass 2× headroom). MIN-per-node over the surviving
    * pairs is exactly `dist[]`.
    */
  def syntheticOracleSql(n: Long, source: Long, bound: Int): String =
    s"""WITH RECURSIVE
      ids AS (SELECT range AS id FROM range($n)),
      base AS (
        SELECT id AS src, (id + 1) % $n AS dst, CAST(1.0 AS DOUBLE) AS w FROM ids
        UNION ALL
        SELECT id, (id * 7 + 11) % $n, CAST((id % 10) + 1 AS DOUBLE) FROM ids),
      edges AS (
        SELECT src, dst, w FROM base WHERE src <> dst
        UNION ALL
        SELECT dst AS src, src AS dst, w FROM base WHERE src <> dst),
      paths(node, dist) AS (
        SELECT CAST($source AS BIGINT), CAST(0.0 AS DOUBLE)
        UNION
        SELECT e.dst, p.dist + e.w FROM paths p JOIN edges e ON p.node = e.src
        WHERE p.dist + e.w <= $bound)
      SELECT node, MIN(dist) AS dist FROM paths GROUP BY node ORDER BY node"""

  /** [[sssp]] solves on the driver up to this many edges: 1M edges ≈
    * 24 MB of (long,long,double) rows — comfortably inside any driver
    * heap while still covering every "small graph" case; beyond it the
    * per-superstep work amortizes Spark's fixed job cost. */
  val LocalEdges = 1000000L

  /** Single-source shortest paths. Returns `(node, dist)` for every node
    * reachable from `source`. One row per reached node; unordered (the
    * reference guarantees no order either, README.txt:55-58).
    *
    * Hybrid execution: weighted frontier Bellman-Ford needs one superstep
    * per shortest-path-tree hop level (the reference's syn.graph takes
    * 279), and on Spark each superstep is a fixed multi-job cost — pure
    * driver-loop iteration is latency-bound regardless of cluster size.
    * So when the edge relation fits comfortably in driver memory
    * ([[LocalEdges]], via [[graft.core.Hybrid]]) the solve finishes
    * locally with the same Dijkstra the oracle uses — the standard
    * cutover every distributed graph engine makes when the active
    * problem fits on one node. Larger graphs take [[distributedSssp]],
    * where per-superstep real work dominates the fixed overhead.
    */
  def sssp(edges: DataFrame, source: Long): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col("src"), col("dst"), col("weight"))
    if (graft.core.Hybrid.local(spark, LocalEdges)(e.count())) {
      val es = e.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      dijkstra(es.toSeq, source).toSeq.toDF("node", "dist")
    } else distributedSssp(e, source)
  }

  /** Stats-estimated bytes of edge rows per index partition: 8 MB ≈
    * 250 k (src, dst, weight) rows. Every level pays a fixed cost per
    * partition, so a small graph runs at its own parallelism instead of
    * the conf `spark.sql.shuffle.partitions`, which stays the cap. */
  private val SsspBytesPerPart = 8L << 20

  /** Rows of [[distributedSssp]]'s result. */
  private val DistSchema = StructType(Seq(
    StructField("node", LongType), StructField("dist", DoubleType)))

  /** The fully distributed superstep loop (reference main.cpp:178-188
    * re-expressed; see class doc). Exercised directly by tests, the
    * `sssp_synthetic` catalog entry and the benchmark.
    *
    * Index, built once per solve: `edges` hash-partitioned by `src` into
    * one [[Csr]] per partition, persisted. Vertex state is one node→dist
    * map per partition under the same partitioner, so every level joins
    * through `zipPartitions`: nothing but the candidates is shuffled.
    *
    * Frontier batching: `batchLevels` relaxation levels run in ONE
    * action. Level j maps each frontier node through its partition's CSR
    * to `(dst, dist + w)` (main.cpp:32-46), takes the min per node with a
    * map-side combine (main.cpp:48-56), and drops every candidate that
    * does not beat the batch-start dist (the improvement guard,
    * main.cpp:41). Dropping is safe because the batch-start dist holds
    * only values whose out-edges were already relaxed. The survivors are
    * level j+1's frontier. After the last level one co-partitioned fold
    * merges all levels' survivors into the dist maps; the nodes it
    * improved are the next batch's frontier. The fold is cut with
    * `localCheckpoint`, so lineage stays one batch deep. On a real
    * cluster swap it for `checkpoint` against a reliable dir to also
    * survive executor loss.
    *
    * Jobs are described `graft:sssp/index` and `graft:sssp/batch-<n>`. */
  def distributedSssp(edges: DataFrame, source: Long,
      batchLevels: Int = 8): DataFrame = {
    require(batchLevels >= 1, s"batchLevels must be at least 1, not $batchLevels")
    val spark = edges.sparkSession
    val sc = spark.sparkContext
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"),
      col("weight").cast("double"))
    // partition count from the optimizer's size estimate (an exact
    // count would cost a pass); floor 2 so every test crosses partitions
    val estBytes = e.queryExecution.optimizedPlan.stats.sizeInBytes
    val conf = spark.sessionState.conf.numShufflePartitions
    val part = new HashPartitioner(math.max(2L,
      ((estBytes + SsspBytesPerPart - 1) / SsspBytesPerPart)
        .min(BigInt(conf)).toLong).toInt)

    val csr = graft.core.Jobs.described(sc, "graft:sssp/index") {
      val idx = e.rdd.flatMap { r =>
        if (r.anyNull) None else Some((r.getLong(0), (r.getLong(1), r.getDouble(2))))
      }.partitionBy(part)
        .mapPartitions(it => Iterator(Csr(it)), preservesPartitioning = true)
        .persist(StorageLevel.MEMORY_AND_DISK)
      idx.count()
      idx
    }
    // (dist map, improved nodes) per partition; the source starts both
    val home = part.getPartition(source)
    var state: RDD[(LongMap[Double], Array[(Long, Double)])] =
      csr.mapPartitionsWithIndex((i, _) => Iterator(
        if (i == home) (LongMap(source -> 0.0), Array(source -> 0.0))
        else (LongMap.empty[Double], Array.empty[(Long, Double)])),
        preservesPartitioning = true)
    var active = 1L
    var batch = 0
    while (active > 0) {
      batch += 1
      val dist = state.mapPartitions(_.map(_._1), preservesPartitioning = true)
      def level(frontier: RDD[(Long, Double)]): RDD[(Long, Double)] =
        frontier.zipPartitions(csr) { (f, g) =>
          val idx = g.next()
          f.flatMap { case (n, d) => idx.relax(n, d) }
        }.reduceByKey(part, math.min(_, _))
          .zipPartitions(dist, preservesPartitioning = true) { (c, ds) =>
            val cur = ds.next()
            c.filter { case (n, d) => d < cur.getOrElse(n, Double.PositiveInfinity) }
          }
      val levels = Seq.iterate(level(state.mapPartitions(
        _.flatMap(_._2), preservesPartitioning = true)), batchLevels)(level)
      val next = sc.union(levels).zipPartitions(state,
          preservesPartitioning = true) { (c, st) =>
        val cur = st.next()._1.clone()
        val improved = LongMap.empty[Double]
        c.foreach { case (n, d) =>
          if (d < cur.getOrElse(n, Double.PositiveInfinity)) {
            cur(n) = d
            improved(n) = d
          }
        }
        Iterator((cur, improved.toArray))
      }.localCheckpoint()
      active = graft.core.Jobs.described(sc, s"graft:sssp/batch-$batch") {
        next.map(_._2.length.toLong).fold(0L)(_ + _)
      }
      state.unpersist(false) // its successor is materialized
      state = next
    }
    csr.unpersist(false)
    spark.createDataFrame(
      state.flatMap(_._1.iterator.map { case (n, d) => Row(n, d) }), DistSchema)
  }

  /** Serial Dijkstra oracle (≅ reference main.cpp:108-140) — test-only. */
  def dijkstra(edges: Seq[(Long, Long, Double)], source: Long): Map[Long, Double] = {
    val adj = edges.groupBy(_._1).map { case (s, es) =>
      s -> es.map(e => (e._2, e._3))
    }
    val dist = scala.collection.mutable.Map(source -> 0.0)
    val pq = scala.collection.mutable.PriorityQueue((0.0, source))(
      Ordering.by(-_._1))
    val done = scala.collection.mutable.Set.empty[Long]
    while (pq.nonEmpty) {
      val (d, u) = pq.dequeue()
      if (!done(u)) {
        done += u
        adj.getOrElse(u, Nil).foreach { case (v, w) =>
          if (d + w < dist.getOrElse(v, Double.PositiveInfinity)) {
            dist(v) = d + w
            pq.enqueue((d + w, v))
          }
        }
      }
    }
    dist.toMap
  }
}

/** One partition's edges in compressed sparse row form (the reference's
  * `offsets`/`edges` arrays, main.cpp:32-46): `srcs` sorted and distinct;
  * the out-edges of `srcs(i)` are `offsets(i) until offsets(i + 1)` in
  * `dsts` and `weights`. */
private[apps] final class Csr(srcs: Array[Long], offsets: Array[Int],
    dsts: Array[Long], weights: Array[Double]) extends Serializable {

  /** `(dst, d + weight)` for each out-edge of `src`; none if it has none. */
  def relax(src: Long, d: Double): Iterator[(Long, Double)] = {
    val i = java.util.Arrays.binarySearch(srcs, src)
    if (i < 0) Iterator.empty
    else Iterator.range(offsets(i), offsets(i + 1)).map(j => (dsts(j), d + weights(j)))
  }
}

private[apps] object Csr {
  def apply(edges: Iterator[(Long, (Long, Double))]): Csr = {
    val es = edges.toArray.sortBy(_._1)
    val srcs = Array.newBuilder[Long]
    val offsets = Array.newBuilder[Int]
    for (j <- es.indices if j == 0 || es(j)._1 != es(j - 1)._1) {
      srcs += es(j)._1
      offsets += j
    }
    offsets += es.length
    new Csr(srcs.result(), offsets.result(), es.map(_._2._1), es.map(_._2._2))
  }
}
