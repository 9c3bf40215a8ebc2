package graft.apps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import scala.collection.mutable.LongMap
import graft.core.{Csr, Superstep}

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
  * Spark-first re-expression: the frontier loop is a program for
  * [[graft.core.Superstep]], which holds the CSR as one [[graft.core.Csr]]
  * per edge partition, hash-partitioned by `src`, and the shared `dist[]`
  * as one node→dist map per partition under the same partitioner, so a
  * level's frontier probes its own partition's CSR and only the
  * candidates are shuffled. The min reduce is the program's combine; the
  * improvement guard is its activation test; the fixpoint test is an
  * empty improved set.
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

  /** Rows of [[distributedSssp]]'s result. */
  private val DistSchema = StructType(Seq(
    StructField("node", LongType), StructField("dist", DoubleType)))

  /** The fully distributed superstep loop (reference main.cpp:178-188
    * re-expressed; see class doc), run by [[graft.core.Superstep]].
    * Exercised directly by tests, the `sssp_synthetic` catalog entry and
    * the benchmark.
    *
    * The program: the source starts at dist 0; a frontier node sends
    * `dist + w` along each out-edge (main.cpp:32-46); messages fold by min
    * (main.cpp:48-56); a node joins the frontier when its dist improves
    * (the improvement guard, main.cpp:41). `batchLevels` relaxation levels
    * run per batch. Guarding a level against the batch-start dist is safe
    * because that dist holds only values whose out-edges were already
    * relaxed.
    *
    * Jobs are described `graft:sssp/index` and `graft:sssp/batch-<n>`. */
  def distributedSssp(edges: DataFrame, source: Long,
      batchLevels: Int = 8): DataFrame =
    Superstep.run("sssp", edges, new Superstep.Program[Double, Double] {
      def zero = Double.PositiveInfinity
      def seed(csr: Csr, home: Long => Boolean) =
        if (home(source)) (LongMap(source -> 0.0), Array(source -> 0.0))
        else (LongMap.empty[Double], Array.empty[(Long, Double)])
      def send(d: Double, dst: Long, w: Double) = d + w
      def combine(a: Double, b: Double) = math.min(a, b)
      def merge(d: Double, m: Double) = math.min(d, m)
      def activated(old: Double, now: Double) = now < old
    }, batchLevels, DistSchema)._1

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
