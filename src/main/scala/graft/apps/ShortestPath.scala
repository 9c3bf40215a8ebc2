package graft.apps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

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
  * Spark-first re-expression (SURVEY.md §1.3/§7.4): the shared mutable
  * `dist[]` becomes a `dist(node, dist)` DataFrame folded with `least()`
  * each superstep; the CSR scan becomes a hash join frontier⋈edges; the
  * improvement guard becomes a join+filter against current dist; the
  * fixpoint test is `frontier.isEmpty`.
  *
  * Scale notes for the 100 TB target:
  *   - edges are the big side: they stay partitioned; the (small, shrinking)
  *     frontier is the probe side of the join each superstep.
  *   - lineage AND inherited stats are cut every BATCH
  *     (core.Iterative.cutLineage) — without this the plan grows
  *     unboundedly over hundreds of iterations and the join-product size
  *     estimate overflows (the hazard the reference's shared memory
  *     never sees).
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

  /** Superstep state cut: lineage AND stats — see
    * [[graft.core.Iterative.cutLineage]] for why plain `localCheckpoint`
    * is not enough (its inherited join-product stats compound until the
    * BigInt estimate overflows on syn.graph's 279 supersteps). */
  private def cutLineage(df: DataFrame): DataFrame =
    graft.core.Iterative.cutLineage(df)

  /** The fully distributed superstep loop (reference main.cpp:178-188
    * re-expressed; see class doc). Exercised directly by tests and by the
    * `sssp_synthetic` catalog entry.
    *
    * FRONTIER BATCHING (round 6; VERDICT r5 #5): one superstep per
    * shortest-path-tree hop level made the solve round-trip-bound — 279
    * driver-synchronized jobs for the reference's 23 k-edge syn.graph,
    * each paying Spark's fixed job cost. Now `batchLevels` (k) relaxation
    * levels run inside ONE action: the unrolled plan chains k
    * (frontier ⋈ edges → min-per-node) levels — each level's min-reduced
    * candidate set IS the next level's frontier — unions the k level
    * outputs, takes one global min per node, and folds it against the
    * running dist with a single improvement test. Only then does the
    * driver count/checkpoint. Equivalent to k true supersteps: level j
    * holds the min over all exactly-j-hop extensions of the batch
    * frontier, so the union-min is the min over all ≤ k-hop extensions,
    * and the final `least()` fold discards non-improving candidates the
    * per-superstep filter would have dropped earlier (idempotent
    * relaxations — redundant rows, never wrong values). Driver
    * synchronizations drop k-fold: 279 → 35 batches on syn.graph.
    *
    * Join strategy: edges are hash-partitioned by `src` ONCE and cached;
    * each level's frontier exits its min agg hash-partitioned by `node`
    * with the same partition count, so the frontier⋈edges join is
    * co-partitioned — no broadcast needed (checkpointed frames carry no
    * stats anyway) and the edge relation never reshuffles. The only
    * per-level exchange is the candidate min agg, sized by the frontier's
    * out-edges, not the graph. */
  /** Deepest batch at which the O(k²)-node analyzed plan of the persist
    * path is known-safe for a default driver heap (measured: k=8 fine,
    * k=16 OOM). Beyond it, levels are cut to LogicalRDD leaves instead —
    * see the regime comment in [[distributedSssp]]. */
  val PersistDepthLimit = 8

  /** Stats-estimated bytes per loop partition (r16, guide §2.2/§2.4):
    * the superstep loop pays a fixed per-level cost proportional to its
    * partition count (every level is one exchange + one co-partitioned
    * join over the SAME partitioning), so a graph whose edge relation
    * fits in a handful of partitions should run at the graph's own
    * parallelism, not the cluster-wide `spark.sql.shuffle.partitions`.
    * 8 MB of plan-estimated edge rows ≈ 250 k (src, dst, weight) rows
    * per partition; the conf partition count stays the CAP, so any
    * graph bigger than conf × 8 MB (every production-scale graph) keeps
    * exactly the pre-r16 plan. */
  private val SsspBytesPerPart = 8L << 20

  def distributedSssp(edges: DataFrame, source: Long,
      batchLevels: Int = 8): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    val e0 = edges.select(col("src"), col("dst"), col("weight"))
    // Scale-adaptive loop parallelism from the optimizer's size estimate
    // (no extra pass over the data — an exact count would cost one).
    // Small graph → few partitions (the 1000-node bench entry runs ~350
    // one-row-scale tasks per batch at conf=32 otherwise); estimate too
    // big or unavailable → conf partitions, i.e. the pre-r16 plan.
    val estBytes = e0.queryExecution.optimizedPlan.stats.sizeInBytes
    val conf = spark.sessionState.conf.numShufflePartitions
    // floor 2, not 1: Spark will not co-partition a join at a single
    // partition (SinglePartitionShuffleSpec.canCreatePartitioning is
    // false, and EnsureRequirements rebuilds BOTH sides at conf
    // partitions — measured: every "1-partition" spelling, repartition
    // or coalesce, re-exchanged the loop 32-wide), while HashPartitioning
    // with 2 partitions co-partitions normally.
    val numParts = math.max(2L, math.min(conf.toLong,
      ((estBytes + SsspBytesPerPart - 1) / SsspBytesPerPart)
        .min(BigInt(conf)).toLong)).toInt
    // compact regime: every exchange in the loop is pinned to numParts so
    // the co-partitioned frontier⋈edges join never reshuffles the edge
    // relation. The explicit repartition places the min agg's partials
    // ABOVE the exchange (map-side combine lost) — the right trade only
    // when the whole graph is a few MB; at numParts == conf the plan is
    // byte-identical to the map-side-combining groupBy spelling below.
    val compact = numParts < conf
    // compact regime: the loop's partitioning is fully pinned, so
    // adaptive execution has nothing to improve — but it (a) decomposes
    // each batch action into one job PER SHUFFLE STAGE with a driver
    // re-optimization between (measured on the 1000-node bench graph:
    // 142 jobs, 5.9 s wall of which 3.3 s was driver-side gaps), and
    // (b) wraps the edge cache's build plan in an AdaptiveSparkPlan,
    // which hides the cache's hash partitioning from EnsureRequirements
    // and forces a RE-EXCHANGE OF THE EDGES AT EVERY LEVEL. Scoped
    // strictly to the loop (restored in finally); at scale
    // (numParts == conf) AQE stays on for its coalescing/skew handling —
    // there the per-level work dwarfs the re-planning cost.
    val aqeKey = "spark.sql.adaptive.enabled"
    val aqeBefore = spark.conf.get(aqeKey)
    if (compact) spark.conf.set(aqeKey, "false")
    try {
    def byNode(df: DataFrame): DataFrame =
      if (compact) df.repartition(numParts, col("node")) else df

    val e = e0
      .repartition(numParts, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    e.count() // materialize once; read every level of every batch

    // dist: best-known distance per discovered node (≅ dist[], main.cpp:159-163,
    // but sparse — undiscovered nodes are absent instead of +inf).
    // Batch state is eagerly cut via cutLineage: without cutting lineage
    // the logical plan doubles per batch (the full_outer join references
    // the prior state) and the checkpoint's inherited stats compound (see
    // cutLineage). On a real cluster swap the inner localCheckpoint for
    // checkpoint(reliable dir) to also survive executor loss.
    var dist = cutLineage(Seq((source, 0.0)).toDF("node", "dist"))
    // frontier: nodes whose dist improved last batch (≅ the recycled
    // output->input array, main.cpp:186).
    var frontier = dist
    var active = 1L

    // Per-level state cut, depth-dependent (the k=16 OOM fix, r6 verdict
    // #5). The k-level union's ANALYZED tree embeds level i's subtree in
    // level i+1's, so with plain per-level persist() the batch plan grows
    // O(k²) nodes and the optimizer/stats passes OOM the default driver
    // heap at k=16 (reproduced). Two regimes:
    //   - shallow batches (k ≤ PersistDepthLimit): persist() — the O(k²)
    //     tree is measured-small and the columnar cache is the faster
    //     store (k=8: 40.6 s round 6 vs 51.5 s under leaf-cutting);
    //   - deep batches: LAZY localCheckpoint (eager=false — no job per
    //     level) returns a frame whose logical plan is a single
    //     LogicalRDD leaf, so the batch plan is O(k): k=16 57.4 s and
    //     k=32 68.6 s now run in the default heap, parity 0/18,263.
    // The operator therefore cannot be configured into the plan-size OOM:
    // depth selects the bounded representation automatically. Checkpointed
    // levels still persist their rows (MEMORY_AND_DISK), so the single
    // action computes each level once — the cache role persist() plays —
    // and their blocks are reclaimed by the ContextCleaner when the batch
    // ends (a localCheckpointed RDD must never be unpersisted manually:
    // its truncated lineage cannot recompute).
    val usePersist = batchLevels <= PersistDepthLimit
    while (active > 0) {
      // k relaxation levels, one plan, no driver synchronization between
      // levels. Without a per-level cut the single action would recompute
      // level i in O(k−i) union branches — O(k²) level-joins per batch,
      // measured 118.7 s.
      // (alias both sides: a frontier's lineage could otherwise collide
      // with the edge relation's attribute ids)
      val levels = Seq.iterate(frontier, batchLevels + 1) { f =>
        // A4 edge relaxation: frontier ⋈ edges, candidate = dist[src] + w;
        // A6 min-per-key (map-side partial min for free) — the min-reduced
        // level is the next level's frontier
        val level = byNode(f.alias("f").hint("shuffle_hash")
          .join(e.alias("ed"), col("f.node") === col("ed.src"))
          .select(col("ed.dst").as("node"),
            (col("f.dist") + col("ed.weight")).as("cand")))
          .groupBy("node").agg(min(col("cand")).as("dist"))
        if (usePersist) level.persist(StorageLevel.MEMORY_AND_DISK)
        else level.localCheckpoint(false)
      }.tail
      val batchBest = byNode(levels.reduce(_ unionAll _))
        .groupBy("node").agg(min(col("dist")).as("cand"))
      // A5 improvement filter (main.cpp:41) + dist[] fold (main.cpp:54),
      // once per batch: full_outer against the running dist, least() keeps
      // the winner, the improved flag marks next-batch frontier members.
      // (no explicit repartition on the dist side: EnsureRequirements
      // rewrites user repartitions directly under a join back to conf
      // partitions — instead the batchBest side's pinned partitioning is
      // the satisfying spec, and the dist side's exchange matches it)
      val foldPlan = dist.withColumnRenamed("dist", "cur")
        .join(batchBest, Seq("node"), "full_outer")
        .select(col("node"),
          least(col("cur"), col("cand")).as("dist"),
          (col("cur").isNull || col("cand") < col("cur")).as("improved"))
      val folded = cutLineage(foldPlan)
      active = folded.where(col("improved")).count()
      if (usePersist) levels.foreach(_.unpersist(false)) // folded checkpointed
      frontier = folded.where(col("improved")).select(col("node"), col("dist"))
      dist = folded.select(col("node"), col("dist"))
    }
    e.unpersist()
    dist
    } finally if (compact) spark.conf.set(aqeKey, aqeBefore)
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
