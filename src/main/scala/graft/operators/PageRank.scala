package graft.operators

import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.apps.ShortestPath

/** Fixed-point PageRank over the deterministic synthetic ring+skip graph
  * (the same relation `sssp_synthetic` solves shortest paths on) — the
  * second iterative-superstep graph algorithm, generalizing the
  * reference's A4–A7 pattern (frontier ⋈ edges → per-node aggregate →
  * next state; `shortest_path/main.cpp:178-188`) from MIN-propagation to
  * damped mass-propagation.
  *
  * Arithmetic is scaled-integer fixed point (rank mass × 10^12, integer
  * division throughout): BIGINT sums are exact and associative, so any
  * partitioning/any engine computes bit-identical ranks — the same
  * discipline the decimal money columns use (QueryDef doc), applied to an
  * iterative algorithm. The DuckDB oracle unrolls the 5 rounds into
  * chained CTEs over the identical edge relation.
  *
  * Scale stance: each round is one shuffle keyed by src (contribution
  * join) plus one keyed by dst (mass aggregation) — the canonical
  * distributed PageRank plan; the degree relation is computed once.
  * Node state is one BIGINT per node. Unlike the 279-superstep SSSP
  * loop, 5 unrolled rounds stay well inside Catalyst's comfortable plan
  * depth, so NO per-round [[graft.core.Iterative.cutLineage]]: the cut's
  * five eager materializations measured 4.2 s vs 1.8 s as one lazy
  * 10-shuffle job (TimeQuery, sf-independent). A variant with an
  * unbounded round count must re-add the cut — that's what it's for
  * (see Iterative.scala's stats-compounding analysis). The rank relation
  * is renamed before each join so rounds compose as clean two-relation
  * joins, not self-joins Catalyst has to de-duplicate.
  */
object PageRank {

  /** Rank mass scale: 1.0 == 10^12 (so with n=1000 nodes, initial rank
    * is 10^9 — floor-division loss per round is ≤ 1 part in 10^7). */
  val Scale = 1000000000000L
  val N = 1000L
  val Rounds = 5

  /** Personalization seed set for [[ppr]]: nodes ≡ 0 (mod [[SeedMod]])
    * — 4 seeds on the N=1000 synthetic graph, deterministic at any N. */
  val SeedMod = 333L

  def all: Seq[QueryDef] = Seq(pagerank, ppr, pagerankPlaw)

  /** Graph families (PageRank, LPA, triangles) finish on the driver up
    * to this many nodes — about 600 k collected edge rows, the SSSP
    * 1M-edge class ([[graft.core.Hybrid]]). */
  val LocalNodes = 200000L

  /** The shared 5-round mass-propagation loop (r17; VERDICT r16 item 2).
    *
    * HYBRID ([[graft.core.Hybrid]]): when the whole graph fits
    * comfortably on the driver (n <= [[LocalNodes]]), the 5 rounds run
    * as a driver loop over the collected edge relation. The arithmetic
    * is the engine's exact scaled BIGINT with truncating division on
    * non-negative operands, so the local loop is bit-identical to the
    * distributed plan BY CONSTRUCTION (HybridEquivalenceSpec pins the
    * two paths against each other; the DuckDB oracle hashes every rank).
    * Why a cutover at all: the r16 PERF scaling block measured this
    * family FASTER at 8 cores than 32 -- per-round fixed cost, not
    * data, dominates. r17 decomposed that cost on the 1000-node bench
    * graph (BenchProbe job traces + phase splits, OPTIMIZATION_r17.md):
    * the lazy AQE path spends ~2 s on ~15 driver-synchronized per-stage
    * jobs; a pinned AQE-off eager variant still pays ~1.3 s building
    * the unrolled RDD graph (driver-side; whole-stage codegen ruled out
    * by A/B) for ~130 ms of executor work. No distributed spelling of a
    * 5-round x 1000-node loop beats collect-and-solve -- the standard
    * cutover every distributed graph engine makes, already precedented
    * by sssp's hybrid.
    *
    * DISTRIBUTED path (n above the bound, or `spark.graft.hybrid=
    * distributed`): the lazy unrolled plan, with two r17 improvements
    * that also hold at 100 TB -- loop/range parallelism derived from the
    * node count ([[graft.core.Parallelism.graphParts]], conf-capped so
    * production-scale graphs keep cluster-wide parallelism), and ONE
    * exchange per round: the zero-row union folds the constant id
    * universe into the mass aggregation (guide 2.4; the old
    * `ids LEFT_OUTER contrib` spelling paid an agg exchange plus a
    * range-side join exchange per round -- value-identical because
    * coalesce(cs, 0) == cs + 0 and (85*0) div 100 = 0).
    *
    * `update`/`updateF` map the exact BIGINT contribution sum `cs` (and
    * the node id, for the seeded PPR restart) to the next rank -- the
    * same formula spelled once as a Column and once as a Scala function;
    * HybridEquivalenceSpec and the oracle hash gate pin the two against
    * each other. */
  private def massLoop(s: org.apache.spark.sql.SparkSession, n: Long,
      edges: org.apache.spark.sql.DataFrame,
      init: org.apache.spark.sql.Column,
      update: org.apache.spark.sql.Column,
      initF: Long => Long,
      updateF: (Long, Long) => Long,
      edgesLocal: Option[() => Array[(Int, Int)]] = None)
      : org.apache.spark.sql.DataFrame = {
    if (graft.core.Hybrid.local(s, LocalNodes)(n)) {
      // driver-local solve: the edge multiset comes from the caller's
      // exact local generator twin when one exists (all three fixtures
      // are deterministic range formulas — the r17 second pass measured
      // the plaw entry spending ~0.9 s of its 0.97 s residual collecting
      // the distributed generator's distinct), else one tiny collect
      // job. Then pure long-array rounds -- no per-round planning,
      // codegen or stage scheduling. `div` on non-negative longs is
      // Java `/`.
      val es = edgesLocal.map(_.apply()).getOrElse(
        edges.select(col("src"), col("dst")).collect()
          .map(r => (r.getLong(0).toInt, r.getLong(1).toInt)))
      val deg = new Array[Long](n.toInt)
      es.foreach { case (a, _) => deg(a) += 1 }
      var v = Array.tabulate(n.toInt)(id => initF(id.toLong))
      for (_ <- 1 to Rounds) {
        val cs = new Array[Long](n.toInt)
        es.foreach { case (a, b) => cs(b) += v(a) / deg(a) }
        v = Array.tabulate(n.toInt)(id => updateF(id.toLong, cs(id)))
      }
      import s.implicits._
      s.createDataset(v.indices.map(i => (i.toLong, v(i))))
        .toDF("id", "v").orderBy(col("id"))
    } else {
      val parts = graft.core.Parallelism.graphParts(s, n)
      def ids = s.range(0, n, 1, parts)
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val e = edges.join(deg, "src")
      var pr = ids.select(col("id"), init.as("v"))
      for (_ <- 1 to Rounds) {
        val contrib = e
          .join(pr.withColumnRenamed("id", "pid"), col("src") === col("pid"))
          .select(col("dst").as("id"), expr("v div deg").as("c"))
        pr = contrib.unionAll(ids.select(col("id"), lit(0L).as("c")))
          .groupBy(col("id")).agg(sum(col("c")).as("cs"))
          .select(col("id"), update.as("v"))
      }
      pr.orderBy(col("id"))
    }
  }

  /** [[pagerank]] on the HEAVY-TAILED fixture
    * ([[Triangles.powerLawEdges]], hub in-degree Θ(n/2)) — mass-
    * propagation skew behavior moved behind the DuckDB hash gate (r15
    * verdict item 7, the `graph_triangles_plaw` precedent): the
    * ring+skip graph `graph_pagerank` runs on is near-regular, so the
    * hub-concentration regime — node 0 absorbing contributions from
    * ~n/2 neighbors each round, the 100 TB skew case where a
    * mass-propagation implementation melts if it ever groups by the
    * hub's neighborhood in memory — was previously only tool-tier
    * evidence (PowerLawTier through 12.8 M edges; that row is the
    * scale half of this entry's claim). Same machinery as [[pagerank]],
    * verbatim: scaled-BIGINT fixed point (×10^12 — with n=2000,
    * initial rank 5·10^8), truncating integer division (exact,
    * associative, partition-invariant), 5 unrolled lazy rounds, each
    * one shuffle keyed by src + one keyed by dst; the per-node sum at
    * the hub is exactly what a shuffle hash aggregate absorbs without
    * per-key memory beyond one BIGINT. Undirected simple edge set run
    * symmetrically (both directions), so every node has out-edges —
    * no dangling mass. Full n-row relation, every rank oracle-visible. */
  val pagerankPlaw = QueryDef("graph_pagerank_plaw",
    (s, _) => {
      val n = Triangles.PlawN
      val simple = Triangles.powerLawEdges(s, n)
      val edges = simple.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(simple.select(col("b").as("src"), col("a").as("dst")))
      val base = (15L * (Scale / n)) / 100L
      // hybrid 5-round loop (local cutover / one-exchange rounds at
      // scale) — see massLoop's doc. The oracle keeps its own LEFT JOIN
      // spelling; the hash gate proves the equivalence.
      massLoop(s, n, edges, lit(Scale / n),
        lit(base) + expr("(85 * cs) div 100"),
        _ => Scale / n, (_, cs) => base + (85L * cs) / 100L,
        Some(() => Triangles.powerLawEdgesLocal(n).flatMap { case (a, b) =>
          Array((a.toInt, b.toInt), (b.toInt, a.toInt)) }))
    },
    Some {
      val n = Triangles.PlawN
      val base = (15L * (Scale / n)) / 100L
      val rounds = (1 to Rounds).map { k =>
        s"""c$k AS (SELECT e.dst AS id, SUM(p.v // e.deg) AS cs
          FROM e JOIN pr${k - 1} p ON p.id = e.src GROUP BY e.dst),
        pr$k AS (SELECT i.id,
          CAST($base + (85 * COALESCE(c.cs, 0)) // 100 AS BIGINT) AS v
          FROM ids i LEFT JOIN c$k c ON c.id = i.id)"""
      }.mkString(",\n")
      s"""WITH ids AS (SELECT range AS id FROM range($n)),
        base0 AS (
          SELECT id AS src, (id + 1) % $n AS dst FROM ids
          UNION ALL
          SELECT id,
            $n // ((((id % 2147483647) * 1099087573) % 2147483647)
              % $n + 1) - 1
          FROM ids),
        se AS (
          SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
          FROM base0 WHERE src <> dst),
        e0 AS (
          SELECT a AS src, b AS dst FROM se
          UNION ALL
          SELECT b, a FROM se),
        deg AS (SELECT src, COUNT(*) AS deg FROM e0 GROUP BY src),
        e AS (SELECT e0.src, e0.dst, deg.deg FROM e0 JOIN deg USING (src)),
        pr0 AS (SELECT id, CAST(${Scale / n} AS BIGINT) AS v FROM ids),
        $rounds
        SELECT id, v FROM pr$Rounds ORDER BY id"""
    })

  val pagerank = QueryDef("graph_pagerank",
    (s, _) => {
      val edges = ShortestPath.syntheticGraph(s, N).select(col("src"), col("dst"))
      val base = (15L * (Scale / N)) / 100L
      // hybrid 5-round loop — see massLoop's doc
      massLoop(s, N, edges, lit(Scale / N),
        lit(base) + expr("(85 * cs) div 100"),
        _ => Scale / N, (_, cs) => base + (85L * cs) / 100L,
        Some(() => ShortestPath.syntheticEdgesLocal(N)))
    },
    Some {
      val base = (15L * (Scale / N)) / 100L
      val rounds = (1 to Rounds).map { k =>
        s"""c$k AS (SELECT e.dst AS id, SUM(p.v // e.deg) AS cs
          FROM e JOIN pr${k - 1} p ON p.id = e.src GROUP BY e.dst),
        pr$k AS (SELECT i.id,
          CAST($base + (85 * COALESCE(c.cs, 0)) // 100 AS BIGINT) AS v
          FROM ids i LEFT JOIN c$k c ON c.id = i.id)"""
      }.mkString(",\n")
      s"""WITH ids AS (SELECT range AS id FROM range($N)),
        base AS (
          SELECT id AS src, (id + 1) % $N AS dst FROM ids
          UNION ALL
          SELECT id, (id * 7 + 11) % $N FROM ids),
        e0 AS (
          SELECT src, dst FROM base WHERE src <> dst
          UNION ALL
          SELECT dst AS src, src AS dst FROM base WHERE src <> dst),
        deg AS (SELECT src, COUNT(*) AS deg FROM e0 GROUP BY src),
        e AS (SELECT e0.src, e0.dst, deg.deg FROM e0 JOIN deg USING (src)),
        pr0 AS (SELECT id, CAST(${Scale / N} AS BIGINT) AS v FROM ids),
        $rounds
        SELECT id, v FROM pr$Rounds ORDER BY id"""
    })

  /** Personalized PageRank — the restart vector concentrated on a seed
    * set instead of uniform: π = 0.15·e_S + 0.85·Pᵀπ, the
    * recommendation / graph-feature shape the GLOBAL rank cannot serve
    * (hubs dominate `graph_pagerank` regardless of whose neighborhood
    * you care about; PPR ranks BY PROXIMITY to the seeds — PprSpec pins
    * seed-mass concentration against the global rank's order; r13
    * verdict item 6).
    *
    * Same machinery as [[pagerank]], reused wholesale: scaled-BIGINT
    * fixed point (×10^12, truncating integer division — exact,
    * associative, partition-invariant), 5 unrolled lazy rounds,
    * contribution join keyed by src + mass aggregation keyed by dst,
    * oracle as chained CTEs generated from the same constants. The only
    * deltas: the restart term lands ONLY on seeds, and the initial
    * vector puts all mass on the seeds (the standard PPR start, so
    * round k bounds the k-hop neighborhood). No dangling mass: every
    * node of the ring+skip graph has out-edges. */
  val ppr = QueryDef("graph_ppr",
    (s, _) => {
      val edges = ShortestPath.syntheticGraph(s, N)
        .select(col("src"), col("dst"))
      val nSeeds = (N + SeedMod - 1) / SeedMod // ids 0, 333, 666, 999
      val seedBase = (15L * (Scale / nSeeds)) / 100L
      // hybrid 5-round loop — see massLoop's doc
      massLoop(s, N, edges,
        when(col("id") % SeedMod === 0L, lit(Scale / nSeeds))
          .otherwise(lit(0L)),
        when(col("id") % SeedMod === 0L, lit(seedBase))
          .otherwise(lit(0L)) + expr("(85 * cs) div 100"),
        id => if (id % SeedMod == 0L) Scale / nSeeds else 0L,
        (id, cs) => (if (id % SeedMod == 0L) seedBase else 0L) +
          (85L * cs) / 100L,
        Some(() => ShortestPath.syntheticEdgesLocal(N)))
    },
    Some {
      val nSeeds = (N + SeedMod - 1) / SeedMod
      val seedBase = (15L * (Scale / nSeeds)) / 100L
      val rounds = (1 to Rounds).map { k =>
        s"""c$k AS (SELECT e.dst AS id, SUM(p.v // e.deg) AS cs
          FROM e JOIN pr${k - 1} p ON p.id = e.src GROUP BY e.dst),
        pr$k AS (SELECT i.id,
          CAST(CASE WHEN i.id % $SeedMod = 0 THEN $seedBase ELSE 0 END
            + (85 * COALESCE(c.cs, 0)) // 100 AS BIGINT) AS v
          FROM ids i LEFT JOIN c$k c ON c.id = i.id)"""
      }.mkString(",\n")
      s"""WITH ids AS (SELECT range AS id FROM range($N)),
        base AS (
          SELECT id AS src, (id + 1) % $N AS dst FROM ids
          UNION ALL
          SELECT id, (id * 7 + 11) % $N FROM ids),
        e0 AS (
          SELECT src, dst FROM base WHERE src <> dst
          UNION ALL
          SELECT dst AS src, src AS dst FROM base WHERE src <> dst),
        deg AS (SELECT src, COUNT(*) AS deg FROM e0 GROUP BY src),
        e AS (SELECT e0.src, e0.dst, deg.deg FROM e0 JOIN deg USING (src)),
        pr0 AS (SELECT id, CAST(CASE WHEN id % $SeedMod = 0
          THEN ${Scale / nSeeds} ELSE 0 END AS BIGINT) AS v FROM ids),
        $rounds
        SELECT id, v FROM pr$Rounds ORDER BY id"""
    })
}
