package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef

/** Triangle counting — the third graph workload beside SSSP and PageRank,
  * and the canonical non-iterative "graph join" shape (the reference's A4
  * relaxation join, `shortest_path/main.cpp:30-62`, applied twice:
  * edge ⋈ edge → wedges, wedges ⋈ edge → triangles).
  *
  * Runs on its own deterministic graph: ring + skip-2 + skip-7 chords
  * over n nodes (the SSSP ring+skip graph is triangle-free, so this adds
  * the skip-2 chord — every (i, i+1, i+2) closes, plus irregular
  * triangles where the skip-7 chord lands on a short pair).
  *
  * Scale stance — degree-ordered orientation: each undirected edge is
  * directed from its lower-(degree, id) endpoint to the higher one, so
  * every node's out-degree is O(√m) on ANY graph (a node keeps out-edges
  * only toward neighbors of ≥ its degree, and at most 2m/d nodes have
  * degree ≥ d). The wedge self-join fans out quadratically only in this
  * bounded out-degree instead of raw degree — the difference between
  * 10^14 wedges from one degree-10^7 hub and a bounded candidate set on
  * a skewed 100 TB web graph. Each triangle is found exactly once, at
  * its lowest-ranked vertex; the closing check is one more equi-join.
  * Whole plan: three hash joins + explode + one aggregate — no nested
  * loops, no iteration.
  *
  * The DuckDB oracle enumerates the SAME triangle set with the simpler
  * id-ordering (a < b < c): the triangle set is independent of the
  * enumeration orientation, so the two engines cross-validate the
  * combinatorics, not a shared formula.
  */
object Triangles {

  val N = 1000L

  /** Hybrid cutover gate (r17, second pass; [[graft.core.Hybrid]]) —
    * PageRank's pattern applied to the wedge/triangle family: up to
    * [[PageRank.LocalNodes]] nodes the whole enumeration (including the
    * deterministic edge generation, which reads no input) runs on the
    * driver in exact integer arithmetic. The r16 PERF scaling block
    * measured this family FASTER at 8 cores than 32 — fixed per-stage
    * cost, not data — and the r17 PageRank decomposition (job traces and
    * fn/action splits, both printed by TimeQuery; OPTIMIZATION_r17.md)
    * located that cost in driver-side planning/scheduling of multi-join
    * plans over ~3 k generated rows.
    * Exact-integer combinatorics make the two paths bit-identical BY
    * CONSTRUCTION; HybridEquivalenceSpec pins every entry's local path
    * against its distributed plan row-by-row, and the DuckDB oracle
    * hashes the full output. The final double expressions (coeff,
    * jaccard, assortativity) are evaluated by the SAME Catalyst column
    * trees in both paths, so no float-spelling drift is possible. */
  private def useLocal(s: SparkSession, n: Long): Boolean =
    graft.core.Hybrid.local(s, PageRank.LocalNodes)(n)

  /** Driver-local twin of [[simpleEdges]]: ring + skip-2 + skip-7
    * chords, deduplicated unordered pairs — exact long arithmetic,
    * same relation by construction (HybridEquivalenceSpec pins it via the
    * entries). */
  def simpleEdgesLocal(n: Long): Array[(Long, Long)] = {
    val pairs = scala.collection.mutable.LinkedHashSet.empty[(Long, Long)]
    var i = 0L
    while (i < n) {
      var k = 0
      while (k < 3) {
        val d = k match {
          case 0 => (i + 1) % n
          case 1 => (i + 2) % n
          case _ => (i * 7 + 11) % n
        }
        if (d != i) pairs += ((math.min(i, d), math.max(i, d)))
        k += 1
      }
      i += 1
    }
    pairs.toArray
  }

  /** Driver-local twin of [[powerLawEdges]]: ring + Zipf-preferential
    * chord. `pmod` on non-negative operands is plain `%`; `DIV` on
    * non-negative longs is Java `/` — both spellings exact. */
  def powerLawEdgesLocal(n: Long): Array[(Long, Long)] = {
    val pairs = scala.collection.mutable.LinkedHashSet.empty[(Long, Long)]
    var i = 0L
    while (i < n) {
      val ring = (i + 1) % n
      val pref =
        n / ((((i % 2147483647L) * 1099087573L) % 2147483647L) % n + 1L) - 1L
      if (ring != i) pairs += ((math.min(i, ring), math.max(i, ring)))
      if (pref != i) pairs += ((math.min(i, pref), math.max(i, pref)))
      i += 1
    }
    pairs.toArray
  }

  /** Driver-local per-node degree over a simple (deduplicated) pair
    * set — twin of [[degreesFor]]. */
  def degreesLocal(n: Int, edges: Array[(Long, Long)]): Array[Long] = {
    val deg = new Array[Long](n)
    edges.foreach { case (a, b) => deg(a.toInt) += 1; deg(b.toInt) += 1 }
    deg
  }

  /** Driver-local per-node triangle participation counts — the a<b<c
    * enumeration (the triangle SET is orientation-independent, which is
    * exactly what the entry docs declare the oracle cross-validates).
    * Sorted-adjacency two-pointer intersection per edge: O(Σ deg) work
    * per edge, no hashing, exact longs. */
  def perNodeTrianglesLocal(n: Int, edges: Array[(Long, Long)]): Array[Long] = {
    val cnt = new Array[Int](n)
    edges.foreach { case (a, b) => cnt(a.toInt) += 1; cnt(b.toInt) += 1 }
    val adj = new Array[Array[Int]](n)
    var i = 0
    while (i < n) { adj(i) = new Array[Int](cnt(i)); cnt(i) = 0; i += 1 }
    edges.foreach { case (al, bl) =>
      val a = al.toInt; val b = bl.toInt
      adj(a)(cnt(a)) = b; cnt(a) += 1
      adj(b)(cnt(b)) = a; cnt(b) += 1
    }
    i = 0
    while (i < n) { java.util.Arrays.sort(adj(i)); i += 1 }
    val tri = new Array[Long](n)
    edges.foreach { case (al, bl) =>
      val a = al.toInt; val b = bl.toInt
      val xs = adj(a); val ys = adj(b)
      // common neighbors c with c > b close triangle a < b < c once
      var x = java.util.Arrays.binarySearch(xs, b + 1)
      if (x < 0) x = -x - 1
      var y = java.util.Arrays.binarySearch(ys, b + 1)
      if (y < 0) y = -y - 1
      while (x < xs.length && y < ys.length) {
        if (xs(x) == ys(y)) {
          tri(a) += 1; tri(b) += 1; tri(xs(x)) += 1
          x += 1; y += 1
        } else if (xs(x) < ys(y)) x += 1
        else y += 1
      }
    }
    tri
  }

  /** Local (node, tri) relation for triangle-bearing nodes — the twin
    * of [[perNodeTrianglesFor]]'s aggregate (which only emits nodes
    * appearing in at least one triangle). */
  private def localTriDf(s: SparkSession, n: Long,
      edges: Array[(Long, Long)]): DataFrame = {
    val tri = perNodeTrianglesLocal(n.toInt, edges)
    import s.implicits._
    s.createDataset(tri.indices.collect {
      case i if tri(i) > 0 => (i.toLong, tri(i))
    }.toSeq).toDF("node", "tri")
  }

  /** Node count of the oracle-gated power-law fixture
    * ([[trianglesPlaw]]) — small enough for DuckDB's id-ordered
    * enumeration, large enough that the hub (node 0, degree Θ(n/2))
    * would blow up an orientation that fans out by raw degree. */
  val PlawN = 2000L

  def all: Seq[QueryDef] =
    Seq(triangles, trianglesPlaw, clusteringCoeff, commonNeighbors,
      assortativity)

  /** Degree assortativity — the Pearson correlation of endpoint degrees
    * over the directed edge list (each undirected edge contributes both
    * orientations, the standard Newman spelling): positive on social
    * graphs (hubs befriend hubs), negative on web/biology graphs, and
    * the one-number summary of whether hub-targeted sampling will bias
    * a crawl. Exactness is the q48_corr_stats discipline: five exact
    * BIGINT power sums over the edge relation (degrees join in via two
    * hash joins), one shared IEEE tree for r. At 100 TB: two
    * edge-keyed joins + one global aggregate, map-side combinable. */
  val assortativity = QueryDef("graph_assortativity",
    (s, _) => {
      // hybrid local cutover for the five exact BIGINT power sums; the
      // Pearson double tree below is the SAME Catalyst expression in
      // both paths — see useLocal's doc. Long sums are exact and
      // order-independent, so local accumulation ≡ the distributed agg.
      val g = if (useLocal(s, N)) {
        val edges = simpleEdgesLocal(N)
        val deg = degreesLocal(N.toInt, edges)
        var cnt = 0L; var sx = 0L; var sy = 0L
        var sxx = 0L; var syy = 0L; var sxy = 0L
        edges.foreach { case (al, bl) =>
          val du = deg(al.toInt); val dv = deg(bl.toInt)
          // each undirected edge contributes both orientations
          cnt += 2
          sx += du + dv; sy += dv + du
          sxx += du * du + dv * dv; syy += dv * dv + du * du
          sxy += 2 * du * dv
        }
        import s.implicits._
        s.createDataset(Seq((cnt, sx, sy, sxx, syy, sxy)))
          .toDF("n", "sx", "sy", "sxx", "syy", "sxy")
      } else {
        val simple = simpleEdges(s)
        val deg = degreesOf(s)
        val dir = simple.select(col("a").as("su"), col("b").as("sv"))
          .unionAll(simple.select(col("b"), col("a")))
        val j = dir
          .join(deg.select(col("v").as("su"), col("deg").as("du")), "su")
          .join(deg.select(col("v").as("sv"), col("deg").as("dv")), "sv")
        j.agg(count(lit(1)).as("n"),
          sum(col("du")).as("sx"), sum(col("dv")).as("sy"),
          sum(col("du") * col("du")).as("sxx"),
          sum(col("dv") * col("dv")).as("syy"),
          sum(col("du") * col("dv")).as("sxy"))
      }
      val nd = col("n").cast("double")
      def dbl(c: String) = col(c).cast("double")
      g.select(col("n").as("n_directed_edges"),
        ((nd * dbl("sxy") - dbl("sx") * dbl("sy")) /
          (sqrt(nd * dbl("sxx") - dbl("sx") * dbl("sx")) *
           sqrt(nd * dbl("syy") - dbl("sy") * dbl("sy"))))
          .as("assortativity"))
    },
    Some(s"""WITH ids AS (SELECT range AS id FROM range($N)),
      base AS (
        SELECT id AS src, (id + 1) % $N AS dst FROM ids
        UNION ALL
        SELECT id, (id + 2) % $N FROM ids
        UNION ALL
        SELECT id, (id * 7 + 11) % $N FROM ids),
      se AS (
        SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM base WHERE src <> dst),
      deg AS (SELECT v, COUNT(*) AS deg FROM (
        SELECT a AS v FROM se UNION ALL SELECT b FROM se)
        GROUP BY v),
      dir AS (SELECT a AS su, b AS sv FROM se
        UNION ALL SELECT b, a FROM se),
      g AS (SELECT COUNT(*) AS n,
        CAST(SUM(du.deg) AS BIGINT) AS sx,
        CAST(SUM(dv.deg) AS BIGINT) AS sy,
        CAST(SUM(du.deg * du.deg) AS BIGINT) AS sxx,
        CAST(SUM(dv.deg * dv.deg) AS BIGINT) AS syy,
        CAST(SUM(du.deg * dv.deg) AS BIGINT) AS sxy
        FROM dir JOIN deg du ON dir.su = du.v JOIN deg dv ON dir.sv = dv.v)
      SELECT n AS n_directed_edges,
        (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
         sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS assortativity
      FROM g"""))

  /** Hub cap for common-neighbor wedge enumeration: wedges through a
    * vertex of degree d cost d² — one 10⁷-degree hub on a web graph is
    * 10¹⁴ wedges. Capping MIDDLE vertices at deg ≤ 64 bounds per-vertex
    * fan-out in-plan (and matches link-prediction practice: common
    * neighbors through hubs carry no signal — Adamic–Adar exists to
    * downweight exactly these). The oracle applies the same cap, so the
    * two engines agree on the capped semantics. */
  val MaxMidDegree = 64L

  /** Deterministic triangle-bearing graph as a simple undirected edge
    * set: one row per unordered pair {a, b}. */
  def simpleEdges(s: SparkSession): DataFrame = {
    val ids = s.range(0, N, 1, 32)
    val base = ids.select(col("id").as("src"), ((col("id") + 1) % N).as("dst"))
      .unionAll(ids.select(col("id"), (col("id") + 2) % N))
      .unionAll(ids.select(col("id"), (col("id") * 7 + 11) % N))
    base.where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
  }

  /** Deterministic POWER-LAW graph (the Barabási–Albert-class fixture the
    * ring+skip synthetic cannot provide — round-11 verdict item 7): each
    * node i contributes one ring edge (connectivity) and one
    * "preferential" edge whose target is Zipf-distributed — dst =
    * n div u_i − 1, where u_i is the multiplicative-hash permutation of i
    * into [1, n] (the `trainingSample` hash: exact in both engines, a
    * bijection below 2³¹−1). Since #{u : n div u = j+1} ≈ n/(j+1)², node
    * j's in-degree falls off as 1/(j+1)² — a P(deg > d) ~ 1/d heavy tail
    * with hub degree Θ(n/2), i.e. the degree skew real web/social graphs
    * have and the degree-ordered orientation's O(√m) out-degree cap is
    * designed for (PowerLawGraphSpec asserts the cap on this fixture;
    * `graft.tools.PowerLawTier` measures the graph family at scale). */
  def powerLawEdges(s: SparkSession, n: Long): DataFrame = {
    val ids = s.range(0, n, 1, 32)
    val ring = ids.select(col("id").as("src"), ((col("id") + 1) % n).as("dst"))
    val pref = ids.select(col("id").as("src"),
      expr(s"$n DIV ((pmod(pmod(id, 2147483647) * 1099087573, 2147483647)" +
        s" % $n) + 1) - 1").as("dst"))
    ring.unionAll(pref).where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
  }

  /** Per-node degree over a simple undirected edge set. */
  def degreesFor(simple: DataFrame): DataFrame =
    simple.select(col("a").as("v"))
      .unionAll(simple.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))

  /** Per-node degree over the entry's fixed simple edge set. */
  private def degreesOf(s: SparkSession): DataFrame =
    degreesFor(simpleEdges(s))

  /** The degree-ordered orientation of a simple undirected edge set:
    * low (degree, id) rank → high, with the head's packed rank carried
    * for wedge ordering. Out-degree is ≤ √(2m) on ANY graph — the bound
    * PowerLawGraphSpec asserts on the heavy-tailed fixture.
    *
    * Rank packing `deg · 2³³ + id` is a strict total order (ranks are
    * unique: ids are unique and id < 2³³) for any graph with id < 2³³
    * (≈8.6e9) and deg < 2³⁰ — far beyond every fixture and tier this
    * feeds (PowerLawTier tops out at n = 6.4M). The previous 2²⁰ shift
    * collided distinct nodes once ids exceeded 2²⁰ (r12 advice find):
    * a collision breaks strictness, so the orientation could form
    * cycles and silently undercount triangles at the 1.6M/6.4M tiers. */
  def orientedFor(simple: DataFrame): DataFrame = {
    val deg = degreesFor(simple)
    val ranked = simple
      .join(deg.withColumnRenamed("v", "a").withColumnRenamed("deg", "da"), "a")
      .join(deg.withColumnRenamed("v", "b").withColumnRenamed("deg", "db"), "b")
      .select(col("a"), col("b"),
        (col("da") * 8589934592L + col("a")).as("ra"),
        (col("db") * 8589934592L + col("b")).as("rb"))
    ranked.select(
      when(col("ra") < col("rb"), col("a")).otherwise(col("b")).as("u"),
      when(col("ra") < col("rb"), col("b")).otherwise(col("a")).as("v"),
      when(col("ra") < col("rb"), col("rb")).otherwise(col("ra")).as("rv"))
  }

  /** Per-node triangle participation over an arbitrary simple edge set —
    * the degree-ordered enumeration, reusable by the power-law tier. */
  def perNodeTrianglesFor(simple: DataFrame): DataFrame = {
    val o = orientedFor(simple)
    val wedges = o.select(col("u"), col("v"), col("rv"))
      .join(o.select(col("u"), col("v").as("w"), col("rv").as("rw")), "u")
      .where(col("rv") < col("rw"))
    val close = o.select(col("u").as("v"), col("v").as("w"))
    val tris = wedges.join(close, Seq("v", "w"))
    tris.select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("tri"))
  }

  /** Per-node triangle participation counts via the degree-ordered
    * orientation (every node's out-degree O(√m) — see the object doc;
    * rank packing bounds documented on [[orientedFor]]). */
  // NOTE the oriented relation appears three times in the triangle plan
  // (both wedge sides + the closing probe) and Catalyst recomputes the
  // generator/degree subtree for each — free here (the graph is a
  // deterministic `range` expression, no I/O), but on a real 100 TB edge
  // table the first step is persisting/checkpointing the orientation
  // once, the same seam the power-iteration operator documents.
  private def perNodeTriangles(s: SparkSession): DataFrame =
    perNodeTrianglesFor(simpleEdges(s))

  val triangles = QueryDef("graph_triangles",
    (s, _) => {
      // hybrid local cutover — see useLocal's doc
      val tri = if (useLocal(s, N)) localTriDf(s, N, simpleEdgesLocal(N))
        else perNodeTriangles(s)
      tri.orderBy(col("tri").desc, col("node")).limit(20)
    },
    Some(s"""WITH ids AS (SELECT range AS id FROM range($N)),
      base AS (
        SELECT id AS src, (id + 1) % $N AS dst FROM ids
        UNION ALL
        SELECT id, (id + 2) % $N FROM ids
        UNION ALL
        SELECT id, (id * 7 + 11) % $N FROM ids),
      se AS (
        SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM base WHERE src <> dst),
      tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM se e1
        JOIN se e2 ON e2.a = e1.b
        JOIN se e3 ON e3.a = e1.a AND e3.b = e2.b),
      nodes AS (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri)
      SELECT node, COUNT(*) AS tri FROM nodes
      GROUP BY node ORDER BY tri DESC, node LIMIT 20"""))

  /** Per-node triangle counts on the HEAVY-TAILED fixture
    * ([[powerLawEdges]], hub degree Θ(n/2)) — the skew-safety evidence
    * moved behind the DuckDB hash gate (r14 verdict item 6): the
    * ring+skip graph `graph_triangles` runs on is near-regular, so it
    * never exercises the degree-ordered orientation's reason to exist.
    * Here node 0's ~n/2-degree hub would make a raw-degree wedge join
    * enumerate Θ(n²/4) wedges; the orientation keeps every out-degree
    * ≤ √(2m) (PowerLawGraphSpec asserts the cap on this exact fixture,
    * PlanShapeSpec pins the equi-join shape). The oracle enumerates the
    * same triangle set with simple id-ordering (a < b < c) — the two
    * engines cross-validate the combinatorics, not a shared formula.
    * Full per-node relation (no LIMIT): every triangle-bearing node is
    * oracle-visible. */
  val trianglesPlaw = QueryDef("graph_triangles_plaw",
    (s, _) => {
      // hybrid local cutover — see useLocal's doc
      val tri =
        if (useLocal(s, PlawN)) localTriDf(s, PlawN, powerLawEdgesLocal(PlawN))
        else perNodeTrianglesFor(powerLawEdges(s, PlawN))
      tri.orderBy(col("tri").desc, col("node"))
    },
    Some(s"""WITH ids AS (SELECT range AS id FROM range($PlawN)),
      base AS (
        SELECT id AS src, (id + 1) % $PlawN AS dst FROM ids
        UNION ALL
        SELECT id,
          $PlawN // ((((id % 2147483647) * 1099087573) % 2147483647)
            % $PlawN + 1) - 1
        FROM ids),
      se AS (
        SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM base WHERE src <> dst),
      tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM se e1
        JOIN se e2 ON e2.a = e1.b
        JOIN se e3 ON e3.a = e1.a AND e3.b = e2.b),
      nodes AS (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri)
      SELECT node, COUNT(*) AS tri FROM nodes
      GROUP BY node ORDER BY tri DESC, node"""))

  /** Local clustering coefficient — closed-wedge fraction per node,
    * 2T_v / (deg_v · (deg_v − 1)): the standard community-structure
    * diagnostic (and the per-node statistic whose graph-wide average is
    * the Watts–Strogatz coefficient; the fold stays with the consumer
    * to keep float accumulation order out of the entry). Reuses the
    * degree-ordered triangle enumeration — same three hash joins — plus
    * one left join back to the degree relation; T and deg·(deg−1) are
    * exact BIGINTs, the coefficient is one shared double division. Top
    * 50 by (coeff desc, node); nodes with deg < 2 define no wedge and
    * are excluded on both sides. */
  val clusteringCoeff = QueryDef("graph_clustering_coeff",
    (s, _) => {
      // hybrid local cutover for the exact-integer part (node, deg,
      // tri); the coeff double expression below is the SAME Catalyst
      // column in both paths — see useLocal's doc
      val base = if (useLocal(s, N)) {
        val edges = simpleEdgesLocal(N)
        val deg = degreesLocal(N.toInt, edges)
        val tri = perNodeTrianglesLocal(N.toInt, edges)
        import s.implicits._
        s.createDataset((0 until N.toInt).collect {
          case i if deg(i) >= 2 => (i.toLong, deg(i), tri(i))
        }.toSeq).toDF("node", "deg", "tri")
      } else {
        val tri = perNodeTriangles(s)
        degreesOf(s).filter(col("deg") >= 2)
          .join(tri, col("v") === col("node"), "left")
          .select(col("v").as("node"), col("deg"),
            coalesce(col("tri"), lit(0L)).as("tri"))
      }
      base
        .withColumn("coeff",
          (lit(2.0) * col("tri").cast("double")) /
            (col("deg") * (col("deg") - 1)).cast("double"))
        .orderBy(col("coeff").desc, col("node"))
        .limit(50)
    },
    Some(s"""WITH ids AS (SELECT range AS id FROM range($N)),
      base AS (
        SELECT id AS src, (id + 1) % $N AS dst FROM ids
        UNION ALL
        SELECT id, (id + 2) % $N FROM ids
        UNION ALL
        SELECT id, (id * 7 + 11) % $N FROM ids),
      se AS (
        SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM base WHERE src <> dst),
      deg AS (SELECT v, COUNT(*) AS deg FROM (
        SELECT a AS v FROM se UNION ALL SELECT b FROM se)
        GROUP BY v),
      tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM se e1
        JOIN se e2 ON e2.a = e1.b
        JOIN se e3 ON e3.a = e1.a AND e3.b = e2.b),
      nodes AS (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri),
      ntri AS (SELECT node, COUNT(*) AS tri FROM nodes GROUP BY node)
      SELECT d.v AS node, d.deg,
        CAST(COALESCE(t.tri, 0) AS BIGINT) AS tri,
        (2.0 * CAST(COALESCE(t.tri, 0) AS DOUBLE)) /
          CAST(d.deg * (d.deg - 1) AS DOUBLE) AS coeff
      FROM deg d LEFT JOIN ntri t ON t.node = d.v
      WHERE d.deg >= 2
      ORDER BY coeff DESC, node LIMIT 50"""))

  /** Common-neighbors link prediction — top 30 NON-adjacent pairs by
    * shared-neighbor count, with the Jaccard score |N(u)∩N(w)| /
    * |N(u)∪N(w)| (the first-line link-prediction baselines). Wedge
    * enumeration groups u–v–w paths by endpoint pair, anti-joins the
    * edge set to keep only non-edges, and joins degrees for the union
    * denominator — four hash joins and one aggregate, with the
    * [[MaxMidDegree]] hub cap bounding the d² wedge fan-out in-plan.
    * Counts and degrees are exact BIGINTs; Jaccard is one shared double
    * division. */
  val commonNeighbors = QueryDef("graph_common_neighbors",
    (s, _) => {
      // hybrid local cutover for the exact-integer part (u, w, cn, du,
      // dw); the jaccard double expression below is the SAME Catalyst
      // column in both paths — see useLocal's doc
      val base = if (useLocal(s, N)) {
        val n = N.toInt
        val edges = simpleEdgesLocal(N)
        val deg = degreesLocal(n, edges)
        val adjacent = new java.util.HashSet[Long]()
        val adj = Array.fill(n)(scala.collection.mutable.ArrayBuffer.empty[Int])
        edges.foreach { case (al, bl) =>
          val a = al.toInt; val b = bl.toInt
          adjacent.add(al * 8589934592L + bl)
          adj(a) += b; adj(b) += a
        }
        val cn = new java.util.HashMap[Long, Long]()
        var v = 0
        while (v < n) {
          if (deg(v) <= MaxMidDegree) {
            val ns = adj(v)
            var i = 0
            while (i < ns.length) {
              var j = 0
              while (j < ns.length) {
                if (ns(i) < ns(j))
                  cn.merge(ns(i).toLong * 8589934592L + ns(j), 1L, _ + _)
                j += 1
              }
              i += 1
            }
          }
          v += 1
        }
        val rows = scala.collection.mutable.ArrayBuffer.empty[
          (Long, Long, Long, Long, Long)]
        cn.forEach { (key, c) =>
          if (!adjacent.contains(key)) {
            val u = key / 8589934592L
            val w = key % 8589934592L
            rows += ((u, w, c, deg(u.toInt), deg(w.toInt)))
          }
        }
        import s.implicits._
        s.createDataset(rows.toSeq).toDF("u", "w", "cn", "du", "dw")
      } else {
        val simple = simpleEdges(s)
        val deg = degreesOf(s)
        val mid = simple.select(col("a").as("v"), col("b").as("n"))
          .unionAll(simple.select(col("b"), col("a")))
          .join(deg.filter(col("deg") <= MaxMidDegree).select(col("v")), "v")
        val wedges = mid.select(col("v"), col("n").as("u"))
          .join(mid.select(col("v"), col("n").as("w")), "v")
          .where(col("u") < col("w"))
        val cn = wedges.groupBy(col("u"), col("w")).agg(count(lit(1)).as("cn"))
        val nonadj = cn.join(simple,
          cn("u") === simple("a") && cn("w") === simple("b"), "left_anti")
        nonadj
          .join(deg.select(col("v").as("u"), col("deg").as("du")), "u")
          .join(deg.select(col("v").as("w"), col("deg").as("dw")), "w")
      }
      base
        .select(col("u"), col("w"), col("cn"),
          (col("cn").cast("double") /
            (col("du") + col("dw") - col("cn")).cast("double")).as("jaccard"))
        .orderBy(col("cn").desc, col("u"), col("w"))
        .limit(30)
    },
    Some(s"""WITH ids AS (SELECT range AS id FROM range($N)),
      base AS (
        SELECT id AS src, (id + 1) % $N AS dst FROM ids
        UNION ALL
        SELECT id, (id + 2) % $N FROM ids
        UNION ALL
        SELECT id, (id * 7 + 11) % $N FROM ids),
      se AS (
        SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM base WHERE src <> dst),
      deg AS (SELECT v, COUNT(*) AS deg FROM (
        SELECT a AS v FROM se UNION ALL SELECT b FROM se)
        GROUP BY v),
      mid AS (SELECT d.v, d.n FROM (
          SELECT a AS v, b AS n FROM se UNION ALL SELECT b, a FROM se) d
        JOIN deg g ON d.v = g.v WHERE g.deg <= $MaxMidDegree),
      wed AS (SELECT w1.n AS u, w2.n AS w
        FROM mid w1 JOIN mid w2 ON w1.v = w2.v WHERE w1.n < w2.n),
      cn AS (SELECT u, w, COUNT(*) AS cn FROM wed GROUP BY u, w),
      nonadj AS (SELECT * FROM cn WHERE NOT EXISTS (
        SELECT 1 FROM se WHERE se.a = cn.u AND se.b = cn.w))
      SELECT n.u, n.w, n.cn,
        CAST(n.cn AS DOUBLE) / CAST(du.deg + dw.deg - n.cn AS DOUBLE)
          AS jaccard
      FROM nonadj n JOIN deg du ON n.u = du.v JOIN deg dw ON n.w = dw.v
      ORDER BY n.cn DESC, n.u, n.w LIMIT 30"""))
}
