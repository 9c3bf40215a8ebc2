package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.core.{Cuts, Iterative}

/** k-core decomposition by iterative peeling — the dense-subgraph
  * extraction every graph-mining pipeline runs (spam/bot rings, community
  * nuclei, robust-connectivity filtering): repeatedly delete nodes of
  * degree < k until every survivor has ≥ k surviving neighbors. The
  * third iterative-superstep graph operator beside `sssp_synthetic` and
  * `graph_pagerank`, exercising the remaining fixpoint shape — MONOTONE
  * DELETION (the frontier shrinks instead of propagating).
  *
  * Graph: the bipartite order–part incidence graph of `lineitem`
  * (order nodes = 2·l_orderkey, part nodes = 2·l_partkey + 1 — disjoint
  * id spaces), distinct edges, symmetric. Orders carry 1–7 lines and
  * parts ~L/P, so k = 4 produces a real cascade (an order dropping
  * frees its parts, whose degree loss can drop further orders).
  *
  * Fixpoint discipline: each superstep is one degree aggregation + two
  * semi-joins (edges whose BOTH endpoints survive), with
  * [[Iterative.cutLineage]] per round (unbounded round count — the
  * stats-compounding hazard its doc describes) and the surviving-edge
  * count as the convergence action. Peeling is confluent (the k-core is
  * unique), so batching all sub-k deletions per round is safe.
  *
  * The DuckDB oracle unrolls [[OracleRounds]] peel rounds into chained
  * CTEs — an upper bound on the rounds any test corpus needs (the spec
  * asserts the loop converges well inside it; extra unrolled rounds are
  * no-ops at fixpoint, so entry == oracle exactly).
  *
  * Scale stance: per round the work is ∝ surviving edges (shrinking
  * monotonically), shuffles keyed by node id; round count is the
  * cascade depth, observed single-digit on all tiers. At 100 TB this is
  * the standard distributed k-core recipe (Montresor et al.'s message-
  * passing peeling collapses to the same degree-filter rounds under
  * BSP).
  */
object KCore {

  val K = 4

  /** Upper bound on peel rounds unrolled in the oracle; the driver loop
    * itself runs to TRUE fixpoint and KCoreSpec asserts convergence
    * within this bound (measured: 2 rounds at sf0.001, sf0.01, AND
    * sf0.1 — the order–part graph's parts are high-degree, so the
    * cascade is shallow; KCoreSpec's random-graph fixture exercises a
    * real multi-round cascade). */
  val OracleRounds = 10

  /** Frontier rows above which the per-round broadcast hints are
    * dropped in favor of AQE-planned shuffle joins. The `lost` delta is
    * bounded by (k-1)·frontier rows (every peeled node has degree < k),
    * so one cap governs both hinted sides. A 16 M cap was A/B'd at the
    * 64× tier (round-1 frontier ~4.8 M nodes): broadcasting it measured
    * indistinguishable from the shuffle path (67.0 vs 65.8 s) — the
    * mass-peel round's cost is the edge relation itself, not the join
    * strategy — so the cap stays at the cluster-conservative 4 M. */
  val BroadcastFrontierMax = 4000000L

  def all: Seq[QueryDef] = Seq(kcore)

  /** Peel `edges` (symmetric `(u, v)`) to the k-core; returns surviving
    * `(node, deg)`. Also reports the round count through `roundsOut`
    * for the convergence assertion in KCoreSpec.
    *
    * Threshold-crossing frontier maintenance for scale: the per-round
    * MATERIALIZED state is only the cumulative decrement relation
    * `(node, dec)` (touched nodes only) and the frontier — never the
    * full O(nodes) degree table (an earlier revision re-checkpointed
    * surviving `(node, deg)` every round, which made round cost
    * node-scaled: 61 s at the 64× tier; the O(E)-per-round revision
    * before that read 88 s). The base degree table is checkpointed
    * ONCE; each round (a) charges every edge into the dying frontier to
    * its surviving endpoint (one read-only pass over the cached edges,
    * frontier side hinted broadcast while small), (b) folds the new
    * losses into the cumulative decrements, and (c) finds the NEXT
    * frontier as the nodes that CROSSED the threshold this round —
    * base_deg − dec < k now, but base_deg − prev_dec ≥ k before. The
    * crossing test runs only over this round's touched nodes (an inner
    * join of the small delta against the once-cached base degrees), so
    * no dead set is carried at all: decrements are monotone, a node
    * crosses exactly once, and later decrements into dead nodes fail
    * the `prev ≥ k` half. Survivors are extracted in ONE final pass:
    * base_deg − total_dec ≥ k (nodes never touched have dec 0 via the
    * left join). Batched simultaneous peeling is confluent (the k-core
    * is unique), so round semantics match the unrolled oracle exactly.
    *
    * `maxRounds`: fail-loudly bound. The catalog entry passes
    * [[OracleRounds]] so any corpus whose cascade outruns the unrolled
    * DuckDB oracle aborts instead of silently diverging from it
    * (KCoreSpec asserts headroom at sf0.001/sf0.01; this guard covers
    * every tier the oracle gate actually runs). */
  def kcoreOf(edgesIn: DataFrame, k: Int,
      roundsOut: Option[java.util.concurrent.atomic.AtomicInteger] = None,
      maxRounds: Option[Int] = None)
      : DataFrame = {
    val edges = Cuts.cut(edgesIn) // one materialization, reused
    val baseDeg = edges.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      .select(col("u").as("node"), col("deg"))
      .transform(Cuts.cut) // once — never rewritten by the loop
    var dec = baseDeg.limit(0)
      .select(col("node"), lit(0L).as("dec")) // cumulative, touched-only
    var decRelease: () => Unit = () => ()
    var (frontier, frontierRelease) = Iterative.cutLineageReleasable(
      baseDeg.filter(col("deg") < k).select("node"))
    var fCount = frontier.count()
    var rounds = 0
    while (fCount > 0) {
      rounds += 1
      maxRounds.foreach { m =>
        require(rounds <= m,
          s"k-core cascade exceeded $m rounds — unrolled oracle invalid")
      }
      // cutLineage resets stats, so hint the small side explicitly —
      // but only while the relation being SHIPPED is genuinely small
      // (round 1 can peel a large fraction of nodes; past the cap, fall
      // back to shuffle joins and let AQE re-plan at runtime). The gate
      // takes the hinted relation's own row bound: the frontier is
      // fCount rows, but `crossed` can be (k−1)× that — every dying
      // node has deg < k, so it touches at most k−1 distinct neighbors.
      def hinted(df: DataFrame, rowBound: Long): DataFrame =
        if (rowBound <= BroadcastFrontierMax) broadcast(df) else df
      // edges charged to u the round its v endpoint dies — exactly once,
      // because a node dies exactly once
      val lost = edges
        .join(hinted(frontier.select(col("node").as("v")), fCount), Seq("v"))
        .groupBy(col("u")).agg(count(lit(1)).as("d"))
        .select(col("u").as("node"), col("d"))
      val (decNext, decNextRelease) = Iterative.cutLineageReleasable(
        dec.unionAll(lost.select(col("node"), col("d").as("dec")))
          .groupBy(col("node")).agg(sum(col("dec")).as("dec")))
      // nodes that crossed k this round: only this round's touched nodes
      // can, so the test joins the small delta against the cached base
      val crossed = lost
        .join(dec.select(col("node"), col("dec").as("prev")),
          Seq("node"), "left")
        .select(col("node"),
          (coalesce(col("prev"), lit(0L)) + col("d")).as("now"),
          coalesce(col("prev"), lit(0L)).as("prev"))
      val (fNext, fNextRelease) = Iterative.cutLineageReleasable(
        baseDeg.join(hinted(crossed, fCount * (k - 1).max(1)), Seq("node"))
          .filter(col("deg") - col("now") < k && col("deg") - col("prev") >= k)
          .select("node"))
      // both new checkpoints are eager, so round i−1's frontier and
      // decrement blocks are dead the moment the two calls return —
      // release them NOW instead of pinning iteration-scaled storage
      // until a driver GC (the 6.4M k=4 cascade's default-heap OOM)
      frontierRelease(); decRelease()
      frontier = fNext; frontierRelease = fNextRelease
      dec = decNext; decRelease = decNextRelease
      fCount = frontier.count()
    }
    roundsOut.foreach(_.set(rounds))
    baseDeg.join(dec, Seq("node"), "left")
      .select(col("node"),
        (col("deg") - coalesce(col("dec"), lit(0L))).as("deg"))
      .filter(col("deg") >= k)
      .orderBy(col("node"))
  }

  /** The bipartite order–part edge relation, symmetric, distinct. */
  def orderPartEdges(lineitem: DataFrame): DataFrame = {
    val p = lineitem
      .select((col("l_orderkey") * 2).as("u"),
        (col("l_partkey") * 2 + 1).as("v"))
      .distinct()
    p.unionAll(p.select(col("v").as("u"), col("u").as("v")))
  }

  val kcore = QueryDef("graph_kcore",
    (s, d) => kcoreOf(orderPartEdges(Tables.lineitem(s, d)), K,
      maxRounds = Some(OracleRounds)),
    Some {
      // every e_i is referenced three times by round i+1 — without
      // MATERIALIZED, DuckDB inlines the CTE per reference and the plan
      // (and its parquet scans) grows 3^rounds ("Too many open files")
      val rounds = (1 to OracleRounds).map { i =>
        s"""d$i AS (SELECT u, COUNT(*) AS deg FROM e${i - 1} GROUP BY u),
        k$i AS MATERIALIZED (SELECT u FROM d$i WHERE deg >= $K),
        e$i AS MATERIALIZED (SELECT e.u, e.v FROM e${i - 1} e
          JOIN k$i a ON e.u = a.u JOIN k$i b ON e.v = b.u)"""
      }.mkString(",\n")
      s"""WITH p AS (SELECT DISTINCT l_orderkey * 2 AS u,
          l_partkey * 2 + 1 AS v FROM lineitem),
        e0 AS MATERIALIZED (SELECT u, v FROM p
          UNION ALL SELECT v AS u, u AS v FROM p),
        $rounds
        SELECT u AS node, COUNT(*) AS deg FROM e$OracleRounds
        GROUP BY u ORDER BY node"""
    },
    // driver-loop fixpoint like sssp/dedup_components
    bench = false)
}
