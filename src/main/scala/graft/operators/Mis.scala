package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.apps.ShortestPath
import graft.core.{Cuts, Iterative}

/** Maximal independent set by Luby's algorithm (Luby 1986) over the
  * deterministic ring+skip graph — the SELECTION superstep shape
  * rounding out the graph suite (PageRank propagates mass, SSSP
  * propagates minima, k-core deletes monotonically, LPA votes; MIS
  * selects a conflict-free node set in parallel rounds). MIS is the
  * building block distributed graph coloring, scheduling, and
  * correlation-clustering pivots reduce to.
  *
  * Each round every alive node draws a priority from a ROUND-SALTED
  * multiplicative hash (deterministic — so engine-portable and oracle-
  * unrollable — yet independent across rounds, which is what gives
  * Luby's O(log n) expected rounds; a FIXED priority order would be the
  * greedy lexicographic MIS whose worst case is O(n) sequential rounds
  * on monotone chains). A node joins the MIS when its priority is
  * STRICTLY below every alive neighbor's (hash ties select neither side
  * — safe, just slower; with this hash none occur on this graph);
  * winners and their neighbors leave the alive set.
  *
  * Scale shape: per round one join of the alive edge relation against
  * the alive priority relation + a min-per-node aggregate — all keyed
  * shuffles, frontier-pruned by the alive semi-joins; state is the
  * alive set and the accumulated MIS (node lists, never edges), with
  * [[Iterative.cutLineage]] on both per round (unbounded round count).
  * The DuckDB oracle unrolls [[MisRounds]] rounds as MATERIALIZED CTEs
  * (each alive relation is referenced four times per round —
  * un-materialized they inline 4^rounds); the loop aborts loudly if a
  * graph outruns the unrolled bound, and MisSpec asserts convergence
  * headroom plus serial independence/maximality. */
object Mis {

  val N = 1000L
  /** Unrolled-oracle round bound; the driver loop requires convergence
    * inside it (measured: 7 rounds on the ring+skip graph — Luby's
    * log-ish expectation; the spec asserts ≥ 2 rounds of headroom). */
  val MisRounds = 12

  def all: Seq[QueryDef] = Seq(mis)

  /** Round-salted deterministic priority. */
  private def prioExpr(idCol: String, round: Int): String =
    s"(($idCol + ${131L * round}) * 2654435761) % 1000000007"

  def misOf(edgesIn: DataFrame, n: Long, maxRounds: Int): DataFrame = {
    val s = edgesIn.sparkSession
    val edges = Cuts.cut(edgesIn.select(col("src"), col("dst")))
    var alive = Iterative.cutLineage(
      s.range(0, n, 1, 32).select(col("id")))
    var mis = alive.limit(0)
    var rounds = 0
    var aliveCount = alive.count()
    while (aliveCount > 0) {
      rounds += 1
      require(rounds <= maxRounds,
        s"MIS exceeded $maxRounds rounds — unrolled oracle invalid")
      val p = alive.select(col("id"),
        expr(prioExpr("id", rounds)).as("p"))
      // min alive-neighbor priority per alive node (edges restricted to
      // alive endpoints by the two joins)
      val mn = edges
        .join(p.select(col("id").as("dst"), col("p").as("dp")), Seq("dst"))
        .join(p.select(col("id").as("src")), Seq("src"))
        .groupBy(col("src")).agg(min(col("dp")).as("mn"))
      val sel = Iterative.cutLineage(
        p.join(mn.select(col("src").as("id"), col("mn")), Seq("id"), "left")
          .filter(col("mn").isNull || col("p") < col("mn"))
          .select(col("id")))
      val selNbr = edges
        .join(sel.select(col("id").as("src")), Seq("src"))
        .select(col("dst").as("id")).distinct()
      mis = Iterative.cutLineage(mis.unionAll(sel))
      alive = Iterative.cutLineage(
        alive.join(sel.unionAll(selNbr).distinct(), Seq("id"), "left_anti"))
      aliveCount = alive.count()
    }
    mis.orderBy(col("id"))
  }

  val mis = QueryDef("graph_mis",
    (s, _) => misOf(
      ShortestPath.syntheticGraph(s, N).select(col("src"), col("dst")),
      N, MisRounds),
    Some {
      val rounds = (1 to MisRounds).map { k =>
        s"""p$k AS MATERIALIZED (SELECT id, ${prioExpr("id", k)} AS p
          FROM alive${k - 1}),
        mn$k AS MATERIALIZED (SELECT e.src, MIN(pd.p) AS mn
          FROM e
          JOIN p$k pd ON pd.id = e.dst
          JOIN p$k ps ON ps.id = e.src
          GROUP BY e.src),
        sel$k AS MATERIALIZED (SELECT p.id FROM p$k p
          LEFT JOIN mn$k m ON m.src = p.id
          WHERE m.mn IS NULL OR p.p < m.mn),
        alive$k AS MATERIALIZED (SELECT a.id FROM alive${k - 1} a
          WHERE a.id NOT IN (SELECT id FROM sel$k)
            AND a.id NOT IN (SELECT e.dst FROM e
              JOIN sel$k s ON s.id = e.src)),
        mis$k AS MATERIALIZED (
          SELECT id FROM mis${k - 1} UNION ALL SELECT id FROM sel$k)"""
      }.mkString(",\n")
      s"""WITH ids AS (SELECT range AS id FROM range($N)),
        base AS (
          SELECT id AS src, (id + 1) % $N AS dst FROM ids
          UNION ALL
          SELECT id, (id * 7 + 11) % $N FROM ids),
        e AS MATERIALIZED (
          SELECT src, dst FROM base WHERE src <> dst
          UNION ALL
          SELECT dst AS src, src AS dst FROM base WHERE src <> dst),
        alive0 AS (SELECT id FROM ids),
        mis0 AS (SELECT id FROM ids WHERE 1 = 0),
        $rounds
        SELECT id FROM mis$MisRounds ORDER BY id"""
    },
    // driver fixpoint loop, like sssp/kcore
    bench = false)
}
