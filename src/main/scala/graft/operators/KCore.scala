package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import scala.collection.mutable.LongMap
import graft.{QueryDef, Tables}
import graft.core.{Csr, Superstep}

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
  * Fixpoint discipline: the peel is a program for
  * [[graft.core.Superstep]], the engine SSSP also runs. A node's state is
  * its residual degree, seeded with its out-degree off its CSR row; each
  * round every dying node sends 1 along each of its edges, the messages
  * sum per node, and a node dies the round its residual degree crosses
  * below k. Peeling is confluent (the k-core is unique), so batching all
  * sub-k deletions per round is safe.
  *
  * The DuckDB oracle unrolls [[OracleRounds]] peel rounds into chained
  * CTEs — an upper bound on the rounds any test corpus needs (the spec
  * asserts the loop converges well inside it; extra unrolled rounds are
  * no-ops at fixpoint, so entry == oracle exactly).
  *
  * Scale stance: the edges are indexed once per solve; each round reads
  * only the dying nodes' CSR rows and shuffles one summed decrement per
  * touched node. The round count is the cascade depth, observed
  * single-digit on all tiers. At 100 TB this is the standard distributed
  * k-core recipe (Montresor et al.'s message-passing peeling, under BSP).
  */
object KCore {

  val K = 4

  /** Upper bound on peel rounds unrolled in the oracle; the driver loop
    * itself runs to TRUE fixpoint and KCoreSpec asserts convergence
    * within this bound (measured: 1 round at sf0.001, sf0.01, AND
    * sf0.1 — the order–part graph's parts are high-degree, so the
    * cascade is shallow; KCoreSpec's random-graph fixture exercises a
    * real multi-round cascade). */
  val OracleRounds = 10

  def all: Seq[QueryDef] = Seq(kcore)

  /** Peel `edges` (symmetric `(u, v)`) to the k-core; returns surviving
    * `(node, deg)`. Also reports the round count through `roundsOut`
    * for the convergence assertion in KCoreSpec.
    *
    * One peel round is one engine batch of one level: decrements add up,
    * so they cannot be guarded against the batch-start state the way a
    * min can. A node is active the round its residual degree crosses
    * below k (`old ≥ k && new < k`): decrements are monotone, so a node
    * crosses exactly once, and decrements into nodes already dead fail
    * the `old ≥ k` half.
    *
    * `maxRounds`: fail-loudly bound. The catalog entry passes
    * [[OracleRounds]] so any corpus whose cascade outruns the unrolled
    * DuckDB oracle aborts instead of silently diverging from it
    * (KCoreSpec asserts headroom at sf0.001/sf0.01/sf0.1). Peeling always
    * terminates, so the bound is checked once the loop ends. */
  def kcoreOf(edges: DataFrame, k: Int,
      roundsOut: Option[java.util.concurrent.atomic.AtomicInteger] = None,
      maxRounds: Option[Int] = None)
      : DataFrame = {
    val (core, rounds) = Superstep.run("kcore",
      edges.select(col("u").as("src"), col("v").as("dst"), lit(1.0).as("weight")),
      new Superstep.Program[Long, Long] {
        def zero = 0L
        def seed(csr: Csr, home: Long => Boolean) = {
          val deg = LongMap.from(csr.degrees)
          (deg, deg.iterator.filter(_._2 < k).toArray)
        }
        def send(deg: Long, dst: Long, w: Double) = 1L
        def combine(a: Long, b: Long) = a + b
        def merge(deg: Long, m: Long) = deg - m
        def activated(old: Long, now: Long) = old >= k && now < k
      }, 1, StructType(Seq(
        StructField("node", LongType, edges.schema("u").nullable),
        StructField("deg", LongType, nullable = false))))
    roundsOut.foreach(_.set(rounds))
    maxRounds.foreach { m =>
      require(rounds <= m,
        s"k-core cascade exceeded $m rounds — unrolled oracle invalid")
    }
    core.filter(col("deg") >= k).orderBy(col("node"))
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
