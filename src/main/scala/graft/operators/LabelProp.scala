package graft.operators

import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.apps.ShortestPath

/** Synchronous label propagation (Raghavan et al. 2007) over the
  * deterministic ring+skip graph — community detection as the third
  * unrolled-superstep shape beside [[PageRank]] (mass propagation) and
  * SSSP (min propagation): each round every node adopts the label with
  * the highest count among its neighbors, ties to the SMALLEST label
  * (the deterministic tie-break that makes synchronous LPA
  * engine-portable; the usual random tie-break is not).
  *
  * The per-node argmax is a pure AGGREGATION, no window: the (count,
  * label) preference order is packed into one BIGINT
  * `(MaxC − c) · 1024 + label` whose MIN is exactly (max count, then
  * min label), decoded by `% 1024` — valid while labels < 1024 (initial
  * labels are the 1000 node ids) and counts < MaxC (counts are bounded
  * by node degree, ≤ 6 here; the encode asserts nothing silently
  * because a violation would need degree ≥ 100000). Each round is one
  * shuffle keyed by dst (neighbor-label join) and one by (src, label)
  * then src — the same per-round shuffle budget as PageRank; 5 unrolled
  * rounds in ONE declarative plan, no driver state, no lineage cut
  * (PageRank's measured lesson at this depth). The DuckDB oracle chains
  * the rounds as CTEs, each referenced once so the plan stays linear.
  */
object LabelProp {

  val N = 1000L
  val Rounds = 5
  val MaxC = 100000L

  def all: Seq[QueryDef] = Seq(labelProp, modularity)

  /** Hybrid cutover (r17; [[graft.core.Hybrid]]) — PageRank's pattern
    * applied to LPA: up to [[PageRank.LocalNodes]] nodes the 5 rounds
    * run as a driver loop over the collected edge relation (the bench
    * graph is 1000 nodes / ~6 k directed edges; the unrolled
    * distributed plan costs ~2 s of per-stage scheduling + plan-build
    * for milliseconds of work — the measured PageRank decomposition,
    * OPTIMIZATION_r17.md). Integer label encoding is exact, so the two
    * paths are bit-identical BY CONSTRUCTION; HybridEquivalenceSpec pins
    * them against each other and the DuckDB oracle hashes every label. */
  private def useLocal(s: org.apache.spark.sql.SparkSession): Boolean =
    graft.core.Hybrid.local(s, PageRank.LocalNodes)(N)

  /** Directed edge pairs of the shared graph — the exact local
    * generator twin ([[ShortestPath.syntheticEdgesLocal]]; r17 second
    * pass: skips the collect job entirely, same multiset by
    * construction, HybridEquivalenceSpec pins the result). */
  private def collectedEdges(s: org.apache.spark.sql.SparkSession): Array[(Int, Int)] =
    ShortestPath.syntheticEdgesLocal(N)

  /** Driver-local twin of [[graphAndLabels]]'s 5 LPA rounds: per round,
    * per (src, neighbor-label) counts, then the same packed
    * `(MaxC − c)·1024 + l` MIN per src — exact integer arithmetic,
    * identical to the aggregation spelling. */
  private def lpaLocal(es: Array[(Int, Int)]): Array[Long] = {
    val n = N.toInt
    var lab = Array.tabulate(n)(_.toLong)
    for (_ <- 1 to Rounds) {
      val cnt = new java.util.HashMap[Long, Long]()
      es.foreach { case (a, b) =>
        val key = a.toLong * 1024L + lab(b) // labels < 1024 by contract
        cnt.merge(key, 1L, _ + _)
      }
      val enc = new Array[Long](n)
      java.util.Arrays.fill(enc, Long.MaxValue)
      cnt.forEach { (key, c) =>
        val a = (key / 1024L).toInt
        val l = key % 1024L
        val e = (MaxC - c) * 1024L + l
        if (e < enc(a)) enc(a) = e
      }
      lab = Array.tabulate(n)(i =>
        if (enc(i) == Long.MaxValue) lab(i) else enc(i) % 1024L)
    }
    lab
  }

  /** The ring+skip edge relation and the 5-round LPA label assignment —
    * shared by the propagation entry and [[modularity]] so the two
    * cannot drift. */
  private def graphAndLabels(s: org.apache.spark.sql.SparkSession)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val e = ShortestPath.syntheticGraph(s, N).select(col("src"), col("dst"))
    var lab = s.range(0, N, 1, 32).select(col("id"), col("id").as("l"))
    for (_ <- 1 to Rounds) {
      lab = e
        .join(lab.withColumnRenamed("id", "nid"), col("dst") === col("nid"))
        .groupBy(col("src"), col("l")).agg(count(lit(1)).as("c"))
        .groupBy(col("src"))
        .agg(min((lit(MaxC) - col("c")) * 1024L + col("l")).as("enc"))
        .select(col("src").as("id"), (col("enc") % 1024L).as("l"))
    }
    (e, lab)
  }

  val labelProp = QueryDef("graph_label_prop",
    (s, _) =>
      if (useLocal(s)) {
        val lab = lpaLocal(collectedEdges(s))
        import s.implicits._
        s.createDataset(lab.indices.map(i => (i.toLong, lab(i))))
          .toDF("id", "l").orderBy(col("id"))
      } else graphAndLabels(s)._2.orderBy(col("id")),
    Some(s"""WITH $lpaCtesSql
        SELECT id, l FROM lab$Rounds ORDER BY id"""))

  /** Shared DuckDB CTE prefix: graph + 5 LPA rounds (generated from the
    * same constants as the Spark loop). */
  private def lpaCtesSql: String = {
    val rounds = (1 to Rounds).map { k =>
      s"""nl$k AS (SELECT e.src, p.l, COUNT(*) AS c
          FROM e JOIN lab${k - 1} p ON p.id = e.dst GROUP BY 1, 2),
        lab$k AS (SELECT src AS id,
          MIN(($MaxC - c) * 1024 + l) % 1024 AS l FROM nl$k GROUP BY 1)"""
    }.mkString(",\n")
    s"""ids AS (SELECT range AS id FROM range($N)),
        base AS (
          SELECT id AS src, (id + 1) % $N AS dst FROM ids
          UNION ALL
          SELECT id, (id * 7 + 11) % $N FROM ids),
        e AS (
          SELECT src, dst FROM base WHERE src <> dst
          UNION ALL
          SELECT dst AS src, src AS dst FROM base WHERE src <> dst),
        lab0 AS (SELECT id, id AS l FROM ids),
        $rounds"""
  }

  /** Newman modularity, decomposed per community — the quality metric
    * for [[labelProp]]'s assignment (are the detected communities
    * denser inside than a degree-preserving random graph predicts).
    * Over the doubled (directed-representation) edge relation with
    * M = 2m edge-ends: q_c = L_c/M − (D_c/M)², emitted as ONE exact
    * division per community — (L_c·M − D_c²)/M² on DECIMAL(38,0)
    * products, so there is no order-dependent float total (the χ²/MI
    * per-cell convention; a reader sums the ≤#communities terms).
    *
    * Plan: the label relation joins both edge endpoints (two hash
    * joins), internal edges and degree sums are key-partitioned aggs,
    * M is a 1-row broadcast. Nothing beyond the LPA rounds is
    * superstep-shaped. */
  val modularity = QueryDef("graph_modularity",
    (s, _) => if (useLocal(s)) {
      // driver-local twin of the aggregation plan below — all products
      // stay < 2^53, so the DECIMAL(38,0)→DOUBLE casts and this exact
      // long arithmetic produce identical doubles (HybridEquivalenceSpec
      // pins the equality row by row)
      val es = collectedEdges(s)
      val lab = lpaLocal(es)
      val m = es.length.toLong
      val internal = new java.util.HashMap[Long, Long]()
      val dg = new Array[Long](N.toInt)
      es.foreach { case (a, b) =>
        dg(a) += 1
        if (lab(a) == lab(b)) internal.merge(lab(a), 1L, _ + _)
      }
      val nNodes = new java.util.HashMap[Long, Long]()
      val degSum = new java.util.HashMap[Long, Long]()
      dg.indices.foreach { i =>
        if (dg(i) > 0) {
          nNodes.merge(lab(i), 1L, _ + _)
          degSum.merge(lab(i), dg(i), _ + _)
        }
      }
      val rows = nNodes.keySet().toArray(Array.empty[java.lang.Long])
        .map(_.longValue()).sorted.map { c =>
          val ie = internal.getOrDefault(c, 0L)
          val ds = degSum.get(c)
          (c, nNodes.get(c), ie, ds,
            (ie * m - ds * ds).toDouble / (m * m).toDouble)
        }.toSeq
      import s.implicits._
      s.createDataset(rows).toDF("community", "n_nodes",
        "internal_edges", "degree_sum", "q_term").orderBy(col("community"))
    } else {
      val (e, lab) = graphAndLabels(s)
      val lsrc = lab.select(col("id").as("src"), col("l").as("ls"))
      val ldst = lab.select(col("id").as("dst"), col("l").as("ld"))
      val m = e.agg(count(lit(1)).as("m"))
      val internal = e.join(lsrc, "src").join(ldst, "dst")
        .filter(col("ls") === col("ld"))
        .groupBy(col("ls").as("community"))
        .agg(count(lit(1)).as("internal_edges"))
      val comm = e.groupBy(col("src")).agg(count(lit(1)).as("dg"))
        .join(lsrc, "src")
        .groupBy(col("ls").as("community"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("dg")).as("degree_sum"))
      comm.join(internal, Seq("community"), "left")
        .na.fill(0L, Seq("internal_edges"))
        .crossJoin(broadcast(m))
        .select(col("community"), col("n_nodes"), col("internal_edges"),
          col("degree_sum"),
          ((col("internal_edges").cast("decimal(38,0)") * col("m") -
            col("degree_sum").cast("decimal(38,0)") * col("degree_sum"))
            .cast("double") /
            (col("m").cast("decimal(38,0)") * col("m")).cast("double"))
            .as("q_term"))
        .orderBy(col("community"))
    },
    Some(s"""WITH $lpaCtesSql,
        m AS (SELECT COUNT(*) AS m FROM e),
        internal AS (SELECT s.l AS community, COUNT(*) AS internal_edges
          FROM e JOIN lab$Rounds s ON s.id = e.src
          JOIN lab$Rounds t ON t.id = e.dst
          WHERE s.l = t.l GROUP BY 1),
        deg AS (SELECT src, COUNT(*) AS dg FROM e GROUP BY 1),
        comm AS (SELECT s.l AS community, COUNT(*) AS n_nodes,
            CAST(SUM(dg) AS BIGINT) AS degree_sum
          FROM deg JOIN lab$Rounds s ON s.id = deg.src GROUP BY 1)
        SELECT c.community, c.n_nodes,
          CAST(COALESCE(i.internal_edges, 0) AS BIGINT) AS internal_edges,
          c.degree_sum,
          CAST(CAST(COALESCE(i.internal_edges, 0) AS DECIMAL(38,0)) * m -
            CAST(c.degree_sum AS DECIMAL(38,0)) * c.degree_sum AS DOUBLE) /
            CAST(CAST(m AS DECIMAL(38,0)) * m AS DOUBLE) AS q_term
        FROM comm c LEFT JOIN internal i USING (community) CROSS JOIN m
        ORDER BY community"""))
}
