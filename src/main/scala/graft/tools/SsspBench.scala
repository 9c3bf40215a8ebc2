package graft.tools

import org.apache.spark.sql.functions._
import graft.Local
import graft.apps.ShortestPath

/** Timing harness for the iterative SSSP app on the reference's syn.graph
  * (18,263 nodes / 23,797 undirected edges — its own scale workload), or
  * with `--plaw=N` on the HEAVY-TAILED synthetic
  * ([[graft.operators.Triangles.powerLawEdges]], hub degree Θ(n/2)) —
  * syn.graph is near-uniform-degree, so only the power-law runs exercise
  * the skewed-frontier regime the k-level min-reduce is designed for
  * (r12 verdict item 7). Power-law weights are deterministic integers
  * 1 + (src+dst) mod 7, so the Dijkstra parity audit's exact-== argument
  * holds (equal-length integer paths sum identically in double).
  * `sbt "runMain graft.tools.SsspBench [path] [--distributed] [--k=K]
  *   [--plaw=N]"` */
object SsspBench {
  def main(args: Array[String]): Unit = {
    val path = args.filterNot(_.startsWith("--")).headOption.getOrElse(
      "/root/reference/sample_apps/shortest_path/syn.graph")
    val spark = Local.session()
    val plawN = args.collectFirst { case a if a.startsWith("--plaw=") =>
      a.stripPrefix("--plaw=").toLong }
    // --synth=N: the ring+skip graph the CATALOGED `sssp_synthetic`
    // entry solves — the batch-depth A/B for its bench cost runs here
    val synthN = args.collectFirst { case a if a.startsWith("--synth=") =>
      a.stripPrefix("--synth=").toLong }
    val edges = (plawN, synthN) match {
      case (Some(n), _) =>
        val simple = graft.operators.Triangles.powerLawEdges(spark, n)
          .withColumn("weight",
            (lit(1L) + (col("a") + col("b")) % 7L).cast("double"))
        ShortestPath.undirect(simple
          .select(col("a").as("src"), col("b").as("dst"), col("weight")))
          .localCheckpoint() // materialize the generator once, like a scan
      case (None, Some(n)) => ShortestPath.syntheticGraph(spark, n)
      case _ => ShortestPath.loadGraph(spark, path)
    }
    println(s"edges: ${edges.count()}")
    val distributed = args.contains("--distributed")
    val k = args.collectFirst { case a if a.startsWith("--k=") =>
      a.stripPrefix("--k=").toInt }.getOrElse(8)
    val t0 = System.nanoTime()
    val dist =
      if (distributed) ShortestPath.distributedSssp(edges, 0L, batchLevels = k)
      else ShortestPath.sssp(edges, 0L)
    val n = dist.count()
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"SSSP_RESULT nodes=$n time=$secs%.1fs distributed=$distributed k=$k")
    // Dijkstra parity audit (the reference's serial solve,
    // main.cpp:108-140). Driver-side by nature, so only run it where the
    // serial oracle itself is feasible; on integer-weight graphs (the
    // reference's format) equal-length paths sum identically in double,
    // so exact == is sound — a tolerance would mask real regressions.
    val edgeCount = edges.count()
    if (edgeCount <= 5000000L) {
      val got = dist.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val es = edges.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val want = ShortestPath.dijkstra(es, 0L)
      val keys = (got.keySet ++ want.keySet).toSeq.sorted
      val bad = keys.filter(k => got.get(k) != want.get(k))
      println(s"SSSP_PARITY mismatches=${bad.size} of ${keys.size}")
      bad.take(20).foreach(k =>
        println(s"  node=$k distributed=${got.get(k)} dijkstra=${want.get(k)}"))
    } else
      println(s"SSSP_PARITY skipped: $edgeCount edges exceeds the " +
        "serial-oracle audit bound (5M)")
    dist.orderBy(col("node")).show(5)
    spark.stop()
  }
}
