package graft

import graft.apps.ShortestPath
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import scala.util.Random

/** SSSP parity with the serial Dijkstra oracle — the reference's own
  * correctness method (shortest_path/main.cpp:108-140,200-206). */
class ShortestPathSpec extends SparkSpec {
  import spark.implicits._

  /** The reference's small.graph (FIXTURES.md §A2): 10 nodes, 6 directed
    * lines, undirected semantics, duplicate/parallel edges kept. */
  val smallGraph: Seq[(Long, Long, Double)] = Seq(
    (2L, 0L, 1.0), (2L, 0L, 10.0), (4L, 0L, 1.0),
    (4L, 0L, 1.0), (7L, 0L, 14.0), (8L, 0L, 9.0))

  def undirected(es: Seq[(Long, Long, Double)]): Seq[(Long, Long, Double)] =
    es ++ es.map(e => (e._2, e._1, e._3))

  test("sssp on small.graph matches Dijkstra") {
    val edges = ShortestPath.undirect(
      smallGraph.toDF("src", "dst", "weight"))
    val got = ShortestPath.distributedSssp(edges, 0L).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = ShortestPath.dijkstra(undirected(smallGraph), 0L)
    assert(got == want)
    // hand-checkable goldens: 0->2 via weight-1 edge, 0->4 via weight-1 edge
    assert(got(2L) == 1.0 && got(4L) == 1.0 && got(7L) == 14.0 && got(8L) == 9.0)
  }

  /** Three random undirected multigraphs (30–90 nodes, integer weights,
    * parallel edges possible) that take several batches to solve. */
  def randomGraphs: Seq[Seq[(Long, Long, Double)]] = {
    val rnd = new Random(42)
    (1 to 3).map { trial =>
      val n = 30 + trial * 20
      (1 to n * 3).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong,
          (rnd.nextInt(20) + 1).toDouble)
      }.filter(e => e._1 != e._2)
    }
  }

  /** `distributedSssp` over directed `es` as a node→dist map. */
  def solve(es: Seq[(Long, Long, Double)], source: Long,
      batchLevels: Int = 8): Map[Long, Double] =
    ShortestPath.distributedSssp(es.toDF("src", "dst", "weight"), source,
      batchLevels).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("sssp on random graphs matches Dijkstra (multi-superstep)") {
    for ((es, trial) <- randomGraphs.zipWithIndex) {
      val got = solve(undirected(es), 0L)
      assert(got == ShortestPath.dijkstra(undirected(es), 0L), s"trial $trial")
    }
  }

  test("sssp matches Dijkstra at batch depths 1, 3 and 16") {
    for ((es, trial) <- randomGraphs.zipWithIndex; k <- Seq(1, 3, 16)) {
      val got = solve(undirected(es), 0L, batchLevels = k)
      assert(got == ShortestPath.dijkstra(undirected(es), 0L),
        s"trial $trial, batchLevels $k")
    }
  }

  test("a source without out-edges, or absent from the edges, reaches only itself") {
    // directed: 0 has in-edges only; 99 appears nowhere
    val es = Seq((1L, 0L, 2.0), (2L, 1L, 3.0), (1L, 2L, 1.0))
    for (source <- Seq(0L, 99L)) {
      assert(solve(es, source) == Map(source -> 0.0), s"source $source")
      assert(ShortestPath.dijkstra(es, source) == Map(source -> 0.0))
    }
  }

  test("nodes of an unreachable component are absent from the result") {
    val es = undirected(Seq((0L, 1L, 4.0), (1L, 2L, 1.0), (0L, 2L, 7.0),
      (10L, 11L, 1.0), (11L, 12L, 2.0)))
    val got = solve(es, 0L)
    assert(got == ShortestPath.dijkstra(es, 0L))
    assert(got == Map(0L -> 0.0, 1L -> 4.0, 2L -> 5.0))
  }

  test("parallel edges of different weights take the lightest") {
    val es = undirected(Seq((0L, 1L, 9.0), (0L, 1L, 2.0), (0L, 1L, 5.0),
      (1L, 2L, 3.0), (1L, 2L, 1.0), (0L, 2L, 4.0)))
    val got = solve(es, 0L)
    assert(got == ShortestPath.dijkstra(es, 0L))
    assert(got == Map(0L -> 0.0, 1L -> 2.0, 2L -> 3.0))
  }

  test("sssp result schema: nullable long node, nullable double dist") {
    val edges = undirected(smallGraph).toDF("src", "dst", "weight")
    assert(ShortestPath.distributedSssp(edges, 0L).schema == StructType(Seq(
      StructField("node", LongType, nullable = true),
      StructField("dist", DoubleType, nullable = true))))
  }

  test("every job of a solve is described graft:sssp/index or graft:sssp/batch-<n>") {
    val es = undirected(randomGraphs.head)
    val edges = es.toDF("src", "dst", "weight")
    val (dist, descs) = describedJobs {
      val d = ShortestPath.distributedSssp(edges, 0L)
      assert(spark.sparkContext.getLocalProperty("spark.job.description") == "caller",
        "the caller's job description must be restored")
      d
    }
    assert(dist.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap ==
      ShortestPath.dijkstra(es, 0L))
    assert(descs.count(_ == "graft:sssp/index") == 1, descs)
    assert(descs.count(_.startsWith("graft:sssp/batch-")) >= 2, descs)
    assert(descs.forall(d => d == "graft:sssp/index" ||
      d.matches("graft:sssp/batch-[1-9][0-9]*")), descs)
  }

  test("synthetic graph sssp reaches all nodes") {
    val edges = ShortestPath.syntheticGraph(spark, 200L)
    val got = ShortestPath.distributedSssp(edges, 0L)
    assert(got.count() == 200L)
    assert(got.filter(col("node") === 0L).head().getDouble(1) == 0.0)
  }

  test("reference syn.graph end-to-end: loadGraph -> sssp matches Dijkstra") {
    // the reference's real workload (main.cpp:169,180-188): 18,263 nodes /
    // 23,797 undirected edges, integer weights (so every path sum is exact
    // in double and full == parity with the serial oracle is sound).
    // sssp() solves this size via the documented local cutover; the fully
    // distributed path's parity + timing on this same graph is the
    // SsspBench --distributed run recorded in BASELINE.md (about 22 s on
    // a 4-core box — too slow for CI, not wrong; distributedSssp parity
    // is covered on multi-batch graphs above).
    val path = getClass.getResource("/syn.graph").getPath
    val edges = ShortestPath.loadGraph(spark, path)
    assert(edges.count() == 2L * 23797)
    val es = edges.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val want = ShortestPath.dijkstra(es, 0L)
    val got = ShortestPath.sssp(edges, 0L).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.size == 18263, "syn.graph is connected — all nodes reached")
    assert(got == want)
  }

  test("superstep state cut resets inherited stats (the syn.graph overflow guard)") {
    // localCheckpoint alone inherits the pre-checkpoint plan's
    // join-PRODUCT size estimate, which compounds doubly-exponentially
    // across supersteps until the BigInt overflows (died at superstep
    // ~280 on syn.graph). cutLineage must keep the estimate at the
    // flat per-relation default, superstep after superstep.
    import spark.implicits._
    var df = graft.core.Iterative.cutLineage(
      Seq((1L, 1.0), (2L, 2.0)).toDF("node", "dist"))
    val bound = BigInt(Long.MaxValue) * BigInt(Long.MaxValue) * BigInt(16)
    for (_ <- 0 until 5) {
      val joined = df.as("a").join(df.as("b"), "node")
        .select(col("node"), (col("a.dist") + col("b.dist")).as("dist"))
      df = graft.core.Iterative.cutLineage(joined)
      val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
      assert(est <= bound,
        s"stats estimate compounding across supersteps again: $est")
    }
  }

  test("text graph loader parses header and triples, undirected") {
    val tmp = tempDir("graph")
    val f = s"$tmp/g.txt"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(f),
      "3 2\n0 1 5.0\n1 2 7.0\n")
    val edges = ShortestPath.loadGraph(spark, f)
    assert(edges.count() == 4) // 2 edges × both directions
    val got = ShortestPath.sssp(edges, 0L).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(0L -> 0.0, 1L -> 5.0, 2L -> 12.0))
  }
}
