package graft

import graft.operators.KCore
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** k-core peeling: serial-model parity, cascade behavior, and the
  * oracle-bound convergence assertion (the unrolled DuckDB oracle is
  * only valid while the fixpoint lands inside OracleRounds). */
class KCoreSpec extends SparkSpec {
  import spark.implicits._

  /** Serial synchronous peel: each round deletes every alive node whose
    * residual degree (edges to alive nodes) is below k. Returns the core's
    * residual degrees and the number of rounds that deleted a node. */
  private def serialPeel(edges: Set[(Long, Long)], k: Int)
      : (Map[Long, Int], Int) = {
    var alive = edges.map(_._1)
    def deg: Map[Long, Int] = alive.iterator.map(u => u -> 0).toMap ++
      edges.filter { case (u, v) => alive(u) && alive(v) }
        .groupBy(_._1).map { case (u, es) => u -> es.size }
    var rounds = 0
    var dying = deg.filter(_._2 < k).keySet
    while (dying.nonEmpty) {
      rounds += 1
      alive --= dying
      dying = deg.filter(_._2 < k).keySet
    }
    (deg, rounds)
  }

  /** `kcoreOf` as a node→deg map, with its round count. */
  private def peel(edges: Set[(Long, Long)], k: Int): (Map[Long, Int], Int) = {
    val rounds = new java.util.concurrent.atomic.AtomicInteger(-1)
    val got = KCore.kcoreOf(edges.toSeq.toDF("u", "v"), k, Some(rounds))
      .collect().map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    (got, rounds.get)
  }

  private def symmetric(es: Seq[(Long, Long)]): Set[(Long, Long)] =
    es.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet

  /** A path over `n` nodes: with k = 2 each round peels its two ends. */
  private def path(n: Int): Set[(Long, Long)] =
    symmetric((0L until n - 1L).map(i => (i, i + 1)))

  test("kcore matches serial peeling on a random graph, including a real cascade") {
    val rnd = new scala.util.Random(19)
    val base = Seq.fill(250)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }.distinct
    // a pendant chain whose removal must cascade: 100-101-102-103 each
    // hangs off the graph with degree < k once its child is peeled
    val chain = Seq((100L, 101L), (101L, 102L), (102L, 103L), (100L, 0L))
    val sym = symmetric(base ++ chain)
    val (got, rounds) = peel(sym, 3)
    val (want, wantRounds) = serialPeel(sym, 3)
    assert(got == want)
    assert(rounds == wantRounds)
    // the chain is gone (cascaded), and the 3-core is nonempty
    assert(!got.contains(101L) && !got.contains(102L) && !got.contains(103L))
    assert(got.nonEmpty)
  }

  test("a path peels two ends per round, as many rounds as a serial peel") {
    val (got, rounds) = peel(path(24), 2)
    assert(got.isEmpty)
    assert(rounds == serialPeel(path(24), 2)._2 && rounds == 12)
  }

  test("an empty edge set peels to an empty core in no rounds") {
    assert(peel(Set.empty, 3) == ((Map.empty, 0)))
  }

  test("k above every degree empties the core in one round") {
    assert(peel(path(24), 3) == ((Map.empty, 1)))
  }

  test("result schema: long node and deg, node as nullable as the input's u") {
    val df = path(4).toSeq.toDF("u", "v")
    for (in <- Seq(df, df.select(when(col("u") >= 0, col("u")).as("u"), col("v")))) {
      val nullable = in.schema("u").nullable
      assert(KCore.kcoreOf(in, 2).schema ==
        StructType(Seq(StructField("node", LongType, nullable),
          StructField("deg", LongType, nullable = false))), s"nullable u: $nullable")
    }
  }

  test("every job of a peel is described graft:kcore/index or graft:kcore/batch-<n>") {
    val rounds = new java.util.concurrent.atomic.AtomicInteger(-1)
    val (core, descs) = describedJobs(
      KCore.kcoreOf(path(8).toSeq.toDF("u", "v"), 2, Some(rounds)))
    assert(core.isEmpty && rounds.get == 4)
    assert(descs.count(_ == "graft:kcore/index") == 1, descs)
    assert(descs.count(_.startsWith("graft:kcore/batch-")) == rounds.get, descs)
    assert(descs.forall(d => d == "graft:kcore/index" ||
      d.matches("graft:kcore/batch-[1-9][0-9]*")), descs)
  }

  test("a peel's storage does not grow with its round count") {
    // each batch releases its predecessor's state, so what a collected
    // peel leaves persisted is the same on 2 rounds as on 12
    val sc = spark.sparkContext
    def retained(n: Int): (Int, Int) = {
      val mark = sc.emptyRDD[Int].id
      val (got, rounds) = peel(path(n), 2)
      assert(got.isEmpty)
      (sc.getPersistentRDDs.keys.count(_ > mark), rounds)
    }
    val (short, r2) = retained(4)
    val (long, r12) = retained(24)
    assert(r2 == 2 && r12 == 12)
    assert(short == long && short <= 2, s"persisted RDDs: $short vs $long")
  }

  test("catalog graph converges well inside the oracle's unrolled bound") {
    // sf0.1 included so the unrolled-oracle validity is machine-checked
    // at every tier the driver ever verifies or benches, not argued from
    // the smaller corpora's round counts
    Seq("sf0.001", "sf0.01", "sf0.1").foreach { sfn =>
      val rounds = new java.util.concurrent.atomic.AtomicInteger(-1)
      val out = KCore.kcoreOf(
        KCore.orderPartEdges(Tables.lineitem(spark, sf(sfn))), KCore.K,
        Some(rounds))
      val n = out.count()
      assert(n > 0, s"$sfn: 4-core should be nonempty")
      assert(rounds.get > 0 && rounds.get <= KCore.OracleRounds - 2,
        s"$sfn: converged in ${rounds.get} rounds; oracle unrolls " +
          s"${KCore.OracleRounds} — need headroom")
      // every survivor really has >= K surviving neighbors
      assert(out.filter(col("deg") < KCore.K).isEmpty)
    }
  }

  test("tree closure: pointer-jumping depths match a serial parent-chain walk") {
    val d = sf("sf0.001")
    val got = graft.operators.Hierarchy.treeClosure.fn(spark, d)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = Tables.customer(spark, d).count()
    assert(got.size == n)
    def parent(k: Long): Long =
      if (k == 0) 0L else ((k * 2654435761L) % 1000000007L) % k
    def serialDepth(k: Long): Long = {
      var x = k; var depth = 0L
      while (x != 0) { x = parent(x); depth += 1 }
      depth
    }
    got.foreach { case (node, depth) =>
      assert(depth == serialDepth(node), s"node $node")
    }
    // the random-attachment tree is genuinely deep-ish (log-depth claim)
    val maxDepth = got.values.max
    assert(maxDepth >= 4 && maxDepth <= 64, s"depth $maxDepth")
  }
}
