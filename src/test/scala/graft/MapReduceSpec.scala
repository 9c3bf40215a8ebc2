package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import graft.core.{MapReduce, MapReduceJob}
import graft.apps.NumberCount
import scala.util.Random

/** Properties of the MapReduce layer (SURVEY.md §5): the generic full-list
  * reduce path must agree with Spark's native aggregation and with the
  * uncombined spelling that shuffles every pair, the Aggregator fast path
  * must agree with a serial fold, and both must combine each map task's
  * pairs before the shuffle. Property-style trials use seeded generators
  * (scalatestplus bridge unavailable offline). */
class MapReduceSpec extends SparkSpec {
  import spark.implicits._
  import MapReduceSpec._

  /** MapReduce.run without the per-task combine: every emitted pair
    * crosses the shuffle and `groupByKey` groups them. The reference the
    * combining path is checked against. */
  private def shuffleAll[I, K, V, O](ds: Dataset[I], job: MapReduceJob[I, K, V, O])(
      implicit kv: Encoder[(K, V)], k: Encoder[K], ko: Encoder[(K, O)]): Dataset[(K, O)] =
    ds.flatMap(job.map(_))
      .groupByKey(_._1)
      .flatMapGroups((key: K, it: Iterator[(K, V)]) =>
        job.reduce(key, it.map(_._2)).iterator.map((key, _)))

  /** Asserts that `run` and `shuffleAll` give the same groups: one output
    * row per group, keys shown by `show` and values as a sorted list. */
  private def assertSameGroups[K, V](pairs: Dataset[(K, V)], show: K => String)(
      implicit kv: Encoder[(K, V)], k: Encoder[K],
      ko: Encoder[(K, Seq[V])]): Seq[(String, Seq[String])] = {
    def groups(out: Dataset[(K, Seq[V])]) = out.collect().toSeq
      .map { case (key, vs) => (show(key), vs.map(String.valueOf).sorted) }
      .sortBy { case (key, vs) => (key, vs.mkString(",")) }
    val want = groups(shuffleAll(pairs, listing[K, V]))
    val got = groups(MapReduce.run(pairs, listing[K, V]))
    assert(got == want)
    got
  }

  /** Shuffle records written by the jobs `body` runs, counted by a
    * listener. The bus delivers events in order, so once a marker job
    * started after `body` has ended, every task of `body` was counted. */
  private def shuffleRecords(body: => Unit): Long = {
    val sc = spark.sparkContext
    val written = new AtomicLong
    val markerJob = new AtomicInteger(-1)
    val markerDone = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m =>
          written.addAndGet(m.shuffleWriteMetrics.recordsWritten))
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(MarkerKey) != null))
          markerJob.set(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob.get) markerDone.countDown()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty(MarkerKey, "end")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(MarkerKey, null)
      assert(markerDone.await(60, TimeUnit.SECONDS), "marker job never ended")
      written.get
    } finally sc.removeSparkListener(listener)
  }

  test("MR(count) == groupBy().count() on seeded number_count data") {
    val ints = NumberCount.genInts(spark, 100000L, seed = 1000)
    val mr = NumberCount.runMapReduce(ints.select($"value").as[Int])
      .collect().toMap
    val native = NumberCount.runIdiomatic(ints)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(mr == native)
    assert(mr.values.sum == 100000L)
  }

  test("MR full-list reduce sees every value exactly once (flatMap semantics)") {
    val data = Seq((1, 2.0), (1, 3.0), (2, 5.0), (3, 7.0), (1, 11.0))
    val job = new MapReduceJob[(Int, Double), Int, Double, Double] {
      def map(in: (Int, Double)) = Iterator(in)
      def reduce(key: Int, vals: Iterator[Double]) =
        Iterator.single(vals.sum) // consumes the one-shot iterator fully
    }
    val out = MapReduce.run(data.toDS(), job).collect().toMap
    assert(out == Map(1 -> 16.0, 2 -> 5.0, 3 -> 7.0))
  }

  test("map may emit zero or many pairs per element (firebird flatMap contract)") {
    val job = new MapReduceJob[Int, Int, Int, Int] {
      def map(in: Int) = // 0 emissions for odds, 2 for evens
        if (in % 2 == 0) Iterator((in, 1), (in, 1)) else Iterator.empty
      def reduce(key: Int, vals: Iterator[Int]) = Iterator.single(vals.length)
    }
    val out = MapReduce.run((1 to 10).toDS(), job).collect().toMap
    assert(out == Map(2 -> 2, 4 -> 2, 6 -> 2, 8 -> 2, 10 -> 2))
  }

  test("runAggregated(min) == serial fold-min (property trials)") {
    val rnd = new Random(7)
    for (_ <- 1 to 5) {
      val xs = List.fill(1 + rnd.nextInt(500))(
        (rnd.nextInt(20), rnd.nextDouble() * 100 - 50))
      val ds = xs.toDS()
      val got = MapReduce.runAggregated[(Int, Double), Int, Double, Double](
        ds, p => Iterator(p), MapReduce.minAgg).collect().toMap
      val want = xs.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
      assert(got == want)
    }
  }

  test("runAggregated(count) == groupBy size (property trials)") {
    val rnd = new Random(11)
    for (_ <- 1 to 5) {
      val xs = List.fill(1 + rnd.nextInt(500))(rnd.nextInt(30))
      val got = MapReduce.runAggregated[Int, Int, Int, Long](
        xs.toDS(), x => Iterator((x, 1)), MapReduce.countAgg[Int])
        .collect().toMap
      val want = xs.groupBy(identity).view.mapValues(_.size.toLong).toMap
      assert(got == want)
    }
  }

  test("a key spanning several flushes in several partitions: each value reaches the reduce once") {
    // key 0 takes 9 of 10 rows, so each 100,000-row partition hands it
    // more values than one hash-table flush holds
    val pairs = spark.range(0, 400000, 1, 4)
      .map(i => (if (i % 10 == 0) (i % 70).toInt + 1 else 0, i))
    val groups = assertSameGroups(pairs, (k: Int) => k.toString)
    assert(groups.size == 8)
    assert(groups.map(_._2.size).sum == 400000)
  }

  test("keys whose JVM equality is finer than their encoded form group by content") {
    val bytes = (0 until 60).map(i => (Array[Byte]((i % 3).toByte, 7), i))
    val groups = assertSameGroups(spark.sparkContext.parallelize(bytes, 3).toDS(),
      (k: Array[Byte]) => k.mkString("[", ",", "]"))
    assert(groups.map(_._1) == Seq("[0,7]", "[1,7]", "[2,7]"))
    val otherNaN = java.lang.Double.longBitsToDouble(0x7ff8000000000123L)
    val keys = Seq(0.0, -0.0, Double.NaN, otherNaN, 1.0)
    val doubles = (0 until 100).map(i => (keys(i % keys.size), i))
    // -0.0 and 0.0 share a group; which of the two names it may differ
    assertSameGroups(spark.sparkContext.parallelize(doubles, 4).toDS(),
      (k: Double) => if (k == 0.0) "0.0" else k.toString)
  }

  test("null, None and empty-string keys and values are grouped like any other") {
    val strs = (0 until 40).map(i =>
      (Seq[String](null, "", "a")(i % 3), if (i % 4 == 0) null else s"v$i"))
    val sg = assertSameGroups(spark.sparkContext.parallelize(strs, 3).toDS(),
      (k: String) => String.valueOf(k))
    assert(sg.map(_._1).toSet == Set("null", "", "a"))
    val opts = (0 until 40).map(i =>
      (if (i % 3 == 0) None else Some(i % 2), if (i % 5 == 0) None else Some(s"v$i")))
    val og = assertSameGroups(spark.sparkContext.parallelize(opts, 3).toDS(),
      (k: Option[Int]) => k.toString)
    assert(og.map(_._1).toSet == Set("None", "Some(0)", "Some(1)"))
  }

  test("tuple keys group like the uncombined spelling") {
    val pairs = (0 until 50).map(i => ((i % 3, s"k${i % 2}"), i))
    assertSameGroups(spark.sparkContext.parallelize(pairs, 4).toDS(),
      (k: (Int, String)) => k.toString)
  }

  test("empty partitions and empty inputs give no spurious groups") {
    val sparse = spark.sparkContext.parallelize(Seq((1, 10), (2, 20), (1, 30)), 8).toDS()
    assert(assertSameGroups(sparse, (k: Int) => k.toString) ==
      Seq(("1", Seq("10", "30")), ("2", Seq("20"))))
    assert(MapReduce.run(spark.emptyDataset[(Int, Int)], listing[Int, Int])
      .collect().isEmpty)
    assert(MapReduce.runAggregated[(Int, Int), Int, Int, Long](
      sparse.filter(_._1 > 5), p => Iterator(p), MapReduce.countAgg[Int])
      .collect().isEmpty)
  }

  test("runAggregated with a tuple buffer (sum, count) mean == serial fold") {
    val rnd = new Random(23)
    val xs = List.fill(3000)((rnd.nextInt(40), rnd.nextInt(1000).toDouble))
    val ds = spark.sparkContext.parallelize(xs, 5).toDS()
    val got = MapReduce.runAggregated[(Int, Double), Int, Double, Double](
      ds, p => Iterator(p), meanAgg).collect().toMap
    val want = xs.groupBy(_._1).view.mapValues { vs =>
      vs.map(_._2).sum / vs.size }.toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (k, m) => assert(math.abs(got(k) - m) <= 1e-9 * math.abs(m)) }
  }

  test("a (key, value) encoder that is not a tuple product fails at plan time") {
    val e = intercept[IllegalArgumentException](
      MapReduce.run((1 to 3).toDS(), NumberCount.job)(
        Encoders.kryo[(Int, Int)], implicitly[Encoder[(Int, Long)]]))
    assert(e.getMessage.contains("tuple product encoder"))
  }

  test("combine bounds the shuffle at 100 keys x one map task per core on both paths") {
    val cores = spark.sparkContext.defaultParallelism
    val ints = NumberCount.genInts(spark, 200000L, 100, seed = 5, partitions = 8)
      .as[Int]
    val want = NumberCount.runIdiomatic(ints.toDF())
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    var full = Map.empty[Int, Long]
    val fullRecords = shuffleRecords {
      full = MapReduce.run(ints, NumberCount.job).collect().toMap
    }
    var agg = Map.empty[Int, Long]
    val aggRecords = shuffleRecords {
      agg = MapReduce.runAggregated(ints, (x: Int) => Iterator((x, 1)),
        MapReduce.countAgg[Int]).collect().toMap
    }
    assert(full == want && agg == want)
    assert(want.size == 100)
    for (records <- Seq(fullRecords, aggRecords)) {
      assert(records > 0, "the listener saw no shuffle")
      assert(records <= 8 * 100, s"$records shuffle records for 200,000 pairs")
      // a table per input partition rather than per core writes 8 * 100
      assert(records <= math.min(8, cores) * 100, s"$records shuffle records on $cores cores")
    }
  }
}

object MapReduceSpec {
  private val MarkerKey = "graft.test.shuffleRecordsMarker"

  /** A job whose reduce returns the key's whole value list. */
  def listing[K, V]: MapReduceJob[(K, V), K, V, Seq[V]] =
    new MapReduceJob[(K, V), K, V, Seq[V]] {
      def map(in: (K, V)): IterableOnce[(K, V)] = Iterator.single(in)
      def reduce(key: K, vals: Iterator[V]): IterableOnce[Seq[V]] =
        Iterator.single(vals.toVector)
    }

  /** Mean through a (sum, count) tuple buffer. */
  val meanAgg: Aggregator[Double, (Double, Long), Double] =
    new Aggregator[Double, (Double, Long), Double] {
      def zero: (Double, Long) = (0.0, 0L)
      def reduce(b: (Double, Long), a: Double): (Double, Long) = (b._1 + a, b._2 + 1)
      def merge(x: (Double, Long), y: (Double, Long)): (Double, Long) =
        (x._1 + y._1, x._2 + y._2)
      def finish(b: (Double, Long)): Double = b._1 / b._2
      def bufferEncoder: Encoder[(Double, Long)] =
        Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong)
      def outputEncoder: Encoder[Double] = Encoders.scalaDouble
    }
}
