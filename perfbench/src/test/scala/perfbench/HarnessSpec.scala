package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{MapReduce, MapReduceJob}

class HarnessSpec extends AnyFunSuite {

  test("tail percentile keeps at least ten samples beyond it") {
    val xs = (1 to 1000).map(_.toDouble)
    assert(Stats.tail(xs) == Stats.Tail(99.0, 990.0, 10))
    // 100 samples: p90 leaves exactly 10 above it, p95 only 5
    assert(Stats.tail((1 to 100).map(_.toDouble)) == Stats.Tail(90.0, 90.0, 10))
    // 40 samples: p75 leaves 10
    assert(Stats.tail((1 to 40).map(_.toDouble)).percentile == 75.0)
    // too few samples for any tail: the median, with how thin it is
    assert(Stats.tail(Seq(3.0, 1.0, 2.0)) == Stats.Tail(50.0, 2.0, 1))
    assert(Stats.tail(Seq(5.0)) == Stats.Tail(50.0, 5.0, 0))
  }

  test("driver gap is wall time minus the union of overlapping jobs") {
    assert(Stats.unionLength(Seq((0.0, 10.0), (5.0, 15.0), (20.0, 30.0))) == 25.0)
    assert(Stats.unionLength(Seq((0.0, 10.0), (2.0, 3.0))) == 10.0)
    assert(Stats.unionLength(Nil) == 0.0)
    // window 0..100; jobs 10..30 and 20..40 overlap (30 ms busy), 50..60
    // adds 10, and 90..120 is clipped to 90..100
    val jobs = Seq((20.0, 40.0), (10.0, 30.0), (50.0, 60.0), (90.0, 120.0))
    assert(Stats.driverGap(0.0, 100.0, jobs) == 50.0)
    assert(Stats.driverGap(0.0, 100.0, Nil) == 100.0)
  }

  test("self time is span time minus what its children cover") {
    import Stats.Span
    val spans = Seq(
      Span(0, Level.Operation, "operation", "op", 0, 100),
      Span(1, Level.Call, "fn", "op", 0, 30),
      Span(2, Level.Call, "action", "op", 40, 100),
      Span(3, Level.Sql, "sql", "s", 45, 95),
      Span(4, Level.Job, "job", "j1", 50, 70),
      Span(5, Level.Job, "job", "j2", 60, 80),
      Span(6, Level.Stage, "stage", "s1", 50, 55))
    val self = Stats.selfTimes(spans)
    assert(self(0) == 10.0) // 100 - (30 + 60)
    assert(self(1) == 30.0)
    assert(self(2) == 10.0) // 60 - 50
    assert(self(3) == 20.0) // 50 - union(50..80)
    assert(self(4) == 15.0) // 20 - 5 (its stage)
    assert(self(5) == 20.0)
    assert(self(6) == 5.0)
    assert(Stats.parents(spans) == Map(0 -> -1, 1 -> 0, 2 -> 0, 3 -> 2,
      4 -> 3, 5 -> 3, 6 -> 4))
  }

  test("combine ratio on a tiny hand-counted MapReduce") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      import spark.implicits._
      // two input partitions: keys 1,1,2,2,2 and 1,3,3,3,3 — ten pairs
      val ints = spark.sparkContext
        .parallelize(Seq(1, 1, 2, 2, 2, 1, 3, 3, 3, 3), 2).toDS()
      val job = new MapReduceJob[Int, Int, Int, Long] {
        def map(in: Int): IterableOnce[(Int, Int)] = Iterator((in, 1))
        def reduce(k: Int, vs: Iterator[Int]): IterableOnce[Long] =
          Iterator.single(vs.size.toLong)
      }
      def measure(body: => Array[(Int, Long)]): (Long, Array[(Int, Long)]) = {
        val tracer = new Tracer(spark)
        tracer.start()
        val out = body
        tracer.stop()
        (tracer.counter("exchange.write_records"), out)
      }
      val expected = Set((1, 3L), (2, 3L), (3, 4L))
      // full-list reduce: every emitted pair crosses the exchange
      val (fullRecords, full) = measure(MapReduce.run(ints, job).collect())
      assert(full.toSet == expected)
      assert(Stats.combineRatio(fullRecords, 10) == 1.0)
      // combiner: partition 1 holds keys {1, 2}, partition 2 keys {1, 3},
      // so four partial counts cross instead of ten pairs
      val (aggRecords, agg) = measure(MapReduce.runAggregated(ints,
        (x: Int) => Iterator((x, 1)), MapReduce.countAgg[Int]).collect())
      assert(agg.toSet == expected)
      assert(Stats.combineRatio(aggRecords, 10) == 0.4)
    } finally spark.stop()
  }
}
