package graft

import org.apache.spark.sql.functions._
import graft.operators.Quantiles
import graft.operators.Quantiles.Spec

/** The two-phase exact quantile must be bit-equal to the built-in
  * whole-group `percentile` aggregate (same order statistics, same
  * interpolation expression) — exactness, not approximation. */
class QuantilesSpec extends SparkSpec {

  /** Median and p90 per return flag against the built-in aggregate. */
  private def assertBitEqualOnLineitem(): Unit = {
    val li = Tables.lineitem(spark, sf("sf0.001"))
    val ours = Quantiles.exactPercentiles(li, "l_returnflag",
        Seq(Spec("l_quantity", 0.5, "median_qty"),
          Spec("l_extendedprice", 0.9, "p90_price")))
      .orderBy("l_returnflag").collect()
    val ref = li.groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, 0.5)").as("median_qty"),
        expr("percentile(l_extendedprice, 0.9)").as("p90_price"))
      .orderBy("l_returnflag").collect()
    assert(ours.length == ref.length && ours.length >= 3)
    ours.zip(ref).foreach { case (a, b) =>
      assert(a.getString(0) == b.getString(0))
      assert(a.getDouble(1) == b.getDouble(1), s"median for ${a.getString(0)}")
      assert(a.getDouble(2) == b.getDouble(2), s"p90 for ${a.getString(0)}")
    }
  }

  test("exactPercentiles is bit-equal to built-in percentile on lineitem") {
    assertBitEqualOnLineitem()
  }

  test("distributed narrowing path (hybrid=distributed) stays bit-equal") {
    // r17: up to Quantiles.LocalStates the loop state lives on the
    // driver; force the at-scale distributed spelling and pin it to the
    // same built-in result so BOTH paths keep coverage.
    withConf(graft.core.Hybrid.ConfKey -> "distributed")(assertBitEqualOnLineitem())
  }

  test("exact at integral ranks, tiny groups, and constant columns") {
    import spark.implicits._
    // 5 values → p=0.5 rank 2 integral; p=0.25 rank 1.0 integral; p=0.3
    // rank 1.2 interpolates; plus a single-row group and a constant group
    val df = Seq(
      ("a", 10.0), ("a", 20.0), ("a", 30.0), ("a", 40.0), ("a", 50.0),
      ("b", 7.0),
      ("c", 3.0), ("c", 3.0), ("c", 3.0)).toDF("g", "v")
    val r = Quantiles.exactPercentiles(df, "g",
        Seq(Spec("v", 0.5, "p50"), Spec("v", 0.3, "p30")), buckets = 4)
      .orderBy("g").collect()
    assert(r.map(_.getString(0)).toSeq == Seq("a", "b", "c"))
    assert(r(0).getDouble(1) == 30.0)
    // rank = 0.3*4 = 1.2 → 0.8*20 + 0.2*30 = 22.0 (same lerp as builtin)
    assert(r(0).getDouble(2) == (2.0 - 1.2) * 20.0 + (1.2 - 1.0) * 30.0)
    assert(r(1).getDouble(1) == 7.0 && r(1).getDouble(2) == 7.0)
    assert(r(2).getDouble(1) == 3.0 && r(2).getDouble(2) == 3.0)
  }

  test("nulls are ignored like the builtin") {
    import spark.implicits._
    val df = Seq(("a", Some(1.0)), ("a", None), ("a", Some(3.0)))
      .toDF("g", "v")
    val r = Quantiles.exactPercentiles(df, "g", Seq(Spec("v", 0.5, "p50")))
      .collect()
    assert(r.length == 1 && r(0).getDouble(1) == 2.0)
  }

  test("all-NULL group keeps its row with a NULL percentile, like the builtin") {
    import spark.implicits._
    val df = Seq(("a", Some(1.0)), ("a", Some(3.0)), ("z", None), ("z", None))
      .toDF("g", "v")
    val r = Quantiles.exactPercentiles(df, "g", Seq(Spec("v", 0.5, "p50")))
      .orderBy("g").collect()
    assert(r.map(_.getString(0)).toSeq == Seq("a", "z"))
    assert(r(0).getDouble(1) == 2.0)
    assert(r(1).isNullAt(1), "all-NULL group must surface as NULL, not vanish")
  }

  test("outlier-stretched range narrows over multiple rounds, still bit-equal") {
    import spark.implicits._
    // 1000 values packed into [0,1] plus one outlier at 1e9: a single
    // equi-width round leaves ~everything in bucket 0, so the tiny
    // sortThreshold forces several narrowing rounds before any sort
    val vals = (0 until 1000).map(i => ("a", i / 1000.0)) :+ ("a", 1e9)
    val df = vals.toDF("g", "v")
    val ours = Quantiles.exactPercentiles(df, "g",
        Seq(Spec("v", 0.5, "p50"), Spec("v", 0.99, "p99")),
        buckets = 4, sortThreshold = 10L)
      .collect()
    val ref = df.groupBy(col("g"))
      .agg(expr("percentile(v, 0.5)").as("p50"),
        expr("percentile(v, 0.99)").as("p99"))
      .collect()
    assert(ours.length == 1 && ref.length == 1)
    assert(ours(0).getDouble(1) == ref(0).getDouble(1))
    assert(ours(0).getDouble(2) == ref(0).getDouble(2))
  }

  test("mass at a point resolves without sorting past the threshold") {
    import spark.implicits._
    // 50 identical values dominate: the range collapses (lo == hi) and
    // the answer is read off directly — no window sort of the heavy point
    val vals = Seq.fill(50)(("a", 7.0)) ++ Seq(("a", 1.0), ("a", 100.0))
    val df = vals.toDF("g", "v")
    val ours = Quantiles.exactPercentiles(df, "g",
        Seq(Spec("v", 0.5, "p50")), buckets = 4, sortThreshold = 5L)
      .collect()
    val ref = df.groupBy(col("g"))
      .agg(expr("percentile(v, 0.5)").as("p50")).collect()
    assert(ours(0).getDouble(1) == ref(0).getDouble(1))
  }
}
