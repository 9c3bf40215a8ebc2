package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.core.PrefixSum
import graft.operators.Quantiles

/** Property checks for the two-level prefix sum (`core.PrefixSum`) and
  * the discrete selection built on it (`Quantiles.valueAtRanks`): on
  * ARBITRARY value multisets — negatives, duplicates, heavy tails,
  * single-element — the value returned for rank k must equal
  * `sorted(values)(k)`, and every running sum must equal the one over a
  * local sort. Same fixed-seed ScalaCheck setup as QuantilesPropertySpec. */
class SelectionPropertySpec extends SparkSpec {

  private val valueGen: Gen[Double] = Gen.oneOf(
    Gen.choose(-1000.0, 1000.0),
    Gen.choose(-1.0, 1.0),
    Gen.oneOf(0.0, -0.0, 1.0, -1.0, 1e7, -1e7, 3.14),
    Gen.choose(1, 20).map(_.toDouble)) // dense duplicates

  private def dataset(seed: Long): List[Double] = {
    val gen = Gen.chooseNum(1, 400).flatMap(n => Gen.listOfN(n, valueGen))
    gen(Gen.Parameters.default, Seed(seed)).get
  }

  test("valueAtRanks equals a local sort at sampled ranks on arbitrary multisets") {
    import spark.implicits._
    for (seed <- 0L until 12L) {
      val vs = dataset(seed)
      val sorted = vs.sorted
      val n = vs.size.toLong
      val ks = Seq(0L, n / 4, n / 2, (3 * n) / 4, n - 1).distinct
      val ranks = ks.map(k => s"r$k" -> lit(k).cast("double"))
      // widths deliberately varied: fractional, unit, and coarse buckets
      for (width <- Seq(0.37, 1.0, 250.0)) {
        val row = Quantiles.valueAtRanks(
          vs.toDF("v"), "v", width, ranks).collect().head
        ks.zipWithIndex.foreach { case (k, i) =>
          val got = row.getDouble(i)
          val want = sorted(k.toInt)
          assert(got == want,
            s"seed=$seed width=$width rank=$k: got $got want $want (n=$n)")
        }
      }
    }
  }

  test("PrefixSum.running equals running sums over a local sort") {
    import spark.implicits._
    type Row6 = (Long, Double, Long, Long, Long, Long)
    // the distinct-value relation callers sum over: (group, value) is
    // unique (+ 0.0 folds -0.0 into 0.0); two sum columns, the second signed
    def relation(seed: Long): Seq[(Long, Double, Long, Long)] =
      dataset(seed).map(_ + 0.0).groupBy(identity).toSeq.sortBy(_._1)
        .zipWithIndex
        .map { case ((v, occ), i) =>
          (i % 3L, v, occ.size.toLong, math.round(v) - i) }
    // (g, v, inclusive c, inclusive d, exclusive c, exclusive d)
    def model(rows: Seq[(Long, Double, Long, Long)],
        grouped: Boolean): Set[Row6] =
      rows.groupBy(r => if (grouped) r._1 else 0L).values.flatMap { g =>
        val sorted = g.sortBy(_._2)
        val (c, d) = (sorted.map(_._3).scanLeft(0L)(_ + _),
          sorted.map(_._4).scanLeft(0L)(_ + _))
        sorted.indices.map(i =>
          (sorted(i)._1, sorted(i)._2, c(i + 1), d(i + 1), c(i), d(i)))
      }.toSet
    // inclusive and exclusive sums of both columns in one query
    def sums(df: DataFrame, groups: Seq[String]): DataFrame = {
      val inc = PrefixSum.running(df, "bkt", "v",
        Seq("c" -> "ic", "d" -> "id"), groups).drop("c_offset", "d_offset")
      PrefixSum.running(inc, "bkt", "v", Seq("c" -> "ec", "d" -> "ed"),
        groups, inclusive = false)
    }
    // seed -1 is the empty relation
    val seeds = (-1L until 12L).map(seed =>
      seed -> (if (seed < 0) Nil else relation(seed)))
    for (width <- Seq(0.37, 1.0, 250.0)) {
      def frame(seed: Long, rows: Seq[(Long, Double, Long, Long)]) =
        rows.toDF("g", "v", "c", "d").withColumn("seed", lit(seed))
          .withColumn("bkt", floor(col("v") / width).cast("long"))
      val cols = Seq("g", "v", "ic", "id", "ec", "ed").map(col)
      for ((seed, rows) <- seeds) {
        val got = sums(frame(seed, rows), Nil).select(cols: _*)
          .as[(Long, Double, Long, Long, Long, Long)]
          .collect().toSet
        assert(got == model(rows, grouped = false),
          s"ungrouped seed=$seed width=$width")
      }
      // grouped: every seed in one query, grouped by (seed, g)
      val got = sums(seeds.map((frame _).tupled).reduce(_ unionAll _),
          Seq("seed", "g"))
        .select(col("seed") +: cols: _*)
        .as[(Long, Long, Double, Long, Long, Long, Long)].collect()
        .groupBy(_._1)
      for ((seed, rows) <- seeds) {
        val rs = got.getOrElse(seed, Array.empty)
          .map(r => (r._2, r._3, r._4, r._5, r._6, r._7)).toSet
        assert(rs == model(rows, grouped = true),
          s"grouped seed=$seed width=$width")
      }
    }
  }
}
