package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Order-dependent running sums (running counts, CDFs, midranks, packing
  * offsets) without a global sort. One window ordered over the whole
  * relation is a single-task sort at scale, and reduce has no combiner to
  * split it, so the sum is combined first and then scanned in two levels:
  *
  *   1. per-bucket totals, then their exclusive running offsets: the only
  *      window without a data partition key, over the bucket relation;
  *   2. the offsets broadcast-joined back, plus per-row running sums
  *      partitioned by bucket, so each task sorts one bucket.
  *
  * The caller supplies the bucket column: a monotone function of the
  * order column whose range keeps the bucket relation small (a fixed
  * value width over a bounded domain, or a count bounded by the shuffle
  * parallelism). Results never depend on the bucketing. The order column
  * must be unique within each group, as it is on the distinct-value and
  * per-document relations every caller sums over.
  */
object PrefixSum {

  /** Per-(`groups`, `bucket`) totals `<c>_total` of each column `c` in
    * `sums`, and their exclusive running offsets `<c>_offset` in bucket
    * order within each group: 0 for a group's first bucket. */
  def offsets(df: DataFrame, bucket: String, sums: Seq[String],
      groups: Seq[String] = Nil): DataFrame = {
    // serial by construction over the bucket relation (CatalogPlanSweepSpec
    // declares every caller); a constant partition key cannot say so in the
    // plan, because EliminateWindowPartitions strips foldable keys
    val w = Window.partitionBy(groups.map(col): _*).orderBy(col(bucket))
      .rowsBetween(Window.unboundedPreceding, -1)
    val totals = sums.map(c => sum(col(c)).as(s"${c}_total"))
    sums.foldLeft(df.groupBy((groups :+ bucket).map(col): _*)
        .agg(totals.head, totals.tail: _*)) { (acc, c) =>
      acc.withColumn(s"${c}_offset",
        coalesce(sum(col(s"${c}_total")).over(w), lit(0L)))
    }
  }

  /** `df` with, for each (column `c`, output `out`) in `sums`, the running
    * sum of `c` in `order` order within each group of `groups` as column
    * `out`: including the current row when `inclusive`, else excluding it
    * (0 for the first row). The `<c>_offset` columns stay in the output. */
  def running(df: DataFrame, bucket: String, order: String,
      sums: Seq[(String, String)], groups: Seq[String] = Nil,
      inclusive: Boolean = true): DataFrame = {
    val keys = groups :+ bucket
    val offs = offsets(df, bucket, sums.map(_._1), groups)
      .select((keys ++ sums.map(c => s"${c._1}_offset")).map(col): _*)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(order))
      .rowsBetween(Window.unboundedPreceding, if (inclusive) 0 else -1)
    sums.foldLeft(df.join(broadcast(offs), keys)) { case (acc, (c, out)) =>
      val within = sum(col(c)).over(w)
      acc.withColumn(out, col(s"${c}_offset") +
        (if (inclusive) within else coalesce(within, lit(0L))))
    }
  }
}
