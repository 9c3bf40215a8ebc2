package graft.tools

import org.apache.spark.sql.functions._
import graft.Local
import graft.operators.{KCore, Triangles}

/** Graph-family scale tiers on the POWER-LAW fixture (round-11 verdict
  * item 7): the ring+skip synthetic the graph entries bench on has
  * near-uniform degrees, so its tiers never exercised the skewed-degree
  * regime the algorithms are designed for. This tool times the
  * degree-ordered triangle count, the k-core peel, and a 5-round LPA on
  * [[Triangles.powerLawEdges]] graphs (hub degree Θ(n/2)) at growing n —
  * the direct evidence that the hub does NOT quadratically blow up the
  * wedge join (the √(2m) out-degree cap PowerLawGraphSpec proves holds).
  *
  * Usage: sbt "runMain graft.tools.PowerLawTier [n ...]"
  * (defaults: 100000 400000 1600000)
  */
object PowerLawTier {
  def main(args: Array[String]): Unit = {
    val ns = if (args.nonEmpty) args.map(_.toLong).toSeq
      else Seq(100000L, 400000L, 1600000L)
    val spark = Local.session()
    ns.foreach { n =>
      val simple = Triangles.powerLawEdges(spark, n).localCheckpoint()
      val m = simple.count()
      def time(label: String)(f: => Long): Unit = {
        val runs = Local.timed(spark)(f)
        val best = runs.map(_._1).min
        println(f"PLAW n=$n%-9d m=$m%-9d $label%-12s min=$best%.3f result=${runs.head._2}")
      }
      time("triangles") {
        Triangles.perNodeTrianglesFor(simple)
          .agg(sum(col("tri"))).head().getLong(0)
      }
      def kcoreAt(k: Int): Long = {
        val edges = simple.select(col("a").as("u"), col("b").as("v"))
          .unionAll(simple.select(col("b").as("u"), col("a").as("v")))
        KCore.kcoreOf(edges, k).count()
      }
      // k=3: no peel (ring+pref min degree is 3) — pure setup cost.
      // k=4: most nodes start at degree 3 → a real cascading peel.
      time("kcore3")(kcoreAt(3))
      time("kcore4")(kcoreAt(4))
      time("lpa5") {
        val e = simple.select(col("a").as("src"), col("b").as("dst"))
          .unionAll(simple.select(col("b").as("src"), col("a").as("dst")))
        var lab = spark.range(0, n, 1, 32)
          .select(col("id"), col("id").as("l"))
        for (_ <- 1 to 5) {
          // (max count, then min label) argmax as MIN over a struct —
          // lexicographic struct ordering, no field-width assumptions.
          // The catalog entry's BIGINT packing (LabelProp.MaxC·1024) is
          // only valid for labels < 1024 and counts < 100000; here
          // labels are node ids up to n−1 (6.4M at the top tier) and a
          // hub's neighbor-label count is Θ(n/2), so the packed encode
          // would decode wrong labels and even go negative (the r12
          // advice find — earlier tier numbers measured a corrupted
          // propagation; re-measured after this fix).
          lab = graft.core.Iterative.cutLineage(e
            .join(lab.withColumnRenamed("id", "nid"), col("dst") === col("nid"))
            .groupBy(col("src"), col("l")).agg(count(lit(1)).as("c"))
            .groupBy(col("src"))
            .agg(min(struct((-col("c")).as("nc"), col("l").as("l"))).as("s"))
            .select(col("src").as("id"), col("s.l").as("l")))
        }
        lab.select(countDistinct(col("l"))).head().getLong(0)
      }
    }
    spark.stop()
  }
}
