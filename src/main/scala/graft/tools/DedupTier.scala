package graft.tools

import graft.{Local, SparkEntry}

/** High-tier timings for the pair-output dedup family on the
  * MUTATED-replica corpus ([[ScaleSmoke.buildMutatedDir]] — r12 verdict
  * item 3): twin-pair replicas keep planted near-dup pairs LINEAR in the
  * corpus, so these entries finally get honest 64×/512× rows (the
  * verbatim-replica sweep had to exclude them — quadratic pair output by
  * corpus construction).
  *
  * Per tier and entry: min-of-3 wall time plus the OUTPUT ROW COUNT, so
  * the linear-output claim is measured, not asserted — expected rows ≈
  * capture_rate · |docs| · mult/2 (+ organic near-dups × mult/2 groups),
  * both linear in mult.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *   sbt "runMain graft.tools.DedupTier [mult ...]"   (defaults 8 64 512)
  */
object DedupTier {

  val Entries = Seq("dedup_minhash_lsh", "dedup_simhash",
    "dedup_winnowing", "dedup_edit_verify")

  def main(args: Array[String]): Unit = {
    val mults = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(8, 64, 512)
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Local.session()
    val fns = SparkEntry.queries
    // SPARK_GRAFT_ONLY=a,b restricts the sweep (the Verify convention)
    val entries = Entries.filter(Local.selects)
    mults.foreach { mult =>
      val dir = ScaleSmoke.tierDir("mutated", src, mult)
      ScaleSmoke.buildMutatedDir(spark, src, dir, mult)
      entries.foreach { n =>
        val fn = fns(n)
        val runs = Local.timed(spark)(fn(spark, dir).write.mode("overwrite")
          .format("noop").save()).map(_._1)
        val rows = fn(spark, dir).count()
        spark.catalog.clearCache()
        println(f"MUTDUP x$mult%-4d $n%-22s min=${runs.min}%8.3f rows=$rows")
      }
    }
    spark.stop()
  }
}
