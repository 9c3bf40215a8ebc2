package graft

/** Plan inspection tool: `sbt "runMain graft.Explain [queryName ...]"`
  * prints the formatted physical plan for the named queries (default:
  * [[Defaults]]) against SPARK_GRAFT_SF_DIR. Used to keep plans
  * honest: filters pushed to the parquet scan, small dims broadcast, wide
  * WholeStageCodegen spans. */
object Explain {
  /** Plans printed when no name is given. */
  val Defaults: Seq[String] = Seq("q2_filter_project", "q5_region_revenue",
    "q1_pricing_summary", "dedup_embedding_cosine", "sim_topk_bruteforce")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Local.session()
    val names = if (args.nonEmpty) args.toSeq else Defaults
    val fns = SparkEntry.queries
    names.foreach { n =>
      println(s"\n========== $n ==========")
      fns(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
