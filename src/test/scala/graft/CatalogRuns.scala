package graft

import org.apache.spark.sql.SparkSession

/** One execution pass over every catalog entry, shared by
  * CacheHygieneSpec (cache state right after each `fn` returns, in the
  * 3-partition run) and PartitioningInvarianceSpec (the rows at 3 and at
  * 32 shuffle partitions), so each `fn` is built once per partition
  * count rather than once per spec. */
object CatalogRuns {

  /** One entry's emitted rows (one `ERROR` row when `fn` or the collect
    * threw), the error `fn` itself threw, and whether the session's
    * CacheManager held entries when `fn` returned. */
  final case class Run(rows: Seq[String], fnError: Option[String],
      cached: Boolean)

  /** Every entry's run at 3 and at 32 shuffle partitions. */
  final case class Pass(narrow: Map[String, Run], wide: Map[String, Run])

  private val passes = scala.collection.mutable.Map.empty[String, Pass]

  /** The pass over the tables in `dir`, made on the first call for `dir`. */
  def apply(dir: String): Pass = synchronized {
    passes.getOrElseUpdate(dir, {
      SparkSpec.session.catalog.clearCache()
      Pass(runAll(dir, 3), runAll(dir, 32))
    })
  }

  private def runAll(dir: String, parts: Int): Map[String, Run] = {
    val spark = SparkSpec.session
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    try graft.queries.Registry.all.map(q => q.name -> run(spark, dir, q)).toMap
    finally spark.conf.set("spark.sql.shuffle.partitions", "4")
  }

  private def run(spark: SparkSession, dir: String, q: QueryDef): Run = {
    def error(e: Throwable) =
      s"ERROR ${e.getClass.getSimpleName}: ${e.getMessage}"
    // construction is where a DataFrame-returning fn can call cache();
    // driver-loop queries (bpe, sssp) run their supersteps here too
    val built =
      try Right(q.fn(spark, dir))
      catch { case e: Throwable => Left(error(e)) }
    val cached = !spark.sharedState.cacheManager.isEmpty
    // a leak is attributed to its own entry, not to every later one
    if (cached) spark.catalog.clearCache()
    built match {
      case Left(e) => Run(Seq(e), Some(e), cached)
      case Right(df) =>
        val rows =
          try df.collect().map(_.toString).toSeq
          catch { case e: Throwable => Seq(error(e)) }
        Run(rows, None, cached)
    }
  }
}
