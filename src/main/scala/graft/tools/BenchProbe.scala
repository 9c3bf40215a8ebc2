package graft.tools

import graft.{Local, SparkEntry}

/** Bench-context probe: TimeQuery measures a query in a FRESH session,
  * the bench measures it after every other bench query ran in the same
  * JVM — and the two can disagree badly (sssp_synthetic 2.3 s fresh vs
  * 8.3 s in-bench at r16). This tool reproduces the bench context (one
  * untimed pass over the whole bench set in the bench's session) and then
  * runs TimeQuery's timing of the named queries.
  *
  * Usage: sbt "runMain graft.tools.BenchProbe q1 q2 ..."
  */
object BenchProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BenchProbe <queryName> [queryName ...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Local.session()
    val fns = SparkEntry.queries
    val t0 = System.nanoTime()
    SparkEntry.benchQueries.foreach { name =>
      try fns(name)(spark, sfDir).write.mode("overwrite")
        .format("noop").save()
      catch { case t: Throwable =>
        System.err.println(s"[probe] warmup $name: $t") }
    }
    System.err.println(
      f"[probe] warmup ${(System.nanoTime() - t0) / 1e9}%.1f s")
    System.gc()
    spark.catalog.clearCache()
    TimeQuery.run(spark, sfDir, args.toSeq)
    spark.stop()
  }
}
