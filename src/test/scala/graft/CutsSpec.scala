package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.col
import graft.core.Cuts

/** The cut seam: what each [[Cuts]] verb leaves in the plan under each
  * `spark.graft.planCuts` mode, and that no operator cuts around it. */
class CutsSpec extends SparkSpec {

  private val modes = Seq("local", "persist", "none")

  private def rel: DataFrame =
    spark.range(0, 50).select((col("id") % 7).as("k"), col("id"))
      .groupBy(col("k")).count()

  private def isLeaf(ds: DataFrame): Boolean =
    ds.queryExecution.logical.isInstanceOf[LogicalRDD]

  private def cached(ds: DataFrame): Boolean =
    ds.queryExecution.withCachedData.exists(_.isInstanceOf[InMemoryRelation])

  private def rows(ds: DataFrame) = ds.collect().map(_.toString).sorted.toSeq

  test("cut: a LogicalRDD leaf under local, a cache entry under persist, the plan itself under none") {
    val want = rows(rel)
    for (m <- modes) try withConf(Cuts.ConfKey -> m) {
      val df = rel
      val c = Cuts.cut(df)
      m match {
        case "local" => assert(isLeaf(c) && !cached(c), m)
        case "persist" => assert(!isLeaf(c) && cached(c), m)
        case "none" => assert((c eq df) && !isLeaf(c) && !cached(c), m)
      }
      assert(rows(c) === want, m)
    } finally spark.catalog.clearCache()
  }

  test("loop and barrier: a LogicalRDD leaf in every mode") {
    val want = rows(rel)
    for (m <- modes) withConf(Cuts.ConfKey -> m) {
      for ((verb, f) <- Seq[(String, DataFrame => DataFrame)](
          "loop" -> (Cuts.loop(_)), "barrier" -> (Cuts.barrier(_)))) {
        val c = f(rel)
        assert(isLeaf(c) && !cached(c), s"$verb under $m")
        assert(rows(c) === want, s"$verb under $m")
      }
    }
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("barrier keeps the rows it read after its parquet source is overwritten") {
    for (m <- modes) withConf(Cuts.ConfKey -> m) {
      val path = s"${tempDir("graft_cuts_barrier")}/t.parquet"
      spark.range(0, 20).write.parquet(path)
      val b = Cuts.barrier(spark.read.parquet(path).filter(col("id") % 2 === 0))
      spark.range(100, 110).write.mode("overwrite").parquet(path)
      assert(spark.read.parquet(path).count() === 10, m)
      assert(b.collect().map(_.getLong(0)).sorted.toSeq === (0L until 20L by 2L), m)
    }
  }

  test("no operator calls localCheckpoint outside the cut seam") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val allowed = Seq("core/", "tools/")
    val files = Files.walk(root)
    val sources = try files.iterator().asScala.map(p => root.relativize(p))
        .map(_.toString.replace('\\', '/')).filter(_.endsWith(".scala")).toList
      finally files.close()
    assert(sources.size > 50, "the walk found the operator sources")
    val offenders = for {
      rel <- sources if !allowed.exists(rel.startsWith)
      (line, i) <- Files.readAllLines(root.resolve(rel)).asScala.zipWithIndex
      if line.contains(".localCheckpoint(")
    } yield s"$rel:${i + 1}"
    assert(offenders.isEmpty,
      s"cut through graft.core.Cuts instead:\n${offenders.mkString("\n")}")
  }
}
