package graft

import org.apache.spark.sql.functions.lit

/** Degenerate-input robustness: every catalog entry must EXECUTE (produce
  * zero or more rows, never throw) against a corpus whose tables are all
  * EMPTY. At 100 TB this is not a corner case — filters that match
  * nothing, empty partitions after pruning, and empty join sides appear
  * in every run, and an operator that crashes on them (a driver-side
  * `.head()` on an empty superstep, a division by an empty-aggregate
  * count) takes the whole job down, not one task.
  *
  * Entries that synthesize their own input (`number_count`,
  * `sssp_synthetic`) are exercised too — they simply ignore the empty
  * dir and must still succeed. */
class EmptyInputSweepSpec extends SparkSpec {

  private lazy val emptyDir: String = {
    // per-run temp directory: a fixed cached path went stale when source
    // schemas changed and was shared between concurrent CI runs — the
    // build is 10 empty writes, cheap enough to redo every run
    val dir = tempDir("graft_empty_sf")
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    // events.parquet is TIMESTAMP(NANOS): read it as raw int64 nanos,
    // exactly like ScaleSmoke.buildScaledDir — the empty copy then
    // carries a plain long ts, which Tables.events converts the same way
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    tables.foreach { t =>
      spark.read.parquet(sf("sf0.001") + s"/$t.parquet")
        .filter(lit(false))
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    dir
  }

  test("every catalog entry executes on an all-empty corpus") {
    val failures = scala.collection.mutable.ListBuffer.empty[String]
    // the sink entries write under a tree named after the temp corpus
    // dir, outside it: delete that tree with the corpus
    try graft.queries.Registry.all.foreach { q =>
      try {
        val n = q.fn(spark, emptyDir).count()
        assert(n >= 0)
      } catch {
        case e: Throwable =>
          val root = Option(e.getCause).getOrElse(e)
          failures += s"${q.name}: ${root.getClass.getSimpleName} ${String.valueOf(root.getMessage).take(120)}"
      }
    } finally SparkSpec.deleteRecursively(
      java.nio.file.Paths.get(graft.sources.Sinks.sinkBase(emptyDir)))
    assert(failures.isEmpty,
      s"${failures.size} entries crash on empty input:\n${failures.mkString("\n")}")
  }
}
