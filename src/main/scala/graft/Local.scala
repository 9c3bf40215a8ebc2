package graft

import org.apache.spark.sql.SparkSession

/** The launch policy every `main` shares: one local session shape, one
  * timing discipline, and one reading of `SPARK_GRAFT_ONLY`. */
object Local {

  /** Cores the session runs on: `SPARK_GRAFT_CPUS`, else every core the
    * JVM sees. Also the shuffle partition count. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with one shuffle partition per core, UTC session time,
    * no UI and WARN logging. Adaptive execution and partition coalescing
    * are left at Spark's defaults (both on, pinned by `LocalSpec`). */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs `body` once untimed (JIT, codegen, page cache), then three
    * timed passes. The cache is cleared after every pass, outside the
    * timed window, so a body that caches internally carries no state into
    * the next pass. Returns each timed pass's seconds and result. */
  def timed[A](spark: SparkSession)(body: => A): Seq[(Double, A)] = {
    body
    spark.catalog.clearCache()
    Seq.fill(3) {
      val t0 = System.nanoTime()
      val r = body
      val sec = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      (sec, r)
    }
  }

  private lazy val only: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)

  /** `SPARK_GRAFT_ONLY=a,b` restricts a run to the named entries (names
    * trimmed); unset selects every entry. */
  def selects(name: String): Boolean = only.forall(_.contains(name))
}
