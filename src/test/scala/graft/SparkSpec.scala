package graft

import java.nio.file.{Files, Path}
import java.util.Comparator
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import scala.jdk.CollectionConverters._

/** Shared local SparkSession for ScalaTest suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String): String = s"/root/testdata/$name"

  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[Path]

  /** A new directory under `java.io.tmpdir`; it and everything in it is
    * deleted once the suite's tests have run. */
  def tempDir(prefix: String): String = tempDirs.synchronized {
    val d = Files.createTempDirectory(prefix)
    tempDirs += d
    d.toString
  }

  override def afterAll(): Unit =
    try tempDirs.synchronized(tempDirs.foreach(SparkSpec.deleteRecursively))
    finally super.afterAll()

  /** Runs `body` with the given session confs set, then restores each
    * key's previous value (or unsets it). */
  def withConf[T](confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Runs `body` under a job group of its own with the job description
    * "caller", and returns its result with the description of every Spark
    * job it started. */
  def describedJobs[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"described-${java.util.UUID.randomUUID}"
    val seen = new java.util.concurrent.ConcurrentHashMap[Int, (String, String)]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val p = j.properties
        seen.put(j.jobId, (Option(p.getProperty("spark.jobGroup.id")).getOrElse(""),
          Option(p.getProperty("spark.job.description")).getOrElse("")))
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "caller")
      val result = try body finally sc.clearJobGroup()
      // events arrive in order: once the sentinel's start is seen, so is
      // every job the body started
      sc.setJobGroup(s"$group-sentinel", "sentinel")
      try sc.parallelize(Seq(1)).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!seen.values.asScala.exists(_._1 == s"$group-sentinel") &&
          System.nanoTime() < deadline) Thread.sleep(20)
      (result, seen.values.asScala.filter(_._1 == group).map(_._2).toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** Asserts that catalog entry `name` at scale `scale` gives the same
    * rows, in order, under the default `auto` hybrid mode as with
    * `spark.graft.hybrid=distributed`. */
  def assertLocalEqualsDistributed(name: String, scale: String): Unit = {
    val fn = SparkEntry.queries(name)
    val local = fn(spark, sf(scale)).collect().toSeq
    val dist = withConf(graft.core.Hybrid.ConfKey -> "distributed") {
      fn(spark, sf(scale)).collect().toSeq
    }
    assert(local.size === dist.size, s"$name: row counts differ")
    local.zip(dist).zipWithIndex.foreach { case ((l, d), i) =>
      assert(l === d, s"$name: row $i differs: local=$l dist=$d")
    }
  }
}

object SparkSpec {
  def deleteRecursively(root: Path): Unit = if (Files.exists(root)) {
    val paths = Files.walk(root)
    try paths.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    finally paths.close()
  }

  lazy val session: SparkSession = {
    // The suites run in a JVM forked by sbt. If sbt is killed, nothing
    // stops the fork, which would run on as an orphan; so it halts as
    // soon as the process that started it exits.
    ProcessHandle.current().parent().ifPresent { p =>
      p.onExit().thenRun(() => Runtime.getRuntime.halt(1)); ()
    }
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
