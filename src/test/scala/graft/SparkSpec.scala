package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for ScalaTest suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String): String = s"/root/testdata/$name"

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
  lazy val session: SparkSession = {
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
