package graft.tools

import org.apache.spark.sql.SparkSession
import graft.Local
import graft.core.FirebirdCompat
import scala.util.Random

/** Migration example: the reference's number_count app, ported line-for-
  * line through the FirebirdCompat facade
  * (≅ sample_apps/number_count/main.cpp:32-53).
  * Run: `sbt "runMain graft.tools.CompatDemo"` */
object CompatDemo {

  class NumberCount(s: SparkSession)
      extends FirebirdCompat[Int, Int, Int, Long](s)(
        s.implicits.newIntEncoder, scala.reflect.classTag[Int],
        s.implicits.newIntEncoder,
        s.implicits.newProductEncoder[(Int, Int)],
        s.implicits.newProductEncoder[(Int, Long)]) {
    def map(in: Int): IterableOnce[(Int, Int)] = Iterator((in, 1))
    def reduce(key: Int, vals: Iterator[Int]): IterableOnce[Long] = {
      var n = 0L
      while (vals.hasNext) { vals.next(); n += 1 } // ≅ main.cpp:15-20
      Iterator.single(n)
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = Local.session()

    val rnd = new Random(1000)                      // ≅ srand(1000)
    val ints = Seq.fill(1000000)(rnd.nextInt(100))  // ≅ gen_ints
    val job = new NumberCount(spark)
    job.set_input(ints)                             // ≅ set_input
    job.set_unit_size(10)                           // ≅ set_unit_size
    val t0 = System.nanoTime()
    job.run()                                       // ≅ run()
    val secs = (System.nanoTime() - t0) / 1e9
    val out = job.get_output()                      // ≅ get_output()
    println(f"COMPAT_RESULT keys=${out.size} total=${out.map(_._2).sum} time=$secs%.2fs")
    out.sortBy(_._1).take(10).foreach(p => println(s"(${p._1},${p._2})"))

    // contrast: the idiomatic declarative path (partial aggregation, no
    // object serialization) on 10× the data — what a migrated app should
    // move to after the literal port works
    val t1 = System.nanoTime()
    val n = graft.apps.NumberCount
      .runIdiomatic(graft.apps.NumberCount.genInts(spark, 10000000L))
      .count()
    println(f"IDIOMATIC_RESULT keys=$n rows=10000000 time=${(System.nanoTime() - t1) / 1e9}%.2fs")
    spark.stop()
  }
}
