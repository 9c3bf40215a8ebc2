package graft.apps

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{MapReduce, MapReduceJob}

/** The reference's first sample app: count-per-key over random ints
  * (`/root/reference/sample_apps/number_count/main.cpp`).
  *
  * map: `emit_intermediate(x, 1)` per int (main.cpp:10-13);
  * reduce: count the grouped list's length (main.cpp:15-20);
  * data: 10M ints `rand()%100`, `srand(1000)` (main.cpp:23-29).
  *
  * Exact C `rand()` parity is not required (FIXTURES.md §A1) — determinism
  * per seed is. The generator is a two-round 31-bit LCG on the row index
  * (the classic `rand()` recurrence, applied positionally instead of
  * sequentially so it is partition-layout-independent AND expressible as
  * plain integer SQL — which is what lets the driver's DuckDB oracle
  * regenerate the identical stream and hash-check the histogram). All
  * intermediates stay below 2^62 (DuckDB errors on int64 overflow).
  */
object NumberCount {

  // rand()-style LCG constants (C standard library's documented example).
  private val A = 1103515245L
  private val C = 12345L
  private val M = 2147483648L // 2^31

  /** Seeded data generator (≅ gen_ints, main.cpp:23-29). value(i) =
    * high-bits of LCG²(i + seed) mod `distinct` — deterministic for a
    * fixed seed, independent of partitioning. The high bits are 15 (bits
    * 16-30 of a 31-bit LCG), so a `distinct` above 32,768 saturates at
    * 32,768 keys. */
  def genInts(spark: SparkSession, n: Long, distinct: Int = 100,
      seed: Long = 1000, partitions: Int = 32): DataFrame = {
    val h1 = ((col("id") + lit(seed)) * lit(A) + lit(C)) % lit(M)
    val h2 = (h1 * lit(A) + lit(C)) % lit(M)
    spark.range(0, n, 1, partitions)
      .select((shiftright(h2, 16) % lit(distinct)).cast("int").as("value"))
  }

  /** The same generator+histogram spelled as DuckDB SQL — shares the
    * constants above so the two spellings cannot drift. */
  def oracleSql(n: Long, distinct: Int = 100, seed: Long = 1000): String =
    s"""SELECT CAST(((((((range + $seed) * $A + $C) % $M) * $A + $C) % $M) // 65536) % $distinct AS INT) AS value,
       COUNT(*) AS cnt FROM range($n) GROUP BY 1 ORDER BY 1"""

  /** The literal MapReduce formulation — full-list reduce, counting by
    * iterating the values exactly like the reference's `sum++` loop. Used
    * by tests to prove MR(count) == groupBy().count(). */
  val job: MapReduceJob[Int, Int, Int, Long] = new MapReduceJob[Int, Int, Int, Long] {
    def map(in: Int): IterableOnce[(Int, Int)] = Iterator((in, 1))
    def reduce(key: Int, vals: Iterator[Int]): IterableOnce[Long] = {
      var n = 0L
      while (vals.hasNext) { vals.next(); n += 1 }
      Iterator.single(n)
    }
  }

  def runMapReduce(ints: Dataset[Int]): Dataset[(Int, Long)] = {
    val spark = ints.sparkSession
    import spark.implicits._
    MapReduce.run(ints, job)
  }

  /** The idiomatic (and 100 TB-ready) formulation: hash aggregation with
    * map-side partial count — what the reference's no-combiner design
    * cannot do (firebird.h:79-82). */
  def runIdiomatic(ints: DataFrame): DataFrame =
    ints.groupBy(col("value")).agg(count(lit(1)).as("cnt"))
}
