package graft.tools

import org.apache.spark.sql.functions._
import graft.Local

/** Synthetic-embedding corpus generator for the NN-descent scale
  * experiment: ScaleSmoke's replica corpora collapse into the SAME
  * distinct-embedding classes (rep = min vec_id — the class-collapse
  * immunity emb_* entries are built around), so they cannot grow the
  * refinement loop's working set. This writes `n` DISTINCT 64-dim
  * vectors (deterministic multiplicative-hash floats in [-1, 1),
  * engine-independent integer recurrence) as
  * `/tmp/graft_knn_synth_n{N}/embeddings.parquet`, matching the driver
  * schema (vec_id BIGINT, embedding FLOAT[], label INT). Point
  * SPARK_GRAFT_SF_DIR at the dir and drive [[TimeKnnAb]] one variant
  * per JVM for the clean A/B.
  *
  * Usage: sbt "runMain graft.tools.KnnSynthTier n1 [n2 ...]"
  */
object KnnSynthTier {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: KnnSynthTier n1 [n2 ...]")
    val spark = Local.session()
    args.map(_.toLong).foreach { n =>
      val dir = s"/tmp/graft_knn_synth_n$n"
      spark.range(0, n, 1, 32)
        .select(col("id").as("vec_id"),
          expr("""transform(sequence(0, 63), d ->
            CAST(CAST(pmod(pmod(id * 64 + d, 2147483647) * 1099087573,
              2147483647) AS DOUBLE) / 1073741823.5 - 1.0 AS FLOAT))""")
            .as("embedding"),
          (col("id") % 16).cast("int").as("label"))
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      println(s"KNNSYNTH wrote $dir (n=$n)")
    }
    spark.stop()
  }
}
