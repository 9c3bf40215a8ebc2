package graft.tools

import org.apache.spark.sql.functions._
import graft.{Local, Tables}

/** Recall/latency trade-off sweep for the IVF-PQ composite index
  * (`emb_ivfpq_topk`): nprobe ∈ {1,2,4} × shortlist ∈ {20,50,100} against
  * the replica-scaled corpus tiers — the tuning table a 100 TB deployment
  * reads before picking its operating point (recorded in BASELINE.md).
  *
  * recall@10 is measured against the exact brute-force top-10 for the
  * same query (vec_id 0, squared-L2 ascending, ties on id — identical
  * conventions to the entry's re-rank stage). Timing is the min of
  * [[graft.Local.timed]]'s passes per configuration; these are
  * tuning-table numbers, not gate numbers.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *   sbt "runMain graft.tools.AnnSweep [mult ...]"    (default: 8 64)
  */
object AnnSweep {

  def main(args: Array[String]): Unit = {
    val mults = if (args.nonEmpty) args.toSeq.map(_.toInt) else Seq(8, 64)
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Local.session()
    graft.functions.VectorFunctions.register(spark)

    val out = mults.map { mult =>
      val dir = ScaleSmoke.scaledDir(spark, src, mult)
      // ground truth: exact top-10 for query 0 over everything else
      val e = Tables.embeddings(spark, dir)
        .select(col("vec_id"),
          expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("emb"))
        .withColumn("xx", expr("dot_f64(emb, emb)"))
      val q = e.filter(col("vec_id") === 0)
        .select(col("emb").as("q_emb"), col("xx").as("qq"))
      val truth = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .select(col("vec_id"),
          (col("xx") - lit(2.0) * expr("dot_f64(emb, q_emb)") + col("qq"))
            .as("d2"))
        .orderBy(col("d2"), col("vec_id")).limit(10)
        .collect().map(_.getLong(0)).toSet
      val cells = for {
        nprobe <- Seq(1, 2, 4)
        shortlist <- Seq(20, 50, 100)
      } yield {
        val runs = Local.timed(spark) {
          graft.operators.Semantic.ivfPqSearch(spark, dir, nprobe, shortlist)
            .collect().map(_.getLong(0)).toSet
        }
        val sec = runs.map(_._1).min
        val got = runs.last._2
        val recall = (got & truth).size / 10.0
        System.err.println(
          f"[ann] x$mult nprobe=$nprobe shortlist=$shortlist " +
            f"recall@10=$recall%.2f ${sec}%.2f s")
        s"""{"nprobe":$nprobe,"shortlist":$shortlist,""" +
          s""""recall10":$recall,"sec":$sec}"""
      }
      s""""x$mult":[${cells.mkString(",")}]"""
    }
    println(s"""{"metric":"ann_sweep","sf":"$src",${out.mkString(",")}}""")
    spark.stop()
  }
}
