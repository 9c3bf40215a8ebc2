package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Local
import graft.operators.Similarity

/** Measurement harness for the incremental NN-descent candidate rule
  * (r14 verdict item 1): re-runs `emb_knn_graph_refined`'s refinement
  * rounds against SPARK_GRAFT_SF_DIR and, per round, counts the
  * two-hop candidate volume WITH the Dong et al. new/old flag (what the
  * entry executes) vs WITHOUT it (the full symmetrized expansion r13
  * shipped), plus the post-anti-join scored-pair counts. Round 1 is
  * all-new by definition, so the reduction shows up in round 2 — its
  * old×old quadrant is pure recomputation (see the proof on
  * [[Similarity.knnGraphRefined]]). Numbers land in BASELINE.md.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.KnnDescentAudit"
  */
object KnnDescentAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Local.session()
    graft.functions.VectorFunctions.register(spark)

    val knnH = sys.env.get("SPARK_GRAFT_KNN_H").map(_.toInt)
      .getOrElse(Similarity.NumHyperplanes)
    val (en0, g0) = Similarity.knnBase(spark, sfDir, Similarity.WorkK, knnH)
    val en = en0.localCheckpoint(false)
    var g = g0.localCheckpoint(false)
    var undPrev: DataFrame = null
    for (r <- 1 to Similarity.RefineRounds) {
      val revW = Window.partitionBy(col("src"))
        .orderBy(col("cosine").desc, col("dst"))
      val rev = g.select(col("dst").as("src"), col("src").as("dst"),
          col("cosine"))
        .withColumn("rr", row_number().over(revW))
        .filter(col("rr") <= Similarity.WorkK)
        .select(col("src"), col("dst"))
      val und = g.select(col("src"), col("dst")).unionAll(rev).distinct()
        .localCheckpoint(false)
      val undF =
        if (undPrev == null) und.withColumn("is_new", lit(true))
        else und.join(undPrev.withColumn("seen", lit(true)),
            Seq("src", "dst"), "left")
          .select(col("src"), col("dst"), col("seen").isNull.as("is_new"))
      def twoHop(filtered: Boolean): DataFrame = {
        val j = undF.select(col("src"), col("dst").as("mid"),
            col("is_new").as("x_new"))
          .join(undF.select(col("src").as("mid"), col("dst").as("nn"),
            col("is_new").as("y_new")), Seq("mid"))
        (if (filtered) j.filter(col("x_new") || col("y_new")) else j)
          .filter(col("src") =!= col("nn"))
          .select(col("src"), col("nn").as("dst"))
          .distinct()
          .join(g.select(col("src"), col("dst")), Seq("src", "dst"),
            "left_anti")
      }
      val newEdges = undF.filter(col("is_new")).count()
      val undAll = undF.count()
      val withFlag = twoHop(filtered = true).count()
      val without = twoHop(filtered = false).count()
      println(f"KNNAUDIT round=$r und=$undAll%d new_und=$newEdges%d " +
        f"cand_incremental=$withFlag%d cand_full=$without%d " +
        f"reduction=${1.0 - withFlag.toDouble / math.max(1L, without)}%.3f")
      val cand = twoHop(filtered = true)
      val scored = cand
        .join(en.select(col("rep").as("src"), col("embedding").as("s_emb"),
          col("nrm").as("s_nrm")), "src")
        .join(en.select(col("rep").as("dst"), col("embedding").as("d_emb"),
          col("nrm").as("d_nrm")), "dst")
        .select(col("src"), col("dst"),
          (expr("dot_f64(s_emb, d_emb)") / (col("s_nrm") * col("d_nrm")))
            .as("cosine"))
      val w = Window.partitionBy(col("src"))
        .orderBy(col("cosine").desc, col("dst"))
      undPrev = und
      g = g.unionAll(scored)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= Similarity.WorkK)
        .select(col("src"), col("dst"), col("cosine"))
        .localCheckpoint(false)
    }
    spark.stop()
  }
}
