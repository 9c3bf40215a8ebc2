package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Local
import graft.operators.Similarity

/** In-session A/B for the NN-descent refinement loop (r15): times the
  * full `emb_knn_graph_refined` plan under three variants on the SAME
  * warmed session —
  *   full:   r14 shape (no incremental flag, und not checkpointed)
  *   incr:   r15 shape (new/old flag + und lazily checkpointed)
  *   incrnc: new/old flag, und NOT checkpointed
  * so harness effects (JIT, page cache, session config) cancel and the
  * measured delta is the algorithm, not the box. One warm-up + three
  * timed passes per variant, min/median reported. */
object TimeKnnAb {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Local.session()
    graft.functions.VectorFunctions.register(spark)

    /** The r15 shipped shape — delegates to the real entry. */
    def entry(): DataFrame = Similarity.knnGraphRefined.fn(spark, sfDir)

    // SPARK_GRAFT_KNN_H overrides the hyperplane count for the synthetic
    // distinct-vector tiers (H ≈ log2(n / target bucket size) keeps the
    // bucket density at the bench corpus's level as n grows — without it
    // the fixed 2^6-bucket tables overflow quadratically and the tier
    // measures bucket overflow, not the refinement loop)
    val knnH = sys.env.get("SPARK_GRAFT_KNN_H").map(_.toInt)
      .getOrElse(Similarity.NumHyperplanes)

    def build(incremental: Boolean, cutUnd: Boolean,
        joinRestrict: Boolean = false, cutBase: Boolean = false): DataFrame = {
      val (en0, g00) = Similarity.knnBase(spark, sfDir, Similarity.WorkK, knnH)
      // cutBase: checkpoint the expensive knnBase subtrees ONCE — every
      // localCheckpoint boundary downstream breaks exchange reuse, so
      // without this en/g0 recompute on each side of each boundary
      val (en, g0) =
        if (cutBase) (en0.localCheckpoint(false), g00.localCheckpoint(false))
        else (en0, g00)
      var g = g0
      var undPrev: DataFrame = null
      for (_ <- 1 to Similarity.RefineRounds) {
        val revW = Window.partitionBy(col("src"))
          .orderBy(col("cosine").desc, col("dst"))
        val rev = g.select(col("dst").as("src"), col("src").as("dst"),
            col("cosine"))
          .withColumn("rr", row_number().over(revW))
          .filter(col("rr") <= Similarity.WorkK)
          .select(col("src"), col("dst"))
        val und0 = g.select(col("src"), col("dst")).unionAll(rev).distinct()
        val und = if (cutUnd) und0.localCheckpoint(false) else und0
        def twoHop(x: DataFrame, y: DataFrame): DataFrame =
          x.select(col("src"), col("dst").as("mid"))
            .join(y.select(col("src").as("mid"), col("dst").as("nn")),
              Seq("mid"))
            .select(col("src"), col("nn").as("dst"))
        val cand0 =
          if (joinRestrict && undPrev != null) {
            val undNew = und.join(undPrev, Seq("src", "dst"), "left_anti")
            twoHop(undNew, und).unionAll(twoHop(und, undNew))
          } else if (incremental && undPrev != null) {
            val undF = und.join(undPrev.withColumn("seen", lit(true)),
                Seq("src", "dst"), "left")
              .select(col("src"), col("dst"), col("seen").isNull.as("is_new"))
            undF.select(col("src"), col("dst").as("mid"),
                col("is_new").as("x_new"))
              .join(undF.select(col("src").as("mid"), col("dst").as("nn"),
                col("is_new").as("y_new")), Seq("mid"))
              .filter(col("x_new") || col("y_new"))
              .select(col("src"), col("nn").as("dst"))
          } else twoHop(und, und)
        val cand = cand0
          .filter(col("src") =!= col("dst"))
          .distinct()
          .join(g.select(col("src"), col("dst")), Seq("src", "dst"),
            "left_anti")
        if (incremental || joinRestrict) undPrev = und
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
        g = g.unionAll(scored)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= Similarity.WorkK)
          .select(col("src"), col("dst"), col("cosine"))
          .localCheckpoint(false)
      }
      val w = Window.partitionBy(col("src"))
        .orderBy(col("cosine").desc, col("dst"))
      g.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("src"), col("rank").cast("int").as("rank"),
          col("dst"), col("cosine"))
        .orderBy(col("src"), col("rank"))
    }

    // variant order is a CLI arg: localCheckpoint blocks are freed by the
    // ContextCleaner on GC, not clearCache(), so within-session ordering
    // is a potential confound — run both orders before believing a delta
    val all = Map[String, () => DataFrame](
      "full" -> (() => build(incremental = false, cutUnd = false)),
      "fullcut" -> (() => build(incremental = false, cutUnd = true)),
      "flagpost" -> (() => build(incremental = true, cutUnd = true)),
      "joinnc" -> (() => build(incremental = false, cutUnd = false,
        joinRestrict = true)),
      "joincut" -> (() => build(incremental = false, cutUnd = true,
        joinRestrict = true)),
      "fullcp" -> (() => build(incremental = false, cutUnd = false,
        cutBase = true)),
      "joincp" -> (() => build(incremental = false, cutUnd = true,
        joinRestrict = true, cutBase = true)),
      "entry" -> (() => entry()))
    val variants = (if (args.nonEmpty) args.toSeq
      else Seq("full", "flagpost", "joincut")).map(n => n -> all(n))
    variants.foreach { case (name, mk) =>
      val runs = Local.timed(spark)(mk().write.mode("overwrite")
        .format("noop").save()).map(_._1).sorted
      println(f"KNNAB $name%-7s min=${runs.head}%.3f " +
        f"median=${runs(runs.size / 2)}%.3f passes=${runs.size}")
    }
    spark.stop()
  }
}
