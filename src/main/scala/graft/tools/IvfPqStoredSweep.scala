package graft.tools

import graft.Local
import graft.operators.Semantic

/** Separates `emb_ivfpq_stored`'s two phases the way a deployment pays
  * them: TRAIN (build + persist coarse centroids, residual codebook,
  * cell-partitioned codes) once per tier, then SEARCH (probe the
  * re-read tables; warm-up + 3 timed passes, min). If the serving-state
  * claim holds, search cost tracks the codes relation (linear in the
  * corpus) while staying free of every training-side window/assignment
  * pass — and the 1× search time is a small fraction of train.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *   sbt "runMain graft.tools.IvfPqStoredSweep [mult ...]"  (default 1 8)
  */
object IvfPqStoredSweep {

  def main(args: Array[String]): Unit = {
    val mults = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 8)
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Local.session()

    mults.foreach { mult =>
      val dir = ScaleSmoke.scaledDir(spark, src, mult)
      val t0 = System.nanoTime()
      Semantic.writeIvfPqIndexTables(spark, dir)
      val trainSec = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()

      val runs = Local.timed(spark) {
        Semantic.ivfPqSearchStored(spark, dir, Semantic.IvfPqNProbe, 50)
          .write.mode("overwrite").format("noop").save()
      }.map(_._1).sorted
      println(f"""{"metric":"ivfpq_stored_x$mult%d","train_sec":$trainSec%.3f,"search_min_sec":${runs.head}%.3f,"search_median_sec":${runs(1)}%.3f}""")
    }
    spark.stop()
  }
}
