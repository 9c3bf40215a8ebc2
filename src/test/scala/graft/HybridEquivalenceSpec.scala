package graft

/** Every catalog entry behind a [[graft.core.Hybrid]] seam must give the
  * same rows on its driver-local kernel (`auto`, which takes the local
  * path at these fixture sizes) as on its distributed plan
  * (`spark.graft.hybrid=distributed`), row by row and bit for bit. The
  * local kernels compute in exact arithmetic, so any difference is a bug
  * in one of the two spellings. The label-propagation, wedge/triangle and
  * spectral families run the same check in `LabelPropHybridSpec`,
  * `TriangleHybridSpec` and `SpectralHybridSpec`. */
class HybridEquivalenceSpec extends SparkSpec {

  /** Entry → scale factor. The kNN pair needs sf0.01 for a corpus whose
    * buckets and NN-descent rounds are non-trivial. */
  private val entries = Seq(
    // PageRank mass loop
    "graph_pagerank" -> "sf0.001", "graph_ppr" -> "sf0.001",
    "graph_pagerank_plaw" -> "sf0.001",
    // kNN graph
    "emb_knn_graph" -> "sf0.01", "emb_knn_graph_refined" -> "sf0.01",
    // quantile narrowing state
    "q23_percentiles" -> "sf0.001")

  entries.foreach { case (name, scale) =>
    test(s"$name at $scale: local kernel == distributed plan, row by row") {
      assertLocalEqualsDistributed(name, scale)
    }
  }
}
