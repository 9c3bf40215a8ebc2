package graft

/** The wedge/triangle family's hybrid cutover: the driver-local
  * exact-integer kernels must produce BIT-IDENTICAL output to the
  * distributed plans for every entry — same contract as
  * `HybridEquivalenceSpec`. `spark.graft.hybrid=distributed` forces the
  * distributed path; the default takes the local path on these fixtures.
  * The final double expressions (coeff, jaccard, assortativity) are the
  * same Catalyst trees in both paths, so this also pins the exact-integer
  * kernels feeding them. */
class TriangleHybridSpec extends SparkSpec {

  private val entries = Seq("graph_triangles", "graph_triangles_plaw",
    "graph_clustering_coeff", "graph_common_neighbors",
    "graph_assortativity")

  test("local cutover output == distributed plan output, row by row") {
    entries.foreach(assertLocalEqualsDistributed(_, "sf0.001"))
  }
}
