package graft

/** LPA hybrid cutover: the driver-local loop must produce BIT-IDENTICAL
  * labels/modularity rows to the distributed unrolled plan — same
  * contract as `HybridEquivalenceSpec`. `spark.graft.hybrid=distributed`
  * forces the distributed path. */
class LabelPropHybridSpec extends SparkSpec {

  private val entries = Seq("graph_label_prop", "graph_modularity")

  test("local LPA rounds == distributed unrolled-plan rounds") {
    entries.foreach(assertLocalEqualsDistributed(_, "sf0.001"))
  }
}
