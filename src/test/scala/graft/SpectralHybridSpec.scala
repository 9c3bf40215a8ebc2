package graft

/** The spectral family's hybrid cutover: the driver-local exact-BIGINT
  * power-iteration rounds must produce BIT-IDENTICAL output to the
  * distributed superstep loop for every entry — same contract as
  * `HybridEquivalenceSpec`. `spark.graft.hybrid=distributed` forces the
  * distributed path; the default takes the local path on these fixtures.
  * Integer sums are order-free, so equality here pins the whole training
  * loop (including the stored twin's table round-trip and the deflated
  * Gram–Schmidt step) and the distributed projection passes both paths
  * share. */
class SpectralHybridSpec extends SparkSpec {

  private val entries = Seq("emb_power_iteration", "emb_power_deflate",
    "emb_spectral_outliers", "emb_spectral_map", "emb_spectral_stored")

  test("local cutover output == distributed plan output, row by row") {
    entries.foreach(assertLocalEqualsDistributed(_, "sf0.001"))
  }
}
