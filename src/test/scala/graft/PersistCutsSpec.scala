package graft

import graft.core.Cuts

/** The production cut setting runs: `spark.graft.planCuts=persist` keeps
  * lineage behind a cache entry instead of truncating it, and must give
  * the same rows as the default `local` cuts. One entry per operator
  * family whose shared corpus-sized relations (token frames, shingle
  * sets, MinHash bands, window hashes, perceptual hashes, chunk hashes)
  * go through [[Cuts.cut]]. `persist` registers cache entries by design,
  * so each test clears the cache afterwards. */
class PersistCutsSpec extends SparkSpec {

  private val entries = Seq("dedup_minhash_lsh", "dedup_substring",
    "dedup_winnowing", "text_cdc_chunk", "mm_phash_neardup",
    "pipeline_curation_e2e", "pipeline_incremental_e2e")

  private def rows(name: String) =
    SparkEntry.queries(name)(spark, sf("sf0.001")).collect()
      .map(_.toString).sorted.toSeq

  for (name <- entries) test(s"$name: planCuts=persist gives the default mode's rows") {
    try {
      spark.catalog.clearCache()
      val want = rows(name)
      assert(spark.sharedState.cacheManager.isEmpty, "local cuts cache nothing")
      val got = withConf(Cuts.ConfKey -> "persist")(rows(name))
      assert(!spark.sharedState.cacheManager.isEmpty,
        "the entry reaches a mode-governed cut")
      assert(want.nonEmpty)
      assert(got === want)
    } finally spark.catalog.clearCache()
  }
}
