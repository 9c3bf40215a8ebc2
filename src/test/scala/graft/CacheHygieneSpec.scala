package graft

/** Cache hygiene: no catalog query may register session-lifetime cache
  * entries. `.cache()`/`.persist()` inside a query fn registers with the
  * session's CacheManager at call time and nothing ever unpersists it, so
  * a library caller invoking the fn repeatedly accumulates pinned blocks
  * until heap pressure (the round-2 sweep-inflation bug, harness-side
  * only until now). Queries that genuinely need to materialize a shared
  * subtree go through `graft.core.Cuts`, whose default `local` mode
  * leaves blocks owned by the RDD and freed by the ContextCleaner on GC.
  * This spec
  * makes the harnesses' defensive `clearCache()` belt-and-braces rather
  * than load-bearing. It reads the shared [[CatalogRuns]] pass. */
class CacheHygieneSpec extends SparkSpec {

  test("no catalog query leaves CacheManager entries after construction") {
    val runs = CatalogRuns(sf("sf0.001")).narrow.toSeq.sortBy(_._1)
    val failed = runs.collect { case (name, r) if r.fnError.isDefined =>
      s"$name: ${r.fnError.get}"
    }
    assert(failed.isEmpty,
      s"${failed.size} entries failed to construct:\n${failed.mkString("\n")}")
    val leaks = runs.collect { case (name, r) if r.cached => name }
    assert(leaks.isEmpty, s"${leaks.mkString(", ")} registered cache " +
      "entries — library callers would leak them")
  }
}
