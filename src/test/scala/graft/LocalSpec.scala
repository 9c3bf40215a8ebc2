package graft

import org.apache.spark.sql.internal.SQLConf
import graft.tools.{DedupTier, ScaleSmoke, SmokeGate}

/** The launch policy the mains share ([[Local]]). `Local.session()` is
  * not called here: it would reset the shared session's shuffle
  * partitions. */
class LocalSpec extends SparkSpec {

  test("Local.session relies on Spark's defaults for adaptive execution and partition coalescing") {
    assert(SQLConf.ADAPTIVE_EXECUTION_ENABLED.defaultValue === Some(true))
    assert(SQLConf.COALESCE_PARTITIONS_ENABLED.defaultValue === Some(true))
  }

  test("Local.timed runs a warm-up plus three timed passes and clears the cache after each") {
    var calls = 0
    var cachedAtStart = List.empty[Boolean]
    val passes = Local.timed(spark) {
      calls += 1
      cachedAtStart ::= !spark.sharedState.cacheManager.isEmpty
      spark.range(0, 100).toDF("v").cache().count()
    }
    assert(calls === 4)
    // each pass after the first starts with the previous pass's frame gone
    assert(cachedAtStart.reverse.tail === List(false, false, false))
    assert(passes.size === 3)
    assert(passes.forall(_._1 >= 0.0))
    assert(passes.forall(_._2 === 100L))
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("every catalog name a main hard-codes resolves in SparkEntry.queries") {
    val known = SparkEntry.queries.keySet
    val lists = Seq(
      "SmokeGate.probes" -> SmokeGate.probes,
      "DedupTier.Entries" -> DedupTier.Entries,
      "ScaleSmoke.Defaults" -> ScaleSmoke.Defaults,
      "Explain.Defaults" -> Explain.Defaults)
    lists.foreach { case (where, names) =>
      assert(names.nonEmpty, where)
      val missing = names.filterNot(known)
      assert(missing.isEmpty, s"$where names unknown entries: $missing")
    }
  }
}
