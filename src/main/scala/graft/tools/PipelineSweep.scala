package graft.tools

import org.apache.spark.sql.functions._
import graft.{Local, Tables}
import graft.operators.PipelineE2E
import graft.sources.Sinks

/** Measures `pipeline_incremental_e2e`'s steady-state claim: per-day
  * cost is proportional to the BATCH, not the stored corpus. The
  * catalog entry charges its hermetic bootstrap in-entry, so its bench
  * number is bootstrap-plus-three-days; this sweep separates the phases
  * and holds the ingest batches FIXED (the source dir's day slices)
  * while the day-0 bootstrap corpus scales 8×/64× via replica dirs:
  *
  *  - bootstrap (timed once per tier): build the four graft_pipe_*
  *    stores from the SCALED day-0 corpus — the one-time cost
  *    production amortizes across ingests;
  *  - per day 1–3 (timed separately): the probe/report phase
  *    ([[PipelineE2E.dayReport]] — decontaminate + stored-index dedup +
  *    span probe + calibrated gate, eagerly materialized) and the
  *    store-maintenance append ([[PipelineE2E.appendStores]]).
  *
  * If the incremental claim holds, the day phases stay near-flat as the
  * stored corpus grows while bootstrap scales with it. (Replica-corpus
  * caveat, as in IncrementalSweep: scaled copies are verbatim
  * duplicates, so candidate fan-out at the band probe grows with the
  * copy count — an artifact that biases the probe numbers UP at high
  * tiers; on real data collision sets track the duplication rate, not
  * corpus size.)
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *   sbt "runMain graft.tools.PipelineSweep [mult ...]"   (default 1 8)
  */
object PipelineSweep {

  def main(args: Array[String]): Unit = {
    val mults = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 8)
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Local.session()

    // the FIXED ingests: the source dir's three day slices, identical at
    // every tier
    val srcCorpus = PipelineE2E.withDay(
      Tables.documents(spark, src).filter(col("doc_id") >= 50))
    val batches = (1L to 3L).map(dd =>
      dd -> srcCorpus.filter(col("day") === dd).localCheckpoint(false))

    def runTier(dir: String, label: String, report: Boolean): Unit = {
      val docsAll = Tables.documents(spark, dir)
      val corpus = PipelineE2E.withDay(docsAll.filter(col("doc_id") >= 50))
      val base = Sinks.sinkBase(dir)
      val b0 = System.nanoTime()
      PipelineE2E.bootstrapStores(spark, docsAll, corpus, base)
      val bootstrapSec = (System.nanoTime() - b0) / 1e9
      val dayTimes = batches.map { case (dd, batch) =>
        val p0 = System.nanoTime()
        PipelineE2E.dayReport(spark, batch, dd) // eager checkpoint inside
        val probeSec = (System.nanoTime() - p0) / 1e9
        val a0 = System.nanoTime()
        PipelineE2E.appendStores(spark, batch, base)
        val appendSec = (System.nanoTime() - a0) / 1e9
        (dd, probeSec, appendSec)
      }
      spark.catalog.clearCache()
      if (report) {
        val days = dayTimes.map { case (dd, p, a) =>
          f""""day$dd%d":{"probe_sec":$p%.3f,"append_sec":$a%.3f}"""
        }.mkString(",")
        println(f"""{"metric":"pipeline_$label%s","bootstrap_sec":$bootstrapSec%.3f,$days%s}""")
      }
    }

    // JIT warm-up at 1×, unreported
    runTier(src, "warmup", report = false)
    mults.foreach { mult =>
      runTier(ScaleSmoke.scaledDir(spark, src, mult), s"x$mult", report = true)
    }
    spark.stop()
  }
}
