package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import graft.{Local, SparkEntry}

/** A/B timer: `sbt "runMain graft.tools.TimeQuery name [name ...]"` times
  * each named catalog query against SPARK_GRAFT_SF_DIR with
  * [[Local.timed]] (one untimed warm-up, three timed passes, cache
  * cleared between passes) and prints min/median — the harness used for
  * the measure-don't-guess decisions recorded at cache/plan choice points
  * (e.g. the `.cache()` A/Bs in Dedup/TextAnalysis).
  *
  * Each timed pass also gets one line that splits its wall time into fn
  * construction (Dataset analysis plus any eager work inside the query
  * function) and the noop-sink action, with the jobs, stages and tasks the
  * pass ran and the summed driver gap between its jobs. */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: TimeQuery <queryName> [queryName ...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Local.session()
    run(spark, sfDir, args.toSeq)
    spark.stop()
  }

  /** Times each of `names` in `spark` and prints its lines. */
  def run(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    val trace = new JobTrace
    spark.sparkContext.addSparkListener(trace)
    val fns = SparkEntry.queries
    names.foreach { n =>
      val fn = fns(n)
      val passes = Local.timed(spark) {
        val from = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val fnSec = (System.nanoTime() - t0) / 1e9
        df.write.mode("overwrite").format("noop").save()
        (fnSec, from, System.currentTimeMillis())
      }
      trace.settle()
      passes.zipWithIndex.foreach { case ((sec, (fnSec, from, to)), i) =>
        val j = trace.totals(from, to)
        println(f"TIMEQ $n%-28s pass ${i + 1} fn=$fnSec%.3f " +
          f"action=${sec - fnSec}%.3f jobs=${j.jobs} stages=${j.stages} " +
          f"tasks=${j.tasks} gap_ms=${j.gapMs}")
      }
      val runs = passes.map(_._1).sorted
      println(f"TIMEQ $n%-28s min=${runs.head}%.3f median=${runs(1)}%.3f sf=$sfDir")
    }
    spark.sparkContext.removeSparkListener(trace)
  }

  final case class Totals(jobs: Int, stages: Int, tasks: Int, gapMs: Long)

  /** Job intervals and completed stages by event time (epoch ms), so a
    * window of them can be read after the asynchronous listener bus has
    * delivered it. */
  final class JobTrace extends SparkListener {
    private val open = new ConcurrentHashMap[Int, Long]()
    private val jobs = new ConcurrentLinkedQueue[(Long, Long)]()
    private val stages = new ConcurrentLinkedQueue[(Long, Int)]()
    @volatile private var lastEvent = System.nanoTime()

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      open.put(j.jobId, j.time)
      lastEvent = System.nanoTime()
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = {
      Option(open.remove(j.jobId)).foreach(t => jobs.add((t, j.time)))
      lastEvent = System.nanoTime()
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val i = s.stageInfo
      stages.add((i.submissionTime.getOrElse(0L), i.numTasks))
      lastEvent = System.nanoTime()
    }

    /** Waits until every started job has ended and no event arrived for
      * 200 ms, bounded at 10 s. */
    def settle(): Unit = {
      val deadline = System.nanoTime() + 10000000000L
      while ((!open.isEmpty || System.nanoTime() - lastEvent < 200000000L) &&
          System.nanoTime() < deadline) Thread.sleep(20)
    }

    /** Jobs and completed stages submitted in `[from, to]`, their tasks,
      * and the time between the first job's start and the last job's end
      * during which no job ran. */
    def totals(from: Long, to: Long): Totals = {
      def in(t: Long) = t >= from && t <= to
      val js = jobs.asScala.filter(j => in(j._1)).toSeq.sortBy(_._1)
      val ss = stages.asScala.filter(s => in(s._1)).toSeq
      var busy = 0L
      var reach = Long.MinValue
      js.foreach { case (s, e) =>
        if (e > reach) { busy += e - math.max(s, reach); reach = e }
      }
      val span = if (js.isEmpty) 0L else reach - js.head._1
      Totals(js.size, ss.size, ss.map(_._2).sum, span - busy)
    }
  }
}
