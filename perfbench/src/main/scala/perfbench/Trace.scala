package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One clock for harness spans and Spark's listener events: epoch
  * milliseconds with sub-millisecond resolution from `nanoTime`. */
object Clock {
  private val baseEpoch = System.currentTimeMillis().toDouble
  private val baseNano = System.nanoTime()
  def nowMs(): Double = baseEpoch + (System.nanoTime() - baseNano) / 1e6
}

/** Span levels, outermost first: operation → fn → plan → action → SQL
  * execution → job → stage. `fn` and `action` are siblings under one
  * operation; Catalyst phases nest under whichever of them ran them. */
object Level {
  val Operation = 0
  val Call = 1 // fn or action
  val Plan = 2
  val Sql = 3
  val Job = 4
  val Stage = 5
}

/** Collects the traced run's spans and counters from outside the engine:
  * Spark's public `SparkListener` and `QueryExecutionListener`, plus the
  * harness's own timing of calls into the engine. Jobs are attributed to
  * operations by time window, since operations run one at a time and jobs
  * started from pool threads carry no job group. */
final class Tracer(spark: SparkSession) {
  import Tracer.Raw
  private val spans = new ConcurrentLinkedQueue[Raw]()
  private val lastEvent = new AtomicLong(System.nanoTime())

  // counters, all from listener threads
  private val c = scala.collection.concurrent.TrieMap.empty[String, AtomicLong]
  private def add(k: String, v: Long): Unit = {
    c.getOrElseUpdate(k, new AtomicLong()).addAndGet(v); ()
  }
  def counter(k: String): Long = c.get(k).map(_.get).getOrElse(0L)

  private val jobStarts = scala.collection.concurrent.TrieMap.empty[Int, (Double, String)]
  private val jobIntervals = new ConcurrentLinkedQueue[(Double, Double)]()
  private val blocks = scala.collection.concurrent.TrieMap.empty[String, Long]
  private val liveBytes = new AtomicLong()
  private val livePeak = new AtomicLong()
  private val sqlStarts = scala.collection.concurrent.TrieMap.empty[Long, (Double, String)]

  private def touch(): Unit = lastEvent.set(System.nanoTime())

  def span(level: Int, kind: String, name: String, start: Double, end: Double): Unit =
    spans.add(Raw(level, kind, name, start, end))

  def timed[T](level: Int, kind: String, name: String)(body: => T): T = {
    val t0 = Clock.nowMs()
    try body finally span(level, kind, name, t0, Clock.nowMs())
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      touch()
      val site = Option(e.properties).flatMap(p =>
        Option(p.getProperty("callSite.short"))).getOrElse("")
      jobStarts.put(e.jobId, (e.time.toDouble, site))
      add("scheduler.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      touch()
      jobStarts.remove(e.jobId).foreach { case (t0, site) =>
        jobIntervals.add((t0, e.time.toDouble))
        span(Level.Job, "job", s"job ${e.jobId}: $site", t0, e.time.toDouble)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      touch()
      val info = e.stageInfo
      add("scheduler.stages", 1)
      for (a <- info.submissionTime; b <- info.completionTime)
        span(Level.Stage, "stage", s"stage ${info.stageId}: ${info.name}",
          a.toDouble, b.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      touch()
      add("scheduler.tasks", 1)
      val info = e.taskInfo
      if (info.failed || info.killed) add("scheduler.tasks_failed", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("scheduler.task_run_ms", m.executorRunTime)
        add("scheduler.task_cpu_ns", m.executorCpuTime)
        val delay = info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime
        add("scheduler.sched_delay_ms", math.max(0L, delay))
        add("exchange.write_records", m.shuffleWriteMetrics.recordsWritten)
        add("exchange.write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("exchange.write_ns", m.shuffleWriteMetrics.writeTime)
        add("exchange.read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("exchange.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        add("spill.memory_bytes", m.memoryBytesSpilled)
        add("spill.disk_bytes", m.diskBytesSpilled)
        add("sources.write_rows", m.outputMetrics.recordsWritten)
        add("sources.write_bytes", m.outputMetrics.bytesWritten)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      touch()
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val key = b.blockId.name
        val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
        val before = blocks.getOrElse(key, 0L)
        if (size > 0) blocks.put(key, size) else blocks.remove(key)
        if (before == 0 && size > 0) add("Iterative.checkpoint_bytes", size)
        val live = liveBytes.addAndGet(size - before)
        livePeak.accumulateAndGet(live, (a, b) => math.max(a, b))
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        touch(); sqlStarts.put(s.executionId, (s.time.toDouble, s.description))
      case s: SparkListenerSQLExecutionEnd =>
        touch()
        sqlStarts.remove(s.executionId).foreach { case (t0, d) =>
          span(Level.Sql, "sql", s"sql ${s.executionId}: $d", t0, s.time.toDouble)
        }
      case _ =>
    }
  }

  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
    case q: QueryStageExec => p +: flatten(q.plan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(flatten)
  }

  private val writeNode = "(?i).*(write|insertinto|saveintodatasource|asselect).*".r

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(funcName, qe, 0L)
  }

  private def record(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    touch()
    add("catalyst.executions", 1)
    qe.tracker.phases.foreach { case (phase, s) =>
      add(s"catalyst.${phase}_ms", s.durationMs)
      span(Level.Plan, "plan", phase, s.startTimeMs.toDouble, s.endTimeMs.toDouble)
    }
    val nodes = try flatten(qe.executedPlan) catch { case _: Throwable => Nil }
    def m(n: SparkPlan, key: String): Long =
      n.metrics.get(key).map(_.value).filter(_ > 0).getOrElse(0L)
    nodes.foreach {
      case n: FileSourceScanExec =>
        add("Tables.scan_rows", m(n, "numOutputRows"))
        add("Tables.scan_bytes", m(n, "filesSize"))
        add("Tables.scan_ms", m(n, "scanTime"))
      case n if n.nodeName.contains("Aggregate") =>
        add("agg.ms", m(n, "aggTime"))
      case _ =>
    }
    if (nodes.exists(n => writeNode.matches(n.nodeName)))
      add("sources.write_ns", durationNs)
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcTotals: (Long, Long) =
    (gcBeans.map(_.getCollectionTime).filter(_ > 0).sum,
      gcBeans.map(_.getCollectionCount).filter(_ > 0).sum)
  private val gcAtStart = new AtomicReference[(Long, Long)]((0L, 0L))

  def start(): Unit = {
    gcAtStart.set(gcTotals)
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** Wait until listener delivery goes quiet, then detach. Delivery is
    * asynchronous; 300 ms without an event after the last action counts
    * as drained (bounded at 10 s). */
  def stop(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() - lastEvent.get() < 300000000L &&
        System.nanoTime() < deadline) Thread.sleep(20)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
    val (t0, n0) = gcAtStart.get
    val (t1, n1) = gcTotals
    add("jvm.gc_ms", t1 - t0)
    add("jvm.gc_count", n1 - n0)
  }

  def jobs: Seq[(Double, Double)] = jobIntervals.asScala.toSeq
  def livePeakBytes: Long = livePeak.get

  def allSpans: Seq[Stats.Span] =
    spans.asScala.toSeq.sortBy(r => (r.start, r.level)).zipWithIndex.map {
      case (r, i) => Stats.Span(i, r.level, r.kind, r.name, r.start, r.end)
    }
}

object Tracer {
  private final case class Raw(level: Int, kind: String, name: String,
      start: Double, end: Double)
}
