package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-phase execution metrics for one query — the Spark analogue of the
  * reference's `__TIMING__` map/merge/reduce breakdown (firebird.h:185-230):
  * scan == map input, shuffle == merge, aggregate == reduce. Scraped from
  * the executed plan's SQLMetrics after each warm-up action (the warm-up
  * pass runs the identical workload, and draining the async listener there
  * keeps the timed passes unpolluted). */
final case class PhaseStats(
    var scanRows: Long = 0, var scanMs: Long = 0,
    var shuffleRows: Long = 0, var shuffleBytes: Long = 0,
    var aggMs: Long = 0) {
  def json: String =
    s"""{"scan_rows":$scanRows,"scan_ms":$scanMs,"shuffle_rows":$shuffleRows,""" +
      s""""shuffle_bytes":$shuffleBytes,"agg_ms":$aggMs}"""
}

/** QueryExecutionListener that attributes every execution's plan metrics
  * to the query name set via [[expect]]. Delivery is async; [[drain]]
  * polls until the expected action's event lands (bounded). */
final class PhaseCollector extends QueryExecutionListener {
  // events are tagged with the expected query name AT ARRIVAL, so a
  // straggler folded after the next expect() still lands on the query
  // whose window it arrived in (delivery is async; an event arriving
  // after its query's drain deadline is the residual misattribution
  // window — acceptable for diagnostics, noted here)
  private val events = new ConcurrentLinkedQueue[(String, QueryExecution)]()
  val stats = scala.collection.mutable.LinkedHashMap.empty[String, PhaseStats]
  @volatile private var current: String = ""

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    events.add((current, qe))
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def expect(name: String): Unit = { current = name }

  /** Fold every event that has arrived for the current query into its
    * stats, waiting up to `timeoutMs` for at least one. */
  def drain(timeoutMs: Long = 2000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var seen = false
    while (!seen && System.currentTimeMillis() < deadline) {
      if (events.isEmpty) Thread.sleep(10)
      while (!events.isEmpty) { seen = true; fold(events.poll()) }
    }
    // late stragglers from multi-action queries
    while (!events.isEmpty) fold(events.poll())
  }

  /** Recursively flatten, stepping through AQE wrapper nodes whose real
    * children are not in `children`. */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
    case q: QueryStageExec => p +: flatten(q.plan)
    case _ => p +: p.children.flatMap(flatten)
  }

  private def fold(tagged: (String, QueryExecution)): Unit = {
    val (name, qe) = tagged
    val st = stats.getOrElseUpdate(name, PhaseStats())
    flatten(qe.executedPlan).foreach { node =>
      def m(key: String): Long =
        node.metrics.get(key).map(_.value).filter(_ > 0).getOrElse(0L)
      val name = node.nodeName
      if (name.contains("Scan")) {
        st.scanRows += m("numOutputRows")
        st.scanMs += m("scanTime")
      } else if (name.contains("Exchange") && !name.contains("Broadcast")) {
        st.shuffleRows += m("shuffleRecordsWritten")
        // dataSize only: the uncompressed in-memory estimate, one
        // consistent unit across queries (shuffleBytesWritten is
        // compressed on-disk bytes — incommensurable)
        st.shuffleBytes += m("dataSize")
      } else if (name.contains("Aggregate")) {
        st.aggMs += m("aggTime")
      }
    }
  }
}

/** Driver-run benchmark: headline queries at SPARK_GRAFT_SF_DIR (sf0.1),
  * one JSON result line on stdout. */
object Bench {
  /** Contention sentinel: fixed single-threaded CPU work (2e8 xorshift64
    * steps) whose wall time depends only on how much of one core this JVM
    * gets. Constant on an idle box; inflated roughly in proportion to the
    * core steal under contention. Timed before each bench pass and embedded
    * per-pass in bench_out.json so a polluted record is self-identifying
    * (round 5: the official 154.3 s record was 9-15x off the idle-box truth
    * on specific queries and only a manual re-run could tell regression
    * from noisy neighbor). */
  def calibrate(): Long = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 200000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    if (x == 0) System.err.println("") // defeat dead-code elimination
    (System.nanoTime() - t0) / 1000000
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Local.session()
    val fns = SparkEntry.queries
    // Full untimed warm-up pass: every query shape once, so the timed pass
    // measures steady-state execution rather than one-time JVM/JIT/codegen
    // compilation (round-1 driver data showed the first ~10 timed queries
    // absorbing ~150 s of warm-up that later identical shapes didn't pay).
    // Page-cache warmth for the parquet inputs matches the reference's
    // model, whose input array is in memory before its timed run() begins.
    // the warm-up pass doubles as the per-phase metrics pass (F9 parity):
    // same workload, and the async listener drain never touches the timed
    // passes
    val phases = new PhaseCollector
    spark.listenerManager.register(phases)
    SparkEntry.benchQueries.foreach { name =>
      phases.expect(name)
      try {
        fns(name)(spark, sfDir).write.mode("overwrite").format("noop").save()
        phases.drain()
      } catch {
        case t: Throwable => System.err.println(s"[bench] warmup $name: $t")
      }
    }
    spark.listenerManager.unregister(phases)
    // drain warm-up garbage so the first timed query doesn't absorb a
    // full-heap collection
    System.gc()
    var failed = List.empty[String]
    // Contention sentinel: a fixed single-threaded CPU loop whose runtime
    // depends only on how much of one core this JVM actually gets. On an
    // idle box it is a constant (~100-200 ms here); a noisy neighbor
    // stealing cores inflates it roughly in proportion to the steal. Timed
    // immediately before each pass and embedded per-pass in bench_out.json,
    // so a contention-polluted record is self-identifying: the round-5
    // official bench read 154.3 s (q52 at 20.8 s) while the same binary on
    // the idle box measured 108.6 s (q52 1.78 s) — min-of-two-passes cannot
    // defend against contention spanning both passes, but calibration
    // timings let the reader reject the run instead of reading a phantom
    // regression. (Loop lives in Bench.calibrate so CalibrationSpec can
    // A/B it under synthetic load.)
    // per query: (time, succeeded). A failed pass's time is the
    // time-to-exception, which must never win the min against a
    // successful pass's real runtime.
    def timedPass(): Seq[(String, Double, Boolean)] =
      SparkEntry.benchQueries.map { name =>
        val t0 = System.nanoTime()
        val ok =
          try {
            fns(name)(spark, sfDir).write.mode("overwrite").format("noop").save()
            true
          } catch { case t1: Throwable =>
            System.err.println(s"[bench] $name noop-write failed: $t1")
            try { fns(name)(spark, sfDir).count(); true }
            catch { case t2: Throwable =>
              System.err.println(s"[bench] $name count fallback failed: $t2")
              if (!failed.contains(name)) failed ::= name
              false
            }
          }
        (name, (System.nanoTime() - t0) / 1e9, ok)
      }
    // two timed passes, report per-query min: steady-state latency robust
    // to a stray GC pause / codegen-cache eviction landing on one query.
    // The skip threshold exists only for a PATHOLOGICALLY contended box
    // (one pass taking many minutes), so total bench wall-clock stays
    // bounded. It must sit well above the full catalog's normal
    // first-pass time: round 8's driver gate run came in at 165.7 s
    // first-pass (codec/JIT warm-up outliers like mm_video_frames 15.7 s
    // vs 3.1 s steady-state) and the old 150 s threshold skipped the
    // second pass, so the tracked record carried single-pass noise the
    // min-of-two discipline exists to absorb.
    // drop cached frames queries registered (each invocation caches fresh
    // entries the session would otherwise accumulate across passes)
    spark.catalog.clearCache()
    val cal1 = calibrate()
    val p1 = timedPass()
    spark.catalog.clearCache()
    val (cal2, p2opt) =
      if (p1.map(_._2).sum <= 480.0) {
        val c = calibrate()
        (Some(c), Some(timedPass()))
      } else (None, None)
    val results = p2opt match {
      case Some(p2) =>
        p1.zip(p2).map { case ((n, a, okA), (_, b, okB)) =>
          n -> ((okA, okB) match {
            case (true, false) => a
            case (false, true) => b
            case _ => math.min(a, b)
          })
        }
      case None => p1.map { case (n, t, _) => n -> t }
    }
    def passJson(cal: Long, p: Seq[(String, Double, Boolean)]): String = {
      val q = p.map { case (n, t, _) => "\"" + n + "\":" + t }
        .mkString("{", ",", "}")
      s"""{"calibration_ms":$cal,"total":${p.map(_._2).sum},"queries":$q}"""
    }
    val passes =
      (passJson(cal1, p1) ::
        (for { c <- cal2; p <- p2opt } yield passJson(c, p)).toList)
        .mkString("[", ",", "]")
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val errs = failed.reverse.map("\"" + _ + "\"").mkString("[", ",", "]")
    val ph = phases.stats.map { case (k, v) => "\"" + k + "\":" + v.json }
      .mkString("{", ",", "}")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"passes":$passes,"phases":$ph,"sf":"$sfDir"}"""
    println(json)
    // The stdout line is buried in sbt [info] noise and the driver only
    // captures a ~2 kB tail — too short for a 149-query line — so persist
    // the JSON where a machine can read it (BENCH_r01-r04 and r07 all
    // recorded "parsed": null for exactly this reason). Two copies: the
    // legacy cwd file (gitignored, local iteration) and a tracked path
    // under bench_records/ so the driver's own end-of-round run survives
    // into the next commit as a durable record.
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_out.json"), json + "\n")
    try {
      // anchor the durable record at the REPO ROOT, not the cwd: walk up
      // from the launch directory to the nearest build.sbt (sbt runs from
      // the root, but a bare `java -cp` launch from elsewhere previously
      // dropped a stray bench_records/ and silently left the tracked
      // record stale). The absolute path is logged either way so a
      // misplaced record is visible, never silent.
      val cwd = java.nio.file.Paths.get("").toAbsolutePath
      val root = Iterator.iterate(cwd)(_.getParent).takeWhile(_ != null)
        .find(p => java.nio.file.Files.exists(p.resolve("build.sbt")))
        .getOrElse(cwd)
      val rec = root.resolve("bench_records")
      java.nio.file.Files.createDirectories(rec)
      val dest = rec.resolve("BENCH_LATEST.json")
      java.nio.file.Files.writeString(dest, json + "\n")
      System.err.println(s"[bench] durable record: ${dest.toAbsolutePath}")
    } catch { case t: Throwable =>
      System.err.println(s"[bench] could not write bench_records copy: $t")
    }
    spark.stop()
  }
}
