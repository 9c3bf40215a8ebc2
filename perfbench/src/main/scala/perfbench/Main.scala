package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `run.py` prepares the inputs and calls:
  *
  * {{{
  * perfbench.Main --workload <name> --seconds <s> --trace <0|1>
  *   --work <dir> --out <file> [--trace-out <file>] <workload inputs>
  * }}}
  *
  * It sets up `--setups` times (fresh session and inputs), warms up with
  * one untimed pass, then runs passes over the workload's operations, one operation at a
  * time, until `--seconds` have passed. With `--trace 1` a second window
  * of the same length runs with the tracer attached. Results go to
  * `--out` as JSON; the outputs of each operation's first run go under
  * `--work`/check for the independent checker. */
object Main {

  final case class Sample(op: String, ms: Double, ok: Boolean)
  final case class Window(startMs: Double, endMs: Double,
      passMs: Seq[Double], samples: Seq[Sample])

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = a("workload")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val cpus = a.getOrElse("cpus", Runtime.getRuntime.availableProcessors.toString).toInt
    val setups = a.getOrElse("setups", "3").toInt
    val warmups = a.getOrElse("warmups", "3").toInt
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    val wl: Workload = workloadName match {
      case "mr_number_count" =>
        new NumberCountWorkload(a("mr-n").toLong,
          a("mr-cardinalities").split(",").map(_.toInt).toSeq, a("mr-seed").toLong)
      case "catalog_mix" =>
        val byName = graft.SparkEntry.catalog.map(q => q.name -> q).toMap
        val entries = a("entries").split(",").toSeq.map(byName)
        val rows = a("table-rows").split(",").map { kv =>
          val Array(k, v) = kv.split("="); k -> v.toLong
        }.toMap
        new CatalogMixWorkload(
          new CatalogWorkload(entries, a("data"), rows),
          new SsspWorkload(a("graph"), a("source").toLong, a("edges").toLong))
      case other => sys.error(s"unknown workload $other")
    }

    // -- set-up, several times; each one a fresh session and fresh inputs --
    var spark: SparkSession = null
    val setupMs = ArrayBuffer.empty[Double]
    for (r <- 1 to setups) {
      // the first set-up also pays JVM start; the median leaves it out
      val t0 = if (r == 1) jvmStart else Clock.nowMs()
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val dir = s"$work/setup$r"
      Files.createDirectories(Paths.get(s"$dir/tmp"))
      // engine-side scratch (Dedup's and Sinks' tables) follows java.io.tmpdir
      System.setProperty("java.io.tmpdir", s"$dir/tmp")
      spark = SparkSession.builder()
        .master(s"local[$cpus]")
        .appName(s"perfbench-$workloadName")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", s"$dir/warehouse")
        .config("spark.local.dir", s"$dir/local")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val tSession = Clock.nowMs()
      wl.prepare(spark)
      setupMs += Clock.nowMs() - t0
      System.err.println(f"[perfbench] set-up $r: session ${tSession - t0}%.0f ms, " +
        f"inputs ${Clock.nowMs() - tSession}%.0f ms")
    }

    // -- warm-up: untimed passes; the first one's outputs are checked -----
    val first = scala.collection.mutable.LinkedHashMap.empty[String, OpResult]
    val warmFailures = scala.collection.mutable.LinkedHashSet.empty[String]
    val warm0 = Clock.nowMs()
    for (_ <- 1 to warmups; op <- wl.ops) {
      spark.catalog.clearCache()
      try {
        val res = op.run(new OpCtx(None, op.name, None))
        if (!first.contains(op.name)) first(op.name) = res
      } catch { case t: Throwable =>
        System.err.println(s"[perfbench] warm-up ${op.name} failed: $t")
        warmFailures += op.name
      }
    }
    val warmMs = Clock.nowMs() - warm0

    // -- timed window(s) ---------------------------------------------------
    val liveHeap = new LiveHeapPeak
    var emittedPairs = 0L
    def runWindow(tracer: Option[Tracer]): Window = {
      val emitted = tracer.map(_ => spark.sparkContext.longAccumulator("emitted"))
      val passes = ArrayBuffer.empty[Double]
      val samples = ArrayBuffer.empty[Sample]
      val start = Clock.nowMs()
      val deadline = start + seconds * 1000
      while (passes.isEmpty || Clock.nowMs() < deadline) {
        val p0 = Clock.nowMs()
        wl.ops.foreach { op =>
          spark.catalog.clearCache()
          val t0 = Clock.nowMs()
          val res = try Some(op.run(new OpCtx(tracer, op.name, emitted)))
            catch { case t: Throwable =>
              System.err.println(s"[perfbench] ${op.name} failed: $t"); None }
          val t1 = Clock.nowMs()
          tracer.foreach(_.span(Level.Operation, "operation", op.name, t0, t1))
          val ok = res.exists { r =>
            first.get(op.name) match {
              case Some(f) => f.fingerprint == r.fingerprint
              case None => first(op.name) = r; true
            }
          }
          samples += Sample(op.name, t1 - t0, ok)
        }
        passes += Clock.nowMs() - p0
      }
      emittedPairs = emitted.map(_.value.longValue).getOrElse(0L)
      Window(start, Clock.nowMs(), passes.toSeq, samples.toSeq)
    }
    spark.catalog.clearCache()
    System.gc()
    val calibrationMs = graft.Bench.calibrate()
    liveHeap.start()
    val plain = runWindow(None)
    val peakHeapMb = liveHeap.stop() / 1048576.0

    val runS = Stats.median(plain.passMs) / 1000
    val opS = plain.samples.map(_.ms / 1000)
    // each operation's own median first, so the median operation does not
    // hop between two operations' individual samples from run to run
    val opMedians = plain.samples.groupBy(_.op).values
      .map(ss => Stats.median(ss.map(_.ms / 1000))).toSeq
    val tail = Stats.tail(opS)
    val inputRowsPerPass = wl.ops.map(_.inputRows).sum
    val endToEnd = Seq(
      ("setup_s", Stats.median(setupMs.toSeq) / 1000, "s"),
      ("run_s", runS, "s"),
      ("op_p50_s", Stats.median(opMedians), "s"),
      ("op_tail_s", tail.value, "s"),
      ("input_rows_per_s", inputRowsPerPass / runS, "1/s"),
      ("peak_heap_mb", peakHeapMb, "MB"))

    // -- traced window -----------------------------------------------------
    var perLayer = Seq.empty[(String, Double, String)]
    var traceJson = ""
    var tracedSamples = Seq.empty[Sample]
    if (traced) {
      spark.catalog.clearCache()
      System.gc()
      val tracer = new Tracer(spark)
      tracer.start()
      val w = runWindow(Some(tracer))
      tracer.stop()
      tracedSamples = w.samples
      val probeMs = wl.probes.map { case (metric, prep) =>
        val body = prep()
        metric -> Stats.median((1 to 3).map { _ =>
          val t0 = Clock.nowMs(); body(); Clock.nowMs() - t0
        })
      }.toMap
      val passes = w.passMs.length.toDouble
      val windowMs = w.endMs - w.startMs
      def per(k: String, scale: Double = 1.0) = tracer.counter(k) * scale / passes
      val busy = Stats.unionLength(tracer.jobs.map { case (s, e) =>
        (math.max(s, w.startMs), math.min(e, w.endMs)) })
      val gap = Stats.driverGap(w.startMs, w.endMs, tracer.jobs)
      val spans = tracer.allSpans
      val self = Stats.selfTimes(spans)
      val parent = Stats.parents(spans)
      val fnMs = spans.filter(_.kind == "fn").map(_.duration).sum / passes
      // jobs belong to the operation whose window they start in
      val solveWindows = spans.filter(s => s.kind == "operation" && s.name == "sssp_syn_graph")
      val solveJobs = tracer.jobs.count { case (js, _) =>
        solveWindows.exists(o => o.start <= js && js <= o.end) }
      val tracedRunS = Stats.median(w.passMs) / 1000
      perLayer = Seq(
        ("Tables.scan_rows", per("Tables.scan_rows"), "count"),
        ("Tables.scan_bytes", per("Tables.scan_bytes"), "B"),
        ("Tables.scan_ms", per("Tables.scan_ms"), "ms"),
        ("queries.fn_ms", fnMs, "ms"),
        ("catalyst.analysis_ms", per("catalyst.analysis_ms"), "ms"),
        ("catalyst.optimization_ms", per("catalyst.optimization_ms"), "ms"),
        ("catalyst.planning_ms", per("catalyst.planning_ms"), "ms"),
        ("catalyst.executions", per("catalyst.executions"), "count"),
        ("scheduler.jobs", per("scheduler.jobs"), "count"),
        ("scheduler.stages", per("scheduler.stages"), "count"),
        ("scheduler.tasks", per("scheduler.tasks"), "count"),
        ("scheduler.job_busy_ms", busy / passes, "ms"),
        ("scheduler.driver_gap_ms", gap / passes, "ms"),
        ("scheduler.task_run_ms", per("scheduler.task_run_ms"), "ms"),
        ("scheduler.task_cpu_ms", per("scheduler.task_cpu_ns", 1e-6), "ms"),
        ("scheduler.sched_delay_ms", per("scheduler.sched_delay_ms"), "ms"),
        ("scheduler.tasks_failed", per("scheduler.tasks_failed"), "count"),
        ("MapReduce.emitted_pairs", emittedPairs / passes, "count"),
        ("MapReduce.combine_ratio",
          Stats.combineRatio(tracer.counter("exchange.write_records"), emittedPairs), "ratio"),
        ("exchange.write_records", per("exchange.write_records"), "count"),
        ("exchange.write_bytes", per("exchange.write_bytes"), "B"),
        ("exchange.read_bytes", per("exchange.read_bytes"), "B"),
        ("exchange.fetch_wait_ms", per("exchange.fetch_wait_ms"), "ms"),
        ("exchange.write_ms", per("exchange.write_ns", 1e-6), "ms"),
        ("agg.ms", per("agg.ms"), "ms"),
        ("spill.memory_bytes", per("spill.memory_bytes"), "B"),
        ("spill.disk_bytes", per("spill.disk_bytes"), "B"),
        ("ShortestPath.jobs_per_solve",
          if (solveWindows.isEmpty) 0.0 else solveJobs.toDouble / solveWindows.length, "count"),
        ("Iterative.checkpoint_bytes", per("Iterative.checkpoint_bytes"), "B"),
        ("Iterative.live_blocks_peak_bytes", tracer.livePeakBytes.toDouble, "B"),
        ("functions.tokenize_ms", probeMs.getOrElse("functions.tokenize_ms", 0.0), "ms"),
        ("functions.minhash_ms", probeMs.getOrElse("functions.minhash_ms", 0.0), "ms"),
        ("sources.write_rows", per("sources.write_rows"), "count"),
        ("sources.write_bytes", per("sources.write_bytes"), "B"),
        ("sources.write_ms", per("sources.write_ns", 1e-6), "ms"),
        ("jvm.gc_ms", per("jvm.gc_ms"), "ms"),
        ("jvm.gc_count", per("jvm.gc_count"), "count"),
        ("trace.overhead_frac", tracedRunS / runS - 1, "ratio"))
      val selfByKind = spans.groupBy(_.kind).map { case (k, ss) =>
        k -> ss.map(s => self(s.id)).sum / passes }
      traceJson = Json.obj(
        "workload" -> workloadName,
        "window_ms" -> windowMs,
        "passes" -> passes,
        "self_ms_per_pass" -> selfByKind,
        "shares_of_run" -> Map(
          "driver_gap_plus_catalyst" -> (gap + tracer.counter("catalyst.analysis_ms") +
            tracer.counter("catalyst.optimization_ms") +
            tracer.counter("catalyst.planning_ms")) / windowMs,
          "job_busy" -> busy / windowMs,
          "task_run_per_core" -> tracer.counter("scheduler.task_run_ms") / (windowMs * cpus)),
        "metrics" -> perLayer.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap,
        "spans" -> spans.map { s =>
          Map("id" -> s.id, "parent" -> parent(s.id), "kind" -> s.kind, "name" -> s.name,
            "start_ms" -> (s.start - w.startMs), "dur_ms" -> s.duration,
            "self_ms" -> self(s.id))
        })
    }

    // -- outputs for the checker (outside every timed window) -------------
    val checkDir = s"$work/check"
    Files.createDirectories(Paths.get(checkDir))
    val all = plain.samples ++ tracedSamples
    val checks = wl.ops.map { op =>
      val res = first.get(op.name)
      res.foreach(r => r.dump(s"$checkDir/${op.name}"))
      val mine = all.filter(_.op == op.name)
      Map("op" -> op.name, "attempted" -> mine.length,
        "failed" -> mine.count(!_.ok), "produced" -> res.isDefined,
        "dump" -> s"$checkDir/${op.name}") ++ res.map(_.check).getOrElse(Map.empty)
    }
    val out = Json.obj(
      "workload" -> workloadName,
      "input" -> wl.inputNote,
      "calibration_ms" -> calibrationMs,
      "setups_ms" -> setupMs.toSeq,
      "warmup_ms" -> warmMs,
      "passes" -> plain.passMs.length,
      "pass_ms" -> plain.passMs,
      "samples" -> opS.length,
      "tail" -> Map("percentile" -> tail.percentile, "beyond" -> tail.beyond),
      "attempted" -> all.length,
      "failed" -> all.count(!_.ok),
      "warmup_failures" -> warmFailures.toSeq,
      "gcs_in_window" -> liveHeap.collections,
      "end_to_end" -> endToEnd.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "per_layer" -> perLayer.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "ops" -> plain.samples.groupBy(_.op).map { case (k, ss) =>
        k -> Map("n" -> ss.length, "p50_s" -> Stats.median(ss.map(_.ms / 1000))) },
      "checks" -> checks)
    Files.writeString(Paths.get(a("out")), out)
    a.get("trace-out").filter(_ => traced).foreach { p =>
      Files.createDirectories(Paths.get(p).getParent)
      Files.writeString(Paths.get(p), traceJson)
    }
    spark.stop()
  }
}

/** Just enough JSON for the harness's own output. */
object Json {
  def obj(kv: (String, Any)*): String = enc(scala.collection.immutable.ListMap(kv: _*))
  def enc(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => enc(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => enc(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + enc(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(enc).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Peak live heap over a window: the largest heap occupancy right after a
  * garbage collection (what survives, so it does not depend on how full
  * the young generation happened to be). Falls back to the occupancy at
  * the window's end when no collection ran. */
final class LiveHeapPeak {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var armed = false
  @volatile private var peak = 0L
  @volatile var collections = 0

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (armed && n.getType ==
          GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        val live = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { peak = math.max(peak, live); collections += 1 }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def start(): Unit = synchronized { peak = 0; collections = 0; armed = true }
  def stop(): Long = synchronized {
    armed = false
    if (collections > 0) peak
    else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
}
