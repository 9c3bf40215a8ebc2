package graft

import graft.streaming.EventStreams
import graft.streaming.EventStreams.{Ev, Session}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Structured Streaming behavior: streaming results must agree with the
  * batch formulation (Spark's unification promise), and event-time-timeout
  * sessionization must close sessions as the watermark passes the gap. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  // offset well past epoch 0: an event at exactly the initial watermark (0)
  // would be dropped as late by the state operators
  def ts(min: Long): Timestamp = new Timestamp((100000L + min) * 60000L)

  test("streaming windowed counts == batch aggregation on the same data") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val events = Seq(
      Ev(ts(1), 1, "click", 1.0), Ev(ts(5), 2, "view", 2.0),
      Ev(ts(61), 1, "click", 3.0), Ev(ts(62), 1, "view", 4.0),
      Ev(ts(125), 3, "click", 5.0))
    val q = EventStreams.windowedCounts(mem.toDF(), "1 hour", "2 hours")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode("complete").start()
    mem.addData(events: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("win_counts")
      .select(col("window_start"), col("event_type"), col("n"), col("sum_value"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    val batch = EventStreams.windowedCounts(events.toDF(), "1 hour", "2 hours")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(streamed == batch)
    assert(streamed.toSeq.map(_._3).sum == events.size)
  }

  test("sessionize closes sessions via event-time timeout") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = EventStreams.sessionize(mem.toDS(), gapSec = 1800)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    // user 1: two events 10 min apart (one session)
    mem.addData(Ev(ts(0), 1, "click", 1.0), Ev(ts(10), 1, "view", 1.0))
    out.processAllAvailable()
    // far-future event advances the watermark past user 1's gap → times out
    mem.addData(Ev(ts(600), 2, "click", 1.0))
    out.processAllAvailable()
    mem.addData(Ev(ts(1200), 3, "click", 1.0))
    out.processAllAvailable()
    out.stop()
    val sessions = spark.table("sessions").as[Session].collect()
    val u1 = sessions.filter(_.user_id == 1)
    assert(u1.length == 1)
    assert(u1.head.n_events == 2)
    assert(u1.head.start_ts == ts(0) && u1.head.end_ts == ts(10))
    // user 2's session closed when user 3's event advanced the watermark
    assert(sessions.exists(s => s.user_id == 2 && s.n_events == 1))
  }

  test("native session_window streaming agg matches the GroupState sessionizer on the same fixture") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = EventStreams.sessionizeNative(mem.toDS(), gapSec = 1800)
      .writeStream.format("memory").queryName("native_sessions")
      .outputMode("append").start()
    // same feed as the GroupState test: one 2-event session for user 1,
    // then watermark-advancing singletons for users 2 and 3
    mem.addData(Ev(ts(0), 1, "click", 1.0), Ev(ts(10), 1, "view", 1.0))
    out.processAllAvailable()
    mem.addData(Ev(ts(600), 2, "click", 1.0))
    out.processAllAvailable()
    mem.addData(Ev(ts(1200), 3, "click", 1.0))
    out.processAllAvailable()
    out.stop()
    val got = spark.table("native_sessions").as[Session].collect()
    val u1 = got.filter(_.user_id == 1)
    assert(u1.length == 1)
    assert(u1.head.n_events == 2)
    assert(u1.head.start_ts == ts(0) && u1.head.end_ts == ts(10))
    assert(got.exists(s => s.user_id == 2 && s.n_events == 1))
    // engine-managed state emits the SAME closed sessions the custom
    // GroupState machine emitted for this feed (user 3's session is
    // still open in both — neither may emit it)
    assert(!got.exists(_.user_id == 3))
  }

  test("sessionize splits on gap within one batch") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = EventStreams.sessionize(mem.toDS(), gapSec = 1800)
      .writeStream.format("memory").queryName("sessions2")
      .outputMode("append").start()
    // user 5: events at 0 and 100 min → 100min gap > 30min → first session
    // closes immediately (emitted from the batch, not the timeout)
    mem.addData(Ev(ts(0), 5, "click", 1.0), Ev(ts(100), 5, "view", 1.0))
    out.processAllAvailable()
    out.stop()
    val sessions = spark.table("sessions2").as[Session].collect()
    assert(sessions.length == 1)
    assert(sessions.head.n_events == 1)
    assert(sessions.head.start_ts == ts(0))
  }

  test("stream-stream interval join == batch join; out-of-interval clicks excluded") {
    implicit val sc = spark.sqlContext
    val purchases = Seq(
      Ev(ts(120), 1, "purchase", 9.99),   // user 1 buys at t+120min
      Ev(ts(200), 2, "purchase", 5.00))   // user 2 buys at t+200min
    val clicks = Seq(
      Ev(ts(70), 1, "click", 0.0),    // 50 min before purchase -> attributed
      Ev(ts(119), 1, "click", 0.0),   // 1 min before -> attributed
      Ev(ts(30), 1, "click", 0.0),    // 90 min before -> OUTSIDE the hour
      Ev(ts(121), 1, "click", 0.0),   // after the purchase -> excluded
      Ev(ts(199), 2, "click", 0.0),   // other user, inside -> attributed
      Ev(ts(150), 3, "click", 0.0))   // never purchases -> no output
    val pMem = MemoryStream[Ev]
    val cMem = MemoryStream[Ev]
    val q = EventStreams.attributeToClicks(pMem.toDF(), cMem.toDF())
      .writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    pMem.addData(purchases: _*)
    cMem.addData(clicks: _*)
    q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getDouble(3))
    val streamed = spark.table("attrib").collect().map(key).toSet
    val batch = EventStreams.attributeToClicks(
      purchases.toDF(), clicks.toDF()).collect().map(key).toSet
    assert(streamed == batch)
    assert(streamed.map(t => (t._1, t._3)) ==
      Set((1L, ts(70)), (1L, ts(119)), (2L, ts(199))))
  }

  test("parquet file sink: streaming writes land as readable files equal to the batch result") {
    implicit val sc = spark.sqlContext
    val outDir = tempDir("graft_psink")
    val ckpt = tempDir("graft_psinkck")
    val mem = MemoryStream[Ev]
    val events = Seq(
      Ev(ts(1), 1, "click", 1.0), Ev(ts(2), 2, "view", 2.0),
      Ev(ts(3), 1, "purchase", 3.5))
    // stateless projection -> append-mode parquet sink with checkpoint:
    // the production ingestion tail (files are the handoff to the batch
    // layout ops in graft.sources.Sinks)
    val q = mem.toDF()
      .select(col("user_id"), col("event_type"),
        col("value").cast("decimal(12,2)").as("v"))
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    mem.addData(events: _*)
    q.processAllAvailable()
    q.stop()
    val back = spark.read.parquet(outDir)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getDecimal(2).doubleValue)).toSet
    assert(back == Set((1L, "click", 1.0), (2L, "view", 2.0),
      (1L, "purchase", 3.5)))
  }

  test("streaming Misra-Gries keeps the heavy token across microbatches; state stays sketch-sized") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[String]
    val k = 16
    val q = graft.streaming.DocStreams
      .heavyHitterCandidates(mem.toDS(), shards = 4, k = k)
      .writeStream.format("memory").queryName("hh_cand")
      .outputMode("update").start()
    // batch 1: heavy token + light noise; batch 2: more noise + more heavy
    mem.addData(Seq.fill(300)("hot") ++ (1 to 200).map(i => s"a$i"): _*)
    q.processAllAvailable()
    mem.addData((1 to 200).map(i => s"b$i") ++ Seq.fill(200)("hot"): _*)
    q.processAllAvailable()
    q.stop()
    // memory sink in update mode appends each update; take the LAST
    // candidate set per shard
    val last = spark.table("hh_cand")
      .collect().map(r => (r.getInt(0), r.getSeq[String](1)))
      .zipWithIndex.groupBy(_._1._1).map { case (s, rows) =>
        s -> rows.maxBy(_._2)._1._2 }
    val union = last.values.flatten.toSet
    // n = 900 total, freq(hot) = 500 > n/(k+1) = 53 -> must survive
    assert(union.contains("hot"), "majority token lost by streaming MG")
    last.values.foreach(c => assert(c.size <= k, s"state above capacity: ${c.size}"))
  }

  test("streaming PIT enrichment == batch pitFeatures across a microbatch split") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    import graft.streaming.EventStreams.EvId
    val all = Seq(
      EvId(100L, ts(10), 1L, "click", Some(1.0)),
      EvId(101L, ts(20), 1L, "view", Some(2.0)),
      EvId(102L, ts(20), 1L, "purchase", Some(9.0)), // same-instant: no leak
      EvId(103L, ts(20), 1L, "click", Some(3.0)),
      // batch split falls here — state must carry across microbatches
      EvId(104L, ts(30), 1L, "purchase", Some(9.0)),
      EvId(105L, ts(31), 2L, "purchase", Some(9.0)), // user 2: no history
      EvId(106L, ts(35), 1L, "view", Some(5.0)),
      EvId(107L, ts(40), 1L, "purchase", Some(9.0)))
    val mem = MemoryStream[EvId]
    val q = graft.streaming.EventStreams.pitEnrich(mem.toDS())
      .writeStream.format("memory").queryName("pit_rows")
      .outputMode("append").start()
    mem.addData(all.take(4): _*); q.processAllAvailable()
    mem.addData(all.drop(4): _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("pit_rows")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]),
        Option(r.get(4)).map(_.asInstanceOf[Double]))).toSet
    val batch = graft.operators.AsOfJoin.pitFeaturesOf(
        all.toDF().select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]),
        Option(r.get(4)).map(_.asInstanceOf[Double]))).toSet
    assert(streamed == batch, s"streamed $streamed\nbatch $batch")
    // and the cross-batch carry really happened (purchase 107 sees the
    // view from the second batch and the click from the first)
    assert(streamed.exists(t => t._1 == 107L &&
      t._4 == Some(3.0) && t._5 == Some(5.0)))
  }

  test("streaming last-touch credit == batch ev_attribution across a microbatch split") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    import graft.streaming.EventStreams.EvId
    val all = Seq(
      EvId(100L, ts(10), 1L, "view", Some(0.0)),
      EvId(101L, ts(20), 1L, "click", Some(0.0)),
      EvId(102L, ts(20), 1L, "purchase", Some(5.0)), // same-instant: the
      // click (smaller event_id, same ts) counts — window order (ts, id)
      EvId(103L, ts(25), 2L, "purchase", Some(7.0)), // user 2: untouched
      // batch split falls here — lastTouch must carry across microbatches
      EvId(104L, ts(30), 1L, "purchase", Some(9.0)),
      EvId(105L, ts(35), 1L, "view", Some(0.0)),
      EvId(106L, ts(40), 1L, "purchase", Some(3.0)))
    val mem = MemoryStream[EvId]
    val q = graft.streaming.EventStreams.lastTouchCredit(mem.toDS())
      .writeStream.format("memory").queryName("credit_rows")
      .outputMode("append").start()
    mem.addData(all.take(4): _*); q.processAllAvailable()
    mem.addData(all.drop(4): _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("credit_rows").collect()
      .map(r => (r.getLong(0), r.getString(3), r.getDouble(4))).toSet
    assert(streamed == Set(
      (102L, "click", 5.0), (103L, "none", 7.0),
      (104L, "click", 9.0), // cross-batch carry
      (106L, "view", 3.0)))
    // aggregate parity with the batch catalog entry's transformation on
    // the same rows: group the streamed credits the way ev_attribution
    // does and compare against the batch window pass over the fixture
    val agg = spark.table("credit_rows")
      .groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = graft.operators.Events.attributionOf(
        all.toDF().select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(agg == batch, s"streamed-agg $agg\nbatch $batch")
    assert(batch == Set(("click", 2L, 14.0), ("none", 1L, 7.0),
      ("view", 1L, 3.0)))
  }

  test("streaming CUSUM monitor == serial fold across a microbatch split; alarms only after the shift") {
    implicit val sc = spark.sqlContext
    import graft.streaming.EventStreams.{MinuteCount, CusumRow}
    // calibration window: mean 10/minute over 8 minutes
    val calib = Seq(9L, 11L, 10L, 10L, 9L, 11L, 10L, 10L)
    val nRef = calib.length.toLong
    val s1Ref = calib.sum
    val s2Ref = calib.map(x => x * x).sum
    // live series: 6 quiet minutes at the target rate, then a sustained
    // +60 % shift no single minute of which would trip a 3σ point test
    val live = Seq(10L, 9L, 11L, 10L, 10L, 9L) ++ Seq.fill(14)(16L)
    val rows = live.zipWithIndex.map { case (c, i) =>
      MinuteCount("click", ts(i.toLong), c)
    }
    val mem = MemoryStream[MinuteCount]
    val q = EventStreams.cusumMonitor(mem.toDS(), nRef, s1Ref, s2Ref)
      .writeStream.format("memory").queryName("cusum_rows")
      .outputMode("append").start()
    mem.addData(rows.take(9): _*); q.processAllAvailable()
    mem.addData(rows.drop(9): _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("cusum_rows").collect()
      .map(r => (r.getTimestamp(1).getTime, r.getLong(2), r.getLong(3),
        r.getBoolean(4))).sortBy(_._1)
    // serial fold of the same linearized recurrence, one shot
    val thr = BigInt(10000) * (BigInt(nRef) * s2Ref - BigInt(s1Ref) * s1Ref)
    var p = 0L; var minP = 0L
    val want = rows.map { r =>
      p += 20L * nRef * r.cnt - 21L * s1Ref
      minP = math.min(minP, math.min(p, 0L))
      val s = p - minP
      (r.m.getTime, r.cnt, s, s > 0L && BigInt(s) * s > thr)
    }
    assert(streamed.toSeq == want,
      s"streamed ${streamed.toSeq}\nwant $want")
    // the alarm story: quiet prefix silent, shift eventually alarms —
    // and stays on (CUSUM accumulates; it does not flap)
    val alarms = streamed.map(_._4)
    assert(!alarms.take(6).exists(identity), "false alarm before the shift")
    assert(alarms.last, "sustained shift never alarmed")
    val first = alarms.indexOf(true)
    assert(first >= 6 && alarms.drop(first).forall(identity))
  }

  test("streaming path trigrams == batch trigram expansion across a microbatch split") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    import graft.streaming.EventStreams.EvId
    val all = Seq(
      EvId(100L, ts(10), 1L, "view", Some(0.0)),
      EvId(101L, ts(20), 1L, "click", Some(0.0)),
      EvId(102L, ts(20), 1L, "view", Some(0.0)),  // same-instant: id order
      EvId(103L, ts(25), 2L, "view", Some(0.0)),  // user 2: too short
      // batch split falls here — the last-two state must carry so the
      // straddling trigram (click, view, purchase) is still emitted
      EvId(104L, ts(30), 1L, "purchase", Some(5.0)),
      EvId(105L, ts(35), 2L, "click", Some(0.0)),
      EvId(106L, ts(40), 1L, "signup", Some(0.0)))
    val mem = MemoryStream[EvId]
    val q = graft.streaming.EventStreams.pathTrigrams(mem.toDS())
      .writeStream.format("memory").queryName("trigram_rows")
      .outputMode("append").start()
    mem.addData(all.take(4): _*); q.processAllAvailable()
    mem.addData(all.drop(4): _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("trigram_rows").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3))).sorted.toSeq
    val batch = graft.operators.Journeys.trigramsOf(
        all.toDF().select(col("event_id"), col("ts"), col("user_id"),
          col("event_type")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3))).sorted.toSeq
    assert(streamed == batch, s"streamed $streamed\nbatch $batch")
    // the cross-split trigram exists, and user 2 (only 2 events) emits none
    assert(streamed.contains((1L, "click", "view", "purchase")))
    assert(!streamed.exists(_._1 == 2L))
  }

  test("streaming bot profile == batch gap counters across a microbatch split") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    import graft.streaming.EventStreams.EvId
    // user 1: gaps 10 min (fast), 50 min (fast), 90 min (slow) — the
    // 50-min gap STRADDLES the microbatch split and must still count
    val all = Seq(
      EvId(100L, ts(0), 1L, "view", Some(0.0)),
      EvId(101L, ts(10), 1L, "click", Some(0.0)),
      EvId(102L, ts(5), 2L, "view", Some(0.0)),
      // split here
      EvId(103L, ts(60), 1L, "view", Some(0.0)),
      EvId(104L, ts(150), 1L, "purchase", Some(1.0)),
      EvId(105L, ts(65), 2L, "click", Some(0.0)))
    val mem = MemoryStream[EvId]
    val q = graft.streaming.EventStreams.botProfile(mem.toDS())
      .writeStream.format("memory").queryName("bot_rows")
      .outputMode("append").start()
    mem.addData(all.take(3): _*); q.processAllAvailable()
    mem.addData(all.drop(3): _*); q.processAllAvailable()
    q.stop()
    // LAST emitted row per user (cumulative profile) == a serial fold
    val rows = spark.table("bot_rows").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val last = rows.groupBy(_._1).map { case (u, xs) =>
      u -> xs.maxBy(_._2) // n_events grows monotonically per user
    }
    // user 1: 4 events, 3 gaps, 2 fast (10 min, 50 min; 90 min slow)
    assert(last(1L) == ((1L, 4L, 3L, 2L)))
    // user 2: 2 events, 1 gap (60 min, boundary-exact -> fast)
    assert(last(2L) == ((2L, 2L, 1L, 1L)))
    // cross-batch carry is visible: after batch 1 user 1 had 1 gap only
    assert(rows.contains((1L, 2L, 1L, 1L)))
  }
}
