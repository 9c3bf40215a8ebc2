package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured Streaming surface of the engine (SURVEY.md §2.4 — the
  * reference has no streaming; this is north-star scope): the same event
  * transformations as graft.operators.Events, expressed over unbounded
  * input. Batch/stream unification means these functions accept either a
  * `readStream` or a `read` DataFrame.
  *
  * Scale design: watermarked windowed aggregation is incremental state in
  * the state store (no unbounded growth); sessionization uses
  * `flatMapGroupsWithState` with event-time timeout — the idiomatic
  * replacement for the reference's driver-managed mutable state (§1.3),
  * sharded by user key across executors.
  */
object EventStreams {

  /** Tumbling-window counts + value sums per event type, tolerating
    * `lateness` of out-of-order data. Works on static or streaming input. */
  def windowedCounts(events: DataFrame, windowLen: String = "1 hour",
      lateness: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        // decimal-exact sum (same convention as the batch catalog) so the
        // result is reproducible and oracle-comparable
        sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  case class Ev(ts: Timestamp, user_id: Long, event_type: String, value: Double)
  case class SessionState(start: Long, last: Long, n: Long)
  case class Session(user_id: Long, start_ts: Timestamp, end_ts: Timestamp,
      n_events: Long)

  /** [[sessionize]] as Spark's NATIVE `session_window` aggregation —
    * the engine-managed state path (the custom GroupState above exists
    * to show the general recipe; this is what a deployment should run
    * when plain per-session aggregates suffice): the state store merges
    * overlapping gap windows itself, sessions emit when the watermark
    * passes their close, and there is no user-written state machine to
    * get wrong. Same strict >gap boundary semantics as the batch
    * `ev_sessionize_native` entry; StreamingSpec drives the same
    * fixture through both streaming implementations. */
  def sessionizeNative(events: Dataset[Ev], gapSec: Long = 1800): DataFrame =
    events
      .withWatermark("ts", "0 seconds")
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapSec seconds").as("w"))
      .agg(min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("start_ts"), col("end_ts"),
        col("n_events"))

  /** Gap-based sessionization with event-time timeout: a session closes
    * when no event arrives for `gapSec` in event time (watermark-driven).
    * State is one tiny record per active user — bounded, shardable. */
  def sessionize(events: Dataset[Ev], gapSec: Long = 1800): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._

    def fn(user: Long, evs: Iterator[Ev],
        state: GroupState[SessionState]): Iterator[Session] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator.single(Session(user, new Timestamp(s.start),
          new Timestamp(s.last), s.n))
      } else {
        val sorted = evs.toSeq.sortBy(_.ts.getTime)
        var closed = List.empty[Session]
        var cur = state.getOption
        sorted.foreach { e =>
          val t = e.ts.getTime
          cur match {
            case Some(s) if t - s.last <= gapSec * 1000 =>
              cur = Some(s.copy(last = t, n = s.n + 1))
            case Some(s) =>
              closed ::= Session(user, new Timestamp(s.start),
                new Timestamp(s.last), s.n)
              cur = Some(SessionState(t, t, 1))
            case None =>
              cur = Some(SessionState(t, t, 1))
          }
        }
        cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.last + gapSec * 1000)
        }
        closed.reverseIterator
      }
    }

    events
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Streaming-compatible dedup: earliest event per (user_id, event_type),
    * as a min-of-struct aggregation — unlike `dropDuplicates` (which keeps
    * an *arrival-order* first) this is deterministic in event time, so the
    * batch run is oracle-comparable and the streaming run converges to the
    * same answer under late data. State per key is one tiny struct. */
  def earliestPerKey(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(struct(col("ts"), col("event_id"))).as("f"))
      .select(col("user_id"), col("event_type"),
        col("f.ts").as("first_ts"), col("f.event_id").as("first_event_id"))

  /** Stream-stream interval join (the attribution shape): every purchase
    * joins the same user's clicks from the preceding hour. Both sides
    * carry watermarks AND the join condition bounds the event-time
    * distance, so the state store provably discards each side's rows once
    * the other side's watermark passes the interval — bounded state, the
    * requirement for joining two unbounded streams at ingestion scale.
    * Inner join ⇒ matches emit as soon as both rows arrive (no watermark
    * wait), so the streaming result converges to the batch join —
    * StreamingSpec proves set equality. Accepts static frames too. */
  def attributeToClicks(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    val p = purchases
      .select(col("user_id"), col("ts").as("p_ts"), col("value"))
      .withWatermark("p_ts", "2 hours")
    val c = clicks
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    p.join(c,
      col("user_id") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("p_ts"), col("c_ts"), col("value"))
  }

  case class EvId(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Option[Double])

  /** Full-precision microbatch processing order: epoch MICROS (the
    * timestamp's stored precision) + event_id — the same total order the
    * batch twins' `ORDER BY ts, event_id` windows use. Sorting by
    * `getTime` (millis) instead would rest on a corpus-dependent
    * "no per-user same-millisecond collisions" assumption (round-11
    * advice); this removes it. */
  private def evOrderUs(e: EvId): (Long, Long) = {
    val inst = e.ts.toInstant
    (inst.getEpochSecond * 1000000L + inst.getNano / 1000L, e.event_id)
  }
  case class PitState(lastClick: Option[Double], lastView: Option[Double])
  case class PitRow(event_id: Long, user_id: Long, label_ts: Timestamp,
      last_click: Option[Double], last_view: Option[Double])

  /** Streaming twin of `AsOfJoin.pitFeatures` — point-in-time label
    * enrichment as stateful stream processing: per-user feature state
    * (two Options) is carried in GroupState, and every arriving
    * purchase is emitted with the state AS OF strictly before its
    * timestamp. Within a microbatch, rows process in event-time order
    * with purchases before same-instant observations and same-(ts, type)
    * observations collapsed by MAX — exactly the batch twin's ordering
    * and dedup conventions, so for in-order arrival the union of
    * microbatch outputs equals the one-shot batch (StreamingSpec proves
    * it across a batch split). State is O(features) per user — bounded;
    * a production deployment adds an idle-user TTL via timeouts. */
  def pitEnrich(events: Dataset[EvId]): Dataset[PitRow] = {
    val spark = events.sparkSession
    import spark.implicits._

    def fn(user: Long, evs: Iterator[EvId],
        state: GroupState[PitState]): Iterator[PitRow] = {
      var st = state.getOption.getOrElse(PitState(None, None))
      val out = scala.collection.mutable.ListBuffer.empty[PitRow]
      evs.toSeq.groupBy(_.ts.getTime).toSeq.sortBy(_._1).foreach {
        case (_, rows) =>
          rows.filter(_.event_type == "purchase").sortBy(_.event_id)
            .foreach(e => out += PitRow(e.event_id, user, e.ts,
              st.lastClick, st.lastView))
          val cs = rows.filter(e =>
            e.event_type == "click" && e.value.isDefined).map(_.value.get)
          if (cs.nonEmpty) st = st.copy(lastClick = Some(cs.max))
          val vs = rows.filter(e =>
            e.event_type == "view" && e.value.isDefined).map(_.value.get)
          if (vs.nonEmpty) st = st.copy(lastView = Some(vs.max))
      }
      state.update(st)
      out.iterator
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(fn)
  }

  case class TouchState(lastTouch: Option[String])
  case class CreditRow(event_id: Long, user_id: Long, p_ts: Timestamp,
      touch_type: String, value: Option[Double])

  /** Streaming twin of `Events.attribution` — last-touch conversion
    * credit as stateful stream processing: the per-user state is ONE
    * small value (the latest view/click type), every arriving purchase
    * emits a credit row against the state as of strictly before it.
    * Within a microbatch, rows process in (ts, event_id) order — exactly
    * the batch entry's window ordering, so a same-instant touch with a
    * smaller event_id counts and one with a larger does not, and for
    * in-order arrival the union of microbatch outputs equals the batch
    * relation the entry aggregates (StreamingSpec proves credit parity
    * across a batch split). State is O(1) per user — the
    * unbounded-history lookback that costs the batch twin a full
    * user-partitioned window is FREE here; a production deployment adds
    * an idle-user TTL via timeouts. */
  def lastTouchCredit(events: Dataset[EvId]): Dataset[CreditRow] = {
    val spark = events.sparkSession
    import spark.implicits._

    def fn(user: Long, evs: Iterator[EvId],
        state: GroupState[TouchState]): Iterator[CreditRow] = {
      var st = state.getOption.getOrElse(TouchState(None))
      val out = scala.collection.mutable.ListBuffer.empty[CreditRow]
      evs.toSeq.sortBy(evOrderUs).foreach { e =>
        if (e.event_type == "purchase")
          out += CreditRow(e.event_id, user, e.ts,
            st.lastTouch.getOrElse("none"), e.value)
        if (e.event_type == "view" || e.event_type == "click")
          st = TouchState(Some(e.event_type))
      }
      state.update(st)
      out.iterator
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(fn)
  }

  case class BotState(lastUs: Option[Long], nEvents: Long, nGaps: Long,
      nFast: Long)
  case class BotProfileRow(user_id: Long, n_events: Long, n_gaps: Long,
      n_fast: Long)

  /** Streaming twin of `ev_bot_flags`' per-user gap profile — the bot
    * screen as stateful stream processing: state is FOUR longs per user
    * (last event micros + three counters), each microbatch emits the
    * user's UPDATED cumulative profile row. A gap that straddles a
    * microbatch boundary still counts (the carried `lastUs` pairs with
    * the next batch's first event — StreamingSpec pins it), so for
    * in-order arrival the LAST emitted row per user equals the batch
    * window's profile exactly. The ≤1 h fast-gap rule and the 8×
    * integer flag decision live downstream, identical to the batch
    * entry's. */
  def botProfile(events: Dataset[EvId],
      fastGapUs: Long = graft.operators.Journeys.FastGapUs)
      : Dataset[BotProfileRow] = {
    val spark = events.sparkSession
    import spark.implicits._

    def fn(user: Long, evs: Iterator[EvId],
        state: GroupState[BotState]): Iterator[BotProfileRow] = {
      var st = state.getOption.getOrElse(BotState(None, 0L, 0L, 0L))
      evs.toSeq.sortBy(evOrderUs).foreach { e =>
        // full-precision micros (unix_micros parity with the batch twin)
        val inst = e.ts.toInstant
        val us = inst.getEpochSecond * 1000000L + inst.getNano / 1000L
        val gap = st.lastUs.map(us - _)
        st = BotState(Some(us), st.nEvents + 1,
          st.nGaps + (if (gap.isDefined) 1L else 0L),
          st.nFast + (if (gap.exists(_ <= fastGapUs)) 1L else 0L))
      }
      state.update(st)
      Iterator.single(BotProfileRow(user, st.nEvents, st.nGaps, st.nFast))
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(fn)
  }

  case class PathState(t1: Option[String], t2: Option[String])
  case class TrigramRow(user_id: Long, step1: String, step2: String,
      step3: String)

  /** Streaming twin of `ev_path_trigrams`' per-user sequence expansion —
    * journey mining as stateful stream processing: the per-user state is
    * the LAST TWO event types (two Options — O(1), vs the batch twin's
    * two lead frames over stored history), and every arriving event with
    * two predecessors emits one trigram row. Within a microbatch, rows
    * process in (ts, event_id) order — the batch window's order — so for
    * in-order arrival the union of microbatch outputs equals the batch
    * `Journeys.trigramsOf` relation exactly (StreamingSpec proves parity
    * across a split, including the trigram that straddles it). The
    * top-20 rollup downstream is the same |types|³-bounded aggregation
    * either way. */
  def pathTrigrams(events: Dataset[EvId]): Dataset[TrigramRow] = {
    val spark = events.sparkSession
    import spark.implicits._

    def fn(user: Long, evs: Iterator[EvId],
        state: GroupState[PathState]): Iterator[TrigramRow] = {
      var st = state.getOption.getOrElse(PathState(None, None))
      val out = scala.collection.mutable.ListBuffer.empty[TrigramRow]
      evs.toSeq.sortBy(evOrderUs).foreach { e =>
        (st.t1, st.t2) match {
          case (Some(a), Some(b)) => out += TrigramRow(user, a, b, e.event_type)
          case _ =>
        }
        st = PathState(st.t2, Some(e.event_type))
      }
      state.update(st)
      out.iterator
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(fn)
  }

  case class MinuteCount(event_type: String, m: Timestamp, cnt: Long)
  case class CusumState(p: Long, minP: Long)
  case class CusumRow(event_type: String, m: Timestamp, cnt: Long,
      s: Long, alarm: Boolean)

  /** Streaming twin of `Events.cusum` — Page's CUSUM as a live monitor.
    * The batch entry is retrospective (μ estimated from the whole
    * series); a monitor cannot see the future, so this takes the
    * calibration stats (nRef, s1Ref, s2Ref — exact integer power sums
    * from a training window, e.g. last week's minutes) and carries the
    * linearized recurrence in GroupState: P (prefix sum of scaled
    * deviations d = 20·nRef·cnt − 21·s1Ref, i.e. slack = μ₀/20) and
    * min(0, min P) — two Longs per monitored series, O(1) state. Every
    * minute emits S = P − minP and the 5σ alarm decision
    * S² > 10⁴·(nRef·s2Ref − s1Ref²), squared in BigInt (S can pass
    * 2^31·√thr; the BATCH entry runs the same arithmetic in
    * DecimalType(38,0) — at ≥ ~10¹² events/minute the Long state here
    * would need the same widening).
    *
    * Within a microbatch, minutes process in event-time order; for
    * in-order arrival the union of microbatch outputs equals a one-shot
    * serial fold (StreamingSpec proves it across a batch split, and
    * that an injected mean shift raises the alarm only after onset). */
  def cusumMonitor(minutes: Dataset[MinuteCount], nRef: Long, s1Ref: Long,
      s2Ref: Long): Dataset[CusumRow] = {
    val spark = minutes.sparkSession
    import spark.implicits._
    val thr = BigInt(10000) * (BigInt(nRef) * s2Ref - BigInt(s1Ref) * s1Ref)

    def fn(tpe: String, rows: Iterator[MinuteCount],
        state: GroupState[CusumState]): Iterator[CusumRow] = {
      var st = state.getOption.getOrElse(CusumState(0L, 0L))
      val out = rows.toSeq.sortBy(_.m.getTime).map { r =>
        val p = st.p + 20L * nRef * r.cnt - 21L * s1Ref
        val minP = math.min(st.minP, math.min(p, 0L))
        st = CusumState(p, minP)
        val s = p - minP
        CusumRow(tpe, r.m, r.cnt, s,
          s > 0L && BigInt(s) * s > thr)
      }
      state.update(st)
      out.iterator
    }

    minutes.groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(fn)
  }
}
