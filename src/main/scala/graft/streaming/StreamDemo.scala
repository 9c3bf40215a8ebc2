package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

/** Standalone demonstration of the streaming surface: feeds events through
  * a MemoryStream into the windowed-count and sessionization queries and
  * prints the sinks. Run: `sbt "runMain graft.streaming.StreamDemo"`. */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.Local.session()
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import EventStreams.{Ev, Session}

    def ts(m: Long) = new Timestamp((200000L + m) * 60000L)

    val mem = MemoryStream[Ev]
    val q = EventStreams.sessionize(mem.toDS(), gapSec = 1800)
      .writeStream.format("memory").queryName("demo_sessions")
      .outputMode("append").start()
    // user 7: events at 0/12 min (one session), then 90 min (a second)
    mem.addData(Ev(ts(0), 7, "click", 1.0), Ev(ts(12), 7, "view", 1.0),
      Ev(ts(90), 7, "click", 1.0))
    q.processAllAvailable()
    // later users push the watermark forward, closing earlier sessions
    mem.addData(Ev(ts(999), 8, "click", 1.0))
    q.processAllAvailable()
    mem.addData(Ev(ts(2000), 9, "click", 1.0))
    q.processAllAvailable()
    q.stop()
    println("SESSIONS>>")
    spark.table("demo_sessions").orderBy("user_id", "start_ts").show(false)

    val mem2 = MemoryStream[Ev]
    val q2 = EventStreams.windowedCounts(mem2.toDF())
      .writeStream.format("memory").queryName("demo_windows")
      .outputMode("complete").start()
    mem2.addData(Ev(ts(1), 1, "click", 1.5), Ev(ts(30), 2, "click", 2.5),
      Ev(ts(61), 1, "view", 4.0))
    q2.processAllAvailable()
    q2.stop()
    println("WINDOWS>>")
    spark.table("demo_windows").orderBy("window_start", "event_type").show(false)
    spark.stop()
  }
}
