package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double)

class EventStreamSpec extends SparkSpec {
  import spark.implicits._

  private def t(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  private var sinkId = 0
  private def nextSink(): String = { sinkId += 1; s"es_sink_$sinkId" }

  /** Run a streaming transform over MemoryStream batches; returns the sink
    * table name. Each inner Seq is one micro-batch (watermark advances
    * between batches, never within one).
    */
  private def run(batches: Seq[Seq[Ev]], mode: String)
                 (xf: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): String = {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val sink = nextSink()
    val q = xf(in.toDF()).writeStream
      .format("memory").queryName(sink).outputMode(mode).start()
    try batches.foreach { b => in.addData(b); q.processAllAvailable() }
    finally q.stop()
    sink
  }

  test("statefulSessions: gap split emits immediately, timeout closes the tail") {
    val batches = Seq(
      Seq(Ev(1, t(0), 1, "view", 1.0), Ev(2, t(10), 1, "view", 2.0)),
      // 120 > 10+30 gap: closes session A immediately, opens B
      Seq(Ev(3, t(120), 1, "view", 4.0)),
      // watermark jumps far past B's gap -> B closes via event-time timeout
      Seq(Ev(4, t(2000), 9, "view", 0.0)),
      Seq(Ev(5, t(4000), 9, "view", 0.0)))
    val sink = run(batches, "append")(
      EventStream.statefulSessions(_, gapUs = 30L * 60 * 1000000, "0 seconds").toDF())
    val out = spark.table(sink)
      .filter(col("user_id") === 1)
      .select(col("n_events"), col("total_value"))
      .as[(Long, Double)].collect().toSet
    assert(out.contains((2L, 3.0)), s"session A (2 events), got $out")
    assert(out.contains((1L, 4.0)), s"session B closed by timeout, got $out")
  }

  test("statefulSessions keeps sub-millisecond precision at gap boundaries") {
    // µs-resolution timestamps (the events table is µs-precision): a 300µs
    // step stays in-session, an 800µs step splits, with gapUs = 500. The
    // ms-truncated formulation collapses all three onto the same instant.
    def tus(us: Long): Timestamp = {
      val ts = new Timestamp(us / 1000)
      ts.setNanos(((us % 1000000L) * 1000L).toInt)
      ts
    }
    val evs = Seq(
      Ev(1, tus(1000100), 1, "view", 1.0),
      Ev(2, tus(1000400), 1, "view", 1.0),
      Ev(3, tus(1001200), 1, "view", 1.0))
    val flush = Seq(Ev(4, t(4000), 9, "view", 0.0))
    val sink = run(Seq(evs, flush), "append")(
      EventStream.statefulSessions(_, gapUs = 500L, "0 seconds").toDF())
    val out = spark.table(sink).filter(col("user_id") === 1)
      .select("start_us", "end_us", "n_events").as[(Long, Long, Long)]
      .collect().toSet
    assert(out == Set((1000100L, 1000400L, 2L), (1001200L, 1001200L, 1L)),
      s"µs session boundaries wrong: $out")
  }

  test("statefulSessions agrees with the batch gaps-and-islands sessionizer") {
    val evs = (0 until 60).map(i =>
      Ev(i.toLong, t(i * 17 % 300 + (i % 5) * 60), i % 4L, "view", 1.0))
    val flush = Seq(Ev(999, t(5000), 9, "view", 0.0), Ev(998, t(9000), 9, "view", 0.0))
    val gapUs = 25L * 60 * 1000000
    val sink = run(Seq(evs, flush), "append")(
      EventStream.statefulSessions(_, gapUs, "0 seconds").toDF())
    val streamed = spark.table(sink)
      .filter(col("user_id") < 4)
      .select(col("user_id"), col("start_us"), col("end_us"), col("n_events"))
      .as[(Long, Long, Long, Long)].collect().toSet
    val batch = graft.operators.Events.sessionStats(
        evs.toDF().withColumn("ts_us", unix_micros(col("ts"))), gapUs)
      .select(col("user_id"), col("start_us"), col("end_us"), col("n_events"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed == batch, s"stream=$streamed\nbatch=$batch")
  }

  test("replaySessions (bounded streaming replay) matches the batch sessionizer exactly") {
    // integer-valued doubles so total_value is summation-order-exact
    val evs = (0 until 40).map(i =>
      Ev(i.toLong, t(i * 13 % 240 + (i % 3) * 45), i % 3L, "view", (i % 7).toDouble))
    val gapUs = 25L * 60 * 1000000
    val cols = Seq("user_id", "start_us", "end_us", "n_events", "total_value")
    val streamed = EventStream.replaySessions(evs.toDF(), gapUs)
      .select(cols.map(col): _*)
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    val batch = graft.operators.Events.sessionStats(
        evs.toDF().withColumn("ts_us", unix_micros(col("ts"))), gapUs)
      .select(cols.map(col): _*)
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(streamed == batch, s"stream=$streamed\nbatch=$batch")
  }
}
