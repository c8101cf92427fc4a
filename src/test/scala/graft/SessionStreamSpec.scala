package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.SessionStream
import graft.streaming.SessionStream.SessionEvent

/** Streaming sessionization: completed sessions must match what the batch
  * operator computes over the same events, with closure driven either by a
  * later event (in-stream) or by watermark timeout.
  */
class SessionStreamSpec extends SparkTestBase {

  private def se(user: Long, t: String, et: String) =
    SessionEvent(user, ts(t), et)

  test("in-stream and timeout closure both match the batch operator") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = session.sqlContext

    val source = MemoryStream[SessionEvent]
    val query = SessionStream
      .sessions(source.toDF(), gapMinutes = 30, watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // user 1: two events 10 min apart (one session); user 2: one event
      source.addData(se(1, "2025-01-01 10:00:00", "view"),
                     se(1, "2025-01-01 10:10:00", "click"),
                     se(2, "2025-01-01 10:05:00", "view"))
      query.processAllAvailable()
      // a later user-1 event 110 min after: closes session 1 in-stream,
      // and advances the watermark to 11:50
      source.addData(se(1, "2025-01-01 12:00:00", "view"))
      query.processAllAvailable()
      // one more batch so the new watermark's timeouts fire (user 2:
      // 10:05 + 30 min = 10:35 < 11:50)
      source.addData(se(3, "2025-01-01 12:30:00", "view"))
      query.processAllAvailable()
    } finally query.stop()

    val out = spark.table("sessions")
      .orderBy("user_id", "session_start")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
                 r.getLong(3), r.getLong(4)))
    assert(out.toSeq === Seq(
      (1L, ts("2025-01-01 10:00:00"), ts("2025-01-01 10:10:00"), 2L, 2L),
      (2L, ts("2025-01-01 10:05:00"), ts("2025-01-01 10:05:00"), 1L, 1L)))

    // the same closed sessions, via the batch operator
    val batch = graft.operators.Sessionize.sessions(
      Seq((1L, ts("2025-01-01 10:00:00"), "view"),
          (1L, ts("2025-01-01 10:10:00"), "click"),
          (2L, ts("2025-01-01 10:05:00"), "view"))
        .toDF("user_id", "ts", "event_type"),
      "user_id", "ts", "event_type", gapMinutes = 30)
      .orderBy("user_id", "session_start")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
                 r.getLong(3), r.getLong(4)))
    assert(batch.toSeq === out.toSeq)
  }

  test("late event inside the watermark extends the open session") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = session.sqlContext

    val source = MemoryStream[SessionEvent]
    val query = SessionStream
      .sessions(source.toDF(), gapMinutes = 30, watermarkDelay = "60 minutes")
      .writeStream.format("memory").queryName("sessions_late")
      .outputMode("append").start()
    try {
      source.addData(se(1, "2025-01-01 10:20:00", "view"))
      query.processAllAvailable()
      // arrives later but is event-time EARLIER: prepends to the session
      source.addData(se(1, "2025-01-01 10:05:00", "click"))
      query.processAllAvailable()
      // a much later event: the earlier session stays HELD until the
      // watermark passes its end + gap (watermark-only finality)
      source.addData(se(1, "2025-01-01 13:00:00", "view"))
      query.processAllAvailable()
      // flush: advance the watermark past 10:20 + 30 min, then one more
      // batch so the event-time timeout fires against the new watermark
      source.addData(se(9, "2025-01-01 13:30:00", "view"))
      query.processAllAvailable()
      source.addData(se(9, "2025-01-01 14:00:00", "view"))
      query.processAllAvailable()
    } finally query.stop()

    val out = spark.table("sessions_late").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
                 r.getLong(3), r.getLong(4)))
    assert(out.toSeq === Seq(
      (1L, ts("2025-01-01 10:05:00"), ts("2025-01-01 10:20:00"), 2L, 2L)))
  }

  test("late event more than gap BEFORE the open session closes as its own session") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = session.sqlContext

    val source = MemoryStream[SessionEvent]
    val query = SessionStream
      .sessions(source.toDF(), gapMinutes = 30, watermarkDelay = "300 minutes")
      .writeStream.format("memory").queryName("sessions_backgap")
      .outputMode("append").start()
    try {
      source.addData(se(1, "2025-01-01 12:00:00", "view"))
      query.processAllAvailable()
      // within-watermark late event 120 min BEFORE the open session: the
      // naive `em - end <= gap` merge test is vacuously true for any
      // older event and would glue across the 2 h backward gap; sorted
      // batch semantics close it as its own earlier session
      source.addData(se(1, "2025-01-01 10:00:00", "click"))
      query.processAllAvailable()
      // a much later event; both earlier sessions stay held until final
      source.addData(se(1, "2025-01-01 15:00:00", "view"))
      query.processAllAvailable()
      // flush: watermark past 12:00 + 30 min (300-min delay), then one
      // more batch so the timeouts fire against it
      source.addData(se(9, "2025-01-01 18:00:00", "view"))
      query.processAllAvailable()
      source.addData(se(9, "2025-01-01 18:30:00", "view"))
      query.processAllAvailable()
    } finally query.stop()

    val out = spark.table("sessions_backgap")
      .orderBy("session_start").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
                 r.getLong(3), r.getLong(4)))
    assert(out.toSeq === Seq(
      (1L, ts("2025-01-01 10:00:00"), ts("2025-01-01 10:00:00"), 1L, 1L),
      (1L, ts("2025-01-01 12:00:00"), ts("2025-01-01 12:00:00"), 1L, 1L)))
  }

  test("within-watermark late event in a LATER batch merges with a session a newer event had already closed") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = session.sqlContext

    val source = MemoryStream[SessionEvent]
    val query = SessionStream
      .sessions(source.toDF(), gapMinutes = 30, watermarkDelay = "300 minutes")
      .writeStream.format("memory").queryName("sessions_xbatch")
      .outputMode("append").start()
    try {
      source.addData(se(1, "2025-01-01 10:00:00", "view"))
      query.processAllAvailable()
      // newer event: under emit-on-in-stream-closure semantics the 10:00
      // session would be emitted HERE, and the late 10:20 below could
      // never reach it — the cross-batch divergence this state design
      // exists to prevent (sessions stay held until watermark-final)
      source.addData(se(1, "2025-01-01 12:00:00", "view"))
      query.processAllAvailable()
      // within-watermark late event that batch semantics glue to the
      // 10:00 session (20 min <= 30 min gap)
      source.addData(se(1, "2025-01-01 10:20:00", "click"))
      query.processAllAvailable()
      // flush + fire
      source.addData(se(9, "2025-01-01 18:00:00", "view"))
      query.processAllAvailable()
      source.addData(se(9, "2025-01-01 18:30:00", "view"))
      query.processAllAvailable()
    } finally query.stop()

    val out = spark.table("sessions_xbatch")
      .orderBy("session_start").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
                 r.getLong(3), r.getLong(4)))
    assert(out.toSeq === Seq(
      (1L, ts("2025-01-01 10:00:00"), ts("2025-01-01 10:20:00"), 2L, 2L),
      (1L, ts("2025-01-01 12:00:00"), ts("2025-01-01 12:00:00"), 1L, 1L)))

    // batch parity over the same four user-1 events
    val batch = graft.operators.Sessionize.sessions(
      Seq((1L, ts("2025-01-01 10:00:00"), "view"),
          (1L, ts("2025-01-01 12:00:00"), "view"),
          (1L, ts("2025-01-01 10:20:00"), "click"))
        .toDF("user_id", "ts", "event_type"),
      "user_id", "ts", "event_type", gapMinutes = 30)
      .orderBy("session_start").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
                 r.getLong(3), r.getLong(4)))
    assert(batch.toSeq === out.toSeq)
  }
}
