package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.RollupStream

/** Watermarked tumbling rollup: day windows seal and emit once the event-time
  * watermark passes window end + delay, and the emitted rows equal the batch
  * group-by over the same events.
  */
class RollupStreamSpec extends SparkTestBase {

  test("windows emit on watermark passing; rows equal the batch rollup") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = session.sqlContext

    def ts(s: String) = Timestamp.valueOf(s)
    val day1 = Seq(
      (ts("2025-03-01 01:00:00"), "click", 1.5),
      (ts("2025-03-01 02:00:00"), "click", 2.25),
      (ts("2025-03-01 03:00:00"), "view", 4.0))

    val source = MemoryStream[(Timestamp, String, Double)]
    val out = RollupStream.tumbling(
      source.toDF().toDF("ts", "event_type", "value"))
    val query = out.writeStream.format("memory").queryName("rollup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      source.addData(day1)
      query.processAllAvailable()
      // nothing sealed yet: watermark has not passed day1's end + delay
      assert(session.table("rollup_out").count() === 0)
      // a far-later event advances the watermark past the day-1 window
      source.addData(Seq((ts("2025-03-03 00:00:00"), "click", 1.0)))
      query.processAllAvailable()
    } finally query.stop()

    val got = session.table("rollup_out")
      .select("event_type", "day", "n_events", "value_micro_sum")
      .as[(String, Timestamp, Long, Long)].collect().toSet
    assert(got === Set(
      ("click", ts("2025-03-01 00:00:00"), 2L, 3750000L),
      ("view", ts("2025-03-01 00:00:00"), 1L, 4000000L)))
  }

  test("incrementalSink: store equals batch rollup after each micro-batch, late events merge") {
    val session = spark
    import session.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = session.sqlContext

    def ts(s: String) = Timestamp.valueOf(s)
    val root = java.nio.file.Files.createTempDirectory("rollup_store").toString
    val ckpt = java.nio.file.Files.createTempDirectory("rollup_ckpt").toString

    val source = MemoryStream[(Timestamp, String, Double)]
    val query = RollupStream.incrementalSink(
      source.toDF().toDF("ts", "event_type", "value"),
      root,
      keys = Seq("event_type", "day"),
      keyExprs = _.withColumn("day", date_trunc("DAY", col("ts"))),
      valueMicro = expr("CAST(floor(value * 1000000.0) AS BIGINT)"),
      checkpoint = ckpt)

    val b1 = Seq((ts("2025-03-01 01:00:00"), "click", 1.5),
                 (ts("2025-03-01 02:00:00"), "click", 2.25),
                 (ts("2025-03-01 03:00:00"), "view", 4.0))
    val b2 = Seq((ts("2025-03-02 01:00:00"), "click", 1.0),
                 // late event for day 1 merges into the already-stored key
                 (ts("2025-03-01 22:00:00"), "click", 0.5))
    try {
      source.addData(b1: _*); query.processAllAvailable()
      // the replay token is the query's persistent id and the batch id
      assert(graft.VersionedTable.latestAppliedBatchToken(session, root) ===
               Some(s"${query.id}_0"))
      source.addData(b2: _*); query.processAllAvailable()
    } finally query.stop()

    val all = (b1 ++ b2).toDF("ts", "event_type", "value")
    val expect = all
      .withColumn("day", date_trunc("DAY", col("ts")))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("n_rows"),
           sum(expr("CAST(floor(value * 1000000.0) AS BIGINT)")).as("value_micro"))
      .select("event_type", "day", "n_rows", "value_micro")
      .as[(String, Timestamp, Long, Long)].collect().toSet
    val got = graft.VersionedTable.read(session, root)
      .select("event_type", "day", "n_rows", "value_micro")
      .as[(String, Timestamp, Long, Long)].collect().toSet
    assert(got === expect)
  }

  test("incrementalSink: fresh-checkpoint restart does NOT skip a colliding batch id") {
    val session = spark
    import session.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = session.sqlContext

    def ts(s: String) = Timestamp.valueOf(s)
    val root = java.nio.file.Files.createTempDirectory("rollup_store2").toString
    def runOnce(rows: Seq[(Timestamp, String, Double)]): Unit = {
      // each call = a fresh checkpoint = a NEW streaming query whose batch
      // ids restart at 0; the store must still apply every batch (the
      // replay marker embeds the query id, not the bare batch id)
      val ckpt = java.nio.file.Files.createTempDirectory("rollup_ckpt2").toString
      val source = MemoryStream[(Timestamp, String, Double)]
      val query = RollupStream.incrementalSink(
        source.toDF().toDF("ts", "event_type", "value"),
        root,
        keys = Seq("event_type", "day"),
        keyExprs = _.withColumn("day", date_trunc("DAY", col("ts"))),
        valueMicro = expr("CAST(floor(value * 1000000.0) AS BIGINT)"),
        checkpoint = ckpt)
      try { source.addData(rows: _*); query.processAllAvailable() }
      finally query.stop()
    }
    runOnce(Seq((ts("2025-03-01 01:00:00"), "click", 1.0)))
    runOnce(Seq((ts("2025-03-01 02:00:00"), "click", 2.0))) // batchId 0 again
    val got = graft.VersionedTable.read(session, root)
      .select("event_type", "n_rows", "value_micro")
      .as[(String, Long, Long)].collect().toSet
    assert(got === Set(("click", 2L, 3000000L)))
  }
}
