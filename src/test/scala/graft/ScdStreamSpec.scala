package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.ScdStream

/** Structured Streaming front-end: each micro-batch is one incremental SCD
  * run, so a stream consumed batch-by-batch must produce exactly the table a
  * single batch run over the concatenated data produces (the package's core
  * incremental == full-refresh guarantee, `README.md:178`).
  */
class ScdStreamSpec extends SparkTestBase {

  test("streamed micro-batches converge to the batch full-refresh result") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = session.sqlContext

    val cfg = ScdConfig(uniqueKey = Seq("customer_id"))
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val target = s"$dir/dim"

    val batches = Seq(
      Seq(Ev(1, "new", ts("2025-01-01 00:00:00")),
          Ev(2, "new", ts("2025-01-01 01:00:00"))),
      Seq(Ev(1, "active", ts("2025-01-02 00:00:00")),
          Ev(3, "new", ts("2025-01-02 01:00:00"))),
      // out-of-order: lands BETWEEN key 1's existing versions
      Seq(Ev(1, "pending", ts("2025-01-01 12:00:00")),
          Ev(2, "churned", ts("2025-01-03 00:00:00"))))

    val source = MemoryStream[Ev]
    val writer = ScdStream.scdSink(source.toDF(), target, cfg,
                                   checkpointLocation = s"$dir/ckpt")
    val query = writer.start()
    try {
      batches.foreach { b => source.addData(b); query.processAllAvailable() }
    } finally query.stop()

    val streamed = spark.read.parquet(target)
    assertInvariantsGreen(streamed, cfg)

    val full = operators.Scd2.initialLoad(batches.flatten.toDF(), cfg)
    assert(streamed.exceptAll(full).count() === 0)
    assert(full.exceptAll(streamed).count() === 0)

    // the out-of-order 'pending' version is slotted mid-history
    val k1 = streamed.filter($"customer_id" === 1)
      .orderBy("_valid_from").select("status").as[String].collect()
    assert(k1.toSeq === Seq("new", "pending", "active"))
  }

  test("query restart with a widened source schema evolves the target") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = session.sqlContext

    // A streaming query's source schema is fixed for its lifetime; schema
    // evolution happens across RESTARTS. The restarted query's first
    // micro-batch merges a wider batch into the old-schema target — the
    // engine boundary X85 handles, no sink-side special case.
    val cfg = ScdConfig(uniqueKey = Seq("customer_id"),
                        onSchemaChange = "append_new_columns")
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-evo").toString
    val target = s"$dir/dim"

    val s1 = MemoryStream[Ev]
    val q1 = ScdStream.scdSink(s1.toDF(), target, cfg, s"$dir/ckpt1").start()
    try {
      s1.addData(Seq(Ev(1, "new", ts("2025-01-01 00:00:00"))))
      q1.processAllAvailable()
    } finally q1.stop()

    val s2 = MemoryStream[EvV2]
    val q2 = ScdStream.scdSink(s2.toDF(), target, cfg, s"$dir/ckpt2").start()
    try {
      s2.addData(Seq(EvV2(1, "active", 7, ts("2025-01-02 00:00:00"))))
      q2.processAllAvailable()
    } finally q2.stop()

    val out = spark.read.parquet(target)
    assertInvariantsGreen(out, cfg)
    val k1 = out.filter($"customer_id" === 1).orderBy("_valid_from")
      .select("status", "tier").collect()
      .map(r => (r.getString(0), r.get(1)))
    assert(k1.toSeq === Seq(("new", null), ("active", 7)))
  }

  test("versioned sink: a re-delivered micro-batch is SKIPPED, not re-merged") {
    val session = spark
    import session.implicits._

    val cfg = ScdConfig(uniqueKey = Seq("customer_id"))
    val root = java.nio.file.Files
      .createTempDirectory("graft-stream-idem").toString + "/dim"

    val b0 = Seq(Ev(1, "new", ts("2025-01-01 00:00:00"))).toDF()
    val b1 = Seq(Ev(1, "active", ts("2025-01-02 00:00:00"))).toDF()

    // batch 0 then batch 1, each publishing with its token
    assert(ScdStream.applyVersionedBatch(spark, b0, root, cfg, "qA_0"))
    assert(ScdStream.applyVersionedBatch(spark, b1, root, cfg, "qA_1"))
    val vAfter = VersionedTable.latestVersion(spark, root)
    val rowsAfter = VersionedTable.read(spark, root).count()

    // at-least-once replay of batch 1 (sink committed, checkpoint didn't):
    // token matches the latest version -> NO merge, NO new version
    assert(!ScdStream.applyVersionedBatch(spark, b1, root, cfg, "qA_1"))
    assert(VersionedTable.latestVersion(spark, root) === vAfter)
    assert(VersionedTable.read(spark, root).count() === rowsAfter)

    // a DIFFERENT query's batch 1 (fresh checkpoint restarts ids at 0 but
    // the query id differs) is NOT mistaken for a replay
    assert(ScdStream.applyVersionedBatch(spark, b1, root, cfg, "qB_1"))
    assert(VersionedTable.latestVersion(spark, root) === vAfter.map(_ + 1))

    // end-to-end through the foreachBatch writer: restarting from the SAME
    // checkpoint re-delivers the last batch; version count must not grow
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = session.sqlContext
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft-stream-idem2").toString
    val root2 = s"$dir2/dim"
    val src = MemoryStream[Ev]
    val q1 = ScdStream
      .scdSinkVersioned(src.toDF(), root2, cfg, s"$dir2/ckpt").start()
    try {
      src.addData(Seq(Ev(1, "new", ts("2025-01-01 00:00:00"))))
      q1.processAllAvailable()
    } finally q1.stop()
    val v1 = VersionedTable.latestVersion(spark, root2)
    assert(v1.nonEmpty)
    assert(VersionedTable.latestAppliedBatchToken(spark, root2)
             .exists(_.endsWith("_0")))
    // the token's query id is the query's persistent id
    assert(VersionedTable.latestAppliedBatchToken(spark, root2) ===
             Some(s"${q1.id}_0"))
  }
}

/** Streaming fixture row (top-level for encoder derivation). */
case class Ev(customer_id: Int, status: String, _updated_at: Timestamp)

/** The widened (post-evolution) fixture schema. */
case class EvV2(customer_id: Int, status: String, tier: Int,
                _updated_at: Timestamp)
