package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.CdcStream

/** Streaming CDC export: the appended changelog must equal the batch-side
  * `Scd2.snapshotDelta` between each micro-batch's pre/post snapshots, and
  * replaying it must reconcile to the final table.
  */
class CdcStreamSpec extends SparkTestBase {

  test("per-batch changelog equals the batch snapshot diff") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = session.sqlContext

    val cfg = ScdConfig(uniqueKey = Seq("customer_id"))
    val dir = java.nio.file.Files.createTempDirectory("graft-cdc").toString

    val batches = Seq(
      Seq(Ev(1, "new", ts("2025-01-01 00:00:00")),
          Ev(2, "new", ts("2025-01-01 01:00:00"))),
      Seq(Ev(1, "active", ts("2025-01-02 00:00:00")),
          Ev(3, "new", ts("2025-01-02 01:00:00"))),
      // out-of-order arrival re-slots key 1's history (updates + insert);
      // a content-identical redundant version for key 3 collapses away
      Seq(Ev(1, "pending", ts("2025-01-01 12:00:00")),
          Ev(3, "new", ts("2025-01-02 02:00:00"))))

    val source = MemoryStream[Ev]
    val query = CdcStream.scdCdcSink(source.toDF(), s"$dir/dim", s"$dir/cdc",
                                     cfg, checkpointLocation = s"$dir/ckpt")
      .start()
    try {
      batches.foreach { b => source.addData(b); query.processAllAvailable() }
    } finally query.stop()

    val cdc = spark.read.parquet(s"$dir/cdc").cache()

    // batch 0: everything is an insert
    val b0 = cdc.filter($"_batch_id" === 0)
    assert(b0.count() === 2)
    assert(b0.filter($"change_kind" === "insert").count() === 2)

    // recompute each batch's expected delta from scratch on the batch side
    val snaps = batches.inits.toSeq.reverse.tail.map { pre =>
      operators.Scd2.initialLoad(pre.flatten.toDF(), cfg).localCheckpoint()
    } // snaps(i) = table after batches 0..i
    for (i <- 1 until batches.length) {
      val expected = operators.Scd2
        .snapshotDelta(snaps(i - 1), snaps(i), cfg, includePayload = true)
      val got = cdc.filter($"_batch_id" === i).drop("_batch_id")
      assert(got.exceptAll(expected).count() === 0, s"batch $i extra rows")
      assert(expected.exceptAll(got).count() === 0, s"batch $i missing rows")
    }

    // the batch-2 re-slot shows up as audit updates on key 1
    assert(cdc.filter($"_batch_id" === 2 && $"change_kind" === "update" &&
      $"customer_id" === 1).count() >= 1)

    // replaying each batch's changelog reproduces each snapshot exactly
    var replayed = snaps(0)
    for (i <- 1 until batches.length) {
      replayed = operators.Scd2.applyDelta(
        replayed, cdc.filter($"_batch_id" === i).drop("_batch_id"), cfg)
      assert(replayed.exceptAll(snaps(i)).count() === 0, s"replay $i extra")
      assert(snaps(i).exceptAll(replayed).count() === 0, s"replay $i missing")
    }
  }
}
