package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.{ScdConfig, ScdEngine, VersionedTable}

/** Structured Streaming front-end for SCD maintenance.
  *
  * The reference's execution model is *repeated incremental batch* — each
  * `dbt run` reconciles newly-arrived rows into the dimension
  * (`/root/reference/README.md:162-178`); it has no streaming operators
  * (SURVEY.md §2.10). The streaming-native equivalent is therefore exact:
  * every micro-batch is one `ScdEngine.merge`. Out-of-order and late events
  * need no watermark handling — re-slotting history on late arrival is what
  * the SCD2 merge itself does (`update_all_previous_records` +
  * `collapse_redundant_versions`), so correctness is independent of trigger
  * timing and batch boundaries.
  *
  * At scale the same properties hold as for batch runs: per-micro-batch cost
  * is ∝ batch size via affected-key pruning, and with `numBuckets` set only
  * touched bucket partitions are rewritten.
  */
object ScdStream {

  /** Attach an SCD sink to a streaming DataFrame. Caller starts/stops the
    * returned writer (`.start()`).
    *
    * Replay semantics: a micro-batch cut off mid-swap is finished by the
    * next one (`ScdEngine.merge` completes a swap past its commit point
    * before it reads the table), and a crash-replayed micro-batch re-runs
    * the merge. That is SEMANTICALLY absorbed (redundant-version collapse
    * makes the merge content-idempotent) but pays a full merge;
    * [[scdSinkVersioned]] is the variant that detects the replay via the
    * batch token and skips it outright.
    */
  def scdSink(stream: DataFrame,
              targetPath: String,
              cfg: ScdConfig,
              checkpointLocation: String,
              numBuckets: Option[Int] = None,
              trigger: Trigger = Trigger.ProcessingTime(0)): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        if (!batch.isEmpty)
          ScdEngine.merge(batch.sparkSession, batch.toDF(), targetPath, cfg,
                          numBuckets = numBuckets)
      }

  /** [[scdSink]] against a [[graft.VersionedTable]] root, with exact
    * at-least-once replay PROTECTION: each micro-batch runs through the
    * shared replay-safe step [[graft.VersionedTable.applyOnce]] with its
    * `<queryId>_<batchId>` token ([[graft.VersionedTable.batchToken]]), so
    * a re-delivered batch — foreachBatch's documented failure mode when the
    * sink commits but the stream dies before its checkpoint commit — is
    * detected by token equality and SKIPPED: no merge runs, no new table
    * version lands.
    */
  def scdSinkVersioned(stream: DataFrame,
                       root: String,
                       cfg: ScdConfig,
                       checkpointLocation: String,
                       trigger: Trigger = Trigger.ProcessingTime(0)): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          applyVersionedBatch(spark, batch.toDF(), root, cfg,
                              VersionedTable.batchToken(spark, batchId))
        }
        ()
      }

  /** One idempotent micro-batch merge: skip (false) when `token` already
    * produced the latest committed version, else merge + publish carrying
    * the token (true) — [[graft.VersionedTable.applyOnce]] with the SCD
    * step (initial load before the first commit, incremental after).
    */
  private[graft] def applyVersionedBatch(spark: org.apache.spark.sql.SparkSession,
                                         batch: DataFrame,
                                         root: String,
                                         cfg: ScdConfig,
                                         token: String): Boolean =
    VersionedTable.applyOnce(spark, root, token)(
      _.fold(ScdEngine.initial(batch, cfg))(
        ScdEngine.incremental(_, batch, cfg)))
}
