package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.{ScdConfig, ScdEngine}

/** SCD maintenance with a CDC changelog: every micro-batch runs one
  * incremental merge (exactly [[ScdStream.scdSink]]) and ALSO appends the
  * row-level delta the merge produced — `Scd2.snapshotDelta` between the
  * pre- and post-merge snapshots, stamped with the batch id — to `cdcPath`.
  * Downstream consumers (cache invalidation, search-index updates, audit
  * feeds) replay the changelog instead of diffing snapshots themselves;
  * what `MERGE ... OUTPUT` exports on a warehouse, recovered here from the
  * two states the engine already has in hand.
  *
  * The delta is taken between the rows the merge's staged snapshot
  * replaces and that snapshot, and written before the swap's commit point
  * (`ScdEngine.runWithCdc`), so a micro-batch cut off anywhere in its swap
  * has already written its changelog: the retry finds its changes applied
  * and appends nothing, or, cut off before the commit point, appends the
  * same rows again. The changelog write is append-only with a `_batch_id`
  * column: at-least-once `foreachBatch` retries rewrite their own batch
  * deterministically (same inputs -> same delta), so consumers dedup on
  * (_batch_id, key).
  *
  * SCD Type 2 only — types 0/1 rewrite rows in place and their delta is the
  * batch itself.
  */
object CdcStream {

  def scdCdcSink(stream: DataFrame,
                 targetPath: String,
                 cdcPath: String,
                 cfg: ScdConfig,
                 checkpointLocation: String,
                 numBuckets: Option[Int] = None,
                 trigger: Trigger = Trigger.ProcessingTime(0)): DataStreamWriter[Row] = {
    require(cfg.scdType == 2, "CDC changelog export is SCD2-only")
    stream.writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty)
          ScdEngine.runWithCdc(batch.sparkSession, batch.toDF(), targetPath,
                               cdcPath, batchId, cfg, numBuckets = numBuckets)
        ()
      }
  }
}
