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
  * The pre-merge snapshot is pinned with an eager `localCheckpoint` BEFORE
  * the merge swaps the target directory underneath its file listing —
  * without it the lazy read would resolve against the post-swap files. A
  * micro-batch cut off mid-swap, past the swap's commit point, is finished
  * by the next one before that one reads its pre-merge snapshot; the
  * cut-off batch's own changes then reach no changelog (a replay of it
  * finds them already applied). The
  * changelog write is append-only with a `_batch_id` column: at-least-once
  * `foreachBatch` retries overwrite their own batch deterministically
  * (same inputs -> same delta), so consumers dedup on (_batch_id, key).
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
