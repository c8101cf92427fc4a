package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.VersionedTable
import graft.operators.IncrementalAgg

/** Watermarked tumbling-window rollup: the streaming counterpart of the
  * batch per-(event_type, day) rollup (X27), via the built-in windowed
  * aggregation — watermark-scoped state, append-mode emission when the
  * event-time watermark passes a window's end.
  *
  * At scale: state is O(open windows x event types), partial-aggregated
  * map-side per micro-batch before the one exchange on the grouping key —
  * the same combine-enabled shuffle the batch rollup plans. Sums are over
  * floor(value*1e6) longs (order-independent across arrival order, so a
  * replay from a different offset checkpoint produces identical rows).
  */
object RollupStream {

  /** events(ts, event_type, value) stream -> closed (event_type, day) rows.
    *
    * @param delay watermark delay: how long to admit late events before a
    *              window is sealed and emitted
    */
  def tumbling(events: DataFrame,
               tsCol: String = "ts",
               delay: String = "1 hour",
               width: String = "1 day"): DataFrame =
    events
      .withWatermark(tsCol, delay)
      .groupBy(col("event_type"), window(col(tsCol), width).as("w"))
      .agg(count(lit(1)).as("n_events"),
           sum(floor(col("value") * lit(1000000.0)).cast("long"))
             .as("value_micro_sum"))
      .select(col("event_type"), col("w").getField("start").as("day"),
              col("n_events"), col("value_micro_sum"))

  /** Streaming face of the X97 incremental aggregate: every micro-batch is
    * rolled up (mergeable partials only) and MERGED into the materialized
    * rollup published through [[graft.VersionedTable]] — readers always see
    * a committed version, and per micro-batch the engine touches O(batch +
    * touched keys), never the fact history. Unlike [[tumbling]] this keeps
    * NO stream state: the merge algebra makes the store itself the state,
    * so late events just merge into their (already emitted) key — the
    * eventually-correct pattern windowed append mode can't give.
    *
    * `keyExprs` are computed per batch (e.g. `date_trunc('DAY', ts)`), so
    * the caller controls the rollup grain. Each micro-batch runs through
    * the shared replay-safe step [[graft.VersionedTable.applyOnce]].
    */
  def incrementalSink(events: DataFrame,
                      storeRoot: String,
                      keys: Seq[String],
                      keyExprs: DataFrame => DataFrame,
                      valueMicro: org.apache.spark.sql.Column,
                      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // foreachBatch is at-least-once and the additive merge (count/sum)
        // is NOT idempotent, so the batch runs through the shared
        // replay-safe step: a replay of the batch that produced the latest
        // committed version is skipped.
        VersionedTable.applyOnce(spark, storeRoot,
                                 VersionedTable.batchToken(spark, batchId)) { prev =>
          val delta = IncrementalAgg.rollup(keyExprs(batch), keys, valueMicro)
          prev.fold(delta)(IncrementalAgg.merge(_, delta, keys))
        }
        ()
      }
      .start()
}
