package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.VersionedTable

/** Explicit watermark-drop accounting for an at-least-once merge sink.
  *
  * Rows older than (previous committed high-watermark − delay) are DROPPED
  * and counted; everything else merges into a per-key
  * (n_kept, n_dropped, value sum) store. The built-in `withWatermark`
  * evicts late rows silently; a production pipeline needs the drop COUNT —
  * it is the observability signal that the configured delay is mis-sized
  * (compare `/root/reference/macros/materializations/scd/scd_plan.sql`'s
  * batch cutoff, which admits late rows by re-running; a stream must
  * instead account for what it refuses).
  *
  * Watermark semantics mirror Structured Streaming's: the watermark for
  * micro-batch k is the max event time across COMMITTED batches < k minus
  * the delay; batch 0 drops nothing. The max advances only on kept rows
  * (a dropped row is by definition older than the committed max, so it
  * could never advance it).
  *
  * Scale: per micro-batch the engine touches O(batch + store keys). The
  * store is key-dimensional (event types); the high-watermark probe is a
  * scalar aggregate over it. Replayed batch ids (at-least-once
  * foreachBatch) are skipped by the shared replay-safe step
  * [[graft.VersionedTable.applyOnce]].
  */
object WatermarkStream {

  /** events(ts, event_type, value) stream → per-type
    * (n_kept, n_dropped, value_micro_kept, max_us) store under
    * [[graft.VersionedTable]].
    */
  def lateDropSink(events: DataFrame,
                   storeRoot: String,
                   delayUs: Long,
                   checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        VersionedTable.applyOnce(spark, storeRoot,
                                 VersionedTable.batchToken(spark, batchId)) { prev =>
          val prevMax: Option[Long] = prev.flatMap { p =>
            val r = p.agg(max(col("max_us"))).first()
            if (r.isNullAt(0)) None else Some(r.getLong(0))
          }
          val us = batch.withColumn("_us", unix_micros(col("ts")))
          val flagged = prevMax match {
            case Some(m) =>
              us.withColumn("_late", col("_us") < lit(m - delayUs))
            case None => us.withColumn("_late", lit(false))
          }
          val delta = flagged.groupBy(col("event_type")).agg(
            sum(when(!col("_late"), 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("_late"), 1L).otherwise(0L)).as("n_dropped"),
            sum(when(!col("_late"),
                     floor(col("value") * lit(1000000.0)).cast("long"))
              .otherwise(0L)).as("value_micro_kept"),
            max(when(!col("_late"), col("_us"))).as("max_us"))
          prev match {
            case None => delta
            case Some(p) =>
              p.select(col("event_type"), col("n_kept"), col("n_dropped"),
                       col("value_micro_kept"), col("max_us"))
                .unionAll(delta)
                .groupBy(col("event_type"))
                .agg(sum(col("n_kept")).as("n_kept"),
                     sum(col("n_dropped")).as("n_dropped"),
                     sum(col("value_micro_kept")).as("value_micro_kept"),
                     max(col("max_us")).as("max_us"))
          }
        }
        ()
      }
      .start()
}
