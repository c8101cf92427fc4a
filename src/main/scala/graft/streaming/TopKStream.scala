package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.VersionedTable

/** Streaming heavy-hitter maintenance with BOUNDED state: per-bucket
  * Misra–Gries summaries merged once per micro-batch into a
  * [[graft.VersionedTable]] store.
  *
  * Exact streaming counts (RollupStream-style) keep one state row per
  * DISTINCT key — ruinous when the key is a user/doc/ip column with
  * billions of values. Misra–Gries keeps at most `m` counters per bucket
  * and still guarantees, per bucket with processed mass N_b and
  * accumulated error e_b:
  *
  *   - e_b ≤ N_b / (m+1)              (each shrink that subtracts d
  *     removes ≥ d·(m+1) mass from ≥ m+1 positive counters)
  *   - est ≤ true ≤ est + e_b         (counters only ever under-count)
  *   - every key with true > e_b survives in the summary (its counter
  *     cannot reach zero while e_b total has been subtracted from it)
  *
  * Merging is exact-batch-into-summary: each micro-batch's per-bucket
  * EXACT counts (a zero-error MG summary) sum into the stored counters,
  * then one shrink back to `m` — the mergeable-summaries construction, so
  * arrival order and batch boundaries never change the guarantee. Keys
  * hash-partition across `buckets` (a key lives in exactly one bucket —
  * the production topology: per-partition summaries, union at read time).
  *
  * All state is integer counters; the shrink delta d is the (m+1)-th
  * largest summed counter (a multiset statistic — deterministic under any
  * tie order). foreachBatch is at-least-once, so every micro-batch runs
  * through the shared replay-safe step [[graft.VersionedTable.applyOnce]],
  * which makes replays no-ops.
  *
  * Store layout: kind='c' rows (bucket, k, est) — the counters; kind='m'
  * rows (bucket, err, n) — per-bucket error bound and processed mass.
  */
object TopKStream {

  /** keyed stream -> bounded per-bucket MG summaries in a versioned store. */
  def misraGriesSink(events: DataFrame,
                     storeRoot: String,
                     keyCol: String,
                     buckets: Int,
                     m: Int,
                     checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    require(buckets >= 1 && m >= 1)
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        VersionedTable.applyOnce(spark, storeRoot,
                                 VersionedTable.batchToken(spark, batchId)) { prev =>
          import org.apache.spark.sql.expressions.Window
          val keyed = batch.select(
            pmod(col(keyCol).cast("long"), lit(buckets.toLong)).as("bucket"),
            col(keyCol).cast("long").as("k"))
          val deltaC = keyed.groupBy(col("bucket"), col("k"))
            .agg(count(lit(1)).as("est"))
          val deltaN = keyed.groupBy(col("bucket"))
            .agg(count(lit(1)).as("dn"))
          val (prevC, prevM) = prev match {
            case None =>
              val c = deltaC.filter(lit(false))
              (c.select(col("bucket"), col("k"), col("est")),
               deltaN.filter(lit(false))
                 .select(col("bucket"), lit(0L).as("err"),
                         lit(0L).as("n")))
            case Some(st) =>
              (st.filter(col("kind") === "c")
                 .select(col("bucket"), col("k"), col("est")),
               st.filter(col("kind") === "m")
                 .select(col("bucket"), col("err"), col("n")))
          }
          val summed = prevC.unionAll(deltaC)
            .groupBy(col("bucket"), col("k"))
            .agg(sum(col("est")).as("est"))
          val w = Window.partitionBy(col("bucket"))
            .orderBy(col("est").desc, col("k"))
          val ranked = summed.withColumn("_rn", row_number().over(w))
            .localCheckpoint()
          // d = (m+1)-th largest summed counter per bucket (0 if ≤ m keys)
          val d = ranked.filter(col("_rn") === m + 1)
            .select(col("bucket"), col("est").as("_d"))
          val counters = ranked
            .join(broadcast(d), Seq("bucket"), "left")
            .select(col("bucket"), col("k"),
                    (col("est") - coalesce(col("_d"), lit(0L))).as("est"))
            .filter(col("est") > 0)
            .select(col("bucket"), col("k"), lit("c").as("kind"),
                    col("est"), lit(0L).as("err"), lit(0L).as("n"))
          val meta = prevM
            .join(deltaN, Seq("bucket"), "full_outer")
            .join(broadcast(d), Seq("bucket"), "left")
            .select(col("bucket"), lit(null).cast("long").as("k"),
                    lit("m").as("kind"), lit(0L).as("est"),
                    (coalesce(col("err"), lit(0L)) +
                       coalesce(col("_d"), lit(0L))).as("err"),
                    (coalesce(col("n"), lit(0L)) +
                       coalesce(col("dn"), lit(0L))).as("n"))
          counters.unionAll(meta)
        }
        ()
      }
      .start()
  }

  /** The store as one relation per surviving counter with its bucket's
    * error bound and processed mass attached: (bucket, k, est, err, n_b).
    */
  def readSummary(spark: org.apache.spark.sql.SparkSession,
                  storeRoot: String): DataFrame = {
    val st = VersionedTable.read(spark, storeRoot)
    st.filter(col("kind") === "c")
      .select(col("bucket"), col("k"), col("est"))
      .join(st.filter(col("kind") === "m")
              .select(col("bucket"), col("err"), col("n").as("n_b")),
            Seq("bucket"))
  }
}
