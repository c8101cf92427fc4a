package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Small-file compaction planning: group a partition's files into
  * target-sized rewrite bins with one window pass.
  *
  * The dominant operational tax on a 100 TB parquet lake is not query CPU —
  * it is millions of kilobyte-scale files (streaming sinks, per-batch
  * incremental writes, over-partitioned ingest) each costing a NameNode/
  * object-store round trip and its own row-group footer. Compaction fixes
  * it, but the PLAN must itself be computed at metadata scale: this
  * operator consumes a file inventory (partition, file, size) — listing
  * output, never data — and assigns each file to a rewrite bin by walking
  * files in layout order (so compacted files stay range-clustered) and
  * cutting a new bin whenever the running size crosses the target. That
  * greedy sequential packing is exactly a cumulative sum: bin =
  * floor(cumsum_before / target), one window function partitioned by the
  * table partition — no driver loop, no per-file RPC, plans a million-file
  * inventory in one pass.
  *
  * Files at/above the target land alone in their own bin (already compact;
  * rewriting them would be wasted IO) — the standard lakehouse OPTIMIZE
  * guard — via a pre-pass that routes them out before the cumsum.
  */
object Compaction {

  /** Per-(partition, bin) rewrite plan over inventory rows.
    *
    * @param orderCol layout order within a partition (e.g. first sort key /
    *                 day): compaction preserves clustering.
    * @return one row per planned output file:
    *   `partition, bin, n_files, bytes, from_<order>, to_<order>` —
    *   `bin` is NULL-safe dense within partition; singletons ≥ target get
    *   negative bins keyed by order position (stable, distinct).
    */
  def plan(inventory: DataFrame, partitionCol: String, fileCol: String,
           sizeCol: String, orderCol: String, targetBytes: Long): DataFrame =
    assign(inventory, partitionCol, fileCol, sizeCol, orderCol, targetBytes)
      .groupBy(col(partitionCol), col("bin"))
      .agg(count(lit(1)).as("n_files"),
           sum(col(sizeCol)).as("bytes"),
           min(col(orderCol)).as("from_order"),
           max(col(orderCol)).as("to_order"))

  /** Per-FILE bin assignment (the executable face of [[plan]]): every
    * inventory row with its rewrite `bin` — what a rewrite job joins back
    * to the data to route rows into compacted output files.
    */
  def assign(inventory: DataFrame, partitionCol: String, fileCol: String,
             sizeCol: String, orderCol: String,
             targetBytes: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(partitionCol))
      .orderBy(col(orderCol), col(fileCol))
    val small = Window.partitionBy(col(partitionCol), col("_big"))
      .orderBy(col(orderCol), col(fileCol))
    inventory
      .withColumn("_big", col(sizeCol) >= targetBytes)
      .withColumn("_pos", row_number().over(w))
      .withColumn("_cum",
        sum(when(col("_big"), 0L).otherwise(col(sizeCol))).over(
          small.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("bin",
        when(col("_big"), -col("_pos"))
          .otherwise(expr(s"coalesce(_cum, 0L) DIV $targetBytes")))
      .drop("_big", "_pos", "_cum")
  }

  /** Inventory-level summary: how much the plan shrinks the file count.
    * `partition, files_before, files_after, bytes` — the report a lake
    * operator reads before green-lighting the rewrite job.
    */
  def summary(planned: DataFrame, partitionCol: String): DataFrame =
    planned.groupBy(col(partitionCol))
      .agg(sum(col("n_files")).as("files_before"),
           count(lit(1)).as("files_after"),
           sum(col("bytes")).as("bytes"))
}
