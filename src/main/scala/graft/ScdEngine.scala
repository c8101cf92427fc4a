package graft

import java.net.URI

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.functions.ScdFunctions._
import graft.operators.{Scd01, Scd2}

/** Table-maintenance entry point: the Spark counterpart of one `dbt run` of an
  * SCD model (`/root/reference/macros/materializations/scd/materialization_scd.sql:19-40`
  * + `scd_plan.sql:24-282`), including the MERGE sink rewrite of SURVEY.md §4.3.
  *
  * Vanilla Spark-over-Parquet has no transactional MERGE, so the merge result
  * is computed as a snapshot and swapped in via write-new-dir-and-rename.
  * Atomicity story (SURVEY.md §7.4.1): the new snapshot is fully written to a
  * sibling `<target>.tmp` directory before [[swap]]'s one commit point; a crash
  * before it leaves the old table intact, a crash after it is finished forward
  * by the next [[merge]] or [[runWithCdc]]. (A real deployment would layer a
  * transactional table format; the engine semantics are format-agnostic.)
  *
  * == Scale design: key-bucketed layout ==
  *
  * With `numBuckets = Some(n)` the dimension is laid out as
  * `<target>/_scd2_bucket=<pmod(hash(keys), n)>/...`. A business key lives
  * wholly inside one bucket, and every operator in the engine partitions its
  * work by business key, so an incremental run:
  *
  *   1. finds the buckets the delta batch touches in one job (each
  *      partition of the checkpointed batch returns its set of bucket ids),
  *   2. learns which bucket directories exist from one top-level listing
  *      of their NAMES, and reads ONLY the touched ones among them (the
  *      contents of untouched buckets are never listed or read),
  *   3. merges batch ∪ slice over ONE exchange on the bucket column, for
  *      every SCD type ([[Scd2.merged]], [[Scd01.merged]]): the stored rows
  *      no batch row selects pass around the merge over that same exchange,
  *   4. rewrites ONLY the touched bucket directories; the write reuses the
  *      merge's clustering, so the whole merge is three jobs: the touched
  *      buckets, the exchange, the write (plus Spark's parallel listing
  *      job when more than 32 touched buckets exist).
  *
  * Incremental cost is therefore ∝ batch size (+ affected-key history), not
  * dimension size — the property Snowflake's micro-partition pruning gives the
  * reference via `incremental_predicates`
  * (`get_incremental_scd2_sql.sql:247-255`), achieved here with a layout the
  * engine controls. At 100 TB / 1000 executors, an unbucketed incremental run
  * would rewrite the whole table every batch; the bucketed path touches
  * `O(|delta keys| / n)` of it.
  *
  * Every read of the table goes through [[read]], with the data schema
  * taken from one part file's footer, read once per merge: no read runs a
  * schema-inference job. Every write stages its snapshot through
  * [[writeTmp]], the one place that writes `<target>.tmp` and enforces the
  * contract on it, and commits it through [[swap]].
  */
object ScdEngine {

  /** Partition-directory column for the bucketed layout. */
  val BucketCol = "_scd2_bucket"

  /** The bucket ids of an existing table, from one top-level listStatus of
    * its `<BucketCol>=<b>` directory NAMES (never the recursive per-file
    * discovery); empty for an unbucketed table.
    */
  private def listBucketDirs(fs: FileSystem, targetPath: String): Seq[Int] =
    fs.listStatus(new Path(targetPath)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(BucketCol + "="))
      .map(_.getPath.getName.stripPrefix(BucketCol + "=").toInt)
      .sorted

  /** The one reader of the table at `path`: the directories of `buckets`
    * (partition column restored via basePath) or the whole table, with the
    * footer's data schema ([[footerSchema]]; inferred only when no footer
    * carries one), so no read runs a schema-inference job.
    */
  private def read(spark: SparkSession, path: String, schema: Option[StructType],
                   buckets: Option[Seq[Int]] = None): DataFrame = {
    val reader = spark.read.option("basePath", path)
    schema.fold(reader)(reader.schema)
      .parquet(buckets.fold(Seq(path))(_.map(b => s"$path/$BucketCol=$b")): _*)
  }

  /** The whole existing table at `targetPath`, through [[read]]. */
  private def readTable(spark: SparkSession, targetPath: String): DataFrame = {
    val fs = fileSystem(spark, targetPath)
    read(spark, targetPath, footerSchema(spark, fs, targetPath, listBucketDirs(fs, targetPath)))
  }

  /** Run one SCD maintenance step against a Parquet table at `targetPath`:
    * initial load when the target does not exist (or `fullRefresh`), otherwise
    * incremental merge. Returns the post-run snapshot (read back from disk —
    * lineage is truncated at the write, exactly like a warehouse table). A
    * swap an earlier run left cut off past its commit point is finished first.
    *
    * `contract` (dbt `contract: enforced`) declares the REQUIRED schema of
    * the final relation — names, Catalyst types, nullability
    * ([[Contracts]]). Structural clauses (names/types/undeclared) are
    * checked off the plan schema BEFORE any write; declared NOT NULL is a
    * data constraint settled by one narrow null-count over the
    * ALREADY-WRITTEN tmp output right before the swap (the snapshot plan is
    * never executed twice just to validate it). A violating snapshot is
    * never published — its tmp directory is deleted and the old table
    * survives untouched. The checkpointed delta batch is exempt, mirroring
    * `create_temp_table_as.sql:1-5` (the temp holds raw business columns
    * only — audit columns arrive downstream).
    *
    * The first time a given contract passes in full against a target, a
    * `_CONTRACT_OK_<hash>` marker lands at the table root; the pruned
    * bucketed incremental path uses it to know whether UNTOUCHED buckets
    * (which it never re-reads) were ever validated — absent marker, it pays
    * one full-table null-count so adding or tightening a contract on an
    * existing table cannot leave stale buckets unvalidated.
    */
  def run(spark: SparkSession,
          delta: DataFrame,
          targetPath: String,
          cfg: ScdConfig,
          fullRefresh: Boolean = false,
          numBuckets: Option[Int] = None,
          contract: Option[StructType] = None): DataFrame = {
    merge(spark, delta, targetPath, cfg, fullRefresh, numBuckets, contract)
    readTable(spark, targetPath)
  }

  /** [[run]] without the post-run snapshot read-back: commits the
    * maintenance step and returns. On a bucketed table the read-back is
    * the ONE remaining full partition discovery of an incremental run
    * (every internal read addresses the touched bucket directories) and
    * it belongs to the first CONSUMER of the full dimension, not to the
    * merge — a 100 TB pipeline commits the merge and reads slices. Use
    * this from ingest loops; use [[run]] when the next step genuinely
    * wants the whole post-run snapshot.
    */
  def merge(spark: SparkSession,
            delta: DataFrame,
            targetPath: String,
            cfg: ScdConfig,
            fullRefresh: Boolean = false,
            numBuckets: Option[Int] = None,
            contract: Option[StructType] = None): Unit =
    mergeStep(spark, delta, targetPath, cfg, fullRefresh, numBuckets, contract, changelog = None)

  /** [[run]] plus a CDC changelog: appends the payload-carrying
    * `Scd2.snapshotDelta` of this maintenance step to `cdcPath`, stamped
    * with `runId` — the batch counterpart of [[graft.streaming.CdcStream]]
    * (same changelog contract: replayable via `Scd2.applyDelta`, dedupable
    * on (_batch_id, version key) under retries). The changelog is written
    * before the swap's commit point ([[writeChangelog]]), so a run cut off
    * in its swap keeps it. SCD2 only.
    */
  def runWithCdc(spark: SparkSession,
                 delta: DataFrame,
                 targetPath: String,
                 cdcPath: String,
                 runId: Long,
                 cfg: ScdConfig,
                 numBuckets: Option[Int] = None): DataFrame = {
    require(cfg.scdType == 2, "CDC changelog export is SCD2-only")
    mergeStep(spark, delta, targetPath, cfg, fullRefresh = false, numBuckets, contract = None,
              changelog = Some(cdcPath -> runId))
    readTable(spark, targetPath)
  }

  /** [[merge]], and with `changelog` (path, run id) [[runWithCdc]]'s
    * changelog write.
    */
  private def mergeStep(spark: SparkSession,
                        delta: DataFrame,
                        targetPath: String,
                        cfg: ScdConfig,
                        fullRefresh: Boolean,
                        numBuckets: Option[Int],
                        contract: Option[StructType],
                        changelog: Option[(String, Long)]): Unit = {
    cfg.validate()
    val fs = fileSystem(spark, targetPath)
    resume(fs, targetPath)
    // S2: materialize the batch once (temp CTAS equivalent) so schema
    // introspection + the multiple passes below reuse one computation. A
    // local checkpoint, not a cache: AQE plans every scan of a cached
    // relation as a query stage of its own, and an exchange over one never
    // matches another, so a clustered merge's two branches could not share
    // their one exchange.
    val batch = delta.localCheckpoint(eager = false)
    try {
      val (snapshot, pruned) =
        if (!fs.exists(new Path(targetPath)) || fullRefresh) (initial(batch, cfg), false)
        else {
          val dirs = listBucketDirs(fs, targetPath)
          val schema = footerSchema(spark, fs, targetPath, dirs)
          numBuckets.flatMap(n => incrementalBucketed(spark, fs, batch, targetPath,
                                                      dirs, schema, cfg, n, contract))
            .map((_, true)).getOrElse(
              // Full rewrite: an unbucketed table, or a bucketed run the pruned
              // path declined. The read's bucket column is dropped; writeTmp
              // derives it afresh when the layout is bucketed.
              (incremental(read(spark, targetPath, schema).drop(BucketCol), batch, cfg), false))
        }
      swap(spark, fs, snapshot, targetPath, cfg, numBuckets, contract, pruned, changelog)
    } finally // S7: post-run temp drop
      batch.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.unpersist() }
  }

  /** Type-dispatched initial load (`scd_plan.sql:111-149,258-265`). */
  def initial(delta: DataFrame, cfg: ScdConfig): DataFrame =
    if (cfg.scdType == 2) Scd2.initialLoad(delta, cfg)
    else Scd01.initialLoad(delta, cfg)

  /** Type-dispatched incremental merge returning the new snapshot: the
    * batch is first reconciled with the target per `on_schema_change`
    * ([[alignSchemas]]), then merged by [[Scd2]] or [[Scd01]]. Each operator
    * ANDs `incremental_predicates` (P8) into its own selection of the
    * stored rows a merge may touch, as the reference ANDs them into MERGE ON
    * (`get_incremental_scd2_sql.sql:247-255`): target rows failing them pass
    * through unchanged, and a batch key whose history was predicated away
    * re-enters as brand-new — the pruning trade-off is the caller's to make.
    */
  def incremental(target: DataFrame, delta: DataFrame, cfg: ScdConfig): DataFrame =
    incremental(target, delta, cfg, numBuckets = None)

  /** [[incremental]]; with `numBuckets` `target` is a bucketed slice that
    * keeps its [[BucketCol]], the batch gets its own, and the merge clusters
    * on it.
    */
  private def incremental(target: DataFrame,
                          delta: DataFrame,
                          cfg: ScdConfig,
                          numBuckets: Option[Int]): DataFrame = {
    val (t, b) = alignSchemas(target, delta, cfg)
    val batch = numBuckets.fold(b) { n =>
      b.withColumn(BucketCol, bucketOf(cfg.uniqueKey.map(resolveCi(b.columns.toSeq, _)), n))
    }
    val bucket = numBuckets.map(_ => BucketCol)
    if (cfg.scdType == 2) Scd2.merged(t, batch, cfg, bucket) else Scd01.merged(t, batch, cfg, bucket)
  }

  /** Reconcile batch-vs-target schema drift per `cfg.onSchemaChange` (dbt's
    * `on_schema_change`; the reference's materialization predates drift
    * handling, so its runtime behavior is a Snowflake MERGE error = `fail`).
    *
    *  - `fail`: any drift (case-insensitive) throws with both column sets.
    *  - `ignore`: the target schema wins — new batch columns are dropped,
    *    batch rows get typed NULLs for target-only business columns.
    *  - `append_new_columns`: the union schema wins — existing history is
    *    widened with typed NULLs for new batch columns (they join change
    *    detection: NULL→value is a version change), and batch rows get
    *    typed NULLs for target-only columns (a column REMOVED from the
    *    source keeps its recorded history; new versions carry NULL).
    *
    * Audit columns and the [[BucketCol]] of a bucketed slice live only on
    * the target by construction and never count as drift. Pure projection
    * work over plan schemas (the table's from a footer, [[read]]) — no
    * extra shuffle, scan or job at any scale.
    */
  def alignSchemas(target: DataFrame,
                   batch: DataFrame,
                   cfg: ScdConfig): (DataFrame, DataFrame) = {
    val tSet = target.columns.map(_.toUpperCase).toSet
    val bSet = batch.columns.map(_.toUpperCase).toSet
    val audit = (cfg.auditColumns :+ BucketCol).map(_.toUpperCase).toSet
    val newCols = batch.columns.toSeq
      .filterNot(c => tSet.contains(c.toUpperCase))
    val removedCols = target.columns.toSeq
      .filterNot(c => audit.contains(c.toUpperCase) || bSet.contains(c.toUpperCase))
    def typeOf(df: DataFrame, c: String) =
      df.schema.fields.find(_.name.equalsIgnoreCase(c)).get.dataType
    def nullFill(df: DataFrame, cols: Seq[String], donor: DataFrame) =
      cols.foldLeft(df)((d, c) =>
        d.withColumn(c, lit(null).cast(typeOf(donor, c))))
    cfg.onSchemaChange match {
      case "ignore" =>
        (target, nullFill(batch.drop(newCols: _*), removedCols, target))
      case "append_new_columns" =>
        (nullFill(target, newCols, batch),
         nullFill(batch, removedCols, target))
      case _ =>
        require(
          newCols.isEmpty && removedCols.isEmpty,
          s"schema changed under on_schema_change=fail: batch adds " +
            s"[${newCols.mkString(", ")}], batch is missing " +
            s"[${removedCols.mkString(", ")}]")
        (target, batch)
    }
  }

  /** Deterministic bucket id for a row's business key: murmur3 over the key
    * columns (null-tolerant), non-negative mod n. Stable across writes, so a
    * key always lands in the same partition directory.
    */
  def bucketOf(keys: Seq[String], n: Int) =
    pmod(hash(keys.map(col): _*), lit(n))

  /** Incremental over a bucketed target whose bucket ids are `dirs` and
    * data schema `schema` ([[footerSchema]]): the snapshot of ONLY the
    * buckets the batch touches. None when the run needs the full rewrite
    * instead: the target has no bucket directory at all (an unbucketed
    * table being bucketed — merging only the touched buckets would leave
    * the old root files beside them), or the batch widens the schema.
    */
  private def incrementalBucketed(spark: SparkSession, fs: FileSystem, batch: DataFrame,
                                  targetPath: String, dirs: Seq[Int],
                                  schema: Option[StructType], cfg: ScdConfig, n: Int,
                                  contract: Option[StructType]): Option[DataFrame] = {
    if (dirs.isEmpty) return None
    val keys = cfg.uniqueKey.map(resolveCi(batch.columns.toSeq, _))
    // Which buckets does the batch touch? One job over the checkpointed
    // batch (it also fills the checkpoint): each partition returns its set
    // of bucket ids and the driver unions them, with no exchange.
    val touched = batch.select(bucketOf(keys, n)).rdd
      .mapPartitions(rows => Iterator(rows.map(_.getInt(0)).toSet))
      .collect().flatten.distinct.sorted.toSeq
    // Only the touched directories that EXIST are read (a touched bucket
    // with no directory yet contributes no history — its keys are
    // brand-new). `dirs` is one listing of bucket names, so nothing here
    // runs Spark's recursive partition discovery over the whole table.
    val existing = touched.filter(dirs.toSet)
    def readBuckets(bs: Seq[Int]): DataFrame = read(spark, targetPath, schema, Some(bs))
    // Schema-WIDENING evolution cannot ride the pruned path: rewriting only
    // touched buckets would leave untouched bucket files with the old
    // footer schema, and a later plain parquet read resolves the table
    // schema from ONE footer — the new column silently vanishes (or reads
    // NULL) depending on which file wins. Evolution is rare and operator-
    // initiated, so pay a one-off full rewrite that keeps every bucket's
    // disk schema uniform. (`ignore` drops the new columns, `fail` throws
    // in alignSchemas — neither widens disk, both stay pruned.) The
    // column-set probe reads ONE bucket directory's schema, not the whole
    // table (disk schema is uniform across buckets by construction).
    val widens = cfg.onSchemaChange == "append_new_columns" && {
      val tCols = readBuckets(dirs.take(1)).columns.map(_.toUpperCase).toSet
      batch.columns.exists(c => !tCols.contains(c.toUpperCase))
    }
    if (widens) return None
    // Untouched buckets are validated only the FIRST time this contract is
    // seen on this target (marker absent): the pruned path never reads them
    // again, so a contract added/tightened on an existing table pays one
    // full-coverage null-count (by DIRECTORY, off the listing), after which
    // the marker certifies them. It runs before any write, so a violation
    // leaves the table and its neighbours untouched.
    contract.filterNot(c => fs.exists(contractMarkerPath(targetPath, c)))
      .foreach { c =>
        val untouched = dirs.filterNot(touched.contains)
        if (untouched.nonEmpty) Contracts.enforceNotNull(readBuckets(untouched), c)
      }
    val target =
      if (existing.nonEmpty) readBuckets(existing) else readBuckets(dirs.take(1)).limit(0)
    // The merge keeps the bucket column and clusters on it once; the
    // write's repartition on the same column then plans no second exchange.
    Some(incremental(target, batch, cfg, Some(n)))
  }

  /** `fs.rename` that fails loudly: a false return throws before any delete,
    * leaving the live table intact or, past the commit point, [[resume]]'s input.
    */
  private def rename(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename $src -> $dst failed; $src is kept")

  /** Stage `snapshot` as `<target>.tmp`, checked against `contract`: the
    * structural clauses off the plan schema before anything is written,
    * then the write (bucket column added and rows clustered onto it when
    * bucketed), then declared NOT NULL off the WRITTEN bytes (a narrow
    * parquet column scan — the snapshot pipeline is not re-executed). A
    * violation deletes the tmp directory and rethrows, so [[swap]] never
    * reaches its commit point and the live table survives untouched.
    */
  private def writeTmp(spark: SparkSession, fs: FileSystem, snapshot: DataFrame,
                       targetPath: String, cfg: ScdConfig, numBuckets: Option[Int],
                       contract: Option[StructType]): Unit = {
    val data = snapshot.drop(BucketCol)
    contract.foreach(Contracts.enforceStructural(data.schema, _))
    val tmp = new Path(targetPath + ".tmp")
    fs.delete(tmp, true)
    // Cluster rows onto their bucket BEFORE the partitioned write: without
    // it every write task appends to every bucket directory — tasks ×
    // buckets files (32 × 1000 = 32k at Stress10's probe, a ~100 s flat
    // small-files tax regardless of data size, and the metadata storm that
    // kills object-store listings at 100 TB). Repartitioned on the bucket
    // column, each bucket directory gets ~1 file. A snapshot that already
    // carries the column (a clustered merge) is hash-partitioned on it, and
    // the planner drops this repartition as redundant.
    val writer = numBuckets match {
      case Some(n) =>
        val keys = cfg.uniqueKey.map(resolveCi(snapshot.columns.toSeq, _))
        val bucketed =
          if (snapshot.columns.contains(BucketCol)) snapshot
          else snapshot.withColumn(BucketCol, bucketOf(keys, n))
        bucketed.repartition(col(BucketCol)).write.partitionBy(BucketCol)
      case None => snapshot.write
    }
    writer.mode("overwrite").parquet(tmp.toString)
    // the check reads the written columns with the snapshot's schema: no
    // schema-inference job
    try contract.foreach(c =>
      Contracts.enforceNotNull(read(spark, tmp.toString, Some(data.schema)), c))
    catch { case e: Throwable => fs.delete(tmp, true); throw e }
  }

  /** Write-new-dir-and-swap (SURVEY.md §4.3.2), the one routine that renames
    * into the table; it breaks the read-write cycle on `targetPath` (the
    * snapshot's lineage reads the same path it replaces). The snapshot (with
    * `pruned`, of the touched buckets only) is staged and checked by
    * [[writeTmp]], and with `changelog` diffed into it ([[writeChangelog]]);
    * then the commit point: the live table's rename to `.old`, or with
    * `pruned` the creation of `.old`. A passing validation certifies every
    * row the snapshot holds, so the contract marker lands post-swap.
    */
  private def swap(spark: SparkSession, fs: FileSystem, snapshot: DataFrame,
                   targetPath: String, cfg: ScdConfig, numBuckets: Option[Int],
                   contract: Option[StructType], pruned: Boolean,
                   changelog: Option[(String, Long)]): Unit = {
    writeTmp(spark, fs, snapshot, targetPath, cfg, numBuckets, contract)
    changelog.foreach { case (cdcPath, runId) =>
      writeChangelog(spark, fs, targetPath, cfg, pruned, cdcPath, runId)
    }
    val dst = new Path(targetPath)
    if (pruned) fs.mkdirs(dst.suffix(".old"))
    else if (fs.exists(dst)) rename(fs, dst, dst.suffix(".old"))
    finishSwap(fs, dst)
    contract.foreach(c => fs.create(contractMarkerPath(targetPath, c), true).close())
  }

  /** Appends to `cdcPath` the payload-carrying `Scd2.snapshotDelta` of the
    * live rows the staged `.tmp` replaces (the whole table, or with
    * `pruned` its buckets that `.tmp` holds) against `.tmp`, stamped
    * `_batch_id` = `runId`. Both sides are read and diffed before [[swap]]
    * renames anything, so no file listing goes stale under the diff. A run
    * cut off later has written its changelog: its replay finds the batch
    * applied (past the commit point) and appends no row, or restages it
    * (before) and appends the same rows again.
    */
  private def writeChangelog(spark: SparkSession, fs: FileSystem, targetPath: String,
                             cfg: ScdConfig, pruned: Boolean, cdcPath: String,
                             runId: Long): Unit = {
    val tmp = targetPath + ".tmp"
    val staged = readTable(spark, tmp)
    val live =
      if (!fs.exists(new Path(targetPath))) None
      else if (!pruned) Some(readTable(spark, targetPath))
      else {
        val dirs = listBucketDirs(fs, targetPath)
        Some(listBucketDirs(fs, tmp).filter(dirs.contains)).filter(_.nonEmpty).map(bs =>
          read(spark, targetPath, footerSchema(spark, fs, targetPath, dirs), Some(bs)))
      }
    Scd2.snapshotDelta(live.getOrElse(staged.limit(0)), staged, cfg, includePayload = true)
      .withColumn("_batch_id", lit(runId))
      .write.mode("append").parquet(cdcPath)
  }

  /** The second half of [[swap]], idempotent so [[resume]] can re-run it:
    * with no live table `.tmp` becomes the table; otherwise each bucket
    * directory in `.tmp` replaces its live bucket, moved to `.old` first;
    * then both are deleted. Finishing forward is safe: the merge absorbs a
    * re-applied batch (SCD2's dedup keeps the stored version; 0/1 idempotent).
    */
  private def finishSwap(fs: FileSystem, dst: Path): Unit = {
    val (tmp, old) = (dst.suffix(".tmp"), dst.suffix(".old"))
    if (!fs.exists(dst)) rename(fs, tmp, dst)
    else if (fs.exists(tmp))
      for (b <- listBucketDirs(fs, tmp.toString)) {
        val live = new Path(dst, s"$BucketCol=$b")
        if (fs.exists(live)) rename(fs, live, new Path(old, live.getName))
        rename(fs, new Path(tmp, live.getName), live)
      }
    fs.delete(old, true)
    fs.delete(tmp, true)
  }

  /** Finishes a [[swap]] cut off past its commit point, which `.old` marks
    * (a `.tmp` without it is a cut-off write, which [[writeTmp]] discards).
    */
  private def resume(fs: FileSystem, targetPath: String): Unit =
    if (fs.exists(new Path(targetPath + ".old"))) finishSwap(fs, new Path(targetPath))

  /** Marker certifying "this exact contract passed in full against this
    * table": `_CONTRACT_OK_<md5(contract.json) prefix>` at the table root —
    * underscore-prefixed with no `=`, so parquet scans skip it. A changed
    * (tightened or renamed) contract hashes differently and re-triggers the
    * one-off full validation on the pruned bucketed path.
    */
  private def contractMarkerPath(targetPath: String,
                                 contract: StructType): Path = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(contract.json.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    new Path(s"$targetPath/_CONTRACT_OK_$hex")
  }

  /** The data schema Spark wrote into the footer of one part file of the
    * table (key `org.apache.spark.sql.parquet.row.metadata`), in its first
    * bucket directory of `dirs` or else its root: the schema a parquet read
    * would infer, read on the driver without a Spark job. None when no part
    * file carries it.
    */
  private def footerSchema(spark: SparkSession, fs: FileSystem, targetPath: String,
                           dirs: Seq[Int]): Option[StructType] =
    fs.listStatus(new Path(dirs.headOption.fold(targetPath)(b => s"$targetPath/$BucketCol=$b")))
      .iterator.map(_.getPath)
      .find(_.getName.endsWith(".parquet"))
      .flatMap { p =>
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromPath(p, spark.sparkContext.hadoopConfiguration))
        try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
                     .get("org.apache.spark.sql.parquet.row.metadata"))
        finally reader.close()
      }
      .map(DataType.fromJson(_).asInstanceOf[StructType])

  private def fileSystem(spark: SparkSession, path: String): FileSystem =
    FileSystem.get(new URI(path), spark.sparkContext.hadoopConfiguration)
}
