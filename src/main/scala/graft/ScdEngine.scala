package graft

import java.net.URI

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.ScdFunctions._
import graft.operators.{Scd01, Scd2}

/** Table-maintenance entry point: the Spark counterpart of one `dbt run` of an
  * SCD model (`/root/reference/macros/materializations/scd/materialization_scd.sql:19-40`
  * + `scd_plan.sql:24-282`), including the MERGE sink rewrite of SURVEY.md §4.3.
  *
  * Vanilla Spark-over-Parquet has no transactional MERGE, so the merge result
  * is computed as a full snapshot and swapped in via write-new-dir-and-rename.
  * Atomicity story (SURVEY.md §7.4.1): the new snapshot is fully written to a
  * sibling `<target>.tmp` directory before any destructive rename; a crash
  * before the swap leaves the old table intact, a crash between the two renames
  * leaves `<target>.old` recoverable by hand. (A real deployment would layer a
  * transactional table format; the engine semantics are format-agnostic.)
  *
  * == Scale design: key-bucketed layout ==
  *
  * With `numBuckets = Some(n)` the dimension is laid out as
  * `<target>/_scd2_bucket=<pmod(hash(keys), n)>/...`. A business key lives
  * wholly inside one bucket, and every operator in the engine partitions its
  * work by business key, so an incremental run:
  *
  *   1. computes the distinct buckets touched by the delta batch (a tiny
  *      aggregate over the batch),
  *   2. reads ONLY those partitions of the target (static partition pruning at
  *      the parquet scan — untouched buckets are never read),
  *   3. runs the merge over the pruned slice,
  *   4. rewrites ONLY the touched bucket directories.
  *
  * Incremental cost is therefore ∝ batch size (+ affected-key history), not
  * dimension size — the property Snowflake's micro-partition pruning gives the
  * reference via `incremental_predicates`
  * (`get_incremental_scd2_sql.sql:247-255`), achieved here with a layout the
  * engine controls. At 100 TB / 1000 executors, an unbucketed incremental run
  * would rewrite the whole table every batch; the bucketed path touches
  * `O(|delta keys| / n)` of it.
  */
object ScdEngine {

  /** Partition-directory column for the bucketed layout. */
  val BucketCol = "_scd2_bucket"

  /** Root-level bucket manifest (`_SCD_BUCKETS`): the bucket ids present on
    * disk, one per line — so the pruned incremental path never LISTS the
    * table's partition directories to know what exists (Stress13c: at 100 M
    * rows / 800 buckets, partition discovery over ~25k files was the whole
    * local-batch slope; a real catalog absorbs exactly this, and the
    * library's manifest is its stand-in). No '=' in the name, underscore
    * prefix: parquet scans skip it. Written atomically (tmp + rename, the
    * VersionedTable manifest discipline); a missing or foreign-content
    * manifest degrades to ONE top-level listStatus (directory names only,
    * not the recursive file listing Spark's discovery pays) and is then
    * rewritten.
    */
  private val BucketManifest = "_SCD_BUCKETS"

  private def readBucketManifest(fs: FileSystem,
                                 targetPath: String): Option[Seq[Int]] =
    SmallFile.readIfPresent(fs, new Path(s"$targetPath/$BucketManifest"))
      .flatMap { txt =>
        val lines = txt.split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
        // toIntOption, not toInt (ADVICE r12): an all-digit line exceeding
        // Int range must degrade to the listing fallback like any other
        // foreign content, not crash the merge with NumberFormatException.
        val parsed = lines.map(_.toIntOption)
        if (parsed.forall(_.isDefined)) // empty manifest = zero buckets, valid
          Some(parsed.map(_.get))
        else None // half-written/foreign/oversized content: fall back to listing
      }

  // A missing manifest is SAFE: readers fall back to one listing.
  private def writeBucketManifest(fs: FileSystem, targetPath: String,
                                  buckets: Seq[Int]): Unit =
    SmallFile.publish(fs, targetPath, BucketManifest,
                      buckets.distinct.sorted.mkString("\n"))

  /** One top-level listStatus for `<BucketCol>=<b>` directory NAMES — the
    * manifest fallback and the post-swap seed. Directory names only: never
    * the recursive per-file discovery.
    */
  private def listBucketDirs(fs: FileSystem, targetPath: String): Seq[Int] = {
    val root = new Path(targetPath)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(BucketCol + "="))
      .map(_.getPath.getName.stripPrefix(BucketCol + "=").toInt)
      .sorted
  }

  /** The on-disk bucket set: manifest when present, else one listing (which
    * then seeds the manifest so the next run never lists).
    *
    * TRUST MODEL (ADVICE r12): the manifest is a PRUNING HINT, never load-
    * bearing for correctness — a crash between the per-bucket rename loop
    * and the manifest rewrite leaves it stale in either direction (a
    * listed-but-deleted bucket, or an on-disk bucket it doesn't know).
    * Every consumer therefore cross-checks what it touches: the hot merge
    * path exists-probes exactly the touched directories
    * ([[existingBuckets]] — |delta buckets| probes, the pruned path's own
    * scale), and the rare full-coverage paths (schema-widening rewrite,
    * first-contract validation) re-derive ground truth with ONE
    * [[listBucketDirs]] listing. A phantom manifest entry is thus never
    * read (probe fails → treated as absent) and an unlisted-but-on-disk
    * bucket is never overwritten blind (the probe finds it) — it re-enters
    * the manifest via the post-merge survivors write when next touched.
    */
  private def bucketsOnDisk(fs: FileSystem, targetPath: String): Seq[Int] =
    readBucketManifest(fs, targetPath).getOrElse {
      val listed = listBucketDirs(fs, targetPath)
      writeBucketManifest(fs, targetPath, listed)
      listed
    }

  /** The subset of `bs` whose bucket directory actually exists — the
    * per-touched-bucket cross-check of the manifest trust model. Cost is
    * one existence probe per requested bucket (delta-bounded on the merge
    * path), never a table-wide listing.
    */
  private def existingBuckets(fs: FileSystem, targetPath: String,
                              bs: Seq[Int]): Seq[Int] =
    bs.filter(b => fs.exists(new Path(s"$targetPath/$BucketCol=$b")))

  /** Run one SCD maintenance step against a Parquet table at `targetPath`:
    * initial load when the target does not exist (or `fullRefresh`), otherwise
    * incremental merge. Returns the post-run snapshot (read back from disk —
    * lineage is truncated at the write, exactly like a warehouse table).
    *
    * `contract` (dbt `contract: enforced`) declares the REQUIRED schema of
    * the final relation — names, Catalyst types, nullability
    * ([[Contracts]]). Structural clauses (names/types/undeclared) are
    * checked off the plan schema BEFORE any write; declared NOT NULL is a
    * data constraint settled by one narrow null-count over the
    * ALREADY-WRITTEN tmp output right before the swap (the snapshot plan is
    * never executed twice just to validate it). A violating snapshot is
    * never published — its tmp directory is deleted and the old table
    * survives untouched. The cached delta batch is exempt, mirroring
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
          contract: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    merge(spark, delta, targetPath, cfg, fullRefresh, numBuckets, contract)
    spark.read.parquet(targetPath)
  }

  /** [[run]] without the post-run snapshot read-back: commits the
    * maintenance step and returns. On a bucketed table the read-back is
    * the ONE remaining full partition discovery of an incremental run
    * (every internal read is manifest-routed to the touched buckets) and
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
            contract: Option[org.apache.spark.sql.types.StructType] = None): Unit = {
    cfg.validate()
    val fs = fileSystem(spark, targetPath)
    val exists = fs.exists(new Path(targetPath))
    // S2: materialize the batch once (temp CTAS equivalent) so schema
    // introspection + the multiple passes below reuse one computation.
    val batch = delta.cache()
    try {
      if (!exists || fullRefresh) {
        val snapshot = initial(batch, cfg)
        contract.foreach(Contracts.enforceStructural(snapshot.schema, _))
        atomicSwap(spark, fs, withBucket(snapshot, cfg, numBuckets), targetPath,
                   numBuckets, contract)
      } else {
        numBuckets match {
          case Some(n) =>
            incrementalBucketed(spark, fs, batch, targetPath, cfg, n, contract)
          case None =>
            val target = spark.read.parquet(targetPath)
            val snapshot = incremental(target, batch, cfg)
            contract.foreach(Contracts.enforceStructural(snapshot.schema, _))
            atomicSwap(spark, fs, snapshot, targetPath, numBuckets, contract)
        }
      }
    } finally batch.unpersist() // S7: post-run temp drop
  }

  /** [[run]] plus a CDC changelog: appends the payload-carrying
    * `Scd2.snapshotDelta(pre, post)` of this maintenance step to `cdcPath`,
    * stamped with `runId` — the batch counterpart of
    * [[graft.streaming.CdcStream]] (same changelog contract: replayable via
    * `Scd2.applyDelta`, dedupable on (_batch_id, version key) under
    * retries). The pre-run snapshot is pinned with an eager localCheckpoint
    * before the directory swap invalidates its file listing. SCD2 only.
    */
  def runWithCdc(spark: SparkSession,
                 delta: DataFrame,
                 targetPath: String,
                 cdcPath: String,
                 runId: Long,
                 cfg: ScdConfig,
                 numBuckets: Option[Int] = None): DataFrame = {
    require(cfg.scdType == 2, "CDC changelog export is SCD2-only")
    val fs = fileSystem(spark, targetPath)
    val existed = fs.exists(new Path(targetPath))
    val prev =
      if (existed) spark.read.parquet(targetPath).localCheckpoint()
      else null
    val next = run(spark, delta, targetPath, cfg, numBuckets = numBuckets)
    val base = if (existed) prev else next.limit(0)
    Scd2.snapshotDelta(base, next, cfg, includePayload = true)
      .withColumn("_batch_id", lit(runId))
      .write.mode("append").parquet(cdcPath)
    next
  }

  /** Type-dispatched initial load (`scd_plan.sql:111-149,258-265`). */
  def initial(delta: DataFrame, cfg: ScdConfig): DataFrame =
    if (cfg.scdType == 2) Scd2.initialLoad(delta, cfg)
    else Scd01.initialLoad(delta, cfg)

  /** Type-dispatched incremental merge returning the new snapshot: the
    * batch is first reconciled with the target per `on_schema_change`
    * ([[alignSchemas]]), and with `incremental_predicates` (P8) target rows
    * failing the predicates bypass the merge entirely (smaller semi-join and
    * merge inputs — the reference's MERGE-ON pruning conjuncts,
    * `get_incremental_scd2_sql.sql:247-255`) and pass through unchanged.
    * Like the reference's MERGE-ON conjuncts, a batch key whose history was
    * predicated away re-enters as brand-new — the pruning trade-off is the
    * caller's to make.
    */
  def incremental(target: DataFrame, delta: DataFrame, cfg: ScdConfig): DataFrame = {
    val (t, b) = alignSchemas(target, delta, cfg)
    def mergeInto(slice: DataFrame) =
      if (cfg.scdType == 2) Scd2.incremental(slice, b, cfg)
      else Scd01.incremental(slice, b, cfg)
    if (cfg.incrementalPredicates.isEmpty) mergeInto(t)
    else {
      val p = cfg.incrementalPredicates.map(expr).reduce(_ && _)
      mergeInto(t.filter(p)).unionByName(t.filter(!coalesce(p, lit(false))))
    }
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
    * Audit columns live only on the target by construction and never count
    * as drift. Pure projection work — no extra shuffle or scan at any scale.
    */
  def alignSchemas(target: DataFrame,
                   batch: DataFrame,
                   cfg: ScdConfig): (DataFrame, DataFrame) = {
    val tSet = target.columns.map(_.toUpperCase).toSet
    val bSet = batch.columns.map(_.toUpperCase).toSet
    val audit = cfg.auditColumns.map(_.toUpperCase).toSet
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

  private def withBucket(df: DataFrame, cfg: ScdConfig, numBuckets: Option[Int]): DataFrame =
    numBuckets match {
      case Some(n) =>
        val keys = cfg.uniqueKey.map(resolveCi(df.columns.toSeq, _))
        df.withColumn(BucketCol, bucketOf(keys, n))
      case None => df
    }

  /** Incremental over a bucketed target: prune target scan AND rewrite to the
    * buckets the batch touches.
    */
  private def incrementalBucketed(spark: SparkSession,
                                  fs: FileSystem,
                                  batch: DataFrame,
                                  targetPath: String,
                                  cfg: ScdConfig,
                                  n: Int,
                                  contract: Option[org.apache.spark.sql.types.StructType] = None): Unit = {
    val keys = cfg.uniqueKey.map(resolveCi(batch.columns.toSeq, _))
    // Manifest-routed bucket set (round-11 verdict task 5): every read
    // below addresses bucket DIRECTORIES by name, so nothing on the pruned
    // path ever runs Spark's recursive partition discovery over the whole
    // table — the metadata cost that was the entire 100 M-row local-batch
    // slope in Stress13c.
    val onDisk = bucketsOnDisk(fs, targetPath)
    def bucketDirs(bs: Seq[Int]): Seq[String] =
      bs.map(b => s"$targetPath/$BucketCol=$b")
    // Schema donor for the empty-selection read: the first manifest entry
    // whose directory VERIFIABLY exists (a stale phantom entry would make
    // the probe read throw), else ground truth via one listing.
    lazy val schemaDonor: Seq[Int] = onDisk
      .find(b => fs.exists(new Path(s"$targetPath/$BucketCol=$b")))
      .map(Seq(_))
      .getOrElse(listBucketDirs(fs, targetPath).take(1))
    // Bucket-dir read with the partition column restored via basePath; an
    // empty selection degrades to a zero-row, correctly-typed relation
    // (schema off ONE existing bucket dir — single-directory listing).
    // Callers pass EXISTENCE-VERIFIED bucket ids (existingBuckets or a
    // fresh listing) — never raw manifest content.
    def readBuckets(bs: Seq[Int]): DataFrame =
      if (bs.nonEmpty)
        spark.read.option("basePath", targetPath)
          .parquet(bucketDirs(bs): _*)
      else if (schemaDonor.nonEmpty)
        spark.read.option("basePath", targetPath)
          .parquet(bucketDirs(schemaDonor): _*).limit(0)
      else // no bucket dirs at all (foreign layout): legacy full read
        spark.read.parquet(targetPath)
    // Schema-WIDENING evolution cannot ride the pruned path: rewriting only
    // touched buckets would leave untouched bucket files with the old
    // footer schema, and a later plain parquet read resolves the table
    // schema from ONE footer — the new column silently vanishes (or reads
    // NULL) depending on which file wins. Evolution is rare and operator-
    // initiated, so pay a one-off full rewrite that keeps every bucket's
    // disk schema uniform. (`ignore` drops the new columns, `fail` throws
    // in alignSchemas — neither widens disk, both stay pruned.) The
    // column-set probe reads ONE bucket directory, not the whole table
    // (disk schema is uniform across buckets by construction).
    val widens = cfg.onSchemaChange == "append_new_columns" && {
      val tCols = readBuckets(schemaDonor).columns
        .map(_.toUpperCase).toSet
      batch.columns.exists(c => !tCols.contains(c.toUpperCase))
    }
    if (widens) {
      // Full-coverage rewrite: GROUND-TRUTH listing, not the manifest — a
      // stale manifest missing an on-disk bucket would exclude its history
      // from the snapshot and the swap would then delete it (silent loss).
      val target = readBuckets(listBucketDirs(fs, targetPath)).drop(BucketCol)
      val snapshot = incremental(target, batch, cfg)
      contract.foreach(Contracts.enforceStructural(snapshot.schema, _))
      atomicSwap(spark, fs, withBucket(snapshot, cfg, Some(n)), targetPath,
                 Some(n), contract)
      return
    }
    // Tiny driver-side aggregate: which buckets does the batch touch?
    val touched = batch
      .select(bucketOf(keys, n).as(BucketCol))
      .distinct()
      .collect()
      .map(_.getInt(0))
      .sorted
    // Listing-pruned scan: only the touched directories that EXIST are
    // ever listed or read (a touched bucket with no directory yet simply
    // contributes no history — its keys are brand-new). Existence comes
    // from per-directory PROBES, not the manifest (ADVICE r12): a stale
    // manifest could list a deleted bucket (read would throw) or omit an
    // on-disk one (its history would read empty and the swap would
    // overwrite it — silent loss). |touched| probes, delta-bounded.
    val target = readBuckets(existingBuckets(fs, targetPath, touched.toSeq))
      .drop(BucketCol)
    val snapshot = incremental(target, batch, cfg)
    contract.foreach(Contracts.enforceStructural(snapshot.schema, _))
    val bucketed = withBucket(snapshot, cfg, Some(n))

    // Write the touched buckets to a tmp dir, then swap each bucket directory.
    val tmp = targetPath + ".tmp"
    fs.delete(new Path(tmp), true)
    // repartition on the bucket col: ~1 file per touched bucket directory
    // instead of tasks × buckets (see atomicSwap)
    bucketed.repartition(col(BucketCol))
      .write.partitionBy(BucketCol).mode("overwrite").parquet(tmp)
    // NOT NULL off the written bytes (narrow column scan of the tmp output);
    // a violation deletes tmp and throws BEFORE any bucket rename, so the
    // live table keeps every bucket intact — no partial swap. Untouched
    // buckets are only re-validated the FIRST time this contract is seen on
    // this target (marker absent): the pruned path never reads them again,
    // so a contract added/tightened on an existing table pays one
    // full-coverage null-count, after which the marker certifies them.
    try contract.foreach { c =>
      Contracts.enforceNotNull(spark.read.parquet(tmp), c)
      if (!fs.exists(contractMarkerPath(targetPath, c)))
        // untouched buckets by DIRECTORY, off a GROUND-TRUTH listing (rare
        // full-coverage path: first time this contract is seen) — the
        // manifest could omit an on-disk bucket, and "validated" must
        // cover every real directory, not every remembered one
        Contracts.enforceNotNull(
          readBuckets(listBucketDirs(fs, targetPath)
            .filterNot(touched.contains)), c)
    } catch { case e: Throwable => fs.delete(new Path(tmp), true); throw e }
    val present = scala.collection.mutable.ArrayBuffer.empty[Int]
    for (b <- touched) {
      val dst = new Path(s"$targetPath/$BucketCol=$b")
      val src = new Path(s"$tmp/$BucketCol=$b")
      fs.delete(dst, true)
      // the merged bucket in tmp is now the ONLY copy of its history
      if (fs.exists(src)) { rename(fs, src, dst); present += b }
    }
    fs.delete(new Path(tmp), true)
    // Manifest forward: survivors = (previous − touched) ∪ the touched
    // buckets the merge actually wrote (a touched bucket can vanish only
    // when hard deletes empty it).
    writeBucketManifest(fs, targetPath,
      (onDisk.filterNot(touched.contains) ++ present).sorted)
    contract.foreach(c =>
      fs.create(contractMarkerPath(targetPath, c), true).close())
  }

  /** `fs.rename` that fails loudly: a false return throws before the
    * caller's next delete can remove the only other copy of the data.
    */
  private def rename(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename $src -> $dst failed; $src is kept")

  /** Write-new-dir-and-swap (SURVEY.md §4.3.2): breaks the read-write cycle on
    * `targetPath` (the snapshot's lineage reads the same path it replaces).
    * With a `contract`, declared NOT NULL is settled against the WRITTEN tmp
    * output (a narrow parquet column scan — the snapshot pipeline is not
    * re-executed); a violation deletes tmp and throws before any rename, so
    * the old table survives untouched. A passing full-snapshot validation
    * certifies every row, so the contract marker lands post-swap.
    */
  private def atomicSwap(spark: SparkSession,
                         fs: FileSystem,
                         snapshot: DataFrame,
                         targetPath: String,
                         numBuckets: Option[Int],
                         contract: Option[org.apache.spark.sql.types.StructType] = None): Unit = {
    val tmp = new Path(targetPath + ".tmp")
    val old = new Path(targetPath + ".old")
    val dst = new Path(targetPath)
    fs.delete(tmp, true)
    // Cluster rows onto their bucket BEFORE the partitioned write: without
    // it every write task appends to every touched bucket directory —
    // tasks × buckets files (32 × 1000 = 32k at Stress10's probe, a ~100 s
    // flat small-files tax regardless of data size, and the metadata storm
    // that kills object-store listings at 100 TB). Repartitioned on the
    // bucket column, each bucket directory gets exactly the files of the
    // partitions holding it (~1 per bucket).
    val clustered = numBuckets.fold(snapshot)(_ =>
      snapshot.repartition(org.apache.spark.sql.functions.col(BucketCol)))
    val writer = clustered.write.mode("overwrite")
    numBuckets.fold(writer)(_ => writer.partitionBy(BucketCol)).parquet(tmp.toString)
    try contract.foreach(c =>
      Contracts.enforceNotNull(spark.read.parquet(tmp.toString), c))
    catch { case e: Throwable => fs.delete(tmp, true); throw e }
    fs.delete(old, true)
    if (fs.exists(dst)) rename(fs, dst, old)
    rename(fs, tmp, dst) // on failure `.old` holds the previous table
    fs.delete(old, true)
    // Seed the bucket manifest from ONE top-level listing of the freshly
    // written table — every later pruned incremental run then reads bucket
    // sets from the manifest, never from directory discovery.
    if (numBuckets.isDefined)
      writeBucketManifest(fs, targetPath, listBucketDirs(fs, targetPath))
    contract.foreach(c =>
      fs.create(contractMarkerPath(targetPath, c), true).close())
  }

  /** Marker certifying "this exact contract passed in full against this
    * table": `_CONTRACT_OK_<md5(contract.json) prefix>` at the table root —
    * underscore-prefixed with no `=`, so parquet scans skip it. A changed
    * (tightened or renamed) contract hashes differently and re-triggers the
    * one-off full validation on the pruned bucketed path.
    */
  private def contractMarkerPath(targetPath: String,
                                 contract: org.apache.spark.sql.types.StructType): Path = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(contract.json.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    new Path(s"$targetPath/_CONTRACT_OK_$hex")
  }

  private def fileSystem(spark: SparkSession, path: String): FileSystem =
    FileSystem.get(new URI(path), spark.sparkContext.hadoopConfiguration)
}
