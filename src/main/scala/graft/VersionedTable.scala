package graft

import java.net.URI

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal versioned-snapshot table layout: each publish writes a full
  * snapshot under `<root>/v=<n>/` and commits it by creating an empty
  * `_COMMITTED` marker LAST; readers resolve max committed `n`.
  *
  * Why not rename-swap (ScdEngine.atomicSwap): between its two renames the
  * table path does not exist — a concurrent reader errors. Here a reader
  * always sees the previous committed snapshot until the marker exists
  * (file create is atomic on HDFS-like and object stores' PUT), so
  * publish/read race-free without a lock service. The price is one full
  * snapshot per publish — at 100 TB that is the same write the swap already
  * does; old versions amortize into time travel + rollback until `vacuum`.
  *
  * Cite: the reference's materialization rewrites the target per run
  * (`materialization_scd.sql:20-27`); Snowflake gives it transactional
  * swap + time travel for free — this recovers both on plain Parquet.
  */
object VersionedTable {

  private val Committed = "_COMMITTED"
  private val VPrefix = "v="
  // NO '=' in the name: Spark's hidden-file filter skips "_"-prefixed names
  // EXCEPT those containing '=' (partition-dir convention), which a parquet
  // scan would then try to read as data.
  private val BatchPrefix = "_BATCH_"
  // Marks a version directory as a DELETION VECTOR: its parquet is a
  // key-list to subtract from the nearest older full snapshot, not a
  // snapshot itself.
  private val DeleteMarker = "_DELETE"

  // Root manifest: ONE small file naming candidate versions, so readers
  // never LIST the table root (object-store listings are slow and, on some
  // stores, eventually consistent; GET/HEAD of a known key is not). The
  // manifest is written BEFORE the commit marker — like the stamp files, it
  // describes a version that only becomes real when its marker lands — so
  // readers take manifest ∩ marker-exists: a crash between manifest and
  // marker leaves a candidate that is simply filtered out and whose number
  // the next publish reclaims. Legacy tables without a manifest (or an
  // unreadable half-written one) fall back to the listing path.
  private val Manifest = "_MANIFEST"

  private def manifestVersions(f: FileSystem, root: String): Option[Seq[Long]] =
    SmallFile.readIfPresent(f, new Path(s"$root/$Manifest")).flatMap { txt =>
      val lines = txt.split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
      if (lines.nonEmpty && lines.forall(l => l.nonEmpty && l.forall(_.isDigit)))
        Some(lines.map(_.toLong))
      else None // half-written/foreign content: fall back to listing
    }

  /** Publish the manifest atomically: write a temp file, then rename into
    * place. Rewriting `_MANIFEST` with create(overwrite) truncated the old
    * content BEFORE the new bytes landed, so a crash (or a racing reader)
    * mid-write could observe a truncated-at-a-line-boundary manifest that
    * still parses as all-digits — silently hiding committed tail versions,
    * after which the next publish would compute a stale `next` and DELETE a
    * committed version's directory. With rename, readers only ever see the
    * old complete manifest or the new complete one; on stores whose rename
    * refuses an existing destination, the old manifest is deleted first —
    * the brief no-manifest window degrades to the listing fallback, which
    * is correct (same pattern as [[graft.plans.ResultCache]]'s publish).
    */
  private def writeManifest(f: FileSystem, root: String,
                            versions: Seq[Long]): Unit =
    SmallFile.publish(f, root, Manifest, versions.distinct.sorted.mkString("\n"))

  private def fs(spark: SparkSession, root: String): FileSystem =
    FileSystem.get(new URI(root), spark.sparkContext.hadoopConfiguration)

  // The legacy resolution path: LIST the root for v= dirs. Still the
  // fallback for pre-manifest tables and the writer-side seed when a
  // manifest first appears.
  private def listedVersions(f: FileSystem, root: String): Seq[Long] = {
    val rootPath = new Path(root)
    if (!f.exists(rootPath)) Seq.empty
    else
      f.listStatus(rootPath).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(VPrefix))
        .map(_.getPath.getName.stripPrefix(VPrefix).toLong)
        .sorted
  }

  private def committedVersions(f: FileSystem, root: String): Seq[Long] = {
    val rootPath = new Path(root)
    if (!f.exists(rootPath)) Seq.empty
    else
      manifestVersions(f, root).getOrElse(listedVersions(f, root))
        .distinct.sorted
        .filter(v => f.exists(new Path(s"$root/$VPrefix$v/$Committed")))
  }

  /** Highest committed version, if any. */
  def latestVersion(spark: SparkSession, root: String): Option[Long] =
    committedVersions(fs(spark, root), root).lastOption

  /** Write `snapshot` as the next version and commit it. Returns the new
    * version number. Data lands fully before the marker, so a crash
    * mid-write leaves an uncommitted directory that readers ignore and
    * `vacuum` reclaims.
    *
    * Single-writer assumption (same as the reference's dbt run): two
    * concurrent publishers could claim the same version number. Serializing
    * writers (scheduler lock, or conditional-create of the version dir on a
    * filesystem with atomic mkdir) is the caller's job — reader/writer
    * isolation needs no coordination.
    */
  def publish(spark: SparkSession, snapshot: DataFrame, root: String): Long =
    publish(spark, snapshot, root, batchToken = None)

  /** [[publish]] carrying a streaming batch token: an idempotence marker
    * file (`_BATCH_<token>`, underscore-prefixed so parquet readers skip it)
    * lands in the version dir BEFORE the commit marker, so "which batch
    * produced the latest committed version" survives a crash between publish
    * and the stream's checkpoint commit — the at-least-once replay can then
    * be detected and skipped instead of double-merged.
    *
    * The token should embed the streaming QUERY id alongside the batch id
    * (`<queryId>_<batchId>`): bare batch ids restart from 0 with a fresh
    * checkpoint, so two runs (or two queries sharing one store) would
    * collide and a legitimate batch would be silently skipped.
    */
  def publish(spark: SparkSession, snapshot: DataFrame, root: String,
              batchToken: Option[String]): Long =
    publish(spark, snapshot, root, batchToken, preCommitFiles = Nil)

  /** All marker files (batch token, commit stamp) land BEFORE the commit
    * marker: the marker is the linearization point, so anything meant to
    * describe the committed version must already be in place when it
    * appears — a crash between "committed" and "described" would otherwise
    * leave a version that readers see but time travel silently skips.
    *
    * EVERY commit gets a stamp: when the caller supplies none, the default
    * is max(previous effective stamp, wall clock) — monotone by
    * construction. This is what keeps [[readAsOf]] REPEATABLE: with the old
    * inherit-backwards rule an unstamped commit landed "at" the previous
    * stamp, so `readAsOf(T)` retroactively changed its answer once the
    * later commit appeared (data committed later in wall-clock became
    * visible at an earlier as-of time). Backward inheritance survives only
    * as a read-side fallback for pre-existing legacy versions — see
    * [[effectiveStampOf]].
    */
  private def publish(spark: SparkSession, snapshot: DataFrame, root: String,
                      batchToken: Option[String],
                      preCommitFiles: Seq[String],
                      partitionCol: Option[String] = None,
                      sortCol: Option[String] = None): Long = {
    require(batchToken.forall(t => t.nonEmpty && !t.exists("/=\\".contains(_))),
            s"batch token must be a plain file-name fragment: $batchToken")
    val f = fs(spark, root)
    val committed = committedVersions(f, root)
    val next = committed.lastOption.getOrElse(0L) + 1L
    val dir = s"$root/$VPrefix$next"
    f.delete(new Path(dir), true) // reclaim a crashed uncommitted attempt
    // Partitioned layout: cluster rows onto their partition first so each
    // value directory gets ~1 file, not tasks × values (the ScdEngine
    // small-files lesson).
    val clustered = partitionCol.fold(snapshot)(c =>
      snapshot.repartition(org.apache.spark.sql.functions.col(c)))
    // Optional within-partition sort: clusters each parquet file's row
    // groups by `sortCol` so min/max row-group statistics can answer
    // pushed equality filters on it (the reader-side pruning lever —
    // without the sort, every row group's [min,max] spans the whole key
    // space and stats prune nothing). The sort key is
    // (partitionCol, sortCol), not sortCol alone: a partitionBy write
    // REQUIRES task-local ordering on the partition columns and
    // FileFormatWriter inserts its own partition-column sort when the
    // incoming ordering doesn't satisfy it — which would silently destroy
    // the sortCol clustering (Round18OpsSpec caught exactly that); the
    // compound prefix satisfies the writer's requirement so no extra sort
    // is added and the secondary order survives into the files.
    val sorted = sortCol.fold(clustered)(c =>
      clustered.sortWithinPartitions(
        (partitionCol.toSeq :+ c)
          .map(org.apache.spark.sql.functions.col): _*))
    val writer = sorted.write.mode("overwrite")
    partitionCol.fold(writer)(c => writer.partitionBy(c)).parquet(dir)
    // An EMPTY snapshot can land ZERO part files (a partitionBy write
    // creates files only per encountered partition value; an empty
    // local relation plans zero tasks), after which schema inference
    // rejects every read of the committed version (ADVICE r14, surfaced
    // by signatureTable's build barrier). Land the schema explicitly: one
    // flat zero-row part file — the partition column rides as a DATA
    // column there, so partitioned readers still see the full schema.
    val hasDataFiles = f.listStatus(new Path(dir)).exists(s =>
      s.isDirectory || s.getPath.getName.startsWith("part-"))
    if (!hasDataFiles)
      sorted.limit(0).repartition(1).write.mode("append").parquet(dir)
    batchToken.foreach(t =>
      f.create(new Path(s"$dir/$BatchPrefix$t"), true).close())
    val files =
      if (preCommitFiles.exists(_.startsWith(TsPrefix))) preCommitFiles
      else preCommitFiles :+ s"$TsPrefix${defaultStamp(f, root, committed)}"
    files.foreach(n =>
      f.create(new Path(s"$dir/$n"), true).close())
    writeManifest(f, root, committed :+ next)
    f.create(new Path(s"$dir/$Committed"), true).close()
    next
  }

  /** [[publish]] with the snapshot laid out as Hive-style
    * `<partitionCol>=<value>` directories inside the version dir (same
    * commit protocol — data fully lands before the marker). Readers via
    * [[read]]/[[readVersion]] get the partition column back through
    * directory discovery; [[readLatestPartitions]] prunes the listing
    * itself to named values. Leading-underscore partition column names are
    * fine: Spark's hidden-file filter exempts names containing '='.
    */
  def publishPartitioned(spark: SparkSession, snapshot: DataFrame,
                         root: String, partitionCol: String): Long =
    publish(spark, snapshot, root, batchToken = None,
            preCommitFiles = Nil, partitionCol = Some(partitionCol))

  /** [[publishPartitioned]] with (a) an optional within-partition sort
    * column — row groups clustered so min/max stats answer pushed filters
    * on it — and (b) caller marker files (underscore-prefixed, plain
    * file-name fragments) that land in the version dir BEFORE the commit
    * marker, so layout metadata (e.g. a bucket-count contract) is
    * atomically part of the committed version. Read back with
    * [[latestMarkers]].
    */
  def publishPartitioned(spark: SparkSession, snapshot: DataFrame,
                         root: String, partitionCol: String,
                         sortCol: Option[String],
                         markers: Seq[String]): Long = {
    require(markers.forall(m =>
      m.startsWith("_") && !m.exists("/=\\".contains(_))),
      s"markers must be underscore-prefixed file-name fragments: $markers")
    publish(spark, snapshot, root, batchToken = None,
            preCommitFiles = markers, partitionCol = Some(partitionCol),
            sortCol = sortCol)
  }

  /** Marker file names with the given prefix recorded in the LATEST
    * committed version's directory (the [[publishPartitioned]] `markers`
    * read-back). Empty when no version is committed or none match.
    */
  def latestMarkers(spark: SparkSession, root: String,
                    prefix: String): Seq[String] = {
    val f = fs(spark, root)
    latestVersion(spark, root).toSeq.flatMap { v =>
      val dir = new Path(s"$root/$VPrefix$v")
      if (!f.exists(dir)) Seq.empty
      else f.listStatus(dir).toSeq.map(_.getPath.getName)
        .filter(_.startsWith(prefix))
    }
  }

  /** Partition-pruned read of the latest committed version: reads ONLY the
    * requested `<partitionCol>=<value>` subdirectories (values without a
    * directory are skipped with one existence probe each), so read cost —
    * INCLUDING the file listing, the part partition-filter pushdown cannot
    * prune — is proportional to |values|, never to table size. Values are
    * rendered with Hive partition-path escaping-free toString (callers use
    * integral bucket ids). Latest version must be a full snapshot (the
    * partitioned publisher never writes deletion vectors).
    */
  def readLatestPartitions(spark: SparkSession, root: String,
                           partitionCol: String,
                           values: Seq[Any]): DataFrame =
    readVersionPartitions(spark, root,
      latestVersion(spark, root).getOrElse(
        throw new IllegalStateException(s"no committed version at $root")),
      partitionCol, values)

  /** [[readLatestPartitions]] pinned to a SPECIFIC committed version —
    * for multi-table layouts whose pairing is recorded in a pre-commit
    * marker (e.g. the signature store's band index naming its shingle
    * side-table version): the reader must open exactly the paired
    * version, not whatever is latest by the time it reads.
    */
  def readVersionPartitions(spark: SparkSession, root: String, v: Long,
                            partitionCol: String,
                            values: Seq[Any]): DataFrame = {
    val f = fs(spark, root)
    require(f.exists(new Path(s"$root/$VPrefix$v/$Committed")),
            s"version $v not committed at $root")
    require(!isDelete(f, root, v),
            s"readVersionPartitions: version $v is a deletion vector")
    val dir = s"$root/$VPrefix$v"
    val dirs = values.map(x => s"$dir/$partitionCol=$x")
      .filter(d => f.exists(new Path(d)))
    if (dirs.isEmpty)
      // schema-only read of the full version dir (edge case: a delta that
      // collides with no stored partition — the caller gets an empty,
      // correctly-typed relation)
      spark.read.option("basePath", dir).parquet(dir).limit(0)
    else
      spark.read.option("basePath", dir).parquet(dirs: _*)
  }

  /** Default commit stamp: max(previous effective stamp, wall clock) —
    * monotone over the previous effective stamp so a default-stamped commit
    * can never regress an explicitly-stamped table, and wall clock otherwise
    * (matching Delta-style per-commit timestamps).
    *
    * CONTRACT: stamps are EPOCH MILLIS. A table may be stamped with a
    * purely logical clock (sequence numbers, data-time offsets) only if
    * EVERY publish supplies an explicit stamp: one default-stamped publish
    * raises the effective stamp to wall clock permanently, after which
    * explicit logical stamps throw the non-decreasing require. This is
    * deliberate, not an oversight — the alternative (continuing a logical
    * sequence with prev+1) would place the new commit BELOW as-of times
    * already answered, retroactively changing `readAsOf(T)` results, which
    * is the exact non-repeatability the monotone default exists to prevent
    * (pinned in TableGovernanceSpec "readAsOf answers never change
    * retroactively").
    */
  private def defaultStamp(f: FileSystem, root: String,
                           committed: Seq[Long]): Long = {
    val prev = committed.lastOption
      .flatMap(v => effectiveStampOf(f, root, committed, v))
      .getOrElse(Long.MinValue)
    math.max(prev, System.currentTimeMillis())
  }

  /** The batch token recorded with the latest committed version, if that
    * version carried one. Pure string compare — a stray `_BATCH_*` file with
    * an unexpected suffix is returned verbatim (and simply won't match any
    * live token), never a parse error.
    */
  def latestAppliedBatchToken(spark: SparkSession, root: String): Option[String] = {
    val f = fs(spark, root)
    latestVersion(spark, root).flatMap { v =>
      f.listStatus(new Path(s"$root/$VPrefix$v")).toSeq
        .map(_.getPath.getName)
        .find(_.startsWith(BatchPrefix))
        .map(_.stripPrefix(BatchPrefix))
    }
  }

  /** Read the latest committed snapshot (merge-on-read: deletion-vector
    * versions are resolved against their base snapshot, see
    * [[publishDelete]]).
    */
  def read(spark: SparkSession, root: String): DataFrame =
    readVersion(spark, root,
                latestVersion(spark, root).getOrElse(
                  throw new IllegalStateException(s"no committed version at $root")))

  private def isDelete(f: FileSystem, root: String, v: Long): Boolean =
    f.exists(new Path(s"$root/$VPrefix$v/$DeleteMarker"))

  /** Base snapshot a version resolves against: itself for full snapshots,
    * else the newest full snapshot beneath it.
    */
  private def baseOf(f: FileSystem, root: String, v: Long): Long =
    if (!isDelete(f, root, v)) v
    else committedVersions(f, root).filter(_ < v).reverse
      .find(!isDelete(f, root, _))
      .getOrElse(throw new IllegalStateException(
        s"version $v at $root is a deletion vector with no base snapshot"))

  /** Time travel: read a specific committed version. A deletion-vector
    * version reads as its base snapshot anti-joined with every DV stacked
    * in between — one broadcast anti-join when the DVs are small (the
    * design point; [[compact]] is the pressure valve), a shuffled
    * anti-join past 256 MB of DV bytes.
    */
  def readVersion(spark: SparkSession, root: String, v: Long): DataFrame = {
    val f = fs(spark, root)
    val dir = s"$root/$VPrefix$v"
    require(f.exists(new Path(s"$dir/$Committed")),
            s"version $v not committed at $root")
    if (!isDelete(f, root, v)) spark.read.parquet(dir)
    else {
      val base = baseOf(f, root, v)
      // Everything committed in (base, v] is a DV by construction: a full
      // snapshot there would itself have been the base.
      val dvVersions =
        committedVersions(f, root).filter(n => n > base && n <= v)
      val dvBytes = dvVersions.map(n =>
        f.getContentSummary(new Path(s"$root/$VPrefix$n")).getLength).sum
      val dv = dvVersions.map(n => spark.read.parquet(s"$root/$VPrefix$n"))
        .reduce(_.unionByName(_)).distinct()
      val probe =
        if (dvBytes < 256L * 1024 * 1024)
          org.apache.spark.sql.functions.broadcast(dv)
        else dv
      spark.read.parquet(s"$root/$VPrefix$base")
        .join(probe, dv.columns.toSeq, "left_anti")
    }
  }

  // -------------------------------------------------------------------
  // Deletion vectors (merge-on-read deletes)
  // -------------------------------------------------------------------

  /** Delete by key WITHOUT rewriting the snapshot: `keys` (distinct rows of
    * the identity columns — every column of `keys` participates in the
    * anti-join) is published as a lightweight deletion-vector version. At
    * 100 TB a full-snapshot delete rewrites the table; this writes KBs.
    * Readers of the new version see base MINUS all stacked DVs; time travel
    * to the pre-delete version still sees the rows (nothing was touched).
    * Stacked DVs must share one key schema (the first DV fixes it).
    *
    * Cite: the reference handles deletes logically inside the merge
    * (`get_incremental_scd2_sql.sql` deleted_at handling); physical
    * row removal (retention, right-to-be-forgotten) is out of its scope
    * and rewrites the warehouse table — this is the amortized alternative.
    */
  def publishDelete(spark: SparkSession, keys: DataFrame,
                    root: String): Long =
    publishDelete(spark, keys, root, stampMillis = None)

  /** [[publishDelete]] with an explicit commit stamp for [[readAsOf]]
    * (without one the DV gets the default monotone stamp — see
    * [[publish]]). Non-decreasing rule enforced as in
    * [[publishStamped]]; the stamp lands before the commit marker.
    */
  def publishDelete(spark: SparkSession, keys: DataFrame,
                    root: String, stampMillis: Option[Long]): Long = {
    val f = fs(spark, root)
    val committed = committedVersions(f, root)
    stampMillis.foreach { ts =>
      committed.lastOption.foreach { v =>
        val prev = effectiveStampOf(f, root, committed, v)
        require(prev.forall(_ <= ts),
                s"commit stamp $ts regresses below ${prev.get}")
      }
    }
    val prev = committed.lastOption.getOrElse(
      throw new IllegalStateException(s"no snapshot to delete from at $root"))
    if (isDelete(f, root, prev)) {
      val existing = spark.read.parquet(s"$root/$VPrefix$prev").columns.toSeq
      require(existing.sorted == keys.columns.toSeq.sorted,
              s"DV key schema ${keys.columns.toSeq} != established $existing")
    }
    val next = prev + 1L
    val dir = s"$root/$VPrefix$next"
    f.delete(new Path(dir), true)
    keys.distinct().write.mode("overwrite").parquet(dir)
    f.create(new Path(s"$dir/$DeleteMarker"), true).close()
    val ts = stampMillis.getOrElse(defaultStamp(f, root, committed))
    f.create(new Path(s"$dir/$TsPrefix$ts"), true).close()
    writeManifest(f, root, committed :+ next)
    f.create(new Path(s"$dir/$Committed"), true).close()
    next
  }

  /** [[publishDelete]] driven by a predicate: the keys of currently-visible
    * rows matching `cond`. One pruned scan of the read view (the predicate
    * and the key projection both push down to parquet), one tiny write.
    */
  def deleteWhere(spark: SparkSession, root: String,
                  cond: org.apache.spark.sql.Column,
                  keyCols: Seq[String]): Long =
    publishDelete(
      spark,
      read(spark, root).filter(cond)
        .select(keyCols.map(org.apache.spark.sql.functions.col): _*),
      root)

  /** Fold stacked deletion vectors into a fresh full snapshot (the
    * merge-on-read → copy-on-write compaction). Subsequent reads resolve
    * with zero anti-joins; older versions stay time-travelable until
    * [[vacuum]].
    */
  def compact(spark: SparkSession, root: String): Long =
    publish(spark, read(spark, root), root)

  /** Change data feed between two committed versions: one row per key
    * whose presence or non-key values changed — `change_type` I (only in
    * `toV`), D (only in `fromV`), U (in both, any value column differs
    * null-safely); unchanged keys are dropped. Value columns come back as
    * `old_<c>` / `new_<c>` pairs. One full-outer join on the key — the
    * Delta-CDF analog for consumers that want the delta, not the
    * snapshot; at 100 TB this reads two versions once instead of letting
    * every downstream re-diff them.
    */
  def changeFeed(spark: SparkSession, root: String,
                 fromV: Long, toV: Long,
                 keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val a = readVersion(spark, root, fromV)
    val b = readVersion(spark, root, toV)
    require(a.columns.sorted.sameElements(b.columns.sorted),
            s"schemas differ: ${a.columns.toSeq} vs ${b.columns.toSeq}")
    require(keyCols.nonEmpty && keyCols.forall(a.columns.contains),
            s"key columns $keyCols not all present")
    val vals = a.columns.filterNot(keyCols.contains).toSeq.sorted
    val oldSide = a.select(
      keyCols.map(col) ++ vals.map(c => col(c).as(s"old_$c")) :+
        lit(1).as("_in_old"): _*)
    val newSide = b.select(
      keyCols.map(col) ++ vals.map(c => col(c).as(s"new_$c")) :+
        lit(1).as("_in_new"): _*)
    oldSide.join(newSide, keyCols, "full_outer")
      .withColumn("change_type",
        when(col("_in_old").isNull, lit("I"))
          .when(col("_in_new").isNull, lit("D"))
          .otherwise(lit("U")))
      .filter(col("change_type") =!= "U" ||
        vals.map(c => !(col(s"old_$c") <=> col(s"new_$c")))
          .reduceOption(_ || _).getOrElse(lit(false)))
      .select((keyCols.map(col) :+ col("change_type")) ++
        vals.flatMap(c => Seq(col(s"old_$c"), col(s"new_$c"))): _*)
  }

  /** Table history as a relation — the DESCRIBE HISTORY analog: one row
    * per committed version with its kind (full snapshot vs deletion
    * vector), its own commit stamp (null when inherited — see
    * [[effectiveStampOf]] for resolution), the effective stamp time
    * travel uses, and the version's physical row count (snapshot rows
    * for full versions, key-list rows for DVs). Metadata-scale: one
    * driver listing plus a count per version directory.
    */
  def history(spark: SparkSession, root: String): DataFrame = {
    val f = fs(spark, root)
    val vs = committedVersions(f, root)
    val rows = vs.map { v =>
      (v, isDelete(f, root, v), stampOf(f, root, v),
       effectiveStampOf(f, root, vs, v),
       spark.read.parquet(s"$root/$VPrefix$v").count())
    }
    import org.apache.spark.sql.functions.col
    spark.createDataFrame(rows)
      .toDF("version", "is_dv", "own_stamp", "effective_stamp", "n_rows")
      .select(col("version"), col("is_dv"), col("own_stamp"),
              col("effective_stamp"), col("n_rows"))
  }

  // -------------------------------------------------------------------
  // Timestamp time travel + checked publish
  // -------------------------------------------------------------------

  // Commit-timestamp stamp file (same naming rules as _BATCH_).
  private val TsPrefix = "_TS_"

  /** [[publish]] carrying an explicit commit timestamp (epoch millis) for
    * [[readAsOf]]. The stamp is caller-supplied, not wall-clock: event
    * pipelines stamp with their batch watermark so time travel aligns
    * with DATA time and replays are deterministic — wall-clock stamps
    * would make "AS OF" irreproducible across reruns. Stamps must be
    * non-decreasing across publishes (enforced).
    *
    * Stamps are epoch millis; tables stamped with a logical clock must
    * stamp EVERY publish explicitly — see [[defaultStamp]]'s contract.
    */
  def publishStamped(spark: SparkSession, snapshot: DataFrame, root: String,
                     commitMillis: Long): Long = {
    val f = fs(spark, root)
    val prior = committedVersions(f, root)
    prior.lastOption.foreach { v =>
      val prev = effectiveStampOf(f, root, prior, v)
      require(prev.forall(_ <= commitMillis),
              s"commit stamp $commitMillis regresses below ${prev.get}")
    }
    // The stamp rides as a pre-commit file: stamp and commit are atomic
    // with respect to each other (a crash leaves an UNCOMMITTED dir that
    // readers ignore, never a committed version time travel skips).
    publish(spark, snapshot, root, batchToken = None,
            preCommitFiles = Seq(s"$TsPrefix$commitMillis"))
  }

  private def stampOf(f: FileSystem, root: String, v: Long): Option[Long] =
    f.listStatus(new Path(s"$root/$VPrefix$v")).toSeq
      .map(_.getPath.getName).find(_.startsWith(TsPrefix))
      .map(_.stripPrefix(TsPrefix).toLong)

  /** Effective commit stamp of `v`: its own stamp, else inherited from the
    * nearest OLDER stamped version. Every commit path now stamps (explicit
    * or the monotone default — see [[publish]]), so inheritance is a
    * READ-SIDE FALLBACK for versions written by pre-stamp layouts only. It
    * is deliberately not the write-side rule any more: inheriting backwards
    * made `readAsOf(T)` non-repeatable — an unstamped commit landed "at"
    * the previous stamp, so data committed later in wall-clock became
    * visible at an earlier as-of time once it appeared.
    */
  private def effectiveStampOf(f: FileSystem, root: String,
                               versions: Seq[Long], v: Long): Option[Long] =
    versions.filter(_ <= v).reverse.iterator
      .map(stampOf(f, root, _)).collectFirst { case Some(s) => s }

  /** Time travel by timestamp: the newest committed version whose
    * EFFECTIVE stamp (own, else inherited from the nearest older stamped
    * version — see [[effectiveStampOf]]) is ≤ `asOfMillis`.
    * Deletion-vector versions resolve as usual.
    */
  def readAsOf(spark: SparkSession, root: String,
               asOfMillis: Long): DataFrame = {
    val f = fs(spark, root)
    val vs = committedVersions(f, root)
    val v = vs
      .filter(n => effectiveStampOf(f, root, vs, n).exists(_ <= asOfMillis))
      .lastOption.getOrElse(throw new IllegalStateException(
        s"no committed version at or before $asOfMillis in $root"))
    readVersion(spark, root, v)
  }

  /** Publish gated on row-level CHECK constraints: every (name,
    * mustHold) predicate is counted over the snapshot in ONE pass; any
    * violation rejects the WHOLE publish (the table never exposes a
    * half-valid snapshot) and returns the per-check violation counts.
    * NULL predicate results count as violations (a check that cannot
    * prove itself true fails) — the write-path complement of the SCD
    * engine's output contracts.
    */
  def publishChecked(spark: SparkSession, snapshot: DataFrame, root: String,
                     checks: Seq[(String, org.apache.spark.sql.Column)])
      : Either[Seq[(String, Long)], Long] = {
    require(checks.nonEmpty, "publishChecked needs at least one check")
    import org.apache.spark.sql.functions.{coalesce, lit, sum, when}
    def cnt(c: org.apache.spark.sql.Column, n: String) =
      coalesce(sum(when(coalesce(c, lit(false)), 0L).otherwise(1L)),
               lit(0L)).as(n)
    val cols = checks.map { case (n, c) => cnt(c, n) }
    val counts = snapshot.agg(cols.head, cols.tail: _*).head()
    val violated = checks.zipWithIndex.collect {
      case ((n, _), i) if counts.getLong(i) > 0 => n -> counts.getLong(i)
    }
    if (violated.nonEmpty) Left(violated)
    else Right(publish(spark, snapshot, root))
  }

  // -------------------------------------------------------------------
  // Optimistic concurrency (CAS publish)
  // -------------------------------------------------------------------

  /** Compare-and-swap publish: commit the snapshot ONLY if the latest
    * committed version is still `expected` (None = table must not exist
    * yet) AND this writer wins the atomic mkdir claim on the next version
    * directory. Returns Some(newVersion), or None on conflict — a
    * concurrent writer committed (or claimed) first, so this writer's
    * snapshot was derived from a stale read and must be recomputed
    * ([[commitRetrying]] is that loop).
    *
    * This replaces [[publish]]'s single-writer assumption with the
    * optimistic protocol lakehouse formats use: readers still need no
    * coordination, and writers coordinate only through the atomic
    * create. A crashed claimant leaves an uncommitted directory that
    * keeps reporting conflict — [[vacuum]] reclaims it (deliberate:
    * silently stealing a live writer's claim would corrupt its commit).
    */
  def publishIf(spark: SparkSession, snapshot: DataFrame, root: String,
                expected: Option[Long]): Option[Long] = {
    val f = fs(spark, root)
    val committed = committedVersions(f, root)
    if (committed.lastOption != expected) return None
    val next = expected.getOrElse(0L) + 1L
    val dir = new Path(s"$root/$VPrefix$next")
    if (f.exists(dir) || !f.mkdirs(dir)) return None
    // append into the freshly-claimed (empty) dir: overwrite would delete
    // and re-create it, reopening the claim window a racer could steal
    snapshot.write.mode("append").parquet(s"$root/$VPrefix$next")
    f.create(new Path(
      s"$root/$VPrefix$next/$TsPrefix${defaultStamp(f, root, committed)}"),
      true).close()
    writeManifest(f, root, committed :+ next)
    f.create(new Path(s"$root/$VPrefix$next/$Committed"), true).close()
    Some(next)
  }

  /** The OCC loop: read the latest snapshot (None before first commit),
    * derive the next one with `compute`, CAS-publish; on conflict,
    * re-read and recompute — the transformation is re-run against the
    * winner's table so no committed work is ever overwritten blindly.
    * Throws after `maxAttempts` conflicts.
    */
  def commitRetrying(spark: SparkSession, root: String,
                     compute: Option[DataFrame] => DataFrame,
                     maxAttempts: Int = 5): Long = {
    var attempt = 0
    while (attempt < maxAttempts) {
      val f = fs(spark, root)
      val base = committedVersions(f, root).lastOption
      val next = compute(base.map(v => readVersion(spark, root, v)))
      publishIf(spark, next, root, base) match {
        case Some(v) => return v
        case None    => attempt += 1
      }
    }
    throw new IllegalStateException(
      s"OCC publish lost $maxAttempts straight races at $root")
  }

  /** Roll back: de-commit every version above `v` (data kept for forensics
    * until vacuum). Readers immediately resolve `v` again.
    */
  def rollback(spark: SparkSession, root: String, v: Long): Unit = {
    val f = fs(spark, root)
    committedVersions(f, root).filter(_ > v).foreach { n =>
      f.delete(new Path(s"$root/$VPrefix$n/$Committed"), false)
    }
    // The marker check already hides rolled-back versions; rewriting the
    // manifest just keeps it from accumulating dead candidates.
    if (manifestVersions(f, root).isDefined)
      writeManifest(f, root, committedVersions(f, root))
  }

  /** Drop uncommitted directories and all but the newest `keep` committed
    * versions — plus whatever those versions resolve through: a kept
    * deletion-vector version pins its base snapshot and every DV between,
    * so vacuum can never break merge-on-read resolution.
    */
  def vacuum(spark: SparkSession, root: String, keep: Int = 2): Unit = {
    val f = fs(spark, root)
    val rootPath = new Path(root)
    if (!f.exists(rootPath)) return
    val committed = committedVersions(f, root)
    val keepSet = committed.takeRight(keep).toSet.flatMap { (v: Long) =>
      val b = baseOf(f, root, v)
      committed.filter(n => n >= b && n <= v)
    }
    f.listStatus(rootPath).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(VPrefix))
      .foreach { s =>
        val v = s.getPath.getName.stripPrefix(VPrefix).toLong
        if (!keepSet.contains(v)) f.delete(s.getPath, true)
      }
    // Orphaned manifest temp files: writeManifest publishes via
    // temp-write + rename, so a crash between create and rename (or a
    // doubly-failed rename) can strand `._MANIFEST_tmp_<uuid>` at the
    // root forever — nothing else ever names that uuid again. They are
    // dead weight (readers only open `_MANIFEST` exactly), so vacuum is
    // the natural reclaim point, same as uncommitted version dirs.
    f.listStatus(rootPath).toSeq
      .filter(s => !s.isDirectory &&
        s.getPath.getName.startsWith(s".${Manifest}_tmp_"))
      .foreach(s => f.delete(s.getPath, false))
    if (manifestVersions(f, root).isDefined)
      writeManifest(f, root, committedVersions(f, root))
  }

  /** One SCD maintenance run against a versioned table: read latest (if
    * any), apply the type-dispatched initial/incremental step, publish the
    * new snapshot. The read and the write never touch the same files, so no
    * localCheckpoint/lineage break is needed (unlike the in-place swap).
    */
  def runScd(spark: SparkSession,
             delta: DataFrame,
             root: String,
             cfg: ScdConfig): Long = {
    val next = latestVersion(spark, root) match {
      case None    => ScdEngine.initial(delta, cfg)
      case Some(v) => ScdEngine.incremental(readVersion(spark, root, v), delta, cfg)
    }
    publish(spark, next, root)
  }

  // -------------------------------------------------------------------
  // Multi-table transactions
  // -------------------------------------------------------------------

  private val TxnDir = "_txn"

  /** Atomically publish SEVERAL tables as one transaction: every table in
    * `snapshots` becomes visible to [[readAllLatest]] together, or not at
    * all. The mechanism is a write-ahead commit file: all data directories
    * land first (invisible — no markers), then ONE `<base>/_txn/<id>` file
    * (atomic create) pins each table's new version; that file IS the
    * commit point. Per-table `_COMMITTED` markers are then derived so
    * single-table readers ([[read]]) converge too — a crash between the
    * txn file and the markers is repaired by [[recoverMarkers]], never
    * half-visible: txn readers were already consistent, and single-table
    * readers stay on the previous version until repair.
    *
    * This is what a current+history SCD Type 4 pair, or a fact table and
    * its aggregate summary, need so no reader ever joins table A's new
    * version against table B's old one. Same single-writer assumption as
    * [[publish]].
    *
    * Returns the txn id.
    */
  def publishAll(spark: SparkSession,
                 snapshots: Seq[(String, DataFrame)],
                 base: String): Long = {
    require(snapshots.nonEmpty &&
              snapshots.map(_._1).distinct.size == snapshots.size,
            "snapshots must be non-empty with distinct table names")
    require(snapshots.forall(!_._1.exists("/=\\".contains(_))),
            "table names must be plain path fragments")
    val f = fs(spark, base)
    // Next version per table counts EVERY existing v-dir (committed or
    // not): an uncommitted dir may already be pinned by a txn file racing
    // through marker repair, so numbers are never reused.
    val pinned = snapshots.map { case (name, df) =>
      val root = s"$base/$name"
      val rootPath = new Path(root)
      val existing =
        if (!f.exists(rootPath)) Seq.empty[Long]
        else f.listStatus(rootPath).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith(VPrefix))
          .map(_.getPath.getName.stripPrefix(VPrefix).toLong)
      val next = (existing.sorted.lastOption.getOrElse(0L)) + 1L
      df.write.mode("overwrite").parquet(s"$root/$VPrefix$next")
      name -> next
    }
    val txnId = latestTxnId(f, base).getOrElse(0L) + 1L
    val out = f.create(new Path(s"$base/$TxnDir/$txnId"), false)
    out.write(pinned.map { case (n, v) => s"$n $v" }
                .mkString("\n").getBytes("UTF-8"))
    out.close()
    recoverMarkers(spark, base)
    txnId
  }

  private def latestTxnId(f: FileSystem, base: String): Option[Long] = {
    val dir = new Path(s"$base/$TxnDir")
    if (!f.exists(dir)) None
    else f.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.forall(_.isDigit)).map(_.toLong).sorted.lastOption
  }

  private def txnPins(f: FileSystem, base: String,
                      txnId: Long): Seq[(String, Long)] =
    SmallFile.read(f, new Path(s"$base/$TxnDir/$txnId"))
      .split("\n").toSeq.filter(_.nonEmpty)
      .map { line =>
        val Array(n, v) = line.split(" ")
        n -> v.toLong
      }

  /** The latest transaction's consistent cross-table view: each pinned
    * table read at exactly the version the txn committed — immune to a
    * concurrent publish that has landed some tables' data but not its txn
    * file.
    */
  def readAllLatest(spark: SparkSession,
                    base: String): Map[String, DataFrame] = {
    val f = fs(spark, base)
    val txnId = latestTxnId(f, base).getOrElse(
      throw new IllegalStateException(s"no committed transaction at $base"))
    txnPins(f, base, txnId).map { case (name, v) =>
      name -> spark.read.parquet(s"$base/$name/$VPrefix$v")
    }.toMap
  }

  /** Repair per-table `_COMMITTED` markers from committed txn files (the
    * write-ahead log is the source of truth). Idempotent; call after a
    * crash between a txn commit and its marker fan-out.
    */
  def recoverMarkers(spark: SparkSession, base: String): Unit = {
    val f = fs(spark, base)
    latestTxnId(f, base).foreach { txnId =>
      val pins = (1L to txnId).flatMap { id =>
        if (f.exists(new Path(s"$base/$TxnDir/$id"))) txnPins(f, base, id)
        else Seq.empty
      }
      pins.foreach { case (name, v) =>
        val marker = new Path(s"$base/$name/$VPrefix$v/$Committed")
        if (!f.exists(marker)) f.create(marker, true).close()
      }
      // Fold txn-pinned versions into each table's manifest so the
      // listing-free read path ([[committedVersions]]) sees them too —
      // a manifest-bearing table must never hide a txn commit.
      pins.groupBy(_._1).foreach { case (name, nv) =>
        val root = s"$base/$name"
        val known = manifestVersions(f, root).getOrElse(listedVersions(f, root))
        writeManifest(f, root, known ++ nv.map(_._2))
      }
    }
  }
}
