package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ScdConfig
import graft.functions.ScdFunctions._

/** SCD Type 2 maintenance: full temporal history with audit columns.
  *
  * Spark-first re-expression of the reference's type-2 pipeline:
  *   - initial load  -> `get_initial_load_scd2_sql.sql:33-96`
  *   - incremental   -> `get_incremental_scd2_sql.sql:75-268` (the 9-CTE MERGE)
  *
  * All computation is one lazy DataFrame DAG per call — Catalyst plans the
  * joins/windows. A merge is the shape every SCD type shares
  * ([[graft.functions.ScdFunctions.splitStored]]): the persisted versions
  * the batch affects (J1/J2) are selected, the rest pass around as stored,
  * and the timeline runs over the batch ∪ the selected versions. The
  * target's layout decides how they are selected: broadcast probe joins
  * for an unclustered target, so cost tracks batch size; for a bucketed
  * slice ([[merged]] with a bucket, the pruned path of [[graft.ScdEngine]])
  * a per-key window flag after ONE exchange on the bucket column, which
  * the timeline's windows and the bucketed write reuse.
  *
  * The reference's MERGE source also carries its redundant versions as
  * `'delete'` rows (`get_incremental_scd2_sql.sql:218-229`), because a
  * Snowflake MERGE deletes only what a source row matches. The merge here
  * returns the post-MERGE snapshot itself, so a deleted version is a row
  * the timeline does not keep.
  */
object Scd2 {

  // Internal working-column names (same spellings as the reference CTEs).
  // The reference also materializes `_scd2_key` / `_scd2_business_key` md5
  // surrogates because Snowflake MERGE ON needs a single null-safe equality;
  // Spark has per-column null-safe equality (`<=>`) natively, so the version
  // identity stays as raw (unique_key, updated_at) tuples — same NULL≡NULL
  // semantics (the J1 bug fix, `get_incremental_scd2_sql.sql:104-110`),
  // no per-row key hashing, native-typed window keys instead of 32-char
  // strings in every shuffle, and none of concat-ws's separator
  // collisions. Only the content hash remains a real md5.
  val HashCol = "_scd2_hash" // change-detection content hash
  val PrevHashCol = "_prev_hash"
  val RunIdCol = "_run_id"
  val PriorityCol = "_priority"
  val KeepCol = "_keep"

  /** Initial (full-refresh) load: delta batch -> complete SCD2 history.
    * Mirrors `get_initial_load_scd2_sql.sql:52-96`: the [[timeline]] of the
    * batch alone. With no persisted versions there is nothing to delete, and
    * no `loaded_at` run winner either — the reference's initial load keeps
    * every first-or-changed version whatever its load time.
    */
  def initialLoad(delta: DataFrame, cfg: ScdConfig): DataFrame = {
    cfg.validate()
    val cols = delta.columns.toSeq
    cfg.validateSchema(cols)
    val keys = cfg.uniqueKey.map(resolveCi(cols, _))
    val updatedAt = resolveCi(cols, cfg.updatedAtCol)
    val source = withTags(delta.withColumn(SourceCol, lit("new")), cfg.checkColumns(cols))
    timeline(source, cfg, keys, updatedAt, loadedAt = None)
      .select(cols.map(col) ++ cfg.auditColumns.map(col): _*)
  }

  /** Incremental update: the target snapshot the reference MERGE
    * (`get_incremental_scd2_sql.sql:238-268`, SURVEY.md §4.3) leaves, over
    * an unclustered target ([[merged]]).
    */
  def incremental(target: DataFrame, delta: DataFrame, cfg: ScdConfig): DataFrame =
    merged(target, delta, cfg, bucket = None)

  /** The post-MERGE snapshot. The selection
    * ([[graft.functions.ScdFunctions.splitStored]]) picks the persisted
    * versions the batch affects: stored rows of batch keys (J1/J2) that
    * pass the `incremental_predicates`. The target rows it leaves out pass
    * through as stored; the [[timeline]] of the batch ∪ the selected rows
    * replaces the rest. That timeline already pairs each batch version with
    * its stored one (previous wins the dedup), so no join replays the
    * MERGE. A kept persisted row takes the recomputed `merge_update_cols`
    * and keeps its other stored audit columns (the matched update); a
    * selected row the timeline does not keep is deleted.
    *
    * With `bucket`, a column that both `target` and `delta` carry and that
    * is a function of the business key (the bucketed layout of
    * [[graft.ScdEngine]]), the merge runs over ONE exchange on it: every
    * timeline window is partitioned by (`bucket`, keys) and reuses it, and
    * the snapshot keeps the column and that clustering, so a write
    * partitioned on it needs no second one.
    */
  private[graft] def merged(target: DataFrame,
                            delta: DataFrame,
                            cfg: ScdConfig,
                            bucket: Option[String]): DataFrame = {
    cfg.validate()
    val deltaCols = delta.columns.toSeq.filterNot(bucket.contains)
    cfg.validateSchema(deltaCols)
    // dest_columns minus audit columns = the business columns; the delta batch
    // normally has no audit columns, the target always does.
    val destCols = businessColumns(deltaCols, cfg.auditColumns)
    val keys = cfg.uniqueKey.map(resolveCi(destCols, _))
    val updatedAt = resolveCi(destCols, cfg.updatedAtCol)
    val loadedAt = destCols.find(_.equalsIgnoreCase(cfg.loadedAtCol))

    // new_records (:79-89) and previous_record (:93-118): pull from the
    // target ONLY prior versions of keys present in the batch — the
    // affected-key pruning that keeps incremental cost ∝ batch size. When
    // update_all_previous_records is off, restrict further to windows a new
    // row could land in (J2).
    val landing = Option.when(!cfg.updateAllPreviousRecords)(
      updatedAt -> resolveCi(target.columns.toSeq, cfg.validToCol))
    val (passed, rows) = splitStored(target, delta.select((destCols ++ bucket).map(col): _*),
                                     keys, cfg.incrementalPredicates, landing, bucket)
    // all_records (:123-145) through scd2_versions (:149-211). The content
    // hash and dedup priority are added after the split, so a clustered
    // exchange carries only the rows and their source tag, and
    // passed-through rows need no hash. Persisted rows carry their stored
    // audit columns as `_t_<col>` (NULL on batch rows).
    val renamed = rows.withColumnsRenamed(cfg.auditColumns.map(a => a -> s"_t_$a").toMap)
    val kept = timeline(withTags(renamed, cfg.checkColumns(destCols)), cfg, bucket.toSeq ++ keys,
                        updatedAt, loadedAt)
    val isPrevious = col(SourceCol) === "previous"
    val out = target.columns.map { c =>
      cfg.auditColumns.find(_.equalsIgnoreCase(c)).fold(col(c)) { a =>
        // `!_keep` is never true on the timeline's output. The term only
        // keeps the stored merge-update column read in this branch, so both
        // branches of a clustered split feed the same columns to its
        // exchange and it is planned once; pruned here, it is planned twice
        val stored = if (cfg.mergeUpdateCols.contains(a)) !col(KeepCol) else lit(true)
        when(isPrevious && stored, col(s"_t_$a")).otherwise(col(a))
      }.as(c)
    }
    passed.unionByName(kept.select(out: _*))
  }

  /** Source-tagged rows with the reference's dedup priority (0 = previous
    * wins) and the change-detection content hash the timeline reads.
    */
  private def withTags(df: DataFrame, check: Seq[String]): DataFrame =
    df.withColumn(PriorityCol, when(col(SourceCol) === "previous", 0).otherwise(17))
      .withColumn(HashCol, surrogateKeyOf(check))

  /** The SCD2 timeline over tagged rows ([[withTags]]): one flag-and-window
    * pass, every window partitioned by `keys` (the business key, or with it
    * a bucket) so the whole pass shares one exchange and, but for the
    * `loaded_at` run window, one sort.
    *
    *   1. one row per version (keys, updated_at), previous rows winning;
    *   2. the lag of the content hash;
    *   3. `_keep`: the row belongs to the canonical timeline;
    *   4. the kept rows only, with `_keep` (always true) still on them;
    *   5. their audit columns.
    *
    * `loadedAt` names the load-watermark column that picks each content
    * run's winner when collapsing; without it the run opener wins.
    */
  private def timeline(all: DataFrame,
                       cfg: ScdConfig,
                       keys: Seq[String],
                       updatedAt: String,
                       loadedAt: Option[String]): DataFrame = {
    val byKey = Window.partitionBy(keys.map(col): _*)
    // D1 / dedup per version key (:149-156). The reference `order by 1` is
    // arbitrary; its stated intent (':149-150' comment + the _priority tags)
    // is previous-wins, so order by _priority (0 = previous) with the
    // content hash as a deterministic tie-break (SURVEY.md §7.4.2). Within a
    // business-key partition the version key reduces to updated_at, so the
    // lag compares it directly (null-safely, via the same ''-coalesced
    // string the md5 surrogate would hash).
    val uStr = coalesce(col(updatedAt).cast("string"), lit(""))
    val deduped = all
      .withColumn("_prev_u", lag(uStr, 1).over(
        byKey.orderBy(col(updatedAt), col(PriorityCol), col(HashCol))))
      .filter(col("_prev_u").isNull || col("_prev_u") =!= uStr)
      .drop("_prev_u")

    // compare_versions (:160-166)
    val w = versionWindow(keys, updatedAt)
    val compared = deduped.withColumn(PrevHashCol, lag(col(HashCol), 1).over(w))
    val changed = col(PrevHashCol).isNull || col(HashCol) =!= col(PrevHashCol)
    val isPrevious = col(SourceCol) === "previous"

    // changes_only (:178-197). Non-collapse keeps run openers plus every
    // already-persisted row. Collapsing keeps one row per content run: the
    // run opener (a run id steps up exactly where the hash changes), or with
    // a load watermark the earliest-loaded (then earliest-updated) row, so a
    // later load carrying identical content never displaces the persisted
    // version.
    val flagged = (cfg.effectiveCollapse, loadedAt) match {
      case (false, _) => compared.withColumn(KeepCol, changed || isPrevious)
      case (true, None) => compared.withColumn(KeepCol, changed)
      case (true, Some(l)) =>
        // _run_id is nondecreasing along the timeline, so sorting the key
        // partition by (run, loaded_at, updated_at) keeps runs contiguous and
        // puts each run's earliest-loaded row first — the lag flags exactly
        // one row per run without a (keys, run)-partitioned shuffle.
        val prevRun = lag(col(RunIdCol), 1).over(
          byKey.orderBy(col(RunIdCol).asc, col(l).asc, col(updatedAt).asc))
        withRunId(compared, HashCol, keys, updatedAt, RunIdCol)
          .withColumn(KeepCol, prevRun.isNull || prevRun =!= col(RunIdCol))
    }

    // scd2_versions (:201-211); the redundant versions (:218-229) are the
    // rows the filter drops
    withAuditColumns(flagged.filter(col(KeepCol)), cfg, keys, updatedAt)
  }

  /** The four audit columns over a canonical timeline (W3-W6).
    *
    * The timeline is unique per (keys, updated_at) here (it dedups first),
    * so `_is_current` = "no later version" = `lead(updated_at) IS
    * NULL` — the same value `row_number() DESC = 1` produces, but it shares
    * the single ascending-order window with lag/lead/rank instead of forcing
    * a second (descending) sort of every key partition.
    */
  private def withAuditColumns(df: DataFrame,
                               cfg: ScdConfig,
                               keys: Seq[String],
                               updatedAt: String): DataFrame = {
    val cols = df.columns.toSeq
    val createdAt = cfg.createdAtCol.map(resolveCi(cols, _))
    val deletedAt = cfg.deletedAtCol.map(resolveCi(cols, _))
    val w = versionWindow(keys, updatedAt)
    df.withColumn(cfg.isCurrentCol, lead(col(updatedAt), 1).over(w).isNull)
      .withColumn(cfg.validFromCol,
                  validFrom(keys, updatedAt, createdAt, deletedAt))
      .withColumn(cfg.validToCol, validTo(keys, updatedAt, cfg.defaultValidTo))
      .withColumn(cfg.changeTypeCol, changeType(keys, updatedAt, deletedAt))
  }

  /** Change-data-capture between two SCD2 snapshots: the inverse of the
    * merge. Classifies every version (unique_key, updated_at) as
    *   - `insert`: present only in `newSnap` (a version the batch added),
    *   - `delete`: present only in `oldSnap` (collapsed away or hard-pruned),
    *   - `update`: present in both with ANY differing column (in practice the
    *     rewritten audit columns: re-expiry, `_is_current` flips, change-type
    *     reslots under backfill);
    * unchanged versions are not emitted. Feeding the emitted rows downstream
    * reproduces the batch's effect without re-reading either snapshot — the
    * exported changelog a warehouse `MERGE ... OUTPUT` would produce, built
    * here from the two states.
    *
    * One full-outer sort-merge join on the native (unique_key, updated_at)
    * tuple with per-column `<=>` (NULL key values match NULL, as everywhere
    * in the engine). Presence is tracked with marker literals, NOT key-null
    * checks, precisely because NULL keys are legal. At 100 TB both snapshots
    * shuffle once; with the bucketed layout ([[graft.ScdEngine]]) the join
    * is co-partitioned and the exchange is elided.
    *
    * Output: the version key (coalesced across sides), `change_kind`, and
    * the old/new audit-column pairs.
    */
  def snapshotDelta(oldSnap: DataFrame,
                    newSnap: DataFrame,
                    cfg: ScdConfig,
                    includePayload: Boolean = false): DataFrame = {
    val cols = oldSnap.columns.toSeq
    require(newSnap.columns.toSeq == cols,
            "snapshotDelta expects identically-shaped snapshots")
    val keys = cfg.scd2UniqueKey.map(resolveCi(cols, _))
    val o = cols.foldLeft(oldSnap)((d, c) => d.withColumnRenamed(c, s"_o_$c"))
      .withColumn("_o_exists", lit(true))
    val n = cols.foldLeft(newSnap)((d, c) => d.withColumnRenamed(c, s"_n_$c"))
      .withColumn("_n_exists", lit(true))
    val on = keys.map(k => col(s"_o_$k") <=> col(s"_n_$k")).reduce(_ && _)
    val oldOnly = col("_n_exists").isNull
    val newOnly = col("_o_exists").isNull
    val changed = cols.filterNot(keys.contains)
      .map(c => !(col(s"_o_$c") <=> col(s"_n_$c")))
      .reduce(_ || _)
    val audit = cfg.auditColumns.map(resolveCi(cols, _))
    // with includePayload the changelog carries the new-side payload (null
    // for deletes), making it sufficient to REPLAY: see applyDelta
    val payload =
      if (includePayload)
        cols.filterNot(c => keys.contains(c) || audit.contains(c))
          .map(c => col(s"_n_$c").as(c))
      else Nil
    o.join(n, on, "full_outer")
      .withColumn("change_kind",
                  when(newOnly, lit("insert"))
                    .when(oldOnly, lit("delete"))
                    .when(changed, lit("update")))
      .filter(col("change_kind").isNotNull)
      .select(keys.map(k => coalesce(col(s"_n_$k"), col(s"_o_$k")).as(k)) ++
        Seq(col("change_kind")) ++
        audit.flatMap(c => Seq(col(s"_o_$c").as(s"old$c"),
                               col(s"_n_$c").as(s"new$c"))) ++
        payload: _*)
  }

  /** Point-in-time view: the dimension exactly as it stood at `t` — rows
    * whose `[_valid_from, _valid_to)` window contains `t`, re-flagged
    * current (every survivor IS current as of `t`). The SCD2 answer to
    * time travel without a table format: the history table carries every
    * past state. Pure filter+projection — partition-prunable, pushed to the
    * scan.
    */
  def asOf(snapshot: DataFrame, t: java.sql.Timestamp, cfg: ScdConfig): DataFrame = {
    val cols = snapshot.columns.toSeq
    val vf = resolveCi(cols, cfg.validFromCol)
    val vt = resolveCi(cols, cfg.validToCol)
    val cur = resolveCi(cols, cfg.isCurrentCol)
    snapshot
      .filter(col(vf) <= lit(t) && col(vt) > lit(t))
      .withColumn(cur, lit(true))
  }

  /** Daily snapshot fan-out: [[asOf]] for a whole date spine in one pass —
    * one row per (alive version, spine day) whose `[from, to)` window
    * contains the day instant. `'D'` windows are periods of non-existence
    * and emit nothing (the dbt-snapshot-to-daily-rollup pattern: BI reads a
    * plain daily table, the engine keeps only the compact history).
    *
    * The spine is tiny (365 rows/year) and BROADCAST; the history never
    * shuffles. Each history row survives the containment filter only for
    * the days it covers, so output size is Σ covered days — the honest
    * size of a daily table — not |history| × |spine|.
    */
  def dailySnapshots(snapshot: DataFrame,
                     start: java.sql.Timestamp,
                     end: java.sql.Timestamp,
                     cfg: ScdConfig): DataFrame = {
    val cols = snapshot.columns.toSeq
    val vf = resolveCi(cols, cfg.validFromCol)
    val vt = resolveCi(cols, cfg.validToCol)
    val cur = resolveCi(cols, cfg.isCurrentCol)
    val ct = resolveCi(cols, cfg.changeTypeCol)
    val spine = snapshot.sparkSession.range(1)
      .select(explode(sequence(lit(start), lit(end), expr("interval 1 day")))
        .as("snapshot_ts"))
    snapshot
      .filter(col(ct) =!= "D")
      .join(broadcast(spine),
            col(vf) <= col("snapshot_ts") && col(vt) > col("snapshot_ts"))
      .withColumn(cur, lit(true))
  }

  /** Ambiguous-version audit: (key, version-time) groups carrying MORE THAN
    * ONE distinct content hash — the inputs on which the engine's
    * deterministic tie-break (hash order, `get_incremental_scd2_sql.sql:
    * 149-156`) silently picks a winner. Zero rows means every merge was
    * unambiguous; non-zero is an upstream data-quality signal worth
    * alerting on BEFORE the winner is in the history. One combine-enabled
    * aggregate on the version key.
    */
  def ambiguousVersions(delta: DataFrame,
                        cfg: ScdConfig,
                        updatedAtExpr: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val cols = delta.columns.toSeq
    val keys = cfg.uniqueKey.map(resolveCi(cols, _))
    val upd = updatedAtExpr.getOrElse(col(resolveCi(cols, cfg.updatedAtCol)))
    val check = cfg.checkColumns(cols)
    // the engine's own content hash (P2) — variants counted here are exactly
    // the variants the merge tie-break would see, collisions and all
    val hash = surrogateKeyOf(check)
    delta
      .groupBy((keys.map(col) :+ upd.as("version_ts")): _*)
      .agg(count(lit(1)).as("n_rows"),
           countDistinct(hash).as("n_variants"))
      .filter(col("n_variants") > 1)
  }

  /** Version-count retention: keep each key's `k` most recent versions (by
    * window start — the current row is always among them). The companion of
    * the time-based [[expireVersions]]: a hot key that churns hourly keeps a
    * bounded tail instead of a bounded age. Windows are NOT recomputed —
    * kept history is true history. One exchange + per-key top-k window, the
    * same distribution every merge already uses.
    */
  def keepLastVersions(snapshot: DataFrame, k: Int, cfg: ScdConfig): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cols = snapshot.columns.toSeq
    val vf = resolveCi(cols, cfg.validFromCol)
    val keys = cfg.uniqueKey.map(resolveCi(cols, _))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(vf).desc)
    snapshot.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .drop("_rn")
  }

  /** Retention trim: drop expired versions whose window closed before
    * `cutoff`; current rows and still-relevant history pass through
    * untouched (audit columns are NOT recomputed — the kept windows are the
    * true ones, this is deletion, not rewrite). The complement of asOf:
    * together they bound how much history a 100 TB dimension must carry.
    */
  def expireVersions(snapshot: DataFrame,
                     cutoff: java.sql.Timestamp,
                     cfg: ScdConfig): DataFrame = {
    val cols = snapshot.columns.toSeq
    val vt = resolveCi(cols, cfg.validToCol)
    val cur = resolveCi(cols, cfg.isCurrentCol)
    snapshot.filter(col(cur) || col(vt) >= lit(cutoff))
  }

  /** Right-to-be-forgotten: hard-delete EVERY version of the given keys
    * (whole business keys, not windows — a partial history would still leak
    * the entity's existence). Null-safe anti join; the key list is
    * dimension-sized at most, so it broadcasts.
    */
  def forgetKeys(snapshot: DataFrame,
                 keys: DataFrame,
                 cfg: ScdConfig): DataFrame = {
    val cols = snapshot.columns.toSeq
    val ks = cfg.uniqueKey.map(resolveCi(cols, _))
    val renamed = ks.foldLeft(keys)((d, k) =>
      d.withColumnRenamed(resolveCi(keys.columns.toSeq, k), s"_f_$k"))
    snapshot.join(renamed,
                  ks.map(k => col(k) <=> col(s"_f_$k")).reduce(_ && _),
                  "left_anti")
  }

  /** Replay a payload-carrying changelog ([[snapshotDelta]] with
    * `includePayload = true`) onto the old snapshot, reproducing the new one
    * exactly (spec-asserted): deletes drop their version, updates swap in
    * the new audit columns, inserts append the carried row. This is the CDC
    * consumer's operator — a changelog feed plus the previous snapshot
    * reconstructs the table without re-reading the producer's storage.
    *
    * One full-outer-free pass: an anti join for deletes and a left join for
    * updates, both on the native null-safe version key; the changelog side
    * is batch-sized, so both joins broadcast at scale.
    */
  def applyDelta(oldSnap: DataFrame,
                 delta: DataFrame,
                 cfg: ScdConfig): DataFrame = {
    val cols = oldSnap.columns.toSeq
    val keys = cfg.scd2UniqueKey.map(resolveCi(cols, _))
    val audit = cfg.auditColumns.map(resolveCi(cols, _))
    def keyCond(d: DataFrame) =
      keys.map(k => col(k) <=> col(s"_d_$k")).reduce(_ && _)

    val dels = delta.filter(col("change_kind") === "delete")
      .select(keys.map(k => col(k).as(s"_d_$k")): _*)
    val upds = delta.filter(col("change_kind") === "update")
      .select(keys.map(k => col(k).as(s"_d_$k")) ++
        audit.map(c => col(s"new$c").as(s"_u$c")) :+
        lit(true).as("_upd"): _*)
    val ins = delta.filter(col("change_kind") === "insert")
      .select(cols.map(c =>
        (if (audit.contains(c)) col(s"new$c") else col(c)).as(c)): _*)

    val kept = oldSnap.join(dels, keyCond(dels), "left_anti")
    kept.join(upds, keyCond(upds), "left")
      .select(cols.map { c =>
        (if (audit.contains(c))
           when(col("_upd"), col(s"_u$c")).otherwise(col(c))
         else col(c)).as(c)
      }: _*)
      .unionByName(ins)
  }

  /** Duration-weighted attribute analytics over the version history: per
    * key, the time-weighted average of a (milli-scaled integer) value across
    * its validity intervals — "what was this entity's typical value", where
    * typical means weighted by HOW LONG each version held, not how often it
    * changed (a plain AVG over versions overweights churn-heavy keys).
    *
    * Each closed version weighs `_valid_to - _valid_from`; the open current
    * version weighs up to the caller-supplied horizon (the batch high-water
    * mark — NOT the 2999 sentinel, which would drown every closed interval).
    * All weights are integer seconds and the weighted sum is an exact
    * integer, so the aggregate is partitioning-independent; only the final
    * ratio is a double (rounded, derived from exact integers — stable).
    * One combine-enabled exchange on the key plus a broadcast of the
    * single-row horizon: at 100 TB this is a linear scan of the history.
    */
  def durationWeighted(snapshot: DataFrame, cfg: ScdConfig,
                       valueMilli: Column, horizon: DataFrame): DataFrame = {
    val cols = snapshot.columns.toSeq
    val keys = cfg.uniqueKey.map(resolveCi(cols, _)).map(col)
    val cur = col(resolveCi(cols, cfg.isCurrentCol))
    val vf = col(resolveCi(cols, cfg.validFromCol))
    val vt = col(resolveCi(cols, cfg.validToCol))
    snapshot
      .join(broadcast(horizon))
      .withColumn("_end", when(cur, col("_horizon")).otherwise(vt))
      .withColumn("_us", unix_micros(col("_end")) - unix_micros(vf))
      .withColumn("_dur_sec", expr("_us DIV 1000000"))
      .withColumn("_vm", valueMilli.cast("long"))
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n_versions"),
           sum(col("_dur_sec")).as("dur_sec_total"),
           sum(col("_dur_sec") * col("_vm")).as("wsum_milli_sec"))
      .withColumn("twa_milli",
                  when(col("dur_sec_total") > 0L,
                       round(col("wsum_milli_sec").cast("double") /
                               col("dur_sec_total").cast("double"), 6)))
  }

  /** Dimension-health report: the distribution of per-key version counts,
    * with how many keys at each depth currently sit deleted ('D' current
    * version). Long history tails are the churny keys that dominate
    * incremental merge cost (a key's window partition is sequential), so
    * this is the operational skew report for an SCD table. Two
    * combine-enabled aggregates — key-sized then depth-sized; SQL GROUP BY
    * NULL≡NULL grouping keeps NULL-bearing business keys as one key, same
    * as the merge's null-safe matching.
    */
  def historyProfile(snapshot: DataFrame, cfg: ScdConfig): DataFrame = {
    val cols = snapshot.columns.toSeq
    val keys = cfg.uniqueKey.map(resolveCi(cols, _)).map(col)
    val cur = col(resolveCi(cols, cfg.isCurrentCol))
    val ct = col(resolveCi(cols, cfg.changeTypeCol))
    snapshot
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n_versions"),
           max(when(cur && ct === "D", 1L).otherwise(0L)).as("_dead"))
      .groupBy(col("n_versions"))
      .agg(count(lit(1)).as("n_keys"),
           sum(col("_dead")).as("n_deleted_keys"))
  }
}
