package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ScdConfig

/** dbt snapshot strategies over the SCD2 engine — the public sibling of the
  * reference package's timestamp-driven merge (dbt-core snapshots offer a
  * `check` strategy and `invalidate_hard_deletes`; the reference assumes a
  * reliable `updated_at` and soft-delete markers, `scd_plan.sql:46-47`).
  * This closes the gap for sources that have NEITHER:
  *
  *   - **check strategy**: the input is a CURRENT-STATE table (one row per
  *     key, no usable event time). Change detection is purely by check-
  *     column comparison; new versions are stamped with the snapshot RUN
  *     time. Realized by stamping the batch with `asOf` as its
  *     `updatedAtCol` and letting the engine's conditional-change collapse
  *     drop unchanged rows — the merge, out-of-order handling, and audit
  *     columns are the SAME code path as the timestamp strategy.
  *   - **invalidate_hard_deletes**: a currently-alive target key ABSENT
  *     from the snapshot is logically deleted at run time. Realized by
  *     synthesizing delete rows (last-known payload, `deleted_at = asOf`)
  *     via a null-safe anti-join of current target keys against the batch,
  *     and merging them with the batch.
  *
  * Scale: the anti-join ships only the batch's key set against the target's
  * CURRENT slice; the merge itself is the engine's affected-key plan (the
  * selected slice alone reaches its exchange). A snapshot run costs
  * O(snapshot + touched keys), like any other merge.
  */
object Snapshot {

  /** One snapshot run. `target = None` is the first run. `cfg.updatedAtCol`
    * names the engine-injected run-time column (must not collide with a
    * snapshot column); `cfg.deletedAtCol` is required when
    * `invalidateHardDeletes`.
    */
  def run(target: Option[DataFrame],
          snap: DataFrame,
          asOf: Timestamp,
          cfg: ScdConfig,
          invalidateHardDeletes: Boolean = false): DataFrame = {
    require(!snap.columns.contains(cfg.updatedAtCol),
            s"snapshot input must not carry ${cfg.updatedAtCol}")
    if (invalidateHardDeletes)
      require(cfg.deletedAtCol.isDefined,
              "invalidateHardDeletes needs cfg.deletedAtCol")

    val delName = cfg.deletedAtCol.getOrElse("deleted_at")
    // The delete marker must participate in change detection, or a hard
    // delete whose payload matches the current version collapses as a
    // redundant run member and never emits its 'D'. The reference's DEFAULT
    // check set includes deleted_at for exactly this reason (scd_plan.sql:
    // 212-215 removes only keys/audit/excludes); a restricted
    // change_columns.include must re-admit it.
    val cfgEff = cfg.changeInclude match {
      case Some(inc) if invalidateHardDeletes &&
          !inc.exists(_.equalsIgnoreCase(delName)) =>
        cfg.copy(changeInclude = Some(inc :+ delName))
      case _ => cfg
    }
    val stamped0 = snap.withColumn(cfg.updatedAtCol, lit(asOf))
    val stamped =
      if (invalidateHardDeletes && !snap.columns.contains(delName))
        stamped0.withColumn(delName, lit(null).cast("timestamp"))
      else stamped0

    val delta = target match {
      case Some(t) if invalidateHardDeletes =>
        // Aliased sides + qualified names: target and snapshot often share
        // lineage (both carved from one source scan), where Dataset.apply
        // hands the SAME attribute to both sides of <=> and Spark's
        // self-join rescue logs its trivially-true-predicate warning.
        val cur = t.filter(col(cfg.isCurrentCol) &&
                           col(cfg.changeTypeCol) =!= "D").alias("_snap_t")
        val keyCond = cfg.uniqueKey
          .map(k => col(s"_snap_t.$k") <=> col(s"_snap_b.$k")).reduce(_ && _)
        val gone = cur.join(snap.alias("_snap_b"), keyCond, "left_anti")
        val delRows = gone.select(stamped.columns.map {
          case c if c == cfg.updatedAtCol => lit(asOf).as(c)
          case c if c == delName          => lit(asOf).cast("timestamp").as(c)
          case c                          => col(c)
        }.toSeq: _*)
        stamped.unionByName(delRows)
      case _ => stamped
    }

    target match {
      case None    => Scd2.initialLoad(delta, cfgEff)
      case Some(t) => Scd2.incremental(t, delta, cfgEff)
    }
  }
}
