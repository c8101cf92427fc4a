package graft

/** Configuration for an SCD (slowly changing dimension) model.
  *
  * Field-for-field counterpart of the reference package's config surface:
  * audit column names and defaults from `/root/reference/dbt_project.yml:26-44`,
  * resolution + validation from
  * `/root/reference/macros/materializations/scd/scd_plan.sql:32-102,154-222`.
  *
  * @param uniqueKey        business (natural) key columns; required, composite
  *                         supported, may contain NULLs (matched null-safely for
  *                         type 2 via the surrogate hash).
  * @param scdType          0 (immutable), 1 (overwrite), 2 (full history).
  * @param changeInclude    change-detection allowlist (`change_columns.include` /
  *                         legacy `scd_check_columns`); None = all non-excluded.
  * @param changeExclude    change-detection denylist (`change_columns.exclude` /
  *                         legacy `exclude_columns_from_change_check`).
  * @param updateAllPreviousRecords when false, only prior versions whose window
  *                         could contain a new row are re-expired (perf switch,
  *                         unsafe under backfill; `scd_plan.sql:154-170`).
  * @param collapseRedundantVersions delete versions made redundant by
  *                         out-of-order arrivals so incremental == full refresh
  *                         (`scd_plan.sql:172-180`); requires
  *                         updateAllPreviousRecords (forced off otherwise).
  * @param scdCheckColumns  legacy alias for `changeInclude`
  *                         (`scd_plan.sql:192-196`).
  * @param excludeColumnsFromChangeCheck legacy alias for `changeExclude`
  *                         (`scd_plan.sql:197-201`).
  * @param incrementalPredicates SQL predicate strings bounding which existing
  *                         target rows a merge may touch (reference
  *                         `incremental_predicates`, `scd_plan.sql:276`,
  *                         `get_incremental_scd2_sql.sql:247-255`). Every
  *                         merge ANDs them (NULL as false) into its own
  *                         selection of stored rows, as into MERGE ON; rows
  *                         failing them pass through unchanged — as in the
  *                         reference, the caller must ensure they cover every
  *                         row the batch could affect.
  * @param onSchemaChange   batch-vs-target schema drift policy, dbt's
  *                         `on_schema_change` names: `fail` (default — the
  *                         reference's custom materialization has no drift
  *                         handling, so Snowflake MERGE errors on an unknown
  *                         column; we fail fast with a readable message),
  *                         `ignore` (dbt's incremental default: new batch
  *                         columns dropped, batch columns for
  *                         target-only fields NULL-filled), or
  *                         `append_new_columns` (target history widened with
  *                         NULLs; the new column joins change detection, so
  *                         NULL→value produces a new version).
  *                         `sync_all_columns` is deliberately not offered:
  *                         dropping a column from an SCD table rewrites
  *                         recorded history.
  */
final case class ScdConfig(
    uniqueKey: Seq[String],
    scdType: Int = 2,
    updatedAtCol: String = "_updated_at",
    isCurrentCol: String = "_is_current",
    validFromCol: String = "_valid_from",
    validToCol: String = "_valid_to",
    changeTypeCol: String = "_change_type",
    createdAtCol: Option[String] = None,
    deletedAtCol: Option[String] = None,
    loadedAtCol: String = "_loaded_at",
    changeInclude: Option[Seq[String]] = None,
    changeExclude: Seq[String] = Nil,
    scdCheckColumns: Option[Seq[String]] = None,
    excludeColumnsFromChangeCheck: Seq[String] = Nil,
    incrementalPredicates: Seq[String] = Nil,
    defaultValidTo: String = "2999-12-31 23:59:59",
    updateAllPreviousRecords: Boolean = true,
    collapseRedundantVersions: Boolean = true,
    onSchemaChange: String = "fail"
) {

  /** Audit columns appended to every SCD table (`scd_plan.sql:88`). */
  def auditColumns: Seq[String] =
    Seq(isCurrentCol, validFromCol, validToCol, changeTypeCol)

  /** Version identity = business key + event time (`scd_plan.sql:203`). */
  def scd2UniqueKey: Seq[String] = uniqueKey :+ updatedAtCol

  /** Collapse needs the full prior history (`scd_plan.sql:176-180`). */
  def effectiveCollapse: Boolean =
    collapseRedundantVersions && updateAllPreviousRecords

  /** Columns a matched MERGE row updates (`scd_plan.sql:182-187`).
    * Deliberate divergence: with update_all_previous_records the timeline
    * sees the key's whole history, so `_valid_from` is recomputed too. The
    * reference keeps the stored one, and a row back-dated before a key's
    * first version then leaves that version's created_at/deleted_at start
    * in place, overlapping the new first version (incremental ≠ full refresh).
    */
  def mergeUpdateCols: Seq[String] =
    if (updateAllPreviousRecords) Seq(isCurrentCol, validFromCol, validToCol, changeTypeCol)
    else Seq(isCurrentCol, validToCol)

  /** Fail-fast validation, mirroring the compile errors of
    * `scd_plan.sql:36-38,51-76`.
    */
  def validate(): Unit = {
    require(
      Set(0, 1, 2).contains(scdType),
      s"scd_type must be 0, 1 or 2 for the scd materialization, got: $scdType")
    require(
      uniqueKey.nonEmpty,
      "You must provide a unique_key configuration for the scd materialization. " +
        "This should be the business key (natural key) of the dimension.")
    require(
      !(Set(0, 1).contains(scdType) && deletedAtCol.isDefined),
      s"deleted_at_column ('${deletedAtCol.orNull}') is set on an SCD type $scdType model, " +
        "but deletion tracking is not supported for SCD types 0 and 1.")
    require(
      Set("fail", "ignore", "append_new_columns").contains(onSchemaChange),
      "on_schema_change must be one of fail, ignore, append_new_columns " +
        s"(sync_all_columns would rewrite recorded history), got: $onSchemaChange")
  }

  /** Configured created_at / deleted_at columns must exist in the model output
    * (case-insensitive), mirroring `scd_plan.sql:92-102`.
    */
  def validateSchema(columns: Seq[String]): Unit = {
    val upper = columns.map(_.toUpperCase).toSet
    for ((name, value) <- Seq("created_at_column" -> createdAtCol,
                              "deleted_at_column" -> deletedAtCol);
         v <- value)
      require(
        upper.contains(v.toUpperCase),
        s"$name ('$v') is configured but is not a column produced by this model. " +
          s"Available columns: ${columns.mkString(", ")}")
  }

  /** Legacy config aliases (`scd_check_columns` /
    * `exclude_columns_from_change_check`) are honored when the primary
    * `change_columns` spellings are unset — the reference's resolution
    * precedence (`scd_plan.sql:192-201`).
    */
  def effectiveInclude: Option[Seq[String]] = changeInclude.orElse(scdCheckColumns)

  def effectiveExclude: Seq[String] =
    if (changeExclude.nonEmpty) changeExclude else excludeColumnsFromChangeCheck

  /** Resolve the change-detection column set against the actual schema.
    * Mirrors `scd_plan.sql:189-222`: `include` is intersected case-insensitively
    * with real columns, then `exclude + updated_at + unique_key + audit columns`
    * are removed; default = all columns minus that exclusion set.
    */
  def checkColumns(columns: Seq[String]): Seq[String] = {
    def diffCi(a: Seq[String], b: Seq[String]): Seq[String] = {
      val bs = b.map(_.toUpperCase).toSet
      a.filterNot(c => bs.contains(c.toUpperCase))
    }
    val excluded =
      (effectiveExclude :+ updatedAtCol) ++ uniqueKey ++ auditColumns
    effectiveInclude match {
      case Some(include) =>
        val actual = columns.map(_.toUpperCase).toSet
        val present = include.filter(c => actual.contains(c.toUpperCase))
        diffCi(present, excluded)
      case None =>
        diffCi(columns, excluded)
    }
  }
}
