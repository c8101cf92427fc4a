package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ScdConfig
import graft.functions.ScdFunctions._

/** SCD Types 0 and 1: one row per business key, same audit signature as type 2.
  *
  * Type 1 overwrites in place (latest version wins); type 0 is insert-only
  * (original value retained forever). Mirrors
  * `/root/reference/macros/materializations/scd/types/type_{0,1}/<any>.sql`.
  * An incremental run merges in the shape every SCD type shares: the stored
  * rows no batch row selects pass around the merge, as in [[Scd2]].
  *
  * Deliberate divergence (SURVEY.md §7.4.4): the reference merges types 0/1 on
  * raw per-column `=`, which silently drops NULL-bearing keys; we use null-safe
  * equality (`<=>`) so all three types treat NULL keys consistently.
  */
object Scd01 {

  /** Latest (type 1) or earliest (type 0) row per key, plus constant audit
    * columns. Mirrors `get_initial_load_scd{0,1}_sql.sql`.
    */
  def initialLoad(delta: DataFrame, cfg: ScdConfig): DataFrame = {
    cfg.validate()
    require(cfg.scdType == 0 || cfg.scdType == 1, s"scdType 0|1, got ${cfg.scdType}")
    val cols = delta.columns.toSeq
    cfg.validateSchema(cols)
    val keys = cfg.uniqueKey.map(resolveCi(cols, _))
    val deduped = delta
      .withColumn("_rn",
                  row_number().over(
                    Window.partitionBy(keys.map(col): _*).orderBy(winnerOrder(cfg, cols))))
      .filter(col("_rn") === 1)
      .drop("_rn")
    deduped.withColumns(constantAudit(cfg, cols))
      .select(cols.map(col) ++ cfg.auditColumns.map(col): _*)
  }

  /** Incremental merge on the business key alone:
    *   - type 1: matched -> overwrite business columns (never keys, never audit,
    *     so _valid_from keeps its first-seen value); not matched -> insert.
    *     (`get_incremental_scd1_sql.sql:55-93`)
    *   - type 0: matched -> no action; not matched -> insert.
    *     (`get_incremental_scd0_sql.sql:50-83`)
    * The MERGE ON is the shared selection ([[graft.functions.ScdFunctions.splitStored]]),
    * `incremental_predicates` included, so a target row failing them passes
    * through. Each selected stored row is one output row; a key with none
    * inserts its winning batch row, as [[initialLoad]] picks and stamps it.
    * One per-key window pass over the batch ∪ the selected rows decides
    * both. Returns the post-merge snapshot.
    */
  def incremental(target: DataFrame, delta: DataFrame, cfg: ScdConfig): DataFrame =
    merged(target, delta, cfg, bucket = None)

  /** [[incremental]]; with `bucket`, a column that both `target` and `delta`
    * carry and that is a function of the business key (the bucketed layout
    * of [[graft.ScdEngine]]), over ONE exchange on it, kept by the snapshot,
    * as in [[Scd2.merged]].
    */
  private[graft] def merged(target: DataFrame, delta: DataFrame, cfg: ScdConfig,
                            bucket: Option[String]): DataFrame = {
    cfg.validate()
    require(cfg.scdType == 0 || cfg.scdType == 1, s"scdType 0|1, got ${cfg.scdType}")
    val cols = delta.columns.toSeq.filterNot(bucket.contains)
    cfg.validateSchema(cols)
    val keys = cfg.uniqueKey.map(resolveCi(cols, _))
    val (passed, rows) = splitStored(target, delta, keys, cfg.incrementalPredicates,
                                     landing = None, bucket)
    val isPrevious = col(SourceCol) === "previous"
    // batch rows first, the winning one leading; every key here has one
    val w = Window.partitionBy((bucket.toSeq ++ keys).map(col): _*)
      .orderBy(isPrevious, winnerOrder(cfg, cols))
    val hasStored = max(isPrevious).over(w.rowsBetween(Window.unboundedPreceding,
                                                       Window.unboundedFollowing))
    val audit = constantAudit(cfg, cols)
    val fixed = (keys ++ bucket ++ cfg.auditColumns).map(_.toUpperCase).toSet
    val out = target.columns.toSeq.map { c =>
      val expr = cfg.auditColumns.find(_.equalsIgnoreCase(c)) match {
        case Some(a) => when(isPrevious, col(c)).otherwise(audit(a))
        case None if cfg.scdType == 1 && !fixed.contains(c.toUpperCase) => first(col(c)).over(w)
        case None => col(c)
      }
      expr.as(c)
    }
    passed.unionByName(
      rows.select(out :+ (isPrevious || row_number().over(w) === 1 && !hasStored).as("_keep"): _*)
        .filter(col("_keep")).drop("_keep"))
  }

  /** Puts a key's winning batch row first: latest (type 1) or earliest (type 0). */
  private def winnerOrder(cfg: ScdConfig, cols: Seq[String]): Column = {
    val updatedAt = col(resolveCi(cols, cfg.updatedAtCol))
    if (cfg.scdType == 1) updatedAt.desc else updatedAt.asc
  }

  /** SCD0/1 audit columns are constants: always current, valid forever, 'I'. */
  private def constantAudit(cfg: ScdConfig, cols: Seq[String]): Map[String, Column] = {
    val updatedAt = resolveCi(cols, cfg.updatedAtCol)
    val vf = cfg.createdAtCol match {
      case Some(c) => coalesce(col(resolveCi(cols, c)), col(updatedAt))
      case None    => col(updatedAt)
    }
    Map(cfg.isCurrentCol -> lit(true), cfg.validFromCol -> vf,
        cfg.validToCol -> to_timestamp(lit(cfg.defaultValidTo)), cfg.changeTypeCol -> lit("I"))
  }
}
