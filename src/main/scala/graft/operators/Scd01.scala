package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ScdConfig
import graft.functions.ScdFunctions._

/** SCD Types 0 and 1: one row per business key, same audit signature as type 2.
  *
  * Type 1 overwrites in place (latest version wins); type 0 is insert-only
  * (original value retained forever). Mirrors
  * `/root/reference/macros/materializations/scd/types/type_{0,1}/<any>.sql`.
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
    val updatedAt = resolveCi(cols, cfg.updatedAtCol)
    val order = if (cfg.scdType == 1) col(updatedAt).desc else col(updatedAt).asc
    val deduped = delta
      .withColumn("_rn",
                  row_number().over(
                    Window.partitionBy(keys.map(col): _*).orderBy(order)))
      .filter(col("_rn") === 1)
      .drop("_rn")
    withConstantAudit(deduped, cfg, cols)
      .select(cols.map(col) ++ cfg.auditColumns.map(col): _*)
  }

  /** Incremental merge on the business key alone:
    *   - type 1: matched -> overwrite business columns (never keys, never audit,
    *     so _valid_from keeps its first-seen value); not matched -> insert.
    *     (`get_incremental_scd1_sql.sql:55-93`)
    *   - type 0: matched -> no action; not matched -> insert.
    *     (`get_incremental_scd0_sql.sql:50-83`)
    * `incremental_predicates` are one more conjunct of the join condition
    * (MERGE ON): a target row failing them matches nothing and passes
    * through. Returns the post-merge snapshot.
    */
  def incremental(target: DataFrame, delta: DataFrame, cfg: ScdConfig): DataFrame = {
    cfg.validate()
    require(cfg.scdType == 0 || cfg.scdType == 1, s"scdType 0|1, got ${cfg.scdType}")
    val targetCols = target.columns.toSeq
    val keys = cfg.uniqueKey.map(resolveCi(targetCols, _))
    val keyUpper = keys.map(_.toUpperCase).toSet
    val auditUpper = cfg.auditColumns.map(_.toUpperCase).toSet

    // The MERGE source: deduped latest/earliest per key with fresh audit cols.
    val source = initialLoad(delta, cfg)

    val s = source.columns.foldLeft(source)((df, c) => df.withColumnRenamed(c, s"_s_$c"))
      .withColumn("_s_exists", lit(true))
    val t = target.withColumn("_t_exists", lit(true))
    val joinCond = keys
      .map(k => col(k) <=> col(s"_s_$k"))
      .reduce(_ && _) && predicateConjunct(cfg.incrementalPredicates)
    val joined = t.join(s, joinCond, "full_outer")
    val sourceOnly = col("_t_exists").isNull

    val out = targetCols.map { c =>
      val upper = c.toUpperCase
      val overwrite = cfg.scdType == 1 &&
        !keyUpper.contains(upper) && !auditUpper.contains(upper)
      val expr =
        if (overwrite)
          when(col("_s_exists").isNotNull, col(s"_s_$c")).otherwise(col(c))
        else when(sourceOnly, col(s"_s_$c")).otherwise(col(c))
      expr.as(c)
    }
    joined.select(out: _*)
  }

  /** SCD0/1 audit columns are constants: always current, valid forever, 'I'. */
  private def withConstantAudit(df: DataFrame, cfg: ScdConfig, cols: Seq[String]): DataFrame = {
    val updatedAt = resolveCi(cols, cfg.updatedAtCol)
    val vf = cfg.createdAtCol match {
      case Some(c) => coalesce(col(resolveCi(cols, c)), col(updatedAt))
      case None    => col(updatedAt)
    }
    df.withColumn(cfg.isCurrentCol, lit(true))
      .withColumn(cfg.validFromCol, vf)
      .withColumn(cfg.validToCol, to_timestamp(lit(cfg.defaultValidTo)))
      .withColumn(cfg.changeTypeCol, lit("I"))
  }
}
