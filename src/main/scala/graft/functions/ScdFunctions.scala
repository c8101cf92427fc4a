package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Column-level building blocks shared by every SCD operator.
  *
  * All builders are pure `Column` expressions over Spark built-ins (codegen'd,
  * no UDFs), mirroring the reference's column macros at
  * `/root/reference/macros/materializations/scd/columns/<any>.sql`.
  */
object ScdFunctions {

  /** Null-safe surrogate key hash, byte-for-byte the dbt_utils 1.3.0
    * `generate_surrogate_key` expansion used throughout the reference
    * (`get_incremental_scd2_sql.sql:84-87`):
    * `md5(coalesce(cast(c1 as varchar),'') || '-' || ...)`.
    * NULL == NULL by construction, so NULL-bearing composite keys match
    * themselves (the bug fix documented at `get_incremental_scd2_sql.sql:104-110`).
    */
  def surrogateKey(cols: Seq[Column]): Column =
    Md5ConcatWs(cols.map(c => coalesce(c.cast("string"), lit(""))))

  /** Built-in composition `surrogateKey` must match byte-for-byte (asserted
    * by `ScdFunctionsSpec`); kept as the readable spec of the hash shape.
    */
  private[graft] def surrogateKeySpec(cols: Seq[Column]): Column =
    md5(concat_ws("-", cols.map(c => coalesce(c.cast("string"), lit(""))): _*))

  def surrogateKeyOf(names: Seq[String]): Column = surrogateKey(names.map(col))

  /** Source tag of a merge's rows: 'new' (batch) or 'previous' (stored). */
  private[graft] val SourceCol = "_source"

  /** The one selection of every SCD merge, the reference's MERGE ON
    * (`get_incremental_scd2_sql.sql:247-255`): a stored row is selected when
    * its business key has a `batch` row, matched null-safely (J1: per-column
    * `=` drops NULL-bearing keys), and it passes the `predicates` (NULL =
    * false). With `landing` (updated_at, valid_to; SCD2 with
    * update_all_previous_records off) a stored version is selected only when
    * a batch row lands in its window (J2) or twins its NULL updated_at, which
    * the reference's MERGE ON matched null-safely. Returns the stored rows
    * not selected, as stored, and batch ∪ selected rows tagged [[SourceCol]].
    * Unclustered (`bucket` None), the batch's distinct keys broadcast into a
    * semi-join and its anti-join complement, so only the selected slice
    * reaches the merge's exchange. Clustered on `bucket` (a function of the
    * key that both sides carry), batch ∪ target cross ONE exchange on it, a
    * per-key window flags the selection, and both branches filter that one
    * relation, so they share the exchange and keep its clustering.
    */
  private[graft] def splitStored(target: DataFrame, batch: DataFrame, keys: Seq[String],
                                 predicates: Seq[String], landing: Option[(String, String)],
                                 bucket: Option[String]): (DataFrame, DataFrame) = {
    val inScope = predicates.map(expr).reduceOption(_ && _).fold(lit(true))(coalesce(_, lit(false)))
    def withBatch(stored: DataFrame) = batch.withColumn(SourceCol, lit("new"))
      .unionByName(stored.withColumn(SourceCol, lit("previous")), allowMissingColumns = true)
    bucket match {
      case None =>
        val probe = batch.select((keys ++ landing.map(_._1)).map(c => col(c).as(s"_n_$c")): _*)
          .distinct()
        val keysMatch = keys.map(k => col(k) <=> col(s"_n_$k")).reduce(_ && _)
        val cond = inScope && landing.fold(keysMatch) { case (u, validTo) =>
          val nu = col(s"_n_$u")
          keysMatch && (nu <= col(validTo) || nu.isNull && col(u).isNull)
        }
        (target.join(probe, cond, "left_anti"), withBatch(target.join(probe, cond, "left_semi")))
      case Some(b) =>
        val byKey = Window.partitionBy((b +: keys).map(col): _*)
        val isNew = col(SourceCol) === "new"
        val hit = landing.fold(max(isNew).over(byKey)) { case (u, validTo) =>
          min(when(isNew, col(u))).over(byKey) <= col(validTo) ||
            col(u).isNull && max(isNew && col(u).isNull).over(byKey)
        }
        val flagged = withBatch(target).repartition(col(b))
          .withColumn("_sel", isNew || inScope && coalesce(hit, lit(false)))
        (flagged.filter(!col("_sel")).select(target.columns.map(c => col(c).as(c)).toSeq: _*),
         flagged.filter(col("_sel")).drop("_sel"))
    }
  }

  /** Window over one key's versions in event-time order — the partition spec of
    * every window in the reference (`columns/<any>.sql`).
    */
  def versionWindow(keys: Seq[String], updatedAt: String): WindowSpec =
    Window.partitionBy(keys.map(col): _*).orderBy(col(updatedAt))

  /** `_valid_from` (`get_valid_from_sql.sql`): a key's FIRST version starts at
    * `coalesce(deleted_at, created_at, updated_at)` (born-deleted records start
    * at their deletion time; otherwise at creation time when configured); every
    * later version starts at its own `updated_at`.
    */
  def validFrom(keys: Seq[String],
                updatedAt: String,
                createdAt: Option[String] = None,
                deletedAt: Option[String] = None): Column = {
    val w = versionWindow(keys, updatedAt)
    if (createdAt.isEmpty && deletedAt.isEmpty) col(updatedAt)
    else {
      val firstParts =
        (deletedAt.toSeq ++ createdAt.toSeq :+ updatedAt).map(col)
      when(lag(col(updatedAt), 1).over(w).isNull, coalesce(firstParts: _*))
        .otherwise(col(updatedAt))
    }
  }

  /** `_valid_to`: next version's start, or the open-ended default
    * (`get_valid_to_sql.sql:28-33`).
    */
  def validTo(keys: Seq[String],
              updatedAt: String,
              defaultValidTo: String): Column =
    coalesce(lead(col(updatedAt), 1).over(versionWindow(keys, updatedAt)),
             to_timestamp(lit(defaultValidTo)))

  /** `_change_type` (`get_change_type_sql.sql:26-37`): 'D' when soft-deleted,
    * 'I' for a key's first version or a resurrection after a delete, else 'U'.
    */
  def changeType(keys: Seq[String],
                 updatedAt: String,
                 deletedAt: Option[String] = None): Column = {
    val w = versionWindow(keys, updatedAt)
    deletedAt match {
      case Some(d) =>
        when(col(d).isNotNull, lit("D"))
          .when(row_number().over(w) === 1, lit("I"))
          .when(lag(col(d), 1).over(w).isNotNull, lit("I"))
          .otherwise(lit("U"))
      case None =>
        when(row_number().over(w) === 1, lit("I")).otherwise(lit("U"))
    }
  }

  /** Snowflake `CONDITIONAL_CHANGE_EVENT(expr) OVER (...)` replacement
    * (`get_incremental_scd2_sql.sql:164`): running count of times `hashCol`
    * changes along the key's timeline, so consecutive rows sharing a hash get
    * one run id while a recurrence A->B->A stays three runs.
    *
    * Spark disallows nesting a window inside a window, so this is a two-pass
    * select: materialize the change indicator, then running-sum it
    * (SURVEY.md §7.4.7).
    */
  def withRunId(df: DataFrame,
                hashCol: String,
                keys: Seq[String],
                updatedAt: String,
                outCol: String): DataFrame = {
    val w = versionWindow(keys, updatedAt)
    val prev = lag(col(hashCol), 1).over(w)
    val indicator = when(prev.isNull, lit(0))
      .when(col(hashCol) =!= prev, lit(1))
      .otherwise(lit(0))
    df.withColumn("_chg_event", indicator)
      .withColumn(
        outCol,
        sum(col("_chg_event"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("_chg_event")
  }

  /** Case-insensitive column resolution against an actual schema — the
    * reference normalizes names to upper throughout (`scd_plan.sql:92`,
    * `get_incremental_scd2_sql.sql:67-68`).
    */
  def resolveCi(columns: Seq[String], name: String): String =
    columns
      .find(_.equalsIgnoreCase(name))
      .getOrElse(throw new IllegalArgumentException(
        s"column '$name' not found in [${columns.mkString(", ")}]"))

  /** Business columns = all columns minus the audit columns, case-insensitive
    * (`get_incremental_scd2_sql.sql:67-72`).
    */
  def businessColumns(columns: Seq[String], audit: Seq[String]): Seq[String] = {
    val auditUpper = audit.map(_.toUpperCase).toSet
    columns.filterNot(c => auditUpper.contains(c.toUpperCase))
  }
}
