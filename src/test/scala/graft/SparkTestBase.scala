package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session + seed loaders for the reference fixture CSVs
  * (ported verbatim from `/root/reference/integration_tests/seeds/`,
  * see FIXTURES.md).
  */
trait SparkTestBase extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  locally { spark.sparkContext.setLogLevel("ERROR") }

  def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** Seed timestamps carry explicit `+0000` offsets; session is UTC, so
    * stripping the offset and casting is exact.
    */
  def tsCol(name: String) =
    to_timestamp(regexp_replace(col(name), "\\+0000$", "")).as(name)

  /** Load a seed CSV with every column as string. */
  def seed(path: String): DataFrame =
    spark.read
      .option("header", "true")
      .csv(getClass.getResource(s"/seeds/$path").getPath)

  /** `customers_raw_<i>` shaped like the reference's `customers_scd2` model:
    * casts + `_created_at = _updated_at` + a constant `_written_at`
    * (excluded from change detection), per
    * `integration_tests/models/scd2_materialization/customers_scd2.sql:14-25`.
    */
  def customersScd2Model(iteration: Int): DataFrame =
    seed(s"scd2_materialization/customers_raw_$iteration.csv")
      .select(
        col("customer_id").cast("int"),
        col("customer_name"),
        col("email"),
        col("status"),
        tsCol("deleted_at"),
        tsCol("_updated_at"))
      .withColumn("_created_at", col("_updated_at"))
      .withColumn("_written_at", lit(ts(s"2025-01-0$iteration 00:00:00")))

  /** Same raw seeds shaped like `customers_scd1.sql` (no deleted_at). */
  def customersScd01Model(iteration: Int): DataFrame =
    seed(s"scd2_materialization/customers_raw_$iteration.csv")
      .select(
        col("customer_id").cast("int"),
        col("customer_name"),
        col("email"),
        col("status"),
        tsCol("_updated_at"))
      .withColumn("_created_at", col("_updated_at"))

  val customersCfg: ScdConfig = ScdConfig(
    uniqueKey = Seq("customer_id"),
    createdAtCol = Some("_created_at"),
    deletedAtCol = Some("deleted_at"),
    changeExclude = Seq("_written_at"))

  def assertInvariantsGreen(df: DataFrame, cfg: ScdConfig): Unit = {
    val violations = ScdInvariants.checkAll(df, cfg).filter(_._2 > 0)
    assert(violations.isEmpty, s"invariant violations: $violations")
  }

  def rowsFor(df: DataFrame, key: Int): Array[org.apache.spark.sql.Row] =
    df.filter(col("customer_id") === key).orderBy(col("_valid_from")).collect()

  /** `body`'s result and the Spark jobs started while it ran, fenced. */
  def jobsDuring[T](body: => T): (T, Int) = graft.tools.Stress.jobsDuring(spark)(body)
}
