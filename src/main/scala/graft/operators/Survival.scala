package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.DimKey

/** Survival analysis over right-censored durations — the retention
  * statistician's view of user lifetimes (how long does a cohort keep
  * emitting events, with still-active users censored, not churned).
  * Completes the tier next to the discrete hazard (q285 family) and
  * Nelson–Aalen cumulative hazard (q515): Kaplan–Meier is the
  * PRODUCT-limit estimator those sum-form cousins approximate.
  *
  * Scale shape: one combine-enabled rollup collapses the fact table to a
  * per-duration ladder (≤ the number of distinct duration values — days,
  * so hundreds at any corpus size); the sequential truncated product runs
  * over that dimension-sized ladder on the driver, exactly the gated
  * driver-compute pattern the graph tier uses for schema-bounded loops.
  * Cite: reference has no survival ops (SURVEY §2.12 X-tier).
  */
object Survival {

  /** Kaplan–Meier product-limit curve from (duration, censored) rows:
    * one output row per EVENT time t (a duration with ≥ 1 uncensored
    * exit) carrying n_at_risk, n_events, and the pinned-integer survival
    * S_ppm(t) = fold of s ← s·(n_i − d_i) DIV n_i from 10⁶, event times
    * ascending — per-step truncation is DEFINED as the statistic, so
    * both engines replay it bit-for-bit (the q650 fold discipline).
    * Censored rows participate in n_at_risk only (at a tie, deaths
    * before censorings — the standard convention, via `>=`).
    *
    * Overflow bound: s ≤ 10⁶ and s·(n−d) ≤ 10⁶·n, so int64 holds to
    * ~9·10¹² subjects at risk — documented, far past any cohort.
    */
  def kaplanMeier(durations: DataFrame,
                  durationCol: String = "duration",
                  censoredCol: String = "censored"): DataFrame = {
    val spark = durations.sparkSession
    val perT = durations
      .groupBy(col(durationCol).cast("long").as("t"))
      .agg(count(lit(1)).as("n_all"),
           sum(when(col(censoredCol) === 0, 1L).otherwise(0L)).as("d"))
    val wAsc = Window.partitionBy(DimKey.one).orderBy(col("t"))
    // at risk at t = everyone whose duration >= t: total minus the
    // cumulative exits strictly before t (dimension-sized window)
    val ladder = perT
      .withColumn("_cum_before",
        coalesce(sum(col("n_all")).over(
          wAsc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .crossJoin(broadcast(perT.agg(sum(col("n_all")).as("_total"))))
      .withColumn("n_at_risk", col("_total") - col("_cum_before"))
      .filter(col("d") > 0)
      .select(col("t"), col("n_at_risk"), col("d").as("n_events"))
      .orderBy(col("t"))
    // sequential truncated product over the (dimension-sized) event-time
    // ladder — collected by design, like the gated graph driver loops
    val rows = ladder.collect()
    var s = 1000000L
    val out = rows.map { r =>
      val (t, n, d) = (r.getLong(0), r.getLong(1), r.getLong(2))
      s = s * (n - d) / n // nonneg operands: DIV == // (exactness rule)
      (t, n, d, s)
    }.toSeq
    spark.createDataFrame(out)
      .toDF("t", "n_at_risk", "n_events", "s_ppm")
  }

  /** Restricted mean survival time at horizon `tau`: the area under the
    * [[kaplanMeier]] step curve on [0, τ], in exact ppm·duration units
    * (divide by 1e6 for mean duration). The integral of a step function
    * is a windowed sum over the (dimension-sized) event-time ladder —
    * S = 1e6 on [0, t₁), s_ppm(tᵢ) on [tᵢ, tᵢ₊₁), clamped at τ — plus
    * the tail segment after the last event time. One row:
    * (tau, rmst_ppm). The standard KM companion when median survival is
    * undefined (curve never crosses 50%) — exact integers end-to-end, so
    * both engines agree bit-for-bit.
    */
  def rmst(durations: DataFrame,
           durationCol: String,
           censoredCol: String,
           tau: Long): DataFrame = {
    val km = kaplanMeier(durations, durationCol, censoredCol)
    val w = Window.partitionBy(DimKey.one).orderBy(col("t"))
    km
      .withColumn("_s_prev", coalesce(lag(col("s_ppm"), 1).over(w),
                                      lit(1000000L)))
      .withColumn("_t_prev", coalesce(lag(col("t"), 1).over(w), lit(0L)))
      .withColumn("_seg",
        col("_s_prev") * (least(col("t"), lit(tau)) -
                          least(col("_t_prev"), lit(tau))))
      .agg(sum(col("_seg")).as("_head"),
           max_by(col("s_ppm"), col("t")).as("_s_last"),
           max(col("t")).as("_t_last"))
      .select(lit(tau).as("tau"),
              (coalesce(col("_head"), lit(0L)) +
                coalesce(col("_s_last"), lit(1000000L)) *
                  (lit(tau) - least(coalesce(col("_t_last"), lit(0L)),
                                    lit(tau)))).as("rmst_ppm"))
  }
}
