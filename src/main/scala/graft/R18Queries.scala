package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators.Dedup

/** Round-14 queries (q836+). Separate object: `R17Queries`' map builders
  * sit near the JVM 64 KB method-bytecode ceiling, so new surface
  * accretes here and chains into `SparkEntry.queries` / `oracleSql`.
  */
object R18Queries {

  private def rd(s: SparkSession, dir: String, t: String): DataFrame =
    Tables.read(s, dir, t)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q836_decile_mobility" -> ((s, dir) => {
      // Customer revenue-decile MOBILITY between the first and second
      // calendar halves: the (from_decile, to_decile) transition counts —
      // a heavy diagonal means stable spend ranks, mass below it means
      // churn-in-place the retention curves (q100) never localize.
      // Deciles by rank·10 DIV n over the per-half customer rollups
      // (dimension-sized windows); customers absent from a half land in
      // decile 0 (the X743 sentinel discipline, both engines identical).
      val o = rd(s, dir, "orders")
        .select(col("o_custkey").as("c"),
                expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("v"),
                (year(col("o_orderdate")) <= 1994).cast("long").as("h1"))
      def half(flag: Long, dcol: String) = {
        val rev = o.filter(col("h1") === flag)
          .groupBy(col("c")).agg(sum(col("v")).as("rv"))
        // r15 optimization (r14 verdict task 3): the customer rollup
        // scales with SF (~15M at sf1000), so the rank comes from
        // Profile.cellRank — coarse-cell prefix + per-cell parallel
        // windows, the q813 distributed-order-stat shape — instead of a
        // single-task DimKey.one window. Identical (rank, n) by
        // cellRank's exactness contract (order (rv, c)).
        graft.operators.Profile.cellRank(rev, Seq.empty, "rv", Seq("c"))
          // decile 1..10: ceil(r*10/n) = (r*10 + n - 1) DIV n
          .select(col("c"),
                  expr("(_rank * 10L + _n - 1L) DIV _n").as(dcol))
      }
      half(1L, "from_decile")
        .join(half(0L, "to_decile"), Seq("c"), "full_outer")
        .groupBy(coalesce(col("from_decile"), lit(0L)).as("from_decile"),
                 coalesce(col("to_decile"), lit(0L)).as("to_decile"))
        .agg(count(lit(1)).as("n_customers"))
    }),
    "q837_priority_ship_medians" -> ((s, dir) => {
      // "Do urgent orders actually ship faster?" — the per-priority
      // MEDIAN order-to-first-ship delay (exact ceil(n/2) order stat off
      // day-grain delay cells, never a fact sort) next to the mean the
      // survival tier uses: medians are immune to the censoring tail
      // that drags means. One fact rollup + one cell window per
      // priority partition.
      import org.apache.spark.sql.expressions.Window
      val firstShip = Tables.spread(s, rd(s, dir, "lineitem"))
        .groupBy(col("l_orderkey")).agg(min(col("l_shipdate")).as("fs"))
      val delays = rd(s, dir, "orders")
        .join(firstShip, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderpriority").as("prio"),
                datediff(col("fs"), col("o_orderdate")).cast("long")
                  .as("days"))
      val cells = delays.groupBy(col("prio"), col("days"))
        .agg(count(lit(1)).as("cnt"))
      val wp = Window.partitionBy(col("prio")).orderBy(col("days"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells
        .withColumn("cum", sum(col("cnt")).over(wp))
        .withColumn("n", sum(col("cnt")).over(
          Window.partitionBy(col("prio"))))
        .filter(expr("cum >= (n + 1L) DIV 2L AND cum - cnt < (n + 1L) DIV 2L"))
        .select(col("prio"), col("n").as("n_orders"),
                col("days").as("median_days"))
    }),
    "q838_dup_length_bias" -> ((s, dir) => {
      // Near-dup LENGTH bias: mean character length of documents that
      // appear in a verified pair vs the corpus mean, as a pinned ppm
      // ratio — short boilerplate dominating the dup set is the classic
      // shingle-dedup failure mode (tiny docs share their few shingles),
      // and this is the one-number check before trusting a deletion
      // sweep. Distinct dup-doc ids from the sealed pair relation; both
      // means cross-multiplied so the only DIV is the final ratio.
      val d = Tables.spread(s, rd(s, dir, "documents"))
      val pairs = Dedup.minhashLshPairs(d, "doc_id", "text")
      val dupIds = pairs.select(col("doc_a").as("doc_id"))
        .unionByName(pairs.select(col("doc_b").as("doc_id")))
        .distinct()
      val dup = d.join(dupIds, Seq("doc_id"), "left_semi")
        .agg(count(lit(1)).as("n_dup"), sum(col("n_chars")).as("s_dup"))
      val all = d.agg(count(lit(1)).as("n_all"), sum(col("n_chars")).as("s_all"))
      dup.crossJoin(broadcast(all))
        // ratio of means in ppm = (s_dup·n_all·10⁶) DIV (n_dup·s_all) —
        // one DIV, int64 to ~10⁹ corpus chars × 10⁵ docs in the
        // numerator's DECIMAL(38) staging
        .withColumn("len_ratio_ppm", expr(
          """CAST(CASE WHEN n_dup = 0 OR s_all = 0 THEN 0
            |ELSE CAST(s_dup AS DECIMAL(38,0)) * n_all * 1000000
            |  DIV (CAST(n_dup AS DECIMAL(38,0)) * s_all) END
            |AS BIGINT)""".stripMargin))
        .select("n_dup", "s_dup", "n_all", "s_all", "len_ratio_ppm")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "q836_decile_mobility" ->
      """WITH o AS (SELECT o_custkey AS c,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS v,
        |    CASE WHEN year(o_orderdate) <= 1994 THEN 1 ELSE 0 END AS h1
        |  FROM orders),
        |r1 AS (SELECT c, sum(v) AS rv FROM o WHERE h1 = 1 GROUP BY 1),
        |d1 AS (SELECT c,
        |    (CAST(row_number() OVER (ORDER BY rv, c) AS BIGINT) * 10
        |      + count(*) OVER () - 1) // count(*) OVER () AS from_decile
        |  FROM r1),
        |r2 AS (SELECT c, sum(v) AS rv FROM o WHERE h1 = 0 GROUP BY 1),
        |d2 AS (SELECT c,
        |    (CAST(row_number() OVER (ORDER BY rv, c) AS BIGINT) * 10
        |      + count(*) OVER () - 1) // count(*) OVER () AS to_decile
        |  FROM r2)
        |SELECT CAST(coalesce(from_decile, 0) AS BIGINT) AS from_decile,
        |  CAST(coalesce(to_decile, 0) AS BIGINT) AS to_decile,
        |  CAST(count(*) AS BIGINT) AS n_customers
        |FROM d1 FULL OUTER JOIN d2 USING (c)
        |GROUP BY 1, 2""".stripMargin,
    "q837_priority_ship_medians" ->
      """WITH fs0 AS (SELECT l_orderkey AS ok, min(l_shipdate) AS fs
        |  FROM lineitem GROUP BY 1),
        |delays AS (SELECT o_orderpriority AS prio,
        |    CAST(date_diff('day', o_orderdate, fs) AS BIGINT) AS days
        |  FROM orders JOIN fs0 ON ok = o_orderkey),
        |cells AS (SELECT prio, days, count(*) AS cnt
        |  FROM delays GROUP BY 1, 2),
        |cc AS (SELECT prio, days, cnt,
        |    sum(cnt) OVER (PARTITION BY prio ORDER BY days
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(cnt) OVER (PARTITION BY prio) AS n FROM cells)
        |SELECT prio, CAST(n AS BIGINT) AS n_orders,
        |  days AS median_days
        |FROM cc WHERE cum >= (n + 1) // 2 AND cum - cnt < (n + 1) // 2"""
        .stripMargin,
    "q838_dup_length_bias" ->
      s"""WITH ${SparkEntry.MinhashPairsCtes},
         |vp AS (${SparkEntry.JaccardTailSql}),
         |ids AS (SELECT doc_a AS doc_id FROM vp
         |  UNION SELECT doc_b FROM vp),
         |dup AS (SELECT CAST(count(*) AS BIGINT) AS n_dup,
         |    CAST(sum(n_chars) AS BIGINT) AS s_dup
         |  FROM documents WHERE doc_id IN (SELECT doc_id FROM ids)),
         |al AS (SELECT CAST(count(*) AS BIGINT) AS n_all,
         |    CAST(sum(n_chars) AS BIGINT) AS s_all FROM documents)
         |SELECT n_dup, s_dup, n_all, s_all,
         |  CAST(CASE WHEN n_dup = 0 OR s_all = 0 THEN 0
         |    ELSE CAST(s_dup AS HUGEINT) * n_all * 1000000
         |      // (CAST(n_dup AS HUGEINT) * s_all) END AS BIGINT)
         |    AS len_ratio_ppm
         |FROM dup CROSS JOIN al""".stripMargin
  )
}
