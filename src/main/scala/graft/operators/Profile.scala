package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Relation profiler: per-column row/null/distinct counts and min/max — the
  * `ANALYZE TABLE ... COMPUTE STATISTICS` shape, as a queryable DataFrame.
  *
  * Scale: ONE aggregation job over the relation. The multi-column distinct
  * counts make Catalyst plan a single Expand (one pass over the input, one
  * shuffle of partial aggregates) rather than a scan per column; the final
  * single-row frame is exploded back into one row per column. At 100 TB the
  * drop-in cheaper variant is `approx_count_distinct` (HLL sketches merge
  * order-independently), but its register layout is engine-specific, so the
  * exact form is the cross-engine-checkable one.
  */
object Profile {

  /** One row per profiled column: (column, n_rows, n_nulls, n_distinct,
    * min_str, max_str). min/max are rendered as strings so heterogeneous
    * column types stack into one typed output relation.
    *
    * Counts and ranges aggregate in two separate jobs on purpose: the
    * multi-distinct rewrite groups the Expand output by (value, gid), and a
    * string-buffered min/max in that same aggregate forces SortAggregate —
    * a full sort of the expanded (12x) input. Split, the distinct pass is a
    * pure-count HashAggregate and the range pass has no grouping keys at
    * all (SortAggregate without grouping needs no Sort), so neither job
    * sorts anything. Two columnar scans beat one 12x-expanded sort.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val countAggs: Seq[Column] = count(lit(1)).as("_rows") +: cols.flatMap { c =>
      Seq(count(col(c)).as(s"_cnt_$c"),
          countDistinct(col(c)).as(s"_dst_$c"))
    }
    val rangeAggs: Seq[Column] = cols.flatMap { c =>
      Seq(min(col(c)).cast("string").as(s"_min_$c"),
          max(col(c)).cast("string").as(s"_max_$c"))
    }
    df.agg(countAggs.head, countAggs.tail: _*)
      .crossJoin(df.agg(rangeAggs.head, rangeAggs.tail: _*))
      .select(explode(array(cols.map { c =>
        struct(lit(c).as("column"),
               col("_rows").as("n_rows"),
               (col("_rows") - col(s"_cnt_$c")).as("n_nulls"),
               col(s"_dst_$c").as("n_distinct"),
               col(s"_min_$c").as("min_str"),
               col(s"_max_$c").as("max_str"))
      }: _*)).as("p"))
      .select("p.*")
  }

  /** Column-statistics drift between a reference slice and a current slice
    * of the same relation — the data-observability report that catches a
    * upstream schema/content change BEFORE it poisons a training run:
    * null-rate movement (integer ppm), distinct-cardinality movement, and
    * range endpoints shifting. Two [[profile]] passes (each a pair of
    * columnar scans, no fact-sized shuffle) joined on the column name —
    * at 100 TB the report costs two profile scans, nothing more.
    */
  def drift(ref: DataFrame, cur: DataFrame, cols: Seq[String]): DataFrame = {
    def side(df: DataFrame, tag: String) =
      profile(df, cols).select(
        col("column"),
        col("n_rows").as(s"n_$tag"),
        expr(s"n_nulls * 1000000L DIV n_rows").as(s"null_ppm_$tag"),
        col("n_distinct").as(s"ndv_$tag"),
        col("min_str").as(s"_min_$tag"),
        col("max_str").as(s"_max_$tag"))
    side(ref, "ref").join(side(cur, "cur"), "column")
      .withColumn("null_ppm_delta",
                  col("null_ppm_cur") - col("null_ppm_ref"))
      .withColumn("min_moved",
                  !(col("_min_cur") <=> col("_min_ref")))
      .withColumn("max_moved",
                  !(col("_max_cur") <=> col("_max_ref")))
      .drop("_min_ref", "_max_ref", "_min_cur", "_max_cur")
  }

  /** The 100 TB scale path for [[profile]]: HyperLogLog distinct counts
    * (`approx_count_distinct`, default 5% rsd) instead of the exact Expand —
    * sketches merge order-independently, no multi-distinct rewrite, one
    * plain aggregation pass. Not oracle-checked (register layouts are
    * engine-specific); spec-checked against the exact profiler.
    */
  def profileApprox(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs: Seq[Column] = count(lit(1)).as("_rows") +: cols.flatMap { c =>
      Seq(count(col(c)).as(s"_cnt_$c"),
          approx_count_distinct(col(c)).as(s"_dst_$c"),
          min(col(c)).cast("string").as(s"_min_$c"),
          max(col(c)).cast("string").as(s"_max_$c"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map { c =>
        struct(lit(c).as("column"),
               col("_rows").as("n_rows"),
               (col("_rows") - col(s"_cnt_$c")).as("n_nulls"),
               col(s"_dst_$c").as("n_distinct"),
               col(s"_min_$c").as("min_str"),
               col(s"_max_$c").as("max_str"))
      }: _*)).as("p"))
      .select("p.*")
  }

  /** Exact discrete quantiles per group: the value at rank ceil(q% * n) of
    * the group's sort order — pure SELECTION, so the answer is a value that
    * exists in the data and is identical in any engine (interpolated
    * percentiles do float arithmetic that drifts across implementations;
    * sketches like `approx_percentile` are the at-scale fallback, noted).
    *
    * One exchange + sort on the group key; the rank filter rides the same
    * window pass. Ties share a value, so the selected VALUE is well-defined
    * even though row_number among equals is not.
    */
  def discreteQuantiles(df: DataFrame,
                        groupCol: String,
                        valueCol: String,
                        percents: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol)).orderBy(col(valueCol))
    val wAll = Window.partitionBy(col(groupCol))
    df.select(col(groupCol), col(valueCol))
      .filter(col(valueCol).isNotNull)
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wAll))
      .select(col(groupCol), col(valueCol), col("rn"), col("n"),
              explode(lit(percents.toArray)).as("q"))
      .filter(col("rn") === expr("(n * q + 99) DIV 100"))
      .select(col(groupCol), col("q"), col(valueCol).as("q_value"))
  }

  /** Winsorization: clamp a (typically floor-micro integer) value column to
    * its exact per-group [pLo, pHi] discrete quantiles — the X44 rank
    * selection, so the clamp bounds are engine-exact (no interpolation, no
    * sketch). The bounds relation is group-count-sized and broadcast back;
    * besides the quantile pass itself the data side is a narrow projection.
    * The robust-scaling companion of [[minMaxScale]] (one wild sensor value
    * no longer owns the feature range).
    */
  def winsorize(df: DataFrame,
                groupCol: String,
                valueCol: String,
                pLo: Int,
                pHi: Int): DataFrame = {
    require(0 < pLo && pLo < pHi && pHi <= 100, "need 0 < pLo < pHi <= 100")
    val qs = discreteQuantiles(df, groupCol, valueCol, Seq(pLo, pHi))
    val lo = qs.filter(col("q") === pLo)
      .select(col(groupCol), col("q_value").as("_lo"))
    val hi = qs.filter(col("q") === pHi)
      .select(col(groupCol), col("q_value").as("_hi"))
    df.join(broadcast(lo), Seq(groupCol))
      .join(broadcast(hi), Seq(groupCol))
      .withColumn(s"${valueCol}_w",
                  least(greatest(col(valueCol), col("_lo")), col("_hi")))
      .drop("_lo", "_hi")
  }

  /** Key-skew report: the `topK` heaviest keys with their row share and
    * multiple-of-average-fiber ratio — the pre-flight diagnostic for every
    * per-key operator here (a key at 1000× the average fiber serializes its
    * window chain; that's when [[SkewJoin.salted]] or salting-by-subkey
    * pays). Two combine-enabled aggregates (key-sized, then top-k).
    */
  def keySkew(df: DataFrame, keyCols: Seq[String], topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perKey = df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"))
    // totals as a broadcast 1-row aggregate, NOT a global window — the
    // per-key relation can be billions of keys at 100 TB and must never
    // collapse to one partition; the only tiny side here is topK rows.
    val totals = perKey.agg(sum(col("n_rows")).as("_total"),
                            count(lit(1)).as("_nkeys"))
    val top = perKey
      .orderBy(col("n_rows").desc +: keyCols.map(col): _*)
      .limit(topK)
    top.join(broadcast(totals))
      .withColumn("share_ppm", expr("n_rows * 1000000 DIV _total"))
      // DECIMAL(38,0) guard: n_rows * _nkeys * 1e6 overflows BIGINT at the
      // billions-of-keys/hot-key scale this diagnostic is for.
      .withColumn("skew_x_avg_ppm",
                  expr("CAST(CAST(n_rows AS DECIMAL(38,0)) * _nkeys * 1000000" +
                       " DIV _total AS BIGINT)"))
      .withColumn("skew_rank",
                  row_number().over(Window.partitionBy(graft.functions.DimKey.one).orderBy(
                    col("n_rows").desc +: keyCols.map(col): _*)))
      .drop("_total", "_nkeys")
  }

  /** Fixed-width histogram of a numeric column over [lo, hi): bin =
    * clamp(floor((x - lo) * nbins / (hi - lo)), 0, nbins-1), one count per
    * non-empty bin. The bin function is a handful of IEEE double ops — both
    * engines (and any future one) compute it bit-identically, unlike
    * quantile sketches. One map-side-combined aggregate on <= nbins keys.
    */
  def histogram(df: DataFrame, c: String,
                lo: Double, hi: Double, nbins: Int): DataFrame = {
    val raw = floor((col(c) - lit(lo)) * lit(nbins.toDouble) / lit(hi - lo))
    val bin = least(greatest(raw, lit(0.0)), lit(nbins - 1.0)).cast("long")
    df.filter(col(c).isNotNull)
      .groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n"))
      .withColumn("lo_edge", lit(lo) + col("bin") * lit((hi - lo) / nbins))
  }

  /** Equi-depth (quantile) binning at micro-bin resolution: rows quantize to
    * `microBins` fixed-width cells (the [[histogram]] IEEE-exact bin
    * function), and cell CUMULATIVE counts cut the distribution into `bins`
    * equal-mass buckets — `bin = (rows_before * bins) DIV total`.
    *
    * An exact per-row equi-depth split needs a total order (a global sort or
    * single-partition rank — the non-starter at 100 TB); quantizing first
    * makes the corpus-sized work ONE combine-enabled aggregate, and every
    * window thereafter runs over the <= microBins-row cell relation (the
    * deliberate single-partition window on dimension-sized data). Boundary
    * precision is a micro-cell, set by `microBins` — the same contract as a
    * t-digest/QuantileSummaries sketch, but integer-deterministic and
    * reproducible in any engine.
    *
    * Output per final bin: row mass, covered micro-cell range, low edge.
    */
  /** Min-max feature scaling to integer ppm: `floor((x - min) * 1e6 /
    * (max - min))`, constant columns scale to 0. The extrema aggregate is
    * one 1-row pass, broadcast back as a literal-free cross join — the
    * corpus itself never shuffles (narrow projection), the canonical
    * normalize-before-training step. Integer output: IEEE-subtract/divide/
    * floor are bit-identical across engines, float means are not.
    */
  def minMaxScale(df: DataFrame,
                  keyCols: Seq[String],
                  valCols: Seq[String]): DataFrame = {
    val aggs = valCols.flatMap(c => Seq(min(col(c)).as(s"_min_$c"),
                                        max(col(c)).as(s"_max_$c")))
    val extrema = df.agg(aggs.head, aggs.tail: _*)
    df.crossJoin(broadcast(extrema))
      .select(keyCols.map(col) ++ valCols.map { c =>
        when(col(s"_max_$c") === col(s"_min_$c"), lit(0L))
          .otherwise(floor((col(c) - col(s"_min_$c")) * lit(1000000.0) /
            (col(s"_max_$c") - col(s"_min_$c"))).cast("long"))
          .as(s"${c}_ppm")
      }: _*)
  }

  /** Exact "share of total held by the top fracNum/fracDen of rows by
    * `valueCol`" (e.g. 1/100 = the top-1% concentration number) WITHOUT a
    * global sort or single-partition rank.
    *
    * Selection problem: the top k = ceil(n·frac) rows by value are exactly
    * (a) every row with value > v*, plus (b) k − |a| rows with value = v*,
    * where v* is the k-th largest value. Ties all carry the same value, so
    * the top-k SUM is determined by v* alone — no per-row ranking needed.
    *
    * Two-phase micro-cell selection of v*: (1) one combine-enabled aggregate
    * quantizes values into `microBins` monotone cells and a descending
    * cumulative count over the ≤ microBins cell rows finds the cell holding
    * rank k; (2) only that cell's rows (≈ n/microBins of the input) are
    * re-grouped by exact value to pin v*. Corpus-sized work = two narrow
    * scans + two hash aggregates; every window runs over cell/dimension-sized
    * relations (partitionBy(graft.functions.DimKey.one) keeps the plan single-partition by
    * declaration, not by accident).
    *
    * Output (one row): n_rows, total, n_top (= k), top_sum, share_ppm.
    * `valueCol` must be integral (micro-units); sums guarded to DECIMAL(38,0)
    * where products can exceed BIGINT.
    */
  def topFractionShare(df: DataFrame, valueCol: String,
                       fracNum: Int, fracDen: Int,
                       microBins: Int = 10000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(0 < fracNum && fracNum <= fracDen, "need 0 < fracNum <= fracDen")
    val v = df.select(col(valueCol).cast("long").as("_v"))
      .filter(col("_v").isNotNull)
    val stats = v.agg(count(lit(1)).as("_n"), sum(col("_v")).as("_total"),
                      min(col("_v")).as("_mn"), max(col("_v")).as("_mx"))
    val withStats = v.crossJoin(broadcast(stats))
    // monotone non-decreasing value→cell map (exactness needs only
    // monotonicity + consistency; DECIMAL guards the product overflow)
    val cellExpr = expr(
      s"(CAST(_v AS DECIMAL(38,0)) - _mn) * $microBins" +
        s" DIV (CAST(_mx AS DECIMAL(38,0)) - _mn + 1)")
    val wDesc = Window.partitionBy(graft.functions.DimKey.one).orderBy(col("_cell").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thr = withStats
      .groupBy(cellExpr.cast("long").as("_cell"))
      .agg(count(lit(1)).as("_cn"), sum(col("_v")).as("_cs"))
      .crossJoin(broadcast(stats))
      .withColumn("_k", expr(s"(_n * $fracNum + ${fracDen - 1}) DIV $fracDen"))
      .withColumn("_cumN", sum(col("_cn")).over(wDesc))
      .withColumn("_cumS", sum(col("_cs")).over(wDesc))
      .filter(col("_cumN") >= col("_k"))
      .orderBy(col("_cell").desc).limit(1) // highest cell reaching rank k
      .select(col("_cell").as("_tc"),
              (col("_cumN") - col("_cn")).as("_nAbove"),
              (col("_cumS") - col("_cs")).as("_sAbove"),
              col("_k"))
    // phase 2: exact values inside the threshold cell only
    val wvDesc = Window.partitionBy(graft.functions.DimKey.one).orderBy(col("_v").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withStats
      .join(broadcast(thr), cellExpr.cast("long") === col("_tc"))
      .groupBy("_v", "_nAbove", "_sAbove", "_k")
      .agg(count(lit(1)).as("_vn"))
      .withColumn("_cumVN", sum(col("_vn")).over(wvDesc))
      .withColumn("_cumVS", sum(col("_v") * col("_vn")).over(wvDesc))
      .filter(col("_nAbove") + col("_cumVN") >= col("_k"))
      .orderBy(col("_v").desc).limit(1) // v* = k-th largest value
      .crossJoin(broadcast(stats))
      .select(col("_n").as("n_rows"), col("_total").as("total"),
              col("_k").as("n_top"),
              (col("_sAbove") + col("_cumVS") - col("_v") * col("_vn") +
                (col("_k") - (col("_nAbove") + col("_cumVN") - col("_vn")))
                  * col("_v")).as("top_sum"))
      .withColumn("share_ppm",
                  expr("CAST(CAST(top_sum AS DECIMAL(38,0)) * 1000000" +
                       " DIV total AS BIGINT)"))
  }

  /** Exact per-group rank (`_rank`, 1-based by (`valueCol`, `tieCols...`))
    * and group size (`_n`) WITHOUT sorting whole groups in one window
    * partition.
    *
    * The naive `row_number().over(partitionBy(group).orderBy(...))` is a
    * scale-killer when groups are low-cardinality (5 event types over a
    * 100 TB fact table = one task sorts 20 B rows). Here the total order is
    * decomposed: (1) rows quantize into `microBins` monotone value cells and
    * ONE combine-enabled aggregate counts per (group, cell); (2) a window
    * over the ≤ |groups|·microBins cell rollup yields each cell's preceding-
    * row count; (3) row_number runs per (group, CELL) — partitions of
    * ~1/microBins of a group — and the global rank is the cell offset plus
    * the within-cell rank. Exact integer ranks, identical to the naive
    * window, but the biggest sort is a microBins-th of a group.
    *
    * `valueCol` must be non-null numeric; ties break by `tieCols`.
    */
  def cellRank(df: DataFrame,
               groupCols: Seq[String],
               valueCol: String,
               tieCols: Seq[String],
               microBins: Int = 10000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Bounds PER GROUP (not global): groups whose value ranges differ by
    // orders of magnitude would otherwise collapse into a handful of
    // cells — e.g. three stacked metrics ranked in one pass (rfm), where
    // cents span 1e7 and day counts 1e2, would put every day-count row in
    // cell 0 and the "within-cell" sort would be the whole group again.
    // Output is IDENTICAL either way (the cell map only has to be
    // monotone + consistent within a group; ranks are exact regardless) —
    // this is purely the partition-size guarantee. Bounds relation is
    // group-count-sized → broadcast.
    val bounds =
      if (groupCols.isEmpty)
        df.agg(min(col(valueCol)).cast("double").as("_cr_mn"),
               max(col(valueCol)).cast("double").as("_cr_mx"))
      else
        df.groupBy(groupCols.map(col): _*)
          .agg(min(col(valueCol)).cast("double").as("_cr_mn"),
               max(col(valueCol)).cast("double").as("_cr_mx"))
    // monotone value→cell map (exactness needs only monotone + consistent)
    val rawCell = floor((col(valueCol).cast("double") - col("_cr_mn"))
      * lit(microBins.toDouble) / (col("_cr_mx") - col("_cr_mn")))
    val cell = when(col("_cr_mx") === col("_cr_mn"), lit(0L))
      .otherwise(least(greatest(rawCell, lit(0.0)), lit(microBins - 1.0)))
      .cast("long")
    val withCell = (if (groupCols.isEmpty) df.crossJoin(broadcast(bounds))
                    else df.join(broadcast(bounds), groupCols))
      .withColumn("_cr_cell", cell)
      .drop("_cr_mn", "_cr_mx")
    val gCols = groupCols.map(col)
    // With no group columns the cell rollup (≤ microBins rows) is the
    // sanctioned dimension-sized single-partition window — declare it via
    // DimKey.one so the plan has a non-empty partition spec (lint) while
    // keeping the one-hash-partition shape.
    val wCols =
      if (gCols.isEmpty) Seq(graft.functions.DimKey.one) else gCols
    val wCells = Window.partitionBy(wCols: _*).orderBy(col("_cr_cell"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wGroup = Window.partitionBy(wCols: _*)
    val offsets = withCell
      .groupBy((gCols :+ col("_cr_cell")): _*)
      .agg(count(lit(1)).as("_cr_cn"))
      .withColumn("_cr_prev", sum(col("_cr_cn")).over(wCells) - col("_cr_cn"))
      .withColumn("_cr_n", sum(col("_cr_cn")).over(wGroup))
      .drop("_cr_cn")
    val wInCell = Window
      .partitionBy(gCols :+ col("_cr_cell"): _*)
      .orderBy((col(valueCol) +: tieCols.map(col)): _*)
    withCell
      .join(offsets, groupCols :+ "_cr_cell")
      .withColumn("_rank", col("_cr_prev") + row_number().over(wInCell))
      .withColumn("_n", col("_cr_n"))
      .drop("_cr_cell", "_cr_prev", "_cr_n")
  }

  def equiDepthBins(df: DataFrame, c: String,
                    lo: Double, hi: Double,
                    bins: Int, microBins: Int = 10000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val raw = floor((col(c) - lit(lo)) * lit(microBins.toDouble) / lit(hi - lo))
    val micro = least(greatest(raw, lit(0.0)), lit(microBins - 1.0)).cast("long")
    val wCum = Window.partitionBy(graft.functions.DimKey.one).orderBy(col("micro"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(graft.functions.DimKey.one)
    df.filter(col(c).isNotNull)
      .groupBy(micro.as("micro"))
      .agg(count(lit(1)).as("n"))
      .withColumn("cum", sum(col("n")).over(wCum))
      .withColumn("total", sum(col("n")).over(wAll))
      .withColumn("bin", expr(s"least(((cum - n) * $bins) DIV total, ${bins - 1})"))
      .groupBy("bin")
      .agg(sum(col("n")).as("n_rows"),
           min(col("micro")).as("micro_min"),
           max(col("micro")).as("micro_max"))
      .withColumn("lo_edge",
                  lit(lo) + col("micro_min") * lit((hi - lo) / microBins))
  }

  /** Functional-dependency violation audit: for each candidate `lhs → rhs`
    * how many lhs groups exist, how many carry more than one distinct rhs
    * (the violations), and the worst fan-out. The schema-inference /
    * data-contract check ("is order → supplier really 1:1?") run BEFORE a
    * model assumes the dependency.
    *
    * Each FD is one two-level aggregate: Spark plans the distinct as a
    * partial (lhs, rhs) combine, so nothing fact-sized shuffles twice and
    * no group's rhs set ever materializes. NULL rhs is ignored (SQL
    * semantics: a NULL can't witness a violation); NULL lhs forms its own
    * group.
    */
  /** Exact weighted median per group (lower weighted median: the smallest
    * value v with 2·cumWeight(v) ≥ totalWeight) — the [[cellRank]] two-
    * phase decomposition carried over to weights, so low-cardinality
    * groups over a 100 TB fact never sort in one partition:
    *
    *  1. ONE combine-enabled aggregate rolls (group, micro-cell) weight
    *     sums; a window over the ≤ groups·microBins rollup finds each
    *     group's pivot cell (the first whose cumulative weight crosses
    *     half) and the weight landing before it.
    *  2. Only rows of the pivot cell re-aggregate per exact value
    *     (~1/microBins of a group), and the median is the first value
    *     whose offset + in-cell cumulative weight crosses half.
    *
    * Integer weights ⇒ the crossing test `2·cum ≥ W` is exact in any
    * engine. Output: group, `w_median`, `total_weight`.
    */
  def weightedMedian(df: DataFrame, groupCol: String, valueCol: String,
                     weightCol: String, microBins: Int = 10000): DataFrame =
    weightedQuantiles(df, groupCol, valueCol, weightCol, Seq(50), microBins)
      .select(col(groupCol), col("q_value").as("w_median"),
              col("total_weight"))

  /** Exact weighted quantile LADDER per group — [[weightedMedian]]
    * generalized to any percent list: for each p, the smallest value v
    * with 100·cumWeight(v) ≥ p·totalWeight. Same two-phase micro-cell
    * decomposition, one extra explode over the (tiny) percent list so
    * every rung rides the same two passes. Output: group, `q` (percent),
    * `q_value`, `total_weight`.
    */
  def weightedQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                        weightCol: String, percents: Seq[Int],
                        microBins: Int = 10000,
                        denom: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bounds = df.agg(min(col(valueCol)).cast("double").as("_mn"),
                        max(col(valueCol)).cast("double").as("_mx"))
    val rawCell = floor((col(valueCol).cast("double") - col("_mn"))
      * lit(microBins.toDouble) / (col("_mx") - col("_mn")))
    val cellExpr = when(col("_mx") === col("_mn"), lit(0L))
      .otherwise(least(greatest(rawCell, lit(0.0)), lit(microBins - 1.0)))
      .cast("long")
    val withCell = df.crossJoin(broadcast(bounds))
      .withColumn("_cell", cellExpr)
      .select(col(groupCol), col(valueCol), col(weightCol), col("_cell"))
    // DimKey.one rides along in every partition spec: a caller may pass a
    // LITERAL group ("whole corpus" curves); Spark 4's
    // EliminateWindowPartitions would strip the foldable key and leave an
    // accidental global window, while the declared-constant key survives
    // and keeps the plan shape identical for real group columns.
    val dimk = graft.functions.DimKey.one
    val wCum = Window.partitionBy(col(groupCol), dimk).orderBy(col("_cell"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wG = Window.partitionBy(col(groupCol), dimk)
    val pivots = withCell
      .groupBy(col(groupCol), col("_cell"))
      .agg(sum(col(weightCol)).as("_cw"))
      .withColumn("_cum", sum(col("_cw")).over(wCum))
      .withColumn("_W", sum(col("_cw")).over(wG))
      .select(col(groupCol), col("_cell"), col("_cw"), col("_cum"),
              col("_W"), explode(lit(percents.toArray)).as("q"))
      .filter(col("_cum") * denom >= col("q") * col("_W") &&
                (col("_cum") - col("_cw")) * denom < col("q") * col("_W"))
      .select(col(groupCol), col("q"), col("_cell"),
              (col("_cum") - col("_cw")).as("_before"), col("_W"))
    val wVal = Window.partitionBy(col(groupCol), col("q"), dimk)
      .orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withCell
      .join(broadcast(pivots), Seq(groupCol, "_cell"))
      .groupBy(col(groupCol), col("q"), col(valueCol))
      .agg(sum(col(weightCol)).as("_vw"),
           first(col("_before")).as("_before"), first(col("_W")).as("_W"))
      .withColumn("_vcum", col("_before") + sum(col("_vw")).over(wVal))
      .filter(col("_vcum") * denom >= col("q") * col("_W") &&
                (col("_vcum") - col("_vw")) * denom < col("q") * col("_W"))
      .select(col(groupCol), col("q"), col(valueCol).as("q_value"),
              col("_W").as("total_weight"))
  }

  def fdViolations(df: DataFrame, fds: Seq[(String, String)]): DataFrame = {
    require(fds.nonEmpty, "fdViolations: at least one (lhs, rhs) FD pair required")
    fds.map { case (lhs, rhs) =>
      df.groupBy(col(lhs))
        .agg(countDistinct(col(rhs)).as("_ndv"))
        .agg(count(lit(1)).as("n_lhs"),
             sum(when(col("_ndv") > 1, 1L).otherwise(0L)).as("n_violating"),
             max(col("_ndv")).as("max_fanout"))
        .select(lit(s"$lhs->$rhs").as("fd"), col("n_lhs"),
                col("n_violating"), col("max_fanout"))
        .withColumn("violation_ppm",
                    expr("n_violating * 1000000L DIV n_lhs"))
    }.reduce(_ unionByName _)
  }

  /** Scale-safe exact running sums over a value-ordered relation: for each
    * row, the cumulative (inclusive) sum of every column in `measures`
    * across all rows with a smaller-or-equal `valueCol` — the prefix-sum
    * primitive behind empirical CDFs and KS-style distribution distances.
    *
    * The naive `sum(m).over(orderBy(value))` is ONE task sorting the whole
    * relation. Here the [[cellRank]] decomposition applies to sums: rows
    * quantize into `microBins` monotone cells, one combine-enabled
    * aggregate produces per-cell totals, a window over the ≤ microBins
    * cell rollup yields each cell's preceding-cells total, and the
    * within-cell running sum runs per CELL partition; the global cumulative
    * is the cell prefix plus the within-cell running sum. Exact longs,
    * bit-identical to the naive window.
    *
    * `valueCol` must be distinct per row (value-grain input — aggregate
    * first), non-null, numeric; `measures` must be integral.
    */
  def cumSumByValue(df: DataFrame, valueCol: String,
                    measures: Seq[String],
                    microBins: Int = 10000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bounds = df.agg(min(col(valueCol)).cast("double").as("_cs_mn"),
                        max(col(valueCol)).cast("double").as("_cs_mx"))
    val rawCell = floor((col(valueCol).cast("double") - col("_cs_mn"))
      * lit(microBins.toDouble) / (col("_cs_mx") - col("_cs_mn")))
    val cell = when(col("_cs_mx") === col("_cs_mn"), lit(0L))
      .otherwise(least(greatest(rawCell, lit(0.0)), lit(microBins - 1.0)))
      .cast("long")
    val withCell = df.crossJoin(broadcast(bounds))
      .withColumn("_cs_cell", cell)
      .drop("_cs_mn", "_cs_mx")
    // The cell rollup is ≤ microBins rows — the sanctioned dimension-sized
    // single-partition window (declared via DimKey.one for the lint).
    val wCells = Window.partitionBy(graft.functions.DimKey.one)
      .orderBy(col("_cs_cell"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = withCell
      .groupBy(col("_cs_cell"))
      .agg(measures.map(m => sum(col(m)).as(s"_cs_t_$m")).head,
           measures.map(m => sum(col(m)).as(s"_cs_t_$m")).tail: _*)
      .select(col("_cs_cell") +: measures.map(m =>
        (sum(col(s"_cs_t_$m")).over(wCells) - col(s"_cs_t_$m"))
          .as(s"_cs_p_$m")): _*)
    val wInCell = Window.partitionBy(col("_cs_cell")).orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    measures.foldLeft(withCell.join(offsets, Seq("_cs_cell"))) {
      (acc, m) =>
        acc.withColumn(s"cum_$m",
                       col(s"_cs_p_$m") + sum(col(m)).over(wInCell))
          .drop(s"_cs_p_$m")
    }.drop("_cs_cell")
  }

  /** Functional-dependency error profiling for candidate A → B pairs: the
    * standard g3 measure — the minimum number of rows to delete so the FD
    * holds, = n − Σ over A-groups of the majority-B count — in exact ppm,
    * plus the violating-group count. The schema-discovery complement of
    * inclusion-dependency profiling (q538): INDs propose foreign keys,
    * FDs propose normalization/defect rules. One (A, B) rollup per
    * candidate (combine-enabled, two-column projection pushed to the
    * scan), then group-grain windows.
    */
  def fdStrength(df: DataFrame,
                 candidates: Seq[(String, String)]): DataFrame = {
    require(candidates.nonEmpty,
            "fdStrength: at least one (a, b) candidate FD required")
    candidates.map { case (a, b) =>
      val ab = df.groupBy(col(a).as("_a"), col(b).as("_b"))
        .agg(count(lit(1)).as("_n"))
      ab.groupBy(col("_a"))
        .agg(sum(col("_n")).as("_ng"), max(col("_n")).as("_maj"),
             count(lit(1)).as("_nb"))
        .agg(lit(s"$a->$b").as("fd"),
             sum(col("_ng")).as("n_rows"),
             count(lit(1)).as("n_lhs_groups"),
             sum(when(col("_nb") > 1, 1L).otherwise(0L))
               .as("n_violating_groups"),
             (sum(col("_ng")) - sum(col("_maj"))).as("g3_rows"))
        .withColumn("g3_ppm", expr("g3_rows * 1000000L DIV n_rows"))
    }.reduce(_.unionByName(_))
  }

  /** Physical-encoding advisor: per column, the exact inputs a columnar
    * writer's encoding chooser needs — row count, NDV (dictionary size),
    * and the RLE run count under the table's clustered write order
    * (runs counted WITHIN `clusterCol` groups ordered by `orderCol`, the
    * distributed formulation: run boundaries never cross a cluster key,
    * so no global sort and no single-partition window). The column value
    * itself is the final sort tiebreaker — (cluster, order) need not be
    * unique, and with equal values grouped the run count is well-defined
    * under ANY tie order. dict_ppm = ndv/n, rle_ppm = runs/n — lower is
    * more compressible.
    */
  def encodingAdvisor(df: DataFrame, clusterCol: String, orderCol: String,
                      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "encodingAdvisor: at least one column required")
    cols.map { c =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(clusterCol)).orderBy(col(orderCol), col(c))
      df.select(col(clusterCol), col(orderCol), col(c))
        .withColumn("_prev", lag(col(c), 1).over(w))
        .withColumn("_brk",
          when(col("_prev").isNull || !(col("_prev") <=> col(c)), 1L)
            .otherwise(0L))
        .agg(lit(c).as("column_name"),
             count(lit(1)).as("n_rows"),
             countDistinct(col(c)).as("ndv"),
             sum(col("_brk")).as("n_runs"))
        .withColumn("dict_ppm", expr("ndv * 1000000L DIV n_rows"))
        .withColumn("rle_ppm", expr("n_runs * 1000000L DIV n_rows"))
    }.reduce(_.unionByName(_))
  }
}
