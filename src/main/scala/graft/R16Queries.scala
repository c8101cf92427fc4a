package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Round-12 queries (q762+). Separate object: the earlier query objects'
  * map builders sit near the JVM 64 KB method-bytecode ceiling, so new
  * surface accretes here and chains into `SparkEntry.queries` /
  * `oracleSql`.
  */
object R16Queries {

  private def rd(s: SparkSession, dir: String, t: String): DataFrame =
    Tables.read(s, dir, t)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q762_planned_lsh" -> ((s, dir) => {
      // LSH banding AUTOTUNING as an operator (r11 verdict task 3):
      // Dedup.planBands picks the 12-component banding whose analytic
      // collision probability at the target Jaccard (τ = 0.5) clears the
      // recall floor (800k ppm) with the fewest bands — here (6, 2),
      // because the default (4, 3) knees at only 413,820 ppm — and
      // bandingRecallCompare DISCLOSES the measured recall delta between
      // the two: verified-pair counts plus each config's pairs the other
      // misses, computed from ONE shared shingle cache (the expensive
      // stage never runs twice). The oracle recomputes the S-curve with
      // its own truncating-DIV arithmetic and re-derives the planner's
      // argmin independently — a cross-engine check of the Scala planner
      // itself, not just the pair pipelines.
      graft.operators.Dedup.bandingRecallCompare(
        rd(s, dir, "documents"), "doc_id", "text")
    }),
    "q763_incremental_dedup_table" -> ((s, dir) => {
      // Incremental dedup against PERSISTED signature state (r11 verdict
      // task 4): the standing corpus's MinHash signatures are published
      // once as a VersionedTable partitioned on _sig_bucket =
      // pmod(hash(band_key), 64); the delta run derives its own band
      // keys, probes ONLY the touched bucket directories (the file
      // LISTING is pruned, not just the scan — the cost q739 pays to
      // recompute the corpus pipeline per run disappears), and verifies
      // candidates from the doc-bucketed shingle side table (split
      // layout, r15 — only colliding docs' buckets are read). Output is
      // row-identical to q739's self-contained delta-vs-corpus join —
      // the oracle IS q739's oracle.
      val d = rd(s, dir, "documents")
      // ONE stable per-(user × corpus-dir) root, republished into on every
      // invocation (ADVICE r12: a fresh createTempDirectory per run leaked
      // several full signature tables into /tmp per bench pass; ADVICE
      // r13: a FIXED shared name let concurrent runs at different SFs
      // interleave publish/vacuum on one root). signatureTable vacuums
      // superseded versions on republish, so repeated runs leave bounded
      // state: the live version plus one predecessor.
      val root = graft.operators.Dedup.sigRoot("q763", dir)
      graft.operators.Dedup.signatureTable(
        s, d.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", root)
      graft.operators.Dedup.incrementalPairs(
        s, d.filter(col("doc_id") % 3 === 0), root, "doc_id", "text")
    }),
    "q764_decision_stump" -> ((s, dir) => {
      // Decision-stump induction (CART depth 1) per brand: the best
      // single threshold on price minimizing weighted Gini impurity of
      // the return-flag label, EXACT — per-split class counts are two
      // prefix-sum windows over the (brand, price)-aggregated cells and
      // impurity is integer ppm (n²·10⁶ fits int64 to ~3·10⁶ rows per
      // group; beyond that, divide per side first). The feature-split
      // primitive of tree training as one exchange + two windows — never
      // a per-split pass. Tie-break: smallest split value.
      import org.apache.spark.sql.expressions.Window
      val li = Tables.spread(s, rd(s, dir, "lineitem"))
        .join(rd(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("brand"),
                expr("CAST(floor(l_extendedprice * 100) AS BIGINT)")
                  .as("cents"),
                when(col("l_returnflag") === "R", 1L).otherwise(0L).as("isr"))
      val cells = li.groupBy(col("brand"), col("cents"))
        .agg(count(lit(1)).as("cnt"), sum(col("isr")).as("ca"))
      val w = Window.partitionBy(col("brand")).orderBy(col("cents"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy(col("brand"))
      cells
        .withColumn("n_l", sum(col("cnt")).over(w))
        .withColumn("a_l", sum(col("ca")).over(w))
        .withColumn("n", sum(col("cnt")).over(tot))
        .withColumn("a", sum(col("ca")).over(tot))
        .filter(col("n_l") < col("n")) // right side non-empty
        .withColumn("n_r", col("n") - col("n_l"))
        .withColumn("a_r", col("a") - col("a_l"))
        .withColumn("b_l", col("n_l") - col("a_l"))
        .withColumn("b_r", col("n_r") - col("a_r"))
        .withColumn("g_l", expr(
          "(n_l * n_l - a_l * a_l - b_l * b_l) * 1000000L DIV (n_l * n_l)"))
        .withColumn("g_r", expr(
          "(n_r * n_r - a_r * a_r - b_r * b_r) * 1000000L DIV (n_r * n_r)"))
        .withColumn("gini_ppm", expr("(n_l * g_l + n_r * g_r) DIV n"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("brand"))
            .orderBy(col("gini_ppm"), col("cents"))))
        .filter(col("rn") === 1)
        .select(col("brand"), col("cents").as("split_cents"),
                col("n_l").as("n_left"), col("n_r").as("n_right"),
                col("gini_ppm"))
    }),
    "q765_mann_whitney" -> ((s, dir) => {
      // Mann–Whitney rank-sum U per brand (returned vs kept lineitem
      // prices), EXACT with ties: doubled midranks keep everything
      // integer — midrank2(v) = 2·cnt(<v) + cnt(=v) + 1, so
      // U2 = Σ_A midrank2 − n_A(n_A+1) is twice the tie-averaged U.
      // Both directions emitted; U2_A + U2_B = 2·n_A·n_B is the pairing
      // identity (pinned as a zero column so either engine's drift
      // fails the hash). One cell rollup + one prefix window — the
      // nonparametric two-sample test at corpus scale, no ranks ever
      // materialized per row.
      import org.apache.spark.sql.expressions.Window
      val li = Tables.spread(s, rd(s, dir, "lineitem"))
        .join(rd(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("brand"),
                expr("CAST(floor(l_extendedprice * 100) AS BIGINT)")
                  .as("cents"),
                when(col("l_returnflag") === "R", 1L).otherwise(0L).as("isr"))
      val cells = li.groupBy(col("brand"), col("cents"))
        .agg(count(lit(1)).as("cnt"), sum(col("isr")).as("ca"))
      val w = Window.partitionBy(col("brand")).orderBy(col("cents"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells
        .withColumn("n_le", sum(col("cnt")).over(w))
        .withColumn("mid2",
          lit(2L) * (col("n_le") - col("cnt")) + col("cnt") + 1L)
        .groupBy(col("brand"))
        .agg(sum(col("ca")).as("n_a"),
             sum(col("cnt") - col("ca")).as("n_b"),
             sum(col("ca") * col("mid2")).as("ra2"),
             sum((col("cnt") - col("ca")) * col("mid2")).as("rb2"))
        .select(col("brand"), col("n_a"), col("n_b"),
                (col("ra2") - col("n_a") * (col("n_a") + 1L)).as("u2_a"),
                (col("rb2") - col("n_b") * (col("n_b") + 1L)).as("u2_b"))
        .withColumn("pair_check",
          col("u2_a") + col("u2_b") - lit(2L) * col("n_a") * col("n_b"))
    }),
    "q766_kendall_tau" -> ((s, dir) => {
      // Kendall rank correlation per nation between a customer's account
      // balance and their total ordered value: exact concordant /
      // discordant / tie pair counts from a nation-keyed self-join
      // (pair volume is per-nation n², bounded by the dimension — never
      // a corpus cross product), tau-a in signed ppm (both engines
      // truncate toward zero, the q760 contract). The rank-agreement
      // primitive behind feature screening at scale.
      val ords = rd(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
               .as("y"))
      val pts = rd(s, dir, "customer")
        .join(ords, col("c_custkey") === col("o_custkey"))
        .select(col("c_nationkey").as("nation"),
                col("c_custkey").as("k"),
                expr("CAST(floor(c_acctbal * 100) AS BIGINT)").as("x"),
                col("y"))
        .localCheckpoint(false)
      pts.as("a")
        .join(pts.as("b"),
              col("a.nation") === col("b.nation") && col("a.k") < col("b.k"))
        .select(col("a.nation").as("nation"),
                ((col("a.x") - col("b.x")) > 0).cast("int").minus(
                  ((col("a.x") - col("b.x")) < 0).cast("int")).as("sx"),
                ((col("a.y") - col("b.y")) > 0).cast("int").minus(
                  ((col("a.y") - col("b.y")) < 0).cast("int")).as("sy"))
        .groupBy(col("nation"))
        .agg(count(lit(1)).as("n_pairs"),
             sum(when(col("sx") * col("sy") === 1, 1L).otherwise(0L))
               .as("concordant"),
             sum(when(col("sx") * col("sy") === -1, 1L).otherwise(0L))
               .as("discordant"),
             sum(when(col("sx") === 0 || col("sy") === 0, 1L).otherwise(0L))
               .as("tied"))
        .withColumn("tau_a_ppm", expr(
          "CASE WHEN (concordant - discordant) >= 0" +
            " THEN (concordant - discordant) * 1000000L DIV n_pairs" +
            " ELSE -((discordant - concordant) * 1000000L DIV n_pairs)" +
            " END"))
    }),
    "q767_cusum_alarms" -> ((s, dir) => {
      // One-sided CUSUM change detection per supplier over the monthly
      // quantity series: S_t = max(0, S_{t−1} + (x_t − μ)) has the
      // closed form S_t = cum_t − min(0, cum_1..cum_t), so the whole
      // sequential detector is two windows (running sum, running min) —
      // no fold at all. μ is the per-supplier series mean (truncating
      // DIV), alarm threshold h = μ (scale-free); emitted: series
      // length, peak CUSUM, and the first alarm month (−1 when the
      // series never drifts). The drift detector a feature-store would
      // run per key at 100 TB, in exactly one exchange.
      import org.apache.spark.sql.expressions.Window
      val dem = Tables.spread(s, rd(s, dir, "lineitem"))
        .groupBy(col("l_suppkey").as("k"),
                 ((year(col("l_shipdate")) - 1992) * 12 +
                   month(col("l_shipdate"))).cast("long").as("mi"))
        .agg(sum(expr("CAST(l_quantity AS BIGINT)")).as("x"))
      val seq0 = dem
        .withColumn("mu", expr("sum(x) OVER (PARTITION BY k) DIV" +
                               " count(1) OVER (PARTITION BY k)"))
        .withColumn("y", col("x") - col("mu"))
      val wo = Window.partitionBy(col("k")).orderBy(col("mi"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      seq0
        .withColumn("cum", sum(col("y")).over(wo))
        .withColumn("s", col("cum") - least(lit(0L), min(col("cum")).over(wo)))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_months"),
             max(col("s")).as("max_cusum"),
             coalesce(min(when(col("s") >= col("mu") && col("mu") > 0,
                               col("mi"))), lit(-1L)).as("first_alarm_mi"))
    }),
    "q768_bh_fdr" -> ((s, dir) => {
      // Benjamini–Hochberg FDR screening (α = 1/20) of per-supplier
      // demand anomalies: each supplier's p-value is the exact-integer
      // Chebyshev bound P(|mean_k − μ| ≥ t) ≤ σ²/(n_k·t²) against the
      // global monthly-demand distribution (a DISTRIBUTION-FREE bound —
      // honest without any normality story), then the step-up rule
      // rejects ranks r ≤ K where K = max r with p_(r)·m·20 ≤ 10⁶·r,
      // all in cross-multiplied integers. Multiple-testing control as
      // two aggregates + one rank window — the screen a metric platform
      // runs over millions of series; truncation points mirrored
      // verbatim in the oracle.
      import org.apache.spark.sql.expressions.Window
      val dem = Tables.spread(s, rd(s, dir, "lineitem"))
        .groupBy(col("l_suppkey").as("k"),
                 ((year(col("l_shipdate")) - 1992) * 12 +
                   month(col("l_shipdate"))).cast("long").as("mi"))
        .agg(sum(expr("CAST(l_quantity AS BIGINT)")).as("x"))
        .localCheckpoint(false)
      val glob = broadcast(dem.agg(
        count(lit(1)).as("nn"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx")))
      val per = dem.groupBy(col("k"))
        .agg(count(lit(1)).as("n_k"), sum(col("x")).as("s_k"))
        .crossJoin(glob)
        .withColumn("g", expr("sx DIV nn"))
        .withColumn("v0", expr("sxx DIV nn - g * g"))
        .withColumn("t", abs(expr("s_k DIV n_k") - col("g")))
        .withColumn("p_ppm", expr(
          "CASE WHEN t = 0 THEN 1000000" +
            " ELSE least(1000000L, v0 * 1000000L DIV (n_k * t * t)) END"))
      val m = Window.partitionBy(graft.functions.DimKey.one)
      val ranked = per
        .withColumn("r", row_number().over(
          Window.partitionBy(graft.functions.DimKey.one)
            .orderBy(col("p_ppm"), col("k"))))
        .withColumn("m", count(lit(1)).over(m))
        .withColumn("okr",
          when(col("p_ppm") * col("m") * 20L <= lit(1000000L) * col("r"),
               col("r")))
      ranked
        .withColumn("bh_k", max(col("okr")).over(m))
        .select(col("k"), col("p_ppm"), col("r").cast("long").as("r"),
                when(col("r") <= coalesce(col("bh_k"), lit(0)), 1L)
                  .otherwise(0L).as("rejected"))
    }),
    "q769_ks_two_sample" -> ((s, dir) => {
      // Two-sample Kolmogorov–Smirnov per source: D = max_v |F_en(v) −
      // F_other(v)| over document lengths, EXACT — the numerator
      // |cumA·n_B − cumB·n_A| never forms a fraction until the final ppm
      // report, so the max is over integers and engine-identical. One
      // (source, length) rollup + one prefix window; the distribution-
      // drift gate a corpus pipeline runs per slice. Sources missing
      // either sample are excluded (D undefined).
      import org.apache.spark.sql.expressions.Window
      val cells = rd(s, dir, "documents")
        .select(col("source"), length(col("text")).cast("long").as("v"),
                when(col("lang") === "en", 1L).otherwise(0L).as("isa"))
        .groupBy(col("source"), col("v"))
        .agg(sum(col("isa")).as("ca"),
             sum(lit(1L) - col("isa")).as("cb"))
      val tot = Window.partitionBy(col("source"))
      val wo = Window.partitionBy(col("source")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells
        .withColumn("n_a", sum(col("ca")).over(tot))
        .withColumn("n_b", sum(col("cb")).over(tot))
        .filter(col("n_a") > 0 && col("n_b") > 0)
        .withColumn("cum_a", sum(col("ca")).over(wo))
        .withColumn("cum_b", sum(col("cb")).over(wo))
        .withColumn("dnum",
          abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a")))
        .groupBy(col("source"))
        .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
             max(col("dnum")).as("d_num"))
        .withColumn("d_ppm", expr("d_num * 1000000L DIV (n_a * n_b)"))
    }),
    "q770_theil_sen" -> ((s, dir) => {
      // Theil–Sen robust trend per brand: the MEDIAN of all pairwise
      // slopes of the monthly demand series — slopes in truncating
      // milli-units (negative division toward zero, the q760 contract)
      // and the median by the q731 discrete convention (rank ⌈n/2⌉,
      // lower-of-middle, never interpolated). Pair volume is per-series
      // months² (≤ 84² per key) — bounded by the calendar, not the data;
      // the robust-regression answer to one contaminated month.
      import org.apache.spark.sql.expressions.Window
      val dem = rd(s, dir, "lineitem")
        .join(rd(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"),
                 ((year(col("l_shipdate")) - 1992) * 12 +
                   month(col("l_shipdate"))).cast("long").as("mi"))
        .agg(sum(expr("CAST(l_quantity AS BIGINT)")).as("y"))
        .localCheckpoint(false)
      val sl = dem.as("a")
        .join(dem.as("b"),
              col("a.brand") === col("b.brand") && col("a.mi") < col("b.mi"))
        .select(col("a.brand").as("brand"),
                expr("CASE WHEN (b.y - a.y) >= 0" +
                     " THEN (b.y - a.y) * 1000 DIV (b.mi - a.mi)" +
                     " ELSE -((a.y - b.y) * 1000 DIV (b.mi - a.mi)) END")
                  .as("slope_milli"))
      val w = Window.partitionBy(col("brand")).orderBy(col("slope_milli"))
      sl.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("brand"))))
        .filter(col("rn") === expr("(n + 1) DIV 2"))
        .groupBy(col("brand"))
        .agg(max(col("n")).as("n_pairs"),
             max(col("slope_milli")).as("median_slope_milli"))
    }),
    "q771_isotonic_fit" -> ((s, dir) => {
      // Isotonic (nondecreasing) regression of the monthly demand series
      // per brand via the MINIMAX identity fit_i = max_{j≤i} min_{k≥i}
      // mean(y[j..k]) — the closed form that turns PAV's sequential
      // pool-adjacent-violators loop into pure relational algebra: one
      // segment-mean table from prefix sums (segments² per key, bounded
      // by the calendar), one suffix-min window over k, one max-per-i
      // rollup. Means in truncating milli-units (the pinned arithmetic;
      // monotonicity of the fit survives truncation because max/min of
      // identically-truncated values preserve order). The calibration
      // primitive (probability calibration, monotone scoring) at scale —
      // distributed across keys, zero sequential folds.
      import org.apache.spark.sql.expressions.Window
      val dem = rd(s, dir, "lineitem")
        .join(rd(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"),
                 ((year(col("l_shipdate")) - 1992) * 12 +
                   month(col("l_shipdate"))).cast("long").as("mi"))
        .agg(sum(expr("CAST(l_quantity AS BIGINT)")).as("y"))
      val wi = Window.partitionBy(col("brand")).orderBy(col("mi"))
      val idx = dem
        .withColumn("i", row_number().over(wi).cast("long"))
        .withColumn("p", sum(col("y")).over(
          wi.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .localCheckpoint(false)
      val seg = idx.as("a")
        .join(idx.as("b"),
              col("a.brand") === col("b.brand") && col("a.i") <= col("b.i"))
        .select(col("a.brand").as("brand"), col("a.i").as("j"),
                col("b.i").as("k"),
                expr("(b.p - a.p + a.y) * 1000 DIV (b.i - a.i + 1)")
                  .as("avg_milli"))
      val sfx = Window.partitionBy(col("brand"), col("j"))
        .orderBy(col("k").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      seg
        .withColumn("s", min(col("avg_milli")).over(sfx))
        .groupBy(col("brand"), col("k").as("i"))
        .agg(max(col("s")).as("fit_milli"))
        .join(idx.select(col("brand"), col("i"), col("mi"), col("y")),
              Seq("brand", "i"))
        .select(col("brand"), col("mi"), col("y"), col("fit_milli"))
    }),
    "q772_lis_demand" -> ((s, dir) => {
      // Longest nondecreasing subsequence of each brand's monthly demand
      // series — "how many months can you keep while claiming demand
      // never fell": the O(n²) DP as ONE aggregate() fold with parallel
      // (ys, bests) list state per key (the q734 machinery — sequential
      // by nature, distributed ACROSS keys; series length is calendar-
      // bounded so the state is ≤84 longs). Oracle = per-key recursive
      // CTE with LIST state, the established multi-field-fold dialect.
      val dem = rd(s, dir, "lineitem")
        .join(rd(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"),
                 ((year(col("l_shipdate")) - 1992) * 12 +
                   month(col("l_shipdate"))).cast("long").as("mi"))
        .agg(sum(expr("CAST(l_quantity AS BIGINT)")).as("y"))
      dem.groupBy(col("brand"))
        .agg(count(lit(1)).as("n_months"),
             sort_array(collect_list(struct(col("mi"), col("y"))))
               .as("arr"))
        .withColumn("st", expr(LisFoldSpark))
        .select(col("brand"), col("n_months"),
                expr("coalesce(array_max(st.bs), 0L)").as("lis_len"))
    }),
    "q773_minhash_estimate_error" -> ((s, dir) => {
      // MinHash estimator CALIBRATION audit: for every τ-verified near-dup
      // pair, how many of the 12 signature components agree (the unbiased
      // Jaccard estimate m/12) vs the EXACT Jaccard — rolled up per
      // agreement count, so the output is the measured calibration curve
      // of the signature family on this corpus (conditioned on verified
      // pairs — the population the pipeline acts on). The per-component
      // minima come from MinHashBands with rows = 1 (band key = md5 of a
      // single component, so key equality == component equality); the
      // pair relation is the production LSH pipeline itself.
      val d = rd(s, dir, "documents")
      val pairs = graft.operators.Dedup
        .minhashLshPairs(d, "doc_id", "text")
        .localCheckpoint(false)
      // r15 optimization (guide §2.3 project/filter early): the
      // 12-component signature chain (tokenize → shingle → 12 interpreted
      // md5 folds) only ever reaches the result through the two joins on
      // pair doc ids — computing it for the WHOLE corpus ran the most
      // expensive expression in the query on ~60× more docs than the
      // ~verified-pair population needs. Semi-join the corpus down to
      // pair participants first; join results are identical (inner joins
      // on pair ids).
      val pairIds = pairs.select(col("doc_a").as("doc_id"))
        .unionByName(pairs.select(col("doc_b").as("doc_id")))
        .distinct()
      // r16: the shingle stage reads the SHARED per-JVM materialization
      // (row-identical to the inline shingles(tokens(text), 3) build);
      // only the 12 single-component minima are computed here, on the
      // semi-joined pair participants.
      val comps = graft.operators.Dedup
        .shingleRelationOf(d, "doc_id", "text", 3)
        .withColumnRenamed("_id", "doc_id")
        .join(pairIds, Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
                graft.functions.MinHashBands(col("_shs"), 12, 1).as("cps"))
      pairs
        .join(comps.select(col("doc_id").as("doc_a"), col("cps").as("ca")),
              "doc_a")
        .join(comps.select(col("doc_id").as("doc_b"), col("cps").as("cb")),
              "doc_b")
        .withColumn("m_agree", expr(
          "CAST(size(filter(zip_with(ca, cb, (x, y) -> x = y), b -> b))" +
            " AS BIGINT)"))
        .withColumn("exact_ppm", expr("overlap * 1000000L DIV union_size"))
        .groupBy(col("m_agree"))
        .agg(count(lit(1)).as("n_pairs"),
             expr("sum(exact_ppm) DIV count(1)").as("avg_exact_ppm"))
        .withColumn("est_ppm", expr("m_agree * 1000000L DIV 12"))
    }),
    "q774_dedup_yield_curve" -> ((s, dir) => {
      // Dedup aggressiveness dial: sweep the verification threshold τ
      // over ONE banded-candidate relation (the expensive signature +
      // candidate stage runs once; the five thresholds are a broadcast
      // cross join over the overlap numbers) and report pairs kept and
      // docs removed (SemDeDup higher-id dominance) per τ, with removal
      // share in ppm of the corpus. The yield-curve disclosure next to
      // q712's band sweep — what a data lead reads before choosing τ.
      import s.implicits._
      val d = rd(s, dir, "documents")
      val cand = graft.operators.Dedup
        .candidatesWithOverlapCached(d, "doc_id", "text", 3, 4, 3)
      val taus = Seq(30L, 40L, 50L, 60L, 70L).toDF("tau_pct")
      val nd = broadcast(d.agg(count(lit(1)).as("_nd")))
      cand.crossJoin(broadcast(taus))
        .filter(col("overlap") * 100 >= col("union_size") * col("tau_pct"))
        .groupBy(col("tau_pct"))
        .agg(count(lit(1)).as("n_pairs"),
             countDistinct(col("doc_b")).as("n_removed"))
        .crossJoin(nd)
        .withColumn("removed_ppm", expr("n_removed * 1000000L DIV _nd"))
        .drop("_nd")
    }),
    "q775_acf_lags" -> ((s, dir) => {
      // Autocorrelation at lags 1–4 per brand over the monthly demand
      // series, exact signed ppm: r_k = Σ dev_t·dev_{t+k} / Σ dev² with
      // the mean and the final ratio in truncating integer arithmetic
      // (sign-split division — the q760 contract). Lag alignment by the
      // series INDEX (row_number), so calendar gaps don't silently zero
      // a lag; one self-join on (brand, i+k), lag list broadcast. The
      // seasonality screen feeding model choice (q729 Holt–Winters /
      // q759 ratio-to-MA) — calendar-bounded work per key.
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val dem = rd(s, dir, "lineitem")
        .join(rd(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"),
                 ((year(col("l_shipdate")) - 1992) * 12 +
                   month(col("l_shipdate"))).cast("long").as("mi"))
        .agg(sum(expr("CAST(l_quantity AS BIGINT)")).as("y"))
      val wi = Window.partitionBy(col("brand")).orderBy(col("mi"))
      val idx = dem
        .withColumn("i", row_number().over(wi).cast("long"))
        .withColumn("m", expr("sum(y) OVER (PARTITION BY brand)" +
                              " DIV count(1) OVER (PARTITION BY brand)"))
        .withColumn("dev", col("y") - col("m"))
        .localCheckpoint(false)
      val den = idx.groupBy(col("brand"))
        .agg(sum(col("dev") * col("dev")).as("den"))
      val lags = Seq(1L, 2L, 3L, 4L).toDF("lag")
      idx.as("a")
        .crossJoin(broadcast(lags))
        .join(idx.as("b"),
              col("a.brand") === col("b.brand") &&
                col("b.i") === col("a.i") + col("lag"))
        .groupBy(col("a.brand").as("brand"), col("lag"))
        .agg(count(lit(1)).as("n_terms"),
             sum(col("a.dev") * col("b.dev")).as("num"))
        .join(den, Seq("brand"))
        .withColumn("acf_ppm", expr(
          "CASE WHEN den = 0 THEN 0L WHEN num >= 0" +
            " THEN num * 1000000L DIV den" +
            " ELSE -((-num) * 1000000L DIV den) END"))
        .select("brand", "lag", "n_terms", "acf_ppm")
    }),
    "q776_runs_test" -> ((s, dir) => {
      // Wald–Wolfowitz runs census per brand: months above vs below the
      // discrete median (q731 convention; exact-median ties excluded,
      // the classic treatment) and the number of RUNS in series order —
      // too few runs = trending/clustered, too many = oscillating. The
      // change-flag cumulative-sum machinery (q733) over one window
      // pass; a distribution-free randomness screen per key.
      import org.apache.spark.sql.expressions.Window
      val dem = rd(s, dir, "lineitem")
        .join(rd(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"),
                 ((year(col("l_shipdate")) - 1992) * 12 +
                   month(col("l_shipdate"))).cast("long").as("mi"))
        .agg(sum(expr("CAST(l_quantity AS BIGINT)")).as("y"))
        .localCheckpoint(false)
      val wm = Window.partitionBy(col("brand")).orderBy(col("y"), col("mi"))
      val med = dem
        .withColumn("rn", row_number().over(wm))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("brand"))))
        .filter(col("rn") === expr("(n + 1) DIV 2"))
        .select(col("brand"), col("y").as("med"))
      val wo = Window.partitionBy(col("brand")).orderBy(col("mi"))
      dem.join(broadcast(med), Seq("brand"))
        .filter(col("y") =!= col("med"))
        .withColumn("abv", when(col("y") > col("med"), 1L).otherwise(0L))
        .withColumn("chg",
          when(lag(col("abv"), 1).over(wo).isNull ||
                 lag(col("abv"), 1).over(wo) =!= col("abv"), 1L)
            .otherwise(0L))
        .groupBy(col("brand"))
        .agg(sum(col("abv")).as("n_above"),
             sum(lit(1L) - col("abv")).as("n_below"),
             sum(col("chg")).as("n_runs"))
    }),
    "q777_benford_tvd" -> ((s, dir) => {
      // Benford first-digit audit of order totals: observed digit shares
      // vs the Benford expectation log₁₀(1+1/d) pinned as integer ppm
      // CONSTANTS (the irrational values never enter either engine's
      // arithmetic), deviation per digit, and the total-variation
      // distance Σ|obs−exp|/2 as a summary column riding every row —
      // the books-cooked / synthetic-data smell test in one aggregate
      // plus a 9-row window.
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val exp9 = Seq(301030L, 176091L, 124939L, 96910L, 79181L,
                     66947L, 57992L, 51153L, 45757L)
      val d = rd(s, dir, "orders")
        .select(expr("CAST(substring(CAST(CAST(floor(o_totalprice * 100)" +
                     " AS BIGINT) AS STRING), 1, 1) AS BIGINT)").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
      val expDf = broadcast(
        exp9.zipWithIndex.map { case (e, i) => (i + 1L, e) }
          .toDF("digit", "exp_ppm"))
      val w = Window.partitionBy(graft.functions.DimKey.one)
      d.crossJoin(broadcast(d.agg(sum(col("n_obs")).as("n"))))
        .withColumn("obs_ppm", expr("n_obs * 1000000L DIV n"))
        .join(expDf, Seq("digit"))
        .withColumn("dev_ppm", abs(col("obs_ppm") - col("exp_ppm")))
        .withColumn("_tvd2", sum(col("dev_ppm")).over(w))
        .withColumn("tvd_ppm", expr("_tvd2 DIV 2"))
        .select("digit", "n_obs", "obs_ppm", "exp_ppm", "dev_ppm", "tvd_ppm")
    }),
    "q778_null_join_contract" -> ((s, dir) => {
      // Null-key join CONTRACT: on deterministically-nulled keys, `=`
      // drops every NULL row while the null-safe operator (Spark `<=>`,
      // oracle IS NOT DISTINCT FROM) matches NULL with NULL as a cross
      // product — the identity n_nullsafe = n_eq + n_null_a·n_null_b is
      // emitted as a zero check column, so either engine drifting on
      // null-join semantics fails the hash (the join-side companion to
      // q657's NOT IN NULL pin). Samples keep the null×null block tiny.
      val a = rd(s, dir, "orders").filter(col("o_orderkey") % 101 === 0)
        .select(expr("IF(o_orderkey % 7 = 0, CAST(NULL AS BIGINT)," +
                     " o_orderkey % 100)").as("ka"))
      val b = rd(s, dir, "orders").filter(col("o_orderkey") % 103 === 0)
        .select(expr("IF(o_orderkey % 5 = 0, CAST(NULL AS BIGINT)," +
                     " o_orderkey % 100)").as("kb"))
      val eq = a.join(b, col("ka") === col("kb"))
        .agg(count(lit(1)).as("n_eq"))
      val ns = a.join(b, col("ka") <=> col("kb"))
        .agg(count(lit(1)).as("n_nullsafe"))
      val na = a.filter(col("ka").isNull).agg(count(lit(1)).as("n_null_a"))
      val nb = b.filter(col("kb").isNull).agg(count(lit(1)).as("n_null_b"))
      eq.crossJoin(broadcast(ns)).crossJoin(broadcast(na))
        .crossJoin(broadcast(nb))
        .withColumn("identity_check",
          col("n_nullsafe") - col("n_eq") - col("n_null_a") * col("n_null_b"))
    }),
    "q779_soft_dedup_weight" -> ((s, dir) => {
      // Soft dedup by cluster-inverse weighting: instead of dropping
      // near-duplicates, each doc is weighted 1/cluster_size (ppm,
      // truncating) so a 5-copy cluster contributes one doc's worth of
      // training mass — the gentler alternative to keepCanonical when
      // duplicates carry signal. Rolled up per cluster size: clusters,
      // docs, weight, and each size's share of the EFFECTIVE corpus;
      // singletons (docs in no pair) appear as size 1. Cluster labels
      // from the production clusterPairs (min-label CC).
      val d = rd(s, dir, "documents")
      val pairs = graft.operators.Dedup.minhashLshPairs(d, "doc_id", "text")
      val cl = graft.operators.Dedup.clusterPairs(pairs)
        .localCheckpoint(false)
      val nd = broadcast(d.agg(count(lit(1)).as("_nd")))
      val clusteredRows = cl.groupBy(col("cluster_size"))
        .agg(countDistinct(col("cluster_id")).as("n_clusters"),
             count(lit(1)).as("n_docs"))
      val singletons = cl.agg(count(lit(1)).as("_ncl"))
        .crossJoin(nd)
        .select(lit(1L).as("cluster_size"),
                (col("_nd") - col("_ncl")).as("n_clusters"),
                (col("_nd") - col("_ncl")).as("n_docs"))
      clusteredRows.unionByName(singletons)
        .filter(col("n_docs") > 0)
        .withColumn("weight_ppm", expr("1000000L DIV cluster_size"))
        .withColumn("eff_docs_milli",
          expr("n_docs * 1000L DIV cluster_size"))
    }),
    "q780_changepoint_sse" -> ((s, dir) => {
      // Single change-point detection per brand (binary-segmentation
      // step 1): the split k minimizing SSE_left + SSE_right over the
      // monthly demand series, with SSE in exact milli-units off prefix
      // sums of y and y² (SSE·1000 = sy2·1000 − sy²·1000 DIV n — one
      // truncation, mirrored) — every candidate split is one window row,
      // so the argmin is a single exchange. Variance-reduction gain in
      // ppm quantifies how strongly the series wants the break; the
      // mean-shift companion to q767's CUSUM drift alarm.
      import org.apache.spark.sql.expressions.Window
      val dem = rd(s, dir, "lineitem")
        .join(rd(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"),
                 ((year(col("l_shipdate")) - 1992) * 12 +
                   month(col("l_shipdate"))).cast("long").as("mi"))
        .agg(sum(expr("CAST(l_quantity AS BIGINT)")).as("y"))
      val wi = Window.partitionBy(col("brand")).orderBy(col("mi"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy(col("brand"))
      dem
        .withColumn("i", row_number().over(
          Window.partitionBy(col("brand")).orderBy(col("mi"))).cast("long"))
        .withColumn("pl", sum(col("y")).over(wi))
        .withColumn("pl2", sum(col("y") * col("y")).over(wi))
        .withColumn("n", count(lit(1)).over(tot))
        .withColumn("sy", sum(col("y")).over(tot))
        .withColumn("sy2", sum(col("y") * col("y")).over(tot))
        .filter(col("i") < col("n"))
        .withColumn("sse_l",
          expr("pl2 * 1000 - pl * pl * 1000 DIV i"))
        .withColumn("sse_r", expr(
          "(sy2 - pl2) * 1000 - (sy - pl) * (sy - pl) * 1000 DIV (n - i)"))
        .withColumn("sse_split", col("sse_l") + col("sse_r"))
        .withColumn("sse_full", expr("sy2 * 1000 - sy * sy * 1000 DIV n"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("brand"))
            .orderBy(col("sse_split"), col("mi"))))
        .filter(col("rn") === 1)
        .select(col("brand"), col("mi").as("split_mi"),
                col("i").as("n_left"), (col("n") - col("i")).as("n_right"),
                col("sse_full").as("sse_full_milli"),
                col("sse_split").as("sse_split_milli"),
                expr("CASE WHEN sse_full > 0 THEN (sse_full - sse_split)" +
                     " * 1000000L DIV sse_full ELSE 0L END").as("gain_ppm"))
    }),
    "q781_cohort_matrix" -> ((s, dir) => {
      // Cohort retention matrix: customers grouped by first-order month,
      // per (cohort, age ≤ 11) the distinct customers still ordering and
      // their share of the cohort in ppm — the canonical onboarding-
      // health artifact (the data-retention q100 is unrelated). One
      // distinct activity rollup, a per-customer min, and a
      // dimension-bounded (cohorts × 12) output; the cohort size rides a
      // broadcast join.
      val act = rd(s, dir, "orders")
        .select(col("o_custkey").as("c"),
                ((year(col("o_orderdate")) - 1992) * 12 +
                  month(col("o_orderdate"))).cast("long").as("mi"))
        .distinct()
        .localCheckpoint(false)
      val coh = act.groupBy(col("c")).agg(min(col("mi")).as("cohort"))
      val sizes = coh.groupBy(col("cohort"))
        .agg(count(lit(1)).as("cohort_size"))
      act.join(coh, Seq("c"))
        .withColumn("age", col("mi") - col("cohort"))
        .filter(col("age") <= 11)
        .groupBy(col("cohort"), col("age"))
        .agg(countDistinct(col("c")).as("n_active"))
        .join(broadcast(sizes), Seq("cohort"))
        .withColumn("retention_ppm",
          expr("n_active * 1000000L DIV cohort_size"))
    }),
    "q782_anova_eta" -> ((s, dir) => {
      // One-way ANOVA decomposition: how much of order-value variance
      // the order priority explains — SSB and SST in exact milli via the
      // computational identities SSB·10³ = Σ_g S_g²·10³ DIV n_g −
      // S²·10³ DIV N, SST·10³ = Σx²·10³ − S²·10³ DIV N, eta² in ppm.
      // Values in kilodollars keep S² ·10³ inside int64 to ~10⁸ rows
      // (disclosed); per-group partial sums are one combine-enabled
      // aggregate, the identity needs no group-mean materialization.
      val o = rd(s, dir, "orders")
        .select(col("o_orderpriority").as("grp"),
                expr("CAST(floor(o_totalprice / 1000) AS BIGINT)").as("y"))
      val per = o.groupBy(col("grp"))
        .agg(count(lit(1)).as("n_g"), sum(col("y")).as("s_g"),
             sum(col("y") * col("y")).as("ss_g"))
      per.agg(count(lit(1)).as("n_groups"), sum(col("n_g")).as("n"),
              sum(col("s_g")).as("s"), sum(col("ss_g")).as("ssx"),
              sum(expr("s_g * s_g * 1000 DIV n_g")).as("ssb_raw"))
        .withColumn("ssb_milli", expr("ssb_raw - s * s * 1000 DIV n"))
        .withColumn("sst_milli", expr("ssx * 1000 - s * s * 1000 DIV n"))
        .withColumn("eta2_ppm", expr(
          "CASE WHEN sst_milli > 0 THEN ssb_milli * 1000000L DIV sst_milli" +
            " ELSE 0L END"))
        .select("n_groups", "n", "ssb_milli", "sst_milli", "eta2_ppm")
    }),
    "q783_chi_square" -> ((s, dir) => {
      // Chi-square independence census for order priority × order
      // status: expected cell counts e·10³ = row·col·10³ DIV N, per-cell
      // deviation dev = obs·10³ − e_milli, contribution dev² DIV
      // (e_milli·10³) — one truncation chain, mirrored verbatim. Output
      // per cell with the table-wide chi2_milli and dof riding every row
      // (window over the contingency cells — dimension-bounded). The
      // categorical-drift test beside q769's numeric KS.
      import org.apache.spark.sql.expressions.Window
      val cells = rd(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("r"),
                 col("o_orderstatus").as("c"))
        .agg(count(lit(1)).as("obs"))
        .localCheckpoint(false)
      val dims = broadcast(cells.agg(
        (countDistinct(col("r")) - 1L).as("_dr"),
        (countDistinct(col("c")) - 1L).as("_dc")))
      val w = Window.partitionBy(graft.functions.DimKey.one)
      cells
        .withColumn("rt", sum(col("obs")).over(
          Window.partitionBy(col("r"))))
        .withColumn("ct", sum(col("obs")).over(
          Window.partitionBy(col("c"))))
        .withColumn("n", sum(col("obs")).over(w))
        .withColumn("e_milli", expr("rt * ct * 1000 DIV n"))
        .withColumn("dev_milli", expr("obs * 1000 - e_milli"))
        .withColumn("contrib_milli", expr(
          "CASE WHEN e_milli > 0" +
            " THEN dev_milli * dev_milli DIV (e_milli) ELSE 0L END"))
        .withColumn("chi2_milli", sum(col("contrib_milli")).over(w))
        .crossJoin(dims)
        .withColumn("dof", col("_dr") * col("_dc"))
        .select("r", "c", "obs", "e_milli", "contrib_milli", "chi2_milli",
                "dof")
    }),
    "q784_topk_stability" -> ((s, dir) => {
      // Ranking-stability audit: the top-20 parts by revenue computed on
      // odd vs even ship-months — overlap, Jaccard ppm, and how many of
      // the shared parts sit in the same position — the split-half
      // reliability check for any leaderboard a pipeline publishes. Two
      // window top-ks over one rollup; k² join bounded by k.
      import org.apache.spark.sql.expressions.Window
      val base = Tables.spread(s, rd(s, dir, "lineitem"))
        .select(col("l_partkey").as("pk"),
                (month(col("l_shipdate")) % 2).as("half"),
                expr("CAST(floor(l_extendedprice * (100 - l_discount * 100))" +
                     " AS BIGINT)").as("rev"))
        .groupBy(col("pk"), col("half"))
        .agg(sum(col("rev")).as("rev"))
      val w = Window.partitionBy(col("half"))
        .orderBy(col("rev").desc, col("pk"))
      val top = base.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 20)
        .localCheckpoint(false)
      val a = top.filter(col("half") === 1)
        .select(col("pk"), col("rk").as("rk_a"))
      val b = top.filter(col("half") === 0)
        .select(col("pk"), col("rk").as("rk_b"))
      a.join(b, Seq("pk"), "full_outer")
        .agg(sum(when(col("rk_a").isNotNull && col("rk_b").isNotNull, 1L)
                   .otherwise(0L)).as("n_shared"),
             sum(when(col("rk_a") === col("rk_b"), 1L).otherwise(0L))
               .as("n_same_rank"),
             count(lit(1)).as("n_union"))
        .withColumn("jaccard_ppm", expr("n_shared * 1000000L DIV n_union"))
    }),
    "q785_bigram_lift" -> ((s, dir) => {
      // Collocation extraction by LIFT (the log-free PMI stand-in:
      // lift = P(ab)/(P(a)P(b)) = c_ab·N / (c_a·c_b), exact in ppm):
      // adjacent-token bigrams with support ≥ 5 ranked by lift — high
      // lift = words that appear together far beyond chance, the
      // phrase-mining primitive. Unigram/bigram tables are vocabulary-
      // sized broadcasts; top 25 by (lift, bigram) for determinism.
      val toks = rd(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"),
                graft.operators.TextAnalysis.tokens(col("text")).as("t"))
        .localCheckpoint(false)
      val uni = toks.select(explode(col("t")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cu"))
        .localCheckpoint(false)
      val total = uni.agg(sum(col("cu")).as("nn"))
      val bg = toks.select(explode(expr(
          "IF(size(t) < 2, array()," +
            " transform(sequence(1, size(t) - 1)," +
            " i -> struct(element_at(t, i) AS w1," +
            "             element_at(t, i + 1) AS w2)))")).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
        .filter(col("cb") >= 5)
      bg
        .join(broadcast(uni.select(col("w").as("w1"), col("cu").as("c1"))),
              Seq("w1"))
        .join(broadcast(uni.select(col("w").as("w2"), col("cu").as("c2"))),
              Seq("w2"))
        .crossJoin(broadcast(total))
        .withColumn("lift_ppm", expr("cb * nn * 1000000L DIV (c1 * c2)"))
        .orderBy(col("lift_ppm").desc, col("w1"), col("w2"))
        .limit(25)
        .select(col("w1"), col("w2"), col("cb"), col("lift_ppm"))
    }),
    "q786_roc_points" -> ((s, dir) => {
      // ROC operating points for a deterministic classifier (doc length
      // as the score, lang = 'en' as the label): confusion counts and
      // exact-ppm TPR / FPR / precision at four thresholds — ONE corpus
      // aggregate per threshold via a broadcast cross join, never a
      // per-threshold pass. The eval primitive behind every quality-
      // filter tuning loop; thresholds are explicit so the curve is
      // reproducible, not quantile-coupled.
      import s.implicits._
      val d = rd(s, dir, "documents")
        .select(col("n_chars").as("score"),
                when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      val ts = Seq(100L, 300L, 1000L, 3000L).toDF("t")
      d.crossJoin(broadcast(ts))
        .groupBy(col("t"))
        .agg(sum(when(col("score") >= col("t") && col("y") === 1L, 1L)
                   .otherwise(0L)).as("tp"),
             sum(when(col("score") >= col("t") && col("y") === 0L, 1L)
                   .otherwise(0L)).as("fp"),
             sum(when(col("score") < col("t") && col("y") === 1L, 1L)
                   .otherwise(0L)).as("fn"),
             sum(when(col("score") < col("t") && col("y") === 0L, 1L)
                   .otherwise(0L)).as("tn"))
        .withColumn("tpr_ppm", expr(
          "CASE WHEN tp + fn > 0 THEN tp * 1000000L DIV (tp + fn)" +
            " ELSE 0L END"))
        .withColumn("fpr_ppm", expr(
          "CASE WHEN fp + tn > 0 THEN fp * 1000000L DIV (fp + tn)" +
            " ELSE 0L END"))
        .withColumn("precision_ppm", expr(
          "CASE WHEN tp + fp > 0 THEN tp * 1000000L DIV (tp + fp)" +
            " ELSE 0L END"))
    }),
    "q787_herfindahl" -> ((s, dir) => {
      // Herfindahl–Hirschman concentration per supplier nation: supplier
      // revenue shares in ppm, HHI = Σ share² DIV 10⁶ (10⁶ = monopoly),
      // plus the top share — the market-concentration screen in one
      // rollup + one nation-sized window; truncation chain mirrored.
      val rev = Tables.spread(s, rd(s, dir, "lineitem"))
        .groupBy(col("l_suppkey"))
        .agg(sum(expr("CAST(floor(l_extendedprice * 100) AS BIGINT)"))
               .as("r"))
        .join(rd(s, dir, "supplier"),
              col("l_suppkey") === col("s_suppkey"))
        .select(col("s_nationkey").as("nation"), col("r"))
      val tot = rev.groupBy(col("nation")).agg(sum(col("r")).as("nr"))
      rev.join(broadcast(tot), Seq("nation"))
        .withColumn("share_ppm", expr("r * 1000000L DIV nr"))
        .groupBy(col("nation"))
        .agg(count(lit(1)).as("n_suppliers"),
             expr("sum(share_ppm * share_ppm) DIV 1000000L").as("hhi_ppm"),
             max(col("share_ppm")).as("top_share_ppm"))
    }),
    "q788_price_volume_bridge" -> ((s, dir) => {
      // Price–volume bridge per brand, 1996 → 1997: ΔR decomposed into
      // Laspeyres price effect q0·(p1−p0), volume effect p0·(q1−q0),
      // interaction (Δp·Δq), with unit prices DERIVED (cents = revenue
      // DIV qty, truncating) and the truncation residual ΔR − pe − ve −
      // ie emitted as its own column — the decomposition is exact up to
      // a disclosed remainder instead of silently "approximately
      // additive". The revenue-bridge artifact every BI team rebuilds,
      // as one rollup + one self-join on brand.
      def yr(y: Int) = Tables.spread(s, rd(s, dir, "lineitem"))
        .filter(year(col("l_shipdate")) === y)
        .join(rd(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"))
        .agg(sum(expr("CAST(l_quantity AS BIGINT)")).as("q"),
             sum(expr("CAST(floor(l_extendedprice * 100) AS BIGINT)"))
               .as("rev"))
        .withColumn("p", expr("rev DIV q"))
      yr(1996).as("a")
        .join(yr(1997).as("b"), Seq("brand"))
        .select(col("brand"),
                col("a.rev").as("r0_cents"), col("b.rev").as("r1_cents"),
                expr("a.q * (b.p - a.p)").as("price_effect"),
                expr("a.p * (b.q - a.q)").as("volume_effect"),
                expr("(b.p - a.p) * (b.q - a.q)").as("interaction"))
        .withColumn("residual", expr(
          "r1_cents - r0_cents - price_effect - volume_effect - interaction"))
    }),
    "q789_iqr_outliers" -> ((s, dir) => {
      // Tukey-fence outlier census per brand: discrete Q1/Q3 (the q731
      // rank-⌈q·n⌉ convention), fences at ±(3·IQR) DIV 2, counts beyond
      // each fence — the box-plot screen with every quantile and fence
      // an exact integer. One rank window + one broadcast join back.
      import org.apache.spark.sql.expressions.Window
      val v = Tables.spread(s, rd(s, dir, "lineitem"))
        .join(rd(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("brand"),
                expr("CAST(floor(l_extendedprice * 100) AS BIGINT)")
                  .as("cents"))
      val w = Window.partitionBy(col("brand")).orderBy(col("cents"))
      val ranked = v
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("brand"))))
      val qs = ranked
        .filter(col("rn") === expr("(n + 3) DIV 4") ||
                col("rn") === expr("(3 * n + 3) DIV 4"))
        .groupBy(col("brand"))
        .agg(min(col("cents")).as("q1"), max(col("cents")).as("q3"))
        .withColumn("fence_lo", expr("q1 - (3 * (q3 - q1)) DIV 2"))
        .withColumn("fence_hi", expr("q3 + (3 * (q3 - q1)) DIV 2"))
      v.join(broadcast(qs), Seq("brand"))
        .groupBy(col("brand"))
        .agg(max(col("q1")).as("q1"), max(col("q3")).as("q3"),
             sum(when(col("cents") < col("fence_lo"), 1L).otherwise(0L))
               .as("n_low"),
             sum(when(col("cents") > col("fence_hi"), 1L).otherwise(0L))
               .as("n_high"))
    }),
    "q790_mcnemar" -> ((s, dir) => {
      // McNemar paired-classifier comparison per source: two
      // deterministic language-ID proxies (chars ≥ 300 vs tokens ≥ 60)
      // scored against the lang label on the SAME documents — only the
      // DISAGREEMENT cells matter (b = A right/B wrong, c = A wrong/B
      // right), statistic (b−c)²·10³ DIV (b+c). The right test when two
      // filters are evaluated on one corpus (q786's ROC treats them
      // independently and wastes the pairing); one aggregate per source.
      rd(s, dir, "documents")
        .select(col("source"),
                when(col("lang") === "en", 1L).otherwise(0L).as("y"),
                when(length(col("text")) >= 300, 1L).otherwise(0L)
                  .as("pa"),
                when(size(graft.operators.TextAnalysis
                       .tokens(col("text"))) >= 60, 1L).otherwise(0L)
                  .as("pb"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
             sum(when(col("pa") === col("y") && col("pb") =!= col("y"), 1L)
                   .otherwise(0L)).as("b_only"),
             sum(when(col("pa") =!= col("y") && col("pb") === col("y"), 1L)
                   .otherwise(0L)).as("c_only"))
        .withColumn("chi2_milli", expr(
          "CASE WHEN b_only + c_only > 0" +
            " THEN (b_only - c_only) * (b_only - c_only) * 1000" +
            " DIV (b_only + c_only) ELSE 0L END"))
    }),
    "q791_calibration_ece" -> ((s, dir) => {
      // Reliability diagram + expected calibration error for a
      // deterministic score (n_chars DIV 200, capped to 10 bins, bin
      // midpoints as stated confidence): per-bin empirical accuracy vs
      // confidence in exact ppm, ECE = Σ n_b·|acc−conf| DIV N riding
      // every row — the calibration companion to q771's isotonic FIT
      // (this measures miscalibration; that repairs it). One rollup +
      // one dimension-sized window.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(graft.functions.DimKey.one)
      rd(s, dir, "documents")
        .select(least(lit(9L), expr("n_chars DIV 200")).as("bin"),
                when(col("lang") === "en", 1L).otherwise(0L).as("y"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("y")).as("n_pos"))
        .withColumn("conf_ppm", expr("bin * 100000 + 50000"))
        .withColumn("acc_ppm", expr("n_pos * 1000000L DIV n_docs"))
        .withColumn("_dev", abs(col("acc_ppm") - col("conf_ppm")))
        .withColumn("_wdev", sum(col("_dev") * col("n_docs")).over(w))
        .withColumn("_n", sum(col("n_docs")).over(w))
        .withColumn("ece_ppm", expr("_wdev DIV _n"))
        .select("bin", "n_docs", "conf_ppm", "acc_ppm", "ece_ppm")
    }),
    "q792_source_vocab_overlap" -> ((s, dir) => {
      // Source-similarity matrix by vocabulary Jaccard: distinct tokens
      // per source, pairwise |A∩B| via one token-keyed equi-join,
      // |A∪B| = |A|+|B|−|A∩B| — corpus cartography (which slices speak
      // the same language) over a vocabulary-bounded relation; the
      // source-level companion to doc-level near-dup.
      val vt = rd(s, dir, "documents")
        .select(col("source"),
                explode(array_distinct(
                  graft.operators.TextAnalysis.tokens(col("text"))))
                  .as("w"))
        .distinct()
        .localCheckpoint(false)
      val sizes = vt.groupBy(col("source")).agg(count(lit(1)).as("nv"))
      vt.as("a")
        .join(vt.as("b"),
              col("a.w") === col("b.w") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"),
                 col("b.source").as("source_b"))
        .agg(count(lit(1)).as("n_common"))
        .join(broadcast(sizes.select(col("source").as("source_a"),
                                     col("nv").as("nv_a"))), Seq("source_a"))
        .join(broadcast(sizes.select(col("source").as("source_b"),
                                     col("nv").as("nv_b"))), Seq("source_b"))
        .withColumn("jaccard_ppm", expr(
          "n_common * 1000000L DIV (nv_a + nv_b - n_common)"))
        .select("source_a", "source_b", "n_common", "nv_a", "nv_b",
                "jaccard_ppm")
    })
  )

  /** LIS fold (q772): state = parallel (ys, bs) lists; each element's
    * best chain = 1 + max best over earlier elements with y ≤ current.
    */
  private val LisFoldSpark: String =
    // IF-guard on the empty state: sequence(1, 0) DESCENDS (q736
    // contract) and ANSI element_at throws on the empty array
    """aggregate(arr,
      |  named_struct('ys', CAST(array() AS ARRAY<BIGINT>),
      |               'bs', CAST(array() AS ARRAY<BIGINT>)),
      |  (acc, e) -> named_struct(
      |    'ys', concat(acc.ys, array(e.y)),
      |    'bs', concat(acc.bs, array(1L + coalesce(array_max(
      |      IF(size(acc.ys) = 0, CAST(array() AS ARRAY<BIGINT>),
      |         transform(filter(sequence(1, size(acc.ys)),
      |                          j -> element_at(acc.ys, j) <= e.y),
      |                   j -> element_at(acc.bs, j)))), 0L)))),
      |  acc -> acc)""".stripMargin

  // ---- oracle fragments ----

  /** Exact ppm integer power with truncating `//` after each multiply —
    * the q749 planner arithmetic with a constant base.
    */
  private def ipowSql(e: String, k: Int): String =
    (2 to k).foldLeft(e)((acc, _) => s"(($acc) * ($e) // 1000000)")

  private def collisionSql(sPpm: Long, b: Int, r: Int): String =
    // BIGINT base: DuckDB's bare 500000 literal is INT32 and the first
    // ppm multiply overflows it
    s"(1000000 - ${ipowSql(s"(1000000 - ${ipowSql(s"CAST($sPpm AS BIGINT)", r)})", b)})"

  /** The banded candidate + exact-verify pipeline for a (bands, rows)
    * split of the shared 12-component signature (`mh`), guards mirroring
    * `Dedup.verifiedPairsFor` verbatim: fat-bucket ceiling, corpus-scaled
    * pair budget, spanning-path degrade. Emits `<p>pairs(doc_a, doc_b)`
    * (τ-verified, τ = 1/2).
    */
  private def bandedPairsCtes(p: String, bands: Int, rows: Int): String = {
    val keys = (0 until bands).map { b =>
      val ms = (0 until rows).map(i => s"m${rows * b + i}").mkString(" || '|' || ")
      s"'$b:' || md5($ms)"
    }.mkString(",\n  ")
    s"""${p}bands AS (SELECT doc_id, unnest([
       |  $keys
       |]) AS bk FROM mh),
       |${p}bsz0 AS (
       |    SELECT doc_id, bk, lag(doc_id) OVER (PARTITION BY bk ORDER BY doc_id) AS prev,
       |      (count(*) OVER (PARTITION BY bk)
       |         <= ${graft.operators.Dedup.DefaultMaxBucket}
       |       AND count(*) OVER (PARTITION BY bk)
       |         * count(*) OVER (PARTITION BY bk)
       |         <= ${graft.operators.Dedup.PairBudgetFactor}
       |         * (SELECT count(*) FROM sh3)) AS ok
       |    FROM ${p}bands),
       |${p}bok AS (SELECT doc_id, bk FROM ${p}bsz0 WHERE ok),
       |${p}cand AS (SELECT DISTINCT doc_a, doc_b FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM ${p}bok a JOIN ${p}bok b ON a.bk = b.bk AND a.doc_id < b.doc_id
       |  UNION ALL
       |  SELECT prev, doc_id FROM ${p}bsz0
       |  WHERE NOT ok AND prev IS NOT NULL) cu),
       |${p}pairs AS (
       |  SELECT ov.doc_a, ov.doc_b
       |  FROM (SELECT c.doc_a, c.doc_b, count(*) AS overlap
       |        FROM ${p}cand c JOIN shx x ON x.doc_id = c.doc_a
       |                        JOIN shx y ON y.doc_id = c.doc_b AND y.s = x.s
       |        GROUP BY 1, 2) ov
       |  JOIN sizes sx ON sx.doc_id = ov.doc_a
       |  JOIN sizes sy ON sy.doc_id = ov.doc_b
       |  WHERE ov.overlap * 2 >= (sx.n + sy.n - ov.overlap) * 1)""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "q762_planned_lsh" ->
      s"""WITH ${SparkEntry.ToksCte}, ${SparkEntry.shingleCteFor("sh3", 3)},
         |shx AS (SELECT doc_id, unnest(shs) AS s FROM sh3),
         |sizes AS (SELECT doc_id, count(*) AS n FROM shx GROUP BY 1),
         |mh AS (SELECT doc_id,
         |${(0 until 12).map(i =>
            s"  list_min(list_transform(shs, s -> md5('$i-' || s))) AS m$i")
            .mkString(",\n")}
         |FROM sh3),
         |${bandedPairsCtes("a", 4, 3)},
         |${bandedPairsCtes("b", 6, 2)},
         |curve AS (
         |  SELECT * FROM (VALUES
         |    (2, 6, ${collisionSql(500000L, 2, 6)}),
         |    (3, 4, ${collisionSql(500000L, 3, 4)}),
         |    (4, 3, ${collisionSql(500000L, 4, 3)}),
         |    (6, 2, ${collisionSql(500000L, 6, 2)})) v(b, r, coll)),
         |plan AS (SELECT b, r FROM curve WHERE coll >= 800000
         |  ORDER BY b ASC, coll DESC LIMIT 1),
         |na AS (SELECT count(*) AS n FROM apairs),
         |nb AS (SELECT count(*) AS n FROM bpairs),
         |xa AS (SELECT count(*) AS n FROM apairs p WHERE NOT EXISTS (
         |  SELECT 1 FROM bpairs q
         |  WHERE q.doc_a = p.doc_a AND q.doc_b = p.doc_b)),
         |xb AS (SELECT count(*) AS n FROM bpairs p WHERE NOT EXISTS (
         |  SELECT 1 FROM apairs q
         |  WHERE q.doc_a = p.doc_a AND q.doc_b = p.doc_b))
         |SELECT 'b4r3' AS config, CAST(4 AS BIGINT) AS bands,
         |  CAST(3 AS BIGINT) AS rpb,
         |  CAST((SELECT coll FROM curve WHERE b = 4) AS BIGINT)
         |    AS collision_ppm,
         |  CAST(CASE WHEN EXISTS (SELECT 1 FROM plan WHERE b = 4 AND r = 3)
         |    THEN 1 ELSE 0 END AS BIGINT) AS is_planned,
         |  CAST((SELECT n FROM na) AS BIGINT) AS n_pairs,
         |  CAST((SELECT n FROM xa) AS BIGINT) AS n_extra
         |UNION ALL
         |SELECT 'b6r2', CAST(6 AS BIGINT), CAST(2 AS BIGINT),
         |  CAST((SELECT coll FROM curve WHERE b = 6) AS BIGINT),
         |  CAST(CASE WHEN EXISTS (SELECT 1 FROM plan WHERE b = 6 AND r = 2)
         |    THEN 1 ELSE 0 END AS BIGINT),
         |  CAST((SELECT n FROM nb) AS BIGINT),
         |  CAST((SELECT n FROM xb) AS BIGINT)""".stripMargin,
    // Same relation as q739 by construction (stored-signature path vs
    // self-contained recompute) — one oracle text, two engine paths.
    "q763_incremental_dedup_table" ->
      R15Queries.oracleSql("q739_incremental_dedup"),
    "q764_decision_stump" ->
      s"""WITH li AS (SELECT p_brand AS brand,
         |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents,
         |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS isr
         |  FROM lineitem JOIN part ON l_partkey = p_partkey),
         |cells AS (SELECT brand, cents, count(*) AS cnt, sum(isr) AS ca
         |  FROM li GROUP BY 1, 2),
         |sc AS (SELECT brand, cents,
         |    sum(cnt) OVER (PARTITION BY brand ORDER BY cents
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_l,
         |    sum(ca) OVER (PARTITION BY brand ORDER BY cents
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a_l,
         |    sum(cnt) OVER (PARTITION BY brand) AS n,
         |    sum(ca) OVER (PARTITION BY brand) AS a
         |  FROM cells),
         |g AS (SELECT brand, cents, n_l, n - n_l AS n_r, a_l, a - a_l AS a_r,
         |    n_l - a_l AS b_l, (n - n_l) - (a - a_l) AS b_r, n
         |  FROM sc WHERE n_l < n),
         |g2 AS (SELECT brand, cents, n_l, n_r, n,
         |    (n_l * n_l - a_l * a_l - b_l * b_l) * 1000000 // (n_l * n_l)
         |      AS g_l,
         |    (n_r * n_r - a_r * a_r - b_r * b_r) * 1000000 // (n_r * n_r)
         |      AS g_r
         |  FROM g),
         |g3 AS (SELECT brand, cents, n_l, n_r,
         |    (n_l * g_l + n_r * g_r) // n AS gini_ppm,
         |    row_number() OVER (PARTITION BY brand
         |      ORDER BY (n_l * g_l + n_r * g_r) // n, cents) AS rn
         |  FROM g2)
         |SELECT brand, CAST(cents AS BIGINT) AS split_cents,
         |  CAST(n_l AS BIGINT) AS n_left, CAST(n_r AS BIGINT) AS n_right,
         |  CAST(gini_ppm AS BIGINT) AS gini_ppm
         |FROM g3 WHERE rn = 1""".stripMargin,
    "q765_mann_whitney" ->
      s"""WITH li AS (SELECT p_brand AS brand,
         |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents,
         |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS isr
         |  FROM lineitem JOIN part ON l_partkey = p_partkey),
         |cells AS (SELECT brand, cents, count(*) AS cnt, sum(isr) AS ca
         |  FROM li GROUP BY 1, 2),
         |sc AS (SELECT brand, cnt, ca,
         |    sum(cnt) OVER (PARTITION BY brand ORDER BY cents
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_le
         |  FROM cells),
         |m AS (SELECT brand, cnt, ca, 2 * (n_le - cnt) + cnt + 1 AS mid2
         |  FROM sc),
         |agg AS (SELECT brand, sum(ca) AS n_a, sum(cnt - ca) AS n_b,
         |    sum(ca * mid2) AS ra2, sum((cnt - ca) * mid2) AS rb2
         |  FROM m GROUP BY 1)
         |SELECT brand, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
         |  CAST(ra2 - n_a * (n_a + 1) AS BIGINT) AS u2_a,
         |  CAST(rb2 - n_b * (n_b + 1) AS BIGINT) AS u2_b,
         |  CAST(ra2 - n_a * (n_a + 1) + rb2 - n_b * (n_b + 1)
         |    - 2 * n_a * n_b AS BIGINT) AS pair_check
         |FROM agg""".stripMargin,
    "q766_kendall_tau" ->
      s"""WITH ords AS (SELECT o_custkey,
         |    sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS y
         |  FROM orders GROUP BY 1),
         |pts AS (SELECT c_nationkey AS nation, c_custkey AS k,
         |    CAST(floor(c_acctbal * 100) AS BIGINT) AS x, y
         |  FROM customer JOIN ords ON c_custkey = o_custkey),
         |pr AS (SELECT a.nation,
         |    (CASE WHEN a.x > b.x THEN 1 WHEN a.x < b.x THEN -1 ELSE 0 END)
         |      AS sx,
         |    (CASE WHEN a.y > b.y THEN 1 WHEN a.y < b.y THEN -1 ELSE 0 END)
         |      AS sy
         |  FROM pts a JOIN pts b ON a.nation = b.nation AND a.k < b.k),
         |agg AS (SELECT nation, count(*) AS n_pairs,
         |    sum(CASE WHEN sx * sy = 1 THEN 1 ELSE 0 END) AS concordant,
         |    sum(CASE WHEN sx * sy = -1 THEN 1 ELSE 0 END) AS discordant,
         |    sum(CASE WHEN sx = 0 OR sy = 0 THEN 1 ELSE 0 END) AS tied
         |  FROM pr GROUP BY 1)
         |SELECT CAST(nation AS BIGINT) AS nation,
         |  CAST(n_pairs AS BIGINT) AS n_pairs,
         |  CAST(concordant AS BIGINT) AS concordant,
         |  CAST(discordant AS BIGINT) AS discordant,
         |  CAST(tied AS BIGINT) AS tied,
         |  CAST(CASE WHEN (concordant - discordant) >= 0
         |    THEN (concordant - discordant) * 1000000 // n_pairs
         |    ELSE -((discordant - concordant) * 1000000 // n_pairs)
         |    END AS BIGINT) AS tau_a_ppm
         |FROM agg""".stripMargin,
    "q767_cusum_alarms" ->
      s"""WITH dem AS (SELECT l_suppkey AS k,
         |    CAST((year(l_shipdate) - 1992) * 12 + month(l_shipdate)
         |      AS BIGINT) AS mi,
         |    sum(CAST(l_quantity AS BIGINT)) AS x
         |  FROM lineitem GROUP BY 1, 2),
         |s1 AS (SELECT k, mi, x,
         |    sum(x) OVER (PARTITION BY k) // count(*) OVER (PARTITION BY k)
         |      AS mu
         |  FROM dem),
         |s2 AS (SELECT k, mi, mu,
         |    sum(x - mu) OVER (PARTITION BY k ORDER BY mi
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM s1),
         |s3 AS (SELECT k, mi, mu, cum,
         |    cum - least(0, min(cum) OVER (PARTITION BY k ORDER BY mi
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s
         |  FROM s2)
         |SELECT CAST(k AS BIGINT) AS k, CAST(count(*) AS BIGINT) AS n_months,
         |  CAST(max(s) AS BIGINT) AS max_cusum,
         |  CAST(coalesce(min(CASE WHEN s >= mu AND mu > 0 THEN mi END), -1)
         |    AS BIGINT) AS first_alarm_mi
         |FROM s3 GROUP BY k""".stripMargin,
    "q768_bh_fdr" ->
      s"""WITH dem AS (SELECT l_suppkey AS k,
         |    CAST((year(l_shipdate) - 1992) * 12 + month(l_shipdate)
         |      AS BIGINT) AS mi,
         |    sum(CAST(l_quantity AS BIGINT)) AS x
         |  FROM lineitem GROUP BY 1, 2),
         |gstat AS (SELECT count(*) AS nn, sum(x) AS sx, sum(x * x) AS sxx
         |  FROM dem),
         |per AS (SELECT k, count(*) AS n_k, sum(x) AS s_k
         |  FROM dem GROUP BY 1),
         |p0 AS (SELECT k, n_k,
         |    abs(s_k // n_k - (SELECT sx // nn FROM gstat)) AS t,
         |    (SELECT sxx // nn - (sx // nn) * (sx // nn) FROM gstat) AS v0
         |  FROM per),
         |p1 AS (SELECT k, CASE WHEN t = 0 THEN 1000000
         |    ELSE least(1000000, v0 * 1000000 // (n_k * t * t)) END AS p_ppm
         |  FROM p0),
         |rk AS (SELECT k, p_ppm, row_number() OVER (ORDER BY p_ppm, k) AS r,
         |    count(*) OVER () AS m FROM p1),
         |bh AS (SELECT max(CASE WHEN p_ppm * m * 20
         |    <= CAST(1000000 AS BIGINT) * r THEN r END) AS kk FROM rk)
         |SELECT CAST(k AS BIGINT) AS k, CAST(p_ppm AS BIGINT) AS p_ppm,
         |  CAST(r AS BIGINT) AS r,
         |  CAST(CASE WHEN r <= coalesce((SELECT kk FROM bh), 0) THEN 1
         |    ELSE 0 END AS BIGINT) AS rejected
         |FROM rk""".stripMargin,
    "q769_ks_two_sample" ->
      s"""WITH cells AS (SELECT source, CAST(length(text) AS BIGINT) AS v,
         |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ca,
         |    sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS cb
         |  FROM documents GROUP BY 1, 2),
         |sc AS (SELECT source, v, ca, cb,
         |    sum(ca) OVER (PARTITION BY source) AS n_a,
         |    sum(cb) OVER (PARTITION BY source) AS n_b,
         |    sum(ca) OVER (PARTITION BY source ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
         |    sum(cb) OVER (PARTITION BY source ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b
         |  FROM cells),
         |agg AS (SELECT source, max(n_a) AS n_a, max(n_b) AS n_b,
         |    max(abs(cum_a * n_b - cum_b * n_a)) AS d_num
         |  FROM sc WHERE n_a > 0 AND n_b > 0 GROUP BY 1)
         |SELECT source, CAST(n_a AS BIGINT) AS n_a,
         |  CAST(n_b AS BIGINT) AS n_b, CAST(d_num AS BIGINT) AS d_num,
         |  CAST(d_num * 1000000 // (n_a * n_b) AS BIGINT) AS d_ppm
         |FROM agg""".stripMargin,
    "q770_theil_sen" ->
      s"""WITH dem AS (SELECT p_brand AS brand,
         |    CAST((year(l_shipdate) - 1992) * 12 + month(l_shipdate)
         |      AS BIGINT) AS mi,
         |    sum(CAST(l_quantity AS BIGINT)) AS y
         |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1, 2),
         |sl AS (SELECT a.brand,
         |    CASE WHEN (b.y - a.y) >= 0
         |      THEN (b.y - a.y) * 1000 // (b.mi - a.mi)
         |      ELSE -((a.y - b.y) * 1000 // (b.mi - a.mi)) END AS slope_milli
         |  FROM dem a JOIN dem b ON a.brand = b.brand AND a.mi < b.mi),
         |r AS (SELECT brand, slope_milli,
         |    row_number() OVER (PARTITION BY brand ORDER BY slope_milli)
         |      AS rn,
         |    count(*) OVER (PARTITION BY brand) AS n FROM sl)
         |SELECT brand, CAST(max(n) AS BIGINT) AS n_pairs,
         |  CAST(max(slope_milli) AS BIGINT) AS median_slope_milli
         |FROM r WHERE rn = (n + 1) // 2 GROUP BY brand""".stripMargin,
    "q771_isotonic_fit" ->
      s"""WITH dem AS (SELECT p_brand AS brand,
         |    CAST((year(l_shipdate) - 1992) * 12 + month(l_shipdate)
         |      AS BIGINT) AS mi,
         |    sum(CAST(l_quantity AS BIGINT)) AS y
         |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1, 2),
         |idx AS (SELECT brand, mi, y,
         |    CAST(row_number() OVER (PARTITION BY brand ORDER BY mi)
         |      AS BIGINT) AS i,
         |    sum(y) OVER (PARTITION BY brand ORDER BY mi
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
         |  FROM dem),
         |seg AS (SELECT a.brand, a.i AS j, b.i AS k,
         |    (b.p - a.p + a.y) * 1000 // (b.i - a.i + 1) AS avg_milli
         |  FROM idx a JOIN idx b ON a.brand = b.brand AND a.i <= b.i),
         |sfx AS (SELECT brand, j, k,
         |    min(avg_milli) OVER (PARTITION BY brand, j ORDER BY k DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
         |  FROM seg),
         |fit AS (SELECT brand, k AS i, max(s) AS fit_milli
         |  FROM sfx GROUP BY 1, 2)
         |SELECT f.brand, idx.mi, CAST(idx.y AS BIGINT) AS y,
         |  CAST(f.fit_milli AS BIGINT) AS fit_milli
         |FROM fit f JOIN idx ON idx.brand = f.brand AND idx.i = f.i""".stripMargin,
    "q772_lis_demand" ->
      s"""WITH RECURSIVE dem AS (SELECT p_brand AS brand,
         |    CAST((year(l_shipdate) - 1992) * 12 + month(l_shipdate)
         |      AS BIGINT) AS mi,
         |    sum(CAST(l_quantity AS BIGINT)) AS y
         |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1, 2),
         |rk AS MATERIALIZED (SELECT brand, y,
         |    CAST(row_number() OVER (PARTITION BY brand ORDER BY mi)
         |      AS BIGINT) AS i
         |  FROM dem),
         |nm AS (SELECT brand, max(i) AS n_months FROM rk GROUP BY 1),
         |st(brand, i, ys, bs) AS (
         |  SELECT brand, CAST(1 AS BIGINT), [y], [CAST(1 AS BIGINT)]
         |  FROM rk WHERE i = 1
         |  UNION ALL
         |  SELECT r.brand, r.i,
         |    list_append(s.ys, r.y),
         |    list_append(s.bs, 1 + coalesce(list_max(list_transform(
         |      list_filter(generate_series(1, len(s.ys)),
         |                  j -> s.ys[j] <= r.y),
         |      j -> s.bs[j])), 0))
         |  FROM st s JOIN rk r ON r.brand = s.brand AND r.i = s.i + 1),
         |fin AS (SELECT st.brand, st.bs
         |  FROM (SELECT brand, max(i) AS mi FROM st GROUP BY 1) l
         |  JOIN st ON st.brand = l.brand AND st.i = l.mi)
         |SELECT f.brand, CAST(nm.n_months AS BIGINT) AS n_months,
         |  CAST(coalesce(list_max(f.bs), 0) AS BIGINT) AS lis_len
         |FROM fin f JOIN nm ON nm.brand = f.brand""".stripMargin,
    "q773_minhash_estimate_error" ->
      s"""WITH ${SparkEntry.MinhashPairsCtes},
         |vp AS (SELECT doc_a, doc_b, overlap,
         |    x.n + y.n - overlap AS u
         |  FROM pairs JOIN sizes x ON x.doc_id = doc_a
         |             JOIN sizes y ON y.doc_id = doc_b
         |  WHERE overlap * 2 >= (x.n + y.n - overlap) * 1),
         |ag AS (SELECT vp.overlap, vp.u,
         |    (${(0 until 12).map(i =>
              s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END")
              .mkString(" + ")}) AS m_agree
         |  FROM vp JOIN mh a ON a.doc_id = vp.doc_a
         |          JOIN mh b ON b.doc_id = vp.doc_b)
         |SELECT CAST(m_agree AS BIGINT) AS m_agree,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(overlap * 1000000 // u) // count(*) AS BIGINT)
         |    AS avg_exact_ppm,
         |  CAST(m_agree * 1000000 // 12 AS BIGINT) AS est_ppm
         |FROM ag GROUP BY m_agree""".stripMargin,
    "q774_dedup_yield_curve" ->
      s"""WITH ${SparkEntry.MinhashPairsCtes},
         |pu AS (SELECT doc_a, doc_b, overlap,
         |    x.n + y.n - overlap AS u
         |  FROM pairs JOIN sizes x ON x.doc_id = doc_a
         |             JOIN sizes y ON y.doc_id = doc_b),
         |nd AS (SELECT count(*) AS n FROM documents),
         |t AS (SELECT unnest([30, 40, 50, 60, 70]) AS tau_pct)
         |SELECT CAST(tau_pct AS BIGINT) AS tau_pct,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(count(DISTINCT doc_b) AS BIGINT) AS n_removed,
         |  CAST(count(DISTINCT doc_b) * 1000000 // (SELECT n FROM nd)
         |    AS BIGINT) AS removed_ppm
         |FROM pu JOIN t ON overlap * 100 >= u * tau_pct
         |GROUP BY tau_pct""".stripMargin,
    "q775_acf_lags" ->
      s"""WITH dem AS (SELECT p_brand AS brand,
         |    CAST((year(l_shipdate) - 1992) * 12 + month(l_shipdate)
         |      AS BIGINT) AS mi,
         |    sum(CAST(l_quantity AS BIGINT)) AS y
         |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1, 2),
         |idx AS (SELECT brand, mi, y,
         |    CAST(row_number() OVER (PARTITION BY brand ORDER BY mi)
         |      AS BIGINT) AS i,
         |    sum(y) OVER (PARTITION BY brand)
         |      // count(*) OVER (PARTITION BY brand) AS m
         |  FROM dem),
         |dv AS (SELECT brand, i, y - m AS dev FROM idx),
         |den AS (SELECT brand, sum(dev * dev) AS den FROM dv GROUP BY 1),
         |lg AS (SELECT unnest([1, 2, 3, 4]) AS lag),
         |nm AS (SELECT a.brand, lg.lag, count(*) AS n_terms,
         |    sum(a.dev * b.dev) AS num
         |  FROM dv a CROSS JOIN lg
         |  JOIN dv b ON b.brand = a.brand AND b.i = a.i + lg.lag
         |  GROUP BY 1, 2)
         |SELECT nm.brand, CAST(nm.lag AS BIGINT) AS lag,
         |  CAST(n_terms AS BIGINT) AS n_terms,
         |  CAST(CASE WHEN den.den = 0 THEN 0
         |    WHEN num >= 0 THEN num * 1000000 // den.den
         |    ELSE -((-num) * 1000000 // den.den) END AS BIGINT) AS acf_ppm
         |FROM nm JOIN den ON den.brand = nm.brand""".stripMargin,
    "q776_runs_test" ->
      s"""WITH dem AS (SELECT p_brand AS brand,
         |    CAST((year(l_shipdate) - 1992) * 12 + month(l_shipdate)
         |      AS BIGINT) AS mi,
         |    sum(CAST(l_quantity AS BIGINT)) AS y
         |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1, 2),
         |mrk AS (SELECT brand, y, mi,
         |    row_number() OVER (PARTITION BY brand ORDER BY y, mi) AS rn,
         |    count(*) OVER (PARTITION BY brand) AS n FROM dem),
         |med AS (SELECT brand, y AS med FROM mrk WHERE rn = (n + 1) // 2),
         |fl AS (SELECT d.brand, d.mi,
         |    CASE WHEN d.y > m.med THEN 1 ELSE 0 END AS abv
         |  FROM dem d JOIN med m ON m.brand = d.brand WHERE d.y <> m.med),
         |ch AS (SELECT brand, abv,
         |    CASE WHEN lag(abv) OVER (PARTITION BY brand ORDER BY mi)
         |        IS NULL
         |      OR lag(abv) OVER (PARTITION BY brand ORDER BY mi) <> abv
         |      THEN 1 ELSE 0 END AS chg
         |  FROM fl)
         |SELECT brand, CAST(sum(abv) AS BIGINT) AS n_above,
         |  CAST(sum(1 - abv) AS BIGINT) AS n_below,
         |  CAST(sum(chg) AS BIGINT) AS n_runs
         |FROM ch GROUP BY brand""".stripMargin,
    "q777_benford_tvd" ->
      s"""WITH dd AS (SELECT CAST(substring(CAST(CAST(
         |      floor(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
         |      AS BIGINT) AS digit
         |  FROM orders),
         |c AS (SELECT digit, count(*) AS n_obs FROM dd GROUP BY 1),
         |tn AS (SELECT sum(n_obs) AS n FROM c),
         |e AS (SELECT * FROM (VALUES (1, 301030), (2, 176091), (3, 124939),
         |    (4, 96910), (5, 79181), (6, 66947), (7, 57992), (8, 51153),
         |    (9, 45757)) v(digit, exp_ppm)),
         |k AS (SELECT c.digit, c.n_obs,
         |    c.n_obs * 1000000 // (SELECT n FROM tn) AS obs_ppm, e.exp_ppm,
         |    abs(c.n_obs * 1000000 // (SELECT n FROM tn) - e.exp_ppm)
         |      AS dev_ppm
         |  FROM c JOIN e ON e.digit = c.digit)
         |SELECT CAST(digit AS BIGINT) AS digit, CAST(n_obs AS BIGINT)
         |    AS n_obs,
         |  CAST(obs_ppm AS BIGINT) AS obs_ppm,
         |  CAST(exp_ppm AS BIGINT) AS exp_ppm,
         |  CAST(dev_ppm AS BIGINT) AS dev_ppm,
         |  CAST(sum(dev_ppm) OVER () // 2 AS BIGINT) AS tvd_ppm
         |FROM k""".stripMargin,
    "q778_null_join_contract" ->
      s"""WITH a AS (SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL
         |    ELSE o_orderkey % 100 END AS ka
         |  FROM orders WHERE o_orderkey % 101 = 0),
         |b AS (SELECT CASE WHEN o_orderkey % 5 = 0 THEN NULL
         |    ELSE o_orderkey % 100 END AS kb
         |  FROM orders WHERE o_orderkey % 103 = 0),
         |eq AS (SELECT count(*) AS n_eq FROM a JOIN b ON ka = kb),
         |ns AS (SELECT count(*) AS n_nullsafe FROM a
         |  JOIN b ON ka IS NOT DISTINCT FROM kb),
         |na AS (SELECT count(*) AS n_null_a FROM a WHERE ka IS NULL),
         |nb AS (SELECT count(*) AS n_null_b FROM b WHERE kb IS NULL)
         |SELECT CAST(n_eq AS BIGINT) AS n_eq,
         |  CAST(n_nullsafe AS BIGINT) AS n_nullsafe,
         |  CAST(n_null_a AS BIGINT) AS n_null_a,
         |  CAST(n_null_b AS BIGINT) AS n_null_b,
         |  CAST(n_nullsafe - n_eq - n_null_a * n_null_b AS BIGINT)
         |    AS identity_check
         |FROM eq, ns, na, nb""".stripMargin,
    "q779_soft_dedup_weight" ->
      s"""WITH RECURSIVE ${SparkEntry.MinhashPairsCtes},
         |vp AS (${SparkEntry.JaccardTailSql}),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM vp
         |      UNION SELECT doc_b, doc_a FROM vp),
         |reach AS (
         |  SELECT src AS node, src AS lab FROM e
         |  UNION
         |  SELECT e.dst, r.lab FROM reach r JOIN e ON e.src = r.node
         |),
         |cc AS (SELECT node AS doc_id, min(lab) AS cluster_id
         |       FROM reach GROUP BY node),
         |cs AS (SELECT doc_id, cluster_id,
         |    count(*) OVER (PARTITION BY cluster_id) AS cluster_size
         |  FROM cc),
         |byc AS (SELECT cluster_size, count(DISTINCT cluster_id)
         |      AS n_clusters, count(*) AS n_docs
         |  FROM cs GROUP BY 1),
         |ndoc AS (SELECT count(*) AS nd FROM documents),
         |ncl AS (SELECT count(*) AS ncl FROM cs),
         |un AS (SELECT cluster_size, n_clusters, n_docs FROM byc
         |  UNION ALL SELECT 1,
         |    (SELECT nd FROM ndoc) - (SELECT ncl FROM ncl),
         |    (SELECT nd FROM ndoc) - (SELECT ncl FROM ncl))
         |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
         |  CAST(n_clusters AS BIGINT) AS n_clusters,
         |  CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(1000000 // cluster_size AS BIGINT) AS weight_ppm,
         |  CAST(n_docs * 1000 // cluster_size AS BIGINT) AS eff_docs_milli
         |FROM un WHERE n_docs > 0""".stripMargin,
    "q780_changepoint_sse" ->
      s"""WITH dem AS (SELECT p_brand AS brand,
         |    CAST((year(l_shipdate) - 1992) * 12 + month(l_shipdate)
         |      AS BIGINT) AS mi,
         |    sum(CAST(l_quantity AS BIGINT)) AS y
         |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1, 2),
         |sc AS (SELECT brand, mi, y,
         |    CAST(row_number() OVER (PARTITION BY brand ORDER BY mi)
         |      AS BIGINT) AS i,
         |    sum(y) OVER (PARTITION BY brand ORDER BY mi
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pl,
         |    sum(y * y) OVER (PARTITION BY brand ORDER BY mi
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pl2,
         |    count(*) OVER (PARTITION BY brand) AS n,
         |    sum(y) OVER (PARTITION BY brand) AS sy,
         |    sum(y * y) OVER (PARTITION BY brand) AS sy2
         |  FROM dem),
         |g AS (SELECT brand, mi, i, n,
         |    pl2 * 1000 - pl * pl * 1000 // i
         |      + (sy2 - pl2) * 1000
         |      - (sy - pl) * (sy - pl) * 1000 // (n - i) AS sse_split,
         |    sy2 * 1000 - sy * sy * 1000 // n AS sse_full
         |  FROM sc WHERE i < n),
         |r AS (SELECT brand, mi, i, n, sse_split, sse_full,
         |    row_number() OVER (PARTITION BY brand ORDER BY sse_split, mi)
         |      AS rn
         |  FROM g)
         |SELECT brand, mi AS split_mi, CAST(i AS BIGINT) AS n_left,
         |  CAST(n - i AS BIGINT) AS n_right,
         |  CAST(sse_full AS BIGINT) AS sse_full_milli,
         |  CAST(sse_split AS BIGINT) AS sse_split_milli,
         |  CAST(CASE WHEN sse_full > 0 THEN (sse_full - sse_split)
         |    * 1000000 // sse_full ELSE 0 END AS BIGINT) AS gain_ppm
         |FROM r WHERE rn = 1""".stripMargin,
    "q781_cohort_matrix" ->
      s"""WITH act AS (SELECT DISTINCT o_custkey AS c,
         |    CAST((year(o_orderdate) - 1992) * 12 + month(o_orderdate)
         |      AS BIGINT) AS mi
         |  FROM orders),
         |coh AS (SELECT c, min(mi) AS cohort FROM act GROUP BY 1),
         |sizes AS (SELECT cohort, count(*) AS cohort_size
         |  FROM coh GROUP BY 1),
         |cells AS (SELECT coh.cohort, act.mi - coh.cohort AS age,
         |    count(DISTINCT act.c) AS n_active
         |  FROM act JOIN coh ON coh.c = act.c
         |  WHERE act.mi - coh.cohort <= 11
         |  GROUP BY 1, 2)
         |SELECT cells.cohort, CAST(age AS BIGINT) AS age,
         |  CAST(n_active AS BIGINT) AS n_active,
         |  CAST(cohort_size AS BIGINT) AS cohort_size,
         |  CAST(n_active * 1000000 // cohort_size AS BIGINT)
         |    AS retention_ppm
         |FROM cells JOIN sizes ON sizes.cohort = cells.cohort""".stripMargin,
    "q782_anova_eta" ->
      s"""WITH o AS (SELECT o_orderpriority AS grp,
         |    CAST(floor(o_totalprice / 1000) AS BIGINT) AS y FROM orders),
         |per AS (SELECT grp, count(*) AS n_g, sum(y) AS s_g,
         |    sum(y * y) AS ss_g FROM o GROUP BY 1),
         |agg AS (SELECT count(*) AS n_groups, sum(n_g) AS n, sum(s_g) AS s,
         |    sum(ss_g) AS ssx, sum(s_g * s_g * 1000 // n_g) AS ssb_raw
         |  FROM per)
         |SELECT CAST(n_groups AS BIGINT) AS n_groups, CAST(n AS BIGINT)
         |    AS n,
         |  CAST(ssb_raw - s * s * 1000 // n AS BIGINT) AS ssb_milli,
         |  CAST(ssx * 1000 - s * s * 1000 // n AS BIGINT) AS sst_milli,
         |  CAST(CASE WHEN ssx * 1000 - s * s * 1000 // n > 0
         |    THEN (ssb_raw - s * s * 1000 // n) * 1000000
         |      // (ssx * 1000 - s * s * 1000 // n)
         |    ELSE 0 END AS BIGINT) AS eta2_ppm
         |FROM agg""".stripMargin,
    "q783_chi_square" ->
      s"""WITH cells AS (SELECT o_orderpriority AS r, o_orderstatus AS c,
         |    count(*) AS obs FROM orders GROUP BY 1, 2),
         |dims AS (SELECT count(DISTINCT r) - 1 AS dr,
         |    count(DISTINCT c) - 1 AS dc FROM cells),
         |x AS (SELECT r, c, obs,
         |    sum(obs) OVER (PARTITION BY r) AS rt,
         |    sum(obs) OVER (PARTITION BY c) AS ct,
         |    sum(obs) OVER () AS n
         |  FROM cells),
         |z AS (SELECT r, c, obs, rt * ct * 1000 // n AS e_milli,
         |    CASE WHEN rt * ct * 1000 // n > 0
         |      THEN (obs * 1000 - rt * ct * 1000 // n)
         |        * (obs * 1000 - rt * ct * 1000 // n)
         |        // (rt * ct * 1000 // n)
         |      ELSE 0 END AS contrib_milli
         |  FROM x)
         |SELECT r, c, CAST(obs AS BIGINT) AS obs,
         |  CAST(e_milli AS BIGINT) AS e_milli,
         |  CAST(contrib_milli AS BIGINT) AS contrib_milli,
         |  CAST(sum(contrib_milli) OVER () AS BIGINT) AS chi2_milli,
         |  CAST((SELECT dr * dc FROM dims) AS BIGINT) AS dof
         |FROM z""".stripMargin,
    "q784_topk_stability" ->
      s"""WITH base AS (SELECT l_partkey AS pk, month(l_shipdate) % 2
         |      AS half,
         |    sum(CAST(floor(l_extendedprice * (100 - l_discount * 100))
         |      AS BIGINT)) AS rev
         |  FROM lineitem GROUP BY 1, 2),
         |top AS (SELECT pk, half,
         |    row_number() OVER (PARTITION BY half ORDER BY rev DESC, pk)
         |      AS rk
         |  FROM base),
         |a AS (SELECT pk, rk AS rk_a FROM top WHERE half = 1 AND rk <= 20),
         |b AS (SELECT pk, rk AS rk_b FROM top WHERE half = 0 AND rk <= 20),
         |j AS (SELECT rk_a, rk_b FROM a FULL OUTER JOIN b ON a.pk = b.pk)
         |SELECT CAST(sum(CASE WHEN rk_a IS NOT NULL AND rk_b IS NOT NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
         |  CAST(sum(CASE WHEN rk_a = rk_b THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_same_rank,
         |  CAST(count(*) AS BIGINT) AS n_union,
         |  CAST(sum(CASE WHEN rk_a IS NOT NULL AND rk_b IS NOT NULL
         |    THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
         |    AS jaccard_ppm
         |FROM j""".stripMargin,
    "q785_bigram_lift" ->
      s"""WITH ${SparkEntry.ToksCte},
         |tk AS (SELECT doc_id, t FROM toks WHERE length(trim(text)) > 0),
         |uni AS (SELECT w, count(*) AS cu FROM (
         |    SELECT unnest(t) AS w FROM tk) u GROUP BY 1),
         |tot AS (SELECT sum(cu) AS nn FROM uni),
         |bg AS (SELECT t[i] AS w1, t[i + 1] AS w2, count(*) AS cb
         |  FROM tk, unnest(generate_series(1, len(t) - 1)) AS u(i)
         |  GROUP BY 1, 2 HAVING count(*) >= 5),
         |l AS (SELECT w1, w2, cb,
         |    cb * (SELECT nn FROM tot) * 1000000 // (c1.cu * c2.cu)
         |      AS lift_ppm
         |  FROM bg JOIN uni c1 ON c1.w = bg.w1
         |          JOIN uni c2 ON c2.w = bg.w2)
         |SELECT w1, w2, CAST(cb AS BIGINT) AS cb,
         |  CAST(lift_ppm AS BIGINT) AS lift_ppm
         |FROM l ORDER BY lift_ppm DESC, w1, w2 LIMIT 25""".stripMargin,
    "q786_roc_points" ->
      s"""WITH d AS (SELECT n_chars AS score,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents),
         |th AS (SELECT unnest([100, 300, 1000, 3000]) AS t),
         |agg AS (SELECT th.t,
         |    sum(CASE WHEN score >= th.t AND y = 1 THEN 1 ELSE 0 END)
         |      AS tp,
         |    sum(CASE WHEN score >= th.t AND y = 0 THEN 1 ELSE 0 END)
         |      AS fp,
         |    sum(CASE WHEN score < th.t AND y = 1 THEN 1 ELSE 0 END)
         |      AS fn,
         |    sum(CASE WHEN score < th.t AND y = 0 THEN 1 ELSE 0 END)
         |      AS tn
         |  FROM d CROSS JOIN th GROUP BY 1)
         |SELECT CAST(t AS BIGINT) AS t, CAST(tp AS BIGINT) AS tp,
         |  CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
         |  CAST(tn AS BIGINT) AS tn,
         |  CAST(CASE WHEN tp + fn > 0 THEN tp * 1000000 // (tp + fn)
         |    ELSE 0 END AS BIGINT) AS tpr_ppm,
         |  CAST(CASE WHEN fp + tn > 0 THEN fp * 1000000 // (fp + tn)
         |    ELSE 0 END AS BIGINT) AS fpr_ppm,
         |  CAST(CASE WHEN tp + fp > 0 THEN tp * 1000000 // (tp + fp)
         |    ELSE 0 END AS BIGINT) AS precision_ppm
         |FROM agg""".stripMargin,
    "q787_herfindahl" ->
      s"""WITH rev AS (SELECT s_nationkey AS nation, r FROM (
         |    SELECT l_suppkey,
         |      sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS r
         |    FROM lineitem GROUP BY 1) x
         |  JOIN supplier ON s_suppkey = l_suppkey),
         |tot AS (SELECT nation, sum(r) AS nr FROM rev GROUP BY 1),
         |sh AS (SELECT rev.nation, r * 1000000 // nr AS share_ppm
         |  FROM rev JOIN tot ON tot.nation = rev.nation)
         |SELECT CAST(nation AS BIGINT) AS nation,
         |  CAST(count(*) AS BIGINT) AS n_suppliers,
         |  CAST(sum(share_ppm * share_ppm) // 1000000 AS BIGINT) AS hhi_ppm,
         |  CAST(max(share_ppm) AS BIGINT) AS top_share_ppm
         |FROM sh GROUP BY nation""".stripMargin,
    "q788_price_volume_bridge" ->
      s"""WITH y0 AS (SELECT p_brand AS brand,
         |    sum(CAST(l_quantity AS BIGINT)) AS q,
         |    sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS rev
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  WHERE year(l_shipdate) = 1996 GROUP BY 1),
         |y1 AS (SELECT p_brand AS brand,
         |    sum(CAST(l_quantity AS BIGINT)) AS q,
         |    sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS rev
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  WHERE year(l_shipdate) = 1997 GROUP BY 1),
         |j AS (SELECT y0.brand, y0.rev AS r0, y1.rev AS r1,
         |    y0.q AS q0, y1.q AS q1,
         |    y0.rev // y0.q AS p0, y1.rev // y1.q AS p1
         |  FROM y0 JOIN y1 ON y1.brand = y0.brand)
         |SELECT brand, CAST(r0 AS BIGINT) AS r0_cents,
         |  CAST(r1 AS BIGINT) AS r1_cents,
         |  CAST(q0 * (p1 - p0) AS BIGINT) AS price_effect,
         |  CAST(p0 * (q1 - q0) AS BIGINT) AS volume_effect,
         |  CAST((p1 - p0) * (q1 - q0) AS BIGINT) AS interaction,
         |  CAST(r1 - r0 - q0 * (p1 - p0) - p0 * (q1 - q0)
         |    - (p1 - p0) * (q1 - q0) AS BIGINT) AS residual
         |FROM j""".stripMargin,
    "q789_iqr_outliers" ->
      s"""WITH v AS (SELECT p_brand AS brand,
         |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
         |  FROM lineitem JOIN part ON l_partkey = p_partkey),
         |rk AS (SELECT brand, cents,
         |    row_number() OVER (PARTITION BY brand ORDER BY cents) AS rn,
         |    count(*) OVER (PARTITION BY brand) AS n FROM v),
         |qs AS (SELECT brand, min(cents) AS q1, max(cents) AS q3
         |  FROM rk WHERE rn = (n + 3) // 4 OR rn = (3 * n + 3) // 4
         |  GROUP BY 1),
         |f AS (SELECT brand, q1, q3,
         |    q1 - (3 * (q3 - q1)) // 2 AS lo,
         |    q3 + (3 * (q3 - q1)) // 2 AS hi FROM qs)
         |SELECT v.brand, CAST(max(f.q1) AS BIGINT) AS q1,
         |  CAST(max(f.q3) AS BIGINT) AS q3,
         |  CAST(sum(CASE WHEN cents < lo THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_low,
         |  CAST(sum(CASE WHEN cents > hi THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_high
         |FROM v JOIN f ON f.brand = v.brand GROUP BY v.brand""".stripMargin,
    "q790_mcnemar" ->
      s"""WITH ${SparkEntry.ToksCte},
         |d AS (SELECT d2.source,
         |    CASE WHEN d2.lang = 'en' THEN 1 ELSE 0 END AS y,
         |    CASE WHEN length(d2.text) >= 300 THEN 1 ELSE 0 END AS pa,
         |    CASE WHEN len(toks.t) >= 60 THEN 1 ELSE 0 END AS pb
         |  FROM documents d2 JOIN toks ON toks.doc_id = d2.doc_id),
         |agg AS (SELECT source, count(*) AS n,
         |    sum(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END) AS b_only,
         |    sum(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END) AS c_only
         |  FROM d GROUP BY 1)
         |SELECT source, CAST(n AS BIGINT) AS n,
         |  CAST(b_only AS BIGINT) AS b_only,
         |  CAST(c_only AS BIGINT) AS c_only,
         |  CAST(CASE WHEN b_only + c_only > 0
         |    THEN (b_only - c_only) * (b_only - c_only) * 1000
         |      // (b_only + c_only) ELSE 0 END AS BIGINT) AS chi2_milli
         |FROM agg""".stripMargin,
    "q791_calibration_ece" ->
      s"""WITH d AS (SELECT least(9, n_chars // 200) AS bin,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents),
         |b AS (SELECT bin, count(*) AS n_docs, sum(y) AS n_pos
         |  FROM d GROUP BY 1),
         |k AS (SELECT bin, n_docs, bin * 100000 + 50000 AS conf_ppm,
         |    n_pos * 1000000 // n_docs AS acc_ppm FROM b)
         |SELECT CAST(bin AS BIGINT) AS bin, CAST(n_docs AS BIGINT)
         |    AS n_docs,
         |  CAST(conf_ppm AS BIGINT) AS conf_ppm,
         |  CAST(acc_ppm AS BIGINT) AS acc_ppm,
         |  CAST(sum(abs(acc_ppm - conf_ppm) * n_docs) OVER ()
         |    // sum(n_docs) OVER () AS BIGINT) AS ece_ppm
         |FROM k""".stripMargin,
    "q792_source_vocab_overlap" ->
      s"""WITH ${SparkEntry.ToksCte},
         |vt AS (SELECT DISTINCT d2.source, u.w
         |  FROM toks JOIN documents d2 ON d2.doc_id = toks.doc_id,
         |  unnest(list_distinct(toks.t)) AS u(w)),
         |sz AS (SELECT source, count(*) AS nv FROM vt GROUP BY 1),
         |pr AS (SELECT a.source AS source_a, b.source AS source_b,
         |    count(*) AS n_common
         |  FROM vt a JOIN vt b ON a.w = b.w AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT source_a, source_b, CAST(n_common AS BIGINT) AS n_common,
         |  CAST(x.nv AS BIGINT) AS nv_a, CAST(y.nv AS BIGINT) AS nv_b,
         |  CAST(n_common * 1000000 // (x.nv + y.nv - n_common) AS BIGINT)
         |    AS jaccard_ppm
         |FROM pr JOIN sz x ON x.source = pr.source_a
         |        JOIN sz y ON y.source = pr.source_b""".stripMargin
  )
}
