package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.DimKey
import graft.operators.{LocalGate, Seal}
import graft.sources.Tables

/** Round-11 queries (q714+). Separate object: the earlier query objects'
  * map builders sit near the JVM 64 KB method-bytecode ceiling, so new
  * surface accretes here and chains into `SparkEntry.queries` /
  * `oracleSql`.
  */
object R15Queries {

  private def rd(s: SparkSession, dir: String, t: String): DataFrame =
    Tables.read(s, dir, t)

  /** q737's 12-step removal-effect fixed point over the (f, t, ppm)
    * transition relation, r15/r16 driver-gate discipline: the chain is
    * CHANNEL-dimension-sized by construction (states = the event-type
    * domain), so at ≤ `gateRows` transition rows the iterations fold on
    * the driver with the IDENTICAL truncating `sum(ppm·v) DIV 1e6`
    * arithmetic (all terms non-negative, so Scala `/` == Spark DIV);
    * above the gate the original distributed loop runs verbatim.
    * Scenarios: every non-START source state, plus the `__base__`
    * no-removal run. Returns (sc, state, p) after `iters` steps.
    * Identity across the gate is pinned in `Round23OpsSpec`.
    */
  private[graft] def markovRemovalSolve(tr: DataFrame, iters: Int,
                                        gateRows: Long = 4096L): DataFrame = {
    val spark = tr.sparkSession
    import spark.implicits._
    LocalGate(tr.select("f", "t", "ppm"), gateRows, new Seal.Tracker) {
        (rows: Array[(String, String, Long)]) =>
      val states = rows.map(_._1).distinct.toSeq
      val scen = states.filter(_ != "START") :+ "__base__"
      val byF = rows.groupBy(_._1)
      var p = Map.empty[(String, String), Long]
      for (_ <- 1 to iters) {
        p = (for (sc <- scen; f <- states) yield {
          val acc = byF(f).iterator.map { case (_, t, ppm) =>
            val v =
              if (t == "CONV") 1000000L
              else if (t == sc) 0L
              else p.getOrElse((sc, t), 0L)
            ppm * v
          }.sum
          (sc, f) -> acc / 1000000L
        }).toMap
      }
      p.toSeq.map { case ((sc, st), v) => (sc, st, v) }
        .toDF("sc", "state", "p")
    } { tr =>
      val states = tr.select(col("f").as("state")).distinct()
        .localCheckpoint()
      val scen = states.filter(col("state") =!= "START")
        .select(col("state").as("sc"))
        .unionByName(states.sparkSession.range(1)
          .select(lit("__base__").as("sc")))
        .localCheckpoint()
      var p = scen.crossJoin(states).withColumn("p", lit(0L))
        .select("sc", "state", "p").localCheckpoint()
      for (_ <- 1 to iters) {
        p = scen.crossJoin(tr)
          .join(p.select(col("sc"), col("state").as("t"),
                         col("p").as("pv")), Seq("sc", "t"), "left")
          .withColumn("v",
            when(col("t") === "CONV", lit(1000000L))
              .when(col("t") === col("sc"), lit(0L))
              .otherwise(coalesce(col("pv"), lit(0L))))
          .groupBy(col("sc"), col("f").as("state"))
          .agg(expr("sum(ppm * v) DIV 1000000L").as("p"))
          .select("sc", "state", "p")
          .localCheckpoint()
      }
      p
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q714_dual_verifier_linkage" -> ((s, dir) => {
      // ER dual-verifier adjudication: ONE blocking pass (first letter)
      // feeds BOTH verifier lenses — Levenshtein (typo lens: counts
      // mutations anywhere) and exact integer Jaro–Winkler (name lens:
      // prefix-weighted, transposition-tolerant) — and the result is
      // every blocked pair at least one verifier accepts, with
      // per-verifier verdicts. The verifiers genuinely DISAGREE on this
      // vocabulary (58 jw-only, 4 lev-only, 12 both at the gate SF):
      // compound color-bigram names share long prefixes, which JW
      // up-weights and edit distance charges in full — exactly why the
      // ER tier offers both behind one blocking interface
      // (Linkage.fuzzyPairs / Linkage.jaroWinklerPairs). Vocabulary is
      // the adjacent-word bigrams of p_name (compound-name shape,
      // SF-stable at 64 values); everything past the distinct is
      // vocabulary-sized.
      val bg = rd(s, dir, "part")
        .select(split(col("p_name"), " ").as("ws"))
        .select(explode(expr(
          // sequence() DESCENDS when stop < start — guard 1-word names
          "IF(size(ws) < 2, array(), transform(sequence(1, size(ws) - 1)," +
            " i -> concat(element_at(ws, i), element_at(ws, i + 1))))"))
          .as("t"))
        .filter(length(col("t")).between(3, 20))
        .distinct()
        .withColumn("blk", substring(col("t"), 1, 1))
      graft.operators.Linkage
        .jaroWinklerPairs(bg, "t", "t", Seq("blk"), minJwPpm = 0L)
        .withColumn("lev",
          levenshtein(col("text_a"), col("text_b")).cast("bigint"))
        .withColumn("jw_accepts",
          when(col("jw_ppm") >= 840000L, 1L).otherwise(0L))
        .withColumn("lev_accepts",
          when(col("lev") <= 3L, 1L).otherwise(0L))
        .filter(col("jw_accepts") === 1L || col("lev_accepts") === 1L)
        .select(col("id_a").as("value_a"), col("id_b").as("value_b"),
                col("lev"), col("jw_ppm"),
                col("jw_accepts"), col("lev_accepts"))
    }),
    "q715_temporal_join_histories" -> ((s, dir) => {
      // SCD2 × SCD2 temporal join (Intervals.overlapJoin): two per-customer
      // version histories — order-priority versions keyed on order dates,
      // return-flag versions keyed on ship dates — intersected into
      // composite validity periods, the classic two-history "effective
      // dating" join a warehouse needs when BOTH dimensions are slowly
      // changing. Key-equal equi-join + overlap theta (half-open
      // intervals), so the shuffle is on the customer key, never a range
      // cross product; lead() closes each history with the 2999 sentinel
      // exactly like the SCD2 writer's high watermark.
      import org.apache.spark.sql.expressions.Window
      val sentinel = lit("2999-12-31 23:59:59").cast("timestamp")
      val o = rd(s, dir, "orders").filter(col("o_custkey") % 2 === 0)
        .localCheckpoint(false)
      val wA = Window.partitionBy(col("custkey")).orderBy(col("vfrom"))
      val hA = o
        .groupBy(col("o_custkey").as("custkey"),
                 col("o_orderdate").as("vfrom"))
        .agg(min(col("o_orderpriority")).as("priority"))
        .withColumn("vto",
          coalesce(lead(col("vfrom"), 1).over(wA), sentinel))
      val wB = Window.partitionBy(col("custkey")).orderBy(col("bfrom"))
      val hB = rd(s, dir, "lineitem")
        .join(o.select(col("o_orderkey"), col("o_custkey")),
              col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("custkey"),
                 col("l_shipdate").as("bfrom"))
        .agg(min(col("l_returnflag")).as("flag"))
        .withColumn("bto",
          coalesce(lead(col("bfrom"), 1).over(wB), sentinel))
      graft.operators.Intervals
        .overlapJoin(hA, hB, Seq("custkey"), "vfrom", "vto", "bfrom", "bto")
        .select(col("custkey"), col("overlap_from"), col("overlap_to"),
                col("priority"), col("flag"))
    }),
    "q716_ndcg" -> ((s, dir) => {
      // Reranker-style nDCG@10: graded relevance (2 = same label, 1 =
      // adjacent label) over the exact cosine top-10 (the q22 relation —
      // ranks are deterministic because both engines rank the identical
      // IEEE cosine), ideal ordering = the retrieved list resorted by
      // relevance. The log2 discount table is pinned as integer micro
      // literals (floor(1e6/log2(r+1))) IN BOTH ENGINES — nDCG stays
      // exact-integer end-to-end, so the gate hashes it like any count.
      import org.apache.spark.sql.expressions.Window
      val e = rd(s, dir, "embeddings")
      val topk = graft.operators.Similarity.bruteForceTopK(
        e.filter(col("vec_id") < 64), e, "vec_id", "embedding", k = 10)
      val lbl = e.select(col("vec_id"), col("label").cast("long").as("lbl"))
      val disc = array(NdcgDiscMicro.map(lit): _*)
      val wI = Window.partitionBy(col("query_id"))
        .orderBy(col("rel").desc, col("rank"))
      topk
        .join(broadcast(lbl.select(col("vec_id").as("query_id"),
                                   col("lbl").as("qlbl"))), "query_id")
        .join(broadcast(lbl.select(col("vec_id").as("neighbor_id"),
                                   col("lbl").as("nlbl"))), "neighbor_id")
        .withColumn("rel",
          when(col("qlbl") === col("nlbl"), 2L)
            .when(abs(col("qlbl") - col("nlbl")) === 1L, 1L).otherwise(0L))
        .withColumn("dcg_term", col("rel") * element_at(disc, col("rank").cast("int")))
        .withColumn("irank", row_number().over(wI))
        .withColumn("idcg_term",
          col("rel") * element_at(disc, col("irank").cast("int")))
        .groupBy(col("query_id"))
        .agg(sum(col("dcg_term")).as("dcg_micro"),
             sum(col("idcg_term")).as("idcg_micro"))
        .withColumn("ndcg_ppm",
          when(col("idcg_micro") > 0,
               expr("dcg_micro * 1000000L DIV idcg_micro")).otherwise(0L))
    }),
    "q717_four_cliques" -> ((s, dir) => {
      // 4-clique census (Graph.fourCliqueStats) on the STRONG co-purchase
      // graph (pairs sharing ≥ 2 orders — the raw graph's wedge volume
      // makes clique counting quadratic, the counted filter is the
      // documented thinning lever): triangles from the degree-ordered
      // orientation, 4-cliques = triangles extended by a common
      // out-neighbor of all three corners — each clique counted exactly
      // once because the orientation is a total order (the q224 design,
      // one join deeper). Equi-joins only; out-degree stays O(√E).
      val li = Tables.spread(s, rd(s, dir, "lineitem"))
      graft.operators.Graph.fourCliqueStats(
        graft.operators.Graph.coOccurrenceEdgesCached(
          li, "l_orderkey", "l_partkey", minCount = 2))
    }),
    "q718_rmst" -> ((s, dir) => {
      // Restricted mean survival time at τ = 60 days (Survival.rmst): the
      // area under q683's Kaplan–Meier step curve — the standard KM
      // companion when median survival is undefined. Same cohort as q683
      // (first event → first %13 error, right-censored at last event);
      // the integral is a windowed sum over the days-sized ladder in
      // exact ppm·day integers, so both engines agree bit-for-bit.
      val life = SparkEntry.ev(s, dir)
        .groupBy(col("user_id"))
        .agg(min(col("ts")).cast("date").as("first_day"),
             min(when(col("event_type") === "error" &&
                        col("event_id") % 13 === 0, col("ts")))
               .cast("date").as("err_day"),
             max(col("ts")).cast("date").as("last_day"))
      val subj = life.select(
        datediff(coalesce(col("err_day"), col("last_day")),
                 col("first_day")).cast("long").as("dur"),
        when(col("err_day").isNull, 1).otherwise(0).as("censored"))
      graft.operators.Survival.rmst(subj, "dur", "censored", tau = 60L)
    }),
    "q719_blocking_quality" -> ((s, dir) => {
      // Blocking-quality audit for the ER tier: reduction ratio (how many
      // comparisons blocking saves) and pairs completeness (how much
      // ground truth survives the blocks) for the (first letter, length
      // band) blocking key over the p_name first-word vocabulary, with
      // truth = Levenshtein ≤ 2. The full pair relation is VOCABULARY-
      // sized (≤ ~100 values at any SF — TPC-H color words), so the audit
      // is honest: exactly the bounded-domain cross the blocked joins
      // themselves avoid on row-sized inputs. One scan, one aggregate.
      val v = rd(s, dir, "part")
        .select(split(col("p_name"), " ").getItem(0).as("t")).distinct()
        .withColumn("blk", concat(substring(col("t"), 1, 1), lit(":"),
                                  expr("CAST(length(t) DIV 3 AS STRING)")))
      v.select(col("t").as("ta"), col("blk").as("ba"))
        .join(v.select(col("t").as("tb"), col("blk").as("bb")),
              col("ta") < col("tb"))
        .agg(
          count(lit(1)).as("n_pairs"),
          sum(when(col("ba") === col("bb"), 1L).otherwise(0L)).as("n_cand"),
          sum(when(levenshtein(col("ta"), col("tb")) <= 2, 1L).otherwise(0L))
            .as("n_truth"),
          sum(when(col("ba") === col("bb") &&
                     levenshtein(col("ta"), col("tb")) <= 2, 1L)
                .otherwise(0L)).as("n_found"))
        .withColumn("rr_ppm",
          expr("(n_pairs - n_cand) * 1000000L DIV n_pairs"))
        .withColumn("pc_ppm",
          expr("CASE WHEN n_truth > 0 THEN n_found * 1000000L DIV n_truth" +
               " ELSE 0L END"))
    }),
    "q720_fellegi_sunter" -> ((s, dir) => {
      // Fellegi–Sunter agreement weights for the ER tier: over the labeled
      // vocabulary pair relation (truth = Levenshtein ≤ 2, q719's bounded
      // domain), per-comparator m = P(agree | match) and u = P(agree |
      // non-match) in exact ppm, and the match/non-match odds m/u — the
      // classical record-linkage score the blocked verifiers (q714)
      // threshold on, kept in ratio form so no logs touch the gate. One
      // vocabulary-sized pair scan, one stack, one aggregate.
      val v = rd(s, dir, "part")
        .select(split(col("p_name"), " ").getItem(0).as("t")).distinct()
      v.select(col("t").as("ta"))
        .join(v.select(col("t").as("tb")), col("ta") < col("tb"))
        .withColumn("m", levenshtein(col("ta"), col("tb")) <= 2)
        .select(col("m"), expr(
          "stack(3," +
            " 'first_letter', substring(ta, 1, 1) = substring(tb, 1, 1)," +
            " 'length_eq', length(ta) = length(tb)," +
            " 'last_letter', substring(ta, length(ta), 1) =" +
            "   substring(tb, length(tb), 1)) AS (field, agree)"))
        .groupBy(col("field"))
        .agg(sum(when(col("m"), 1L).otherwise(0L)).as("n_match"),
             sum(when(!col("m"), 1L).otherwise(0L)).as("n_unmatch"),
             sum(when(col("m") && col("agree"), 1L).otherwise(0L)).as("_am"),
             sum(when(!col("m") && col("agree"), 1L).otherwise(0L)).as("_au"))
        .withColumn("m_ppm",
          expr("CASE WHEN n_match > 0 THEN _am * 1000000L DIV n_match" +
               " ELSE 0L END"))
        .withColumn("u_ppm",
          expr("CASE WHEN n_unmatch > 0 THEN _au * 1000000L DIV n_unmatch" +
               " ELSE 0L END"))
        .withColumn("odds_ppm",
          expr("CASE WHEN u_ppm > 0 THEN m_ppm * 1000000L DIV u_ppm" +
               " ELSE 0L END"))
        .drop("_am", "_au")
    }),
    "q721_pinball_loss" -> ((s, dir) => {
      // Pinball (quantile) loss — the eval that scores a QUANTILE forecast
      // the way MAE scores a point forecast: per-brand monthly revenue,
      // train = first 24 calendar months, forecast = the exact ceil(q·n)
      // order statistic of the train months (deterministic, no averaged
      // medians), eval months pay q·(y−f) when under-forecast and
      // (1−q)·(f−y) when over, q ∈ {0.5, 0.9} in permille. Exact
      // cents-integer arithmetic end-to-end; everything past the fact
      // rollup is (brand × month)-sized.
      import org.apache.spark.sql.expressions.Window
      val rev = rd(s, dir, "lineitem")
        .join(rd(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"),
                 ((year(col("l_shipdate")) - 1995) * 12 +
                   month(col("l_shipdate"))).as("mi"))
        .agg(sum(expr("CAST(floor(l_extendedprice * 100) AS BIGINT)"))
               .as("rev_cents"))
        .localCheckpoint(false)
      val w = Window.partitionBy(col("brand")).orderBy(col("rev_cents"), col("mi"))
      val train = rev.filter(col("mi") <= 24)
        .withColumn("_rn", row_number().over(w))
        .withColumn("_n", count(lit(1)).over(Window.partitionBy(col("brand"))))
      val fc = train
        .crossJoin(spark_qs(s))
        .filter(col("_rn") === expr("(_n * q_permille + 999) DIV 1000"))
        .select(col("brand"), col("q_permille"),
                col("rev_cents").as("forecast_cents"))
      rev.filter(col("mi") > 24).as("e")
        .join(broadcast(fc), Seq("brand"))
        .groupBy(col("brand"), col("q_permille"))
        .agg(max(col("forecast_cents")).as("forecast_cents"),
             count(lit(1)).as("n_eval"),
             sum(expr(
               "CASE WHEN rev_cents >= forecast_cents" +
                 " THEN q_permille * (rev_cents - forecast_cents)" +
                 " ELSE (1000 - q_permille) * (forecast_cents - rev_cents)" +
                 " END")).as("pinball_milli_cents"))
    }),
    "q722_textrank" -> ((s, dir) => {
      // TextRank keyword extraction: the adjacency (window-1 co-occurrence)
      // graph of the corpus vocabulary, thinned to pairs seen ≥ 3 times,
      // symmetrized, then 3 rounds of the library's EXACT-INTEGER PageRank
      // (Graph.pagerank — micro-scaled DIV arithmetic, so both engines
      // reproduce the ranks bit-for-bit; float PageRank never survives a
      // hash gate) and the top-20 keywords. Corpus scan → vocabulary-sized
      // graph; the iteration shuffles are vocabulary-sized too.
      import org.apache.spark.sql.expressions.Window
      val bg = rd(s, dir, "documents")
        .select(graft.operators.TextAnalysis.tokens(col("text")).as("t"))
        .select(explode(expr(
          "IF(size(t) < 2, array()," +
            " transform(sequence(1, size(t) - 1)," +
            " i -> struct(element_at(t, i) AS w1," +
            "             element_at(t, i + 1) AS w2)))")).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .filter(col("w1") =!= col("w2"))
      val pc = bg
        .groupBy(least(col("w1"), col("w2")).as("a"),
                 greatest(col("w1"), col("w2")).as("b"))
        .agg(count(lit(1)).as("_n"))
        .filter(col("_n") >= 3)
      val edges = pc.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(pc.select(col("b").as("src"), col("a").as("dst")))
      val pr = graft.operators.Graph.pagerank(edges, iters = 3)
      pr.withColumn("rnk", row_number().over(
          Window.partitionBy(DimKey.one)
            .orderBy(col("pr_micro").desc, col("node"))))
        .filter(col("rnk") <= 20)
        .select(col("rnk").cast("long").as("rnk"), col("node").as("keyword"),
                col("pr_micro"), col("outdeg"))
    }),
    "q723_curriculum_schedule" -> ((s, dir) => {
      // Curriculum pacing schedule: order the corpus easy→hard (difficulty
      // = whitespace token count), stream it into 4 equal token-budget
      // phases (phase boundary = quarter of the total token mass, not of
      // the doc count — the budget a training run actually spends), and
      // report each phase's doc count, token mass, share, and difficulty
      // span. One sort-order window pass over doc-level rollups; the
      // phase assignment is pure integer arithmetic off the running sum.
      import org.apache.spark.sql.expressions.Window
      val d = rd(s, dir, "documents")
        .select(col("doc_id"),
          graft.operators.TextAnalysis.tokenCount(col("text"))
            .cast("long").as("diff"))
      val w = Window.partitionBy(DimKey.one).orderBy(col("diff"), col("doc_id"))
      d.withColumn("cum", sum(col("diff")).over(w))
        .crossJoin(broadcast(d.agg(sum(col("diff")).as("total"))))
        .withColumn("phase",
          least(lit(4L), expr("(cum - diff) * 4 DIV total") + 1L))
        .groupBy(col("phase"))
        .agg(count(lit(1)).as("n_docs"), sum(col("diff")).as("tokens"),
             min(col("diff")).as("min_difficulty"),
             max(col("diff")).as("max_difficulty"),
             max(col("total")).as("_total"))
        .withColumn("share_ppm", expr("tokens * 1000000L DIV _total"))
        .drop("_total")
    }),
    "q725_band_join" -> ((s, dir) => {
      // Numeric band self-join — |price_a − price_b| ≤ 25¢ within a brand
      // — via the bucket-and-adjacent decomposition: bucket = cents DIV
      // band width, probe side explodes to {b−1, b, b+1}, the join is a
      // pure EQUI-join on (brand, bucket) and the exact band predicate is
      // a post-filter. The textbook theta self-join (the oracle runs it)
      // is O(n²) per brand and un-shuffleable; the decomposition shuffles
      // on the bucket key like any equi-join — the standard inequality-
      // join rewrite at 100 TB. Each qualifying pair lands exactly once
      // (a bucket value meets one probe value).
      val p = rd(s, dir, "part")
        .select(col("p_brand").as("brand"), col("p_partkey").as("id"),
                expr("CAST(floor(p_retailprice * 100) AS BIGINT)").as("cents"))
        .withColumn("bkt", expr("cents DIV 25"))
        .localCheckpoint(false)
      val probe = p.select(col("brand").as("brand_b"), col("id").as("id_b"),
                           col("cents").as("cents_b"),
          explode(array(col("bkt") - 1, col("bkt"), col("bkt") + 1))
            .as("bkt"))
      p.join(probe,
             col("brand") === col("brand_b") && p("bkt") === probe("bkt") &&
               col("id") < col("id_b") &&
               abs(col("cents") - col("cents_b")) <= 25)
        .groupBy(col("brand"))
        .agg(count(lit(1)).as("n_pairs"),
             min(abs(col("cents") - col("cents_b"))).as("min_diff"),
             max(abs(col("cents") - col("cents_b"))).as("max_diff"))
    }),
    "q726_stream_outer_join" -> ((s, dir) => {
      // LEFT-OUTER stream-stream join, driver-checked end-to-end: q217's
      // watermarked click-through join with the outer arm exercised —
      // unmatched impressions must emit their null-click row only after
      // the global watermark passes imp_ts + window (state expiry, not
      // batch-join fallback). Three interleaved micro-batches, then two
      // far-future sentinel batches on BOTH feeds advance the watermark
      // so every pending outer row flushes; sentinel rows filter out on
      // user_id. Oracle = the flat LEFT JOIN with the same window bound.
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      def side(t: String) = SparkEntry.ev(s, dir)
        .filter(col("user_id") % 7 === 3 && col("event_type") === t)
        .select(col("event_id"), col("ts"), col("user_id"))
        .as[(Long, java.sql.Timestamp, Long)].collect().toSeq
      val (imps, clks) = (side("view"), side("click"))
      val srcI = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp, Long)]
      val srcC = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp, Long)]
      val joined = graft.streaming.JoinStream.clickThrough(
        srcI.toDF().toDF("imp_id", "imp_ts", "user_id"),
        srcC.toDF().toDF("click_id", "click_ts", "user_id"),
        Seq("user_id"), "imp_ts", "click_ts",
        windowSec = 3600, watermarkDelay = "40 days",
        joinType = "left_outer")
      val tbl = "q726_loj_" + java.util.UUID.randomUUID.toString.replace("-", "")
      SparkEntry.withStreamShuffle(s) {
        val q = joined.writeStream.format("memory").queryName(tbl)
          .outputMode("append").start()
        try {
          (0 until 3).foreach { i =>
            srcI.addData(imps.filter(_._1 % 3 == i): _*)
            srcC.addData(clks.filter(_._1 % 3 == i): _*)
            q.processAllAvailable()
          }
          val flush = java.sql.Timestamp.valueOf("2025-06-01 00:00:00")
          srcI.addData((-1L, flush, -1L)); srcC.addData((-1L, flush, -1L))
          q.processAllAvailable()
          val flush2 = new java.sql.Timestamp(flush.getTime + 3600000L)
          srcI.addData((-2L, flush2, -1L)); srcC.addData((-2L, flush2, -1L))
          q.processAllAvailable()
        } finally q.stop()
      }
      s.table(tbl).filter(col("user_id") >= 0)
        .select(col("user_id"), col("imp_id"), col("imp_ts"),
                col("click_id"), col("click_ts"))
    }),
    "q727_katz_centrality" -> ((s, dir) => {
      // Katz centrality (Graph.katz): attenuated path counts — 4 rounds
      // of x ← 10⁶ + α·Σ_in x DIV 1000 (α = 50‰) over the symmetrized
      // strong co-purchase graph — the "influence through short paths"
      // complement to PageRank's random walk (no out-degree division, so
      // hubs radiate undamped). Exact-integer DIV arithmetic: both
      // engines reproduce every score bit-for-bit; one dst-keyed shuffle
      // per round.
      val li = Tables.spread(s, rd(s, dir, "lineitem"))
      val pc = graft.operators.Graph.coOccurrenceEdgesCached(
        li, "l_orderkey", "l_partkey", minCount = 2)
      val edges = pc.unionByName(
        pc.select(col("dst").as("src"), col("src").as("dst")))
      graft.operators.Graph.katz(edges, iters = 4, alphaPermille = 50L)
    }),
    "q728_weighted_intervals" -> ((s, dir) => {
      // WEIGHTED interval scheduling per supplier — the DP upgrade of
      // q664's greedy (greedy maximizes the COUNT; the DP maximizes total
      // quantity, which greedy gets wrong whenever a long heavy shipment
      // beats two light ones): intervals end-sorted, f(i) = max(f(i−1),
      // w_i + f(p(i))) with p(i) found as COUNT(ends ≤ start_i) — valid
      // because both the ends and the f sequence are nondecreasing, so
      // the predecessor lookup is an index, not a scan-max. Sequential
      // per key (aggregate() fold with array state), distributed across
      // keys; oracle = per-key recursive-CTE fold with LIST state (the
      // q650 discipline — never list_reduce).
      val iv = Tables.spread(s, rd(s, dir, "lineitem"))
        .filter(col("l_partkey") % 13 === 0)
        .select(col("l_suppkey").as("k"),
                expr("CAST(datediff(CAST(l_shipdate AS DATE)," +
                     " DATE '1970-01-01') AS BIGINT)").as("st"),
                expr("CAST(l_quantity AS BIGINT)").as("w"),
                col("l_orderkey"), col("l_linenumber"))
        .withColumn("en",
          expr("st + 1 + (l_orderkey + l_linenumber) % 14"))
      val folded = iv
        .groupBy(col("k"))
        .agg(sort_array(collect_list(struct(col("en"), col("st"), col("w"),
               col("l_orderkey"), col("l_linenumber")))).as("arr"))
        .withColumn("opt", expr(
          """aggregate(arr,
            |  named_struct('ends', CAST(array() AS ARRAY<BIGINT>),
            |               'fs', CAST(array() AS ARRAY<BIGINT>)),
            |  (acc, e) -> named_struct(
            |    'ends', concat(acc.ends, array(e.en)),
            |    'fs', concat(acc.fs, array(greatest(
            |      IF(size(acc.fs) = 0, CAST(0 AS BIGINT),
            |         element_at(acc.fs, -1)),
            |      e.w + IF(size(filter(acc.ends, x -> x <= e.st)) = 0,
            |               CAST(0 AS BIGINT),
            |               element_at(acc.fs,
            |                 size(filter(acc.ends, x -> x <= e.st)))))))),
            |  acc -> IF(size(acc.fs) = 0, CAST(0 AS BIGINT),
            |            element_at(acc.fs, -1)))""".stripMargin))
      folded.agg(count(lit(1)).as("n_suppliers"),
                 sum(col("opt")).as("total_opt"),
                 min(col("opt")).as("min_opt"),
                 max(col("opt")).as("max_opt"))
    }),
    "q729_holt_winters" -> ((s, dir) => {
      // Holt–Winters additive triple exponential smoothing (period 4,
      // α=β=γ=1/10) — the seasonal completion of the SES (q324) → Holt
      // (q528) ladder: per-brand quarterly quantity, calendar-dense, one
      // sequential fold per series in exact milli integers with
      // sign-folded DIV (truncation IS the pinned statistic), init lvl =
      // y₁·1000, trd = 0, seasonals = 0. Output: final state + the
      // 4-quarter-ahead forecasts lvl + k·trd + s[slot]. Distributed
      // across series, sequential only within (the q650 fold
      // discipline; oracle = per-brand recursive-CTE fold).
      val d0 = rd(s, dir, "lineitem")
        .join(rd(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("ctr"),
                 ((year(col("l_shipdate")) - 1995) * 4 +
                   quarter(col("l_shipdate"))).as("qi"))
        .agg(sum(expr("CAST(l_quantity AS BIGINT)")).as("y"))
      val span = rd(s, dir, "lineitem").agg(
        ((year(min(col("l_shipdate"))) - 1995) * 4 +
          quarter(min(col("l_shipdate")))).as("qlo"),
        ((year(max(col("l_shipdate"))) - 1995) * 4 +
          quarter(max(col("l_shipdate")))).as("qhi"))
      val cal = d0.select(col("ctr")).distinct()
        .crossJoin(broadcast(span))
        .select(col("ctr"),
                explode(sequence(col("qlo"), col("qhi"))).as("qi"))
        .join(d0, Seq("ctr", "qi"), "left")
        .select(col("ctr"), col("qi"), coalesce(col("y"), lit(0L)).as("y"))
      val folded = cal
        .groupBy(col("ctr"))
        .agg(sort_array(collect_list(struct(col("qi"), col("y")))).as("arr"))
        .withColumn("hw", expr(HwFoldSpark))
      folded.select(col("ctr"),
        col("hw.lvl").as("lvl_milli"), col("hw.trd").as("trd_milli"),
        col("hw.s1").as("s1_milli"), col("hw.s2").as("s2_milli"),
        col("hw.s3").as("s3_milli"), col("hw.s4").as("s4_milli"),
        expr(HwForecastSpark(1)).as("f1_milli"),
        expr(HwForecastSpark(2)).as("f2_milli"),
        expr(HwForecastSpark(3)).as("f3_milli"),
        expr(HwForecastSpark(4)).as("f4_milli"))
    }),
    "q730_jelinek_mercer" -> ((s, dir) => {
      // Jelinek–Mercer interpolated bigram LM scoring (λ = 0.7): per-doc
      // mean of p_jm = (700·p_bigram + 300·p_unigram) DIV 1000 in exact
      // ppm — the linear-interpolation smoothing next to q473's absolute-
      // discounting Kneser–Ney; the corpus n-gram tables are vocabulary-
      // sized broadcasts, the per-doc rollup one combine-enabled
      // aggregate. The interpolation FORM would let unseen bigrams score
      // p_bg = 0 and lean on the unigram arm — but that path is only
      // exercised scoring held-out text: here the bigram table is built
      // from the same corpus being scored, so every scored instance has
      // cb >= 1 by construction.
      val toks = rd(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"),
                graft.operators.TextAnalysis.tokens(col("text")).as("t"))
        .localCheckpoint(false)
      val uni = toks.select(explode(col("t")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cu"))
        .localCheckpoint(false)
      val total = uni.agg(sum(col("cu")).as("tt"))
      val bgInst = toks.select(col("doc_id"), explode(expr(
          "IF(size(t) < 2, array()," +
            " transform(sequence(1, size(t) - 1)," +
            " i -> struct(element_at(t, i) AS w1," +
            "             element_at(t, i + 1) AS w2)))")).as("p"))
        .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
        .localCheckpoint(false)
      val bg = bgInst.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("cb"))
      bgInst
        .join(broadcast(bg), Seq("w1", "w2"))
        .join(broadcast(uni.select(col("w").as("w1"), col("cu").as("cu1"))),
              Seq("w1"))
        .join(broadcast(uni.select(col("w").as("w2"), col("cu").as("cu2"))),
              Seq("w2"))
        .crossJoin(broadcast(total))
        .withColumn("p_jm_ppm", expr(
          "(700 * (cb * 1000000L DIV cu1) + 300 * (cu2 * 1000000L DIV tt))" +
            " DIV 1000"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
             expr("sum(p_jm_ppm) DIV count(1)").as("jm_score_ppm"))
    }),
    "q731_percentile_contract" -> ((s, dir) => {
      // Discrete-quantile CONTRACT: the explicit order statistic at rank
      // ceil(q·n) — computed with row_number, no quantile builtin at all
      // — must equal the oracle engine's quantile_disc at every q. Pins
      // the cross-engine convention (lower-of-middle at even n, exact
      // value from the multiset, never interpolated) the way q665/q666
      // pin try_cast and rounding; any future drift in either engine's
      // discrete-quantile semantics fails this hash.
      import org.apache.spark.sql.expressions.Window
      val p = rd(s, dir, "part")
        .select(col("p_brand").as("brand"),
                expr("CAST(floor(p_retailprice * 100) AS BIGINT)").as("cents"))
      val w = Window.partitionBy(col("brand")).orderBy(col("cents"))
      import s.implicits._
      val qs = Seq(250L, 500L, 750L, 900L).toDF("q_permille")
      p.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("brand"))))
        .crossJoin(broadcast(qs))
        .filter(col("rn") === expr("(n * q_permille + 999) DIV 1000"))
        .groupBy(col("brand"), col("q_permille"))
        .agg(max(col("cents")).as("value_cents"))
    }),
    "q732_temperature_mix" -> ((s, dir) => {
      // Temperature-scaled source mixing (τ = 1/2, the multilingual-
      // corpus flattening recipe): per (source, lang) cell weights ∝
      // isqrt(n) — integer square root, exact in BOTH engines because
      // IEEE sqrt is correctly rounded on int-valued doubles — allocated
      // against a 10k-doc budget with truncating DIV; before/after
      // shares expose the flattening (heavy cells give up mass to rare
      // ones). Cell-sized relation end-to-end after one corpus rollup.
      val cells = rd(s, dir, "documents")
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("w_isqrt",
          expr("CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT)"))
      cells
        .crossJoin(broadcast(cells.agg(sum(col("n_docs")).as("tot_n"),
                                       sum(col("w_isqrt")).as("tot_w"))))
        .withColumn("alloc", expr("10000 * w_isqrt DIV tot_w"))
        .withColumn("share_before_ppm", expr("n_docs * 1000000L DIV tot_n"))
        .withColumn("share_after_ppm", expr("alloc * 1000000L DIV 10000"))
        .withColumn("shift_ppm",
          col("share_after_ppm") - col("share_before_ppm"))
        .select("source", "lang", "n_docs", "w_isqrt", "alloc",
                "share_before_ppm", "share_after_ppm", "shift_ppm")
    }),
    "q733_shuffle_audit" -> ((s, dir) => {
      // Training-shuffle audit: order the corpus by a deterministic hash
      // (md5 of the doc id — both engines own the same bytes) and
      // measure source clumping in the shuffled order — adjacent
      // same-source pairs vs the random-permutation expectation
      // Σ nₛ(nₛ−1)/(N(N−1)), plus the longest same-source run. The data-
      // loader hygiene check: a bad shuffle key shows up as adj_ppm ≫
      // expected_ppm. One sort-order window pass; runs via the classic
      // change-flag cumulative sum.
      // Scale bound: expected_ppm's intermediate same_pairs·10⁶ is Spark
      // long arithmetic (same_pairs ~ Σ nₛ² ≤ N²) while DuckDB promotes
      // sums to HUGEINT — the engines diverge SILENTLY above ~3·10⁶ docs
      // (N²·10⁶ > 2⁶³). For larger corpora divide nn·(nn−1) into
      // same_pairs before the 10⁶ scale-up (costs the sub-ppm remainder)
      // or compute per-source shares first.
      import org.apache.spark.sql.expressions.Window
      val d = rd(s, dir, "documents")
        .select(col("doc_id"), col("source"),
                md5(col("doc_id").cast("string")).as("h"))
      val w = Window.partitionBy(DimKey.one).orderBy(col("h"), col("doc_id"))
      val seq0 = d
        .withColumn("prev_src", lag(col("source"), 1).over(w))
        .withColumn("chg",
          when(col("prev_src").isNull ||
                 col("prev_src") =!= col("source"), 1L).otherwise(0L))
        .withColumn("run_id", sum(col("chg")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val runs = seq0.groupBy(col("run_id"))
        .agg(count(lit(1)).as("run_len"))
        .agg(max(col("run_len")).as("longest_run"))
      val adj = seq0.agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("prev_src") === col("source"), 1L).otherwise(0L))
          .as("n_adjacent_same"))
      val exp0 = d.groupBy(col("source")).agg(count(lit(1)).as("ns"))
        .agg(sum(expr("ns * (ns - 1)")).as("same_pairs"),
             sum(col("ns")).as("nn"))
        .select(expr("same_pairs * 1000000L DIV (nn * (nn - 1))")
                  .as("expected_ppm"))
      adj.crossJoin(broadcast(runs)).crossJoin(broadcast(exp0))
        .withColumn("adj_ppm",
          expr("n_adjacent_same * 1000000L DIV (n_docs - 1)"))
        .select("n_docs", "n_adjacent_same", "adj_ppm", "expected_ppm",
                "longest_run")
    }),
    "q734_misra_gries" -> ((s, dir) => {
      // Misra–Gries heavy-hitter summary (k = 4) per source — the
      // DETERMINISTIC frequency sketch (true_count − n/(k+1) ≤ mg_count ≤
      // true_count, no hash collisions, mergeable) next to the
      // probabilistic CMS (q208) and Space-Saving stream (q368). The
      // counter maintenance is inherently sequential, so it folds per
      // source over the (doc, position)-ordered token stream (aggregate()
      // with parallel-list state, the q728 machinery) — distributed
      // ACROSS sources; oracle = per-source recursive-CTE fold with LIST
      // state. Stream bounded to 12 tokens of every 17th doc.
      val st = rd(s, dir, "documents")
        .filter(col("doc_id") % 17 === 0 &&
                  length(trim(col("text"))) > 0)
        .select(col("source"), col("doc_id"),
          posexplode(slice(
            graft.operators.TextAnalysis.tokens(col("text")), 1, 12))
            .as(Seq("pos", "w")))
      val folded = st
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_stream"),
             sort_array(collect_list(struct(col("doc_id"), col("pos"),
               col("w")))).as("arr"))
        .withColumn("mg", expr(MgFoldSpark))
      folded.select(col("source"), col("n_stream"),
          explode(expr(
            "IF(size(mg.ts) = 0, CAST(array() AS" +
              " ARRAY<STRUCT<token: STRING, mg_count: BIGINT>>)," +
              " transform(sequence(1, size(mg.ts))," +
              " j -> struct(element_at(mg.ts, j) AS token," +
              " element_at(mg.cs, j) AS mg_count)))")).as("e"))
        .select(col("source"), col("e.token").as("token"),
                col("e.mg_count").as("mg_count"), col("n_stream"))
    }),
    "q735_c_index" -> ((s, dir) => {
      // Harrell's concordance index for the survival tier (q683 KM, q718
      // RMST): does first-day activity predict time-to-first-error? A
      // pair is usable when the shorter duration ended in an EVENT
      // (censored-shorter pairs are unknowable); concordant when the
      // shorter-lived subject had the HIGHER risk score, ties get half
      // credit — c = (2·conc + ties) / (2·usable) in exact ppm. The pair
      // relation is cohort²-shaped and the cohort is user-dimension-
      // sized; the oracle runs the same theta join.
      val ev = SparkEntry.ev(s, dir)
      val life = ev.groupBy(col("user_id"))
        .agg(min(col("ts")).cast("date").as("first_day"),
             min(when(col("event_type") === "error" &&
                        col("event_id") % 13 === 0, col("ts")))
               .cast("date").as("err_day"),
             max(col("ts")).cast("date").as("last_day"))
      val score = ev
        .groupBy(col("user_id"))
        .agg(min(col("ts")).cast("date").as("d0"))
        .join(ev, Seq("user_id"))
        .filter(col("ts").cast("date") === col("d0"))
        .groupBy(col("user_id")).agg(count(lit(1)).as("score"))
      val subj = life.select(col("user_id"),
          datediff(coalesce(col("err_day"), col("last_day")),
                   col("first_day")).cast("long").as("dur"),
          when(col("err_day").isNull, 0L).otherwise(1L).as("event"))
        .join(score, Seq("user_id"))
        .localCheckpoint(false)
      val a = subj.select(col("dur").as("dur_a"), col("event").as("ev_a"),
                          col("score").as("sc_a"))
      val b = subj.select(col("dur").as("dur_b"), col("score").as("sc_b"))
      a.join(b, col("dur_a") < col("dur_b") && col("ev_a") === 1L)
        .agg(count(lit(1)).as("n_usable"),
             sum(when(col("sc_a") > col("sc_b"), 1L).otherwise(0L))
               .as("n_concordant"),
             sum(when(col("sc_a") === col("sc_b"), 1L).otherwise(0L))
               .as("n_tied"))
        .withColumn("c_index_ppm", expr(
          "CASE WHEN n_usable > 0 THEN (2 * n_concordant + n_tied)" +
            " * 1000000L DIV (2 * n_usable) ELSE 0L END"))
    }),
    "q736_sequence_contract" -> ((s, dir) => {
      // Cross-engine HOF edge-case CONTRACT, pinned executable: Spark's
      // sequence() DESCENDS when stop < start (so bigram enumeration MUST
      // carry the IF(size < 2) guard), while the oracle engine's
      // generate_series is naturally empty — and a blank text tokenizes
      // to [''] (size 1), never []. The gate: enumerated bigram counts
      // must equal the Σ max(len−1, 0) closed form on 0/1/2/full-token
      // documents in both engines. The folklore behind every n-gram
      // query in the suite, made a failing test instead of a comment.
      val d = rd(s, dir, "documents")
        .withColumn("cls", col("doc_id") % 4)
        .withColumn("syn", expr(
          "CASE cls WHEN 0 THEN ''" +
            " WHEN 1 THEN element_at(split(lower(trim(text)), '\\\\s+'), 1)" +
            " WHEN 2 THEN concat_ws(' '," +
            "   slice(split(lower(trim(text)), '\\\\s+'), 1, 2))" +
            " ELSE text END"))
        .select(col("cls"),
                graft.operators.TextAnalysis.tokens(col("syn")).as("t"),
                graft.operators.TextAnalysis.tokenCount(col("syn"))
                  .cast("long").as("tc"))
      d.withColumn("n_enum", expr(
          "CAST(size(IF(size(t) < 2, array()," +
            " transform(sequence(1, size(t) - 1)," +
            " i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))))" +
            " AS BIGINT)"))
        .groupBy(col("cls"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_enum")).as("n_bigrams_enum"),
             sum(greatest(col("tc") - 1L, lit(0L))).as("n_bigrams_formula"))
        .withColumn("contract_holds",
          col("n_bigrams_enum") === col("n_bigrams_formula"))
    }),
    "q737_markov_removal" -> ((s, dir) => {
      // Markov removal-effect attribution (the multi-touch method next to
      // last-touch q62, position q252, Shapley q571): user journeys over
      // the four non-purchase channels, absorbed at first purchase (CONV)
      // or journey end (NULL); channel credit = 1 − P(conv | channel
      // removed)/P(conv), with P solved by 12 fixed-point iterations in
      // exact ppm integers (truncating DIV per step is the pinned
      // statistic, so both engines replay it bit-for-bit). The chain is
      // CHANNEL-dimension-sized — transitions, scenarios, and the
      // iteration relation all collapse to handfuls of rows after one
      // fact-table pass; the oracle unrolls the same 12 steps.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wu = Window.partitionBy(col("user_id"))
      val e1 = SparkEntry.ev(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
                col("event_type"))
        .withColumn("rn", row_number().over(w))
      val e2 = e1
        .withColumn("prn", min(when(col("event_type") === "purchase",
                                    col("rn"))).over(wu))
        .withColumn("mx", max(col("rn")).over(wu))
        .filter(col("rn") <= coalesce(col("prn"), col("mx")))
        .withColumn("node",
          when(col("event_type") === "purchase", lit("CONV"))
            .otherwise(col("event_type")))
        .withColumn("prev",
          coalesce(lag(col("node"), 1).over(w), lit("START")))
      val trans0 = e2.select(col("prev").as("f"), col("node").as("t"))
        .unionByName(e2
          .filter(col("rn") === col("mx") && col("prn").isNull)
          .select(col("node").as("f"), lit("NULL").as("t")))
      val tr = trans0.groupBy(col("f"), col("t"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("out", sum(col("cnt")).over(
          Window.partitionBy(col("f"))))
        .withColumn("ppm", expr("cnt * 1000000L DIV out"))
        .select("f", "t", "ppm")
        .localCheckpoint()
      // r16: the 12 fixed-point steps fold on the driver below the
      // transition-row gate (the chain is channel-dimension-sized — a
      // handful of rows — but each distributed step was a full
      // checkpointed job); the distributed loop is the verbatim
      // fallback above the gate. See markovRemovalSolve.
      val p = markovRemovalSolve(tr, iters = 12)
      val pStart = p.filter(col("state") === "START")
        .select(col("sc"), col("p"))
      val base = pStart.filter(col("sc") === "__base__")
        .select(col("p").as("p_base_ppm"))
      pStart.filter(col("sc") =!= "__base__")
        .select(col("sc").as("channel"), col("p").as("p_removed_ppm"))
        .crossJoin(broadcast(base))
        .withColumn("removal_effect_ppm", expr(
          "CASE WHEN p_base_ppm > 0 THEN 1000000L" +
            " - p_removed_ppm * 1000000L DIV p_base_ppm ELSE 0L END"))
        .select("channel", "p_base_ppm", "p_removed_ppm",
                "removal_effect_ppm")
    }),
    "q738_stream_union_watermark" -> ((s, dir) => {
      // UNION of two watermarked streams → the GLOBAL watermark is the
      // minimum of the inputs': a windowed append-mode rollup over the
      // union flushes an hour window only when BOTH feeds' watermarks
      // pass it — the multi-source ingestion semantics a fan-in topology
      // lives on. Driver-checked end-to-end: interleaved batches, dual
      // far-future sentinels on BOTH streams (one stream alone would
      // hold every window open), sentinel rows filtered by type.
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      def side(t: String) = SparkEntry.ev(s, dir)
        .filter(col("user_id") % 5 === 2 && col("event_type") === t)
        .select(col("event_id"), col("ts"), col("event_type"))
        .as[(Long, java.sql.Timestamp, String)].collect().toSeq
      val (views, clicks) = (side("view"), side("click"))
      val srcV = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp, String)]
      val srcC = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp, String)]
      val unioned = srcV.toDF().toDF("event_id", "ts", "event_type")
        .unionByName(srcC.toDF().toDF("event_id", "ts", "event_type"))
        .withWatermark("ts", "40 days")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("hour_start"), col("event_type"),
                col("n"))
      val tbl = "q738_uw_" + java.util.UUID.randomUUID.toString.replace("-", "")
      SparkEntry.withStreamShuffle(s) {
        val q = unioned.writeStream.format("memory").queryName(tbl)
          .outputMode("append").start()
        try {
          (0 until 3).foreach { i =>
            srcV.addData(views.filter(_._1 % 3 == i): _*)
            srcC.addData(clicks.filter(_._1 % 3 == i): _*)
            q.processAllAvailable()
          }
          val flush = java.sql.Timestamp.valueOf("2025-06-01 00:00:00")
          srcV.addData((-1L, flush, "x")); srcC.addData((-1L, flush, "x"))
          q.processAllAvailable()
          val flush2 = new java.sql.Timestamp(flush.getTime + 3600000L)
          srcV.addData((-2L, flush2, "x")); srcC.addData((-2L, flush2, "x"))
          q.processAllAvailable()
        } finally q.stop()
      }
      s.table(tbl).filter(col("event_type") =!= "x")
        .select(col("hour_start"), col("event_type"), col("n"))
    }),
    "q739_incremental_dedup" -> ((s, dir) => {
      // Ingest-time incremental near-dup join
      // (Dedup.minhashLshPairsAgainst): the daily delta (doc_id % 3 = 0)
      // dedups against the standing corpus WITHOUT re-pairing the corpus
      // with itself — candidates are NEW × OLD band-key matches only,
      // with the self-join builders' fat-bucket + pair-budget guards
      // (over-budget buckets degrade to min-old-id links so every delta
      // doc keeps its corpus anchor). The 100 TB ingest shape: cost is
      // delta·corpus per colliding bucket, never corpus².
      val d = rd(s, dir, "documents")
      graft.operators.Dedup.minhashLshPairsAgainst(
        d.filter(col("doc_id") % 3 =!= 0),
        d.filter(col("doc_id") % 3 === 0), "doc_id", "text")
    }),
    "q740_rouge_l" -> ((s, dir) => {
      // ROUGE-L: longest common subsequence between each doc and its
      // source-successor, EXACT via the Hunt–Szymanski reduction — on
      // first-occurrence-deduped 15-token prefixes every common token is
      // one match point (ic, ir), and LCS = the longest chain with both
      // coordinates strictly increasing. r16: the chain is a per-pair
      // patience LIS over the ≤15 match points (every ic and ir is
      // UNIQUE within a pair — seq15 dedups tokens — so the longest
      // chain equals the longest ir-increasing subsequence of the
      // points sorted by ic), folded in ONE aggregate over the
      // collected match array instead of the r15 4-round max-plus path
      // doubling (10 sequential join/rollup jobs at the scheduling
      // floor; values bit-identical — `Round23OpsSpec` pins the fold
      // against a driver-side brute-force LCS DP, and the oracle still
      // runs the doubling SQL). The order-sensitive
      // companion to q724's bag-of-ngrams ROUGE-1/2;
      // F1 = 2·LCS/(len_c+len_r) in exact ppm. Everything keys by the
      // pair — one shuffle lane; per-pair match sets are ≤ 15².
      import org.apache.spark.sql.expressions.Window
      val docs = rd(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
        .localCheckpoint(false)
      val pr = docs
        .select(col("source"), col("doc_id"),
          lead(col("doc_id"), 1).over(
            Window.partitionBy(col("source")).orderBy(col("doc_id")))
            .as("ref_id"))
        .filter(col("ref_id").isNotNull)
        .select(col("doc_id").as("cand_id"), col("ref_id"))
        .localCheckpoint()
      val tk = docs.filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"),
          posexplode(graft.operators.TextAnalysis.tokens(col("text")))
            .as(Seq("pos", "w")))
      val seq15 = tk.groupBy(col("doc_id"), col("w"))
        .agg(min(col("pos")).as("pos"))
        .withColumn("i", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
        .filter(col("i") <= 15)
        .select(col("doc_id"), col("w"), col("i").cast("long").as("i"))
        .localCheckpoint()
      val lens = seq15.groupBy(col("doc_id")).agg(count(lit(1)).as("ln"))
      val m = pr
        .join(seq15.select(col("doc_id").as("cand_id"), col("w"),
                           col("i").as("ic")), Seq("cand_id"))
        .join(seq15.select(col("doc_id").as("ref_id"), col("w"),
                           col("i").as("ir")), Seq("ref_id", "w"))
        .select(col("cand_id"), col("ref_id"), col("ic"), col("ir"))
      // Patience LIS over the per-pair match points (≤15 per pair; see
      // functions.PatienceLis — the interpreted fold is microseconds
      // where the doubling rounds each paid a full shuffle job).
      val lis = m.groupBy(col("cand_id"), col("ref_id"))
        .agg(graft.functions.PatienceLis.lisLen(
          collect_list(struct(col("ic"), col("ir"))), "ic", "ir")
          .as("_lis"))
      pr.join(lis, Seq("cand_id", "ref_id"), "left")
        .join(lens.select(col("doc_id").as("cand_id"), col("ln").as("_lc")),
              Seq("cand_id"), "left")
        .join(lens.select(col("doc_id").as("ref_id"), col("ln").as("_lr")),
              Seq("ref_id"), "left")
        .withColumn("lcs", coalesce(col("_lis"), lit(0L)))
        .select(col("cand_id"), col("ref_id"), col("lcs"),
          expr("CASE WHEN coalesce(_lc, 0L) + coalesce(_lr, 0L) > 0" +
               " THEN 2 * lcs * 1000000L" +
               " DIV (coalesce(_lc, 0L) + coalesce(_lr, 0L))" +
               " ELSE 0L END").as("rouge_l_f1_ppm"))
    }),
    "q741_mg_merge" -> ((s, dir) => {
      // Misra–Gries MERGE — the property that makes q734's summary a
      // DISTRIBUTED sketch: each source's stream splits into two halves,
      // each half folds its own MG-4 summary (a partition's map-side
      // state), the halves merge by counter addition followed by the
      // (k+1)-th-largest subtraction, and the merged counts must honor
      // the deterministic bound mg ≤ true ≤ mg + n/(k+1) against the
      // exact full-stream counts — asserted as an output column, so the
      // gate fails if the merge law ever breaks. This is the map-combine
      // shape an executor-parallel MG would use at 100 TB.
      import org.apache.spark.sql.expressions.Window
      val st = rd(s, dir, "documents")
        .filter(col("doc_id") % 11 === 0 &&
                  length(trim(col("text"))) > 0)
        .select(col("source"), (expr("doc_id DIV 11") % 2).as("half"),
          col("doc_id"),
          posexplode(slice(
            graft.operators.TextAnalysis.tokens(col("text")), 1, 12))
            .as(Seq("pos", "w")))
        .localCheckpoint(false)
      val folded = st
        .groupBy(col("source"), col("half"))
        .agg(sort_array(collect_list(struct(col("doc_id"), col("pos"),
               col("w")))).as("arr"))
        .withColumn("mg", expr(MgFoldSpark))
      val summaries = folded.select(col("source"), col("half"),
          explode(expr(
            "IF(size(mg.ts) = 0, CAST(array() AS" +
              " ARRAY<STRUCT<token: STRING, c: BIGINT>>)," +
              " transform(sequence(1, size(mg.ts))," +
              " j -> struct(element_at(mg.ts, j) AS token," +
              " element_at(mg.cs, j) AS c)))")).as("e"))
        .select(col("source"), col("e.token").as("token"),
                col("e.c").as("c"))
      val combined = summaries.groupBy(col("source"), col("token"))
        .agg(sum(col("c")).as("c"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("source"))
            .orderBy(col("c").desc, col("token"))))
      val sub = combined.groupBy(col("source"))
        .agg(max(when(col("rk") === 5, col("c"))).as("_d"))
        .select(col("source"), coalesce(col("_d"), lit(0L)).as("d"))
      val merged = combined.join(sub, Seq("source"))
        .withColumn("mg_count", col("c") - col("d"))
        .filter(col("mg_count") > 0)
        .select(col("source"), col("token"), col("mg_count"))
      val exact = st.groupBy(col("source"), col("w").as("token"))
        .agg(count(lit(1)).as("n_exact"))
      val nTot = st.groupBy(col("source")).agg(count(lit(1)).as("n_stream"))
      merged.join(exact, Seq("source", "token"))
        .join(nTot, Seq("source"))
        .withColumn("within_bound",
          col("mg_count") <= col("n_exact") &&
            col("n_exact") <= col("mg_count") + expr("n_stream DIV 5"))
        .select("source", "token", "mg_count", "n_exact", "n_stream",
                "within_bound")
    }),
    "q742_cache_replacement" -> ((s, dir) => {
      // Cache-replacement policy eval — LRU vs LFU hit rates replayed
      // over the real part-access trace (shipdate order), cache capacity
      // 8, per supplier nation: the storage-layer simulation behind a
      // buffer-pool / block-cache sizing call. Both policies fold the
      // SAME per-nation access array (sequential by nature, distributed
      // across nations — the q650 discipline); LFU evicts the minimum
      // (freq, key) via a packed freq·1e9+key argmin (exact while keys
      // stay below 1e9 — asserted upstream of any larger deployment).
      val tr = Tables.spread(s, rd(s, dir, "lineitem"))
        .filter(col("l_partkey") % 7 === 0)
        .join(broadcast(rd(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_nationkey").cast("long").as("nation"),
                col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
                col("l_partkey").cast("long").as("pk"))
      val folded = tr
        .groupBy(col("nation"))
        .agg(count(lit(1)).as("n_accesses"),
             sort_array(collect_list(struct(col("l_shipdate"),
               col("l_orderkey"), col("l_linenumber"), col("pk"))))
               .as("arr"))
        .withColumn("lru", expr(LruFoldSpark))
        .withColumn("lfu", expr(LfuFoldSpark))
      folded.select(col("nation"), col("n_accesses"),
          col("lru.hits").as("lru_hits"), col("lfu.hits").as("lfu_hits"))
        .withColumn("lru_hit_ppm",
          expr("lru_hits * 1000000L DIV n_accesses"))
        .withColumn("lfu_hit_ppm",
          expr("lfu_hits * 1000000L DIV n_accesses"))
    }),
    "q743_bandit_replay" -> ((s, dir) => {
      // Offline bandit-policy replay (the Li et al. counterfactual
      // estimator): a greedy policy over the five event-type "arms"
      // (empirical-mean scores in exact ppm with +1 optimistic
      // denominators, forced exploration every 10th step) replayed
      // against the logged trace — only steps where the policy AGREES
      // with the log update state and count reward, so the estimate is
      // unbiased under uniform logging. One sequential fold (the
      // simulation IS a chain), exact integers; oracle replays the same
      // 12-field state step-for-step in a recursive CTE.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(DimKey.one).orderBy(col("ts"), col("event_id"))
      val trace = SparkEntry.ev(s, dir)
        .filter(col("user_id") % 25 === 0)
        .select(col("ts"), col("event_id"),
          expr("CASE event_type WHEN 'click' THEN 1L WHEN 'error' THEN 2L" +
               " WHEN 'purchase' THEN 3L WHEN 'signup' THEN 4L" +
               " ELSE 5L END").as("ai"),
          expr("CASE WHEN CAST(floor(value * 100) AS BIGINT) > 50" +
               " THEN 1L ELSE 0L END").as("rew"))
        .withColumn("rn", row_number().over(w).cast("long"))
      trace
        .groupBy(DimKey.one.as("_g"))
        .agg(count(lit(1)).as("n_steps"),
             sort_array(collect_list(struct(col("rn"), col("ai"),
               col("rew")))).as("arr"))
        .withColumn("b", expr(BanditFoldSpark))
        .select(col("n_steps"), col("b.mt").as("n_matched"),
                col("b.mr").as("n_rewards"),
                expr("CASE WHEN b.mt > 0 THEN b.mr * 1000000L DIV b.mt" +
                     " ELSE 0L END").as("reward_rate_ppm"))
    }),
    "q744_topk_churn" -> ((s, dir) => {
      // Leaderboard churn: month-over-month Jaccard of the monthly
      // revenue top-10 brand set — how stable is "the top" as a set, the
      // rank-stability companion to RBO (q620) and footrule (q335) that
      // needs only set overlap. Exact: per month the top-10 by (revenue
      // cents desc, brand), consecutive-month self-join on the
      // month-dimension-sized top-k relation.
      import org.apache.spark.sql.expressions.Window
      val rev = rd(s, dir, "lineitem")
        .join(rd(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy(((year(col("l_shipdate")) - 1995) * 12 +
                   month(col("l_shipdate"))).as("mi"),
                 col("p_brand").as("brand"))
        .agg(sum(expr("CAST(floor(l_extendedprice * 100) AS BIGINT)"))
               .as("cents"))
      val topk = rev
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("mi"))
            .orderBy(col("cents").desc, col("brand"))))
        .filter(col("rk") <= 10)
        .select(col("mi"), col("brand"))
        .localCheckpoint(false)
      val inter = topk.as("a")
        .join(topk.as("b"),
              col("a.mi") + 1 === col("b.mi") &&
                col("a.brand") === col("b.brand"))
        .groupBy(col("a.mi").as("mi"))
        .agg(count(lit(1)).as("n_common"))
      topk.groupBy(col("mi")).agg(count(lit(1)).as("n_a"))
        .join(topk.select((col("mi") - 1).as("mi"))
                .groupBy(col("mi")).agg(count(lit(1)).as("n_b")),
              Seq("mi"))
        .join(inter, Seq("mi"), "left")
        .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
        .withColumn("jaccard_ppm", expr(
          "n_common * 1000000L DIV (n_a + n_b - n_common)"))
        .select("mi", "n_a", "n_b", "n_common", "jaccard_ppm")
    }),
    "q745_mase" -> ((s, dir) => {
      // MASE — mean absolute SCALED error (Hyndman's forecast-eval
      // standard): the seasonal-naive forecast (same month last year)
      // scored on eval months, scaled by the IN-SAMPLE seasonal-naive
      // MAE, in one cross-multiplied exact ratio (sum_ev·n_tr)·1e6 DIV
      // (sum_tr·n_ev) — no float means anywhere. MASE < 1e6 ⇒ the
      // forecast beats naive. Completes the eval tier next to pinball
      // (q721); the lag-12 pairing is a month-dimension self-join.
      val rev = rd(s, dir, "lineitem")
        .join(rd(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"),
                 ((year(col("l_shipdate")) - 1995) * 12 +
                   month(col("l_shipdate"))).as("mi"))
        .agg(sum(expr("CAST(l_quantity AS BIGINT)")).as("units"))
        .localCheckpoint(false)
      val lagd = rev.select(col("brand"), (col("mi") + 12).as("mi"),
                            col("units").as("units_lag"))
      rev.join(lagd, Seq("brand", "mi"))
        .withColumn("ae", abs(col("units") - col("units_lag")))
        .groupBy(col("brand"))
        .agg(sum(when(col("mi") <= 24, 1L).otherwise(0L)).as("n_train_pairs"),
             sum(when(col("mi") <= 24, col("ae")).otherwise(0L)).as("_sum_tr"),
             sum(when(col("mi") > 24, 1L).otherwise(0L)).as("n_eval_pairs"),
             sum(when(col("mi") > 24, col("ae")).otherwise(0L)).as("_sum_ev"))
        .withColumn("mase_ppm", expr(
          "CASE WHEN _sum_tr > 0 AND n_eval_pairs > 0" +
            " THEN _sum_ev * n_train_pairs * 1000000L" +
            " DIV (_sum_tr * n_eval_pairs) ELSE 0L END"))
        .drop("_sum_tr", "_sum_ev")
    }),
    "q746_explode_outer_contract" -> ((s, dir) => {
      // explode_outer CONTRACT: Spark's explode_outer keeps a NULL row
      // for empty arrays while plain explode drops the document — and
      // the oracle engine's natural `, unnest(...)` does the dropping,
      // so its outer semantics need LEFT JOIN LATERAL ON true. Pinned on
      // 0/1/full-token classes; the row-count and null-row accounting
      // must match exactly. The lateral-join folklore beside q736's
      // sequence() contract.
      val d = rd(s, dir, "documents")
        .withColumn("cls", col("doc_id") % 3)
        .withColumn("arr", expr(
          "CASE cls WHEN 0 THEN CAST(array() AS ARRAY<STRING>)" +
            " WHEN 1 THEN slice(split(lower(trim(text)), '\\\\s+'), 1, 1)" +
            " ELSE split(lower(trim(text)), '\\\\s+') END"))
      d.select(col("cls"), explode_outer(col("arr")).as("tok"))
        .groupBy(col("cls"))
        .agg(count(lit(1)).as("n_rows"),
             sum(when(col("tok").isNull, 1L).otherwise(0L)).as("n_null_rows"),
             count(col("tok")).as("n_tok_rows"))
    }),
    "q747_macro_f1" -> ((s, dir) => {
      // Macro/micro-averaged F1 of the library's OWN language-ID
      // operator (q14's TextAnalysis.langId) against the corpus's lang
      // ground truth: per-class tp/fp/fn with the 2tp/(2tp+fp+fn)
      // identity, a __macro__ row (unweighted mean of class F1) and a
      // __micro__ row (pooled counts) — the multi-class eval discipline,
      // and a self-audit: the gate breaks if the classifier drifts.
      val pred = rd(s, dir, "documents")
        .select(col("doc_id"),
                graft.operators.TextAnalysis.langId(col("text")).as("pred"))
      val conf = rd(s, dir, "documents")
        .select(col("doc_id"), col("lang").as("truth"))
        .join(pred, Seq("doc_id"))
        .localCheckpoint(false)
      val labels = conf.select(col("truth").as("label"))
        .unionByName(conf.select(col("pred").as("label"))).distinct()
      val per = labels.crossJoin(conf)
        .groupBy(col("label"))
        .agg(sum(when(col("truth") === col("label") &&
                        col("pred") === col("label"), 1L).otherwise(0L))
               .as("tp"),
             sum(when(col("pred") === col("label") &&
                        col("truth") =!= col("label"), 1L).otherwise(0L))
               .as("fp"),
             sum(when(col("truth") === col("label") &&
                        col("pred") =!= col("label"), 1L).otherwise(0L))
               .as("fn"))
        .withColumn("f1_ppm", expr(
          "CASE WHEN 2 * tp + fp + fn > 0" +
            " THEN 2 * tp * 1000000L DIV (2 * tp + fp + fn)" +
            " ELSE 0L END"))
        .localCheckpoint(false)
      val macroRow = per.agg(
        lit("__macro__").as("label"), lit(0L).as("tp"), lit(0L).as("fp"),
        lit(0L).as("fn"),
        expr("sum(f1_ppm) DIV count(1)").as("f1_ppm"))
      val microRow = per.agg(
        lit("__micro__").as("label"), sum(col("tp")).as("tp"),
        sum(col("fp")).as("fp"), sum(col("fn")).as("fn"),
        expr("CASE WHEN 2 * sum(tp) + sum(fp) + sum(fn) > 0" +
             " THEN 2 * sum(tp) * 1000000L" +
             " DIV (2 * sum(tp) + sum(fp) + sum(fn)) ELSE 0L END")
          .as("f1_ppm"))
      per.unionByName(macroRow).unionByName(microRow)
    }),
    "q748_littles_law" -> ((s, dir) => {
      // Little's law audit (L = λ·W) on the order pipeline: per calendar
      // month, time-averaged open-order inventory L (interval overlap
      // with the month window, exact day integers) vs λ·W collapsed to
      // ONE ratio — Σ cycle-days of that month's arrivals over the month
      // length (the λ·W product's denominators cancel exactly). The
      // deviation ppm exposes edge effects (boundary-crossing orders) —
      // the queueing-theory conformance meter for a fulfillment
      // pipeline. Month spine is dimension-sized and broadcast.
      val cyc = rd(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(max(expr("CAST(datediff(CAST(l_shipdate AS DATE)," +
                      " DATE '1970-01-01') AS BIGINT)")).as("done"))
      val ord = rd(s, dir, "orders")
        .select(col("o_orderkey"),
          expr("CAST(datediff(CAST(o_orderdate AS DATE)," +
               " DATE '1970-01-01') AS BIGINT)").as("arrive"),
          ((year(col("o_orderdate")) - 1995) * 12 +
            month(col("o_orderdate"))).as("amonth"))
        .join(cyc, col("o_orderkey") === col("l_orderkey"))
        .select(col("arrive"), col("done"), col("amonth"))
        .localCheckpoint(false)
      val months = rd(s, dir, "orders")
        .agg(((year(min(col("o_orderdate"))) - 1995) * 12 +
               month(min(col("o_orderdate")))).as("lo"),
             ((year(max(col("o_orderdate"))) - 1995) * 12 +
               month(max(col("o_orderdate")))).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("my"))
        .withColumn("mstart", expr(
          "CAST(datediff(make_date(1995 + (my - 1) DIV 12," +
            " ((my - 1) % 12) + 1, 1), DATE '1970-01-01') AS BIGINT)"))
        .withColumn("mend", expr(
          "CAST(datediff(make_date(1995 + (my) DIV 12," +
            " ((my) % 12) + 1, 1), DATE '1970-01-01') AS BIGINT)"))
      val lpart = ord.crossJoin(broadcast(months))
        .withColumn("ov", greatest(lit(0L),
          least(col("done"), col("mend")) -
            greatest(col("arrive"), col("mstart"))))
        .filter(col("ov") > 0)
        .groupBy(col("my"), col("mstart"), col("mend"))
        .agg(sum(col("ov")).as("open_days"))
      val warr = ord.groupBy(col("amonth").as("my"))
        .agg(count(lit(1)).as("n_arrivals"),
             sum(col("done") - col("arrive")).as("cycle_days"))
      lpart.join(warr, Seq("my"))
        .withColumn("l_micro",
          expr("open_days * 1000000L DIV (mend - mstart)"))
        .withColumn("lw_micro",
          expr("cycle_days * 1000000L DIV (mend - mstart)"))
        .withColumn("deviation_ppm", expr(
          "CASE WHEN lw_micro > 0 THEN (l_micro - lw_micro) * 1000000L" +
            " DIV lw_micro ELSE 0L END"))
        .select("my", "n_arrivals", "open_days", "cycle_days",
                "l_micro", "lw_micro", "deviation_ppm")
    }),
    "q749_lsh_planner" -> ((s, dir) => {
      // LSH (bands, rows) PLANNER: the closed-form collision s-curve
      // P = 1 − (1 − s^r)^b for every 12-component banding and a τ grid,
      // in exact ppm integer powers (truncating DIV per multiply is the
      // pinned arithmetic) — the analytic companion to q712's EMPIRICAL
      // sweep: pick the config whose curve knees at the target τ before
      // paying for a single signature. Pure dimension-table arithmetic;
      // the corpus is only read to stamp the doc count the plan is for.
      import s.implicits._
      val grid = (for {
        (b, r) <- Seq((2, 6), (3, 4), (4, 3), (6, 2))
        sp <- 300000L to 900000L by 100000L
      } yield (b.toLong, r.toLong, sp)).toDF("bands", "rpb", "s_ppm")
      val nd = rd(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
      grid.crossJoin(broadcast(nd))
        .withColumn("collision_ppm", expr(LshPlannerCaseSpark))
    }),
    "q750_spt_scheduling" -> ((s, dir) => {
      // Scheduling-discipline eval: total flow time per supplier queue
      // under FIFO (arrival order) vs SPT (shortest processing time —
      // the provably flow-optimal static discipline): completion times
      // are PREFIX SUMS in each discipline's sort order, so the whole
      // comparison is two cumulative-sum windows over one exchange — no
      // simulation fold needed. improvement_ppm quantifies what queue
      // discipline alone buys the fulfillment pipeline.
      import org.apache.spark.sql.expressions.Window
      val jobs = Tables.spread(s, rd(s, dir, "lineitem"))
        .select(col("l_suppkey").as("k"),
                expr("CAST(l_quantity AS BIGINT)").as("p"),
                col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      val wF = Window.partitionBy(col("k"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wS = Window.partitionBy(col("k"))
        .orderBy(col("p"), col("l_shipdate"), col("l_orderkey"),
                 col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      jobs
        .withColumn("cf", sum(col("p")).over(wF))
        .withColumn("cs", sum(col("p")).over(wS))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_jobs"),
             sum(col("cf")).as("flow_fifo"), sum(col("cs")).as("flow_spt"))
        .withColumn("improvement_ppm", expr(
          "CASE WHEN flow_fifo > 0 THEN (flow_fifo - flow_spt) * 1000000L" +
            " DIV flow_fifo ELSE 0L END"))
    }),
    "q751_newsvendor" -> ((s, dir) => {
      // Newsvendor stocking: per-brand monthly demand, stock = the
      // critical-fractile order statistic (cu=2, co=1 ⇒ fractile 2/3,
      // rank ceil(2n/3) — the exact-quantile machinery of q721/q731)
      // from the 24 train months, then the eval months pay 2·shortage +
      // 1·overage in exact units — the inventory-theory companion to
      // pinball loss (a pinball at the critical fractile IS the
      // newsvendor cost, and the gate would catch any drift between the
      // two formulations).
      import org.apache.spark.sql.expressions.Window
      val dem = rd(s, dir, "lineitem")
        .join(rd(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"),
                 ((year(col("l_shipdate")) - 1995) * 12 +
                   month(col("l_shipdate"))).as("mi"))
        .agg(sum(expr("CAST(l_quantity AS BIGINT)")).as("d"))
        .localCheckpoint(false)
      val w = Window.partitionBy(col("brand")).orderBy(col("d"), col("mi"))
      val stock = dem.filter(col("mi") <= 24)
        .withColumn("_rn", row_number().over(w))
        .withColumn("_n", count(lit(1)).over(Window.partitionBy(col("brand"))))
        .filter(col("_rn") === expr("(2 * _n + 2) DIV 3"))
        .select(col("brand"), col("d").as("stock_units"))
      dem.filter(col("mi") > 24)
        .join(broadcast(stock), Seq("brand"))
        .groupBy(col("brand"))
        .agg(max(col("stock_units")).as("stock_units"),
             count(lit(1)).as("n_eval"),
             sum(expr("2 * greatest(0L, d - stock_units)"))
               .as("shortage_cost"),
             sum(expr("greatest(0L, stock_units - d)")).as("overage_cost"))
        .withColumn("total_cost",
          col("shortage_cost") + col("overage_cost"))
    }),
    "q752_diff_in_diff" -> ((s, dir) => {
      // Difference-in-differences: treated = brands whose trailing digit
      // is odd (a deterministic assignment), pre/post split at month 24;
      // DiD = (T̄post − T̄pre) − (C̄post − C̄pre) on mean monthly revenue,
      // every mean pinned as sum·1e6 DIV n micro-cents (truncation IS
      // the statistic). The causal-inference panel method next to CUPED
      // (q494), matching (q630), and uplift (q251) — one fact rollup,
      // then arithmetic over four cells.
      val rev = rd(s, dir, "lineitem")
        .join(rd(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"),
                 ((year(col("l_shipdate")) - 1995) * 12 +
                   month(col("l_shipdate"))).as("mi"))
        .agg(sum(expr("CAST(floor(l_extendedprice * 100) AS BIGINT)"))
               .as("cents"))
        .withColumn("treated",
          expr("CAST(substring(brand, length(brand), 1) AS INT) % 2 = 1"))
        .withColumn("post", col("mi") > 24)
      val cells = rev.groupBy(col("treated"), col("post"))
        .agg(expr("sum(cents) * 1000000L DIV count(1)").as("mean_micro"))
      cells.agg(
          max(when(col("treated") && col("post"), col("mean_micro")))
            .as("t_post"),
          max(when(col("treated") && !col("post"), col("mean_micro")))
            .as("t_pre"),
          max(when(!col("treated") && col("post"), col("mean_micro")))
            .as("c_post"),
          max(when(!col("treated") && !col("post"), col("mean_micro")))
            .as("c_pre"))
        .withColumn("did_micro",
          (col("t_post") - col("t_pre")) - (col("c_post") - col("c_pre")))
    }),
    "q753_net_benefit" -> ((s, dir) => {
      // Decision-curve analysis: net benefit NB(pt) = tp/n −
      // fp/n · pt/(1−pt) of a self-calibrated urgency classifier
      // (per-price-decile urgent rate learned on the even-orderkey half,
      // thresholded on the odd half) across a pt grid, against the
      // treat-all baseline — the clinical-decision eval that completes
      // calibration (q496) and Youden (q572): a model only helps where
      // its curve beats BOTH baselines. Exact ppm integers; deciles from
      // ntile over the train half.
      import org.apache.spark.sql.expressions.Window
      val o = rd(s, dir, "orders")
        .select(col("o_orderkey"),
                expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
                (col("o_orderpriority") === "1-URGENT").as("y"))
        .localCheckpoint(false)
      val train = o.filter(col("o_orderkey") % 2 === 0)
        .withColumn("dec", ntile(10).over(
          Window.partitionBy(DimKey.one).orderBy(col("cents"), col("o_orderkey"))))
      val bounds = train.groupBy(col("dec"))
        .agg(min(col("cents")).as("lo"),
             expr("sum(CASE WHEN y THEN 1L ELSE 0L END) * 1000000L" +
                  " DIV count(1)").as("p_hat_ppm"))
      val rk = Window.partitionBy(col("o_orderkey")).orderBy(col("lo").desc)
      val scored = o.filter(col("o_orderkey") % 2 === 1)
        .join(broadcast(bounds), col("cents") >= col("lo"))
        .withColumn("_r", row_number().over(rk))
        .filter(col("_r") === 1)
        .select(col("y"), col("p_hat_ppm"))
        .localCheckpoint(false)
      import s.implicits._
      val pts = Seq(100L, 200L, 300L, 400L, 500L).toDF("pt_permille")
      scored.crossJoin(broadcast(pts))
        .groupBy(col("pt_permille"))
        .agg(count(lit(1)).as("n"),
             sum(when(col("y") && col("p_hat_ppm") >= col("pt_permille") * 1000,
                      1L).otherwise(0L)).as("tp"),
             sum(when(!col("y") && col("p_hat_ppm") >= col("pt_permille") * 1000,
                      1L).otherwise(0L)).as("fp"),
             sum(when(col("y"), 1L).otherwise(0L)).as("n_pos"))
        .withColumn("nb_ppm", expr(
          "tp * 1000000L DIV n - (fp * 1000000L DIV n) * pt_permille" +
            " DIV (1000 - pt_permille)"))
        .withColumn("nb_all_ppm", expr(
          "n_pos * 1000000L DIV n - ((n - n_pos) * 1000000L DIV n)" +
            " * pt_permille DIV (1000 - pt_permille)"))
        .select("pt_permille", "n", "tp", "fp", "nb_ppm", "nb_all_ppm")
    }),
    "q754_eoq" -> ((s, dir) => {
      // Economic order quantity per brand: EOQ = √(2·D·S/H) with the
      // INTEGER square root (exact in both engines — IEEE sqrt is
      // correctly rounded on int-valued doubles, q732's isqrt trick),
      // S = 900¢ setup, H = 25¢/unit·yr holding; plus the implied order
      // cadence and cost split. The classic closed-form inventory
      // planner on one brand-dimension rollup.
      rd(s, dir, "lineitem")
        .join(rd(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"))
        .agg(sum(expr("CAST(l_quantity AS BIGINT)")).as("demand_units"))
        .withColumn("eoq_units", expr(
          "CAST(floor(sqrt(CAST(2 * demand_units * 900 DIV 25 AS DOUBLE)))" +
            " AS BIGINT)"))
        .withColumn("n_orders", expr(
          "CASE WHEN eoq_units > 0 THEN (demand_units + eoq_units - 1)" +
            " DIV eoq_units ELSE 0L END"))
        .withColumn("setup_cost_cents", col("n_orders") * 900L)
        .withColumn("holding_cost_cents", expr("eoq_units * 25 DIV 2"))
    }),
    "q755_time_decay_attribution" -> ((s, dir) => {
      // Time-decay attribution — the remaining classic next to last-touch
      // (q62), position (q252), Shapley (q571), and Markov removal
      // (q737): every touch in the 14 days before a purchase earns
      // weight 1e6 >> (age_days DIV 2) (half-life 2 days as an exact
      // bit shift — the q218 decay discipline, no float exp), normalized
      // to ppm credit per conversion, rolled up per channel. The pair
      // join is per-user and window-bounded.
      val ev = SparkEntry.ev(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
                col("event_type"))
        .localCheckpoint(false)
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("conv_id"),
                col("ts").as("cts"))
      val touches = ev.filter(col("event_type") =!= "purchase")
        .select(col("user_id"), col("event_type").as("channel"),
                col("ts").as("tts"))
      val pairs = conv.join(touches, Seq("user_id"))
        .filter(col("tts") < col("cts") &&
          col("tts") >= col("cts") - expr("INTERVAL 14 DAYS"))
        .withColumn("age_days",
          expr("CAST((unix_micros(cts) - unix_micros(tts))" +
               " DIV 86400000000 AS BIGINT)"))
        .withColumn("w", expr("shiftright(1000000L, CAST(age_days DIV 2 AS INT))"))
        .withColumn("wsum", sum(col("w")).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("conv_id"))))
        .withColumn("credit_ppm", expr("w * 1000000L DIV wsum"))
      pairs.groupBy(col("channel"))
        .agg(count(lit(1)).as("n_touches"),
             countDistinct(col("conv_id")).as("n_conversions_touched"),
             sum(col("credit_ppm")).as("total_credit_ppm"))
    }),
    "q756_histogram_sweep" -> ((s, dir) => {
      // Optimizer-statistics sizing curve: self-join cardinality of
      // lineitem on l_suppkey estimated from B-bucket equi-depth
      // histograms (est = Σ_b n_b² DIV d_b — the uniform-within-bucket
      // assumption) vs the EXACT Σ c_k², for B ∈ {4, 16, 64} — how fast
      // histogram resolution buys estimation accuracy, the sweep
      // companion to the point estimators (q317 exact pre-flight, q446
      // CMS). Buckets = ntile over the DISTINCT key domain, everything
      // key-dimension-sized after one fact rollup.
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val ck = Tables.spread(s, rd(s, dir, "lineitem"))
        .groupBy(col("l_suppkey").as("k"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(false)
      val actual = ck.agg(sum(col("c") * col("c")).as("actual"))
      val bs = Seq(4, 16, 64).map(_.toLong).toDF("b")
      val bucketed = ck.crossJoin(broadcast(bs))
        .withColumn("bkt", ntile(64).over(
          Window.partitionBy(col("b")).orderBy(col("k"))))
        .withColumn("bkt", expr("(bkt - 1) DIV (64 DIV b)"))
      bucketed.groupBy(col("b"), col("bkt"))
        .agg(sum(col("c")).as("n_b"), count(lit(1)).as("d_b"))
        .groupBy(col("b"))
        .agg(sum(expr("n_b * n_b DIV d_b")).as("est"))
        .crossJoin(broadcast(actual))
        // int64 envelope: est and actual are Σ c², so the err·10⁶ product
        // needs Σ c² ≲ 9.2·10¹² — holds to ~10⁹ lineitem rows at the
        // observed per-supplier multiplicities (c ≈ 600 at sf0.1 scales
        // linearly; Σ c² ≈ n·c). Past that, rescale c to kilorows before
        // squaring (the q782 move) — err_ppm only needs 6 digits.
        .withColumn("err_ppm", expr(
          "abs(est - actual) * 1000000L DIV actual"))
        .select("b", "est", "actual", "err_ppm")
    }),
    "q757_eb_shrinkage" -> ((s, dir) => {
      // Empirical-Bayes (additive) shrinkage of per-brand return rates
      // toward the global rate with prior strength m = 50: shrunk =
      // (x·1e6 + m·p0_ppm) DIV (n + m) — the small-sample leaderboard
      // fix (a 2-line brand with 1 return no longer tops the table);
      // rank_raw vs rank_shrunk exposes exactly which ranks the prior
      // moved. Exact ppm integers; brand-dimension relation throughout.
      import org.apache.spark.sql.expressions.Window
      val r = rd(s, dir, "lineitem")
        .join(rd(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"))
        .agg(count(lit(1)).as("n"),
             sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
               .as("x"))
      val g = r.agg(expr("sum(x) * 1000000L DIV sum(n)").as("p0_ppm"))
      val sh = r.crossJoin(broadcast(g))
        .withColumn("raw_ppm", expr("x * 1000000L DIV n"))
        .withColumn("shrunk_ppm",
          expr("(x * 1000000L + 50 * p0_ppm) DIV (n + 50)"))
      sh.withColumn("rank_raw", row_number().over(
          Window.partitionBy(DimKey.one)
            .orderBy(col("raw_ppm").desc, col("brand"))))
        .withColumn("rank_shrunk", row_number().over(
          Window.partitionBy(DimKey.one)
            .orderBy(col("shrunk_ppm").desc, col("brand"))))
        .withColumn("rank_shift",
          col("rank_raw").cast("long") - col("rank_shrunk").cast("long"))
        .select(col("brand"), col("n"), col("x"), col("raw_ppm"),
                col("shrunk_ppm"), col("rank_raw").cast("long").as("rank_raw"),
                col("rank_shrunk").cast("long").as("rank_shrunk"),
                col("rank_shift"))
    }),
    "q758_agg_null_contract" -> ((s, dir) => {
      // Aggregate-NULL semantics CONTRACT: count(*) counts rows while
      // count(v)/sum/min/max/count(DISTINCT v) skip NULLs, and an
      // all-NULL group sums to NULL (not 0) — pinned with null-ness
      // surfaced as booleans + coalesce sentinels so the compare never
      // stringifies a bare NULL. Groups 0 and 3 of doc_id % 6 are
      // all-NULL by construction (doc_id % 3 = 0 nulls the value). The
      // aggregate-layer companion to q397/q638/q657.
      val d = rd(s, dir, "documents")
        .select((col("doc_id") % 6).as("grp"),
          when(col("doc_id") % 3 =!= 0, col("n_chars")).as("v"))
      d.groupBy(col("grp"))
        .agg(count(lit(1)).as("n_rows"), count(col("v")).as("n_nonnull"),
             countDistinct(col("v")).as("n_distinct"),
             sum(col("v")).isNull.as("sum_is_null"),
             coalesce(sum(col("v")), lit(-1L)).as("sum_v"),
             coalesce(min(col("v")), lit(-1L)).as("min_v"),
             coalesce(max(col("v")), lit(-1L)).as("max_v"))
    }),
    "q759_ratio_to_ma" -> ((s, dir) => {
      // Ratio-to-moving-average seasonal indices — the MULTIPLICATIVE
      // classic next to q562's additive decomposition: per brand over
      // the calendar-dense month spine, ratio = 24·y·1e6 DIV
      // (y₋₆ + 2·Σ₋₅..₊₅ + y₊₆) — the centered 13-term MA folded into
      // ONE exact division (no intermediate truncation) — averaged per
      // month-of-year. Everything after the fact rollup is
      // (brand × month)-sized windows.
      import org.apache.spark.sql.expressions.Window
      val d0 = rd(s, dir, "lineitem")
        .join(rd(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"),
                 ((year(col("l_shipdate")) - 1995) * 12 +
                   month(col("l_shipdate"))).as("mi"))
        .agg(sum(expr("CAST(floor(l_extendedprice * 100) AS BIGINT)"))
               .as("y"))
      val span = rd(s, dir, "lineitem").agg(
        ((year(min(col("l_shipdate"))) - 1995) * 12 +
          month(min(col("l_shipdate")))).as("qlo"),
        ((year(max(col("l_shipdate"))) - 1995) * 12 +
          month(max(col("l_shipdate")))).as("qhi"))
      val cal = d0.select(col("brand")).distinct()
        .crossJoin(broadcast(span))
        .select(col("brand"), explode(sequence(col("qlo"), col("qhi"))).as("mi"))
        .join(d0, Seq("brand", "mi"), "left")
        .select(col("brand"), col("mi"), coalesce(col("y"), lit(0L)).as("y"))
      val w = Window.partitionBy(col("brand")).orderBy(col("mi"))
      val w11 = w.rowsBetween(-5, 5)
      val rt = cal
        .withColumn("ym6", lag(col("y"), 6).over(w))
        .withColumn("yp6", lead(col("y"), 6).over(w))
        .withColumn("s11", sum(col("y")).over(w11))
        .withColumn("n11", count(lit(1)).over(w11))
        .filter(col("ym6").isNotNull && col("yp6").isNotNull &&
                  col("n11") === 11)
        .withColumn("den", col("ym6") + lit(2L) * col("s11") + col("yp6"))
        .filter(col("den") > 0)
        .withColumn("ratio_ppm", expr("24 * y * 1000000L DIV den"))
      rt.groupBy(col("brand"), (((col("mi") - 1) % 12) + 1).as("moy"))
        .agg(count(lit(1)).as("n_months"),
             expr("sum(ratio_ppm) DIV count(1)").as("seasonal_index_ppm"))
    }),
    "q760_intdiv_contract" -> ((s, dir) => {
      // Negative-integer division CONTRACT: BOTH engines truncate
      // integer division TOWARD ZERO (−7 DIV 3 = −2, never floor's −3)
      // and give % the sign of the DIVIDEND — pinned on a ±value domain
      // together with the sign-fold identity v DIV k =
      // −((−v) DIV k) for v < 0, which the suite's sign-folded folds
      // (q699/q729) rely on. If either engine ever floored, every
      // negative-operand DIV in the suite would silently drift; this
      // query makes that a hash failure instead.
      val d = rd(s, dir, "documents")
        .select(((col("doc_id") % 7) - 3).as("v"))
      d.groupBy(col("v"))
        .agg(count(lit(1)).as("n"))
        .withColumn("vdiv", expr("v DIV 3"))
        .withColumn("vmod", expr("v % 3"))
        .withColumn("signfold_div", expr(
          "CASE WHEN v >= 0 THEN v DIV 3 ELSE -((-v) DIV 3) END"))
        .withColumn("identity_holds",
          col("vdiv") === col("signfold_div"))
    }),
    "q761_range_frame_contract" -> ((s, dir) => {
      // Default-window-frame CONTRACT: with an ORDER BY, the SQL-standard
      // default frame is RANGE UNBOUNDED PRECEDING..CURRENT ROW — which
      // includes ALL PEERS of the current row — while an explicit ROWS
      // frame does not. On tied ship dates the two cumulative sums
      // diverge; both engines must agree on exactly where and by how
      // much. The silent-bug classic: a running total written without an
      // explicit frame changes meaning the day ties appear.
      import org.apache.spark.sql.expressions.Window
      val li = Tables.spread(s, rd(s, dir, "lineitem"))
        .join(rd(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("brand"),
                col("l_shipdate").cast("date").as("d"),
                col("l_orderkey"), col("l_linenumber"),
                expr("CAST(floor(l_extendedprice * 100) AS BIGINT)")
                  .as("cents"))
      val wRows = Window.partitionBy(col("brand"))
        .orderBy(col("d"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // default frame (no rowsBetween): RANGE over the DATE ordering —
      // peers (same-date rows) all included
      val wRange = Window.partitionBy(col("brand")).orderBy(col("d"))
      li.withColumn("cum_rows", sum(col("cents")).over(wRows))
        .withColumn("cum_range", sum(col("cents")).over(wRange))
        .groupBy(col("brand"))
        .agg(count(lit(1)).as("n_rows"),
             sum(when(col("cum_range") =!= col("cum_rows"), 1L)
               .otherwise(0L)).as("n_peer_rows"),
             max(col("cum_range") - col("cum_rows")).as("max_peer_gap"))
    }),
    "q724_rouge_overlap" -> ((s, dir) => {
      // ROUGE-1/ROUGE-2 F1 between each document and its source-successor
      // (the summarization-eval metric, run as a corpus hygiene probe):
      // multiset-CLIPPED n-gram overlap — each candidate token credits at
      // most its count in the reference — with the F1 identity
      // 2·overlap/(len_c + len_r), which keeps the whole metric in exact
      // integer ppm (no intermediate precision/recall rationals). Token
      // counts roll up per doc once; the pair joins are equi-joins on
      // (doc, gram).
      import org.apache.spark.sql.expressions.Window
      val docs = rd(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
        .localCheckpoint(false)
      val pr = docs
        .select(col("source"), col("doc_id"),
          lead(col("doc_id"), 1).over(
            Window.partitionBy(col("source")).orderBy(col("doc_id")))
            .as("ref_id"))
        .filter(col("ref_id").isNotNull)
        .select(col("doc_id").as("cand_id"), col("ref_id"))
      def grams(n: Int) = {
        val toks = docs
          .filter(length(trim(col("text"))) > 0)
          .select(col("doc_id"),
                  graft.operators.TextAnalysis.tokens(col("text")).as("t"))
        val g =
          if (n == 1) toks.select(col("doc_id"), explode(col("t")).as("g"))
          else toks.select(col("doc_id"), explode(expr(
            "IF(size(t) < 2, array()," +
              " transform(sequence(1, size(t) - 1)," +
              " i -> concat(element_at(t, i), ' ', element_at(t, i + 1))))"))
            .as("g"))
        g.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("cnt"))
          .localCheckpoint(false)
      }
      def overlap(gr: DataFrame, out: String) = pr
        .join(gr.select(col("doc_id").as("cand_id"), col("g"),
                        col("cnt").as("_cc")), Seq("cand_id"))
        .join(gr.select(col("doc_id").as("ref_id"), col("g"),
                        col("cnt").as("_rc")), Seq("ref_id", "g"))
        .groupBy(col("cand_id"), col("ref_id"))
        .agg(sum(least(col("_cc"), col("_rc"))).as(out))
      def lens(gr: DataFrame, out: String) = gr
        .groupBy(col("doc_id")).agg(sum(col("cnt")).as(out))
      val (g1, g2) = (grams(1), grams(2))
      pr.join(overlap(g1, "ov1"), Seq("cand_id", "ref_id"), "left")
        .join(overlap(g2, "ov2"), Seq("cand_id", "ref_id"), "left")
        .join(lens(g1, "_lc1").withColumnRenamed("doc_id", "cand_id"),
              Seq("cand_id"), "left")
        .join(lens(g1, "_lr1").withColumnRenamed("doc_id", "ref_id"),
              Seq("ref_id"), "left")
        .join(lens(g2, "_lc2").withColumnRenamed("doc_id", "cand_id"),
              Seq("cand_id"), "left")
        .join(lens(g2, "_lr2").withColumnRenamed("doc_id", "ref_id"),
              Seq("ref_id"), "left")
        .select(col("cand_id"), col("ref_id"),
          coalesce(col("ov1"), lit(0L)).as("ov1"),
          coalesce(col("ov2"), lit(0L)).as("ov2"),
          expr("CASE WHEN coalesce(_lc1, 0L) + coalesce(_lr1, 0L) > 0" +
               " THEN coalesce(ov1, 0L) * 2 * 1000000L" +
               " DIV (coalesce(_lc1, 0L) + coalesce(_lr1, 0L))" +
               " ELSE 0L END").as("r1_f1_ppm"),
          expr("CASE WHEN coalesce(_lc2, 0L) + coalesce(_lr2, 0L) > 0" +
               " THEN coalesce(ov2, 0L) * 2 * 1000000L" +
               " DIV (coalesce(_lc2, 0L) + coalesce(_lr2, 0L))" +
               " ELSE 0L END").as("r2_f1_ppm"))
    })
  )

  /** The two pinball quantiles as a broadcastable relation. */
  private def spark_qs(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(500L, 900L).toDF("q_permille")
  }

  // ---- Holt–Winters fold (q729): identical sign-folded-DIV arithmetic in
  // both engines; truncation is the pinned statistic.

  private def sdiv10Spark(x: String): String =
    s"(CASE WHEN ($x) >= 0 THEN ($x) DIV 10 ELSE -((-($x)) DIV 10) END)"

  /** aggregate() fold over the (qi, y)-sorted array: state (i, lvl, trd,
    * s1..s4) in milli ints; init at i=1 (lvl = y·1000), updates follow
    * the standard additive HW recurrences with α=β=γ=1/10. The nested
    * 1-element transform()s LET-BIND (slot, s_old, pred) and then lvl′ so
    * interpreted lambdas don't recompute the shared subexpressions.
    */
  private val HwFoldSpark: String = {
    val z = "CAST(0 AS BIGINT)"
    val snew = s"t.so + ${sdiv10Spark("e.y * 1000 - L - t.so")}"
    s"""aggregate(arr,
       |  named_struct('i', $z, 'lvl', $z, 'trd', $z,
       |               's1', $z, 's2', $z, 's3', $z, 's4', $z),
       |  (acc, e) -> IF(acc.i = 0,
       |    named_struct('i', CAST(1 AS BIGINT), 'lvl', e.y * 1000,
       |                 'trd', $z, 's1', $z, 's2', $z, 's3', $z, 's4', $z),
       |    element_at(transform(array(named_struct(
       |        'sl', (acc.i % 4) + 1,
       |        'so', CASE (acc.i % 4) + 1 WHEN 1 THEN acc.s1
       |              WHEN 2 THEN acc.s2 WHEN 3 THEN acc.s3
       |              ELSE acc.s4 END,
       |        'pred', acc.lvl + acc.trd)), t ->
       |      element_at(transform(array(
       |          t.pred + ${sdiv10Spark("e.y * 1000 - t.so - t.pred")}), L ->
       |        named_struct('i', acc.i + 1,
       |          'lvl', L,
       |          'trd', acc.trd + ${sdiv10Spark("L - acc.lvl - acc.trd")},
       |          's1', IF(t.sl = 1, $snew, acc.s1),
       |          's2', IF(t.sl = 2, $snew, acc.s2),
       |          's3', IF(t.sl = 3, $snew, acc.s3),
       |          's4', IF(t.sl = 4, $snew, acc.s4))), 1)), 1)),
       |  acc -> acc)""".stripMargin
  }

  private def HwForecastSpark(k: Int): String =
    s"hw.lvl + $k * hw.trd + (CASE ((hw.i + ${k - 1}) % 4) + 1" +
      " WHEN 1 THEN hw.s1 WHEN 2 THEN hw.s2 WHEN 3 THEN hw.s3" +
      " ELSE hw.s4 END)"

  /** Misra–Gries k=4 fold (q734): parallel-list state (tokens, counts);
    * the 1-element transform LET-BINDS the matched index so the three
    * branches (increment / insert / global decrement with zero-drop)
    * share one array_position scan.
    */
  private val MgFoldSpark: String =
    """aggregate(arr,
      |  named_struct('ts', CAST(array() AS ARRAY<STRING>),
      |               'cs', CAST(array() AS ARRAY<BIGINT>)),
      |  (acc, e) -> element_at(transform(
      |    array(coalesce(array_position(acc.ts, e.w), 0L)), ix ->
      |    CASE
      |      WHEN ix > 0 THEN named_struct('ts', acc.ts,
      |        'cs', transform(sequence(1, size(acc.cs)),
      |          j -> IF(j = ix, element_at(acc.cs, j) + 1,
      |                  element_at(acc.cs, j))))
      |      WHEN size(acc.ts) < 4 THEN named_struct(
      |        'ts', concat(acc.ts, array(e.w)),
      |        'cs', concat(acc.cs, array(CAST(1 AS BIGINT))))
      |      ELSE named_struct(
      |        'ts', transform(filter(sequence(1, size(acc.cs)),
      |                j -> element_at(acc.cs, j) > 1),
      |              j -> element_at(acc.ts, j)),
      |        'cs', transform(filter(sequence(1, size(acc.cs)),
      |                j -> element_at(acc.cs, j) > 1),
      |              j -> element_at(acc.cs, j) - 1))
      |    END), 1),
      |  acc -> acc)""".stripMargin

  /** LRU fold (q742): cache = recency-ordered key list; hit and miss
    * share one move-to-front expression, eviction = the slice.
    */
  private val LruFoldSpark: String =
    """aggregate(arr,
      |  named_struct('ks', CAST(array() AS ARRAY<BIGINT>),
      |               'hits', CAST(0 AS BIGINT)),
      |  (acc, e) -> named_struct(
      |    'ks', slice(concat(array(e.pk), filter(acc.ks, x -> x != e.pk)),
      |                1, 8),
      |    'hits', acc.hits +
      |      IF(array_position(acc.ks, e.pk) > 0, CAST(1 AS BIGINT),
      |         CAST(0 AS BIGINT))),
      |  acc -> acc)""".stripMargin

  /** LFU fold (q742): parallel (keys, freqs) lists; eviction = argmin of
    * the packed freq·1e9+key (exact below 1e9 keys), let-bound via a
    * 1-element transform.
    */
  private val LfuFoldSpark: String = {
    val packed = "transform(sequence(1, size(acc.fs))," +
      " j -> element_at(acc.fs, j) * 1000000000L + element_at(acc.ks, j))"
    s"""aggregate(arr,
       |  named_struct('ks', CAST(array() AS ARRAY<BIGINT>),
       |               'fs', CAST(array() AS ARRAY<BIGINT>),
       |               'hits', CAST(0 AS BIGINT)),
       |  (acc, e) -> element_at(transform(
       |    array(coalesce(array_position(acc.ks, e.pk), 0L)), ix ->
       |    CASE
       |      WHEN ix > 0 THEN named_struct('ks', acc.ks,
       |        'fs', transform(sequence(1, size(acc.fs)),
       |          j -> IF(j = ix, element_at(acc.fs, j) + 1,
       |                  element_at(acc.fs, j))),
       |        'hits', acc.hits + 1)
       |      WHEN size(acc.ks) < 8 THEN named_struct(
       |        'ks', concat(acc.ks, array(e.pk)),
       |        'fs', concat(acc.fs, array(CAST(1 AS BIGINT))),
       |        'hits', acc.hits)
       |      ELSE element_at(transform(
       |        array(array_position($packed, array_min($packed))), ev ->
       |        named_struct(
       |          'ks', concat(transform(filter(sequence(1, size(acc.ks)),
       |                  j -> j != ev), j -> element_at(acc.ks, j)),
       |                array(e.pk)),
       |          'fs', concat(transform(filter(sequence(1, size(acc.ks)),
       |                  j -> j != ev), j -> element_at(acc.fs, j)),
       |                array(CAST(1 AS BIGINT))),
       |          'hits', acc.hits)), 1)
       |    END), 1),
       |  acc -> acc)""".stripMargin
  }

  /** Bandit replay fold (q743): 12-field state (per-arm counts/reward
    * sums, matched steps, matched reward); the nested transforms
    * let-bind the five arm scores and then the policy's chosen arm.
    */
  private val BanditFoldSpark: String = {
    val z = "CAST(0 AS BIGINT)"
    val scores = (1 to 5).map(k =>
      s"'s$k', acc.r$k * 1000000L DIV (acc.c$k + 1)").mkString(", ")
    val policy =
      "CASE WHEN e.rn % 10 = 0 THEN 1 + ((e.rn DIV 10) % 5) ELSE" +
        " CASE greatest(sc.s1, sc.s2, sc.s3, sc.s4, sc.s5)" +
        " WHEN sc.s1 THEN 1L WHEN sc.s2 THEN 2L WHEN sc.s3 THEN 3L" +
        " WHEN sc.s4 THEN 4L ELSE 5L END END"
    val updates = (1 to 5).map(k =>
      s"'c$k', acc.c$k + IF(ap = e.ai AND e.ai = $k, 1L, 0L)," +
        s" 'r$k', acc.r$k + IF(ap = e.ai AND e.ai = $k, e.rew, 0L)")
      .mkString(",\n       |        ")
    s"""aggregate(arr,
       |  named_struct(${(1 to 5).map(k => s"'c$k', $z, 'r$k', $z")
          .mkString(", ")}, 'mt', $z, 'mr', $z),
       |  (acc, e) -> element_at(transform(array(named_struct($scores)),
       |    sc -> element_at(transform(array($policy), ap ->
       |      named_struct(
       |        $updates,
       |        'mt', acc.mt + IF(ap = e.ai, 1L, 0L),
       |        'mr', acc.mr + IF(ap = e.ai, e.rew, 0L))), 1)), 1),
       |  acc -> acc)""".stripMargin
  }

  // ---- q742 cache-fold SQL fragments (recursive-CTE mirror) ----
  private val PackedSql =
    "list_transform(generate_series(1, len(s.fs))," +
      " j -> s.fs[j] * 1000000000 + s.ks[j])"
  private val EvixSql = s"list_position($PackedSql, list_min($PackedSql))"

  // ---- q743 bandit-fold SQL fragments ----
  private def armScoreSql(k: Int) = s"(s.r$k * 1000000 // (s.c$k + 1))"
  private val BanditPolicySql: String =
    "(CASE WHEN r.rn % 10 = 0 THEN 1 + ((r.rn // 10) % 5) ELSE" +
      s" CASE greatest(${(1 to 5).map(armScoreSql).mkString(", ")})" +
      (1 to 5).map(k =>
        if (k < 5) s" WHEN ${armScoreSql(k)} THEN $k" else s" ELSE 5 END"
      ).mkString + " END)"

  /** Exact ppm integer power: e^k with truncating DIV after each
    * multiply — the pinned arithmetic of the q749 planner curve.
    */
  private def ipow(e: String, k: Int, div: String): String =
    (2 to k).foldLeft(e)((acc, _) => s"(($acc) * ($e) $div 1000000)")

  private def lshPlannerCase(div: String): String =
    "CASE " + Seq((2, 6), (3, 4), (4, 3), (6, 2)).map { case (b, r) =>
      val pr = ipow("s_ppm", r, div)
      s"WHEN bands = $b AND rpb = $r THEN" +
        s" (1000000 - ${ipow(s"(1000000 - $pr)", b, div)})"
    }.mkString(" ") + " ELSE 0 END"

  private val LshPlannerCaseSpark: String = lshPlannerCase("DIV")
  private val LshPlannerCaseSql: String = lshPlannerCase("//")

  private def sdiv10Sql(x: String): String =
    s"(CASE WHEN ($x) >= 0 THEN ($x) // 10 ELSE -((-($x)) // 10) END)"

  /** The recursive-CTE mirror of [[HwFoldSpark]]'s update step. */
  private val HwStepSql: (String, String, String, String) = {
    val so = "(CASE ((r.i - 1) % 4) + 1 WHEN 1 THEN s.s1 WHEN 2 THEN s.s2" +
      " WHEN 3 THEN s.s3 ELSE s.s4 END)"
    val pred = "(s.lvl + s.trd)"
    val lvlp = s"($pred + ${sdiv10Sql(s"r.y * 1000 - $so - $pred")})"
    val trdp = s"(s.trd + ${sdiv10Sql(s"$lvlp - s.lvl - s.trd")})"
    val snew = s"($so + ${sdiv10Sql(s"r.y * 1000 - $lvlp - $so")})"
    def sk(k: Int) =
      s"CASE WHEN ((r.i - 1) % 4) + 1 = $k THEN $snew ELSE s.s$k END"
    (lvlp, trdp, (1 to 4).map(sk).mkString(",\n    "), so)
  }

  /** floor(1e6 / log2(rank + 1)) for ranks 1..10 — pinned as literals so
    * nDCG is exact-integer in both engines (no runtime log2).
    */
  private val NdcgDiscMicro: Seq[Long] =
    Seq(1000000L, 630929L, 500000L, 430676L, 386852L,
        356207L, 333333L, 315464L, 301029L, 289064L)

  private def ndcgDiscSql(rankExpr: String): String =
    s"([${NdcgDiscMicro.mkString(", ")}])[$rankExpr]"

  /** The q711 packed-bitmask Jaro–Winkler fold as reusable oracle CTEs:
    * given a `v(t)` vocabulary CTE body and a pair predicate, yields
    * `fin(value_a, value_b, lev, jw_ppm)`. list_reduce is only safe on
    * SCALAR states (DuckDB 1.0 miscompiles multi-field struct lambdas),
    * hence the mask1·2²⁰+mask2 packing — see `OracleDialectSpec`.
    */
  private def jwFoldSql(vocabCte: String, pairJoin: String): String =
    s"""WITH $vocabCte,
       |pr AS (SELECT a.t AS t1, b.t AS t2, length(a.t) AS l1,
       |    length(b.t) AS l2,
       |    greatest(greatest(length(a.t), length(b.t)) // 2 - 1, 0) AS w
       |  FROM v a JOIN v b ON $pairJoin),
       |fold AS (SELECT t1, t2, l1, l2, w,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
       |      generate_series(1, l1), i -> CAST(i AS BIGINT))),
       |    (st, i) -> CASE WHEN len(list_filter(
       |          generate_series(greatest(1, CAST(i AS INT) - w),
       |                          least(l2, CAST(i AS INT) + w)),
       |          j -> ((st % 1048576) // (1::BIGINT << (j - 1))) % 2 = 0
       |               AND substr(t2, j, 1) = substr(t1, CAST(i AS INT), 1)))
       |        = 0
       |      THEN st
       |      ELSE st + (1::BIGINT << (CAST(i AS INT) - 1)) * 1048576
       |              + (1::BIGINT << (list_filter(
       |          generate_series(greatest(1, CAST(i AS INT) - w),
       |                          least(l2, CAST(i AS INT) + w)),
       |          j -> ((st % 1048576) // (1::BIGINT << (j - 1))) % 2 = 0
       |               AND substr(t2, j, 1) = substr(t1, CAST(i AS INT), 1))[1]
       |          - 1))
       |      END) AS st
       |  FROM pr),
       |parts AS (SELECT t1, t2, l1, l2,
       |    st // 1048576 AS mask1, st % 1048576 AS mask2,
       |    bit_count(CAST(st // 1048576 AS BIGINT)) AS m
       |  FROM fold),
       |tr AS (SELECT t1, t2, l1, l2, m,
       |    CASE WHEN m = 0 THEN 0
       |      ELSE CAST(len(list_filter(generate_series(1, m), k ->
       |      substr(t1, list_filter(generate_series(1, l1),
       |        i -> (mask1 // (1::BIGINT << (i - 1))) % 2 = 1)[k], 1) <>
       |      substr(t2, list_filter(generate_series(1, l2),
       |        j -> (mask2 // (1::BIGINT << (j - 1))) % 2 = 1)[k], 1)))
       |      AS BIGINT) END AS t_raw
       |  FROM parts),
       |jr AS (SELECT t1, t2, m, l1, l2,
       |    CASE WHEN m = 0 THEN 0 ELSE
       |    (m * m * l2 + m * m * l1 + (m - t_raw // 2) * l1 * l2) * 1000000
       |         // (3 * l1 * l2 * m) END AS jaro_ppm,
       |    (SELECT coalesce(min(k2) - 1, least(4, least(l1, l2)))
       |     FROM unnest(generate_series(1, least(4, least(l1, l2))))
       |       AS u(k2)
       |     WHERE substr(t1, k2, 1) <> substr(t2, k2, 1)) AS pl
       |  FROM tr),
       |fin AS (SELECT t1 AS value_a, t2 AS value_b,
       |    CAST(levenshtein(t1, t2) AS BIGINT) AS lev,
       |    CAST(CASE WHEN m = 0 THEN 0
       |         ELSE jaro_ppm + pl * (1000000 - jaro_ppm) // 10 END
       |      AS BIGINT) AS jw_ppm
       |  FROM jr)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q714_dual_verifier_linkage" ->
      (jwFoldSql(
        """w0 AS (SELECT string_split(p_name, ' ') AS ws FROM part),
          |bg AS (SELECT DISTINCT ws[i] || ws[i + 1] AS t
          |  FROM w0, unnest(generate_series(1, len(ws) - 1)) AS u(i)),
          |v AS (SELECT t FROM bg WHERE length(t) BETWEEN 3 AND 20)""".stripMargin,
        "a.t < b.t AND substr(a.t, 1, 1) = substr(b.t, 1, 1)") +
        """
          |SELECT value_a, value_b, lev, jw_ppm,
          |  CAST(CASE WHEN jw_ppm >= 840000 THEN 1 ELSE 0 END AS BIGINT)
          |    AS jw_accepts,
          |  CAST(CASE WHEN lev <= 3 THEN 1 ELSE 0 END AS BIGINT)
          |    AS lev_accepts
          |FROM fin WHERE jw_ppm >= 840000 OR lev <= 3""".stripMargin),
    "q715_temporal_join_histories" ->
      """WITH o AS (SELECT * FROM orders WHERE o_custkey % 2 = 0),
        |ha AS (SELECT custkey, vfrom, priority,
        |    coalesce(lead(vfrom) OVER (PARTITION BY custkey ORDER BY vfrom),
        |             TIMESTAMP '2999-12-31 23:59:59') AS vto
        |  FROM (SELECT o_custkey AS custkey, o_orderdate AS vfrom,
        |          min(o_orderpriority) AS priority
        |        FROM o GROUP BY 1, 2)),
        |hb AS (SELECT custkey, bfrom, flag,
        |    coalesce(lead(bfrom) OVER (PARTITION BY custkey ORDER BY bfrom),
        |             TIMESTAMP '2999-12-31 23:59:59') AS bto
        |  FROM (SELECT o_custkey AS custkey, l_shipdate AS bfrom,
        |          min(l_returnflag) AS flag
        |        FROM lineitem JOIN o ON l_orderkey = o_orderkey
        |        GROUP BY 1, 2))
        |SELECT a.custkey,
        |  greatest(a.vfrom, b.bfrom) AS overlap_from,
        |  least(a.vto, b.bto) AS overlap_to,
        |  a.priority, b.flag
        |FROM ha a JOIN hb b ON a.custkey = b.custkey
        |  AND a.vfrom < b.bto AND b.bfrom < a.vto""".stripMargin,
    "q716_ndcg" ->
      s"""WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 64),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${SparkEntry.cosSql("q.embedding", "c.embedding")} AS cosine
         |  FROM embeddings c JOIN q ON q.vec_id <> c.vec_id),
         |topk AS (SELECT query_id, neighbor_id, rnk FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
         |    FROM scored) WHERE rnk <= 10),
         |rel AS (SELECT t.query_id, t.rnk,
         |    CAST(CASE WHEN ql.label = nl.label THEN 2
         |         WHEN abs(CAST(ql.label AS BIGINT) - nl.label) = 1 THEN 1
         |         ELSE 0 END AS BIGINT) AS rel
         |  FROM topk t
         |  JOIN embeddings ql ON ql.vec_id = t.query_id
         |  JOIN embeddings nl ON nl.vec_id = t.neighbor_id),
         |terms AS (SELECT query_id,
         |    rel * ${ndcgDiscSql("rnk")} AS dcg_term,
         |    rel * ${ndcgDiscSql(
                "CAST(row_number() OVER (PARTITION BY query_id " +
                  "ORDER BY rel DESC, rnk) AS INT)")} AS idcg_term
         |  FROM rel)
         |SELECT query_id, CAST(sum(dcg_term) AS BIGINT) AS dcg_micro,
         |  CAST(sum(idcg_term) AS BIGINT) AS idcg_micro,
         |  CAST(CASE WHEN sum(idcg_term) > 0
         |    THEN sum(dcg_term) * 1000000 // sum(idcg_term)
         |    ELSE 0 END AS BIGINT) AS ndcg_ppm
         |FROM terms GROUP BY 1""".stripMargin,
    "q717_four_cliques" ->
      """WITH gi AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
        |            FROM lineitem),
        |e AS (SELECT l.i AS src, r.i AS dst
        |      FROM gi l JOIN gi r ON l.g = r.g AND l.i < r.i
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT n, count(*) AS d FROM (
        |          SELECT src AS n FROM e UNION ALL SELECT dst FROM e)
        |        GROUP BY 1),
        |o AS (SELECT CASE WHEN (ds.d, e.src) < (dd.d, e.dst)
        |               THEN e.src ELSE e.dst END AS u,
        |             CASE WHEN (ds.d, e.src) < (dd.d, e.dst)
        |               THEN e.dst ELSE e.src END AS v
        |      FROM e JOIN deg ds ON e.src = ds.n
        |        JOIN deg dd ON e.dst = dd.n),
        |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |        FROM o e1 JOIN o e2 ON e1.v = e2.u
        |          JOIN o e3 ON e3.u = e1.u AND e3.v = e2.v),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles FROM tri),
        |fc AS (SELECT CAST(count(*) AS BIGINT) AS n_four_cliques
        |       FROM tri
        |       JOIN o x ON x.u = tri.a
        |       JOIN o y ON y.u = tri.b AND y.v = x.v
        |       JOIN o z ON z.u = tri.c AND z.v = x.v)
        |SELECT t.n_triangles, fc.n_four_cliques,
        |  CAST(CASE WHEN t.n_triangles > 0
        |    THEN fc.n_four_cliques * 1000000 // t.n_triangles
        |    ELSE 0 END AS BIGINT) AS cliques_per_triangle_ppm
        |FROM t, fc""".stripMargin,
    "q718_rmst" ->
      s"""WITH RECURSIVE ${SparkEntry.SrcCte},
         |life AS (SELECT user_id,
         |    CAST(min(ts) AS DATE) AS first_day,
         |    CAST(min(CASE WHEN event_type = 'error' AND event_id % 13 = 0
         |             THEN ts END) AS DATE) AS err_day,
         |    CAST(max(ts) AS DATE) AS last_day
         |  FROM src GROUP BY 1),
         |subj AS (SELECT
         |    CAST(date_diff('day', first_day, coalesce(err_day, last_day))
         |      AS BIGINT) AS dur,
         |    CASE WHEN err_day IS NULL THEN 1 ELSE 0 END AS censored
         |  FROM life),
         |perT AS (SELECT dur AS t, CAST(count(*) AS BIGINT) AS n_all,
         |    CAST(sum(CASE WHEN censored = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS d
         |  FROM subj GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_all) AS BIGINT) AS total FROM perT),
         |ladder AS (SELECT t, CAST(total - coalesce(sum(n_all) OVER (ORDER BY t
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS n_at_risk, d
         |  FROM perT, tot),
         |rk AS (SELECT t, n_at_risk, d, row_number() OVER (ORDER BY t) AS i
         |  FROM ladder WHERE d > 0),
         |fold(i, s) AS (
         |  SELECT 0, CAST(1000000 AS BIGINT)
         |  UNION ALL
         |  SELECT r.i, f.s * (r.n_at_risk - r.d) // r.n_at_risk
         |  FROM fold f JOIN rk r ON r.i = f.i + 1),
         |res AS (SELECT r.t, f.s AS s_ppm
         |  FROM rk r JOIN fold f ON f.i = r.i),
         |seg AS (SELECT t, s_ppm,
         |    coalesce(lag(s_ppm) OVER (ORDER BY t), 1000000) AS s_prev,
         |    coalesce(lag(t) OVER (ORDER BY t), 0) AS t_prev
         |  FROM res)
         |SELECT CAST(60 AS BIGINT) AS tau,
         |  CAST(coalesce(sum(s_prev * (least(t, 60) - least(t_prev, 60))), 0)
         |    + coalesce(max_by(s_ppm, t), 1000000)
         |      * (60 - least(coalesce(max(t), 0), 60)) AS BIGINT) AS rmst_ppm
         |FROM seg""".stripMargin,
    "q719_blocking_quality" ->
      """WITH v AS (SELECT DISTINCT string_split(p_name, ' ')[1] AS t
        |           FROM part),
        |vb AS (SELECT t, substr(t, 1, 1) || ':' ||
        |         CAST(length(t) // 3 AS VARCHAR) AS blk FROM v),
        |p AS (SELECT a.t AS ta, a.blk AS ba, b.t AS tb, b.blk AS bb
        |      FROM vb a JOIN vb b ON a.t < b.t)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(CASE WHEN ba = bb THEN 1 ELSE 0 END) AS BIGINT) AS n_cand,
        |  CAST(sum(CASE WHEN levenshtein(ta, tb) <= 2 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_truth,
        |  CAST(sum(CASE WHEN ba = bb AND levenshtein(ta, tb) <= 2
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
        |  CAST((count(*) - sum(CASE WHEN ba = bb THEN 1 ELSE 0 END))
        |    * 1000000 // count(*) AS BIGINT) AS rr_ppm,
        |  CAST(CASE WHEN sum(CASE WHEN levenshtein(ta, tb) <= 2
        |      THEN 1 ELSE 0 END) > 0
        |    THEN sum(CASE WHEN ba = bb AND levenshtein(ta, tb) <= 2
        |      THEN 1 ELSE 0 END) * 1000000
        |      // sum(CASE WHEN levenshtein(ta, tb) <= 2 THEN 1 ELSE 0 END)
        |    ELSE 0 END AS BIGINT) AS pc_ppm
        |FROM p""".stripMargin,
    "q720_fellegi_sunter" ->
      """WITH v AS (SELECT DISTINCT string_split(p_name, ' ')[1] AS t
        |           FROM part),
        |p AS (SELECT a.t AS ta, b.t AS tb, levenshtein(a.t, b.t) <= 2 AS m
        |      FROM v a JOIN v b ON a.t < b.t),
        |st AS (
        |  SELECT 'first_letter' AS field, m,
        |    substr(ta, 1, 1) = substr(tb, 1, 1) AS agree FROM p
        |  UNION ALL
        |  SELECT 'length_eq', m, length(ta) = length(tb) FROM p
        |  UNION ALL
        |  SELECT 'last_letter', m,
        |    substr(ta, length(ta), 1) = substr(tb, length(tb), 1) FROM p),
        |ag AS (SELECT field,
        |    CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
        |    CAST(sum(CASE WHEN NOT m THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_unmatch,
        |    CAST(sum(CASE WHEN m AND agree THEN 1 ELSE 0 END) AS BIGINT)
        |      AS am,
        |    CAST(sum(CASE WHEN NOT m AND agree THEN 1 ELSE 0 END) AS BIGINT)
        |      AS au
        |  FROM st GROUP BY 1),
        |mu AS (SELECT field, n_match, n_unmatch,
        |    CAST(CASE WHEN n_match > 0 THEN am * 1000000 // n_match
        |      ELSE 0 END AS BIGINT) AS m_ppm,
        |    CAST(CASE WHEN n_unmatch > 0 THEN au * 1000000 // n_unmatch
        |      ELSE 0 END AS BIGINT) AS u_ppm
        |  FROM ag)
        |SELECT field, n_match, n_unmatch, m_ppm, u_ppm,
        |  CAST(CASE WHEN u_ppm > 0 THEN m_ppm * 1000000 // u_ppm
        |    ELSE 0 END AS BIGINT) AS odds_ppm
        |FROM mu""".stripMargin,
    "q721_pinball_loss" ->
      """WITH rev AS (SELECT p_brand AS brand,
        |    (year(l_shipdate) - 1995) * 12 + month(l_shipdate) AS mi,
        |    CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |      AS rev_cents
        |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1, 2),
        |tr AS (SELECT brand, rev_cents,
        |    row_number() OVER (PARTITION BY brand ORDER BY rev_cents, mi)
        |      AS rn,
        |    count(*) OVER (PARTITION BY brand) AS n
        |  FROM rev WHERE mi <= 24),
        |qs AS (SELECT CAST(unnest([500, 900]) AS BIGINT) AS q_permille),
        |fc AS (SELECT brand, q_permille, rev_cents AS forecast_cents
        |  FROM tr CROSS JOIN qs
        |  WHERE rn = (n * q_permille + 999) // 1000)
        |SELECT e.brand, f.q_permille,
        |  CAST(max(f.forecast_cents) AS BIGINT) AS forecast_cents,
        |  CAST(count(*) AS BIGINT) AS n_eval,
        |  CAST(sum(CASE WHEN e.rev_cents >= f.forecast_cents
        |    THEN f.q_permille * (e.rev_cents - f.forecast_cents)
        |    ELSE (1000 - f.q_permille) * (f.forecast_cents - e.rev_cents)
        |    END) AS BIGINT) AS pinball_milli_cents
        |FROM rev e JOIN fc f ON e.brand = f.brand
        |WHERE e.mi > 24
        |GROUP BY 1, 2""".stripMargin,
    "q722_textrank" ->
      s"""WITH ${SparkEntry.ToksCte},
         |bg AS (SELECT t[i] AS w1, t[i + 1] AS w2
         |       FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
         |       WHERE t[i] <> t[i + 1]),
         |pc AS (SELECT least(w1, w2) AS a, greatest(w1, w2) AS b
         |       FROM bg GROUP BY 1, 2 HAVING count(*) >= 3),
         |e AS (SELECT a AS x, b AS y FROM pc UNION ALL SELECT b, a FROM pc),
         |deg AS (SELECT x AS node, count(*) AS outdeg FROM e GROUP BY 1),
         |pr0 AS (SELECT node, 1000000 AS pr, outdeg FROM deg),
         |i1 AS (SELECT e.y AS node,
         |         150000 + 850000 * sum(pr // outdeg) // 1000000 AS pr
         |       FROM e JOIN pr0 ON e.x = pr0.node GROUP BY 1),
         |pr1 AS (SELECT i1.node, pr, outdeg
         |        FROM i1 JOIN deg ON i1.node = deg.node),
         |i2 AS (SELECT e.y AS node,
         |         150000 + 850000 * sum(pr // outdeg) // 1000000 AS pr
         |       FROM e JOIN pr1 ON e.x = pr1.node GROUP BY 1),
         |pr2 AS (SELECT i2.node, pr, outdeg
         |        FROM i2 JOIN deg ON i2.node = deg.node),
         |i3 AS (SELECT e.y AS node,
         |         150000 + 850000 * sum(pr // outdeg) // 1000000 AS pr
         |       FROM e JOIN pr2 ON e.x = pr2.node GROUP BY 1)
         |SELECT CAST(rnk AS BIGINT) AS rnk, node AS keyword,
         |  CAST(pr AS BIGINT) AS pr_micro, CAST(outdeg AS BIGINT) AS outdeg
         |FROM (SELECT i3.node, pr, outdeg,
         |        row_number() OVER (ORDER BY pr DESC, i3.node) AS rnk
         |      FROM i3 JOIN deg ON i3.node = deg.node)
         |WHERE rnk <= 20""".stripMargin,
    "q723_curriculum_schedule" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(lower(trim(text)), '\s+'))
        |         END AS BIGINT) AS diff
        |  FROM documents),
        |c AS (SELECT doc_id, diff,
        |    sum(diff) OVER (ORDER BY diff, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(diff) OVER () AS total
        |  FROM d)
        |SELECT CAST(least(4, (cum - diff) * 4 // total + 1) AS BIGINT)
        |    AS phase,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(diff) AS BIGINT) AS tokens,
        |  CAST(min(diff) AS BIGINT) AS min_difficulty,
        |  CAST(max(diff) AS BIGINT) AS max_difficulty,
        |  CAST(sum(diff) * 1000000 // max(total) AS BIGINT) AS share_ppm
        |FROM c GROUP BY 1""".stripMargin,
    "q724_rouge_overlap" ->
      s"""WITH ${SparkEntry.ToksCte},
         |pr AS (SELECT doc_id AS cand_id, ref_id FROM (
         |    SELECT doc_id, lead(doc_id) OVER (
         |      PARTITION BY source ORDER BY doc_id) AS ref_id
         |    FROM documents)
         |  WHERE ref_id IS NOT NULL),
         |g1 AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT doc_id, unnest(t) AS g FROM toks
         |    WHERE length(trim(text)) > 0) GROUP BY 1, 2),
         |g2 AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT doc_id, t[i] || ' ' || t[i + 1] AS g
         |    FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
         |    WHERE length(trim(text)) > 0) GROUP BY 1, 2),
         |o1 AS (SELECT p.cand_id, p.ref_id,
         |    CAST(sum(least(c.cnt, r.cnt)) AS BIGINT) AS ov
         |  FROM pr p JOIN g1 c ON c.doc_id = p.cand_id
         |    JOIN g1 r ON r.doc_id = p.ref_id AND r.g = c.g
         |  GROUP BY 1, 2),
         |o2 AS (SELECT p.cand_id, p.ref_id,
         |    CAST(sum(least(c.cnt, r.cnt)) AS BIGINT) AS ov
         |  FROM pr p JOIN g2 c ON c.doc_id = p.cand_id
         |    JOIN g2 r ON r.doc_id = p.ref_id AND r.g = c.g
         |  GROUP BY 1, 2),
         |l1 AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS ln
         |  FROM g1 GROUP BY 1),
         |l2 AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS ln
         |  FROM g2 GROUP BY 1)
         |SELECT p.cand_id, p.ref_id,
         |  CAST(coalesce(o1.ov, 0) AS BIGINT) AS ov1,
         |  CAST(coalesce(o2.ov, 0) AS BIGINT) AS ov2,
         |  CAST(CASE WHEN coalesce(c1.ln, 0) + coalesce(r1.ln, 0) > 0
         |    THEN coalesce(o1.ov, 0) * 2 * 1000000
         |      // (coalesce(c1.ln, 0) + coalesce(r1.ln, 0))
         |    ELSE 0 END AS BIGINT) AS r1_f1_ppm,
         |  CAST(CASE WHEN coalesce(c2.ln, 0) + coalesce(r2.ln, 0) > 0
         |    THEN coalesce(o2.ov, 0) * 2 * 1000000
         |      // (coalesce(c2.ln, 0) + coalesce(r2.ln, 0))
         |    ELSE 0 END AS BIGINT) AS r2_f1_ppm
         |FROM pr p
         |LEFT JOIN o1 ON o1.cand_id = p.cand_id AND o1.ref_id = p.ref_id
         |LEFT JOIN o2 ON o2.cand_id = p.cand_id AND o2.ref_id = p.ref_id
         |LEFT JOIN l1 c1 ON c1.doc_id = p.cand_id
         |LEFT JOIN l1 r1 ON r1.doc_id = p.ref_id
         |LEFT JOIN l2 c2 ON c2.doc_id = p.cand_id
         |LEFT JOIN l2 r2 ON r2.doc_id = p.ref_id""".stripMargin,
    "q725_band_join" ->
      """WITH pc AS (SELECT p_brand AS brand, p_partkey AS id,
        |    CAST(floor(p_retailprice * 100) AS BIGINT) AS cents FROM part)
        |SELECT a.brand, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(min(abs(a.cents - b.cents)) AS BIGINT) AS min_diff,
        |  CAST(max(abs(a.cents - b.cents)) AS BIGINT) AS max_diff
        |FROM pc a JOIN pc b ON a.brand = b.brand AND a.id < b.id
        |  AND abs(a.cents - b.cents) <= 25
        |GROUP BY 1""".stripMargin,
    "q726_stream_outer_join" ->
      s"""WITH ${SparkEntry.SrcCte},
         |i AS (SELECT event_id AS imp_id, ts AS imp_ts, user_id FROM src
         |      WHERE user_id % 7 = 3 AND event_type = 'view'),
         |c AS (SELECT event_id AS click_id, ts AS click_ts,
         |        user_id AS cuid FROM src
         |      WHERE user_id % 7 = 3 AND event_type = 'click')
         |SELECT i.user_id, imp_id, imp_ts, click_id, click_ts
         |FROM i LEFT JOIN c ON i.user_id = c.cuid
         |  AND c.click_ts >= i.imp_ts
         |  AND c.click_ts <= i.imp_ts + INTERVAL 3600 SECONDS""".stripMargin,
    "q727_katz_centrality" ->
      """WITH gi AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
        |            FROM lineitem),
        |p AS (SELECT l.i AS src, r.i AS dst
        |      FROM gi l JOIN gi r ON l.g = r.g AND l.i < r.i
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT src AS x, dst AS y FROM p
        |      UNION ALL SELECT dst, src FROM p),
        |nodes AS (SELECT DISTINCT x AS node FROM e),
        |k0 AS (SELECT node, CAST(1000000 AS BIGINT) AS katz FROM nodes),
        |c1 AS (SELECT e.y AS node, sum(k.katz) AS si
        |       FROM e JOIN k0 k ON e.x = k.node GROUP BY 1),
        |k1 AS (SELECT n.node, 1000000 + 50 * coalesce(c1.si, 0) // 1000
        |         AS katz FROM nodes n LEFT JOIN c1 ON c1.node = n.node),
        |c2 AS (SELECT e.y AS node, sum(k.katz) AS si
        |       FROM e JOIN k1 k ON e.x = k.node GROUP BY 1),
        |k2 AS (SELECT n.node, 1000000 + 50 * coalesce(c2.si, 0) // 1000
        |         AS katz FROM nodes n LEFT JOIN c2 ON c2.node = n.node),
        |c3 AS (SELECT e.y AS node, sum(k.katz) AS si
        |       FROM e JOIN k2 k ON e.x = k.node GROUP BY 1),
        |k3 AS (SELECT n.node, 1000000 + 50 * coalesce(c3.si, 0) // 1000
        |         AS katz FROM nodes n LEFT JOIN c3 ON c3.node = n.node),
        |c4 AS (SELECT e.y AS node, sum(k.katz) AS si
        |       FROM e JOIN k3 k ON e.x = k.node GROUP BY 1),
        |k4 AS (SELECT n.node, 1000000 + 50 * coalesce(c4.si, 0) // 1000
        |         AS katz FROM nodes n LEFT JOIN c4 ON c4.node = n.node),
        |ind AS (SELECT y AS node, CAST(count(*) AS BIGINT) AS indeg
        |        FROM e GROUP BY 1)
        |SELECT k4.node, CAST(k4.katz AS BIGINT) AS katz_micro,
        |  CAST(coalesce(ind.indeg, 0) AS BIGINT) AS indeg
        |FROM k4 LEFT JOIN ind ON ind.node = k4.node""".stripMargin,
    "q728_weighted_intervals" ->
      """WITH RECURSIVE rk AS MATERIALIZED (SELECT k, st, en, w,
        |    row_number() OVER (PARTITION BY k
        |      ORDER BY en, st, w, l_orderkey, l_linenumber) AS i
        |  FROM (SELECT k, st, st + 1 + (l_orderkey + l_linenumber) % 14
        |        AS en, w, l_orderkey, l_linenumber
        |    FROM (SELECT l_suppkey AS k, l_orderkey, l_linenumber,
        |        CAST(date_diff('day', DATE '1970-01-01',
        |          CAST(l_shipdate AS DATE)) AS BIGINT) AS st,
        |        CAST(l_quantity AS BIGINT) AS w
        |      FROM lineitem WHERE l_partkey % 13 = 0))),
        |st(k, i, ends, fs) AS (
        |  SELECT k, i, [en], [w] FROM rk WHERE i = 1
        |  UNION ALL
        |  SELECT r.k, r.i, list_append(s.ends, r.en),
        |    list_append(s.fs, greatest(s.fs[len(s.fs)],
        |      r.w + CASE WHEN len(list_filter(s.ends, x -> x <= r.st)) = 0
        |            THEN 0
        |            ELSE s.fs[len(list_filter(s.ends, x -> x <= r.st))]
        |            END))
        |  FROM st s JOIN rk r ON r.k = s.k AND r.i = s.i + 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_suppliers,
        |  CAST(sum(opt) AS BIGINT) AS total_opt,
        |  CAST(min(opt) AS BIGINT) AS min_opt,
        |  CAST(max(opt) AS BIGINT) AS max_opt
        |FROM (SELECT st.k, st.fs[len(st.fs)] AS opt
        |      FROM (SELECT k, max(i) AS mi FROM st GROUP BY 1) l
        |      JOIN st ON st.k = l.k AND st.i = l.mi)""".stripMargin,
    "q729_holt_winters" ->
      s"""WITH RECURSIVE d0 AS (SELECT pt.p_brand AS ctr,
         |    (year(l_shipdate) - 1995) * 4 + quarter(l_shipdate) AS qi,
         |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS y
         |  FROM lineitem l JOIN part pt ON l.l_partkey = pt.p_partkey
         |  GROUP BY 1, 2),
         |span AS (SELECT
         |    (year(min(l_shipdate)) - 1995) * 4 + quarter(min(l_shipdate))
         |      AS qlo,
         |    (year(max(l_shipdate)) - 1995) * 4 + quarter(max(l_shipdate))
         |      AS qhi
         |  FROM lineitem),
         |ctrs AS (SELECT DISTINCT ctr FROM d0),
         |rk AS MATERIALIZED (SELECT c.ctr,
         |    CAST(row_number() OVER (PARTITION BY c.ctr ORDER BY q.qi)
         |      AS BIGINT) AS i,
         |    coalesce(d0.y, 0) AS y
         |  FROM ctrs c CROSS JOIN (SELECT unnest(generate_series(
         |      (SELECT qlo FROM span), (SELECT qhi FROM span))) AS qi) q
         |  LEFT JOIN d0 ON d0.ctr = c.ctr AND d0.qi = q.qi),
         |st(ctr, i, lvl, trd, s1, s2, s3, s4) AS (
         |  SELECT ctr, i, y * 1000, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
         |    CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
         |  FROM rk WHERE i = 1
         |  UNION ALL
         |  SELECT r.ctr, r.i,
         |    ${HwStepSql._1},
         |    ${HwStepSql._2},
         |    ${HwStepSql._3}
         |  FROM st s JOIN rk r ON r.ctr = s.ctr AND r.i = s.i + 1),
         |fin AS (SELECT st.* FROM (SELECT ctr, max(i) AS mi FROM st
         |    GROUP BY 1) l
         |  JOIN st ON st.ctr = l.ctr AND st.i = l.mi)
         |SELECT ctr, CAST(lvl AS BIGINT) AS lvl_milli,
         |  CAST(trd AS BIGINT) AS trd_milli,
         |  CAST(s1 AS BIGINT) AS s1_milli, CAST(s2 AS BIGINT) AS s2_milli,
         |  CAST(s3 AS BIGINT) AS s3_milli, CAST(s4 AS BIGINT) AS s4_milli,
         |${(1 to 4).map(k =>
            s"  CAST(lvl + $k * trd + (CASE ((i + ${k - 1}) % 4) + 1" +
              s" WHEN 1 THEN s1 WHEN 2 THEN s2 WHEN 3 THEN s3 ELSE s4 END)" +
              s" AS BIGINT) AS f${k}_milli").mkString(",\n")}
         |FROM fin""".stripMargin,
    "q730_jelinek_mercer" ->
      s"""WITH ${SparkEntry.ToksCte},
         |tk AS (SELECT doc_id, t FROM toks WHERE length(trim(text)) > 0),
         |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS cu FROM (
         |    SELECT unnest(t) AS w FROM tk) GROUP BY 1),
         |tot AS (SELECT CAST(sum(cu) AS BIGINT) AS tt FROM uni),
         |bi AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
         |       FROM tk, unnest(generate_series(1, len(t) - 1)) AS u(i)),
         |bg AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb
         |       FROM bi GROUP BY 1, 2)
         |SELECT bi.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(sum((700 * (bg.cb * 1000000 // u1.cu)
         |    + 300 * (u2.cu * 1000000 // tot.tt)) // 1000)
         |    // count(*) AS BIGINT) AS jm_score_ppm
         |FROM bi
         |JOIN bg ON bg.w1 = bi.w1 AND bg.w2 = bi.w2
         |JOIN uni u1 ON u1.w = bi.w1
         |JOIN uni u2 ON u2.w = bi.w2
         |CROSS JOIN tot
         |GROUP BY 1""".stripMargin,
    "q731_percentile_contract" ->
      ("""WITH p AS (SELECT p_brand AS brand,
         |    CAST(floor(p_retailprice * 100) AS BIGINT) AS cents FROM part)
         |""".stripMargin +
        Seq(250 -> "0.25", 500 -> "0.5", 750 -> "0.75", 900 -> "0.9").map {
          case (qp, f) =>
            s"SELECT brand, CAST($qp AS BIGINT) AS q_permille,\n" +
              s"  CAST(quantile_disc(cents, $f) AS BIGINT) AS value_cents\n" +
              "FROM p GROUP BY 1"
        }.mkString("\nUNION ALL\n")),
    "q732_temperature_mix" ->
      """WITH cells AS (SELECT source, lang,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)
        |      AS w_isqrt
        |  FROM documents GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS tot_n,
        |    CAST(sum(w_isqrt) AS BIGINT) AS tot_w FROM cells)
        |SELECT source, lang, n_docs, w_isqrt,
        |  CAST(10000 * w_isqrt // tot_w AS BIGINT) AS alloc,
        |  CAST(n_docs * 1000000 // tot_n AS BIGINT) AS share_before_ppm,
        |  CAST((10000 * w_isqrt // tot_w) * 1000000 // 10000 AS BIGINT)
        |    AS share_after_ppm,
        |  CAST((10000 * w_isqrt // tot_w) * 1000000 // 10000
        |    - n_docs * 1000000 // tot_n AS BIGINT) AS shift_ppm
        |FROM cells CROSS JOIN tot""".stripMargin,
    "q733_shuffle_audit" ->
      """WITH d AS (SELECT doc_id, source,
        |    md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
        |sq AS (SELECT source, h, doc_id,
        |    lag(source) OVER (ORDER BY h, doc_id) AS prev_src
        |  FROM d),
        |sq2 AS (SELECT source, prev_src,
        |    sum(CASE WHEN prev_src IS NULL OR prev_src <> source
        |        THEN 1 ELSE 0 END) OVER (ORDER BY h, doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS run_id
        |  FROM sq),
        |runs AS (SELECT CAST(max(cnt) AS BIGINT) AS longest_run FROM (
        |    SELECT run_id, count(*) AS cnt FROM sq2 GROUP BY 1)),
        |adj AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(CASE WHEN prev_src = source THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_adjacent_same
        |  FROM sq2),
        |ex AS (SELECT CAST(sum(ns * (ns - 1)) * 1000000
        |      // (sum(ns) * (sum(ns) - 1)) AS BIGINT) AS expected_ppm
        |  FROM (SELECT count(*) AS ns FROM d GROUP BY source))
        |SELECT adj.n_docs, adj.n_adjacent_same,
        |  CAST(adj.n_adjacent_same * 1000000 // (adj.n_docs - 1) AS BIGINT)
        |    AS adj_ppm,
        |  ex.expected_ppm, runs.longest_run
        |FROM adj, runs, ex""".stripMargin,
    "q734_misra_gries" ->
      s"""WITH RECURSIVE ${SparkEntry.ToksCte},
         |tk AS (SELECT toks.doc_id, d2.source, t[1:12] AS t12
         |  FROM toks JOIN documents d2 ON d2.doc_id = toks.doc_id
         |  WHERE toks.doc_id % 17 = 0 AND length(trim(toks.text)) > 0),
         |stream AS (SELECT source, doc_id, i - 1 AS pos, t12[i] AS w
         |  FROM tk, unnest(generate_series(1, len(t12))) AS u(i)),
         |rk AS MATERIALIZED (SELECT source, w,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY doc_id, pos) AS BIGINT) AS i
         |  FROM stream),
         |ns AS (SELECT source, CAST(max(i) AS BIGINT) AS n_stream
         |  FROM rk GROUP BY 1),
         |st(source, i, ts, cs) AS (
         |  SELECT source, 1, [w], [CAST(1 AS BIGINT)] FROM rk WHERE i = 1
         |  UNION ALL
         |  SELECT r.source, r.i,
         |    CASE
         |      WHEN coalesce(list_position(s.ts, r.w), 0) > 0 THEN s.ts
         |      WHEN len(s.ts) < 4 THEN list_append(s.ts, r.w)
         |      ELSE list_transform(list_filter(
         |        generate_series(1, len(s.cs)), j -> s.cs[j] > 1),
         |        j -> s.ts[j])
         |    END,
         |    CASE
         |      WHEN coalesce(list_position(s.ts, r.w), 0) > 0 THEN
         |        list_transform(generate_series(1, len(s.cs)),
         |          j -> CASE WHEN j = list_position(s.ts, r.w)
         |               THEN s.cs[j] + 1 ELSE s.cs[j] END)
         |      WHEN len(s.ts) < 4 THEN list_append(s.cs, CAST(1 AS BIGINT))
         |      ELSE list_transform(list_filter(
         |        generate_series(1, len(s.cs)), j -> s.cs[j] > 1),
         |        j -> s.cs[j] - 1)
         |    END
         |  FROM st s JOIN rk r ON r.source = s.source AND r.i = s.i + 1),
         |fin AS (SELECT st.source, st.ts, st.cs
         |  FROM (SELECT source, max(i) AS mi FROM st GROUP BY 1) l
         |  JOIN st ON st.source = l.source AND st.i = l.mi)
         |SELECT f.source, f.ts[j] AS token,
         |  CAST(f.cs[j] AS BIGINT) AS mg_count, ns.n_stream
         |FROM fin f
         |JOIN ns ON ns.source = f.source,
         |unnest(generate_series(1, len(f.ts))) AS u(j)""".stripMargin,
    "q735_c_index" ->
      s"""WITH ${SparkEntry.SrcCte},
         |life AS (SELECT user_id,
         |    CAST(min(ts) AS DATE) AS first_day,
         |    CAST(min(CASE WHEN event_type = 'error' AND event_id % 13 = 0
         |             THEN ts END) AS DATE) AS err_day,
         |    CAST(max(ts) AS DATE) AS last_day
         |  FROM src GROUP BY 1),
         |sc0 AS (SELECT user_id, CAST(min(ts) AS DATE) AS d0
         |  FROM src GROUP BY 1),
         |score AS (SELECT s.user_id, CAST(count(*) AS BIGINT) AS score
         |  FROM src s JOIN sc0 ON sc0.user_id = s.user_id
         |  WHERE CAST(s.ts AS DATE) = sc0.d0 GROUP BY 1),
         |subj AS (SELECT l.user_id,
         |    CAST(date_diff('day', first_day, coalesce(err_day, last_day))
         |      AS BIGINT) AS dur,
         |    CASE WHEN err_day IS NULL THEN 0 ELSE 1 END AS event,
         |    sc.score
         |  FROM life l JOIN score sc ON sc.user_id = l.user_id)
         |SELECT CAST(count(*) AS BIGINT) AS n_usable,
         |  CAST(sum(CASE WHEN a.score > b.score THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_concordant,
         |  CAST(sum(CASE WHEN a.score = b.score THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_tied,
         |  CAST(CASE WHEN count(*) > 0 THEN
         |    (2 * sum(CASE WHEN a.score > b.score THEN 1 ELSE 0 END)
         |     + sum(CASE WHEN a.score = b.score THEN 1 ELSE 0 END))
         |    * 1000000 // (2 * count(*)) ELSE 0 END AS BIGINT)
         |    AS c_index_ppm
         |FROM subj a JOIN subj b ON a.dur < b.dur AND a.event = 1""".stripMargin,
    "q736_sequence_contract" ->
      """WITH d AS (SELECT doc_id % 4 AS cls,
        |    CASE doc_id % 4 WHEN 0 THEN ''
        |      WHEN 1 THEN regexp_split_to_array(lower(trim(text)), '\s+')[1]
        |      WHEN 2 THEN array_to_string(
        |        regexp_split_to_array(lower(trim(text)), '\s+')[1:2], ' ')
        |      ELSE text END AS syn
        |  FROM documents),
        |t0 AS (SELECT cls,
        |    regexp_split_to_array(lower(trim(syn)), '\s+') AS t,
        |    CASE WHEN length(trim(syn)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(lower(trim(syn)), '\s+'))
        |      END AS tc
        |  FROM d)
        |SELECT cls, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(list_transform(generate_series(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i + 1]))) AS BIGINT) AS n_bigrams_enum,
        |  CAST(sum(greatest(tc - 1, 0)) AS BIGINT) AS n_bigrams_formula,
        |  sum(len(list_transform(generate_series(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i + 1]))) = sum(greatest(tc - 1, 0))
        |    AS contract_holds
        |FROM t0 GROUP BY 1""".stripMargin,
    "q737_markov_removal" ->
      s"""WITH ${SparkEntry.SrcCte},
         |e1 AS (SELECT user_id, ts, event_id, event_type,
         |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |      AS rn
         |  FROM src),
         |e2 AS (SELECT *,
         |    min(CASE WHEN event_type = 'purchase' THEN rn END)
         |      OVER (PARTITION BY user_id) AS prn,
         |    max(rn) OVER (PARTITION BY user_id) AS mx
         |  FROM e1),
         |e3 AS (SELECT user_id, rn, prn, mx,
         |    CASE WHEN event_type = 'purchase' THEN 'CONV'
         |         ELSE event_type END AS node
         |  FROM e2 WHERE rn <= coalesce(prn, mx)),
         |e4 AS (SELECT *, coalesce(lag(node)
         |    OVER (PARTITION BY user_id ORDER BY rn), 'START') AS prev
         |  FROM e3),
         |tr0 AS (SELECT prev AS f, node AS t FROM e4
         |  UNION ALL
         |  SELECT node, 'NULL' FROM e4 WHERE rn = mx AND prn IS NULL),
         |tr AS (SELECT f, t, CAST(count(*) * 1000000
         |    // sum(count(*)) OVER (PARTITION BY f) AS BIGINT) AS ppm
         |  FROM tr0 GROUP BY 1, 2),
         |scen AS (SELECT DISTINCT f AS sc FROM tr WHERE f <> 'START'
         |         UNION ALL SELECT '__base__'),
         |states AS (SELECT DISTINCT f AS state FROM tr),
         |p0 AS (SELECT sc, state, CAST(0 AS BIGINT) AS p
         |  FROM scen CROSS JOIN states),
         |${(1 to 12).map(k =>
            s"""p$k AS (SELECT x.sc, x.f AS state,
               |    CAST(sum(x.ppm * CASE WHEN x.t = 'CONV' THEN 1000000
               |         WHEN x.t = x.sc THEN 0
               |         ELSE coalesce(pp.p, 0) END) // 1000000 AS BIGINT)
               |      AS p
               |  FROM (SELECT scen.sc, tr.f, tr.t, tr.ppm
               |        FROM scen CROSS JOIN tr) x
               |  LEFT JOIN p${k - 1} pp ON pp.sc = x.sc AND pp.state = x.t
               |  GROUP BY 1, 2)""".stripMargin).mkString(",\n")},
         |base AS (SELECT p AS p_base FROM p12
         |  WHERE sc = '__base__' AND state = 'START')
         |SELECT p12.sc AS channel, CAST(base.p_base AS BIGINT) AS p_base_ppm,
         |  CAST(p12.p AS BIGINT) AS p_removed_ppm,
         |  CAST(CASE WHEN base.p_base > 0 THEN 1000000
         |    - p12.p * 1000000 // base.p_base ELSE 0 END AS BIGINT)
         |    AS removal_effect_ppm
         |FROM p12 CROSS JOIN base
         |WHERE p12.sc <> '__base__' AND p12.state = 'START'""".stripMargin,
    "q738_stream_union_watermark" ->
      s"""WITH ${SparkEntry.SrcCte}
         |SELECT date_trunc('hour', ts) AS hour_start, event_type,
         |  CAST(count(*) AS BIGINT) AS n
         |FROM src WHERE user_id % 5 = 2 AND event_type IN ('view', 'click')
         |GROUP BY 1, 2""".stripMargin,
    "q739_incremental_dedup" ->
      s"""WITH ${SparkEntry.ToksCte}, ${SparkEntry.shingleCteFor("sh3", 3)},
         |shx AS (SELECT doc_id, unnest(shs) AS s FROM sh3),
         |sizes AS (SELECT doc_id, count(*) AS n FROM shx GROUP BY 1),
         |mh AS (SELECT doc_id,
         |${(0 until 12).map(i =>
            s"  list_min(list_transform(shs, s -> md5('$i-' || s))) AS m$i")
            .mkString(",\n")}
         |FROM sh3),
         |bands AS (SELECT doc_id, unnest([
         |${(0 until 4).map(b =>
            s"  '$b:' || md5(m${3 * b} || '|' || m${3 * b + 1} || '|' || m${3 * b + 2})")
            .mkString(",\n")}
         |]) AS bk FROM mh),
         |obs AS (SELECT doc_id, bk FROM bands WHERE doc_id % 3 <> 0),
         |nbs AS (SELECT doc_id, bk FROM bands WHERE doc_id % 3 = 0),
         |nd AS (SELECT count(*) AS ndocs FROM documents),
         |sz AS (SELECT o.bk, o.omin,
         |    (o.bo <= ${graft.operators.Dedup.DefaultMaxBucket}
         |     AND nn.bn <= ${graft.operators.Dedup.DefaultMaxBucket}
         |     AND o.bo * nn.bn <= ${graft.operators.Dedup.PairBudgetFactor}
         |       * (SELECT ndocs FROM nd)) AS ok
         |  FROM (SELECT bk, count(*) AS bo, min(doc_id) AS omin
         |        FROM obs GROUP BY 1) o
         |  JOIN (SELECT bk, count(*) AS bn FROM nbs GROUP BY 1) nn
         |    ON nn.bk = o.bk),
         |cand AS (SELECT DISTINCT new_id, old_id FROM (
         |  SELECT n2.doc_id AS new_id, o2.doc_id AS old_id
         |  FROM nbs n2 JOIN sz ON sz.bk = n2.bk AND sz.ok
         |    JOIN obs o2 ON o2.bk = n2.bk
         |  UNION ALL
         |  SELECT n2.doc_id, sz.omin
         |  FROM nbs n2 JOIN sz ON sz.bk = n2.bk AND NOT sz.ok) cu),
         |pairs AS (SELECT c.new_id, c.old_id, count(*) AS overlap
         |  FROM cand c JOIN shx x ON x.doc_id = c.new_id
         |    JOIN shx y ON y.doc_id = c.old_id AND y.s = x.s
         |  GROUP BY 1, 2)
         |SELECT new_id, old_id, CAST(overlap AS BIGINT) AS overlap,
         |  CAST(sx.n + sy.n - overlap AS BIGINT) AS union_size
         |FROM pairs JOIN sizes sx ON sx.doc_id = new_id
         |  JOIN sizes sy ON sy.doc_id = old_id
         |WHERE overlap * 2 >= (sx.n + sy.n - overlap) * 1""".stripMargin,
    "q740_rouge_l" ->
      s"""WITH ${SparkEntry.ToksCte},
         |pr AS (SELECT doc_id AS cand_id, ref_id FROM (
         |    SELECT doc_id, lead(doc_id) OVER (
         |      PARTITION BY source ORDER BY doc_id) AS ref_id
         |    FROM documents)
         |  WHERE ref_id IS NOT NULL),
         |tk AS (SELECT doc_id, t[i] AS w, i AS pos
         |  FROM toks, unnest(generate_series(1, len(t))) AS u(i)
         |  WHERE length(trim(text)) > 0),
         |firsts AS (SELECT doc_id, w, min(pos) AS pos FROM tk GROUP BY 1, 2),
         |seq15 AS MATERIALIZED (SELECT doc_id, w, CAST(i AS BIGINT) AS i
         |  FROM (SELECT doc_id, w, row_number() OVER (
         |      PARTITION BY doc_id ORDER BY pos) AS i FROM firsts)
         |  WHERE i <= 15),
         |lens AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ln
         |  FROM seq15 GROUP BY 1),
         |m AS MATERIALIZED (SELECT p.cand_id, p.ref_id, c.i AS ic, r.i AS ir
         |  FROM pr p JOIN seq15 c ON c.doc_id = p.cand_id
         |    JOIN seq15 r ON r.doc_id = p.ref_id AND r.w = c.w),
         |p0 AS MATERIALIZED (SELECT a.cand_id, a.ref_id, a.ic AS i,
         |    b.ic AS j, CAST(1 AS BIGINT) AS len
         |  FROM m a JOIN m b ON a.cand_id = b.cand_id
         |    AND a.ref_id = b.ref_id AND a.ic < b.ic AND a.ir < b.ir),
         |${(1 to 4).map(k =>
            s"""p$k AS MATERIALIZED (SELECT cand_id, ref_id, i, j,
               |    max(len) AS len FROM (
               |  SELECT cand_id, ref_id, i, j, len FROM p${k - 1} UNION ALL
               |  SELECT a.cand_id, a.ref_id, a.i, b.j, a.len + b.len
               |  FROM p${k - 1} a JOIN p${k - 1} b ON a.cand_id = b.cand_id
               |    AND a.ref_id = b.ref_id AND a.j = b.i)
               |  GROUP BY 1, 2, 3, 4)""".stripMargin).mkString(",\n")},
         |ch AS (SELECT cand_id, ref_id, max(len) + 1 AS chain
         |  FROM p4 GROUP BY 1, 2),
         |nm AS (SELECT cand_id, ref_id, count(*) AS n_matches
         |  FROM m GROUP BY 1, 2),
         |fin AS (SELECT p.cand_id, p.ref_id,
         |    CASE WHEN coalesce(nm.n_matches, 0) = 0 THEN 0
         |         ELSE coalesce(ch.chain, 1) END AS lcs,
         |    coalesce(lc.ln, 0) + coalesce(lr.ln, 0) AS lsum
         |  FROM pr p
         |  LEFT JOIN nm ON nm.cand_id = p.cand_id AND nm.ref_id = p.ref_id
         |  LEFT JOIN ch ON ch.cand_id = p.cand_id AND ch.ref_id = p.ref_id
         |  LEFT JOIN lens lc ON lc.doc_id = p.cand_id
         |  LEFT JOIN lens lr ON lr.doc_id = p.ref_id)
         |SELECT cand_id, ref_id, CAST(lcs AS BIGINT) AS lcs,
         |  CAST(CASE WHEN lsum > 0 THEN 2 * lcs * 1000000 // lsum
         |    ELSE 0 END AS BIGINT) AS rouge_l_f1_ppm
         |FROM fin""".stripMargin,
    "q741_mg_merge" ->
      s"""WITH RECURSIVE ${SparkEntry.ToksCte},
         |tk AS (SELECT toks.doc_id, d2.source,
         |    (toks.doc_id // 11) % 2 AS half, t[1:12] AS t12
         |  FROM toks JOIN documents d2 ON d2.doc_id = toks.doc_id
         |  WHERE toks.doc_id % 11 = 0 AND length(trim(toks.text)) > 0),
         |stream AS (SELECT source, half, doc_id, i - 1 AS pos, t12[i] AS w
         |  FROM tk, unnest(generate_series(1, len(t12))) AS u(i)),
         |rk AS MATERIALIZED (SELECT source, half, w,
         |    CAST(row_number() OVER (PARTITION BY source, half
         |      ORDER BY doc_id, pos) AS BIGINT) AS i
         |  FROM stream),
         |st(source, half, i, ts, cs) AS (
         |  SELECT source, half, 1, [w], [CAST(1 AS BIGINT)]
         |  FROM rk WHERE i = 1
         |  UNION ALL
         |  SELECT r.source, r.half, r.i,
         |    CASE
         |      WHEN coalesce(list_position(s.ts, r.w), 0) > 0 THEN s.ts
         |      WHEN len(s.ts) < 4 THEN list_append(s.ts, r.w)
         |      ELSE list_transform(list_filter(
         |        generate_series(1, len(s.cs)), j -> s.cs[j] > 1),
         |        j -> s.ts[j])
         |    END,
         |    CASE
         |      WHEN coalesce(list_position(s.ts, r.w), 0) > 0 THEN
         |        list_transform(generate_series(1, len(s.cs)),
         |          j -> CASE WHEN j = list_position(s.ts, r.w)
         |               THEN s.cs[j] + 1 ELSE s.cs[j] END)
         |      WHEN len(s.ts) < 4 THEN list_append(s.cs, CAST(1 AS BIGINT))
         |      ELSE list_transform(list_filter(
         |        generate_series(1, len(s.cs)), j -> s.cs[j] > 1),
         |        j -> s.cs[j] - 1)
         |    END
         |  FROM st s JOIN rk r ON r.source = s.source AND r.half = s.half
         |    AND r.i = s.i + 1),
         |fin AS (SELECT st.source, st.half, st.ts, st.cs
         |  FROM (SELECT source, half, max(i) AS mi FROM st GROUP BY 1, 2) l
         |  JOIN st ON st.source = l.source AND st.half = l.half
         |    AND st.i = l.mi),
         |summ AS (SELECT f.source, f.ts[j] AS token, f.cs[j] AS c
         |  FROM fin f, unnest(generate_series(1, len(f.ts))) AS u(j)),
         |comb AS (SELECT source, token, CAST(sum(c) AS BIGINT) AS c
         |  FROM summ GROUP BY 1, 2),
         |rkc AS (SELECT *, row_number() OVER (PARTITION BY source
         |    ORDER BY c DESC, token) AS rk2 FROM comb),
         |sub AS (SELECT source,
         |    coalesce(max(CASE WHEN rk2 = 5 THEN c END), 0) AS d
         |  FROM rkc GROUP BY 1),
         |merged AS (SELECT r2.source, r2.token, r2.c - sub.d AS mg_count
         |  FROM rkc r2 JOIN sub ON sub.source = r2.source
         |  WHERE r2.c - sub.d > 0),
         |exact AS (SELECT source, w AS token,
         |    CAST(count(*) AS BIGINT) AS n_exact FROM stream GROUP BY 1, 2),
         |ntot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_stream
         |  FROM stream GROUP BY 1)
         |SELECT m2.source, m2.token, CAST(m2.mg_count AS BIGINT) AS mg_count,
         |  e2.n_exact, ntot.n_stream,
         |  (m2.mg_count <= e2.n_exact
         |   AND e2.n_exact <= m2.mg_count + ntot.n_stream // 5)
         |    AS within_bound
         |FROM merged m2
         |JOIN exact e2 ON e2.source = m2.source AND e2.token = m2.token
         |JOIN ntot ON ntot.source = m2.source""".stripMargin,
    "q742_cache_replacement" ->
      s"""WITH RECURSIVE rk AS MATERIALIZED (SELECT nation, pk,
         |    CAST(row_number() OVER (PARTITION BY nation
         |      ORDER BY l_shipdate, l_orderkey, l_linenumber, pk)
         |      AS BIGINT) AS i
         |  FROM (SELECT CAST(s.s_nationkey AS BIGINT) AS nation,
         |      CAST(l_partkey AS BIGINT) AS pk,
         |      l_shipdate, l_orderkey, l_linenumber
         |    FROM lineitem JOIN supplier s ON l_suppkey = s_suppkey
         |    WHERE l_partkey % 7 = 0)),
         |st_lru(nation, i, ks, hits) AS (
         |  SELECT nation, 1, [pk], CAST(0 AS BIGINT) FROM rk WHERE i = 1
         |  UNION ALL
         |  SELECT r.nation, r.i,
         |    ([r.pk] || list_filter(s.ks, x -> x != r.pk))[1:8],
         |    s.hits + CASE WHEN list_position(s.ks, r.pk) > 0
         |             THEN 1 ELSE 0 END
         |  FROM st_lru s JOIN rk r ON r.nation = s.nation
         |    AND r.i = s.i + 1),
         |st_lfu(nation, i, ks, fs, hits) AS (
         |  SELECT nation, 1, [pk], [CAST(1 AS BIGINT)], CAST(0 AS BIGINT)
         |  FROM rk WHERE i = 1
         |  UNION ALL
         |  SELECT r.nation, r.i,
         |    CASE WHEN list_position(s.ks, r.pk) > 0 THEN s.ks
         |         WHEN len(s.ks) < 8 THEN list_append(s.ks, r.pk)
         |         ELSE list_append(list_transform(list_filter(
         |           generate_series(1, len(s.ks)), j -> j != $EvixSql),
         |           j -> s.ks[j]), r.pk) END,
         |    CASE WHEN list_position(s.ks, r.pk) > 0 THEN
         |           list_transform(generate_series(1, len(s.fs)),
         |             j -> CASE WHEN j = list_position(s.ks, r.pk)
         |                  THEN s.fs[j] + 1 ELSE s.fs[j] END)
         |         WHEN len(s.ks) < 8 THEN
         |           list_append(s.fs, CAST(1 AS BIGINT))
         |         ELSE list_append(list_transform(list_filter(
         |           generate_series(1, len(s.ks)), j -> j != $EvixSql),
         |           j -> s.fs[j]), CAST(1 AS BIGINT)) END,
         |    s.hits + CASE WHEN list_position(s.ks, r.pk) > 0
         |             THEN 1 ELSE 0 END
         |  FROM st_lfu s JOIN rk r ON r.nation = s.nation
         |    AND r.i = s.i + 1),
         |na AS (SELECT nation, CAST(max(i) AS BIGINT) AS n
         |  FROM rk GROUP BY 1),
         |fl AS (SELECT s2.nation, s2.hits
         |  FROM (SELECT nation, max(i) AS mi FROM st_lru GROUP BY 1) l
         |  JOIN st_lru s2 ON s2.nation = l.nation AND s2.i = l.mi),
         |ff AS (SELECT s2.nation, s2.hits
         |  FROM (SELECT nation, max(i) AS mi FROM st_lfu GROUP BY 1) l
         |  JOIN st_lfu s2 ON s2.nation = l.nation AND s2.i = l.mi)
         |SELECT na.nation, na.n AS n_accesses,
         |  CAST(fl.hits AS BIGINT) AS lru_hits,
         |  CAST(ff.hits AS BIGINT) AS lfu_hits,
         |  CAST(fl.hits * 1000000 // na.n AS BIGINT) AS lru_hit_ppm,
         |  CAST(ff.hits * 1000000 // na.n AS BIGINT) AS lfu_hit_ppm
         |FROM na JOIN fl ON fl.nation = na.nation
         |  JOIN ff ON ff.nation = na.nation""".stripMargin,
    "q743_bandit_replay" ->
      s"""WITH RECURSIVE ${SparkEntry.SrcCte},
         |rk AS MATERIALIZED (SELECT
         |    CAST(row_number() OVER (ORDER BY ts, event_id) AS BIGINT)
         |      AS rn,
         |    CAST(CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
         |      WHEN 'purchase' THEN 3 WHEN 'signup' THEN 4 ELSE 5 END
         |      AS BIGINT) AS ai,
         |    CAST(CASE WHEN CAST(floor(value * 100) AS BIGINT) > 50
         |      THEN 1 ELSE 0 END AS BIGINT) AS rew
         |  FROM src WHERE user_id % 25 = 0),
         |st(i, ${(1 to 5).map(k => s"c$k, r$k").mkString(", ")}, mt, mr) AS (
         |  SELECT CAST(0 AS BIGINT),
         |    ${(1 to 12).map(_ => "CAST(0 AS BIGINT)").mkString(", ")}
         |  UNION ALL
         |  SELECT r.rn,
         |${(1 to 5).map(k =>
            s"    s.c$k + CASE WHEN $BanditPolicySql = r.ai AND r.ai = $k" +
              s" THEN 1 ELSE 0 END,\n" +
            s"    s.r$k + CASE WHEN $BanditPolicySql = r.ai AND r.ai = $k" +
              s" THEN r.rew ELSE 0 END").mkString(",\n")},
         |    s.mt + CASE WHEN $BanditPolicySql = r.ai THEN 1 ELSE 0 END,
         |    s.mr + CASE WHEN $BanditPolicySql = r.ai THEN r.rew
         |           ELSE 0 END
         |  FROM st s JOIN rk r ON r.rn = s.i + 1)
         |SELECT CAST(st.i AS BIGINT) AS n_steps,
         |  CAST(st.mt AS BIGINT) AS n_matched,
         |  CAST(st.mr AS BIGINT) AS n_rewards,
         |  CAST(CASE WHEN st.mt > 0 THEN st.mr * 1000000 // st.mt
         |    ELSE 0 END AS BIGINT) AS reward_rate_ppm
         |FROM st JOIN (SELECT max(i) AS mi FROM st) l ON st.i = l.mi""".stripMargin,
    "q744_topk_churn" ->
      """WITH rev AS (SELECT
        |    (year(l_shipdate) - 1995) * 12 + month(l_shipdate) AS mi,
        |    p_brand AS brand,
        |    CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1, 2),
        |topk AS (SELECT mi, brand FROM (
        |    SELECT mi, brand, row_number() OVER (PARTITION BY mi
        |      ORDER BY cents DESC, brand) AS rk FROM rev)
        |  WHERE rk <= 10),
        |inter AS (SELECT a.mi, CAST(count(*) AS BIGINT) AS n_common
        |  FROM topk a JOIN topk b ON a.mi + 1 = b.mi AND a.brand = b.brand
        |  GROUP BY 1),
        |na AS (SELECT mi, CAST(count(*) AS BIGINT) AS n_a
        |  FROM topk GROUP BY 1),
        |nb AS (SELECT mi - 1 AS mi, CAST(count(*) AS BIGINT) AS n_b
        |  FROM topk GROUP BY 1)
        |SELECT na.mi, na.n_a, nb.n_b,
        |  CAST(coalesce(inter.n_common, 0) AS BIGINT) AS n_common,
        |  CAST(coalesce(inter.n_common, 0) * 1000000
        |    // (na.n_a + nb.n_b - coalesce(inter.n_common, 0)) AS BIGINT)
        |    AS jaccard_ppm
        |FROM na JOIN nb ON nb.mi = na.mi
        |LEFT JOIN inter ON inter.mi = na.mi""".stripMargin,
    "q745_mase" ->
      """WITH rev AS (SELECT p_brand AS brand,
        |    (year(l_shipdate) - 1995) * 12 + month(l_shipdate) AS mi,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS units
        |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1, 2),
        |j AS (SELECT a.brand, a.mi, abs(a.units - b.units) AS ae
        |  FROM rev a JOIN rev b ON a.brand = b.brand AND a.mi = b.mi + 12)
        |SELECT brand,
        |  CAST(sum(CASE WHEN mi <= 24 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_train_pairs,
        |  CAST(sum(CASE WHEN mi > 24 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_eval_pairs,
        |  CAST(CASE WHEN sum(CASE WHEN mi <= 24 THEN ae ELSE 0 END) > 0
        |      AND sum(CASE WHEN mi > 24 THEN 1 ELSE 0 END) > 0
        |    THEN sum(CASE WHEN mi > 24 THEN ae ELSE 0 END)
        |      * sum(CASE WHEN mi <= 24 THEN 1 ELSE 0 END) * 1000000
        |      // (sum(CASE WHEN mi <= 24 THEN ae ELSE 0 END)
        |         * sum(CASE WHEN mi > 24 THEN 1 ELSE 0 END))
        |    ELSE 0 END AS BIGINT) AS mase_ppm
        |FROM j GROUP BY 1""".stripMargin,
    "q746_explode_outer_contract" ->
      """WITH d AS (SELECT doc_id % 3 AS cls,
        |    CASE doc_id % 3 WHEN 0 THEN CAST([] AS VARCHAR[])
        |      WHEN 1 THEN regexp_split_to_array(lower(trim(text)),
        |        '\s+')[1:1]
        |      ELSE regexp_split_to_array(lower(trim(text)), '\s+')
        |      END AS arr
        |  FROM documents)
        |SELECT cls, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_null_rows,
        |  CAST(count(tok) AS BIGINT) AS n_tok_rows
        |FROM d LEFT JOIN LATERAL unnest(d.arr) AS u(tok) ON true
        |GROUP BY 1""".stripMargin,
    "q747_macro_f1" ->
      s"""WITH ${SparkEntry.ToksCte}, ${SparkEntry.LangPredSql},
         |conf AS (SELECT d.lang AS truth, p.lang_pred AS pred
         |  FROM documents d JOIN pred p ON p.doc_id = d.doc_id),
         |labels AS (SELECT DISTINCT truth AS label FROM conf
         |  UNION SELECT DISTINCT pred FROM conf),
         |per AS (SELECT l.label,
         |    CAST(sum(CASE WHEN c.truth = l.label AND c.pred = l.label
         |      THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(sum(CASE WHEN c.pred = l.label AND c.truth <> l.label
         |      THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(sum(CASE WHEN c.truth = l.label AND c.pred <> l.label
         |      THEN 1 ELSE 0 END) AS BIGINT) AS fn
         |  FROM labels l CROSS JOIN conf c GROUP BY 1),
         |perf AS (SELECT label, tp, fp, fn,
         |    CAST(CASE WHEN 2 * tp + fp + fn > 0
         |      THEN 2 * tp * 1000000 // (2 * tp + fp + fn)
         |      ELSE 0 END AS BIGINT) AS f1_ppm
         |  FROM per)
         |SELECT label, tp, fp, fn, f1_ppm FROM perf
         |UNION ALL
         |SELECT '__macro__', CAST(0 AS BIGINT), CAST(0 AS BIGINT),
         |  CAST(0 AS BIGINT), CAST(sum(f1_ppm) // count(*) AS BIGINT)
         |FROM perf
         |UNION ALL
         |SELECT '__micro__', CAST(sum(tp) AS BIGINT),
         |  CAST(sum(fp) AS BIGINT), CAST(sum(fn) AS BIGINT),
         |  CAST(CASE WHEN 2 * sum(tp) + sum(fp) + sum(fn) > 0
         |    THEN 2 * sum(tp) * 1000000
         |      // (2 * sum(tp) + sum(fp) + sum(fn))
         |    ELSE 0 END AS BIGINT)
         |FROM perf""".stripMargin,
    "q748_littles_law" ->
      """WITH cyc AS (SELECT l_orderkey,
        |    CAST(max(date_diff('day', DATE '1970-01-01',
        |      CAST(l_shipdate AS DATE))) AS BIGINT) AS done
        |  FROM lineitem GROUP BY 1),
        |ord AS (SELECT
        |    CAST(date_diff('day', DATE '1970-01-01',
        |      CAST(o_orderdate AS DATE)) AS BIGINT) AS arrive,
        |    cyc.done,
        |    (year(o_orderdate) - 1995) * 12 + month(o_orderdate) AS amonth
        |  FROM orders JOIN cyc ON o_orderkey = cyc.l_orderkey),
        |mm AS (SELECT
        |    (year(min(o_orderdate)) - 1995) * 12 + month(min(o_orderdate))
        |      AS lo,
        |    (year(max(o_orderdate)) - 1995) * 12 + month(max(o_orderdate))
        |      AS hi
        |  FROM orders),
        |months AS (SELECT my,
        |    CAST(date_diff('day', DATE '1970-01-01',
        |      make_date(1995 + (my - 1) // 12, ((my - 1) % 12) + 1, 1))
        |      AS BIGINT) AS mstart,
        |    CAST(date_diff('day', DATE '1970-01-01',
        |      make_date(1995 + my // 12, (my % 12) + 1, 1))
        |      AS BIGINT) AS mend
        |  FROM (SELECT unnest(generate_series((SELECT lo FROM mm),
        |      (SELECT hi FROM mm))) AS my)),
        |lp AS (SELECT my, mstart, mend, CAST(sum(ov) AS BIGINT)
        |    AS open_days FROM (
        |    SELECT m.my, m.mstart, m.mend,
        |      greatest(0, least(o.done, m.mend)
        |        - greatest(o.arrive, m.mstart)) AS ov
        |    FROM ord o CROSS JOIN months m) WHERE ov > 0 GROUP BY 1, 2, 3),
        |wa AS (SELECT amonth AS my, CAST(count(*) AS BIGINT) AS n_arrivals,
        |    CAST(sum(done - arrive) AS BIGINT) AS cycle_days
        |  FROM ord GROUP BY 1)
        |SELECT lp.my, wa.n_arrivals, lp.open_days, wa.cycle_days,
        |  CAST(lp.open_days * 1000000 // (lp.mend - lp.mstart) AS BIGINT)
        |    AS l_micro,
        |  CAST(wa.cycle_days * 1000000 // (lp.mend - lp.mstart) AS BIGINT)
        |    AS lw_micro,
        |  CAST(CASE WHEN wa.cycle_days * 1000000 // (lp.mend - lp.mstart)
        |      > 0
        |    THEN (lp.open_days * 1000000 // (lp.mend - lp.mstart)
        |      - wa.cycle_days * 1000000 // (lp.mend - lp.mstart)) * 1000000
        |      // (wa.cycle_days * 1000000 // (lp.mend - lp.mstart))
        |    ELSE 0 END AS BIGINT) AS deviation_ppm
        |FROM lp JOIN wa ON wa.my = lp.my""".stripMargin,
    "q749_lsh_planner" ->
      s"""WITH grid AS (SELECT CAST(bands AS BIGINT) AS bands,
         |    CAST(rpb AS BIGINT) AS rpb, s_ppm
         |  FROM (VALUES (2, 6), (3, 4), (4, 3), (6, 2)) AS c(bands, rpb)
         |  CROSS JOIN (SELECT CAST(unnest([300000, 400000, 500000, 600000,
         |    700000, 800000, 900000]) AS BIGINT) AS s_ppm)),
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
         |SELECT bands, rpb, s_ppm, nd.n_docs,
         |  CAST($LshPlannerCaseSql AS BIGINT) AS collision_ppm
         |FROM grid CROSS JOIN nd""".stripMargin,
    "q750_spt_scheduling" ->
      """WITH jobs AS (SELECT l_suppkey AS k, CAST(l_quantity AS BIGINT)
        |    AS p, l_shipdate, l_orderkey, l_linenumber FROM lineitem),
        |c AS (SELECT k,
        |    sum(p) OVER (PARTITION BY k
        |      ORDER BY l_shipdate, l_orderkey, l_linenumber
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cf,
        |    sum(p) OVER (PARTITION BY k
        |      ORDER BY p, l_shipdate, l_orderkey, l_linenumber
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
        |  FROM jobs)
        |SELECT k, CAST(count(*) AS BIGINT) AS n_jobs,
        |  CAST(sum(cf) AS BIGINT) AS flow_fifo,
        |  CAST(sum(cs) AS BIGINT) AS flow_spt,
        |  CAST(CASE WHEN sum(cf) > 0
        |    THEN (sum(cf) - sum(cs)) * 1000000 // sum(cf)
        |    ELSE 0 END AS BIGINT) AS improvement_ppm
        |FROM c GROUP BY 1""".stripMargin,
    "q751_newsvendor" ->
      """WITH dem AS (SELECT p_brand AS brand,
        |    (year(l_shipdate) - 1995) * 12 + month(l_shipdate) AS mi,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS d
        |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1, 2),
        |tr AS (SELECT brand, d, mi,
        |    row_number() OVER (PARTITION BY brand ORDER BY d, mi) AS rn,
        |    count(*) OVER (PARTITION BY brand) AS n
        |  FROM dem WHERE mi <= 24),
        |stock AS (SELECT brand, d AS stock_units FROM tr
        |  WHERE rn = (2 * n + 2) // 3)
        |SELECT e.brand, CAST(max(st.stock_units) AS BIGINT) AS stock_units,
        |  CAST(count(*) AS BIGINT) AS n_eval,
        |  CAST(sum(2 * greatest(0, e.d - st.stock_units)) AS BIGINT)
        |    AS shortage_cost,
        |  CAST(sum(greatest(0, st.stock_units - e.d)) AS BIGINT)
        |    AS overage_cost,
        |  CAST(sum(2 * greatest(0, e.d - st.stock_units))
        |    + sum(greatest(0, st.stock_units - e.d)) AS BIGINT)
        |    AS total_cost
        |FROM dem e JOIN stock st ON st.brand = e.brand
        |WHERE e.mi > 24 GROUP BY 1""".stripMargin,
    "q752_diff_in_diff" ->
      """WITH rev0 AS (SELECT p_brand AS brand,
        |    (year(l_shipdate) - 1995) * 12 + month(l_shipdate) AS mi,
        |    CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1, 2),
        |rev AS (SELECT cents,
        |    CAST(substr(brand, length(brand), 1) AS INT) % 2 = 1
        |      AS treated,
        |    mi > 24 AS post
        |  FROM rev0),
        |cells AS (SELECT treated, post,
        |    CAST(sum(cents) * 1000000 // count(*) AS BIGINT) AS mean_micro
        |  FROM rev GROUP BY 1, 2),
        |piv AS (SELECT
        |    max(CASE WHEN treated AND post THEN mean_micro END) AS t_post,
        |    max(CASE WHEN treated AND NOT post THEN mean_micro END)
        |      AS t_pre,
        |    max(CASE WHEN NOT treated AND post THEN mean_micro END)
        |      AS c_post,
        |    max(CASE WHEN NOT treated AND NOT post THEN mean_micro END)
        |      AS c_pre
        |  FROM cells)
        |SELECT t_post, t_pre, c_post, c_pre,
        |  CAST((t_post - t_pre) - (c_post - c_pre) AS BIGINT) AS did_micro
        |FROM piv""".stripMargin,
    "q753_net_benefit" ->
      """WITH o AS (SELECT o_orderkey,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderpriority = '1-URGENT' AS y FROM orders),
        |train AS (SELECT *, ntile(10) OVER (ORDER BY cents, o_orderkey)
        |    AS dec2
        |  FROM o WHERE o_orderkey % 2 = 0),
        |bounds AS (SELECT dec2, CAST(min(cents) AS BIGINT) AS lo,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) * 1000000 // count(*)
        |      AS BIGINT) AS p_hat_ppm
        |  FROM train GROUP BY 1),
        |scored AS (SELECT y, p_hat_ppm FROM (
        |    SELECT e.y, b.p_hat_ppm, row_number() OVER (
        |      PARTITION BY e.o_orderkey ORDER BY b.lo DESC) AS r
        |    FROM o e JOIN bounds b ON e.cents >= b.lo
        |    WHERE e.o_orderkey % 2 = 1) WHERE r = 1),
        |pts AS (SELECT CAST(unnest([100, 200, 300, 400, 500]) AS BIGINT)
        |    AS pt_permille),
        |agg AS (SELECT pt_permille, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN y AND p_hat_ppm >= pt_permille * 1000
        |      THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(sum(CASE WHEN NOT y AND p_hat_ppm >= pt_permille * 1000
        |      THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
        |  FROM scored CROSS JOIN pts GROUP BY 1)
        |SELECT pt_permille, n, tp, fp,
        |  CAST(tp * 1000000 // n - (fp * 1000000 // n) * pt_permille
        |    // (1000 - pt_permille) AS BIGINT) AS nb_ppm,
        |  CAST(n_pos * 1000000 // n - ((n - n_pos) * 1000000 // n)
        |    * pt_permille // (1000 - pt_permille) AS BIGINT) AS nb_all_ppm
        |FROM agg""".stripMargin,
    "q754_eoq" ->
      """WITH d AS (SELECT p_brand AS brand,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
        |      AS demand_units
        |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1),
        |e AS (SELECT brand, demand_units,
        |    CAST(floor(sqrt(CAST(2 * demand_units * 900 // 25 AS DOUBLE)))
        |      AS BIGINT) AS eoq_units
        |  FROM d)
        |SELECT brand, demand_units, eoq_units,
        |  CAST(CASE WHEN eoq_units > 0
        |    THEN (demand_units + eoq_units - 1) // eoq_units
        |    ELSE 0 END AS BIGINT) AS n_orders,
        |  CAST(CASE WHEN eoq_units > 0
        |    THEN (demand_units + eoq_units - 1) // eoq_units
        |    ELSE 0 END * 900 AS BIGINT) AS setup_cost_cents,
        |  CAST(eoq_units * 25 // 2 AS BIGINT) AS holding_cost_cents
        |FROM e""".stripMargin,
    "q755_time_decay_attribution" ->
      s"""WITH ${SparkEntry.SrcCte},
         |conv AS (SELECT user_id, event_id AS conv_id, ts AS cts
         |  FROM src WHERE event_type = 'purchase'),
         |touches AS (SELECT user_id, event_type AS channel, ts AS tts
         |  FROM src WHERE event_type <> 'purchase'),
         |pairs AS (SELECT c.conv_id, t.channel,
         |    CAST(1000000 >> CAST(((epoch_us(c.cts) - epoch_us(t.tts))
         |      // 86400000000) // 2 AS INT) AS BIGINT) AS w
         |  FROM conv c JOIN touches t ON t.user_id = c.user_id
         |    AND t.tts < c.cts AND t.tts >= c.cts - INTERVAL 14 DAY),
         |pw AS (SELECT conv_id, channel, w,
         |    sum(w) OVER (PARTITION BY conv_id) AS wsum FROM pairs)
         |SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
         |  CAST(count(DISTINCT conv_id) AS BIGINT)
         |    AS n_conversions_touched,
         |  CAST(sum(w * 1000000 // wsum) AS BIGINT) AS total_credit_ppm
         |FROM pw GROUP BY 1""".stripMargin,
    "q756_histogram_sweep" ->
      """WITH ck AS (SELECT l_suppkey AS k, CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1),
        |act AS (SELECT CAST(sum(c * c) AS BIGINT) AS actual FROM ck),
        |bs AS (SELECT CAST(unnest([4, 16, 64]) AS BIGINT) AS b),
        |nt AS (SELECT b, c,
        |    ntile(64) OVER (PARTITION BY b ORDER BY k) AS bkt64
        |  FROM ck CROSS JOIN bs),
        |bk AS (SELECT b, (bkt64 - 1) // (64 // b) AS bkt,
        |    CAST(sum(c) AS BIGINT) AS n_b, CAST(count(*) AS BIGINT) AS d_b
        |  FROM nt GROUP BY 1, 2)
        |SELECT b, CAST(sum(n_b * n_b // d_b) AS BIGINT) AS est, act.actual,
        |  CAST(abs(sum(n_b * n_b // d_b) - act.actual) * 1000000
        |    // act.actual AS BIGINT) AS err_ppm
        |FROM bk CROSS JOIN act GROUP BY 1, act.actual""".stripMargin,
    "q757_eb_shrinkage" ->
      """WITH r AS (SELECT p_brand AS brand, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x
        |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1),
        |g AS (SELECT CAST(sum(x) * 1000000 // sum(n) AS BIGINT) AS p0_ppm
        |  FROM r),
        |sh AS (SELECT brand, n, x,
        |    CAST(x * 1000000 // n AS BIGINT) AS raw_ppm,
        |    CAST((x * 1000000 + 50 * p0_ppm) // (n + 50) AS BIGINT)
        |      AS shrunk_ppm
        |  FROM r CROSS JOIN g)
        |SELECT brand, n, x, raw_ppm, shrunk_ppm,
        |  CAST(row_number() OVER (ORDER BY raw_ppm DESC, brand) AS BIGINT)
        |    AS rank_raw,
        |  CAST(row_number() OVER (ORDER BY shrunk_ppm DESC, brand)
        |    AS BIGINT) AS rank_shrunk,
        |  CAST(row_number() OVER (ORDER BY raw_ppm DESC, brand)
        |    - row_number() OVER (ORDER BY shrunk_ppm DESC, brand)
        |    AS BIGINT) AS rank_shift
        |FROM sh""".stripMargin,
    "q758_agg_null_contract" ->
      """WITH d AS (SELECT doc_id % 6 AS grp,
        |    CASE WHEN doc_id % 3 <> 0 THEN n_chars END AS v
        |  FROM documents)
        |SELECT grp, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(v) AS BIGINT) AS n_nonnull,
        |  CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
        |  sum(v) IS NULL AS sum_is_null,
        |  CAST(coalesce(sum(v), -1) AS BIGINT) AS sum_v,
        |  CAST(coalesce(min(v), -1) AS BIGINT) AS min_v,
        |  CAST(coalesce(max(v), -1) AS BIGINT) AS max_v
        |FROM d GROUP BY 1""".stripMargin,
    "q759_ratio_to_ma" ->
      """WITH d0 AS (SELECT p_brand AS brand,
        |    (year(l_shipdate) - 1995) * 12 + month(l_shipdate) AS mi,
        |    CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
        |      AS BIGINT) AS y
        |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1, 2),
        |span AS (SELECT
        |    (year(min(l_shipdate)) - 1995) * 12 + month(min(l_shipdate))
        |      AS qlo,
        |    (year(max(l_shipdate)) - 1995) * 12 + month(max(l_shipdate))
        |      AS qhi
        |  FROM lineitem),
        |cal AS (SELECT c.brand, q.mi, coalesce(d0.y, 0) AS y
        |  FROM (SELECT DISTINCT brand FROM d0) c
        |  CROSS JOIN (SELECT unnest(generate_series(
        |      (SELECT qlo FROM span), (SELECT qhi FROM span))) AS mi) q
        |  LEFT JOIN d0 ON d0.brand = c.brand AND d0.mi = q.mi),
        |rt AS (SELECT brand, mi, y,
        |    lag(y, 6) OVER w AS ym6, lead(y, 6) OVER w AS yp6,
        |    sum(y) OVER (w ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)
        |      AS s11,
        |    count(*) OVER (w ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)
        |      AS n11
        |  FROM cal WINDOW w AS (PARTITION BY brand ORDER BY mi)),
        |rr AS (SELECT brand, mi, y, ym6 + 2 * s11 + yp6 AS den
        |  FROM rt WHERE ym6 IS NOT NULL AND yp6 IS NOT NULL AND n11 = 11)
        |SELECT brand, ((mi - 1) % 12) + 1 AS moy,
        |  CAST(count(*) AS BIGINT) AS n_months,
        |  CAST(sum(24 * y * 1000000 // den) // count(*) AS BIGINT)
        |    AS seasonal_index_ppm
        |FROM rr WHERE den > 0 GROUP BY 1, 2""".stripMargin,
    "q760_intdiv_contract" ->
      """WITH d AS (SELECT (doc_id % 7) - 3 AS v FROM documents)
        |SELECT v, CAST(count(*) AS BIGINT) AS n,
        |  CAST(v // 3 AS BIGINT) AS vdiv,
        |  CAST(v % 3 AS BIGINT) AS vmod,
        |  CAST(CASE WHEN v >= 0 THEN v // 3 ELSE -((-v) // 3) END
        |    AS BIGINT) AS signfold_div,
        |  v // 3 = CASE WHEN v >= 0 THEN v // 3 ELSE -((-v) // 3) END
        |    AS identity_holds
        |FROM d GROUP BY 1""".stripMargin,
    "q761_range_frame_contract" ->
      """WITH li AS (SELECT p_brand AS brand,
        |    CAST(l_shipdate AS DATE) AS d, l_orderkey, l_linenumber,
        |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |c AS (SELECT brand,
        |    sum(cents) OVER (PARTITION BY brand
        |      ORDER BY d, l_orderkey, l_linenumber
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS cum_rows,
        |    sum(cents) OVER (PARTITION BY brand ORDER BY d) AS cum_range
        |  FROM li)
        |SELECT brand, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN cum_range <> cum_rows THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_peer_rows,
        |  CAST(max(cum_range - cum_rows) AS BIGINT) AS max_peer_gap
        |FROM c GROUP BY 1""".stripMargin
  )
}
