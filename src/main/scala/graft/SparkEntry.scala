package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Association, BloomPrune, Compaction, Dedup, Funnel, Graph, IncrementalAgg, Intervals, Ivm, JoinPlanner, Layout, Linkage, Multimodal, Packing, Privacy, Profile, Rolling, Sampling, Scd01, Scd2, Scd2Join, Scd3, Segmentation, Sessionize, Sketches, SkewJoin, Similarity, Snapshot, TableDiff, TextAnalysis, Trend}
import graft.sources.{IncrementalSource, Tables}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every `queries` entry is one operator from SURVEY.md §2 exercised over the
  * driver testdata; `oracleSql` carries the equivalent DuckDB SQL. Incremental
  * SCD queries exploit the package's core design guarantee — incremental run
  * == full refresh over the concatenated batches (`README.md:178`,
  * `scd_plan.sql:172-175`) — so their oracles are the (much simpler)
  * full-refresh SQL.
  */
object SparkEntry {

  /** SCD2 config used by the event-stream queries: key = user_id,
    * event time = ts; event_id never participates in change detection.
    */
  private[graft] val evCfg = ScdConfig(
    uniqueKey = Seq("user_id"),
    updatedAtCol = "ts",
    changeExclude = Seq("event_id"))

  /** Change detection restricted to event_type — exercises
    * change_columns.include resolution plus heavy redundant-version collapse.
    */
  private val evTypeCfg = evCfg.copy(changeInclude = Some(Seq("event_type")))

  // Incremental splits are deterministic row-hash halves (event_id parity /
  // thirds), NOT time prefixes: the delta batch then interleaves with the
  // target's history, exercising out-of-order re-slotting, re-expiry, and
  // redundant-version collapse at every scale factor.

  /** Scope a lower shuffle-partition count around an in-query STREAMING
    * harness: every stateful micro-batch opens/commits one state store per
    * shuffle partition, so a driver-fed harness stream paying 32 stores x
    * N batches is pure overhead — its state is key-bounded and tiny. The
    * conf is restored afterwards; batch relations built outside the scope
    * keep the session's 32.
    */
  private[graft] def withStreamShuffle[T](s: SparkSession)(body: => T): T = {
    val old = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    try body finally s.conf.set("spark.sql.shuffle.partitions", old)
  }

  private[graft] def ev(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)

  /** events with a soft-delete column derived from the payload: an 'error'
    * event logically deletes the user until a later non-error event
    * resurrects it. Exercises D/I change types and born-deleted keys.
    */
  private def evDeletes(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).withColumn(
      "deleted_at",
      when(col("event_type") === "error", col("ts")))

  // ---------------------------------------------------------------------
  // Flagship: SCD2 history over lineitem (pure-parquet path, no ns quirks).
  // ---------------------------------------------------------------------
  def entry(spark: SparkSession): DataFrame =
    Scd2.initialLoad(
      Tables.spread(spark,
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")),
      ScdConfig(uniqueKey = Seq("l_orderkey", "l_linenumber"),
                updatedAtCol = "l_shipdate"))

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    baseQueries ++ sketchQueries ++ r6Queries ++ R7Queries.queries ++ R8Queries.queries ++ R9Queries.queries ++ R10Queries.queries ++ R11Queries.queries ++ R12Queries.queries ++ R13Queries.queries ++ R14Queries.queries ++ R15Queries.queries ++ R16Queries.queries ++ R17Queries.queries ++ R18Queries.queries

  private def baseQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- SCD2 (SURVEY §2: S1-S4, P1-P7, J1-J4, D1/D4, W1-W7, U1) ---------
    "q01_scd2_initial" -> ((s, dir) => Scd2.initialLoad(ev(s, dir), evCfg)),
    "q02_scd2_checkcols" -> ((s, dir) => Scd2.initialLoad(ev(s, dir), evTypeCfg)),
    "q03_scd2_deletes" -> ((s, dir) =>
      Scd2.initialLoad(evDeletes(s, dir),
                       evCfg.copy(deletedAtCol = Some("deleted_at")))),
    "q04_scd2_incremental" -> ((s, dir) => {
      val all = ev(s, dir)
      // Materialize the target once, as production would read it from storage
      // (the merge pipeline references the target twice: the affected-key
      // semi-join and its anti-join complement, the rows passed through).
      val target = Scd2.initialLoad(all.filter(col("event_id") % 2 === 0), evCfg)
        .localCheckpoint()
      Scd2.incremental(target, all.filter(col("event_id") % 2 === 1), evCfg)
    }),
    "q05_scd2_backfill" -> ((s, dir) => {
      // Out-of-order arrival: a third of the rows land AFTER the rest were
      // loaded; collapse must delete versions made redundant so the result
      // still equals a full refresh.
      val all = ev(s, dir)
      val outer = all.filter(col("event_id") % 3 =!= 1)
      val middle = all.filter(col("event_id") % 3 === 1)
      Scd2.incremental(Scd2.initialLoad(outer, evTypeCfg).localCheckpoint(),
                       middle, evTypeCfg)
    }),
    "q06_scd2_incremental_deletes" -> ((s, dir) => {
      val all = evDeletes(s, dir)
      val cfg = evCfg.copy(deletedAtCol = Some("deleted_at"))
      val target = Scd2.initialLoad(all.filter(col("event_id") % 2 === 0), cfg)
        .localCheckpoint()
      Scd2.incremental(target, all.filter(col("event_id") % 2 === 1), cfg)
    }),
    "q63_sql_frontend" -> ((s, dir) => {
      // q01's SCD2 initial load written as PURE SQL TEXT: the engine's SQL
      // front end (registered native functions + NativeSurrogateKeyRule
      // rewriting the md5(concat_ws) surrogate hash) must produce the exact
      // relation the DataFrame operator builds. Same oracle as q01.
      graft.functions.GraftExtensions.register(s)
      ev(s, dir).createOrReplaceTempView("ev_t")
      s.sql("""
        WITH hashed AS (
          SELECT *, md5(concat_ws('-',
            coalesce(cast(event_type AS STRING), ''),
            coalesce(cast(value AS STRING), ''),
            coalesce(cast(props AS STRING), ''))) AS _h
          FROM ev_t),
        dedup AS (
          SELECT event_id, ts, user_id, event_type, value, props, _h FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id, ts ORDER BY _h) AS _rn
            FROM hashed) WHERE _rn = 1),
        chg AS (
          SELECT event_id, ts, user_id, event_type, value, props FROM (
            SELECT *, lag(_h) OVER (
                PARTITION BY user_id ORDER BY ts) AS _ph
            FROM dedup) WHERE _ph IS NULL OR _h <> _ph)
        SELECT event_id, ts, user_id, event_type, value, props,
          (row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) = 1)
            AS _is_current,
          ts AS _valid_from,
          coalesce(lead(ts) OVER (PARTITION BY user_id ORDER BY ts),
                   timestamp'2999-12-31 23:59:59') AS _valid_to,
          CASE WHEN row_number() OVER (PARTITION BY user_id ORDER BY ts) = 1
               THEN 'I' ELSE 'U' END AS _change_type
        FROM chg""")
    }),
    "q65_scd2_two_merges_deletes" -> ((s, dir) => {
      // The q64 cadence with soft deletes: D/resurrection-I change types
      // must stay coherent across two merges of interleaving thirds.
      val all = evDeletes(s, dir)
      val cfg = evCfg.copy(deletedAtCol = Some("deleted_at"))
      def third(r: Int) = all.filter(col("event_id") % 3 === r)
      val t0 = Scd2.initialLoad(third(0), cfg).localCheckpoint()
      val t1 = Scd2.incremental(t0, third(1), cfg).localCheckpoint()
      Scd2.incremental(t1, third(2), cfg)
    }),
    "q64_scd2_two_merges" -> ((s, dir) => {
      // THREE-batch production cadence: initial load then two consecutive
      // incremental merges, each against the previous persisted snapshot
      // (deterministic thirds interleave in event time, so both merges
      // re-slot out-of-order rows and re-collapse redundant versions).
      val all = ev(s, dir)
      def third(r: Int) = all.filter(col("event_id") % 3 === r)
      val t0 = Scd2.initialLoad(third(0), evCfg).localCheckpoint()
      val t1 = Scd2.incremental(t0, third(1), evCfg).localCheckpoint()
      Scd2.incremental(t1, third(2), evCfg)
    }),
    "q31_scd2_created_at" -> ((s, dir) => {
      // created_at_column: a key's FIRST version opens at its creation time,
      // not its first observed update (W5, `get_valid_from_sql.sql:24-43`).
      val src = ev(s, dir).withColumn(
        "created_at",
        expr("timestamp'2020-01-01 00:00:00' + make_interval(0, 0, 0, cast(user_id % 365 as int))"))
      Scd2.initialLoad(src, evCfg.copy(createdAtCol = Some("created_at")))
    }),
    "q32_scd2_loaded_collapse" -> ((s, dir) => {
      // loaded_at collapse arm (D4): within a content run the EARLIEST-LOADED
      // version wins regardless of updated_at, so a late backfill carrying
      // content the target already persisted never displaces it.
      val all = ev(s, dir)
      val target = Scd2.initialLoad(
        all.filter(col("event_id") % 2 === 0).withColumn("_loaded_at", col("ts")),
        evTypeCfg).localCheckpoint()
      val delta = all.filter(col("event_id") % 2 === 1)
        .withColumn("_loaded_at", col("ts") + expr("INTERVAL 100 DAYS"))
      Scd2.incremental(target, delta, evTypeCfg)
    }),
    "q34_invariants" -> ((s, dir) => {
      // The §2.11 invariant-test suite as one oracle-checked query: build the
      // deletes-bearing history (same pipeline as q03), seed deterministic
      // corruptions keyed on user_id residues, and report per-invariant
      // violation counts. Corruptions reference only PRE-corruption columns
      // (single select), so each lights up specific invariants:
      //   valid_to stretch    -> overlaps + discontinuity
      //   valid_to collapse   -> valid_window_well_formed
      //   is_current flip     -> one_current_per_key + latest_row_is_current
      //   change_type rewrite (non-D rows only, so D->U adjacency survives)
      //                       -> first_record / I->I / D->U sequence checks
      //   late deleted_at     -> no_records_after_deletion
      val cfg = evCfg.copy(deletedAtCol = Some("deleted_at"))
      val hist = Scd2.initialLoad(evDeletes(s, dir), cfg)
      val bad = hist.select(
        col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"),
        when(col("user_id") % 17 === 9 && col("deleted_at").isNull,
             col("ts") + expr("INTERVAL 1 SECOND"))
          .otherwise(col("deleted_at")).as("deleted_at"),
        when(col("user_id") % 11 === 5, !col("_is_current"))
          .otherwise(col("_is_current")).as("_is_current"),
        col("_valid_from"),
        when(col("user_id") % 19 === 11, col("_valid_from"))
          .when(col("user_id") % 7 === 3 && !col("_is_current"),
                col("_valid_to") + expr("INTERVAL 1 SECOND"))
          .otherwise(col("_valid_to")).as("_valid_to"),
        when(col("user_id") % 13 === 7 && col("_change_type") =!= "D",
             when(col("event_id") % 2 === 0, lit("U")).otherwise(lit("I")))
          .otherwise(col("_change_type")).as("_change_type")
      ).localCheckpoint() // nine invariant scans share one materialized input
      // tenth row: the types-0/1 invariant over a corrupted SCD1 snapshot
      val bad1 = Scd01.initialLoad(ev(s, dir), evCfg.copy(scdType = 1))
        .withColumn("_is_current",
                    when(col("user_id") % 23 === 11, lit(false))
                      .otherwise(col("_is_current")))
      ScdInvariants.report(bad, cfg).unionByName(
        ScdInvariants.allRecordsCurrent(bad1, cfg)
          .agg(count(lit(1)).as("violations"))
          .select(lit("all_records_current").as("invariant"), col("violations")))
    }),
    "q35_scd2_no_update_all" -> ((s, dir) => {
      // update_all_previous_records = false (J2 + restricted merge set,
      // `scd_plan.sql:154-170`): the affected-key semi-join keeps only target
      // windows a new row could land in (n.updated_at <= p.valid_to), collapse
      // is forced off, and matched rows update ONLY [_is_current, _valid_to]
      // — _change_type keeps its persisted value. The oracle translates the
      // arm CTE-for-CTE (no full-refresh equivalence holds here; that loss is
      // the documented trade-off of the switch).
      val cfg = evCfg.copy(updateAllPreviousRecords = false)
      val all = ev(s, dir)
      val target = Scd2.initialLoad(all.filter(col("event_id") % 2 === 0), evCfg)
        .localCheckpoint()
      Scd2.incremental(target, all.filter(col("event_id") % 2 === 1), cfg)
    }),
    "q37_scd2_incr_predicates" -> ((s, dir) => {
      // incremental_predicates (P8): only the user_id % 3 = 0 slice of the
      // target participates in the merge; the rest passes through untouched.
      val cfg = evCfg.copy(incrementalPredicates = Seq("user_id % 3 = 0"))
      val all = ev(s, dir)
      val target = Scd2.initialLoad(all.filter(col("event_id") % 2 === 0), evCfg)
        .localCheckpoint()
      ScdEngine.incremental(target, all.filter(col("event_id") % 2 === 1), cfg)
    }),
    // --- SCD1 / SCD0 (D2/D3, J5) -----------------------------------------
    "q07_scd1_initial" -> ((s, dir) =>
      Scd01.initialLoad(ev(s, dir), evCfg.copy(scdType = 1))),
    "q08_scd1_incremental" -> ((s, dir) => {
      val all = ev(s, dir)
      val cfg = evCfg.copy(scdType = 1)
      val target = Scd01.initialLoad(all.filter(col("event_id") % 2 === 0), cfg)
        .localCheckpoint()
      Scd01.incremental(target, all.filter(col("event_id") % 2 === 1), cfg)
    }),
    "q09_scd0_initial" -> ((s, dir) =>
      Scd01.initialLoad(ev(s, dir), evCfg.copy(scdType = 0))),
    "q10_scd0_incremental" -> ((s, dir) => {
      val all = ev(s, dir)
      val cfg = evCfg.copy(scdType = 0)
      val target = Scd01.initialLoad(all.filter(col("event_id") % 2 === 0), cfg)
        .localCheckpoint()
      Scd01.incremental(target, all.filter(col("event_id") % 2 === 1), cfg)
    }),
    "q66_scd1_two_merges" -> ((s, dir) => {
      // Type-1 across two merges: business columns follow LAST-batch
      // precedence (d2 > d1 > t0), audit _valid_from keeps first-seen.
      val all = ev(s, dir)
      val cfg = evCfg.copy(scdType = 1)
      def third(r: Int) = all.filter(col("event_id") % 3 === r)
      val t0 = Scd01.initialLoad(third(0), cfg).localCheckpoint()
      val t1 = Scd01.incremental(t0, third(1), cfg).localCheckpoint()
      Scd01.incremental(t1, third(2), cfg)
    }),
    "q67_scd0_two_merges" -> ((s, dir) => {
      // Type-0 across two merges: FIRST-batch precedence (insert-only).
      val all = ev(s, dir)
      val cfg = evCfg.copy(scdType = 0)
      def third(r: Int) = all.filter(col("event_id") % 3 === r)
      val t0 = Scd01.initialLoad(third(0), cfg).localCheckpoint()
      val t1 = Scd01.incremental(t0, third(1), cfg).localCheckpoint()
      Scd01.incremental(t1, third(2), cfg)
    }),
    // --- Temporal as-of join (J6, U2, P4, W3-W5) --------------------------
    "q11_scd2_join" -> ((s, dir) => {
      // Each dim feeds the spine AND its containment join; checkpoint so the
      // SCD2 window pipeline runs once per dim, as it would reading a table.
      val dimType = Scd2
        .initialLoad(ev(s, dir), evTypeCfg)
        .select("user_id", "event_type", "_is_current", "_valid_from", "_valid_to")
        .localCheckpoint()
      val dimValue = Scd2
        .initialLoad(ev(s, dir), evCfg.copy(changeInclude = Some(Seq("value"))))
        .select("user_id", "value", "_is_current", "_valid_from", "_valid_to")
        .localCheckpoint()
      // asOfFill: engine outputs satisfy the continuity invariants, so the
      // linear window-fill strategy applies (== containment join, spec-tested)
      Scd2Join.asOfFill(Seq("a" -> dimType, "b" -> dimValue), Seq("user_id"))
    }),
    "q41_scd2_join_3way" -> ((s, dir) => {
      // Three-relation as-of join: the window-fill cost stays ONE
      // exchange+sort regardless of relation count (vs one range join per
      // relation for the containment strategy).
      def dim(cfgCol: String) = Scd2
        .initialLoad(ev(s, dir), evCfg.copy(changeInclude = Some(Seq(cfgCol))))
        .select(col("user_id"), col(cfgCol),
                col("_is_current"), col("_valid_from"), col("_valid_to"))
        .localCheckpoint()
      Scd2Join.asOfFill(
        Seq("a" -> dim("event_type"), "b" -> dim("value"), "c" -> dim("props")),
        Seq("user_id"))
    }),
    "q33_scd2_join_containment" -> ((s, dir) => {
      // Reference-exact containment-join strategy (J6), oracle-checked on a
      // key slice (q11 covers the full corpus via the fill strategy).
      val slice = ev(s, dir).filter(col("user_id") % 5 === 0)
      val dimType = Scd2
        .initialLoad(slice, evTypeCfg)
        .select("user_id", "event_type", "_is_current", "_valid_from", "_valid_to")
        .localCheckpoint()
      val dimValue = Scd2
        .initialLoad(slice, evCfg.copy(changeInclude = Some(Seq("value"))))
        .select("user_id", "value", "_is_current", "_valid_from", "_valid_to")
        .localCheckpoint()
      Scd2Join(Seq("a" -> dimType, "b" -> dimValue), Seq("user_id"))
    }),
    // --- Incremental source scan (S5, A1) ---------------------------------
    "q12_incremental_source" -> ((s, dir) => {
      // Watermark split at 60% of the event-time span (integer microsecond
      // arithmetic so DuckDB computes the identical cutoff).
      val all = ev(s, dir)
      val row = all
        .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
        .head()
      val (lo, hi) = (row.getLong(0), row.getLong(1))
      val wm = lo + (hi - lo) * 3 / 5
      val target = all
        .filter(unix_micros(col("ts")) <= wm)
        .withColumn("_loaded_at", col("ts"))
      IncrementalSource.scan(all, Some(target), loadedAtCol = "ts")
    }),
    "q40_pipeline_e2e" -> ((s, dir) => {
      // The composed `dbt run` shape (S5 ∘ S4): watermark-scan the source
      // against the existing target, then merge the scanned delta — one
      // lazy DAG from raw source to new snapshot. Watermark at 60% of the
      // event-time span; the target's own `ts` is its load watermark.
      val all = ev(s, dir)
      val row = all
        .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
        .head()
      val (lo, hi) = (row.getLong(0), row.getLong(1))
      val wm = lo + (hi - lo) * 3 / 5
      val target = Scd2.initialLoad(
        all.filter(unix_micros(col("ts")) <= wm), evCfg).localCheckpoint()
      val delta = IncrementalSource.scan(all, Some(target),
        loadedAtCol = "ts", targetLoadedAtCol = "ts")
      Scd2.incremental(target, delta, evCfg)
    }),
    "q39_sessionize" -> ((s, dir) =>
      // inactivity-gap sessionization over the event log (X20): one exchange
      // on user_id; the (user, session) aggregate reuses that distribution.
      Sessionize.sessions(ev(s, dir), "user_id", "ts", "event_type",
                          gapMinutes = 30)),
    "q36_source_run_cutoff" -> ((s, dir) => {
      // exclude_data_after_run_start (S5's second filter arm,
      // `source.sql:47-49`): watermark at 60% of the event-time span, run
      // start pinned at 80% — rows landing after the run started are deferred
      // to the next run for batch-consistency.
      val all = ev(s, dir)
      val row = all
        .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
        .head()
      val (lo, hi) = (row.getLong(0), row.getLong(1))
      val wm = lo + (hi - lo) * 3 / 5
      val runStart = lo + (hi - lo) * 4 / 5
      val rsTs = java.sql.Timestamp.from(
        java.time.Instant.ofEpochSecond(runStart / 1000000L,
                                        (runStart % 1000000L) * 1000L))
      val target = all
        .filter(unix_micros(col("ts")) <= wm)
        .withColumn("_loaded_at", col("ts"))
      IncrementalSource.scan(all, Some(target), loadedAtCol = "ts",
                             runStartedAt = Some(rsTs))
    }),
    "q43_golden_diff" -> ((s, dir) => {
      // matches_expected_seed (§2.11/U3) as an oracle query: symmetric
      // EXCEPT between the built history and a deterministically perturbed
      // golden (one residue class of keys missing, another tampered), tagged
      // with the diff side. Cache the history: it feeds both the actual and
      // the perturbed-golden sides.
      val actual = Scd2.initialLoad(ev(s, dir), evCfg).cache()
      val expected = actual
        .filter(col("user_id") % 97 =!= 3)
        .withColumn("event_type",
                    when(col("user_id") % 101 === 5, lit("tampered"))
                      .otherwise(col("event_type")))
      ScdInvariants.matchesExpected(actual, expected)
    }),
    // --- Text analysis (training-data pipeline ops over `documents`) ------
    "q13_text_metrics" -> ((s, dir) =>
      TextAnalysis.qualityMetrics(docs(s, dir))
        .select("doc_id", "n_chars", "n_tokens", "n_bpe_tokens", "n_punct",
                "n_stopwords", "is_quality")),
    "q14_text_langid" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
                          TextAnalysis.langId(col("text")).as("lang_pred"))),
    "q15_text_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fingerprint"),
        TextAnalysis.shingleFingerprint(col("text"), 5).as("shingle_fp"))),
    "q42_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionMetrics(docs(s, dir))),
    // --- Deduplication ----------------------------------------------------
    "q16_dedup_exact" -> ((s, dir) => Dedup.exact(docs(s, dir), "doc_id", "text")),
    "q17_dedup_ngram" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(docs(s, dir), "doc_id", "text", n = 3,
                              tauNum = 1, tauDen = 2)),
    "q18_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashLshPairs(docs(s, dir), "doc_id", "text", n = 3,
                            bands = 4, rows = 3, tauNum = 1, tauDen = 2)),
    "q38_dedup_clusters" -> ((s, dir) =>
      // pairs -> connected components: the keep-one-per-cluster step after
      // LSH pair generation (X19). Oracle recomputes the closure with a
      // recursive CTE over the same verified pair list.
      Dedup.clusterPairs(
        Dedup.minhashLshPairs(docs(s, dir), "doc_id", "text", n = 3,
                              bands = 4, rows = 3, tauNum = 1, tauDen = 2))),
    "q46_dedup_keep" -> ((s, dir) => {
      // The step a real pipeline runs after pair generation + clustering:
      // shed every near-duplicate except its cluster's canonical member.
      val d = docs(s, dir)
      val pairs = Dedup.minhashLshPairs(d, "doc_id", "text", n = 3,
                                        bands = 4, rows = 3,
                                        tauNum = 1, tauDen = 2)
      Dedup.keepCanonical(d, "doc_id", pairs)
        .select("doc_id", "source", "n_chars")
    }),
    "q47_event_rollup" -> ((s, dir) =>
      // Tumbling-window rollup: per (event_type, day) traffic stats. Sum is
      // over floor(value*1e6) longs — order-independent, unlike a double
      // sum, so any partitioning/AQE plan produces the identical answer.
      ev(s, dir)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n_events"),
             countDistinct(col("user_id")).as("n_users"),
             sum(floor(col("value") * lit(1000000.0)).cast("long"))
               .as("value_micro_sum"),
             min(col("value")).as("min_value"),
             max(col("value")).as("max_value"))),
    "q19_dedup_simhash" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        Dedup.simhash32(TextAnalysis.tokens(col("text"))).as("simhash"))),
    "q20_dedup_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(docs(s, dir), "doc_id", "text", maxHamming = 3)),
    "q21_embed_neardup" -> ((s, dir) =>
      Dedup.embeddingNearDupPairs(emb(s, dir), "vec_id", "embedding", tau = 0.4)),
    "q28_embed_neardup_lsh" -> ((s, dir) =>
      Dedup.embeddingNearDupPairsLsh(emb(s, dir), "vec_id", "embedding",
                                     tau = 0.4, planes = 4)),
    "q29_token_stats" -> ((s, dir) =>
      TextAnalysis.corpusStats(docs(s, dir), "doc_id", "text")),
    "q45_top_tokens_lang" -> ((s, dir) =>
      TextAnalysis.topTokensByLang(docs(s, dir), "text", k = 10)),
    "q49_tfidf_terms" -> ((s, dir) =>
      TextAnalysis.topDiscriminativeTerms(docs(s, dir), "doc_id", "text",
                                          k = 5)),
    // End-to-end cleaning composition: quality gate -> exact-dedup canonical
    // -> language ID, the shape of a real corpus-preparation job.
    "q30_clean_corpus" -> ((s, dir) => {
      val d = docs(s, dir)
      val quality = TextAnalysis.qualityMetrics(d).filter(col("is_quality"))
      val canonical = Dedup.exact(d, "doc_id", "text")
        .select(col("canonical_id").as("doc_id"))
      quality
        .join(canonical, Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
                TextAnalysis.langId(col("text")).as("lang_pred"),
                col("n_tokens"), col("n_stopwords"))
    }),
    // --- Similarity search (ANN over embeddings) --------------------------
    "q22_ann_brute" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.bruteForceTopK(e.filter(col("vec_id") < 32), e,
                                "vec_id", "embedding", k = 10)
    }),
    "q23_ann_lsh" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.lshTopK(e.filter(col("vec_id") < 32), e,
                         "vec_id", "embedding", k = 10, planes = 8)
    }),
    "q24_ann_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.ivfTopK(e.filter(col("vec_id") < 32), e,
                         "vec_id", "embedding", k = 10, c = 16)
    }),
    "q44_ann_ivf_probe2" -> ((s, dir) => {
      // Multi-probe IVF: scan the 2 nearest lists per query — the standard
      // recall lever (2/16 of the corpus per query instead of 1/16).
      val e = emb(s, dir)
      Similarity.ivfTopK(e.filter(col("vec_id") < 32), e,
                         "vec_id", "embedding", k = 10, c = 16, nprobe = 2)
    }),
    "q56_asof_enrich" -> ((s, dir) => {
      // Point-in-time enrichment: odd-id events (facts) pick up the SCD2
      // state built from even-id events, valid AT each fact's timestamp.
      val all = ev(s, dir)
      val dim = Scd2.initialLoad(all.filter(col("event_id") % 2 === 0), evCfg)
        .localCheckpoint()
      val facts = all.filter(col("event_id") % 2 === 1)
        .select("event_id", "user_id", "ts")
      Scd2Join.enrich(facts, "ts", dim, Seq("user_id"), evCfg)
    }),
    "q55_corpus_pipeline" -> ((s, dir) => {
      // Flagship training-corpus composition — the full preparation job as
      // ONE DAG: quality gate -> MinHash-LSH near-dup removal (CC
      // keep-canonical) -> deterministic train/val/test split -> per-split
      // stats. The quality-filtered corpus is cached: it feeds the pair
      // generation, the anti-join, and the final aggregate.
      val quality = TextAnalysis.qualityMetrics(docs(s, dir))
        .filter(col("is_quality"))
        .select(col("doc_id"), col("text"), col("n_tokens")).cache()
      val pairs = Dedup.minhashLshPairs(quality, "doc_id", "text", n = 3,
                                        bands = 4, rows = 3,
                                        tauNum = 1, tauDen = 2)
      val kept = Dedup.keepCanonical(quality, "doc_id", pairs)
      Sampling.split(kept, "doc_id",
                     Seq("train" -> 900, "val" -> 50, "test" -> 50))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
    }),
    "q53_kmeans_step" -> ((s, dir) =>
      // One quantized Lloyd update: nearest-centroid assign + per-(centroid,
      // dim) integer sums — order-independent, so any cluster reproduces it.
      Similarity.kmeansStep(emb(s, dir), "vec_id", "embedding", c = 16)),
    "q54_pivot_events" -> ((s, dir) => {
      // Pivoted rollup: days x event-type counts (the BI cross-tab shape).
      // Fixed pivot values keep the schema static — at 100 TB a dynamic
      // pivot would first collect the domain to the driver.
      val types = Seq("click", "error", "purchase", "signup", "view")
      ev(s, dir)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .select(col("day") +:
          types.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
    }),
    // --- Multimodal binary-column plumbing (decode step stubbed) ----------
    "q25_multimodal_meta" -> ((s, dir) =>
      Multimodal.fromDocuments(docs(s, dir)).toDF()
        .select("doc_id", "modality", "width", "height", "duration_ms", "n_frames")),
    "q26_multimodal_features" -> ((s, dir) =>
      Multimodal.featuresFromDocuments(docs(s, dir))),
    "q50_split" -> ((s, dir) =>
      // Deterministic train/val/test assignment: a pure per-row md5-residue
      // projection — reproducible on any engine/partitioning, no shuffle.
      Sampling.split(docs(s, dir), "doc_id",
                     Seq("train" -> 900, "val" -> 50, "test" -> 50))
        .select("doc_id", "split")),
    "q51_histogram" -> ((s, dir) =>
      // Fixed-width histogram: IEEE-exact bin function, <= nbins agg keys.
      Profile.histogram(Tables.spread(s, Tables.read(s, dir, "lineitem")),
                        "l_extendedprice", lo = 0.0, hi = 110000.0,
                        nbins = 22)),
    "q52_rolling_events" -> ((s, dir) =>
      // Trailing-7-day per-user stats: RANGE frame over integer micros.
      Rolling.trailing(ev(s, dir), "user_id", "ts", "value",
                       windowMicros = 7L * 24 * 3600 * 1000000)
        .select("event_id", "user_id", "ts", "n_window",
                "value_micro_sum_window")),
    "q57_star_join" -> ((s, dir) => {
      // Star-join rollup: fact orders against the customer -> nation -> region
      // dimension chain. Dims are explicitly broadcast — the fact table
      // streams through three broadcast hash joins with ZERO fact shuffles
      // before the final vocabulary-sized aggregate (the shape a 100 TB
      // fact scan needs). Money sums in floor-micro longs.
      val orders = Tables.spread(s, Tables.read(s, dir, "orders"))
      val customer = Tables.read(s, dir, "customer")
      val nation = Tables.read(s, dir, "nation")
      val region = Tables.read(s, dir, "region")
      orders
        .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
             sum(floor(col("o_totalprice") * lit(1000000.0)).cast("long"))
               .as("revenue_micro"),
             countDistinct(col("o_custkey")).as("n_customers"))
    }),
    "q62_attribution" -> ((s, dir) =>
      // Which channel gets credit for each purchase: the nearest preceding
      // non-purchase event per user ("direct" if none).
      Funnel.lastTouchAttribution(ev(s, dir), "user_id", "ts", "event_id",
                                  "event_type", conversionType = "purchase")),
    "q61_retention" -> ((s, dir) =>
      // Weekly signup-cohort retention heatmap input.
      Funnel.cohortRetention(ev(s, dir), "user_id", "ts", "event_type",
                             cohortType = "signup")),
    "q60_funnel" -> ((s, dir) =>
      // Ordered signup -> click -> purchase funnel over the event stream.
      Funnel.stages(ev(s, dir), "user_id", "ts", "event_type",
                    Seq("signup", "click", "purchase"))),
    "q59_quantiles" -> ((s, dir) =>
      // Exact discrete p50/p90/p99 per event type: selection, not
      // interpolation — engine-exact (approx_percentile is the scale path).
      Profile.discreteQuantiles(ev(s, dir), "event_type", "value",
                                Seq(50, 90, 99))),
    "q58_sliding_events" -> ((s, dir) =>
      // Sliding (overlapping) windows via the native window() generator:
      // each event lands in width/slide = 2 windows; counts + long sums per
      // (window_start, event_type). Epoch-aligned starts == day-aligned in
      // UTC, so the oracle enumerates k in {0,1} directly.
      ev(s, dir)
        .groupBy(window(col("ts"), "2 days", "1 day").as("w"),
                 col("event_type"))
        .agg(count(lit(1)).as("n_events"),
             sum(floor(col("value") * lit(1000000.0)).cast("long"))
               .as("value_micro_sum"))
        .select(col("w").getField("start").as("window_start"),
                col("event_type"), col("n_events"), col("value_micro_sum"))),
    "q48_profile_lineitem" -> ((s, dir) =>
      // ANALYZE-TABLE shape: a count/distinct pass and a sort-free min/max
      // pass. spread() parallelizes the testdata's single-row-group file
      // (same artifact note as q27) so the Expand isn't one task.
      Profile.profile(Tables.spread(s, Tables.read(s, dir, "lineitem")),
                      LineitemCols)),
    // --- Flagship-scale SCD2: full history over the biggest table ---------
    "q27_scd2_lineitem" -> ((s, dir) =>
      // Pre-partition by the business key: the testdata file is one row
      // group (a 1-task scan would hash single-threaded), and hash
      // partitioning — unlike a round-robin spread — already satisfies the
      // SCD window's distribution, so the whole build stays ONE exchange.
      Scd2.initialLoad(
        Tables.read(s, dir, "lineitem")
          .repartition(s.sparkContext.defaultParallelism, col("l_orderkey")),
        ScdConfig(uniqueKey = Seq("l_orderkey"), updatedAtCol = "l_shipdate"))),
    // --- Training-data pipeline, round 3: decontamination, packing,
    //     retrieval scoring, stratified sampling, mixing stats, PQ codes ----
    "q68_decontaminate" -> ((s, dir) =>
      Dedup.contaminationStats(docs(s, dir), "doc_id", "text",
                               isEval = col("doc_id") % 10 === 0, n = 3)),
    "q69_pack_sequences" -> ((s, dir) =>
      Packing.packBins(docs(s, dir), "doc_id", "text", binTokens = 512L,
                       partCols = Seq("lang"))),
    "q70_bm25" -> ((s, dir) =>
      TextAnalysis.bm25TopK(docs(s, dir), "doc_id", "text", Bm25Terms, k = 20)),
    "q71_stratified_sample" -> ((s, dir) =>
      Sampling.stratifiedCap(docs(s, dir), "doc_id", Seq("lang"), cap = 40)
        .select("lang", "sample_rank", "doc_id")),
    "q72_corpus_mix" -> ((s, dir) =>
      TextAnalysis.corpusMix(docs(s, dir))),
    "q73_pq_assign" -> ((s, dir) =>
      Similarity.pqAssign(emb(s, dir), "vec_id", "embedding",
                          dim = 64, m = 4, k = 16)),
    "q74_ivfpq" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.ivfPqTopK(e.filter(col("vec_id") < 32), e,
                           "vec_id", "embedding",
                           dim = 64, m = 4, k = 16, topK = 10)
    }),
    "q75_oov_rate" -> ((s, dir) =>
      TextAnalysis.oovStats(docs(s, dir), "doc_id", "text", vocabSize = 100)),
    // --- Round 3, second sweep: schema-on-read, temporal algebra, linkage,
    //     LM stats, CDC export, privacy, skew handling, winnowing ----------
    "q76_json_props" -> ((s, dir) =>
      // Schema-on-read field promotion: the JSON payload column becomes a
      // typed value at scan time (a narrow codegen'd projection — the JSON
      // path never reaches a shuffle), then a dimension-sized rollup.
      ev(s, dir)
        .select(col("event_type"),
                get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
             count(col("k")).as("n_with_k"),
             sum(col("k")).as("k_sum"),
             min(col("k")).as("k_min"),
             max(col("k")).as("k_max"),
             countDistinct(col("k")).as("k_distinct"))),
    "q77_session_dim_overlap" -> ((s, dir) => {
      // Interval x interval temporal join: which event_type dimension
      // versions were live during each user session. Sessions are closed
      // ranges (single-event sessions have start == end), so the right end
      // moves +1us to the half-open convention before the overlap join.
      val sess = Sessionize
        .sessions(ev(s, dir), "user_id", "ts", "event_type", gapMinutes = 30)
        .withColumn("sess_end_x",
                    timestamp_micros(unix_micros(col("session_end")) + 1))
      val dim = Scd2.initialLoad(ev(s, dir), evTypeCfg)
        .select(col("user_id"), col("event_type").as("dim_event_type"),
                col("_valid_from").as("dim_from"), col("_valid_to").as("dim_to"))
      Intervals
        .overlapJoin(sess, dim, Seq("user_id"),
                     "session_start", "sess_end_x", "dim_from", "dim_to")
        .select("user_id", "session_start", "n_events", "dim_event_type",
                "overlap_from", "overlap_to")
    }),
    "q78_fuzzy_linkage" -> ((s, dir) =>
      // Blocked edit-distance record linkage over part names: candidates via
      // the (noun, size) blocking key, verified with levenshtein <= 4. The
      // quadratic term is confined to within-block pairs.
      Linkage.fuzzyPairs(
        Tables.read(s, dir, "part")
          .withColumn("p_noun", element_at(split(col("p_name"), " "), 2)),
        "p_partkey", "p_name", Seq("p_noun", "p_size"), maxDist = 4)
        .select(col("p_noun"), col("p_size"), col("id_a"), col("id_b"),
                col("dist"))),
    "q79_bigram_lm" -> ((s, dir) =>
      TextAnalysis.bigramLm(docs(s, dir), "doc_id", "text", k = 20)),
    "q80_scd2_cdc" -> ((s, dir) => {
      // CDC export: the row-level changelog one incremental merge produced,
      // recovered from the before/after snapshots (insert = new version,
      // update = audit rewrite, delete = collapsed-away version).
      val all = ev(s, dir)
      val oldSnap = Scd2
        .initialLoad(all.filter(col("event_id") % 2 === 0), evCfg)
        .localCheckpoint()
      val newSnap = Scd2.incremental(oldSnap,
                                     all.filter(col("event_id") % 2 === 1),
                                     evCfg)
      // NULLABLE booleans stringify asymmetrically in the driver's pandas
      // compare (Spark None vs DuckDB NaN) — ship them as strings.
      Scd2.snapshotDelta(oldSnap, newSnap, evCfg)
        .withColumn("old_is_current", col("old_is_current").cast("string"))
        .withColumn("new_is_current", col("new_is_current").cast("string"))
    }),
    "q81_k_anonymize" -> ((s, dir) =>
      // k-anonymous release of customer quasi-identifiers: generalize the
      // balance to 1000-wide bands, suppress equivalence classes below k=5.
      Privacy.kAnonymize(
        Tables.read(s, dir, "customer"),
        Seq("nation" -> col("c_nationkey"),
            "segment" -> col("c_mktsegment"),
            "acct_band" -> floor(col("c_acctbal") / 1000).cast("long")),
        k = 5)
        .select("c_custkey", "nation", "segment", "acct_band", "class_size",
                "suppressed")),
    "q82_salted_join" -> ((s, dir) => {
      // Salted fact-dim join: events fan out 8 ways by a salt hashed from
      // event_id, customer replicates per salt — the static skew-mitigation
      // pattern; the result is exactly the plain join (the oracle IS the
      // plain join), aggregated per segment.
      val cust = Tables.read(s, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      SkewJoin.salted(ev(s, dir), cust, Seq("user_id"),
                      saltOf = pmod(hash(col("event_id")), lit(8)), nSalts = 8)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_events"),
             sum(floor(col("value") * lit(1000000.0)).cast("long"))
               .as("value_micro_sum"))
    }),
    "q83_winnow" -> ((s, dir) =>
      // Winnowing fingerprints: distinct windowed-min shingle hashes per
      // document (the positional near-dup signature).
      docs(s, dir).select(
        col("doc_id"),
        explode(TextAnalysis.winnowFingerprints(col("text"), n = 3, w = 4))
          .as("fingerprint"))),
    "q84_overlap_bucketed" -> ((s, dir) => {
      // q77's overlap join through the chunk-decomposed strategy (the 100 TB
      // path when per-key fibers are long). Open-ended sentinel windows are
      // clamped to the observation horizon first — otherwise each current
      // version would explode to (2999 - now)/chunk rows; the clamp is
      // row-invisible because every session ends before the horizon.
      val all = ev(s, dir)
      val hi = all.agg(max(unix_micros(col("ts")))).head().getLong(0) + 1L
      val sess = Sessionize
        .sessions(all, "user_id", "ts", "event_type", gapMinutes = 30)
        .withColumn("sess_end_x",
                    timestamp_micros(unix_micros(col("session_end")) + 1))
      val dim = Scd2.initialLoad(all, evTypeCfg)
        .select(col("user_id"), col("event_type").as("dim_event_type"),
                col("_valid_from").as("dim_from"),
                least(col("_valid_to"), timestamp_micros(lit(hi))).as("dim_to"))
      Intervals
        .overlapJoinBucketed(sess, dim, Seq("user_id"),
                             "session_start", "sess_end_x", "dim_from", "dim_to",
                             chunkMicros = 7L * 86400000000L)
        .select("user_id", "session_start", "n_events", "dim_event_type",
                "overlap_from", "overlap_to")
    }),
    "q85_rollup_regions" -> ((s, dir) => {
      // Multi-level rollup (region, nation, grand total) in ONE pass over
      // the fact side — the partial aggregates Expand produces replace three
      // separate scans; dims broadcast as in q57.
      val orders = Tables.spread(s, Tables.read(s, dir, "orders"))
      orders
        .join(broadcast(Tables.read(s, dir, "customer")),
              col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.read(s, dir, "nation")),
              col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.read(s, dir, "region")),
              col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
             sum(floor(col("o_totalprice") * lit(1000000.0)).cast("long"))
               .as("revenue_micro"),
             grouping_id().as("gid"))
    }),
    "q86_equidepth" -> ((s, dir) =>
      // Equi-depth decile bins over price at 10k-micro-cell resolution:
      // corpus-sized work is one combine-enabled aggregate; the windows run
      // over the cell relation.
      Profile.equiDepthBins(Tables.spread(s, Tables.read(s, dir, "lineitem")),
                            "l_extendedprice", lo = 0.0, hi = 110000.0,
                            bins = 10, microBins = 10000)),
    "q87_transitions" -> ((s, dir) =>
      // First-order Markov transition counts over each user's event stream.
      Funnel.transitions(ev(s, dir), "user_id", "ts", "event_id",
                         "event_type")),
    "q88_int8_quantize" -> ((s, dir) =>
      Similarity.int8Quantize(emb(s, dir), "vec_id", "embedding")),
    "q89_blocklist" -> ((s, dir) => {
      // Exact-hash blocklist removal: drop training docs whose normalized
      // content matches any doc in the held-out slice.
      val d = docs(s, dir)
      val block = d.filter(col("doc_id") % 10 === 0)
        .select(TextAnalysis.fingerprint(col("text")).as("fingerprint"))
        .distinct()
      Dedup.filterBlocklist(d.filter(col("doc_id") % 10 =!= 0), "text", block)
        .select("doc_id", "lang", "source")
    }),
    "q90_outliers" -> ((s, dir) => {
      // Threshold outlier scan: exact per-type p99 (rank selection, q59's
      // operator) broadcast back over the stream — at 100 TB the threshold
      // table is vocabulary-sized and the scan side stays shuffle-free.
      val e = ev(s, dir)
      val thr = Profile.discreteQuantiles(e, "event_type", "value", Seq(99))
        .select(col("event_type"), col("q_value").as("p99"))
      e.join(broadcast(thr), Seq("event_type"))
        .filter(col("value") > col("p99"))
        .select("event_id", "user_id", "event_type", "value", "p99")
    }),
    "q91_minmax_scale" -> ((s, dir) =>
      // Feature normalization: 1-row extrema pass broadcast back; corpus
      // side is a narrow projection, integer-ppm outputs.
      Profile.minMaxScale(
        Tables.spread(s, Tables.read(s, dir, "lineitem")),
        keyCols = Seq("l_orderkey", "l_linenumber"),
        valCols = Seq("l_extendedprice", "l_quantity", "l_discount"))),
    "q92_user_paths" -> ((s, dir) =>
      // Navigation-pattern rollup: ordered first-8 event-type paths.
      Funnel.paths(ev(s, dir), "user_id", "ts", "event_id", "event_type",
                   maxLen = 8)),
    // --- Classic OLAP shapes (pure Catalyst; money in floor-micro longs,
    //     per-row floor BEFORE the sum so results are order-independent) ---
    "q93_pricing_summary" -> ((s, dir) =>
      // TPC-H Q1 shape: one combine-enabled aggregate over the pruned scan
      // (filter + 6-column ReadSchema pushed to parquet).
      Tables.spread(s, Tables.read(s, dir, "lineitem"))
        .filter(col("l_shipdate") <=
          lit(java.sql.Timestamp.valueOf("1999-09-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_rows"),
             sum(floor(col("l_quantity") * lit(1000000.0)).cast("long"))
               .as("qty_micro"),
             sum(floor(col("l_extendedprice") * lit(1000000.0)).cast("long"))
               .as("base_micro"),
             sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
               * lit(1000000.0)).cast("long")).as("disc_micro"),
             sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
               * (lit(1.0) + col("l_tax")) * lit(1000000.0)).cast("long"))
               .as("charge_micro"))),
    "q94_shipping_priority" -> ((s, dir) => {
      // TPC-H Q3 shape: broadcast the filtered customer slice, shuffle the
      // fact once on the join key, top-10 by revenue (deterministic
      // (revenue desc, orderkey) tiebreak). orderBy+limit plans as
      // TakeOrderedAndProject — per-partition top-10 heaps merged on the
      // driver, NOT a single-partition global window (which would funnel
      // every aggregated order through one task at scale).
      val cut = lit(java.sql.Timestamp.valueOf("1998-06-01 00:00:00"))
      val c = Tables.read(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val o = Tables.read(s, dir, "orders")
        .filter(col("o_orderdate") < cut)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      val l = Tables.spread(s, Tables.read(s, dir, "lineitem"))
        .filter(col("l_shipdate") > cut)
        .select("l_orderkey", "l_extendedprice", "l_discount")
      l.join(o.join(broadcast(c), col("o_custkey") === col("c_custkey")),
             col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * lit(1000000.0)).cast("long")).as("revenue_micro"))
        .orderBy(col("revenue_micro").desc, col("l_orderkey"))
        .limit(10)
    }),
    "q95_charset" -> ((s, dir) =>
      // Encoding QC: per-document ASCII/non-ASCII/CJK character mass — the
      // mojibake and wrong-language tripwire. Narrow codegen'd projection.
      docs(s, dir)
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
                length(col("text")).as("n_chars"),
                regexp_count(col("text"), lit("[^\\x00-\\x7F]"))
                  .as("n_nonascii"),
                regexp_count(col("text"), lit("[\\x{4e00}-\\x{9fff}]"))
                  .as("n_cjk"))
        .withColumn("nonascii_ppm",
                    when(col("n_chars") === 0, lit(0L))
                      .otherwise(expr("(n_nonascii * CAST(1000000 AS BIGINT)) DIV n_chars")))),
    "q99_asof_snapshot" -> ((s, dir) => {
      // Time travel over the history table: the dimension as it stood at
      // the event-span midpoint (integer-micro cutoff, q12's idiom).
      val all = ev(s, dir)
      val row = all
        .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
        .head()
      val t = row.getLong(0) + (row.getLong(1) - row.getLong(0)) / 2
      val tTs = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        t / 1000000L, (t % 1000000L) * 1000L))
      Scd2.asOf(Scd2.initialLoad(all, evCfg), tTs, evCfg)
    }),
    "q100_retention" -> ((s, dir) => {
      // Retention trim + right-to-be-forgotten over the same history:
      // expired windows (closed before the 70%-span cutoff) drop unless
      // current; one residue class of users is erased entirely.
      val all = ev(s, dir)
      val row = all
        .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
        .head()
      val c = row.getLong(0) + (row.getLong(1) - row.getLong(0)) * 7 / 10
      val cTs = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        c / 1000000L, (c % 1000000L) * 1000L))
      val snap = Scd2.initialLoad(all, evCfg)
      val forget = all.filter(col("user_id") % 17 === 3)
        .select("user_id").distinct()
      Scd2.forgetKeys(Scd2.expireVersions(snap, cTs, evCfg), forget, evCfg)
    }),
    "q101_sample_by" -> ((s, dir) =>
      // Corpus reweighting: per-language keep rates (en 50%, es 25%, rest
      // 10%) by the deterministic id-hash draw — shuffle-free filter.
      Sampling.sampleByRates(docs(s, dir), "doc_id", "lang",
                             Seq("en" -> 50, "es" -> 25), den = 100,
                             defaultNum = 10)
        .select("doc_id", "lang", "source")),
    "q102_cube_events" -> ((s, dir) =>
      // CUBE over (event_type, weekday): all four grouping levels in one
      // Expand pass; weekday via integer-µs epoch math (day 0 = Thursday),
      // engine-portable unlike locale-dependent dayname().
      ev(s, dir)
        .withColumn("weekday",
                    expr("(unix_micros(ts) DIV 86400000000) % 7"))
        .cube(col("event_type"), col("weekday"))
        .agg(count(lit(1)).as("n_events"),
             countDistinct(col("user_id")).as("n_users"),
             grouping_id().as("gid"))),
    "q103_expectations" -> ((s, dir) => {
      // dbt's generic tests (not_null / unique / accepted_values /
      // relationships) as ONE report query over the orders star; the
      // accepted-values contract deliberately excludes 'P' so the check
      // surfaces real violations, the others hold.
      val orders = Tables.read(s, dir, "orders")
      val customer = Tables.read(s, dir, "customer")
      Expectations.report(Seq(
        "orders_orderkey_unique" ->
          Expectations.unique(orders, Seq("o_orderkey")),
        "orders_custkey_not_null" ->
          Expectations.notNull(orders, "o_custkey"),
        "orders_status_in_o_f" ->
          Expectations.acceptedValues(orders, "o_orderstatus", Seq("O", "F")),
        "orders_custkey_fk" ->
          Expectations.relationships(orders, "o_custkey", customer, "c_custkey"),
        "events_user_fk" ->
          Expectations.relationships(ev(s, dir), "user_id", customer,
                                     "c_custkey")))
    }),
    "q104_pii_scrub" -> ((s, dir) => {
      // PII detect + redact. The synthetic corpus carries no PII, so the
      // query plants deterministic email/phone/IPv4 spans derived from
      // doc_id (residues 3/4/5 → varying presence incl. none), then counts
      // and scrubs them — the whole construction is replayed by the oracle.
      val pii = docs(s, dir).select(
        col("doc_id"),
        concat(
          substring(col("text"), 1, 80),
          when(col("doc_id") % 3 === 0,
               concat(lit(" mail user"), col("doc_id").cast("string"),
                      lit("@example.com"))).otherwise(lit("")),
          when(col("doc_id") % 4 === 0,
               concat(lit(" call +1555"),
                      lpad((col("doc_id") * 7919 % 1000000).cast("string"),
                           6, "0"))).otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
               concat(lit(" host 10."), (col("doc_id") % 256).cast("string"),
                      lit(".0."),
                      (col("doc_id") * 3 % 256).cast("string")))
            .otherwise(lit(""))).as("text"))
      Privacy.scrubPii(Privacy.piiStats(pii, "text"), "text")
        .select(col("doc_id"), col("n_emails").cast("long"),
                col("n_phones").cast("long"), col("n_ipv4").cast("long"),
                col("has_pii"), col("text_scrubbed"))
    }),
    "q105_schema_evolution" -> ((s, dir) => {
      // on_schema_change=append_new_columns mid-stream: the target history
      // predates `flag`; the next batch carries it. alignSchemas widens the
      // history with typed NULLs and the new column joins change detection
      // (NULL->value = a new version), so the merge result equals a full
      // refresh over the union where pre-evolution rows have NULL flag.
      val all = ev(s, dir)
      val target = Scd2
        .initialLoad(all.filter(col("event_id") % 2 === 0), evCfg)
        .localCheckpoint()
      val batch = all.filter(col("event_id") % 2 === 1)
        .withColumn("flag", upper(col("event_type")))
      val cfgE = evCfg.copy(onSchemaChange = "append_new_columns")
      val (t, b) = ScdEngine.alignSchemas(target, batch, cfgE)
      Scd2.incremental(t, b, cfgE)
    }),
    "q106_lm_score" -> ((s, dir) => {
      // Model-based quality filter: score held-out documents (odd doc_ids)
      // against the bigram LM of the other half (even doc_ids) in integer
      // ppm — the CCNet/KenLM filter shape without float logs.
      val d = docs(s, dir)
      TextAnalysis.bigramLmScore(
        d.filter(col("doc_id") % 2 === 1),
        d.filter(col("doc_id") % 2 === 0),
        "doc_id", "text")
    }),
    "q107_domains" -> ((s, dir) => {
      // Per-domain URL stats. The corpus carries no URLs, so the query
      // plants deterministic doc_id-derived links (residues 3/4 → zero, one
      // or two per doc) and aggregates host extractions — replayed verbatim
      // by the oracle.
      val withUrls = docs(s, dir).select(
        col("doc_id"),
        concat(
          substring(col("text"), 1, 60),
          when(col("doc_id") % 3 === 0,
               concat(lit(" see https://site"),
                      (col("doc_id") % 7).cast("string"),
                      lit(".example.com/page"))).otherwise(lit("")),
          when(col("doc_id") % 4 === 0,
               concat(lit(" via http://cdn"),
                      (col("doc_id") % 5).cast("string"),
                      lit(".example.org"))).otherwise(lit(""))).as("text"))
      TextAnalysis.urlDomains(withUrls, "doc_id", "text")
    }),
    "q108_strip_markup" -> ((s, dir) => {
      // Markup strip + boilerplate ratio over a deterministically
      // HTML-wrapped half of the corpus (the other half passes through and
      // must measure ~0 ppm).
      val html = docs(s, dir).select(
        col("doc_id"),
        when(col("doc_id") % 2 === 0,
             concat(lit("<html><p class=\"lead\">"),
                    substring(col("text"), 1, 50),
                    lit("</p> <br/><div>"),
                    substring(col("text"), 51, 40),
                    lit("</div></html>")))
          .otherwise(substring(col("text"), 1, 90)).as("text"))
      TextAnalysis.markupStats(html, "text")
        .select("doc_id", "text_clean", "markup_ratio_ppm")
    }),
    "q109_dup_spans" -> ((s, dir) =>
      // Exact substring-duplication mass: spans shared across the corpus's
      // planted near-dups light up; clean docs sit at 0 ppm.
      Dedup.dupSpanStats(docs(s, dir), "doc_id", "text", n = 20)),
    "q110_web_pipeline" -> ((s, dir) => {
      // The r3c web-curation flagship as ONE DAG: deterministic raw web
      // shape (half the corpus HTML-wrapped, doc_id-derived PII planted) →
      // markup strip → PII stats + scrub on the CLEAN text → token-count
      // quality gate → per-source rollup. Everything stays a narrow
      // projection until the dimension-sized final aggregate.
      val synth = docs(s, dir).select(
        col("doc_id"), col("source"),
        concat(
          when(col("doc_id") % 2 === 0,
               concat(lit("<html><p>"), substring(col("text"), 1, 70),
                      lit("</p><div>"), substring(col("text"), 71, 30),
                      lit("</div></html>")))
            .otherwise(substring(col("text"), 1, 100)),
          when(col("doc_id") % 3 === 0,
               concat(lit(" contact user"), col("doc_id").cast("string"),
                      lit("@example.com"))).otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
               concat(lit(" from 10."), (col("doc_id") % 256).cast("string"),
                      lit(".0."), (col("doc_id") * 3 % 256).cast("string")))
            .otherwise(lit(""))).as("text"))
      val stripped = TextAnalysis.markupStats(synth, "text")
      val scrubbed = Privacy.scrubPii(
        Privacy.piiStats(stripped, "text_clean"), "text_clean")
      val toks = TextAnalysis.tokenCount(col("text_scrubbed"))
      scrubbed
        .filter(toks >= 12)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_emails") + col("n_ipv4")).as("n_pii"),
             sum(toks.cast("long")).as("n_tokens"),
             sum(col("markup_ratio_ppm")).as("markup_ppm_sum"))
    }),
    "q111_remix" -> ((s, dir) => {
      // Data mixing: rebalance the corpus's language mix (en-dominant by
      // mass) to a target recipe by downsampling-only keep rates, applied
      // with the deterministic id-hash draw; report rates + achieved mass.
      val d = docs(s, dir)
      val rates = Sampling.remixRates(
        d, "lang", col("n_chars"),
        Seq("en" -> 300000L, "de" -> 200000L, "es" -> 200000L,
            "fr" -> 150000L, "zh" -> 150000L))
      Sampling.remixApply(d, "doc_id", "lang", rates)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs_kept"),
             sum(col("n_chars")).as("mass_kept"))
        .join(rates, Seq("lang"))
        .select("lang", "mass", "target_ppm", "rate_ppm",
                "n_docs_kept", "mass_kept")
    }),
    "q112_policy_filter" -> ((s, dir) => {
      // Wordlist policy screen: token-exact hit counts (never substring —
      // "merge" can't hit "submerged") + consecutive-token phrase
      // containment, and the keep verdict both gates feed.
      val hits = TextAnalysis.termHits(col("text"), Seq("merge", "spark"))
      val phrase = TextAnalysis.containsPhrase(col("text"), "fast table")
      docs(s, dir).select(
        col("doc_id"),
        hits.cast("long").as("n_term_hits"),
        phrase.as("has_phrase"),
        (hits === 0 && !phrase).as("kept"))
    }),
    "q113_history_profile" -> ((s, dir) =>
      // Dimension-health report over the soft-delete SCD2 history: version-
      // depth distribution + currently-deleted keys per depth (the skew
      // report for incremental merge cost).
      Scd2.historyProfile(
        Scd2.initialLoad(evDeletes(s, dir),
                         evCfg.copy(deletedAtCol = Some("deleted_at"))),
        evCfg)),
    "q114_source_freshness" -> ((s, dir) =>
      // dbt `source freshness` per event_type: age of max(ts) vs a fixed
      // as-of against warn/error thresholds, integer-seconds verdict.
      IncrementalSource.freshness(
        ev(s, dir), "ts",
        java.sql.Timestamp.valueOf("2024-01-31 00:00:00"),
        warnAfterSec = 600L, errorAfterSec = 1800L,
        groupBy = Seq("event_type"))),
    "q115_local_volume" -> ((s, dir) => {
      // TPC-H Q5 shape: revenue per nation where customer and supplier share
      // the nation, region-filtered, one-year order window. Supplier⋈nation⋈
      // region collapse to one broadcast dim; the fact shuffles ONCE (on
      // l_orderkey, against the date-pruned orders slice). Customer rides a
      // broadcast here; at 100 TB customer is fact-sized and that join
      // becomes the second shuffle (on custkey) — the plan degrades to the
      // canonical two-exchange Q5, never to a cross product.
      val cut0 = lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00"))
      val cut1 = lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00"))
      val dim = Tables.read(s, dir, "nation")
        .join(Tables.read(s, dir, "region").filter(col("r_name") === "ASIA"),
              col("n_regionkey") === col("r_regionkey"))
      val sup = Tables.read(s, dir, "supplier").select("s_suppkey", "s_nationkey")
        .join(dim, col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
      val o = Tables.read(s, dir, "orders")
        .filter(col("o_orderdate") >= cut0 && col("o_orderdate") < cut1)
        .select("o_orderkey", "o_custkey")
      val c = Tables.read(s, dir, "customer").select("c_custkey", "c_nationkey")
      Tables.read(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey") &&
                            col("c_nationkey") === col("s_nationkey"))
        .groupBy("n_name")
        .agg(sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * lit(1000000.0)).cast("long")).as("revenue_micro"))
    }),
    "q116_incremental_rollup" -> ((s, dir) => {
      // Incremental aggregate materialization: the stored rollup (built from
      // the even half) merges the odd half's batch rollup — O(batch +
      // touched keys), the history is never rescanned. The oracle is the
      // full recompute: merge algebra == one-shot aggregate, exactly.
      val e = ev(s, dir)
        .withColumn("day", date_trunc("DAY", col("ts")))
        .withColumn("value_micro", floor(col("value") * lit(1000000.0)).cast("long"))
      val keys = Seq("event_type", "day")
      IncrementalAgg.merge(
        IncrementalAgg.rollup(e.filter(col("event_id") % 2 === 0), keys, col("value_micro")),
        IncrementalAgg.rollup(e.filter(col("event_id") % 2 === 1), keys, col("value_micro")),
        keys)
    }),
    "q117_interarrival" -> ((s, dir) =>
      // Per-user event-time gaps aggregated per arriving event type —
      // all-integer micros, (ts, event_id) tiebreak so same-instant
      // neighbors are deterministic.
      Rolling.interArrival(ev(s, dir), "user_id", "ts", "event_id", "event_type")),
    "q118_chunk_docs" -> ((s, dir) =>
      // Context-length example generation: 64-token chunks at stride 48
      // (16-token overlap), trailing partial kept. Pure per-row generate —
      // no shuffle; chunk identity is deterministic anywhere.
      Packing.chunkDocs(docs(s, dir), "doc_id", "text",
                        chunkTokens = 64, strideTokens = 48)),
    "q119_weighted_sample" -> ((s, dir) =>
      // Sequential Poisson sampling: per-language cap of 20 docs drawn
      // ~proportional to n_chars via integer priorities — the drawn set is
      // engine- and partitioning-exact.
      Sampling.weightedCap(docs(s, dir), "doc_id", Seq("lang"), "n_chars", cap = 20)
        .select("lang", "sample_rank", "doc_id", "priority")),
    "q120_daily_snapshots" -> ((s, dir) =>
      // Daily snapshot fan-out over the soft-delete SCD2 history: one row
      // per alive (version, spine day); 'D' windows emit nothing. Spine
      // broadcast, history never shuffles post-merge.
      Scd2.dailySnapshots(
        Scd2.initialLoad(evDeletes(s, dir),
                         evCfg.copy(deletedAtCol = Some("deleted_at"))),
        java.sql.Timestamp.valueOf("2024-01-05 00:00:00"),
        java.sql.Timestamp.valueOf("2024-01-25 00:00:00"),
        evCfg)
        .select("snapshot_ts", "user_id", "event_type", "value")),
    "q121_orphan_facts" -> ((s, dir) => {
      // As-of referential integrity: each fact (event probed 10 min later)
      // lands in its user's containing SCD2 window via the X38 window-fill
      // plan (ONE fact-side exchange, never facts × versions); orphans =
      // facts whose containing window is a deletion period.
      val hist = Scd2.initialLoad(evDeletes(s, dir),
                                  evCfg.copy(deletedAtCol = Some("deleted_at")))
      val dim = hist.select(col("user_id"), col("_valid_from"),
                            (col("_change_type") =!= "D").as("alive"))
      val facts = ev(s, dir).select(col("event_id"), col("user_id"),
        expr("ts + INTERVAL 600 SECONDS").as("fact_ts"))
      Scd2Join.enrich(facts, "fact_ts", dim, Seq("user_id"), evCfg)
        .filter(!coalesce(col("dim_alive"), lit(false)))
        .select("event_id", "user_id", "fact_ts")
    }),
    "q122_bloom_prune" -> ((s, dir) => {
      // Explicit bloom semi-join prune: the fact scan drops non-joining
      // rows BEFORE any exchange via a folded might_contain literal (the
      // manual InjectRuntimeFilter); the verify join removes bloom false
      // positives, so the result IS the plain join — which is the oracle.
      val dim = Tables.read(s, dir, "orders")
        .filter(col("o_totalprice") > 450000.0)
        .select("o_orderkey", "o_orderpriority")
      val fact = Tables.read(s, dir, "lineitem")
        .select("l_orderkey", "l_quantity")
      BloomPrune.pruned(fact, dim, "l_orderkey", "o_orderkey")
        .join(broadcast(dim), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lineitems"),
             sum(floor(col("l_quantity") * lit(1000000.0)).cast("long"))
               .as("qty_micro"))
    }),
    "q123_alive_islands" -> ((s, dir) =>
      // Gaps-and-islands over the soft-delete history: coalesce each user's
      // alive versions into continuous-existence stretches (abutting SCD
      // windows merge; a deletion gap starts a new island).
      Intervals.islands(
        Scd2.initialLoad(evDeletes(s, dir),
                         evCfg.copy(deletedAtCol = Some("deleted_at")))
          .filter(col("_change_type") =!= "D"),
        Seq("user_id"), "_valid_from", "_valid_to")),
    "q124_dup_degree" -> ((s, dir) => {
      // Degree distribution of the near-dup pair graph — the corpus-health
      // report behind cluster sizes (a fat tail here means boilerplate
      // families that clusterPairs will serialize on). Pair gen is X3;
      // the stats are two combine-enabled aggregates on top.
      val pairs = Dedup.minhashLshPairs(docs(s, dir), "doc_id", "text", n = 3,
                                       bands = 4, rows = 3, tauNum = 1, tauDen = 2)
      pairs.select(col("doc_a").as("doc_id"))
        .unionByName(pairs.select(col("doc_b").as("doc_id")))
        .groupBy("doc_id").agg(count(lit(1)).as("degree"))
        .groupBy("degree").agg(count(lit(1)).as("n_docs"))
    }),
    "q125_table_checksum" -> ((s, dir) =>
      // Order-independent table fingerprint per group: sum of 60-bit
      // md5-prefix row digests mod 1e18 — replica reconciliation across
      // engines/layouts without moving data (any row order, partitioning,
      // or engine yields the same checksum; the oracle recomputes it in
      // DuckDB). One combine-enabled aggregate, shuffle on the group key
      // only.
      docs(s, dir).groupBy("lang")
        .agg(count(lit(1)).as("n_rows"),
             (sum(conv(substring(md5(concat_ws("-",
                 coalesce(col("doc_id").cast("string"), lit("")),
                 coalesce(col("text"), lit("")),
                 coalesce(col("source"), lit("")),
                 coalesce(col("n_chars").cast("string"), lit("")))),
               1, 15), 16, 10).cast("decimal(38,0)"))
               % lit(1000000000000000000L)).cast("long").as("checksum"))),
    "q126_keep_last_k" -> ((s, dir) =>
      // Version-count retention: each user keeps its 3 most recent versions
      // (current always among them); kept windows are true history.
      Scd2.keepLastVersions(
        Scd2.initialLoad(ev(s, dir), evCfg), k = 3, evCfg)),
    "q127_ann_recall" -> ((s, dir) => {
      // Recall@10 of the sign-LSH index against the exact top-10 — the
      // ANN quality gate (both sides deterministic, so recall is an oracle
      // number, not an estimate). Semi-join on (query, neighbor), ppm
      // recall from integer division.
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 32)
      val exact = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", k = 10)
        .select("query_id", "neighbor_id")
      val approx = Similarity.lshTopK(q, e, "vec_id", "embedding", k = 10, planes = 8)
        .select("query_id", "neighbor_id")
      val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
      exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("query_id"), "left")
        .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
        .withColumn("recall_ppm", expr("n_hits * 1000000 DIV n_exact"))
    }),
    "q128_winsorize" -> ((s, dir) =>
      // Winsorize event values to exact per-type [p5, p95] rank-selection
      // quantiles; the clamp bounds broadcast back, data side stays narrow.
      Profile.winsorize(
        ev(s, dir).select(col("event_id"), col("event_type"),
          floor(col("value") * lit(1000000.0)).cast("long").as("vm")),
        "event_type", "vm", pLo = 5, pHi = 95)
        .select("event_id", "event_type", "vm", "vm_w")),
    "q129_big_orders" -> ((s, dir) => {
      // TPC-H Q18 shape: orders whose lineitem quantity mass crosses the
      // threshold — fact aggregates FIRST (combine-enabled, orderkey-sized
      // output), the dimension joins after; customer broadcast.
      val qty = Tables.read(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(sum(floor(col("l_quantity") * lit(1000000.0)).cast("long"))
          .as("qty_micro"))
        .filter(col("qty_micro") > lit(260L * 1000000L))
      Tables.read(s, dir, "orders")
        .join(qty, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(Tables.read(s, dir, "customer")
          .select("c_custkey", "c_name")),
          col("o_custkey") === col("c_custkey"))
        .select("c_name", "o_orderkey", "o_orderdate", "qty_micro")
    }),
    "q130_key_skew" -> ((s, dir) =>
      // Key-skew pre-flight: the 25 heaviest users with row share and
      // multiple-of-average-fiber ratio — when this crosses ~100x, per-key
      // windows serialize and salting pays.
      Profile.keySkew(ev(s, dir), Seq("user_id"), topK = 25)),
    "q131_user_profile" -> ((s, dir) =>
      // Set aggregation parity: per-user distinct event-type inventory as a
      // SORTED joined string (collect_set order is partition-dependent;
      // sorting makes it engine-comparable). One combine-enabled aggregate.
      ev(s, dir).groupBy("user_id")
        .agg(array_join(array_sort(collect_set(col("event_type"))), ",")
               .as("types"),
             size(collect_set(col("event_type"))).as("n_types"),
             count(lit(1)).as("n_events"))),
    "q132_zorder" -> ((s, dir) =>
      // Z-order (Morton) keys over (partkey, suppkey) grid coords — the
      // data-skipping layout primitive: engine-exact integer interleave,
      // ready for a repartitionByRange write (Layout.zorderWrite).
      Tables.read(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
                (col("l_partkey") % 1024).as("zx"),
                (col("l_suppkey") % 1024).as("zy"))
        .withColumn("z", Layout.zValue("zx", "zy", 10))),
    "q133_deciles" -> ((s, dir) =>
      // NTILE decile assignment per event type on the (vm, id) total order
      // — the feature-bucketing primitive, deterministic in every engine.
      // Rank via Profile.cellRank (X44 cell decomposition): event_type is
      // 5-valued, so a per-group ntile window would sort 1/5 of the fact
      // table in ONE task at scale; the cell path's biggest sort is a
      // microBins-th of that. The ntile tile from (rank, n) is the exact
      // SQL ntile definition: first n%k tiles hold ceil(n/k) rows.
      Profile.cellRank(
          ev(s, dir).select(col("event_id"), col("event_type"),
            floor(col("value") * lit(1000000.0)).cast("long").as("vm")),
          Seq("event_type"), "vm", Seq("event_id"))
        .withColumn("decile", expr(
          """CAST(CASE WHEN _rank <= (_n % 10) * (_n DIV 10 + 1)
            |       THEN (_rank - 1) DIV (_n DIV 10 + 1) + 1
            |       ELSE (_n % 10) + (_rank - (_n % 10) * (_n DIV 10 + 1) - 1)
            |            DIV (_n DIV 10) + 1 END AS INT)""".stripMargin))
        .drop("_rank", "_n")),
    "q134_sentence_dedup" -> ((s, dir) =>
      // Exact-sentence duplication share per document (RefinedWeb signal) —
      // one corpus-sentence-sized exchange on md5(sentence), per-doc combine.
      Dedup.sentenceDupStats(docs(s, dir), "doc_id", "text")),
    "q135_suff_stats" -> ((s, dir) =>
      // Order-independent sufficient statistics per event type: integer
      // (n, Σx, Σy, Σxy, Σx², Σy²) in milli/second units — the distributed
      // correlation/regression primitive (moments merge; means/slopes are
      // derived at read, exactly like the X97 rollup partials).
      ev(s, dir).select(col("event_type"),
          floor(col("value") * lit(1000.0)).cast("long").as("x"),
          expr("(unix_micros(ts) DIV 1000000) % 86400").as("y"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
             sum(col("x")).as("sum_x"),
             sum(col("y")).as("sum_y"),
             sum(col("x") * col("y")).as("sum_xy"),
             sum(col("x") * col("x")).as("sum_x2"),
             sum(col("y") * col("y")).as("sum_y2"))),
    "q136_pct_of_total" -> ((s, dir) => {
      // Share-of-day per event type in ppm: combine-enabled (type, day)
      // counts, then a day-partitioned total window over the tiny rollup —
      // the corpus never sees the window.
      import org.apache.spark.sql.expressions.Window
      ev(s, dir)
        .groupBy(col("event_type"), date_trunc("DAY", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .withColumn("day_total",
                    sum(col("n")).over(Window.partitionBy(col("day"))))
        .withColumn("share_ppm", expr("n * 1000000 DIV day_total"))
    }),
    "q137_snapshot_check" -> ((s, dir) => {
      // dbt snapshot `check` strategy + invalidate_hard_deletes: two runs
      // over current-state tables with NO usable event time — run 1 sees
      // the latest even-event state (users ≠7 mod 10), run 2 the latest
      // odd-event state (users ≠3 mod 10). Changed types version at run
      // time, unchanged collapse, vanished keys hard-delete, new keys born.
      import org.apache.spark.sql.expressions.Window
      def latest(df: DataFrame) = df.withColumn("_rn", row_number().over(
          Window.partitionBy(col("user_id"))
            .orderBy(col("ts").desc, col("event_id").desc)))
        .filter(col("_rn") === 1).drop("_rn")
      val all = ev(s, dir)
      val s1 = latest(all.filter(col("event_id") % 2 === 0 && col("user_id") % 10 =!= 7))
      val s2 = latest(all.filter(col("event_id") % 2 === 1 && col("user_id") % 10 =!= 3))
      val cfg = ScdConfig(uniqueKey = Seq("user_id"),
                          updatedAtCol = "_snapshot_at",
                          changeInclude = Some(Seq("event_type")),
                          deletedAtCol = Some("deleted_at"))
      val t1 = Snapshot.run(None, s1,
        java.sql.Timestamp.valueOf("2024-02-01 00:00:00"), cfg,
        invalidateHardDeletes = true)
      Snapshot.run(Some(t1), s2,
        java.sql.Timestamp.valueOf("2024-02-02 00:00:00"), cfg,
        invalidateHardDeletes = true)
    }),
    "q138_time_to_convert" -> ((s, dir) =>
      // signup -> purchase funnel edge: entrants, converters, exact p50/p90
      // seconds-to-convert (rank selection, engine-exact).
      Funnel.timeToConvert(ev(s, dir), "user_id", "ts", "event_type",
                           "signup", "purchase")),
    "q139_version_conflicts" -> ((s, dir) =>
      // Ambiguous-version audit at hour granularity: (user, hour) groups
      // whose rows disagree on content — the inputs where a merge's
      // deterministic tie-break would silently pick a winner.
      Scd2.ambiguousVersions(
        ev(s, dir), evCfg,
        updatedAtExpr = Some(date_trunc("HOUR", col("ts"))))),
    "q140_milestones" -> ((s, dir) =>
      // Accumulating-snapshot fact table: one row per user with first-hit
      // timestamps per lifecycle milestone — ONE combine-enabled aggregate
      // (conditional mins), the Kimball pattern without N self-joins.
      ev(s, dir).groupBy("user_id")
        .agg(min(when(col("event_type") === "signup", col("ts"))).as("first_signup"),
             min(when(col("event_type") === "click", col("ts"))).as("first_click"),
             min(when(col("event_type") === "view", col("ts"))).as("first_view"),
             min(when(col("event_type") === "purchase", col("ts"))).as("first_purchase"),
             min(when(col("event_type") === "error", col("ts"))).as("first_error"),
             max(col("ts")).as("last_event"),
             count(lit(1)).as("n_events"))),
    "q141_gap_fill" -> ((s, dir) => {
      // Calendar densification: every (hour, type) cell of the reporting
      // window, zero-filled — the spine is dimension-sized and broadcast;
      // the corpus contributes one combine-enabled rollup. Reports that
      // silently drop empty cells hide outages; this is the fix.
      val types = Seq("click", "signup", "error", "view", "purchase")
      val spine = s.range(1)
        .select(explode(sequence(
          lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
          lit(java.sql.Timestamp.valueOf("2024-01-30 23:00:00")),
          expr("interval 1 hour"))).as("hour"))
        .crossJoin(s.range(1)
          .select(explode(array(types.map(lit): _*)).as("event_type")))
      val counts = ev(s, dir)
        .groupBy(date_trunc("HOUR", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      spine.join(counts, Seq("hour", "event_type"), "left")
        .withColumn("n", coalesce(col("n"), lit(0L)))
    }),
    "q142_jsonl_roundtrip" -> ((s, dir) => {
      // Multi-format source/sink: corpus → JSON-lines → back with an
      // EXPLICIT schema (inference is a full extra pass at 100 TB — never
      // at scale), then the X107 checksum proves the roundtrip lossless
      // against the parquet original (same oracle).
      val d = docs(s, dir)
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_jsonl_rt").getAbsolutePath
      d.write.mode("overwrite").json(path)
      s.read.schema(d.schema).json(path)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_rows"),
             (sum(conv(substring(md5(concat_ws("-",
                 coalesce(col("doc_id").cast("string"), lit("")),
                 coalesce(col("text"), lit("")),
                 coalesce(col("source"), lit("")),
                 coalesce(col("n_chars").cast("string"), lit("")))),
               1, 15), 16, 10).cast("decimal(38,0)"))
               % lit(1000000000000000000L)).cast("long").as("checksum"))
    }),
    "q143_csv_roundtrip" -> ((s, dir) => {
      // Same lossless-roundtrip gate through quoted CSV (header, explicit
      // schema, proper quote/escape so delimiters in data can't shear rows).
      val d = docs(s, dir)
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_csv_rt").getAbsolutePath
      d.write.mode("overwrite")
        .option("header", "true").option("quoteAll", "true").csv(path)
      s.read.schema(d.schema)
        .option("header", "true").option("quote", "\"").option("escape", "\"")
        .csv(path)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_rows"),
             (sum(conv(substring(md5(concat_ws("-",
                 coalesce(col("doc_id").cast("string"), lit("")),
                 coalesce(col("text"), lit("")),
                 coalesce(col("source"), lit("")),
                 coalesce(col("n_chars").cast("string"), lit("")))),
               1, 15), 16, 10).cast("decimal(38,0)"))
               % lit(1000000000000000000L)).cast("long").as("checksum"))
    }),
    "q144_sql_dedup" -> ((s, dir) => {
      // SQL front end #2: X1's exact dedup as PURE SQL TEXT over a temp
      // view — same oracle as q16, so the SQL surface and the DataFrame
      // operator are interchangeable for text ops too.
      graft.functions.GraftExtensions.register(s)
      docs(s, dir).createOrReplaceTempView("docs_t")
      s.sql("""
        SELECT md5(array_join(split(lower(trim(text)), '\\s+'), ' '))
            AS fingerprint,
          min(doc_id) AS canonical_id, count(*) AS n_copies
        FROM docs_t GROUP BY 1""")
    }),
    "q145_top_boilerplate" -> ((s, dir) => {
      // Corpus boilerplate detector: the 20 most-duplicated 20-token spans
      // (the q109 span relation re-aggregated by SPAN instead of doc) —
      // what you read before writing a takedown/cleanup rule. Combine-
      // enabled count + distributed TakeOrdered top-k.
      val toks = TextAnalysis.tokens(col("text"))
      docs(s, dir).filter(size(toks) >= 20)
        .select(explode(TextAnalysis.orderedShingles(toks, 20)).as("span"))
        .groupBy("span").agg(count(lit(1)).as("n_occurrences"))
        .filter(col("n_occurrences") > 1)
        .orderBy(col("n_occurrences").desc, col("span"))
        .limit(20)
    }),
    "q146_sliding_mau" -> ((s, dir) =>
      // Exact 7-day active users, sliding daily — the WAU primitive via the
      // native window generator (each event lands in 7 windows, then ONE
      // distinct aggregate on (window, user)); the HLL sketch (q98 family)
      // is the documented approximate tier at larger windows.
      ev(s, dir)
        .select(window(col("ts"), "7 days", "1 day").as("w"), col("user_id"))
        .groupBy(col("w").getField("start").as("window_start"))
        .agg(countDistinct(col("user_id")).as("n_active_users"))),
    "q147_priority_exists" -> ((s, dir) =>
      // EXISTS shape (TPC-H Q4 skeleton): orders with at least one heavy
      // lineitem, counted by priority — LEFT SEMI join, so the fact side
      // contributes at most one hit per order and never fans out.
      Tables.read(s, dir, "orders")
        .join(Tables.read(s, dir, "lineitem")
                .filter(col("l_quantity") > 45.0).select("l_orderkey"),
              col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))),
    "q148_returned_revenue" -> ((s, dir) =>
      // TPC-H Q10 shape: top-20 customers by returned-item revenue in a
      // quarter — fact filtered at the scan, one shuffle join onto the
      // date-pruned orders, broadcast customer+nation, TakeOrdered top-k.
      Tables.read(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .join(Tables.read(s, dir, "orders")
                .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
                        col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1996-04-01 00:00:00")))
                .select("o_orderkey", "o_custkey"),
              col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.read(s, dir, "customer")
                .select("c_custkey", "c_name", "c_nationkey")),
              col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.read(s, dir, "nation")
                .select("n_nationkey", "n_name")),
              col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * lit(1000000.0)).cast("long")).as("revenue_micro"))
        .orderBy(col("revenue_micro").desc, col("c_custkey"))
        .limit(20)),
    "q149_seasonality" -> ((s, dir) =>
      // Seasonality heat grid: (weekday, hour-of-day) traffic matrix via
      // integer-µs epoch math (locale-free; day 0 = Thursday) — at most
      // 168 agg keys, pure map-side combine.
      ev(s, dir)
        .groupBy(expr("(unix_micros(ts) DIV 86400000000) % 7").as("weekday"),
                 expr("(unix_micros(ts) DIV 3600000000) % 24").as("hour_of_day"))
        .agg(count(lit(1)).as("n_events"),
             countDistinct(col("user_id")).as("n_users"))),
    "q150_wow_change" -> ((s, dir) => {
      // Week-over-week deltas per event type: combine-enabled (type, week)
      // rollup, then lag over the dimension-sized rollup — integer-ppm
      // change, NULL for the first week (no fabricated zero baseline).
      import org.apache.spark.sql.expressions.Window
      val wk = expr("(unix_micros(ts) DIV 86400000000) DIV 7")
      val w = Window.partitionBy(col("event_type")).orderBy(col("week"))
      ev(s, dir)
        .groupBy(col("event_type"), wk.as("week"))
        .agg(count(lit(1)).as("n"))
        .withColumn("prev_n", lag(col("n"), 1).over(w))
        .withColumn("delta", col("n") - col("prev_n"))
        // sign-decomposed so the integer division sees a non-negative
        // numerator: Spark DIV truncates, DuckDB // floors — they only
        // agree on non-negatives (same trap as cohort retention).
        .withColumn("change_ppm",
                    expr("CAST(sign(n - prev_n) AS BIGINT) * " +
                         "((abs(n - prev_n) * 1000000) DIV prev_n)"))
    }),
    "q151_upcoming_changes" -> ((s, dir) => {
      // Effective dating: changes scheduled AFTER an as-of instant — each
      // key's state at T plus its next future version and when it takes
      // effect (the price-change-preview report). One history pass: lead
      // over the (key, vf) window the history already has.
      import org.apache.spark.sql.expressions.Window
      val t = java.sql.Timestamp.valueOf("2024-01-20 00:00:00")
      val hist = Scd2.initialLoad(ev(s, dir), evTypeCfg)
      val w = Window.partitionBy(col("user_id")).orderBy(col("_valid_from"))
      hist
        .withColumn("_next_type", lead(col("event_type"), 1).over(w))
        .withColumn("_next_vf", lead(col("_valid_from"), 1).over(w))
        .filter(col("_valid_from") <= lit(t) && col("_valid_to") > lit(t) &&
                col("_next_vf").isNotNull)
        .select(col("user_id"), col("event_type").as("current_type"),
                col("_next_type").as("next_type"),
                col("_next_vf").as("effective_at"))
    }),
    "q152_anomaly_hours" -> ((s, dir) => {
      // Exact integer z-score anomaly flags: hour h is anomalous iff
      // (n·x − Σ)²·(n−1) > 9·n·(n·Σx² − Σ²) over the trailing-168h
      // baseline — algebraically z² > 3², but cross-multiplied so NO
      // float sqrt/division exists to drift between engines. Windows run
      // over the 720-row hourly rollup, never the corpus.
      import org.apache.spark.sql.expressions.Window
      // partitionBy(graft.functions.DimKey.one): single-partition by declaration (the rollup is
      // hour-count-sized), not by accidental empty partition spec
      val w = Window.partitionBy(graft.functions.DimKey.one).orderBy(col("hour_idx"))
        .rowsBetween(-168, -1)
      ev(s, dir)
        .groupBy(expr("unix_micros(ts) DIV 3600000000").as("hour_idx"))
        .agg(count(lit(1)).as("x"))
        .withColumn("bn", count(lit(1)).over(w))
        .withColumn("bsum", sum(col("x")).over(w))
        .withColumn("bsum2", sum(col("x") * col("x")).over(w))
        .filter(col("bn") >= 24)
        .withColumn("anomalous", expr(
          """(bn * x - bsum) * (bn * x - bsum) * (bn - 1)
            |  > 9 * bn * (bn * bsum2 - bsum * bsum)""".stripMargin))
        .select("hour_idx", "x", "bn", "bsum", "anomalous")
    }),
    "q153_session_conversion" -> ((s, dir) =>
      // Session-level conversion per day: share of sessions containing a
      // purchase — the sessionize exchange is reused by the contains-agg
      // (same user-key distribution), then a dimension-sized daily rollup.
      Sessionize.assign(ev(s, dir), "user_id", "ts")
        .groupBy(col("user_id"), col("_session"))
        .agg(min(col("ts")).as("session_start"),
             max((col("event_type") === "purchase").cast("int"))
               .as("_has_purchase"))
        .groupBy(date_trunc("DAY", col("session_start")).as("day"))
        .agg(count(lit(1)).as("n_sessions"),
             sum(col("_has_purchase").cast("long")).as("n_converted"))
        .withColumn("conversion_ppm",
                    expr("n_converted * 1000000 DIV n_sessions"))),
    "q154_relative_standing" -> ((s, dir) =>
      // Integer percentile rank: each order's standing within its priority
      // as rank·10^6 div n — percent_rank without the float division.
      // o_orderpriority is 5-valued, so the naive per-priority window sorts
      // 1/5 of the orders table in one task; Profile.cellRank bounds the
      // biggest sort to a microBins-th of a group.
      Profile.cellRank(
          Tables.read(s, dir, "orders")
            .select(col("o_orderkey"), col("o_orderpriority"),
                    col("o_totalprice")),
          Seq("o_orderpriority"), "o_totalprice", Seq("o_orderkey"))
        .withColumn("standing_ppm",
                    expr("CAST(_rank AS BIGINT) * 1000000 DIV _n"))
        .drop("_rank", "_n")),
    "q155_mad" -> ((s, dir) => {
      // Robust dispersion: exact median + median-absolute-deviation per
      // event type via TWO rank-selection passes (X44) — integer micros
      // throughout, no sketch, no float percentile.
      val e = ev(s, dir).select(col("event_type"),
        floor(col("value") * lit(1000000.0)).cast("long").as("vm"))
      val med = Profile.discreteQuantiles(e, "event_type", "vm", Seq(50))
        .select(col("event_type"), col("q_value").as("median_micro"))
      val dev = e.join(broadcast(med), Seq("event_type"))
        .withColumn("adev", abs(col("vm") - col("median_micro")))
      Profile.discreteQuantiles(dev, "event_type", "adev", Seq(50))
        .select(col("event_type"), col("q_value").as("mad_micro"))
        .join(broadcast(med), Seq("event_type"))
        .select("event_type", "median_micro", "mad_micro")
    }),
    "q156_user_lifetimes" -> ((s, dir) =>
      // Per-user lifetime summary: span, active days, density — one
      // combine-enabled aggregate (distinct days via the day-truncated
      // count distinct), integer-seconds span.
      ev(s, dir).groupBy("user_id")
        .agg(min(col("ts")).as("first_seen"),
             max(col("ts")).as("last_seen"),
             countDistinct(date_trunc("DAY", col("ts"))).as("n_active_days"),
             count(lit(1)).as("n_events"))
        .withColumn("span_sec",
                    expr("(unix_micros(last_seen) - unix_micros(first_seen))" +
                         " DIV 1000000"))),
    "q157_forecast_revenue" -> ((s, dir) =>
      // TPC-H Q6 shape: pure scan-filter-aggregate — every predicate
      // pushed to parquet, ONE 1-row combine; the canonical pushdown demo.
      Tables.read(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
                col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
                col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
                col("l_quantity") < 24.0)
        .agg(sum(floor(col("l_extendedprice") * col("l_discount")
               * lit(1000000.0)).cast("long")).as("revenue_micro"),
             count(lit(1)).as("n_rows"))),
    "q158_promo_share" -> ((s, dir) =>
      // TPC-H Q14 shape: promo revenue share per month — part broadcast
      // onto the date-pruned fact, conditional sums, integer-ppm share.
      Tables.read(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
                col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1996-07-01 00:00:00")))
        .join(broadcast(Tables.read(s, dir, "part").select("p_partkey", "p_type")),
              col("l_partkey") === col("p_partkey"))
        .groupBy(date_trunc("MONTH", col("l_shipdate")).as("month"))
        .agg(sum(when(col("p_type").startsWith("PROMO"),
               floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
                 * lit(1000000.0)).cast("long")).otherwise(lit(0L)))
               .as("promo_micro"),
             sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
               * lit(1000000.0)).cast("long")).as("total_micro"))
        .withColumn("promo_ppm",
                    // DECIMAL(38,0) product: micro-revenue × 1e6 exceeds
                    // BIGINT at fact scale (same guard as remixRates).
                    expr("CAST(CAST(promo_micro AS DECIMAL(38,0)) * 1000000" +
                         " DIV total_micro AS BIGINT)"))),
    "q159_session_state_changes" -> ((s, dir) => {
      // X61 ∘ X20 ∘ SCD2: sessions overlap-joined to the user's dim-state
      // windows — a session spanning >1 version caught a state change
      // mid-session (the "user changed plan during visit" report). The
      // overlap join is the key equi-join + range filter; both inputs
      // already live on the user-key distribution.
      val sess = Sessionize.assign(ev(s, dir), "user_id", "ts")
        .groupBy(col("user_id"), col("_session"))
        .agg(min(col("ts")).as("s_from"),
             // [start, end] inclusive end -> half-open via +1us
             expr("timestamp_micros(unix_micros(max(ts)) + 1)").as("s_to"))
      val hist = Scd2.initialLoad(ev(s, dir), evTypeCfg)
        .select(col("user_id"), col("_valid_from").as("v_from"),
                col("_valid_to").as("v_to"))
      Intervals.overlapJoin(sess, hist, Seq("user_id"),
                            "s_from", "s_to", "v_from", "v_to")
        .groupBy("user_id", "_session")
        .agg(count(lit(1)).as("n_versions"))
        .filter(col("n_versions") > 1)
    }),
    "q160_interest_vectors" -> ((s, dir) => {
      // Per-user event-type share in ppm — the interest-vector primitive
      // behind per-user mixing/weighting; combine-enabled (user, type)
      // counts, user totals via a window over the dimension-sized rollup.
      import org.apache.spark.sql.expressions.Window
      ev(s, dir).groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"))
        .withColumn("user_total",
                    sum(col("n")).over(Window.partitionBy(col("user_id"))))
        .withColumn("share_ppm", expr("n * 1000000 DIV user_total"))
    }),
    "q161_unpivot_milestones" -> ((s, dir) =>
      // Unpivot (melt): the wide X124 milestone table back to long
      // (user, milestone, ts) rows via the native `stack` generator —
      // wide→long without N self-unions; NULL milestones drop (never hit).
      ev(s, dir).groupBy("user_id")
        .agg(min(when(col("event_type") === "signup", col("ts"))).as("signup"),
             min(when(col("event_type") === "purchase", col("ts"))).as("purchase"),
             min(when(col("event_type") === "error", col("ts"))).as("error"))
        .select(col("user_id"), expr(
          """stack(3, 'signup', signup, 'purchase', purchase,
            |         'error', error) AS (milestone, first_ts)""".stripMargin))
        .filter(col("first_ts").isNotNull)),
    "q162_user_mode" -> ((s, dir) => {
      // Per-group mode with a deterministic tiebreak (count desc, then
      // type asc): counts rollup + one row_number over the rollup — the
      // exact mode, not a sketch.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("n").desc, col("event_type"))
      ev(s, dir).groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"))
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select(col("user_id"), col("event_type").as("mode_type"), col("n"))
    }),
    "q163_novelty" -> ((s, dir) => {
      // Cumulative novelty curve: per event, how many DISTINCT types the
      // user has seen up to and including it — first-occurrence flags
      // (row_number over (user, type)) summed along the user timeline;
      // both windows share the user-key exchange.
      import org.apache.spark.sql.expressions.Window
      val wType = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val wTime = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev(s, dir)
        .withColumn("_first",
                    when(row_number().over(wType) === 1, 1L).otherwise(0L))
        .withColumn("n_types_seen", sum(col("_first")).over(wTime))
        .select("event_id", "user_id", "ts", "event_type", "n_types_seen")
    }),
    "q164_streaks" -> ((s, dir) =>
      // Longest consecutive-active-day streak per user: distinct active
      // days become unit intervals [day, day+1) and X104's islands
      // coalesce them — a streak IS an island, its length n_intervals.
      Intervals.islands(
        ev(s, dir)
          .select(col("user_id"), date_trunc("DAY", col("ts")).as("d"))
          .distinct()
          .withColumn("d_end", expr("d + INTERVAL 1 DAY")),
        Seq("user_id"), "d", "d_end")
        .groupBy("user_id")
        .agg(max(col("n_intervals")).as("longest_streak_days"),
             count(lit(1)).as("n_streaks"))),
    "q165_order_violations" -> ((s, dir) => {
      // Sequence sanity: purchases BEFORE the user's first signup — the
      // funnel-order data-quality check (nonzero here by construction of
      // the synthetic stream; the point is the exact count per user).
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
      ev(s, dir)
        .withColumn("_first_signup",
                    min(when(col("event_type") === "signup", col("ts"))).over(w))
        .filter(col("event_type") === "purchase" &&
                (col("_first_signup").isNull ||
                 col("ts") < col("_first_signup")))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_early_purchases"))
    }),
    "q166_label_centroids" -> ((s, dir) =>
      // Per-label centroid partials: (label, dim) integer micro sums + n —
      // mergeable (X97 algebra), the class-balance/centroid primitive;
      // posexplode → ONE combine-enabled aggregate on 64×labels keys.
      emb(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy("label", "dim")
        .agg(count(lit(1)).as("n"),
             sum(floor(col("v").cast("double") * lit(1000000.0)).cast("long"))
               .as("sum_micro"),
             min(floor(col("v").cast("double") * lit(1000000.0)).cast("long"))
               .as("min_micro"),
             max(floor(col("v").cast("double") * lit(1000000.0)).cast("long"))
               .as("max_micro"))),
    "q167_quality_rates" -> ((s, dir) =>
      // Per-source curation pass rates: the X10 quality gate rolled up to
      // (source, lang) ppm — the corpus-health dashboard row.
      TextAnalysis.qualityMetrics(docs(s, dir))
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
             sum(col("is_quality").cast("long")).as("n_quality"))
        .withColumn("quality_ppm", expr("n_quality * 1000000 DIV n_docs"))),
    "q168_grouping_sets" -> ((s, dir) => {
      // GROUPING SETS — the third grouping-generalization arm beside
      // rollup (q85) and cube (q102): per-source and per-lang marginals +
      // grand total in ONE Expand pass, no self-union.
      docs(s, dir).createOrReplaceTempView("docs_gs")
      s.sql("""
        SELECT source, lang, count(*) AS n_docs,
          CAST(sum(n_chars) AS BIGINT) AS chars_total,
          grouping_id() AS gid
        FROM docs_gs
        GROUP BY GROUPING SETS ((source), (lang), ())""")
    }),
    "q169_last_purchase_fill" -> ((s, dir) => {
      // Conditional last-non-null fill: every event annotated with the
      // user's most recent purchase value at that instant — the running
      // as-of lookup WITHIN one table (same window-fill idea as X38, no
      // second relation); one user-key exchange.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev(s, dir)
        .withColumn("last_purchase_micro",
          last(when(col("event_type") === "purchase",
                    floor(col("value") * lit(1000000.0)).cast("long")),
               ignoreNulls = true).over(w))
        .select("event_id", "user_id", "ts", "event_type",
                "last_purchase_micro")
    }),
    "q170_pareto_sources" -> ((s, dir) => {
      // Pareto/Lorenz curve over sources: rank by char mass desc, running
      // cumulative share in ppm — "the top k sources carry X% of the
      // corpus". Corpus work is ONE combine-enabled aggregate; the ordered
      // cumulative window runs over the source-sized rollup only.
      import org.apache.spark.sql.expressions.Window
      val wCum = Window.partitionBy(graft.functions.DimKey.one)
        .orderBy(col("mass").desc, col("source"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(graft.functions.DimKey.one)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      docs(s, dir).groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("mass"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(graft.functions.DimKey.one)
            .orderBy(col("mass").desc, col("source"))))
        .withColumn("cum_mass", sum(col("mass")).over(wCum))
        .withColumn("total_mass", sum(col("mass")).over(wAll))
        .withColumn("cum_share_ppm", expr("cum_mass * 1000000 DIV total_mass"))
        .select("rank", "source", "n_docs", "mass", "cum_share_ppm")
    }),
    "q171_nation_order_quantiles" -> ((s, dir) =>
      // Two-level composition: orders through broadcast customer+nation,
      // then exact per-nation order-value quantiles (X44 rank selection on
      // floor-micro longs).
      Profile.discreteQuantiles(
        Tables.read(s, dir, "orders")
          .join(broadcast(Tables.read(s, dir, "customer")
                  .select("c_custkey", "c_nationkey")),
                col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.read(s, dir, "nation")
                  .select("n_nationkey", "n_name")),
                col("c_nationkey") === col("n_nationkey"))
          .select(col("n_name"),
                  floor(col("o_totalprice") * lit(1000000.0)).cast("long")
                    .as("price_micro")),
        "n_name", "price_micro", Seq(25, 50, 75, 95))),
    "q172_date_dim" -> ((s, dir) =>
      // Calendar dimension generation: the warehouse date spine with typed
      // attributes, derived entirely from the generator — no source scan;
      // weekend via the integer-µs weekday (day 0 = Thursday ⇒ 2/3 are
      // Sat/Sun), engine-portable.
      s.range(1)
        .select(explode(sequence(
          lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
          lit(java.sql.Timestamp.valueOf("2024-03-31 00:00:00")),
          expr("interval 1 day"))).as("d"))
        .select(col("d"),
                year(col("d")).as("year"),
                month(col("d")).as("month"),
                dayofmonth(col("d")).as("day_of_month"),
                expr("(unix_micros(d) DIV 86400000000) % 7").as("weekday"),
                expr("((unix_micros(d) DIV 86400000000) % 7) IN (2, 3)")
                  .as("is_weekend"))),
    "q173_transition_dwell" -> ((s, dir) => {
      // Dwell time per transition pair: X70's (prev → next) edges weighted
      // by the X98 gap — integer micros, mean = sum div n; one user-key
      // exchange then a vocabulary²-sized aggregate.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      ev(s, dir)
        .withColumn("_prev_type", lag(col("event_type"), 1).over(w))
        .withColumn("_gap",
                    unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
        .filter(col("_prev_type").isNotNull)
        .groupBy(col("_prev_type").as("from_type"),
                 col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n"),
             sum(col("_gap")).as("sum_gap_micros"))
        .withColumn("avg_gap_micros", expr("sum_gap_micros DIV n"))
    }),
    "q174_stem_vocab" -> ((s, dir) => {
      // Rule-based suffix stemming (deterministic 3-rule strip — the
      // normalization op, not Porter): per-lang distinct-vocabulary
      // reduction. Pure CASE/substring arithmetic so any engine stems
      // identically; one explode + two distinct aggregates.
      val stem =
        """CASE
          |  WHEN length(tok) > 5 AND tok LIKE '%ing'
          |    THEN substring(tok, 1, length(tok) - 3)
          |  WHEN length(tok) > 4 AND tok LIKE '%ed'
          |    THEN substring(tok, 1, length(tok) - 2)
          |  WHEN length(tok) > 3 AND tok LIKE '%s' AND tok NOT LIKE '%ss'
          |    THEN substring(tok, 1, length(tok) - 1)
          |  ELSE tok END""".stripMargin
      docs(s, dir)
        .select(col("lang"),
                explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .withColumn("stem", expr(stem))
        .groupBy("lang")
        .agg(countDistinct(col("tok")).as("n_vocab"),
             countDistinct(col("stem")).as("n_stems"))
        .withColumn("reduction_ppm",
                    expr("(n_vocab - n_stems) * 1000000 DIV n_vocab"))
    }),
    "q175_kwic" -> ((s, dir) => {
      // Concordance (KWIC): every occurrence of a term with ±3 tokens of
      // context — posexplode positions + slice windows, shuffle-free per
      // row; the qualitative-review primitive behind every filter rule.
      val toks = TextAnalysis.tokens(col("text"))
      docs(s, dir)
        .select(col("doc_id"), toks.as("_t"))
        .select(col("doc_id"), col("_t"),
                posexplode(col("_t")).as(Seq("pos", "tok")))
        .filter(col("tok") === "merge")
        .select(col("doc_id"), col("pos"),
                array_join(slice(col("_t"), greatest(col("pos") - 2, lit(1)),
                                 least(col("pos") + 4, size(col("_t")))
                                   - greatest(col("pos") - 2, lit(1)) + 1),
                           " ").as("context"))
    }),
    "q176_junk_dim" -> ((s, dir) =>
      // Junk-dimension build: the distinct combinations of low-cardinality
      // attributes get a deterministic dense surrogate (rank over the
      // combo order) — the Kimball flag-table, one combine-enabled
      // distinct + a window over the tiny combo relation.
      ev(s, dir)
        .select(col("event_type"),
                expr("(unix_micros(ts) DIV 86400000000) % 7").as("weekday"))
        .distinct()
        .withColumn("junk_key",
                    // the combo relation is |types|x7 rows — single-partition
                    // by declaration (DimKey), not by accidental empty spec
                    row_number().over(
                      org.apache.spark.sql.expressions.Window
                        .partitionBy(graft.functions.DimKey.one)
                        .orderBy(col("event_type"), col("weekday"))))),
    "q177_lang_margin" -> ((s, dir) => {
      // Language-ID confidence margin: winner vs runner-up stopword votes
      // per doc ((votes desc, lang asc) struct sort — deterministic even
      // on vote ties); low margin = route to the expensive classifier.
      val langs = TextAnalysis.Stopwords.keys.toSeq
      val votes = array(langs.map(l =>
        struct(TextAnalysis.stopwordHits(col("text"), l).as("v"),
               lit(l).as("lang"))): _*)
      docs(s, dir)
        .withColumn("_sorted", reverse(array_sort(votes)))
        .select(col("doc_id"),
                col("_sorted")(0).getField("lang").as("top_lang"),
                col("_sorted")(0).getField("v").cast("long").as("top_votes"),
                (col("_sorted")(0).getField("v") -
                 col("_sorted")(1).getField("v")).cast("long").as("margin"))
    }),
    "q178_length_bands" -> ((s, dir) =>
      // Corpus length-band mix: short/medium/long by token count with doc
      // and token mass shares — the context-length planning rollup.
      docs(s, dir)
        .withColumn("_nt", TextAnalysis.tokenCount(col("text")).cast("long"))
        .withColumn("band", when(col("_nt") < 50, "short")
          .when(col("_nt") < 200, "medium").otherwise("long"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_docs"), sum(col("_nt")).as("n_tokens"))),
    "q179_vocab_drift" -> ((s, dir) => {
      // Distribution drift between corpus halves: total-variation distance
      // over token shares in integer ppm (Σ|share_a − share_b|, shares as
      // tf·10^6 div total — identical truncation on both engines, so the
      // drift number is exact, unlike KL/JS which need logs). The
      // train-vs-incoming-data monitoring primitive; vocab-sized join.
      val toks = docs(s, dir)
        .select((col("doc_id") % 2 === 0).as("half"),
                explode(TextAnalysis.tokens(col("text"))).as("tok"))
      val counts = toks.groupBy("half", "tok").agg(count(lit(1)).as("tf"))
      val a = counts.filter(col("half")).select(col("tok"), col("tf").as("tf_a"))
      val b = counts.filter(!col("half")).select(col("tok"), col("tf").as("tf_b"))
      val joined = a.join(b, Seq("tok"), "full_outer")
        .withColumn("tf_a", coalesce(col("tf_a"), lit(0L)))
        .withColumn("tf_b", coalesce(col("tf_b"), lit(0L)))
      joined
        .agg(sum(col("tf_a")).as("tot_a"), sum(col("tf_b")).as("tot_b"),
             count(lit(1)).as("n_vocab"))
        .join(joined)
        .withColumn("sa", expr("tf_a * 1000000 DIV tot_a"))
        .withColumn("sb", expr("tf_b * 1000000 DIV tot_b"))
        .groupBy("n_vocab")
        .agg(sum(abs(col("sa") - col("sb"))).as("tv_ppm_x2"))
    }),
    "q180_sla_conversion" -> ((s, dir) => {
      // SLA-bounded funnel edge: signups whose first purchase lands within
      // 24 h — q60's order constraint plus a time bound; whole-partition
      // mins + one 1-row aggregate.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
      val staged = ev(s, dir)
        .withColumn("_s", min(when(col("event_type") === "signup", col("ts"))).over(w))
        .withColumn("_p", min(when(col("event_type") === "purchase" &&
                                   col("ts") >= col("_s"), col("ts"))).over(w))
      staged.groupBy("user_id")
        .agg(max(col("_s")).as("_s"), max(col("_p")).as("_p"))
        .filter(col("_s").isNotNull)
        .agg(count(lit(1)).as("n_signup_users"),
             sum(when(col("_p").isNotNull, 1L).otherwise(0L)).as("n_converted"),
             sum(when(col("_p").isNotNull &&
                      unix_micros(col("_p")) - unix_micros(col("_s"))
                        <= 86400000000L, 1L).otherwise(0L))
               .as("n_within_24h"))
    }),
    "q181_gini" -> ((s, dir) =>
      // Gini concentration per event type over value mass: the rank-sum
      // formula G = (2·Σ(i·xᵢ) − (n+1)·Σx) / (n·Σx) with EXACT integer
      // numerator/denominator (tie order cannot change Σi·xᵢ across equal
      // values) and a DECIMAL(38,0)-guarded ppm ratio. The inequality
      // companion of the X152 Pareto curve. Ranks i come from
      // Profile.cellRank, so no per-event-type whole-group sort exists.
      Profile.cellRank(
          ev(s, dir)
            .select(col("event_type"), col("event_id"),
                    floor(col("value") * lit(1000000.0)).cast("long").as("vm")),
          Seq("event_type"), "vm", Seq("event_id"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
             sum(col("vm")).as("sum_x"),
             sum(col("_rank") * col("vm")).as("sum_ix"))
        .withColumn("gini_ppm", expr(
          """CAST((2 * CAST(sum_ix AS DECIMAL(38,0))
            |       - (n + 1) * CAST(sum_x AS DECIMAL(38,0))) * 1000000
            |      DIV (CAST(n AS DECIMAL(38,0)) * sum_x) AS BIGINT)"""
            .stripMargin))),
    "q182_cosine_hist" -> ((s, dir) =>
      // Embedding-space geometry: fixed-width histogram of pairwise
      // cosines over a query slice — the collapse/anisotropy tripwire
      // (healthy spaces spread; mode-collapsed ones pile near 1.0).
      // IEEE-exact bin function on the X5 sequential-fold cosine.
      Profile.histogram(
        Dedup.embeddingNearDupPairs(
          emb(s, dir).filter(col("vec_id") < 64), "vec_id", "embedding",
          tau = -1.0),
        "cosine", lo = -1.0, hi = 1.0, nbins = 40)),
    "q183_trailing_mode" -> ((s, dir) => {
      // Sliding mode: each day's dominant event type over the trailing 7
      // days — per-(type, day) rollup, RANGE-framed trailing sums over day
      // indices, then a deterministic argmax; every window runs over the
      // dimension-sized rollup.
      import org.apache.spark.sql.expressions.Window
      val wTrail = Window.partitionBy(col("event_type"))
        .orderBy(col("day_idx")).rangeBetween(-6, 0)
      val wPick = Window.partitionBy(col("day_idx"))
        .orderBy(col("n_7d").desc, col("event_type"))
      ev(s, dir)
        .groupBy(expr("unix_micros(ts) DIV 86400000000").as("day_idx"),
                 col("event_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("n_7d", sum(col("n")).over(wTrail))
        .withColumn("_rk", row_number().over(wPick))
        .filter(col("_rk") === 1)
        .select(col("day_idx"), col("event_type").as("mode_type"), col("n_7d"))
    }),
    "q184_user_bitmaps" -> ((s, dir) =>
      // Bitmap aggregate: per (type, day) presence bitmap of user buckets
      // (bit_or of 1<<(uid%60); bit 63 avoided — DuckDB checks the shift) + its popcount — the roaring-bitmap
      // primitive in one combine-enabled pass; masks AND/OR-compose
      // downstream without re-touching events.
      ev(s, dir)
        .groupBy(col("event_type"),
                 expr("unix_micros(ts) DIV 86400000000").as("day_idx"))
        .agg(bit_or(expr("CAST(shiftleft(CAST(1 AS BIGINT), " +
                         "CAST(user_id % 60 AS INT)) AS BIGINT)"))
               .as("bucket_mask"))
        .withColumn("n_buckets", expr("bit_count(bucket_mask)"))),
    "q185_fanout_hist" -> ((s, dir) =>
      // Join-fanout profile: distribution of lineitems-per-order — what
      // you read before sizing the l⋈o shuffle; two combine-enabled
      // aggregates (order-sized, then fanout-sized).
      Tables.read(s, dir, "lineitem")
        .groupBy("l_orderkey").agg(count(lit(1)).as("fanout"))
        .groupBy("fanout").agg(count(lit(1)).as("n_orders"))),
    "q186_rapid_repeats" -> ((s, dir) => {
      // Rapid-repeat detection: same user, same type, within 6 h of the
      // previous same-type event — the retry/compulsive-repeat tripwire
      // (threshold sits at ~p1 of this stream's same-type gaps);
      // per-(user, type) lag on the standard timeline exchange.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      ev(s, dir)
        .withColumn("_gap",
                    unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
        .filter(col("_gap").isNotNull && col("_gap") <= 21600000000L)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rapid_repeats"),
             min(col("_gap")).as("min_gap_micros"))
    }),
    "q187_growth_curve" -> ((s, dir) => {
      // User growth curve: new users per day (first-seen rollup) +
      // cumulative total — windows only over the day-sized rollup.
      import org.apache.spark.sql.expressions.Window
      val wCum = Window.partitionBy(graft.functions.DimKey.one).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev(s, dir)
        .groupBy("user_id").agg(min(col("ts")).as("_first"))
        .groupBy(date_trunc("DAY", col("_first")).as("day"))
        .agg(count(lit(1)).as("n_new_users"))
        .withColumn("cum_users", sum(col("n_new_users")).over(wCum))
    }),
    "q188_resurrections" -> ((s, dir) => {
      // Resurrection rollup from the soft-delete SCD2 history: I-versions
      // whose predecessor was a D (the key came back), counted per day —
      // churn-winback reporting straight off the dimension history.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("_valid_from"))
      Scd2.initialLoad(evDeletes(s, dir),
                       evCfg.copy(deletedAtCol = Some("deleted_at")))
        .withColumn("_prev_ct", lag(col("_change_type"), 1).over(w))
        .filter(col("_prev_ct") === "D" && col("_change_type") === "I")
        .groupBy(date_trunc("DAY", col("_valid_from")).as("day"))
        .agg(count(lit(1)).as("n_resurrections"))
    }),
    "q189_stale_current" -> ((s, dir) =>
      // Staleness audit over the dimension: current alive rows whose last
      // change predates the as-of by >1 day, per type — the "is anything
      // still updating this entity" report; pure filter + rollup on the
      // current slice (partition-prunable at scale).
      Scd2.initialLoad(ev(s, dir), evCfg)
        .filter(col("_is_current") && col("_change_type") =!= "D")
        .withColumn("age_sec", expr(
          "(unix_micros(TIMESTAMP '2024-01-31 00:00:00') - unix_micros(ts))" +
          " DIV 1000000"))
        .filter(col("age_sec") > 86400L)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_stale"),
             max(col("age_sec")).as("max_age_sec"))),
    "q190_lsh_precision" -> ((s, dir) =>
      // Banding-efficiency report: LSH candidate pairs vs exact-verified
      // pairs — precision_ppm is the knob-tuning number for (bands, rows)
      // (recall's counterpart to X109). ONE signature pipeline pass: both
      // counts aggregate off the shared candidates-with-overlap relation
      // (tokens→shingles→signatures are NOT recomputed per count).
      Dedup.minhashLshBandingStats(docs(s, dir), "doc_id", "text", n = 3,
                                   bands = 4, rows = 3,
                                   tauNum = 1, tauDen = 2)),
    "q191_split_leakage" -> ((s, dir) => {
      // Split hygiene: near-dup pairs that CROSS the train/val/test
      // boundary — X3 pairs joined to the X31 deterministic split; any row
      // here is eval contamination the random split let through (the
      // reason dedup must run BEFORE splitting).
      val splits = Sampling.split(docs(s, dir), "doc_id",
          Seq("train" -> 900, "val" -> 50, "test" -> 50))
        .select(col("doc_id"), col("split"))
      Dedup.minhashLshPairs(docs(s, dir), "doc_id", "text", n = 3,
                            bands = 4, rows = 3, tauNum = 1, tauDen = 2)
        .join(splits.select(col("doc_id").as("doc_a"),
                            col("split").as("split_a")), "doc_a")
        .join(splits.select(col("doc_id").as("doc_b"),
                            col("split").as("split_b")), "doc_b")
        .filter(col("split_a") =!= col("split_b"))
        .groupBy("split_a", "split_b")
        .agg(count(lit(1)).as("n_leaked_pairs"))
    }),
    "q192_top1pct_share" -> ((s, dir) =>
      // Revenue concentration: share of order value carried by the top 1%
      // of orders — the "whales" number next to X163's Gini. Exact k-th-
      // largest selection via Profile.topFractionShare's two-phase micro-
      // cell histogram: no global sort or single-partition rank anywhere
      // (the previous row_number-over-everything form serialized the whole
      // fact table through one task at scale).
      Profile.topFractionShare(
          Tables.read(s, dir, "orders")
            .select(floor(col("o_totalprice") * lit(1000000.0)).cast("long")
                      .as("vm")),
          "vm", 1, 100)
        .select(col("n_rows").as("n_orders"), col("total").as("total_micro"),
                col("n_top"), col("top_sum").as("top_micro"),
                col("share_ppm"))),
    "q193_jaccard_hist" -> ((s, dir) =>
      // Verified near-dup similarity profile: 5%-bucketed Jaccard ppm of
      // the X3 pairs — with X172's precision this characterizes the whole
      // banding config (where above τ the mass sits).
      Dedup.minhashLshPairs(docs(s, dir), "doc_id", "text", n = 3,
                            bands = 4, rows = 3, tauNum = 1, tauDen = 2)
        .withColumn("jaccard_pct_bucket",
                    expr("(overlap * 100 DIV union_size) DIV 5 * 5"))
        .groupBy("jaccard_pct_bucket")
        .agg(count(lit(1)).as("n_pairs"))),
    "q194_bucket_purity" -> ((s, dir) =>
      // Sign-LSH bucket label purity: per bucket, occupancy + majority
      // label share — the index-quality diagnostic (pure buckets = the
      // hash respects class geometry); two dimension-sized aggregates over
      // the native X16 bucket expression.
      emb(s, dir)
        .select(Similarity.lshBucket(col("embedding"), 8).as("bucket"),
                col("label"))
        .groupBy("bucket", "label").agg(count(lit(1)).as("n"))
        .groupBy("bucket")
        .agg(sum(col("n")).as("n_vecs"),
             max(col("n")).as("n_majority"))
        .withColumn("purity_ppm", expr("n_majority * 1000000 DIV n_vecs"))),
    "q195_current_view" -> ((s, dir) =>
      // The type-1 "current view" every downstream consumer reads off the
      // type-2 history: alive current rows, audit columns dropped — a pure
      // filter+projection (partition/file-prunable on _is_current at
      // scale), the contract between the dimension and its users.
      Scd2.initialLoad(evDeletes(s, dir),
                       evCfg.copy(deletedAtCol = Some("deleted_at")))
        .filter(col("_is_current") && col("_change_type") =!= "D")
        .select("user_id", "event_type", "value", "ts")),
    "q196_history_churn" -> ((s, dir) =>
      // History churn: versions created per day by change type — the
      // merge-volume planning report (how fast is the dimension growing,
      // and is it growth or churn); one rollup over the history.
      Scd2.initialLoad(evDeletes(s, dir),
                       evCfg.copy(deletedAtCol = Some("deleted_at")))
        .groupBy(date_trunc("DAY", col("_valid_from")).as("day"),
                 col("_change_type"))
        .agg(count(lit(1)).as("n_versions"),
             countDistinct(col("user_id")).as("n_keys"))),
    "q197_contract" -> ((s, dir) => {
      // Enforced output contract (dbt `contract: enforced`,
      // schema.yml:159-192): the declared (name, type, nullability) set is
      // asserted against the final relation on EVERY maintenance run —
      // initial load AND incremental merge — while the temp delta batch is
      // exempt (create_temp_table_as.sql:1-5). Both engine runs below throw
      // on breach, so green rows prove enforcement passed on both paths;
      // the emitted report re-checks each declared column off the engine's
      // computed snapshot schema. Schema-only — free at any scale.
      import org.apache.spark.sql.types._
      val contract = StructType(Seq(
        StructField("event_id", LongType),
        StructField("ts", TimestampType),
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType),
        StructField("props", StringType),
        StructField("_is_current", BooleanType, nullable = false),
        StructField("_valid_from", TimestampType),
        StructField("_valid_to", TimestampType),
        StructField("_change_type", StringType, nullable = false)))
      val all = ev(s, dir)
      val target = java.nio.file.Files
        .createTempDirectory("q197_scd2_contract").toString + "/dim"
      ScdEngine.run(s, all.filter(col("event_id") % 2 === 0), target, evCfg,
                    contract = Some(contract))
      ScdEngine.run(s, all.filter(col("event_id") % 2 === 1), target, evCfg,
                    contract = Some(contract))
      Contracts.report(s, Scd2.initialLoad(all, evCfg).schema, contract)
    }),
    "q198_stream_rollup" -> ((s, dir) => {
      // Streaming incremental-rollup sink, driver-checked end-to-end: three
      // micro-batches (event_id thirds) through RollupStream.incrementalSink
      // (foreachBatch -> mergeable-partials merge into a VersionedTable
      // store) must equal the one-shot batch rollup over the same rows —
      // the merge-algebra guarantee, re-derived independently by the DuckDB
      // oracle. MemoryStream is driver-fed BY DESIGN (it is the harness
      // source; production reads Kafka/files and never collects), and the
      // feed is bounded to the user_id%5 slice so driver volume stays
      // trivial at any SF.
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val rows = ev(s, dir).filter(col("user_id") % 5 === 0)
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
        .as[(Long, java.sql.Timestamp, String, Double)].collect().toSeq
      val base = java.nio.file.Files.createTempDirectory("q198_stream").toString
      val source = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp, String, Double)]
      withStreamShuffle(s) {
      val q = graft.streaming.RollupStream.incrementalSink(
          source.toDF().toDF("event_id", "ts", "event_type", "value"),
          s"$base/store",
          keys = Seq("event_type", "day"),
          keyExprs = _.withColumn("day", date_trunc("DAY", col("ts"))),
          valueMicro = floor(col("value") * lit(1000000.0)).cast("long"),
          checkpoint = s"$base/ckpt")
        try (0 until 3).foreach { i =>
          source.addData(rows.filter(_._1 % 3 == i): _*)
          q.processAllAvailable()
        } finally q.stop()
      }
      VersionedTable.read(s, s"$base/store")
        .select("event_type", "day", "n_rows", "value_micro",
                "min_micro", "max_micro")
    }),
    "q199_stream_cdc_replay" -> ((s, dir) => {
      // Streaming SCD2-with-CDC sink, driver-checked end-to-end: three
      // micro-batches (event_id thirds — batch 2 interleaves out-of-order
      // with merged history) through CdcStream.scdCdcSink, then the emitted
      // changelog is REPLAYED from an empty base via Scd2.applyDelta. The
      // replayed snapshot must equal the engine's three-merge result, which
      // the oracle re-derives as three-phase SQL — one green row proves the
      // sink, the changelog's sufficiency, and replay in a single query.
      // (MemoryStream driver feed: harness source, bounded to user_id%5.)
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val rows = ev(s, dir).filter(col("user_id") % 5 === 0)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
                col("value"), col("props"))
        .as[(Long, java.sql.Timestamp, Long, String, Double, String)]
        .collect().toSeq
      val base = java.nio.file.Files.createTempDirectory("q199_cdc").toString
      val source = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
      withStreamShuffle(s) {
      val q = graft.streaming.CdcStream.scdCdcSink(
          source.toDF().toDF("event_id", "ts", "user_id", "event_type",
                             "value", "props"),
          s"$base/dim", s"$base/cdc", evCfg,
          checkpointLocation = s"$base/ckpt").start()
        try (0 until 3).foreach { i =>
          source.addData(rows.filter(_._1 % 3 == i): _*)
          q.processAllAvailable()
        } finally q.stop()
      }
      val target = s.read.parquet(s"$base/dim")
      val log = s.read.parquet(s"$base/cdc")
      (0L until 3L).foldLeft(target.limit(0))((snap, i) =>
        Scd2.applyDelta(snap, log.filter(col("_batch_id") === i), evCfg))
    }),
    "q200_join_preflight" -> ((s, dir) => {
      // Join cardinality pre-flight (X183): the exact output size and skew
      // profile of events >< orders on user_id = o_custkey, computed from
      // per-key counts BEFORE any fact-sized shuffle — two combine-enabled
      // aggregates plus a key-sized join decide broadcast/salt/abort for
      // the real join. Top-10 keys by contribution, exact ppm shares.
      JoinPlanner.preflight(
        ev(s, dir).select(col("user_id")),
        Tables.spread(s, Tables.read(s, dir, "orders"))
          .select(col("o_custkey").as("user_id")),
        "user_id", "user_id", topK = 10)
    }),
    "q201_group_trend" -> ((s, dir) => {
      // Per-type activity trend (X184): daily event counts regressed on the
      // day index — closed-form OLS from six integer sufficient statistics,
      // one combine-enabled exchange, no sort, no driver collection. The
      // doubles are derived from exact integer sums, so slope/intercept/R²
      // are bit-reproducible across engines and partitionings.
      val daily = ev(s, dir)
        .groupBy(col("event_type"),
                 datediff(date_trunc("DAY", col("ts")),
                          lit("2020-01-01").cast("date")).as("x"))
        .agg(count(lit(1)).as("y"))
      Trend.fit(daily, Seq("event_type"), col("x"), col("y"))
        .orderBy("event_type")
    }),
    "q202_compaction_plan" -> ((s, dir) => {
      // Small-file compaction plan (X185): the (event_type, day) parquet
      // fragments a per-batch streaming sink would leave behind, packed
      // into ~64 KiB rewrite bins by one cumulative-sum window over the
      // METADATA inventory — never the data. Oversized files isolate into
      // their own bins (no wasted rewrite IO).
      val inv = ev(s, dir)
        .groupBy(col("event_type").as("part"),
                 date_trunc("DAY", col("ts")).as("file"))
        .agg((sum(length(col("props"))) +
                count(lit(1)) * lit(16L)).as("bytes"))
      Compaction.plan(inv, "part", "file", "bytes", "file",
                      targetBytes = 65536L)
    }),
    "q203_bpe_pairs" -> ((s, dir) =>
      // BPE vocabulary induction, round 1 (X186): adjacent character-pair
      // frequencies weighted by word frequency — the merge statistic of a
      // byte-pair tokenizer trainer. Text collapses to the vocabulary-sized
      // word-count table FIRST; pair explosion runs over words, not
      // documents, so the pass is bounded by Heaps'-law vocabulary growth.
      TextAnalysis.bpePairCounts(docs(s, dir), "text", topK = 30)),
    "q204_skipping_report" -> ((s, dir) => {
      // Data-skipping effectiveness (X187): per-cell min/max stats decide
      // how many files a range predicate scans under two candidate layouts
      // — single-column sort vs Z-order. The Z layout bounds BOTH key
      // dimensions per cell, so each band predicate prunes most cells; the
      // linear layout aces its own column and scans everything for the
      // other. Pure integer metadata math — the measurement that justifies
      // (or rejects) a 100 TB re-layout before paying for the write.
      val l = Tables.spread(s, Tables.read(s, dir, "lineitem"))
        .withColumn("zx", expr("CAST(l_orderkey % 1024 AS BIGINT)"))
        .withColumn("zy", expr("CAST(l_partkey % 1024 AS BIGINT)"))
      Layout.skippingReport(
        l,
        layouts = Seq(
          "zorder_xy" -> shiftright(Layout.zValue("zx", "zy", 10), 14),
          "linear_x" -> shiftright(col("zx"), 4)),
        predicates = Seq(
          ("x_band", "zx", 128L, 255L),
          ("y_band", "zy", 128L, 255L)))
    }),
    "q205_ivm_join" -> ((s, dir) => {
      // Incremental join-view maintenance (X188): orders and lineitem each
      // arrive in three uncorrelated delta batches; the materialized inner
      // join advances per refresh as ΔA><B ∪ A><ΔB ∪ ΔA><ΔB — every term
      // probes a full side with a batch-sized build, the full join is never
      // recomputed. The final maintained state must equal the flat join,
      // which the oracle runs directly; rolled up to priority × returnflag.
      val o = Tables.spread(s, Tables.read(s, dir, "orders"))
      val l = Tables.spread(s, Tables.read(s, dir, "lineitem"))
        .withColumnRenamed("l_orderkey", "o_orderkey")
      val batches = (0 to 2).map(i =>
        (o.filter(col("o_orderkey") % 3 === i),
         l.filter(col("l_linenumber") % 3 === i)))
      Ivm.maintain(batches, Seq("o_orderkey"))
        .groupBy(col("o_orderpriority"), col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
             sum(floor(col("l_quantity") * 100).cast("long")).as("qty_centi"))
    }),
    "q206_stream_dedup" -> ((s, dir) => {
      // Streaming exact-dedup sink, driver-checked end-to-end (X189): three
      // micro-batches (doc_id thirds) through DedupStream.distinctDocs
      // (flatMapGroupsWithState keyed by fingerprint); the emitted
      // first-arrival set must equal the batch rule "min doc_id within the
      // earliest batch containing the fingerprint", which the oracle
      // re-derives as one window. (MemoryStream driver feed: harness
      // source, bounded to the doc_id%5 slice like q198/q199.)
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val rows = docs(s, dir).filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)].collect().toSeq
      val source = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val tbl = "q206_dedup_" + java.util.UUID.randomUUID.toString.replace("-", "")
      withStreamShuffle(s) {
      val q = graft.streaming.DedupStream
          .distinctDocs(source.toDF().toDF("doc_id", "text"))
          .writeStream.format("memory").queryName(tbl)
          .outputMode("append").start()
        try (0 until 3).foreach { i =>
          source.addData(rows.filter(_._1 % 3 == i): _*)
          q.processAllAvailable()
        } finally q.stop()
      }
      s.table(tbl).select("doc_id", "fingerprint")
    }),
    "q207_history_twa" -> ((s, dir) => {
      // Duration-weighted history analytics (X190): per-key time-weighted
      // average of `value` across SCD2 validity intervals — weighted by how
      // long each version HELD, not how often the key churned. Integer
      // second-weights and an exact integer weighted sum (milli-scaled), so
      // the aggregate is partitioning-independent; the open current version
      // weighs up to the batch high-water mark, broadcast as one row.
      val src = ev(s, dir)
      val hist = Scd2.initialLoad(src, evCfg)
      val horizon = src.agg(max(col("ts")).as("_horizon"))
      Scd2.durationWeighted(hist, evCfg, floor(col("value") * 1000), horizon)
    }),
    "q208_cms_heavy" -> ((s, dir) =>
      // Count-min-sketch heavy hitters (X191): the frequency-sketch member
      // of the approximate tier. Exact top-20 keys are the ground truth the
      // oracle recomputes; each row's verdict asserts the CMS estimate
      // respects both bounds (never under the true count, over by at most
      // 4N/width) — the error contract made driver-visible, like q96-q98.
      Sketches.heavyHitters(ev(s, dir), "user_id", topK = 20)),
    "q209_exclusive_fault" -> ((s, dir) => {
      // Exclusive-responsibility audit (X192, the TPC-H Q21 shape): returned
      // lines whose supplier was the ONLY one to return anything on a
      // multi-supplier order. The textbook formulation is EXISTS + NOT
      // EXISTS (two more shuffle joins of the fact against itself — the
      // oracle runs exactly that); here both correlated conditions collapse
      // into window aggregates over ONE l_orderkey exchange: suppliers-per-
      // order set size and total-vs-mine return counts.
      import org.apache.spark.sql.expressions.Window
      val l = Tables.spread(s, Tables.read(s, dir, "lineitem"))
      val wO = Window.partitionBy("l_orderkey")
      val wOS = Window.partitionBy("l_orderkey", "l_suppkey")
      l.withColumn("_r", when(col("l_returnflag") === "R", 1L).otherwise(0L))
        .withColumn("_n_supp", size(collect_set(col("l_suppkey")).over(wO)))
        .withColumn("_r_total", sum(col("_r")).over(wO))
        .withColumn("_r_mine", sum(col("_r")).over(wOS))
        .filter(col("_r") === 1L && col("_n_supp") > 1 &&
                  col("_r_total") === col("_r_mine"))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("l_suppkey").asc)
        .limit(20)
    }),
    "q210_bpe_apply" -> ((s, dir) =>
      // BPE tokenizer application (X193): fold the trained merge table over
      // the corpus as a fixed chain of engine-exact string replaces (greedy
      // single-pass per merge, rank order — earlier merges build the
      // symbols later merges reference) and report the compression the
      // vocabulary buys per language. Pure per-row projection until the
      // final rollup: the production tokenize-100-TB shape.
      TextAnalysis.bpeCompressionStats(docs(s, dir), "text", "lang", BpeMerges)),
    "q211_profile_drift" -> ((s, dir) => {
      // Column-statistics drift (X194): first half-month vs second
      // half-month of the event stream — null-rate ppm movement, distinct
      // cardinality, range-endpoint shifts per column. Two profile passes
      // (columnar scans, no fact-sized shuffle) joined on the column name:
      // the data-observability gate that catches an upstream change before
      // it poisons a training run.
      val e = ev(s, dir)
      val cut = to_timestamp(lit("2024-01-16"))
      Profile.drift(e.filter(col("ts") < cut), e.filter(col("ts") >= cut),
                    Seq("event_type", "value", "props", "user_id"))
    }),
    "q212_retract_rollup" -> ((s, dir) => {
      // Retraction-capable incremental rollup (X195): three CDC batches
      // (inserts + later deletes of earlier rows) folded through signed
      // count/sum partials; keys whose live count hits zero leave the
      // store. The oracle recomputes the survivors flat — the maintained
      // store must match without ever rescanning history. min/max are
      // deliberately absent: they are not retraction-mergeable (the
      // operator's scaladoc is the design note).
      val e = ev(s, dir).select(
        col("event_id"), col("user_id"), col("event_type"),
        date_trunc("DAY", col("ts")).as("day"),
        floor(col("value") * lit(1000000.0)).cast("long").as("vm"))
      def ins(i: Int) =
        e.filter(col("event_id") % 3 === i).withColumn("_op", lit("I"))
      val del1 = e.filter(col("event_id") % 3 === 0 && col("user_id") % 5 === 0)
        .withColumn("_op", lit("D"))
      val del2 = e.filter(col("event_id") % 3 === 1 && col("user_id") % 7 === 0)
        .withColumn("_op", lit("D"))
      val keys = Seq("event_type", "day")
      val batches = Seq(ins(0), ins(1).unionByName(del1),
                        ins(2).unionByName(del2))
      batches.tail.foldLeft(
        IncrementalAgg.retractRollup(batches.head, keys, col("vm"), "_op"))(
        (store, b) => IncrementalAgg.retractMerge(
          store, IncrementalAgg.retractRollup(b, keys, col("vm"), "_op"), keys))
    }),
    "q213_star_cost" -> ((s, dir) =>
      // Join-order pre-flight for the customer star (X196): exact
      // intermediate cardinality for each first-pair choice, from three
      // key-count tables — the CBO estimate made exact. orders*customer
      // first is the provably cheapest prefix; events*orders explodes.
      JoinPlanner.starJoinOrders(Seq(
        ("events", ev(s, dir).select(col("user_id")), "user_id"),
        ("orders", Tables.spread(s, Tables.read(s, dir, "orders"))
           .select(col("o_custkey")), "o_custkey"),
        ("customer", Tables.read(s, dir, "customer")
           .select(col("c_custkey")), "c_custkey")))),
    "q214_mrl_recall" -> ((s, dir) => {
      // Embedding-truncation quality (X197, the matryoshka-representation
      // shape): recall@10 of brute-force search over the FIRST 16 of 64
      // dims vs the full-dimension ground truth — the measurement that
      // decides whether a 4x cheaper index (memory AND dot-product cost)
      // is acceptable. Both sides deterministic, so recall is an oracle
      // number; same semi-join ppm tail as q127.
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 32)
      val et = e.withColumn("embedding", slice(col("embedding"), 1, 16))
      val qt = q.withColumn("embedding", slice(col("embedding"), 1, 16))
      val exact = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", k = 10)
        .select("query_id", "neighbor_id")
      val trunc = Similarity.bruteForceTopK(qt, et, "vec_id", "embedding", k = 10)
        .select("query_id", "neighbor_id")
      val hits = exact.join(trunc, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
      exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("query_id"), "left")
        .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
        .withColumn("recall_ppm", expr("n_hits * 1000000 DIV n_exact"))
    }),
    "q215_timeline_align" -> ((s, dir) => {
      // Temporal timeline alignment (X198): two SCD2 histories of the same
      // key space (event_type changes vs props changes) stitched into the
      // piecewise segments where one version of EACH holds — interval
      // intersection per key, one equi-join exchange, |A|+|B|-1 segments
      // per key max. The result is itself a valid SCD2 timeline whose
      // change points are the union of both inputs'.
      val src = ev(s, dir)
      val dimA = Scd2.initialLoad(src, evTypeCfg)
      val dimB = Scd2.initialLoad(src, evCfg.copy(changeInclude = Some(Seq("props"))))
      Scd2Join.alignTimelines(dimA, dimB, evCfg,
                              aPayload = Seq("event_type"),
                              bPayload = Seq("props"))
    }),
    "q216_quarantine" -> ((s, dir) =>
      // Dead-letter quarantine routing (X199): every ingest row tagged with
      // ALL the row-level rules it violates (nothing silently dropped, a
      // multi-violation row counts once per rule), plus the `_clean`
      // pass-through count — one codegen'd projection + one combine-enabled
      // rollup, a free rider on the ingest scan at 100 TB.
      Expectations.quarantineSummary(ev(s, dir), Seq(
        ("value_le_500", col("value") <= 500.0),
        ("not_error", col("event_type") =!= "error"),
        ("user_id_bounds", col("user_id") < 140)))),
    "q217_stream_join" -> ((s, dir) => {
      // Stream-stream event-time join, driver-checked end-to-end (X200):
      // view and click streams arrive in three interleaved micro-batches
      // each; JoinStream.clickThrough (watermarked state-store join with
      // the in-window time bound that lets state expire) must emit exactly
      // the batch join's matched pairs. The watermark delay is set past the
      // feed's 30-day span so the harness evicts nothing — replay equals
      // the flat join the oracle runs; production uses a tight delay and
      // pays only bounded state. (MemoryStream driver feed bounded to the
      // user_id%7 slice.)
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      def side(t: String) = ev(s, dir)
        .filter(col("user_id") % 7 === 0 && col("event_type") === t)
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
        windowSec = 3600, watermarkDelay = "40 days")
      val tbl = "q217_join_" + java.util.UUID.randomUUID.toString.replace("-", "")
      withStreamShuffle(s) {
        val q = joined.writeStream.format("memory").queryName(tbl)
          .outputMode("append").start()
        try (0 until 3).foreach { i =>
          srcI.addData(imps.filter(_._1 % 3 == i): _*)
          srcC.addData(clks.filter(_._1 % 3 == i): _*)
          q.processAllAvailable()
        } finally q.stop()
      }
      s.table(tbl)
        .select("user_id", "imp_id", "imp_ts", "click_id", "click_ts")
    }),
    "q218_decayed_score" -> ((s, dir) =>
      // Recency-decayed engagement (X201): integer-exact exponential decay
      // (value >> floor(age/halflife), halflife 7 days) summed per user —
      // no float exp, partial sums order-independent, every engine agrees
      // to the last bit. One combine-enabled exchange + a broadcast
      // single-row horizon.
      Rolling.decayedScore(
        ev(s, dir), Seq("user_id"), "ts",
        floor(col("value") * lit(1000000.0)),
        ev(s, dir).agg(max(col("ts")).as("_horizon")),
        halflifeSec = 604800L)),
    "q219_linear_fill" -> ((s, dir) => {
      // Linear gap interpolation (X202): each user's daily purchase series
      // densified over its own [first, last] day span, interior gaps filled
      // as prev + (next-prev)*(elapsed fraction) — the training-curve /
      // metric-series repair every dashboard needs, as one key exchange +
      // two framed ignore-nulls window passes over the day-spine (spine
      // rows ≈ keys x span days, never fact-sized).
      val p = ev(s, dir).filter(col("event_type") === "purchase")
        .groupBy(col("user_id"),
                 datediff(date_trunc("DAY", col("ts")),
                          lit("2024-01-01").cast("date")).as("d"))
        .agg(sum(floor(col("value") * lit(1000000.0)).cast("long")).as("vm"))
      val spine = p.groupBy("user_id")
        .agg(min(col("d")).as("_d0"), max(col("d")).as("_d1"))
        .select(col("user_id"),
                explode(sequence(col("_d0"), col("_d1"))).as("d"))
        .join(p, Seq("user_id", "d"), "left")
      Rolling.linearFill(spine, Seq("user_id"), "d", "vm")
    }),
    "q220_ivf_balance" -> ((s, dir) => {
      // IVF index-health report (X203): vectors per coarse cell + load ppm
      // — the imbalance diagnostic that decides whether the centroid set
      // needs retraining (a hot cell serializes its probes; an empty cell
      // wastes a list). Deterministic md5-free centroid choice (lowest-id
      // vectors, same as q24) so the oracle reproduces the assignment.
      val e = emb(s, dir)
      val cents = Similarity.ivfCentroids(e, "vec_id", "embedding", 16)
      Similarity.ivfAssign(e, "vec_id", "embedding", cents)
        .groupBy(col("centroid_id"))
        .agg(count(lit(1)).as("n_vecs"))
        .join(broadcast(e.agg(count(lit(1)).as("_total"))))
        .withColumn("load_ppm", expr("n_vecs * 1000000L DIV _total"))
        .drop("_total")
    }),
    "q221_quantile_drift" -> ((s, dir) => {
      // Quantile drift (X204): per-type decile ladder of the first
      // half-month vs the second — exact rank-selection quantiles (X44's
      // machinery) on both slices, joined to a shift report. Catches
      // distribution movement that mean/null-rate drift (X194) misses;
      // integer micro values end to end.
      val cut = to_timestamp(lit("2024-01-16"))
      def deciles(pred: Column) = Profile.discreteQuantiles(
        ev(s, dir).filter(pred)
          .select(col("event_type"),
                  floor(col("value") * lit(1000000.0)).cast("long").as("vm")),
        "event_type", "vm", percents = Seq(10, 25, 50, 75, 90))
      deciles(col("ts") < cut)
        .withColumnRenamed("q_value", "ref_micro")
        .join(deciles(col("ts") >= cut)
                .withColumnRenamed("q_value", "cur_micro"),
              Seq("event_type", "q"))
        .withColumn("shift_micro", col("cur_micro") - col("ref_micro"))
    }),
    "q222_motifs" -> ((s, dir) =>
      // Behavioral motifs (X205): top-25 length-3 consecutive event-type
      // sequences — the n-gram generalization of the transition matrix,
      // built from lead windows (no sequence explode), counted
      // combine-enabled, top-k as TakeOrdered.
      Funnel.motifs(ev(s, dir), "user_id", "ts", "event_id", "event_type",
                    n = 3, topK = 25)),
    "q223_idle_rich" -> ((s, dir) => {
      // Decorrelated audience cut (X206, the TPC-H Q22 shape): customers
      // whose balance is strictly above the positive-balance average but
      // who placed no order since the lapse cutoff. The textbook form is a
      // scalar subquery + NOT IN (the oracle runs exactly that); here the
      // scalar becomes a broadcast one-row (sum, count) pair compared
      // cross-multiplied in exact integers (cents*n > sum — no float
      // average anywhere), and NOT IN becomes a left_anti join against the
      // date-pruned slice of the order fact (the filter reaches the scan).
      val c = Tables.read(s, dir, "customer")
        .withColumn("cents", expr("CAST(floor(c_acctbal * 100) AS BIGINT)"))
      val stats = c.filter(col("cents") > 0)
        .agg(sum(col("cents")).as("_s"), count(lit(1)).as("_n"))
      c.filter(col("cents") > 0)
        .crossJoin(broadcast(stats))
        .filter(col("cents") * col("_n") > col("_s"))
        .join(Tables.read(s, dir, "orders")
                .filter(col("o_orderdate") >= to_timestamp(lit("2000-01-01")))
                .select(col("o_custkey")),
              col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_custs"), sum(col("cents")).as("bal_cents"))
    }),
    "q224_triangles" -> ((s, dir) => {
      // Co-purchase graph health (X207): distinct part pairs sharing an
      // order become the edge list; triangle count via degree-ordered
      // orientation (out-degree bounded by O(sqrt(E)) even on hub parts)
      // and the global closure coefficient in exact-integer ppm. The
      // oracle recomputes the same orientation in SQL — the statistic is
      // deterministic, not an estimate.
      val li = Tables.spread(s, Tables.read(s, dir, "lineitem"))
      Graph.triangleStats(
        Graph.coOccurrenceEdgesCached(li, "l_orderkey", "l_partkey"))
    }),
    "q225_skyline" -> ((s, dir) => {
      // Pareto frontier (X208): orders not dominated on (earlier date,
      // higher price). The textbook NOT EXISTS self-join is quadratic —
      // the oracle runs it; here the frontier comes from the date
      // dimension: per-day max price (fact-sized aggregate), strictly-
      // earlier running max over the ~date-count-sized dim (bounded
      // DimKey.one window), then one broadcast join back to the daily
      // maxima. A survivor is a day's max that beats every earlier day.
      import org.apache.spark.sql.expressions.Window
      val o = Tables.spread(s, Tables.read(s, dir, "orders"))
        .select(col("o_orderkey"), col("o_orderdate"),
                expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("price_cents"))
      val daily = o.groupBy(col("o_orderdate"))
        .agg(max(col("price_cents")).as("_day_max"))
      val wPrev = Window.partitionBy(graft.functions.DimKey.one)
        .orderBy(col("o_orderdate"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val frontier = daily
        .withColumn("_prev_max", max(col("_day_max")).over(wPrev))
        .filter(col("_prev_max").isNull || col("_day_max") > col("_prev_max"))
      o.join(broadcast(frontier), Seq("o_orderdate"))
        .filter(col("price_cents") === col("_day_max"))
        .select(col("o_orderkey"), col("o_orderdate"), col("price_cents"))
    }),
    "q226_postings" -> ((s, dir) =>
      // Inverted index (X209): per-term document frequency, collection
      // frequency, and the delta-encoded posting list — the search-index
      // storage layout. One fact-sized (term, doc) aggregate; the gap
      // window reuses the term partitioning the posting grouping needs.
      TextAnalysis.invertedIndex(
        Tables.spread(s, docs(s, dir)), "doc_id", "text", minDf = 5)),
    "q227_encoding_advisor" -> ((s, dir) =>
      // Column-encoding advisor (X210): run-length + cardinality statistics
      // under the physical sort order (event_id), distributed via
      // per-bucket run counts stitched over the bounded bucket dim — the
      // report that picks parquet encodings before a 100 TB rewrite.
      Layout.encodingReport(ev(s, dir), "event_id",
                            Seq("event_type", "user_id", "value", "props"),
                            bucketSize = 4096L)),
    "q228_concurrency" -> ((s, dir) =>
      // Peak concurrent sessions (X211): sweep-line over session bounds,
      // distributed as per-day local running sums + a prefix-sum carry
      // over the bounded day dimension — never one global time-ordered
      // window. The oracle runs the single-window textbook formulation.
      Intervals.concurrency(
        Sessionize.sessions(ev(s, dir), "user_id", "ts", "event_type", 30),
        "session_start", "session_end")),
    "q229_rfm" -> ((s, dir) =>
      // RFM segmentation (X212): recency/frequency/monetary quartiles per
      // customer. The scoring avoids the ntile-over-everything global sort
      // — each metric ranks through cellRank's micro-cell decomposition,
      // quartile = arithmetic on the exact rank, ties broken by key so the
      // oracle's plain row_number reproduces every score.
      Segmentation.rfm(Tables.spread(s, Tables.read(s, dir, "orders")),
                       "o_custkey", "o_orderdate", "o_totalprice")),
    "q230_merkle_diff" -> ((s, dir) => {
      // Merkle bucket diff (X213): which key buckets differ between two
      // versions of the order table (simulated deletes %97, status updates
      // %101, inserts %103 under shifted keys). Each side collapses to
      // bucket (count, md5-prefix sum) — comparing 100 TB tables becomes
      // two columnar scans + a KB-scale join; only differing buckets emit.
      val v1 = Tables.read(s, dir, "orders")
        .withColumn("cents", expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
      val v2 = v1.filter(col("o_orderkey") % 97 =!= 0)
        .withColumn("o_orderstatus",
                    when(col("o_orderkey") % 101 === 0, lit("X"))
                      .otherwise(col("o_orderstatus")))
        .unionByName(
          v1.filter(col("o_orderkey") % 103 === 0)
            .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "cents",
                     "o_orderdate", "o_orderpriority")
      TableDiff.merkleDiff(v1, v2, "o_orderkey", 256, cols)
    }),
    "q231_rtbf_audit" -> ((s, dir) => {
      // Right-to-be-forgotten residual audit (X214): after a deletion list
      // is applied, how many rows still reference the listed keys, per
      // table — customer directly, orders by custkey, lineitem transitively
      // through its order. The list and its order slice stay broadcast;
      // each fact pays one semi-join, no fact-sized shuffle.
      val dl = Tables.read(s, dir, "customer")
        .filter(col("c_custkey") % 251 === 0).select(col("c_custkey"))
      val cust = Tables.read(s, dir, "customer")
        .join(broadcast(dl), Seq("c_custkey"), "left_semi")
        .agg(count(lit(1)).as("n_rows"),
             countDistinct(col("c_custkey")).as("n_keys"))
        .select(lit("customer").as("table_name"), col("n_rows"), col("n_keys"))
      val ords = Tables.read(s, dir, "orders")
        .join(broadcast(dl), col("o_custkey") === col("c_custkey"), "left_semi")
        .agg(count(lit(1)).as("n_rows"),
             countDistinct(col("o_custkey")).as("n_keys"))
        .select(lit("orders").as("table_name"), col("n_rows"), col("n_keys"))
      val listedOrders = Tables.read(s, dir, "orders")
        .join(broadcast(dl), col("o_custkey") === col("c_custkey"), "left_semi")
        .select(col("o_orderkey"), col("o_custkey"))
      val li = Tables.spread(s, Tables.read(s, dir, "lineitem"))
        .join(broadcast(listedOrders),
              col("l_orderkey") === col("o_orderkey"), "inner")
        .agg(count(lit(1)).as("n_rows"),
             countDistinct(col("o_custkey")).as("n_keys"))
        .select(lit("lineitem").as("table_name"), col("n_rows"), col("n_keys"))
      cust.unionByName(ords).unionByName(li)
    }),
    "q232_fd_check" -> ((s, dir) =>
      // Functional-dependency audit (X215): candidate key→attribute
      // dependencies over the line fact, each one combine-planned
      // two-level aggregate — the contract check a model runs before
      // assuming a 1:1 (is a line's order really single-supplier?).
      Profile.fdViolations(
        Tables.spread(s, Tables.read(s, dir, "lineitem")),
        Seq("l_orderkey" -> "l_suppkey", "l_orderkey" -> "l_returnflag",
            "l_partkey" -> "l_suppkey", "l_suppkey" -> "l_linestatus"))),
    "q233_symspell" -> ((s, dir) =>
      // SymSpell edit-distance join (X216): complete distance-1 pairs of
      // part names via the deletion neighborhood — each vocab value
      // explodes to length+1 variants, ONE variant equi-join generates
      // candidates, levenshtein verifies exactly. The oracle runs the
      // quadratic all-pairs levenshtein the neighborhood join avoids.
      Linkage.symspellPairs(Tables.read(s, dir, "part"), "p_name")),
    "q234_stream_sessions" -> ((s, dir) => {
      // Streaming session windows, driver-checked end-to-end (X217):
      // SessionStream (flatMapGroupsWithState, EventTimeTimeout) replayed
      // over three time-ordered micro-batches must emit exactly the batch
      // sessionization the oracle computes. Batches are ts prefixes (the
      // ingest shape), the over-span watermark keeps late-merge hazards
      // out of the harness, and two far-future sentinel batches advance
      // the watermark so every open tail session times out and flushes.
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val feed = ev(s, dir).filter(col("user_id") % 5 === 1)
        .select(col("user_id"), col("ts"), col("event_type"))
        .as[(Long, java.sql.Timestamp, String)].collect().toSeq
        .sortBy(_._2.getTime)
      val src = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp, String)]
      val sess = graft.streaming.SessionStream.sessions(
        src.toDF().toDF("user_id", "ts", "event_type"),
        gapMinutes = 30, watermarkDelay = "40 days")
      val tbl = "q234_sess_" + java.util.UUID.randomUUID.toString.replace("-", "")
      withStreamShuffle(s) {
      val q = sess.writeStream.format("memory").queryName(tbl)
          .outputMode("append").start()
        try {
          val cut = feed.size / 3
          Seq(feed.take(cut), feed.slice(cut, 2 * cut), feed.drop(2 * cut))
            .foreach { b => src.addData(b: _*); q.processAllAvailable() }
          val flush = java.sql.Timestamp.valueOf("2025-06-01 00:00:00")
          src.addData((-1L, flush, "x")); q.processAllAvailable()
          src.addData((-1L, new java.sql.Timestamp(flush.getTime + 3600000L), "x"))
          q.processAllAvailable()
        } finally q.stop()
      }
      s.table(tbl).filter(col("user_id") >= 0)
        .select(col("user_id"), col("session_start"), col("session_end"),
                col("n_events"), col("n_event_types"))
    }),
    "q235_small_qty_revenue" -> ((s, dir) => {
      // Decorrelated per-group-average filter (X218, the TPC-H Q17 shape):
      // revenue locked in lines ordering under 20% of their part's average
      // quantity. The textbook correlated scalar subquery re-aggregates
      // the fact per probe row — the oracle runs it; here ONE per-part
      // (sum, count) rollup joins back and the 0.2·avg compare is integer
      // cross-multiplied (5·qty·n < Σqty in micros — no float division,
      // no order-dependent average).
      val q = Tables.spread(s, Tables.read(s, dir, "lineitem"))
        .select(col("l_partkey"),
                expr("CAST(floor(l_quantity * 1000000) AS BIGINT)").as("qm"),
                expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("cents"))
      val pa = q.groupBy(col("l_partkey"))
        .agg(sum(col("qm")).as("_sq"), count(lit(1)).as("_nq"))
      q.join(pa, Seq("l_partkey"))
        .filter(lit(5L) * col("qm") * col("_nq") < col("_sq"))
        .agg(count(lit(1)).as("n_lines"),
             coalesce(sum(col("cents")), lit(0L)).as("rev_cents"))
    }),
    "q236_cumulative_users" -> ((s, dir) => {
      // Cumulative distinct users (X219): the running-distinct scale trap
      // (a distinct set that only grows) solved by first-touch reduction —
      // each user collapses to their first active day (one combine
      // rollup), daily new-user counts prefix-sum over the bounded day
      // dimension, and running distinct = cumulative new users. The
      // oracle recomputes via the same identity with a plain window.
      val e = ev(s, dir).select(col("user_id"),
                                date_trunc("DAY", col("ts")).as("day"))
      val active = e.groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as("n_active"))
      val news = e.groupBy(col("user_id")).agg(min(col("day")).as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("n_new"))
      import org.apache.spark.sql.expressions.Window
      val wc = Window.partitionBy(graft.functions.DimKey.one)
        .orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      active.join(news, Seq("day"), "left_outer")
        .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
        .withColumn("n_cum", sum(col("n_new")).over(wc))
        .select(col("day"), col("n_new"), col("n_cum"), col("n_active"))
    }),
    "q237_langid_calibration" -> ((s, dir) => {
      // Language-ID calibration (X220): does the stopword-vote margin
      // predict accuracy? Margin deciles via cellRank exact ranks (no
      // global ntile sort), accuracy against the labeled lang per decile
      // in integer ppm — the eval table that picks the router threshold.
      val langs = TextAnalysis.Stopwords.keys.toSeq
      val votes = array(langs.map(l =>
        struct(TextAnalysis.stopwordHits(col("text"), l).as("v"),
               lit(l).as("lang"))): _*)
      val scored = docs(s, dir)
        .withColumn("_sorted", reverse(array_sort(votes)))
        .select(col("doc_id"), col("lang"),
                col("_sorted")(0).getField("lang").as("top_lang"),
                (col("_sorted")(0).getField("v") -
                 col("_sorted")(1).getField("v")).cast("long").as("margin"))
        .withColumn("_all", graft.functions.DimKey.one)
      Profile.cellRank(scored, Seq("_all"), "margin", Seq("doc_id"))
        .withColumn("decile", expr("(_rank - 1) * 10 DIV _n + 1"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_docs"),
             sum(when(col("top_lang") === col("lang"), 1L).otherwise(0L))
               .as("n_correct"),
             min(col("margin")).as("margin_min"),
             max(col("margin")).as("margin_max"))
        .withColumn("acc_ppm", expr("n_correct * 1000000L DIV n_docs"))
    }),
    "q238_basket_rules" -> ((s, dir) =>
      // Market-basket association rules (X221): directed
      // support/confidence/lift over order baskets — candidate pairs from
      // one basket self-join on the DISTINCT (order, part) projection,
      // item counts and the basket total broadcast back; DECIMAL-guarded
      // lift stays exact-integer ppm. r16: the pair counts ride the
      // shared counted co-purchase materialization (identical rows, same
      // build) instead of re-running the fact-scale self-join.
      Association.rules(Tables.spread(s, Tables.read(s, dir, "lineitem")),
                        "l_orderkey", "l_partkey", minBaskets = 3L,
                        countedPairs = Some(
                          graft.operators.Graph.coOccurrenceCountedCached(
                            Tables.spread(s, Tables.read(s, dir, "lineitem")),
                            groupCol = "l_orderkey",
                            itemCol = "l_partkey")))),
    "q239_id_gaps" -> ((s, dir) =>
      // Sequence-gap audit (X222): missing event_id ranges within the
      // click slice — in-bucket lead windows + facing-pair stitching over
      // the bounded bucket dim; the oracle runs the id - row_number()
      // islands trick over one global sort.
      Intervals.sequenceGaps(
        ev(s, dir).filter(col("event_type") === "click"), "event_id",
        bucketSize = 1024L)),
    "q240_bitemporal_point" -> ((s, dir) => {
      // Bitemporal point query (X223): "what did we BELIEVE at load 1
      // about the state valid at time T" — transaction-time cut (only the
      // first load's rows exist) composed with a valid-time cut (asOf at
      // the full-feed midpoint). Distinct from q99, which cuts valid time
      // over full knowledge; here later-arriving corrections are invisible
      // by construction.
      val all = ev(s, dir)
      val row = all
        .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
        .head()
      val t = row.getLong(0) + (row.getLong(1) - row.getLong(0)) / 2
      val tTs = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        t / 1000000L, (t % 1000000L) * 1000L))
      Scd2.asOf(
        Scd2.initialLoad(all.filter(col("event_id") % 2 === 0), evCfg),
        tTs, evCfg)
    }),
    "q241_weighted_median" -> ((s, dir) =>
      // Exact weighted median (X224): price cents weighted by quantity
      // micros per return flag — cellRank's micro-cell two-phase carried
      // to weights, so 3 groups over a 100 TB fact never sort in one
      // partition. The oracle runs the textbook cumulative-weight window.
      Profile.weightedMedian(
        Tables.spread(s, Tables.read(s, dir, "lineitem"))
          .select(col("l_returnflag"),
                  expr("CAST(floor(l_extendedprice * 100) AS BIGINT)")
                    .as("cents"),
                  expr("CAST(floor(l_quantity * 1000000) AS BIGINT)")
                    .as("qm")),
        "l_returnflag", "cents", "qm")),
    "q242_golden_record" -> ((s, dir) => {
      // Golden-record survivorship (X225): parts sharing a (lowercased)
      // name merge field-wise — modal brand/type with deterministic
      // count-desc value-asc tiebreak via min(struct(-cnt, val)) (argmax
      // without a window), min key as survivor id, max size/price. The
      // MDM merge step after linkage finds the clusters.
      val p = Tables.read(s, dir, "part")
        .withColumn("cluster", lower(col("p_name")))
        .withColumn("cents", expr("CAST(floor(p_retailprice * 100) AS BIGINT)"))
      def modal(c: String, out: String) =
        p.groupBy(col("cluster"), col(c)).agg(count(lit(1)).as("_n"))
          .groupBy(col("cluster"))
          .agg(min(struct((-col("_n")).as("_neg"), col(c).as("_v")))
                 .getField("_v").as(out))
      p.groupBy(col("cluster"))
        .agg(min(col("p_partkey")).as("survivor_id"),
             count(lit(1)).as("n_members"),
             max(col("p_size")).as("max_size"),
             max(col("cents")).as("max_price_cents"))
        .join(modal("p_brand", "brand"), Seq("cluster"))
        .join(modal("p_type", "type_"), Seq("cluster"))
    }),
    "q243_also_bought" -> ((s, dir) => {
      // Per-item recommendations (X226): top-3 co-ordered partners per
      // part by (co-order count desc, partner asc) — symmetrized pair
      // counts off the distinct basket projection, ranked inside each
      // item's partition (item keys are many: the window parallelizes,
      // unlike a global top-k). r16: the pair counts ARE the counted
      // co-purchase relation seven graph queries already share — read
      // the per-session materialization instead of re-running the
      // fact-scale distinct → self-join → count build (identical rows
      // by construction: same code path computes the entry).
      import org.apache.spark.sql.expressions.Window
      val pairs = graft.operators.Graph.coOccurrenceCountedCached(
          Tables.spread(s, Tables.read(s, dir, "lineitem")),
          groupCol = "l_orderkey", itemCol = "l_partkey")
        .select(col("src").as("x"), col("dst").as("y"),
                col("_n").as("n_co"))
      val sym = pairs.select(col("x").as("item"), col("y").as("partner"),
                             col("n_co"))
        .unionAll(pairs.select(col("y").as("item"), col("x").as("partner"),
                               col("n_co")))
      val w = Window.partitionBy(col("item"))
        .orderBy(col("n_co").desc, col("partner").asc)
      sym.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
    }),
    "q244_accumulating_snapshot" -> ((s, dir) =>
      // Accumulating-snapshot fact (X227): one row per order carrying its
      // lifecycle milestones — line count, first/last ship, return flag,
      // fulfillment days — the Kimball pattern for process-tracking facts.
      // One line rollup + one key join; both sides shuffle once on the
      // order key (co-partitioned, AQE-broadcastable when dims allow).
      Tables.read(s, dir, "orders")
        .join(Tables.spread(s, Tables.read(s, dir, "lineitem"))
                .groupBy(col("l_orderkey"))
                .agg(count(lit(1)).as("n_lines"),
                     min(col("l_shipdate")).as("first_ship"),
                     max(col("l_shipdate")).as("last_ship"),
                     max(when(col("l_returnflag") === "R", 1L).otherwise(0L))
                       .as("any_return")),
              col("o_orderkey") === col("l_orderkey"), "left_outer")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderstatus"),
                coalesce(col("n_lines"), lit(0L)).as("n_lines"),
                col("first_ship"), col("last_ship"),
                coalesce(col("any_return"), lit(0L)).as("any_return"),
                datediff(col("last_ship"), col("o_orderdate")).cast("long")
                  .as("fulfillment_days"))),
    "q245_cusum_break" -> ((s, dir) => {
      // CUSUM change-point (X228): per event type, the day where the
      // cumulative daily value-micro total deviates most from the uniform
      // trajectory. dev_k = C_k·D − k·S is the CUSUM statistic multiplied
      // through by D — pure integers, no rational mean ever computed; the
      // argmax picks via min(struct(−|dev|, day)), DECIMAL guards the ppm.
      // All windows live on the bounded (type × day) rollup.
      import org.apache.spark.sql.expressions.Window
      val daily = ev(s, dir)
        .groupBy(col("event_type"),
                 date_trunc("DAY", col("ts")).as("day"))
        .agg(sum(expr("CAST(floor(value * 1000000) AS BIGINT)")).as("t"))
      val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val wAll = Window.partitionBy(col("event_type"))
      daily
        .withColumn("k", row_number().over(wOrd))
        .withColumn("C", sum(col("t")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("D", count(lit(1)).over(wAll))
        .withColumn("S", sum(col("t")).over(wAll))
        .withColumn("dev", abs(col("C") * col("D") - col("k") * col("S")))
        .groupBy(col("event_type"))
        .agg(min(struct((-col("dev")).as("_nd"), col("day").as("_d")))
               .as("_pick"),
             first(col("D")).as("n_days"), first(col("S")).as("total_micro"))
        .select(col("event_type"),
                col("_pick").getField("_d").as("break_day"),
                (-col("_pick").getField("_nd")).as("max_dev"),
                col("n_days"), col("total_micro"))
        .withColumn("dev_ppm", expr(
          "CAST(CAST(max_dev AS DECIMAL(38,0)) * 1000000" +
            " DIV (CAST(total_micro AS DECIMAL(38,0)) * n_days) AS BIGINT)"))
    }),
    "q246_session_handoff" -> ((s, dir) => {
      // Session handoff matrix (X229): how sessions END versus how the
      // user's NEXT session begins — the re-engagement transition the
      // within-session matrix (q87) can't see. First/last event per
      // session via one deterministic struct-min/max (ts, event_id
      // tiebreak); the handoff lead window runs per user (many keys,
      // parallel).
      import org.apache.spark.sql.expressions.Window
      val sess = Sessionize.assign(ev(s, dir), "user_id", "ts", 30)
        .groupBy(col("user_id"), col("_session"))
        .agg(min(struct(col("ts"), col("event_id"), col("event_type")))
               .getField("event_type").as("first_type"),
             max(struct(col("ts"), col("event_id"), col("event_type")))
               .getField("event_type").as("last_type"))
      val wU = Window.partitionBy(col("user_id")).orderBy(col("_session"))
      sess.withColumn("to_type", lead(col("first_type"), 1).over(wU))
        .filter(col("to_type").isNotNull)
        .groupBy(col("last_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n_handoffs"))
    }),
    "q247_watermark_advisor" -> ((s, dir) => {
      // Watermark advisor (X230): per-key event-time disorder under the
      // arrival order (event_id) — how late does an event arrive behind
      // its user's running event-time max? The number that PICKS a
      // watermark delay (and checks the upstream per-key ordering
      // contract a keyed log claims). Per-user windows parallelize; the
      // rollup is integer micros with DIV means.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      ev(s, dir)
        .withColumn("_um", unix_micros(col("ts")))
        .withColumn("_prevMax", max(col("_um")).over(w))
        .withColumn("late_us",
          when(col("_prevMax").isNotNull && col("_prevMax") > col("_um"),
               col("_prevMax") - col("_um")).otherwise(0L))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
             sum(when(col("late_us") > 0, 1L).otherwise(0L)).as("n_late"),
             max(col("late_us")).as("max_late_us"),
             sum(col("late_us")).as("_sum_late"))
        .withColumn("late_ppm", expr("n_late * 1000000L DIV n_events"))
        .withColumn("mean_late_us",
          expr("CASE WHEN n_late > 0 THEN _sum_late DIV n_late ELSE 0 END"))
        .drop("_sum_late")
    }),
    "q248_log2_histogram" -> ((s, dir) =>
      // Power-of-two histogram (X231): HDR-histogram bucketing of value
      // micros per type — bucket = bit length of the integer (exact
      // floor(log2)+1, no float log anywhere), constant memory per type
      // at any scale, one combine aggregate.
      ev(s, dir)
        .withColumn("vm", expr("CAST(floor(value * 1000000) AS BIGINT)"))
        .filter(col("vm").isNotNull)
        .withColumn("bucket",
          when(col("vm") <= 0, lit(0)).otherwise(length(bin(col("vm")))))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("n"),
             min(col("vm")).as("vm_min"), max(col("vm")).as("vm_max"))),
    "q249_frequent_triples" -> ((s, dir) => {
      // A-priori frequent triples (X232): 3-itemsets in ≥2 baskets,
      // candidates generated ONLY from frequent pairs joined on a shared
      // prefix item (the apriori pruning step — the all-triples explosion
      // never happens), verified by one membership join per third item.
      val minSup = 2L
      val items = Tables.spread(s, Tables.read(s, dir, "lineitem"))
        .select(col("l_orderkey").as("b"), col("l_partkey").as("i")).distinct()
      val pairs = items.as("_a")
        .join(items.as("_x"),
              col("_a.b") === col("_x.b") && col("_a.i") < col("_x.i"))
        .select(col("_a.b").as("b"), col("_a.i").as("x"), col("_x.i").as("y"))
      // r16: the frequent-pair counts are the shared counted co-purchase
      // relation — read the per-session materialization instead of
      // re-aggregating the basket-grain pair explosion (identical rows:
      // the cache entry is computed by the same distinct → self-join →
      // count build this groupBy re-ran).
      val freqPairs = graft.operators.Graph.coOccurrenceCountedCached(
          Tables.spread(s, Tables.read(s, dir, "lineitem")),
          groupCol = "l_orderkey", itemCol = "l_partkey")
        .filter(col("_n") >= minSup)
        .select(col("src").as("x"), col("dst").as("y"), col("_n").as("n_xy"))
      // candidate (x, y, z): frequent (x,y) and frequent (x,z) with y < z
      // (both sub-pairs sharing prefix x frequent — apriori necessary
      // condition); count via basket membership of all three.
      val cands = freqPairs.select(col("x"), col("y"))
        .join(freqPairs.select(col("x"), col("y").as("z")), Seq("x"))
        .filter(col("y") < col("z"))
      cands
        .join(pairs.withColumnRenamed("x", "cx").withColumnRenamed("y", "cy"),
              col("x") === col("cx") && col("y") === col("cy"))
        .select(col("b"), col("x"), col("y"), col("z"))
        .join(items.withColumnRenamed("i", "z").as("_m"),
              Seq("b", "z"), "left_semi")
        .groupBy(col("x"), col("y"), col("z"))
        .agg(count(lit(1)).as("n_baskets"))
        .filter(col("n_baskets") >= minSup)
    }),
    "q250_index_delta_plan" -> ((s, dir) => {
      // Incremental index maintenance plan (X233): assign the new vector
      // batch (vec_id%5=0) to the EXISTING index's coarse cells; cells
      // whose new-vector share crosses 20% go on the rebuild list — the
      // decision table that keeps a 100 TB ANN index fresh without a full
      // retrain. Two assignment passes + a cell-sized join.
      val e = emb(s, dir)
      val base = e.filter(col("vec_id") % 5 =!= 0)
      val fresh = e.filter(col("vec_id") % 5 === 0)
      val cents = Similarity.ivfCentroids(base, "vec_id", "embedding", 16)
      def cellCounts(df: DataFrame, out: String) =
        Similarity.ivfAssign(df, "vec_id", "embedding", cents)
          .groupBy(col("centroid_id")).agg(count(lit(1)).as(out))
      cents.select(col("centroid_id"))
        .join(cellCounts(base, "n_base"), Seq("centroid_id"), "left_outer")
        .join(cellCounts(fresh, "n_new"), Seq("centroid_id"), "left_outer")
        .withColumn("n_base", coalesce(col("n_base"), lit(0L)))
        .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
        .withColumn("new_ppm", expr(
          "CASE WHEN n_base + n_new > 0" +
            " THEN n_new * 1000000L DIV (n_base + n_new) ELSE 0 END"))
        .withColumn("rebuild", col("new_ppm") > 200000L)
    }),
    "q251_ab_uplift" -> ((s, dir) => {
      // Stratified A/B readout (X234): users split into arms by md5 hash
      // (the engine-exact assignment every deterministic experiment
      // framework uses), stratified by activity tier; per (tier, arm)
      // conversion ppm plus the per-tier A−B uplift via a tier-sized
      // self-join — the stratification that removes activity-mix bias.
      val users0 = ev(s, dir).groupBy(col("user_id"))
        .agg(count(lit(1)).as("_cnt"),
             max(when(col("event_type") === "purchase", 1L).otherwise(0L))
               .as("_conv"))
        .withColumn("arm",
          when(conv(substring(md5(col("user_id").cast("string")), 1, 8),
                    16, 10).cast("long") % 2 === 0, lit("A"))
            .otherwise(lit("B")))
        .withColumn("_all", graft.functions.DimKey.one)
      // activity terciles from exact ranks — balanced at any scale factor
      // (absolute thresholds would collapse to one tier as SF grows)
      val users = Profile.cellRank(users0, Seq("_all"), "_cnt", Seq("user_id"))
        .withColumn("tier", expr("(_rank - 1) * 3 DIV _n + 1"))
      val cells = users.groupBy(col("tier"), col("arm"))
        .agg(count(lit(1)).as("n_users"), sum(col("_conv")).as("n_converted"))
        .withColumn("conv_ppm", expr("n_converted * 1000000L DIV n_users"))
      cells.join(
          cells.select(col("tier"), col("arm").as("_arm2"),
                       col("conv_ppm").as("_ppm2")),
          Seq("tier"))
        .filter(col("_arm2") =!= col("arm"))
        .withColumn("uplift_ppm",
          when(col("arm") === "A", col("conv_ppm") - col("_ppm2")))
        .select(col("tier"), col("arm"), col("n_users"), col("n_converted"),
                col("conv_ppm"), col("uplift_ppm"))
    }),
    "q252_position_attribution" -> ((s, dir) =>
      // Position-based multi-touch attribution (X235): 40/20/40 credit
      // split in exact integer ppm with largest-remainder middles —
      // Σcredit = 1M·conversions is the invariant; purchases with no
      // prior touch credit 'direct'. Same one per-user exchange as the
      // last-touch model (q62) it generalizes.
      Funnel.positionAttribution(ev(s, dir), "user_id", "ts", "event_id",
                                 "event_type", "purchase")),
    "q253_lift_curve" -> ((s, dir) => {
      // Gains/lift table (X236): activity score vs purchase conversion —
      // decile ranks from cellRank, per-decile conversion ppm, cumulative
      // capture from the top decile down over the bounded decile dim, and
      // lift against the broadcast base rate. The model-eval table that
      // says "the top 20% of users hold X% of conversions".
      import org.apache.spark.sql.expressions.Window
      val users = ev(s, dir).groupBy(col("user_id"))
        .agg(count(lit(1)).as("_score"),
             max(when(col("event_type") === "purchase", 1L).otherwise(0L))
               .as("_conv"))
        .withColumn("_all", graft.functions.DimKey.one)
      val deciled = Profile.cellRank(users, Seq("_all"), "_score",
                                     Seq("user_id"))
        .withColumn("decile", expr("(_rank - 1) * 10 DIV _n + 1"))
      val cells = deciled.groupBy(col("decile"))
        .agg(count(lit(1)).as("n_users"), sum(col("_conv")).as("n_conv"))
        .withColumn("conv_ppm", expr("n_conv * 1000000L DIV n_users"))
      val totals = cells.agg(sum(col("n_conv")).as("_tc"),
                             sum(col("n_users")).as("_tu"))
      val wTop = Window.partitionBy(graft.functions.DimKey.one)
        .orderBy(col("decile").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells.crossJoin(broadcast(totals))
        .withColumn("_cumc", sum(col("n_conv")).over(wTop))
        .withColumn("cum_capture_ppm", expr("_cumc * 1000000L DIV _tc"))
        .withColumn("lift_ppm",
          expr("conv_ppm * 1000000L DIV (_tc * 1000000L DIV _tu)"))
        .select(col("decile"), col("n_users"), col("n_conv"), col("conv_ppm"),
                col("cum_capture_ppm"), col("lift_ppm"))
    }),
    "q254_price_integrity" -> ((s, dir) =>
      // Price-integrity audit (X237): lines whose unit price strays ±10%
      // from the part's retail price — the referential VALUE check beside
      // the FD audit's structural one. The unit price is never divided
      // out: both bounds compare integer cross-products (cents·micros),
      // broadcast part dim, one fact scan.
      Tables.spread(s, Tables.read(s, dir, "lineitem"))
        .select(col("l_partkey"),
                expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("ec"),
                expr("CAST(floor(l_quantity * 1000000) AS BIGINT)").as("qm"))
        .join(broadcast(Tables.read(s, dir, "part")
          .select(col("p_partkey"),
                  expr("CAST(floor(p_retailprice * 100) AS BIGINT)").as("rc"))),
          col("l_partkey") === col("p_partkey"))
        .withColumn("_over", (col("ec") * 1000000L * 10L >
                              col("rc") * col("qm") * 11L).cast("long"))
        .withColumn("_under", (col("ec") * 1000000L * 10L <
                               col("rc") * col("qm") * 9L).cast("long"))
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n_lines"), sum(col("_over")).as("n_over"),
             sum(col("_under")).as("n_under"))
        .withColumn("anomaly_ppm",
                    expr("(n_over + n_under) * 1000000L DIV n_lines"))
        .filter(col("n_over") + col("n_under") > 0)),
    "q255_knn_accuracy" -> ((s, dir) => {
      // kNN label accuracy (X238): 5-NN majority vote over a held-out
      // fifth of the vectors against the rest — the embedding-quality
      // eval. Votes argmax via min(struct(-cnt, label)) (deterministic
      // tie: smallest label); per-class accuracy in ppm. Reuses the exact
      // brute-force ranking the recall queries gate on.
      val e = emb(s, dir)
      val eval_ = e.filter(col("vec_id") % 5 === 1)
      val train = e.filter(col("vec_id") % 5 =!= 1)
      val nn = Similarity.bruteForceTopK(eval_, train, "vec_id", "embedding",
                                         k = 5)
      val labels = e.select(col("vec_id"), col("label"))
      val votes = nn
        .join(labels.withColumnRenamed("vec_id", "neighbor_id")
                .withColumnRenamed("label", "_nl"), Seq("neighbor_id"))
        .groupBy(col("query_id"), col("_nl")).agg(count(lit(1)).as("_v"))
        .groupBy(col("query_id"))
        .agg(min(struct((-col("_v")).as("_nv"), col("_nl").as("_l")))
               .getField("_l").as("predicted"))
      votes
        .join(labels.withColumnRenamed("vec_id", "query_id"), Seq("query_id"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_queries"),
             sum(when(col("predicted") === col("label"), 1L).otherwise(0L))
               .as("n_correct"))
        .withColumn("acc_ppm", expr("n_correct * 1000000L DIV n_queries"))
    }),
    "q256_dupgraph_closure" -> ((s, dir) =>
      // Near-dup transitivity audit (X239): the verified MinHash pair list
      // AS a graph — its closure coefficient measures how transitive the
      // near-dup relation actually is (low closure ⇒ chain-shaped clusters
      // where keep-one-per-component over-merges). Composes X19's pairs
      // with X207's triangle machinery.
      Graph.triangleStats(
        Dedup.minhashLshPairs(docs(s, dir), "doc_id", "text", n = 3,
                              bands = 4, rows = 3, tauNum = 1, tauDen = 2)
          .select(col("doc_a").as("src"), col("doc_b").as("dst")))),
    "q257_sparse_coalesce" -> ((s, dir) => {
      // Sparse-update coalescing (X240): CDC feeds often carry only the
      // changed columns (the rest NULL) — the current row per key is each
      // column's LAST NON-NULL by time, not the last row. One per-key
      // window pass with ignoreNulls `last`; the simulated sparsity masks
      // value/props on disjoint row classes so both paths exercise.
      import org.apache.spark.sql.expressions.Window
      val sparse = ev(s, dir).select(
        col("user_id"), col("ts"), col("event_id"),
        when(col("event_id") % 3 =!= 0, col("value")).as("value"),
        when(col("event_id") % 3 =!= 1, col("props")).as("props"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      sparse
        .withColumn("_lv", last(col("value"), ignoreNulls = true).over(w))
        .withColumn("_lp", last(col("props"), ignoreNulls = true).over(w))
        .withColumn("_rn", row_number().over(wAll))
        .filter(col("_rn") === 1)
        .select(col("user_id"), col("ts").as("last_ts"),
                col("_lv").as("value"), col("_lp").as("props"))
    }),
    "q258_constrained_funnel" -> ((s, dir) => {
      // Time-bounded funnel (X241): view → click within 1h → purchase
      // within 24h of a QUALIFIED click. Each step is an ignoreNulls
      // last-over-preceding window on the one per-user exchange — no
      // self-joins, and the deadline predicate rides the window output.
      // Contrast q60, whose steps are unbounded in time.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val e = ev(s, dir)
        .withColumn("_um", unix_micros(col("ts")))
        .withColumn("_lastView",
          last(when(col("event_type") === "view", col("_um")),
               ignoreNulls = true).over(w))
        .withColumn("_qc",
          col("event_type") === "click" && col("_lastView").isNotNull &&
            col("_um") - col("_lastView") <= 3600L * 1000000L)
        .withColumn("_lastQc",
          last(when(col("_qc"), col("_um")), ignoreNulls = true).over(w))
        .withColumn("_conv",
          col("event_type") === "purchase" && col("_lastQc").isNotNull &&
            col("_um") - col("_lastQc") <= 24L * 3600L * 1000000L)
      e.agg(
        countDistinct(when(col("event_type") === "view", col("user_id")))
          .as("n_viewers"),
        countDistinct(when(col("_qc"), col("user_id")))
          .as("n_qualified_clickers"),
        countDistinct(when(col("_conv"), col("user_id")))
          .as("n_converted"))
    }),
    "q259_keyset_page" -> ((s, dir) =>
      // Keyset pagination (X242): the seek-method page read — rows
      // strictly after the (date, key) cursor, ordered, first 100. Plans
      // as filter + TakeOrderedAndProject: the cursor predicate prunes at
      // the scan and no OFFSET ever materializes skipped rows (the
      // anti-pattern this replaces).
      Tables.read(s, dir, "orders")
        .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
        .filter(struct(col("o_orderdate"), col("o_orderkey")) >
                  struct(to_timestamp(lit("1998-01-01")), lit(5000L)))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .limit(100)
        .select(col("o_orderkey"), col("o_orderdate"),
                expr("CAST(floor(o_totalprice * 100) AS BIGINT)")
                  .as("price_cents"))),
    "q260_classifier_kappa" -> ((s, dir) => {
      // Cohen's kappa (X243): chance-corrected agreement between the
      // stopword-vote language router and the labeled language — computed
      // ENTIRELY from confusion-matrix integer counts:
      // kappa = (A·N − Σ row_k·col_k) / (N² − Σ row_k·col_k), emitted as
      // DECIMAL-guarded ppm. The eval statistic that says whether the
      // cheap router beats chance, beside q237's calibration and q255's
      // accuracy.
      val langs = TextAnalysis.Stopwords.keys.toSeq
      val votes = array(langs.map(l =>
        struct(TextAnalysis.stopwordHits(col("text"), l).as("v"),
               lit(l).as("lang"))): _*)
      val pred = docs(s, dir)
        .withColumn("_sorted", reverse(array_sort(votes)))
        .select(col("lang"),
                col("_sorted")(0).getField("lang").as("pred"))
      val cm = pred.groupBy(col("lang"), col("pred"))
        .agg(count(lit(1)).as("n")).localCheckpoint()
      val n = cm.agg(sum(col("n")).as("N"))
      val agree = cm.filter(col("lang") === col("pred"))
        .agg(coalesce(sum(col("n")), lit(0L)).as("A"))
      val margins = cm.groupBy(col("lang")).agg(sum(col("n")).as("_row"))
        .join(cm.groupBy(col("pred")).agg(sum(col("n")).as("_col")),
              col("lang") === col("pred"), "full_outer")
        .select(coalesce(col("_row"), lit(0L)).as("_row"),
                coalesce(col("_col"), lit(0L)).as("_col"))
        .agg(sum(col("_row") * col("_col")).as("E"))
      n.crossJoin(broadcast(agree)).crossJoin(broadcast(margins))
        .select(col("N"), col("A"), col("E"),
                expr("A * 1000000L DIV N").as("po_ppm"),
                expr("CAST(CAST(E AS DECIMAL(38,0)) * 1000000" +
                     " DIV (CAST(N AS DECIMAL(38,0)) * N) AS BIGINT)")
                  .as("pe_ppm"),
                expr("CAST(CAST(A * N - E AS DECIMAL(38,0)) * 1000000" +
                     " DIV (CAST(N AS DECIMAL(38,0)) * N - E) AS BIGINT)")
                  .as("kappa_ppm"))
    }),
    "q261_partitioned_prune" -> ((s, dir) => {
      // Partition-directory pruning end-to-end (X244): write the events
      // fact partitioned BY TYPE into real parquet directories, read it
      // back with a type predicate — the scan lists only the matching
      // subdirectory (PartitionFilters, zero rows of other types ever
      // decoded) — then roll up by day. The lake-layout pattern (q132's
      // Z-order covers intra-file skipping; this is directory-level).
      val tmp = "/tmp/graft_q261_partitioned"
      ev(s, dir).withColumn("day", date_trunc("DAY", col("ts")))
        .write.mode("overwrite").partitionBy("event_type").parquet(tmp)
      val back = s.read.parquet(tmp).filter(col("event_type") === "purchase")
      back.groupBy(col("day"))
        .agg(count(lit(1)).as("n"),
             sum(expr("CAST(floor(value * 1000000) AS BIGINT)")).as("vm_sum"))
    }),
    "q262_business_days" -> ((s, dir) => {
      // Business-day fulfillment (X245): weekdays between order and last
      // ship via the calendar-table PREFIX SUM — cum_bd(d) = weekdays ≤ d
      // over the bounded day spine (DimKey window), then business days in
      // (od, sd] = cum(sd) − cum(od) with two broadcast EQUI-joins. Never
      // a per-row range scan of the spine (the nested-loop calendar
      // anti-pattern); weekday = Monday..Friday, engine-exact.
      import org.apache.spark.sql.expressions.Window
      val lastShip = Tables.spread(s, Tables.read(s, dir, "lineitem"))
        .groupBy(col("l_orderkey")).agg(max(col("l_shipdate")).as("ship"))
      val o = Tables.read(s, dir, "orders")
        .join(lastShip, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey"),
                date_trunc("MONTH", col("o_orderdate")).as("order_month"),
                col("o_orderdate").cast("timestamp").as("od"),
                col("ship").cast("timestamp").as("sd"))
        .filter(col("sd") >= col("od"))
      val wCum = Window.partitionBy(graft.functions.DimKey.one)
        .orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val spine = o.agg(min(col("od")).as("_lo"), max(col("sd")).as("_hi"))
        .select(explode(sequence(col("_lo"), col("_hi"),
                                 expr("INTERVAL 1 DAY"))).as("d"))
        .withColumn("_isbd", (weekday(col("d")) < 5).cast("long"))
        .withColumn("cum_bd", sum(col("_isbd")).over(wCum))
        .select(col("d"), col("cum_bd"))
      o.join(broadcast(spine.withColumnRenamed("d", "od")
               .withColumnRenamed("cum_bd", "_cb_od")), Seq("od"))
        .join(broadcast(spine.withColumnRenamed("d", "sd")
               .withColumnRenamed("cum_bd", "_cb_sd")), Seq("sd"))
        .withColumn("_bd", col("_cb_sd") - col("_cb_od"))
        .groupBy(col("order_month"))
        .agg(count(lit(1)).as("n_orders"),
             sum(col("_bd")).as("total_busdays"),
             max(col("_bd")).as("max_busdays"))
        .withColumn("mean_busdays_x100",
                    expr("total_busdays * 100 DIV n_orders"))
    }),
    "q263_audience_overlap" -> ((s, dir) => {
      // Audience overlap matrix (X246): Jaccard + overlap coefficient
      // between event-type user sets — one distinct (type, user)
      // projection, a self-join on the user key, type-pair-sized output.
      // The co-presence numbers behind "viewers who also purchase".
      val tu = ev(s, dir).select(col("event_type").as("t"), col("user_id"))
        .distinct().localCheckpoint()
      val sizes = tu.groupBy(col("t")).agg(count(lit(1)).as("n"))
      tu.as("_a").join(tu.as("_b"),
          col("_a.user_id") === col("_b.user_id") && col("_a.t") < col("_b.t"))
        .groupBy(col("_a.t").as("type_a"), col("_b.t").as("type_b"))
        .agg(count(lit(1)).as("n_both"))
        .join(broadcast(sizes.withColumnRenamed("t", "type_a")
                .withColumnRenamed("n", "n_a")), Seq("type_a"))
        .join(broadcast(sizes.withColumnRenamed("t", "type_b")
                .withColumnRenamed("n", "n_b")), Seq("type_b"))
        .withColumn("jaccard_ppm",
          expr("n_both * 1000000L DIV (n_a + n_b - n_both)"))
        .withColumn("overlap_ppm",
          expr("n_both * 1000000L DIV least(n_a, n_b)"))
        .select(col("type_a"), col("type_b"), col("n_both"), col("n_a"),
                col("n_b"), col("jaccard_ppm"), col("overlap_ppm"))
    }),
    "q264_degree_distribution" -> ((s, dir) => {
      // Degree distribution + power-law probe (X247): co-purchase node
      // degrees bucketed by bit length (exact log2 tiers), and the
      // log-log slope via Trend.fit's INTEGER sufficient statistics —
      // slope ≈ −α of a power law, r² says whether the tail is power-ish
      // at all. Composes X207's graph with X184's OLS.
      val edges = Graph.coOccurrenceEdgesCached(
        Tables.spread(s, Tables.read(s, dir, "lineitem")),
        "l_orderkey", "l_partkey").localCheckpoint()
      val deg = edges.select(col("src").as("_n"))
        .unionAll(edges.select(col("dst").as("_n")))
        .groupBy(col("_n")).agg(count(lit(1)).as("_d"))
      val dist = deg.groupBy(length(bin(col("_d"))).as("deg_tier"))
        .agg(count(lit(1)).as("n_nodes")).localCheckpoint()
      val fit = Trend.fit(dist.withColumn("_all", lit(1)), Seq("_all"),
                          col("deg_tier"), length(bin(col("n_nodes"))))
        .select(col("slope").as("loglog_slope"), col("r2"))
      dist.crossJoin(broadcast(fit))
    }),
    "q265_rank_normalize" -> ((s, dir) =>
      // Cross-source rank normalization (X248): each document's length
      // mapped to its within-source rank ppm — the quantile-uniform
      // feature transform that makes sources comparable before mixing;
      // cellRank per source (no whole-source sort), key tiebreak so the
      // oracle's row_number agrees rank for rank.
      Profile.cellRank(docs(s, dir).select(col("doc_id"), col("source"),
                                           col("n_chars")),
                       Seq("source"), "n_chars", Seq("doc_id"))
        .withColumn("rank_ppm",
          expr("CASE WHEN _n > 1 THEN (_rank - 1) * 1000000L DIV (_n - 1)" +
               " ELSE 0 END"))
        .select(col("doc_id"), col("source"), col("n_chars"),
                col("rank_ppm"))),
    "q266_row_diff_detail" -> ((s, dir) => {
      // Row-level reconciliation (X249): stage 2 of the anti-entropy sync
      // — INSIDE the buckets q230's checksums flagged, full-outer join the
      // two versions on the key and emit each difference as I/D/U with
      // the sorted changed-column list. At 100 TB both sides are first
      // semi-joined to the (tiny, broadcast) differing-bucket list, so
      // the row join touches only suspect data.
      val v1 = Tables.read(s, dir, "orders")
        .withColumn("cents", expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
      val v2 = v1.filter(col("o_orderkey") % 97 =!= 0)
        .withColumn("o_orderstatus",
                    when(col("o_orderkey") % 101 === 0, lit("X"))
                      .otherwise(col("o_orderstatus")))
        .unionByName(
          v1.filter(col("o_orderkey") % 103 === 0)
            .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "cents",
                     "o_orderdate", "o_orderpriority")
      val dirty = TableDiff.merkleDiff(v1, v2, "o_orderkey", 256, cols)
        .select(col("bucket"))
      def slice(df: DataFrame) =
        df.withColumn("_bkt", pmod(col("o_orderkey"), lit(256)).cast("long"))
          .join(broadcast(dirty), col("_bkt") === col("bucket"), "left_semi")
      val a = slice(v1).select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("st1"), col("cents").as("c1"),
        col("o_custkey").as("ck1"))
      val b = slice(v2).select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("st2"), col("cents").as("c2"),
        col("o_custkey").as("ck2"))
      a.join(b, Seq("k"), "full_outer")
        .withColumn("status",
          when(col("ck1").isNull, lit("I"))
            .when(col("ck2").isNull, lit("D"))
            .when(!(col("st1") <=> col("st2")) || !(col("c1") <=> col("c2")),
                  lit("U")))
        .filter(col("status").isNotNull)
        .withColumn("changed_cols",
          when(col("status") === "U",
            concat_ws(",", array_sort(filter(array(
              when(!(col("st1") <=> col("st2")), lit("o_orderstatus")),
              when(!(col("c1") <=> col("c2")), lit("cents"))),
              x => x.isNotNull)))).otherwise(lit("")))
        .select(col("k").as("o_orderkey"), col("status"), col("changed_cols"))
    }),
    "q267_vector_hygiene" -> ((s, dir) =>
      // Embedding hygiene audit (X250): the pre-index gate — dimension
      // consistency, zero vectors (cosine undefined), NaN/null components,
      // duplicate ids. One columnar pass of array expressions, all exact
      // counts.
      emb(s, dir).agg(
        count(lit(1)).as("n_vecs"),
        countDistinct(size(col("embedding"))).as("n_dim_arities"),
        min(size(col("embedding"))).as("min_dims"),
        max(size(col("embedding"))).as("max_dims"),
        sum(when(expr("forall(embedding, " +
                      "x -> x IS NOT NULL AND x = CAST(0.0 AS FLOAT))"),
                 1L).otherwise(0L)).as("n_zero_vecs"),
        sum(when(expr("exists(embedding, x -> isnan(x) OR x IS NULL)"),
                 1L).otherwise(0L)).as("n_bad_component_vecs"),
        (count(lit(1)) - countDistinct(col("vec_id"))).as("n_dup_ids"))),
    "q268_fold_balance" -> ((s, dir) => {
      // Cross-validation fold balance (X251): deterministic md5 fold
      // assignment + per-(fold, label) counts vs the uniform expectation,
      // deviation in DECIMAL-guarded ppm — the audit that catches a
      // skewed fold before it skews the eval.
      val folds = emb(s, dir).withColumn("fold",
        (conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
           .cast("long") % 5).cast("int"))
      val cells = folds.groupBy(col("fold"), col("label"))
        .agg(count(lit(1)).as("n"))
      val classTotals = folds.groupBy(col("label"))
        .agg(count(lit(1)).as("_ct"))
      cells.join(broadcast(classTotals), Seq("label"))
        .withColumn("dev_ppm", expr(
          "CAST(abs(CAST(n AS DECIMAL(38,0)) * 5 * 1000000 DIV _ct" +
            " - 1000000) AS BIGINT)"))
        .select(col("fold"), col("label"), col("n"), col("_ct").as("class_n"),
                col("dev_ppm"))
    }),
    "q269_skipgrams" -> ((s, dir) => {
      // Skip-gram extraction (X252): (center, context) pair counts within
      // a ±2 token window — the word2vec-style training-data prep.
      // r16: the two positional offset self-joins are ONE doc-keyed
      // window — `tokens` never yields an empty token for non-blank text
      // (split on \s+ after trim; a blank doc's lone sentinel token is
      // filtered whole), so surviving positions stay contiguous and
      // lead(w, off) ≡ the (doc_id, p + off) equi-join; null leads are
      // exactly the missing positions. Pair multiset identical, one
      // shuffle instead of two join exchanges over the token fact.
      // Counts combine map-side; top-50 as TakeOrdered.
      import org.apache.spark.sql.expressions.Window
      val toks = docs(s, dir)
        .select(col("doc_id"),
                posexplode(TextAnalysis.tokens(col("text"))).as(Seq("p", "w")))
        .filter(length(col("w")) > 0)
      val wD = Window.partitionBy(col("doc_id")).orderBy(col("p"))
      val pairs = toks
        .withColumn("_c1", lead(col("w"), 1).over(wD))
        .withColumn("_c2", lead(col("w"), 2).over(wD))
        .select(col("w").as("center"),
                explode(array(col("_c1"), col("_c2"))).as("ctx"))
        .filter(col("ctx").isNotNull)
      // symmetric window: count both directions
      pairs.unionAll(pairs.select(col("ctx").as("center"),
                                  col("center").as("ctx")))
        .groupBy(col("center"), col("ctx"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("n_pairs").desc, col("center").asc, col("ctx").asc)
        .limit(50)
    }),
    "q270_token_zipf" -> ((s, dir) => {
      // Token Zipf profile (X253): frequency tiers by bit length + the
      // log-log OLS slope from integer sufficient statistics — X247's
      // power-law probe pointed at the vocabulary (Zipf says slope < 0,
      // heavy head). Vocabulary-sized after one token rollup.
      val vocab = docs(s, dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("_f"))
      val tiers = vocab.groupBy(length(bin(col("_f"))).as("freq_tier"))
        .agg(count(lit(1)).as("n_terms")).localCheckpoint()
      val fit = Trend.fit(tiers.withColumn("_all", lit(1)), Seq("_all"),
                          col("freq_tier"), length(bin(col("n_terms"))))
        .select(col("slope").as("loglog_slope"), col("r2"))
      tiers.crossJoin(broadcast(fit))
    }),
    "q271_revenue_bridge" -> ((s, dir) => {
      // Revenue bridge (X254): the month-over-month delta decomposed by
      // market segment — per segment both months' cents, the delta, and
      // its share of the total move in ppm (shares sum to 1M by
      // construction; sign-safe via DECIMAL). The finance waterfall table
      // from one fact rollup + a broadcast total.
      val m1 = to_timestamp(lit("2001-06-01"))
      val m2 = to_timestamp(lit("2001-07-01"))
      val o = Tables.read(s, dir, "orders")
        .join(broadcast(Tables.read(s, dir, "customer")
                .select(col("c_custkey"), col("c_mktsegment"))),
              col("o_custkey") === col("c_custkey"))
        .withColumn("m", date_trunc("MONTH", col("o_orderdate")))
        .filter(col("m") === m1 || col("m") === m2)
        .withColumn("cents", expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
      val seg = o.groupBy(col("c_mktsegment"))
        .agg(sum(when(col("m") === m1, col("cents")).otherwise(0L))
               .as("rev1_cents"),
             sum(when(col("m") === m2, col("cents")).otherwise(0L))
               .as("rev2_cents"))
        .withColumn("delta_cents", col("rev2_cents") - col("rev1_cents"))
      val tot = seg.agg(sum(col("delta_cents")).as("_td"))
      // abs-division with an explicit sign: integer division of NEGATIVE
      // values floors in DuckDB but truncates in Spark — dividing
      // magnitudes keeps both engines on the same (truncating) semantics.
      seg.crossJoin(broadcast(tot))
        .withColumn("share_ppm",
          expr("CASE WHEN _td <> 0 THEN" +
               " (CASE WHEN (delta_cents < 0) != (_td < 0)" +
               " THEN -1L ELSE 1L END)" +
               " * (abs(delta_cents) * 1000000L DIV abs(_td)) END"))
        .drop("_td")
    }),
    "q272_window_sweep" -> ((s, dir) => {
      // Attribution-window sensitivity (X255): q258's constrained funnel
      // swept over three click-deadline choices in ONE query — the rows
      // explode to (row, window) BEFORE the per-user windows, so each
      // sweep point gets its own (user, window) partition on a single 3×
      // exchange; the report shows how brittle the conversion count is to
      // the window parameter.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"), col("win_s"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      ev(s, dir)
        .withColumn("win_s", explode(array(lit(900L), lit(3600L),
                                           lit(14400L))))
        .withColumn("_um", unix_micros(col("ts")))
        .withColumn("_lastView",
          last(when(col("event_type") === "view", col("_um")),
               ignoreNulls = true).over(w))
        .withColumn("_qc",
          col("event_type") === "click" && col("_lastView").isNotNull &&
            col("_um") - col("_lastView") <= col("win_s") * 1000000L)
        .withColumn("_lastQc",
          last(when(col("_qc"), col("_um")), ignoreNulls = true).over(w))
        .withColumn("_conv",
          col("event_type") === "purchase" && col("_lastQc").isNotNull &&
            col("_um") - col("_lastQc") <= 24L * 3600L * 1000000L)
        .groupBy(col("win_s"))
        .agg(countDistinct(when(col("_qc"), col("user_id")))
               .as("n_qualified_clickers"),
             countDistinct(when(col("_conv"), col("user_id")))
               .as("n_converted"))
    }),
    "q273_geo_shares" -> ((s, dir) => {
      // Hierarchical percent-of-parent (X256): nation revenue share within
      // its region and region share of total — two bounded-dimension
      // windows over the 25-row geo rollup (DimKey-declared), broadcast
      // dims on the fact join. The drill-down table every BI layer wants.
      import org.apache.spark.sql.expressions.Window
      val geo = Tables.read(s, dir, "customer")
        .join(broadcast(Tables.read(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.read(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("n_name"), col("r_name"))
      val rolled = Tables.read(s, dir, "orders")
        .join(broadcast(geo), col("o_custkey") === col("c_custkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
               .as("rev_cents"))
      val wR = Window.partitionBy(col("r_name"))
      val wAll = Window.partitionBy(graft.functions.DimKey.one)
      rolled
        .withColumn("region_cents", sum(col("rev_cents")).over(wR))
        .withColumn("total_cents", sum(col("rev_cents")).over(wAll))
        .withColumn("nation_in_region_ppm",
          expr("rev_cents * 1000000L DIV region_cents"))
        .withColumn("region_of_total_ppm",
          expr("region_cents * 1000000L DIV total_cents"))
    }),
    "q274_dimension_profile" -> ((s, dir) =>
      // Feature-wise embedding profile (X257): per-dimension min/max/sum
      // in integer micros off one posexplode rollup — the
      // per-feature-scaling audit (which dims are dead, which dominate)
      // beside q267's vector-level hygiene.
      emb(s, dir)
        .select(posexplode(col("embedding")).as(Seq("dim", "x")))
        .withColumn("xm", expr("CAST(floor(CAST(x AS DOUBLE) * 1000000)" +
                               " AS BIGINT)"))
        .groupBy(col("dim"))
        .agg(count(lit(1)).as("n"),
             min(col("xm")).as("min_micro"), max(col("xm")).as("max_micro"),
             sum(col("xm")).as("sum_micro"),
             sum(when(col("xm") === 0L, 1L).otherwise(0L)).as("n_zero"))
        .withColumn("mean_micro_trunc", expr(
          "(CASE WHEN sum_micro < 0 THEN -1L ELSE 1L END)" +
            " * (abs(sum_micro) DIV n)"))),
    "q275_cdc_minimize" -> ((s, dir) => {
      // Changelog minimization (X258): collapse each key's op sequence to
      // its net effect (Flink-style changelog normalization) — I…D with
      // no prior existence vanishes, I…U… nets to I, pre-existing keys
      // net to U or D. One per-key struct-min/max pass; the payload is
      // the last op's. Simulated feed: first-third events are the
      // pre-existing table, the rest arrive as ops (delete when 'error').
      val e = ev(s, dir).withColumn("_third", col("event_id") % 3)
      val preExisting = e.filter(col("_third") === 0)
        .groupBy(col("user_id")).agg(count(lit(1)).as("_dummy"))
        .select(col("user_id")).withColumn("_pre", lit(1L))
      val ops = e.filter(col("_third") =!= 0)
        .withColumn("op", when(col("event_type") === "error", lit("D"))
          .otherwise(lit("U")))
      val netted = ops.groupBy(col("user_id"))
        .agg(max(struct(col("ts"), col("event_id"), col("op"),
                        col("value"))).as("_lastRow"),
             count(lit(1)).as("n_ops"))
        .select(col("user_id"), col("n_ops"),
                col("_lastRow").getField("op").as("_lastOp"),
                col("_lastRow").getField("value").as("last_value"))
      netted.join(preExisting, Seq("user_id"), "left_outer")
        .withColumn("net_op",
          when(col("_pre").isNull && col("_lastOp") === "D", lit(null))
            .when(col("_pre").isNull, lit("I"))
            .when(col("_lastOp") === "D", lit("D"))
            .otherwise(lit("U")))
        .filter(col("net_op").isNotNull)
        .select(col("user_id"), col("net_op"), col("n_ops"),
                when(col("net_op") =!= "D", col("last_value"))
                  .as("last_value"))
    }),
    "q276_weighted_quartiles" -> ((s, dir) =>
      // Weighted quantile ladder (X259): X224's two-phase micro-cell
      // pivots generalized to a percent list — every rung rides the same
      // two passes (the percents explode on the cell rollup, never the
      // fact). Price cents weighted by quantity micros per return flag.
      Profile.weightedQuantiles(
        Tables.spread(s, Tables.read(s, dir, "lineitem"))
          .select(col("l_returnflag"),
                  expr("CAST(floor(l_extendedprice * 100) AS BIGINT)")
                    .as("cents"),
                  expr("CAST(floor(l_quantity * 1000000) AS BIGINT)")
                    .as("qm")),
        "l_returnflag", "cents", "qm", percents = Seq(25, 50, 75, 90))),
    "q277_rate_violations" -> ((s, dir) =>
      // Rate-limit audit (X260): (user, hour) windows exceeding the cap
      // — the throttling report an ingest gateway reconciles against; one
      // combine rollup, violators only, with the worst burst per user.
      ev(s, dir)
        .groupBy(col("user_id"),
                 date_trunc("HOUR", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n_in_hour"))
        .filter(col("n_in_hour") > 1)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_violating_hours"),
             max(col("n_in_hour")).as("worst_burst"),
             sum(col("n_in_hour")).as("events_in_violations"))),
    "q278_id_bridge" -> ((s, dir) => {
      // Identity-bridge stitching (X261): duplicate identities re-map to
      // a canonical id through a (broadcast) bridge table before any
      // per-user analytics — the CDP merge step. Simulated bridge: users
      // ≡3 (mod 7) alias into their predecessor. Report: per canonical
      // id with ≥2 source ids, merged event count vs the largest single
      // source id's count — the re-attribution gain the merge buys.
      val bridge = ev(s, dir).select(col("user_id")).distinct()
        .withColumn("canonical_id",
          when(col("user_id") % 7 === 3, col("user_id") - 1)
            .otherwise(col("user_id")))
      val mapped = ev(s, dir)
        .join(broadcast(bridge), Seq("user_id"))
      val perSource = mapped.groupBy(col("canonical_id"), col("user_id"))
        .agg(count(lit(1)).as("_n"))
      perSource.groupBy(col("canonical_id"))
        .agg(countDistinct(col("user_id")).as("n_source_ids"),
             sum(col("_n")).as("merged_events"),
             max(col("_n")).as("largest_source_events"))
        .filter(col("n_source_ids") >= 2)
        .withColumn("gain_ppm", expr(
          "(merged_events - largest_source_events) * 1000000L" +
            " DIV largest_source_events"))
    }),
    "q279_storage_model" -> ((s, dir) => {
      // Storage cost model (X262): X210's run/NDV statistics priced into
      // bytes — plain (raw string bytes), RLE (runs × (avg value + 8B
      // header)), dictionary (distinct values + index bits via exact bit
      // length) — the $$ column the encoding advisor's verdict implies.
      // All integer arithmetic; the byte rollup shares the fact scan
      // shape with the stats pass.
      val colsq = Seq("event_type", "user_id", "value", "props")
      val enc = Layout.encodingReport(ev(s, dir), "event_id", colsq, 4096L)
      val bytes = colsq.map { c =>
        ev(s, dir).agg(
          coalesce(sum(length(col(c).cast("string"))), lit(0L))
            .as("raw_bytes"))
          .select(lit(c).as("column"), col("raw_bytes"))
      }.reduce(_ unionByName _)
      enc.join(bytes, Seq("column"))
        .withColumn("avg_val_bytes", expr("raw_bytes DIV n_rows"))
        .withColumn("est_rle_bytes",
                    expr("n_runs * (avg_val_bytes + 8)"))
        .withColumn("dict_bits",
                    expr("CASE WHEN ndv <= 1 THEN 1" +
                         " ELSE length(bin(ndv - 1)) END"))
        .withColumn("est_dict_bytes",
          expr("ndv * avg_val_bytes + n_rows * dict_bits DIV 8"))
        .select(col("column"), col("n_rows"), col("ndv"), col("n_runs"),
                col("raw_bytes"), col("est_rle_bytes"),
                col("est_dict_bytes"), col("suggestion"))
    }),
    "q280_seq_patterns" -> ((s, dir) => {
      // Sequential patterns (X263): "A then eventually B" within a
      // session — ordered pair support counted on each type's FIRST
      // occurrence per session (one rollup to session×type, then a
      // session-key self-join of that bounded relation). The gap-tolerant
      // complement of q222's consecutive motifs.
      val sess = Sessionize.assign(ev(s, dir), "user_id", "ts", 30)
        .groupBy(col("user_id"), col("_session"), col("event_type"))
        .agg(min(struct(col("ts"), col("event_id"))).as("_first"))
        .localCheckpoint()
      sess.as("_a").join(sess.as("_b"),
          col("_a.user_id") === col("_b.user_id") &&
            col("_a._session") === col("_b._session") &&
            col("_a.event_type") =!= col("_b.event_type") &&
            col("_a._first") < col("_b._first"))
        .groupBy(col("_a.event_type").as("first_type"),
                 col("_b.event_type").as("then_type"))
        .agg(count(lit(1)).as("n_sessions"))
    }),
    "q281_late_dim_repair" -> ((s, dir) => {
      // Late-arriving dimension repair (X264): facts that arrived before
      // their dimension row exist get the placeholder key, and the repair
      // pass re-resolves them once the dimension catches up — the report
      // quantifies both. Dim v1 = first-half events' SCD2 history; facts
      // = orders keyed into the user space; repair = v2 (full history).
      // Both lookups are the same asOf containment join.
      val all = ev(s, dir)
      val dimV1 = Scd2.initialLoad(
        all.filter(col("event_id") % 2 === 0), evCfg).localCheckpoint()
      val dimV2 = Scd2.initialLoad(all, evCfg).localCheckpoint()
      val facts = Tables.read(s, dir, "orders")
        .select(col("o_orderkey"),
                (col("o_custkey") % 200).as("user_id"),
                expr("timestampadd(DAY, CAST(o_orderkey % 30 AS INT)," +
                     " TIMESTAMP '2024-01-05 00:00:00')").as("ts"))
        .localCheckpoint()
      def matchedStates(dim: DataFrame, out: String) =
        facts.join(dim.select(col("user_id"), col("event_type"),
                              col("_valid_from"), col("_valid_to")),
                   Seq("user_id"))
          .filter(col("_valid_from") <= col("ts") &&
                    col("_valid_to") > col("ts"))
          .groupBy(col("o_orderkey")).agg(max(col("event_type")).as(out))
      facts
        .join(matchedStates(dimV1, "state_v1"), Seq("o_orderkey"),
              "left_outer")
        .join(matchedStates(dimV2, "state_v2"), Seq("o_orderkey"),
              "left_outer")
        .agg(count(lit(1)).as("n_facts"),
             sum(when(col("state_v1").isNull, 1L).otherwise(0L))
               .as("n_placeholder_v1"),
             sum(when(col("state_v1").isNull && col("state_v2").isNotNull,
                      1L).otherwise(0L)).as("n_backfilled"),
             sum(when(col("state_v1").isNotNull && col("state_v2").isNotNull
                        && col("state_v1") =!= col("state_v2"), 1L)
                   .otherwise(0L)).as("n_stale_repaired"),
             sum(when(col("state_v2").isNull, 1L).otherwise(0L))
               .as("n_still_unmatched"))
    }),
    "q282_lsh_recall" -> ((s, dir) => {
      // MinHash-LSH recall (X265): the banding config's MISS rate against
      // the COMPLETE exact ground truth (any J>0 pair shares a shingle,
      // so shared-shingle candidates lose nothing at τ=1/2) — the
      // counterpart of q190's precision; together they price (bands,
      // rows). LSH-verified pairs are a subset of truth by construction,
      // so recall = |LSH| / |truth| and the misses list is an anti-join.
      val truth = Dedup.ngramJaccardPairs(docs(s, dir), "doc_id", "text",
                                          n = 3, tauNum = 1, tauDen = 2)
        .select(col("doc_a"), col("doc_b")).localCheckpoint()
      val lsh = Dedup.minhashLshPairs(docs(s, dir), "doc_id", "text", n = 3,
                                      bands = 4, rows = 3,
                                      tauNum = 1, tauDen = 2)
        .select(col("doc_a"), col("doc_b"))
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(broadcast(lsh.agg(count(lit(1)).as("n_lsh"))))
        .crossJoin(broadcast(
          truth.join(lsh, Seq("doc_a", "doc_b"), "left_anti")
            .agg(count(lit(1)).as("n_missed"))))
        .withColumn("recall_ppm",
          expr("CASE WHEN n_truth > 0 THEN n_lsh * 1000000L DIV n_truth" +
               " ELSE 1000000L END"))
    }),
    "q283_markov_accuracy" -> ((s, dir) => {
      // Markov next-event accuracy (X266): train the transition argmax on
      // the first half-month, score next-event hit rate on the second —
      // the eval that says whether the transition matrix (q87) carries
      // predictive signal. Deterministic argmax via struct-min (count
      // desc, type asc); both phases ride per-user lead windows.
      import org.apache.spark.sql.expressions.Window
      val cut = to_timestamp(lit("2024-01-16"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      def withNext(df: DataFrame) =
        df.withColumn("_next", lead(col("event_type"), 1).over(w))
          .filter(col("_next").isNotNull)
      val model = withNext(ev(s, dir).filter(col("ts") < cut))
        .groupBy(col("event_type"), col("_next"))
        .agg(count(lit(1)).as("_n"))
        .groupBy(col("event_type"))
        .agg(min(struct((-col("_n")).as("_neg"), col("_next").as("_t")))
               .getField("_t").as("predicted"))
      withNext(ev(s, dir).filter(col("ts") >= cut))
        .join(broadcast(model), Seq("event_type"), "left_outer")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_transitions"),
             sum(when(col("_next") === col("predicted"), 1L).otherwise(0L))
               .as("n_hits"))
        .withColumn("acc_ppm", expr("n_hits * 1000000L DIV n_transitions"))
    }),
    "q284_fulfillment_trend" -> ((s, dir) => {
      // Fulfillment percentile trend (X267): exact p50/p90 days from
      // order to last ship per order month — X44 rank selection per
      // month (bounded groups), the ops metric whose drift pages someone.
      val lastShip = Tables.spread(s, Tables.read(s, dir, "lineitem"))
        .groupBy(col("l_orderkey")).agg(max(col("l_shipdate")).as("ship"))
      val days = Tables.read(s, dir, "orders")
        .join(lastShip, col("o_orderkey") === col("l_orderkey"))
        .select(date_trunc("MONTH", col("o_orderdate")).as("order_month"),
                datediff(col("ship").cast("timestamp"),
                         col("o_orderdate").cast("timestamp")).cast("long")
                  .as("d"))
        .filter(col("d") >= 0)
      Profile.discreteQuantiles(days, "order_month", "d",
                                percents = Seq(50, 90))
    }),
    "q285_ltv_curve" -> ((s, dir) => {
      // Cohort LTV curve (X268): cumulative revenue per acquisition
      // cohort by age-in-months — first-order month per customer (one
      // rollup), revenue by (cohort, age) via integer month arithmetic,
      // cumulative over the bounded (cohort × age) grid (per-cohort
      // window). The growth team's payback chart, exact cents.
      import org.apache.spark.sql.expressions.Window
      val o = Tables.read(s, dir, "orders")
        .select(col("o_custkey"),
                date_trunc("MONTH", col("o_orderdate")).as("m"),
                expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
      val cohort = o.groupBy(col("o_custkey")).agg(min(col("m")).as("cohort"))
      val aged = o.join(cohort, Seq("o_custkey"))
        .withColumn("age_months",
          (months_between(col("m"), col("cohort"))).cast("long"))
      val grid = aged.groupBy(col("cohort"), col("age_months"))
        .agg(countDistinct(col("o_custkey")).as("n_active"),
             sum(col("cents")).as("rev_cents"))
      val wC = Window.partitionBy(col("cohort")).orderBy(col("age_months"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.withColumn("cum_rev_cents", sum(col("rev_cents")).over(wC))
    }),
    "q286_constant_columns" -> ((s, dir) => {
      // Drop-candidate audit (X269): columns that are all-NULL, constant,
      // or constant-when-present across the table — the schema-hygiene
      // verdicts a profile implies but nobody reads off it. One combine
      // aggregate per column over the string cast (injective per type).
      val colsq = Tables.read(s, dir, "part").columns.toSeq
      colsq.map { c =>
        Tables.read(s, dir, "part").agg(
          count(lit(1)).as("n_rows"),
          count(col(c)).as("n_present"),
          countDistinct(col(c).cast("string")).as("ndv"))
          .select(lit(c).as("column"), col("n_rows"), col("n_present"),
                  col("ndv"))
          .withColumn("verdict",
            when(col("n_present") === 0, lit("ALL_NULL"))
              .when(col("ndv") === 1 && col("n_present") === col("n_rows"),
                    lit("CONSTANT"))
              .when(col("ndv") === 1, lit("CONSTANT_OR_NULL"))
              .otherwise(lit("KEEP")))
      }.reduce(_ unionByName _)
    }),
    "q287_ann_mrr" -> ((s, dir) => {
      // ANN mean reciprocal rank (X270): where does each query's TRUE
      // nearest neighbor (brute top-1) land in the IVF result list?
      // Reciprocal ranks in truncated integer micros (1M DIV rank —
      // engine-exact, no float division); misses contribute 0. The
      // rank-sensitive companion of q127's set recall.
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 32)
      val truth = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", 1)
        .select(col("query_id"), col("neighbor_id").as("_true_nn"))
      val ivf = Similarity.ivfTopK(q, e, "vec_id", "embedding", k = 10,
                                   c = 16)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
      val rr = truth.join(ivf,
          truth("query_id") === ivf("query_id") &&
            col("_true_nn") === col("neighbor_id"), "left_outer")
        .select(truth("query_id"),
                coalesce(expr("1000000L DIV `rank`"), lit(0L)).as("_rr"))
      rr.agg(count(lit(1)).as("n_queries"),
             sum(when(col("_rr") > 0, 1L).otherwise(0L)).as("n_found"),
             sum(col("_rr")).as("sum_rr_micro"))
        .withColumn("mrr_micro", expr("sum_rr_micro DIV n_queries"))
    }),
    "q288_excess_suppliers" -> ((s, dir) => {
      // Nested semi-join chain (X271, the TPC-H Q20 shape): suppliers
      // responsible for over 5% of the shipped quantity of any 'red'
      // part. The textbook form nests IN-subqueries three deep (the
      // oracle runs it); here each level is one combine rollup or
      // broadcast semi-join and the 5% threshold compares integer
      // cross-products (20·supplier_qty > part_qty in micros).
      val redParts = Tables.read(s, dir, "part")
        .filter(col("p_name").contains("red")).select(col("p_partkey"))
      val li = Tables.spread(s, Tables.read(s, dir, "lineitem"))
        .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("l_suppkey"),
                expr("CAST(floor(l_quantity * 1000000) AS BIGINT)").as("qm"))
        .localCheckpoint()
      val partTotals = li.groupBy(col("l_partkey"))
        .agg(sum(col("qm")).as("_pt"))
      li.groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("qm")).as("_sq"))
        .join(partTotals, Seq("l_partkey"))
        .filter(col("_sq") * 20L > col("_pt"))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_dominated_parts"))
        .join(Tables.read(s, dir, "supplier")
                .select(col("s_suppkey"), col("s_name")),
              col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_dominated_parts"))
    }),
    "q289_seasonal_backtest" -> ((s, dir) => {
      // Forecast backtest (X272): the seasonal-naive predictor (value =
      // same weekday last week) scored against actuals — absolute
      // percentage error in integer ppm per type, counted only where the
      // lag exists. The eval harness that says whether q157's forecast
      // beats the naive floor; one lag window on the bounded (type × day)
      // rollup.
      import org.apache.spark.sql.expressions.Window
      val daily = ev(s, dir)
        .groupBy(col("event_type"), date_trunc("DAY", col("ts")).as("day"))
        .agg(sum(expr("CAST(floor(value * 1000000) AS BIGINT)")).as("t"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      daily.withColumn("pred", lag(col("t"), 7).over(w))
        .filter(col("pred").isNotNull && col("pred") > 0)
        .withColumn("ape_ppm",
                    expr("abs(t - pred) * 1000000L DIV pred"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
             sum(col("ape_ppm")).as("_sum_ape"),
             max(col("ape_ppm")).as("worst_ape_ppm"))
        .withColumn("mape_ppm", expr("_sum_ape DIV n_days"))
        .drop("_sum_ape")
    }),
    "q290_dim_variance" -> ((s, dir) =>
      // Per-dimension variance (X273): the exact integer variance
      // numerator n·Σx² − (Σx)² per embedding dimension (micro-scaled
      // components, no float accumulation) — which dimensions carry
      // signal vs noise before whitening/truncation; q274's second
      // moment.
      emb(s, dir)
        .select(posexplode(col("embedding")).as(Seq("dim", "x")))
        .withColumn("xm", expr("CAST(floor(CAST(x AS DOUBLE) * 1000000)" +
                               " AS BIGINT)"))
        .groupBy(col("dim"))
        .agg(count(lit(1)).as("n"), sum(col("xm")).as("sum_micro"),
             sum(col("xm") * col("xm")).as("sumsq"))
        .withColumn("var_numer", expr(
          "CAST(CAST(n AS DECIMAL(38,0)) * sumsq" +
            " - CAST(sum_micro AS DECIMAL(38,0)) * sum_micro AS BIGINT)"))
        .select(col("dim"), col("n"), col("sum_micro"), col("sumsq"),
                col("var_numer"))),
    "q291_alignment_evidence" -> ((s, dir) => {
      // Near-dup alignment evidence (X274): for each verified near-dup
      // pair, the longest CONTIGUOUS shared shingle run — the diagonal
      // trick from sequence alignment: a shared shingle at positions
      // (pa, pb) lies on diagonal pb−pa; consecutive pa values on one
      // diagonal form a run, and run membership is pa − rank (the
      // gaps-and-islands key). Shingle positions only materialize for
      // pair members (semi-join first), never the corpus.
      import org.apache.spark.sql.expressions.Window
      val pairs = Dedup.minhashLshPairs(docs(s, dir), "doc_id", "text",
                                        n = 3, bands = 4, rows = 3,
                                        tauNum = 1, tauDen = 2)
        .select(col("doc_a"), col("doc_b")).localCheckpoint()
      val members = pairs.select(col("doc_a").as("doc_id"))
        .unionAll(pairs.select(col("doc_b").as("doc_id"))).distinct()
      val sh = docs(s, dir)
        .join(broadcast(members), Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
                posexplode(TextAnalysis.orderedShingles(
                  TextAnalysis.tokens(col("text")), 3)).as(Seq("p", "sh")))
      val shA = sh.select(col("doc_id").as("doc_a"), col("p").as("pa"),
                          col("sh").as("sha"))
      val shB = sh.select(col("doc_id").as("db"), col("p").as("pb"),
                          col("sh").as("shb"))
      // shingle equality INSIDE the join condition: the pair-key AND the
      // shingle hash both become equi-join keys, so the intermediate is
      // |shared shingles| per pair, never |A| x |B|.
      val hits = pairs.join(shA, Seq("doc_a"))
        .join(shB, col("doc_b") === col("db") && col("sha") === col("shb"))
      val wD = Window.partitionBy(col("doc_a"), col("doc_b"),
                                  (col("pb") - col("pa")).as("_diag"))
        .orderBy(col("pa"))
      hits
        .withColumn("_grp", col("pa") - row_number().over(wD))
        .groupBy(col("doc_a"), col("doc_b"), (col("pb") - col("pa")).as("_d"),
                 col("_grp"))
        .agg(count(lit(1)).as("_run"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(max(col("_run")).as("longest_shared_run"),
             sum(col("_run")).as("n_shared_positions"))
    }),
    "q292_lang_vocab_overlap" -> ((s, dir) => {
      // Lexical distance matrix (X275): pairwise vocabulary Jaccard
      // between languages off one distinct (lang, token) projection —
      // the corpus-level language-contamination check (high overlap ⇒
      // mislabeled docs or shared boilerplate).
      val lv = docs(s, dir)
        .select(col("lang"),
                explode(TextAnalysis.tokens(col("text"))).as("w"))
        .filter(length(col("w")) > 0).distinct().localCheckpoint()
      val sizes = lv.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      lv.as("_a").join(lv.as("_b"),
          col("_a.w") === col("_b.w") && col("_a.lang") < col("_b.lang"))
        .groupBy(col("_a.lang").as("lang_a"), col("_b.lang").as("lang_b"))
        .agg(count(lit(1)).as("n_shared"))
        .join(broadcast(sizes.withColumnRenamed("lang", "lang_a")
                .withColumnRenamed("n", "n_a")), Seq("lang_a"))
        .join(broadcast(sizes.withColumnRenamed("lang", "lang_b")
                .withColumnRenamed("n", "n_b")), Seq("lang_b"))
        .withColumn("jaccard_ppm",
          expr("n_shared * 1000000L DIV (n_a + n_b - n_shared)"))
        .select(col("lang_a"), col("lang_b"), col("n_shared"), col("n_a"),
                col("n_b"), col("jaccard_ppm"))
    }),
    "q293_retry_suppression" -> ((s, dir) => {
      // Retry suppression (X276): an event repeating its user's previous
      // (type, value) within 5 seconds is an at-least-once retry, not a
      // signal — suppress it and report per type. One per-user window
      // pass (the ingest-hygiene gate before any metric reads the feed).
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      ev(s, dir)
        .withColumn("_um", unix_micros(col("ts")))
        .withColumn("_retry",
          (lag(col("event_type"), 1).over(w) <=> col("event_type")) &&
            (lag(col("value"), 1).over(w) <=> col("value")) &&
            (col("_um") - lag(col("_um"), 1).over(w) <= 5000000L))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
             sum(when(col("_retry"), 1L).otherwise(0L)).as("n_suppressed"))
        .withColumn("suppressed_ppm",
                    expr("n_suppressed * 1000000L DIV n_events"))
    })
  )

  /** Shared BPE merge table for q210 — rank-ordered, English-shaped; the
    * oracle folds the identical chain (single-pass `replace` semantics are
    * engine-exact either side).
    */
  private val BpeMerges = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n", "e" -> "r",
    "o" -> "n", "r" -> "e", "in" -> "g", "a" -> "t", "e" -> "n")

  /** Sketch/approximate operators: estimator VALUES are engine-specific
    * (no cross-engine oracle can reproduce an HLL register set), so each
    * query emits its exact-reproducible companions PLUS a within-tolerance
    * verdict computed against the exact counterpart (q48 profile, q59
    * quantiles, q47 rollup) — the oracle asserts the verdict is TRUE, which
    * makes the estimator's error contract driver-visible instead of
    * `no_oracle`. Raw estimates stay spec-asserted in `sbt test`.
    */
  private def sketchQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q96_profile_approx" -> ((s, dir) => {
      // HLL scale path of the q48 profiler: one pass, no Expand, no
      // per-column distinct shuffle. The exact profile (q48's plan) supplies
      // the NDV ground truth; ndv_ok asserts |approx - exact| <= 10% + 2
      // (HLL++ rsd 0.05 => ~2-sigma relative band, +2 absorbs the exact-mode
      // boundary at tiny cardinalities).
      val df = Tables.spread(s, Tables.read(s, dir, "lineitem"))
      val approx = Profile.profileApprox(df, LineitemCols)
        .select(col("column"), col("n_distinct").as("_approx"))
      Profile.profile(df, LineitemCols)
        .join(broadcast(approx), Seq("column"))
        .withColumn("ndv_ok",
                    abs(col("_approx") - col("n_distinct")) * 10 <=
                      col("n_distinct") + lit(20))
        .drop("_approx")
    }),
    "q97_quantiles_approx" -> ((s, dir) => {
      // Sketch counterpart of q59: percentile_approx per event type — one
      // combine-enabled aggregate instead of a per-group sort. The GK
      // sketch guarantees rank error <= n/accuracy and returns an observed
      // value, so the check is rank-interval intersection: the returned
      // value's rank span [lt+1, le] must meet [k-err, k+err].
      val acc = 10000
      val e = ev(s, dir).select(col("event_type"), col("value"))
        .filter(col("value").isNotNull)
      val approx = e.groupBy("event_type")
        .agg(percentile_approx(col("value"),
                               array(lit(0.5), lit(0.9), lit(0.99)),
                               lit(acc)).as("ap"))
      val targets = approx.select(col("event_type"),
          explode(array(Seq((50, 0), (90, 1), (99, 2)).map { case (p, i) =>
            struct(lit(p).as("q"), col("ap").getItem(i).as("v"))
          }: _*)).as("t"))
        .select(col("event_type"), col("t.q"), col("t.v"))
      e.join(broadcast(targets), Seq("event_type"))
        .groupBy("event_type", "q")
        .agg(count(lit(1)).as("n"),
             sum(when(col("value") < col("v"), 1L).otherwise(0L)).as("_lt"),
             sum(when(col("value") <= col("v"), 1L).otherwise(0L)).as("_le"))
        .withColumn("_k", expr("(n * q + 99) DIV 100")) // ceil(n*q/100)
        .withColumn("_err", expr(s"n DIV $acc + 1"))
        .withColumn("rank_ok",
                    col("_lt") + 1 <= col("_k") + col("_err") &&
                      col("_le") >= col("_k") - col("_err"))
        .select(col("event_type"), col("q"), col("n"), col("rank_ok"))
    }),
    "q98_hll_union" -> ((s, dir) => {
      // Mergeable distinct sketches (Apache DataSketches HLL): per-day
      // per-type user sketches built once, then UNIONED per type — the
      // re-aggregatable rollup a 100 TB daily pipeline stores instead of
      // raw user sets (exact distinct does not merge; sketches do).
      // ndv_ok: the union's estimate within 5% of exact distinct (default
      // lgK=12 => rsd 1.6%, so 5% ~= 3 sigma).
      val daily = ev(s, dir)
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"),
             count(lit(1)).as("n_events"))
      val approx = daily
        .groupBy("event_type")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("_est"),
             sum(col("n_events")).as("n_events"),
             count(lit(1)).as("n_days"))
      val exact = ev(s, dir).groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("_exact"))
      approx.join(broadcast(exact), Seq("event_type"))
        .withColumn("ndv_ok",
                    abs(col("_est") - col("_exact")) * 20 <= col("_exact"))
        .select("event_type", "n_events", "n_days", "ndv_ok")
    })
  )

  private val Bm25Terms = Seq("spark", "merge", "window")

  private val LineitemCols = Seq(
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    "l_shipdate")

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.spread(s, Tables.read(s, dir, "documents"))

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "embeddings")

  // Shared DuckDB fragments. `ts` is TIMESTAMP_NS in DuckDB; CAST floors to
  // microseconds exactly like the Spark-side `timestamp_micros(ts div 1000)`.
  private[graft] val SrcCte =
    "src AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events)"
  private val SrcDelCte =
    "src AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props, " +
      "CASE WHEN event_type = 'error' THEN CAST(ts AS TIMESTAMP) END AS deleted_at FROM events)"

  /** Full-refresh SCD2 over `src`, DuckDB-side. Mirrors
    * get_initial_load_scd2_sql.sql with the same md5 surrogate hashing so the
    * kept-row set matches exactly.
    */
  private[graft] def scd2FullSql(checkCols: Seq[String],
                          deletes: Boolean,
                          from: String = "src"): String = {
    val hash = "md5(concat_ws('-', " +
      checkCols.map(c => s"coalesce(CAST($c AS VARCHAR), '')").mkString(", ") + "))"
    val delCol = if (deletes) ", deleted_at" else ""
    val validFrom =
      if (deletes)
        """CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
          | THEN coalesce(deleted_at, ts) ELSE ts END""".stripMargin
      else "ts"
    val changeType =
      if (deletes)
        """CASE WHEN deleted_at IS NOT NULL THEN 'D'
          | WHEN row_number() OVER (PARTITION BY user_id ORDER BY ts) = 1 THEN 'I'
          | WHEN lag(deleted_at) OVER (PARTITION BY user_id ORDER BY ts) IS NOT NULL THEN 'I'
          | ELSE 'U' END""".stripMargin
      else
        "CASE WHEN row_number() OVER (PARTITION BY user_id ORDER BY ts) = 1 THEN 'I' ELSE 'U' END"
    s"""hashed AS (
       |  SELECT *, $hash AS _h FROM $from
       |), dedup AS (
       |  SELECT * FROM hashed
       |  QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY _h) = 1
       |), changes_only AS (
       |  SELECT * FROM (
       |    SELECT *, lag(_h) OVER (PARTITION BY user_id ORDER BY ts) AS _ph FROM dedup
       |  ) WHERE _ph IS NULL OR _h <> _ph
       |)
       |SELECT event_id, ts, user_id, event_type, value, props$delCol,
       |  (row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) = 1) AS _is_current,
       |  $validFrom AS _valid_from,
       |  coalesce(lead(ts) OVER (PARTITION BY user_id ORDER BY ts),
       |           TIMESTAMP '2999-12-31 23:59:59') AS _valid_to,
       |  $changeType AS _change_type
       |FROM changes_only""".stripMargin
  }

  private[graft] val AllCheck = Seq("event_type", "value", "props")

  /** Two-phase SCD2 simulation, DuckDB-side: initial load over `targetWhere`
    * rows, then an incremental run with the `deltaWhere` rows.
    *
    * NOT simply a full refresh over everything: the initial load already
    * discarded rows whose content matched their (then-)predecessor, and a
    * discarded version can never be resurrected by a later batch — the
    * reference behaves identically (only persisted history + the new batch
    * feed the merge). So the oracle is: changes-only filter over the target
    * half, union the delta, conditional-change-event run collapse (earliest
    * updated_at wins; no loaded_at here), audit columns over the canonical
    * timeline.
    */
  private def scd2TwoPhaseSql(checkCols: Seq[String],
                              deletes: Boolean,
                              targetWhere: String,
                              deltaWhere: String): String = {
    val hash = "md5(concat_ws('-', " +
      checkCols.map(c => s"coalesce(CAST($c AS VARCHAR), '')").mkString(", ") + "))"
    val delCol = if (deletes) ", deleted_at" else ""
    val validFrom =
      if (deletes)
        """CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
          | THEN coalesce(deleted_at, ts) ELSE ts END""".stripMargin
      else "ts"
    val changeType =
      if (deletes)
        """CASE WHEN deleted_at IS NOT NULL THEN 'D'
          | WHEN row_number() OVER (PARTITION BY user_id ORDER BY ts) = 1 THEN 'I'
          | WHEN lag(deleted_at) OVER (PARTITION BY user_id ORDER BY ts) IS NOT NULL THEN 'I'
          | ELSE 'U' END""".stripMargin
      else
        "CASE WHEN row_number() OVER (PARTITION BY user_id ORDER BY ts) = 1 THEN 'I' ELSE 'U' END"
    s"""h0 AS (SELECT *, $hash AS _h FROM src WHERE $targetWhere),
       |kept0 AS (
       |  SELECT * EXCLUDE (_ph) FROM (
       |    SELECT *, lag(_h) OVER (PARTITION BY user_id ORDER BY ts) AS _ph FROM h0
       |  ) WHERE _ph IS NULL OR _h <> _ph
       |),
       |d1 AS (SELECT *, $hash AS _h FROM src WHERE $deltaWhere),
       |u AS (SELECT * FROM kept0 UNION ALL SELECT * FROM d1),
       |chg AS (
       |  SELECT *, CASE WHEN lag(_h) OVER w IS NULL THEN 0
       |                 WHEN _h <> lag(_h) OVER w THEN 1 ELSE 0 END AS _c
       |  FROM u WINDOW w AS (PARTITION BY user_id ORDER BY ts)
       |),
       |runs AS (
       |  SELECT *, sum(_c) OVER (PARTITION BY user_id ORDER BY ts
       |                          ROWS UNBOUNDED PRECEDING) AS _run
       |  FROM chg
       |),
       |collapsed AS (
       |  SELECT * FROM runs
       |  QUALIFY row_number() OVER (PARTITION BY user_id, _run ORDER BY ts) = 1
       |)
       |SELECT event_id, ts, user_id, event_type, value, props$delCol,
       |  (row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) = 1) AS _is_current,
       |  $validFrom AS _valid_from,
       |  coalesce(lead(ts) OVER (PARTITION BY user_id ORDER BY ts),
       |           TIMESTAMP '2999-12-31 23:59:59') AS _valid_to,
       |  $changeType AS _change_type
       |FROM collapsed""".stripMargin
  }

  /** Three-phase SCD2 simulation: initial load over `w0` rows, then two
    * consecutive incremental runs (`w1`, then `w2`). Chains the two-phase
    * construction: each run's persisted set is the run-collapsed union of
    * the PREVIOUS kept set and the new batch — rows collapsed away in run 1
    * never resurrect in run 2, exactly like the engine.
    */
  private def scd2ThreePhaseSql(checkCols: Seq[String],
                                w0: String, w1: String, w2: String,
                                deletes: Boolean = false): String = {
    val hash = "md5(concat_ws('-', " +
      checkCols.map(c => s"coalesce(CAST($c AS VARCHAR), '')").mkString(", ") + "))"
    val delCol = if (deletes) ", deleted_at" else ""
    val cols = s"event_id, ts, user_id, event_type, value, props$delCol"
    val validFrom =
      if (deletes)
        """CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
          | THEN coalesce(deleted_at, ts) ELSE ts END""".stripMargin
      else "ts"
    val changeType =
      if (deletes)
        """CASE WHEN deleted_at IS NOT NULL THEN 'D'
          | WHEN row_number() OVER (PARTITION BY user_id ORDER BY ts) = 1 THEN 'I'
          | WHEN lag(deleted_at) OVER (PARTITION BY user_id ORDER BY ts) IS NOT NULL THEN 'I'
          | ELSE 'U' END""".stripMargin
      else
        "CASE WHEN row_number() OVER (PARTITION BY user_id ORDER BY ts) = 1 THEN 'I' ELSE 'U' END"
    def collapse(i: Int, from: String): String =
      s"""chg$i AS (
         |  SELECT *, CASE WHEN lag(_h) OVER w IS NULL THEN 0
         |                 WHEN _h <> lag(_h) OVER w THEN 1 ELSE 0 END AS _c
         |  FROM $from WINDOW w AS (PARTITION BY user_id ORDER BY ts)
         |),
         |runs$i AS (
         |  SELECT *, sum(_c) OVER (PARTITION BY user_id ORDER BY ts
         |                          ROWS UNBOUNDED PRECEDING) AS _run
         |  FROM chg$i
         |),
         |k$i AS (
         |  SELECT $cols, _h FROM runs$i
         |  QUALIFY row_number() OVER (PARTITION BY user_id, _run ORDER BY ts) = 1
         |)""".stripMargin
    s"""h0 AS (SELECT *, $hash AS _h FROM src WHERE $w0),
       |kept0 AS (
       |  SELECT * EXCLUDE (_ph) FROM (
       |    SELECT *, lag(_h) OVER (PARTITION BY user_id ORDER BY ts) AS _ph FROM h0
       |  ) WHERE _ph IS NULL OR _h <> _ph
       |),
       |d1 AS (SELECT *, $hash AS _h FROM src WHERE $w1),
       |u1 AS (SELECT $cols, _h FROM kept0
       |       UNION ALL SELECT $cols, _h FROM d1),
       |${collapse(1, "u1")},
       |d2 AS (SELECT *, $hash AS _h FROM src WHERE $w2),
       |u2 AS (SELECT * FROM k1
       |       UNION ALL SELECT $cols, _h FROM d2),
       |${collapse(2, "u2")}
       |SELECT $cols,
       |  (row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) = 1) AS _is_current,
       |  $validFrom AS _valid_from,
       |  coalesce(lead(ts) OVER (PARTITION BY user_id ORDER BY ts),
       |           TIMESTAMP '2999-12-31 23:59:59') AS _valid_to,
       |  $changeType AS _change_type
       |FROM k2""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Round-6 queries (X277+). Separate map: baseQueries' single Map(...)
  // call site is near the JVM 64 KB method bytecode ceiling.
  // ---------------------------------------------------------------------
  private def r6Queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q294_benford" -> ((s, dir) => {
      // Benford first-digit audit (X277): leading digit of the line price
      // in cents vs Benford's law. The expectation log10(1+1/d) is
      // pre-truncated to integer ppm CONSTANTS (identical literals in both
      // engines — no runtime float log), so the whole report is exact
      // integer arithmetic: one 9-row rollup, a broadcast of the 9-row
      // expectation, and a bounded-dim window for the total.
      import s.implicits._
      val expected = Seq(1 -> 301029L, 2 -> 176091L, 3 -> 124938L,
                         4 -> 96910L, 5 -> 79181L, 6 -> 66946L,
                         7 -> 57991L, 8 -> 51152L, 9 -> 45757L)
        .toDF("digit", "expected_ppm")
      val byDigit = Tables.read(s, dir, "lineitem")
        .select(expr("CAST(floor(l_extendedprice * 100) AS BIGINT)")
          .as("cents"))
        .filter(col("cents") > 0L)
        .select(substring(col("cents").cast("string"), 1, 1).cast("int")
          .as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(graft.functions.DimKey.one)
      byDigit
        .withColumn("_tot", sum(col("n")).over(w))
        .join(broadcast(expected), Seq("digit"))
        .withColumn("actual_ppm", expr("n * 1000000L DIV _tot"))
        .select(col("digit"), col("n"), col("actual_ppm"),
                col("expected_ppm"),
                abs(col("actual_ppm") - col("expected_ppm"))
                  .as("deviation_ppm"))
    }),
    "q295_corr_moments" -> ((s, dir) => {
      // Pairwise Pearson sufficient statistics (X278): ONE combine
      // aggregate computes every moment (4 sums, 4 sums of squares, 6
      // cross-products) over overflow-safe integer units; the 6-pair
      // "correlation matrix" is then a literal stack over the single
      // result row — no second scan, no per-pair job. The covariance /
      // variance NUMERATORS (n·Σxy − Σx·Σy) exceed int64 at scale, so
      // they compute in DECIMAL(38,0) and ship as digit STRINGS — exact
      // in both engines (DuckDB prints HUGEINT identically). corr itself
      // needs a sqrt, so the exact report stops at the numerators: any
      // reader can finish r = cov/√(varx·vary) in their own precision.
      val li = Tables.read(s, dir, "lineitem").select(
        expr("CAST(floor(l_quantity * 100) AS BIGINT)").as("q"),
        expr("CAST(floor(l_extendedprice) AS BIGINT)").as("p"),
        expr("CAST(floor(l_discount * 1000) AS BIGINT)").as("d"),
        expr("CAST(floor(l_tax * 1000) AS BIGINT)").as("t"))
      li.agg(
          count(lit(1)).as("n"),
          sum(col("q")).as("sq"), sum(col("p")).as("sp"),
          sum(col("d")).as("sd"), sum(col("t")).as("st"),
          sum(col("q") * col("q")).as("sqq"),
          sum(col("p") * col("p")).as("spp"),
          sum(col("d") * col("d")).as("sdd"),
          sum(col("t") * col("t")).as("stt"),
          sum(col("q") * col("p")).as("sqp"),
          sum(col("q") * col("d")).as("sqd"),
          sum(col("q") * col("t")).as("sqt"),
          sum(col("p") * col("d")).as("spd"),
          sum(col("p") * col("t")).as("spt"),
          sum(col("d") * col("t")).as("sdt"))
        .selectExpr("n", "stack(6, " +
          "'quantity', 'price',    sq, sp, sqq, spp, sqp, " +
          "'quantity', 'discount', sq, sd, sqq, sdd, sqd, " +
          "'quantity', 'tax',      sq, st, sqq, stt, sqt, " +
          "'price',    'discount', sp, sd, spp, sdd, spd, " +
          "'price',    'tax',      sp, st, spp, stt, spt, " +
          "'discount', 'tax',      sd, st, sdd, stt, sdt) " +
          "AS (x_name, y_name, sx, sy, sxx, syy, sxy)")
        .selectExpr("x_name", "y_name", "n", "sx", "sy", "sxx", "syy",
          "sxy",
          "CAST(CAST(n AS DECIMAL(38,0)) * sxy" +
            " - CAST(sx AS DECIMAL(38,0)) * sy AS STRING) AS cov_numer",
          "CAST(CAST(n AS DECIMAL(38,0)) * sxx" +
            " - CAST(sx AS DECIMAL(38,0)) * sx AS STRING) AS varx_numer",
          "CAST(CAST(n AS DECIMAL(38,0)) * syy" +
            " - CAST(sy AS DECIMAL(38,0)) * sy AS STRING) AS vary_numer")
    }),
    "q296_ri_scorecard" -> ((s, dir) => {
      // Referential-integrity scorecard (X279): every FK edge of the star
      // (plus the documents↔embeddings bridge) audited in one report —
      // child volume, orphan rows (FK with no parent), orphan ppm. Each
      // edge first COLLAPSES the child to distinct FK values (counts
      // carried), so the anti-join probes |distinct keys| rows, never the
      // fact; parent key sets join at dictionary size. The 8 one-row
      // results union into the scorecard.
      def edge(name: String, child: DataFrame, fk: String,
               parent: DataFrame, pk: String): DataFrame = {
        val keys = child.select(col(fk).as("_k")).groupBy(col("_k"))
          .agg(count(lit(1)).as("_n"))
        val orphans = keys.join(parent.select(col(pk).as("_k")).distinct(),
                                Seq("_k"), "left_anti")
        keys.agg(coalesce(sum(col("_n")), lit(0L)).as("n_child")).crossJoin(
            orphans.agg(coalesce(sum(col("_n")), lit(0L)).as("n_orphans")))
          .select(lit(name).as("edge"), col("n_child"), col("n_orphans"),
                  expr("n_orphans * 1000000L DIV n_child").as("orphan_ppm"))
      }
      val li = Tables.read(s, dir, "lineitem")
      val ord = Tables.read(s, dir, "orders")
      val cust = Tables.read(s, dir, "customer")
      val supp = Tables.read(s, dir, "supplier")
      val nat = Tables.read(s, dir, "nation")
      Seq(
        edge("lineitem->orders", li, "l_orderkey", ord, "o_orderkey"),
        edge("lineitem->part", li, "l_partkey",
             Tables.read(s, dir, "part"), "p_partkey"),
        edge("lineitem->supplier", li, "l_suppkey", supp, "s_suppkey"),
        edge("orders->customer", ord, "o_custkey", cust, "c_custkey"),
        edge("customer->nation", cust, "c_nationkey", nat, "n_nationkey"),
        edge("supplier->nation", supp, "s_nationkey", nat, "n_nationkey"),
        edge("nation->region", nat, "n_regionkey",
             Tables.read(s, dir, "region"), "r_regionkey"),
        edge("embeddings->documents", emb(s, dir), "vec_id",
             docs(s, dir), "doc_id"))
        .reduce(_ unionAll _)
    }),
    "q297_min_cost_supplier" -> ((s, dir) => {
      // Min-cost supplier per part (X280, the TPC-H Q2 shape): for every
      // SMALL-type part, the EUROPE supplier with the cheapest observed
      // unit price. The classic correlated MIN subquery decorrelates to
      // ONE (part, supplier) rollup; the per-part winner is a struct-min
      // (price ties break to the smallest suppkey) — no re-probe join
      // back onto the fact. Unit price is integer micros via DIV, exact
      // in both engines; dimensions broadcast onto the fact scan.
      val nat = Tables.read(s, dir, "nation")
        .join(Tables.read(s, dir, "region"),
              col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "EUROPE")
        .select(col("n_nationkey"), col("n_name"))
      val supp = Tables.read(s, dir, "supplier")
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name"))
      val parts = Tables.read(s, dir, "part")
        .filter(col("p_type") === "SMALL")
        .select(col("p_partkey"), col("p_name"))
      Tables.read(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"),
          expr("CAST(floor(l_extendedprice * 100) AS BIGINT) * 1000000L" +
               " DIV CAST(floor(l_quantity * 100) AS BIGINT)").as("up"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_partkey"), col("p_name"), col("s_suppkey"),
                 col("s_name"), col("n_name"))
        .agg(min(col("up")).as("up_micro"))
        .groupBy(col("p_partkey"), col("p_name"))
        .agg(min(struct(col("up_micro"), col("s_suppkey"), col("s_name"),
                        col("n_name"))).as("_w"))
        .select(col("p_partkey"), col("p_name"),
                col("_w.up_micro").as("up_micro"),
                col("_w.s_suppkey").as("s_suppkey"),
                col("_w.s_name").as("s_name"),
                col("_w.n_name").as("n_name"))
    }),
    "q298_part_value_share" -> ((s, dir) => {
      // Part value concentration (X281, the TPC-H Q11 shape): parts whose
      // revenue from NATION_7 suppliers exceeds 1/2000 of that nation's
      // total. HAVING-over-global-total decorrelates to one per-part
      // rollup (localCheckpoint reused by both the scalar total and the
      // filter — the fact scans once); the threshold is integer
      // cross-multiplied (2000·part > total), no division in the filter.
      val supp = Tables.read(s, dir, "supplier")
        .join(broadcast(Tables.read(s, dir, "nation")
                .filter(col("n_name") === "NATION_7")
                .select(col("n_nationkey"))),
              col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      val rollup = Tables.read(s, dir, "lineitem")
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey").as("p_partkey"))
        .agg(sum(expr("CAST(floor(l_extendedprice * 100) AS BIGINT)"))
          .as("value_cents"))
        .select(col("p_partkey"), col("value_cents"))
        .localCheckpoint()
      rollup
        .crossJoin(broadcast(
          rollup.agg(sum(col("value_cents")).as("_total"))))
        .filter(lit(2000L) * col("value_cents") > col("_total"))
        .select(col("p_partkey"), col("value_cents"),
                expr("value_cents * 1000000L DIV _total").as("share_ppm"))
    }),
    "q299_top_supplier" -> ((s, dir) => {
      // Top supplier by windowed revenue, ties kept (X282, the TPC-H Q15
      // shape): discounted revenue per supplier over one shipdate
      // quarter, then every supplier matching the scalar max. The view +
      // correlated max decorrelates to a checkpointed rollup reused by
      // both sides; revenue is exact integer milli-cents
      // (cents·(1000−disc_milli)); the supplier dimension broadcasts
      // onto the 1-row-per-supplier result, never the fact.
      val rollup = Tables.read(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
                col("l_shipdate") < lit("1996-04-01"))
        .groupBy(col("l_suppkey"))
        .agg(sum(expr("CAST(floor(l_extendedprice * 100) AS BIGINT)" +
                      " * (1000L - CAST(floor(l_discount * 1000) AS BIGINT))"))
          .as("rev_mc"))
        .localCheckpoint()
      rollup
        .crossJoin(broadcast(rollup.agg(max(col("rev_mc")).as("_mx"))))
        .filter(col("rev_mc") === col("_mx"))
        .join(broadcast(Tables.read(s, dir, "supplier")
                .select(col("s_suppkey"), col("s_name"))),
              col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("rev_mc"))
    }),
    "q300_supplier_variety" -> ((s, dir) => {
      // Supplier variety per part segment (X283, the TPC-H Q16 shape):
      // distinct suppliers serving each (brand, type, size) outside one
      // excluded brand, with negative-balance suppliers NOT-IN'd out.
      // The NOT IN decorrelates to a broadcast anti-join BEFORE the
      // distinct rollup; the distinct collapses (segment, supplier) pairs
      // map-side, so the exchange carries pairs, not lineitems.
      val badSupp = Tables.read(s, dir, "supplier")
        .filter(col("s_acctbal") < 0.0).select(col("s_suppkey"))
      val parts = Tables.read(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#1" && col("p_size") <= 25)
        .select(col("p_partkey"), col("p_brand"), col("p_type"),
                col("p_size"))
      Tables.read(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"))
        .join(broadcast(badSupp), col("l_suppkey") === col("s_suppkey"),
              "left_anti")
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"), col("p_type"), col("p_size"),
                col("l_suppkey")).distinct()
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(count(lit(1)).as("supplier_cnt"))
    }),
    "q301_double_charge" -> ((s, dir) => {
      // Band self-join without a range explosion (X284): two purchases by
      // the same user within 10 minutes — the double-charge audit. The
      // naive form is an inequality self-join (quadratic per user);
      // `Intervals.pointBandSelfJoin` buckets each event to its 600 s
      // chunk and candidates come from TWO equi-joins (same + adjacent
      // chunk), so every true pair appears in exactly one stream.
      Intervals.pointBandSelfJoin(
          ev(s, dir).filter(col("event_type") === "purchase"),
          keys = Seq("user_id"), idCol = "event_id", tsCol = "ts",
          bandUs = 600000000L)
        .select(col("user_id"), col("id_a").as("event_a"),
                col("id_b").as("event_b"), col("gap_us"))
    }),
    "q302_hazard_rate" -> ((s, dir) => {
      // Discrete survival hazard (X285): users collapse to (first, last)
      // activity in one combine rollup; observed lifetime buckets to
      // tenure weeks; week w's at-risk population is the suffix sum over
      // the BOUNDED week dimension (reverse-cumulative window over tens
      // of rows) — the retention curve's actuarial complement, exact
      // integers throughout.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(graft.functions.DimKey.one)
        .orderBy(col("week").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev(s, dir).groupBy(col("user_id"))
        .agg(min(unix_micros(col("ts"))).as("fu"),
             max(unix_micros(col("ts"))).as("lu"))
        .select(expr("(lu - fu) DIV 604800000000L").as("week"))
        .groupBy(col("week")).agg(count(lit(1)).as("n_churned"))
        .withColumn("n_at_risk", sum(col("n_churned")).over(w))
        .select(col("week"), col("n_churned"), col("n_at_risk"),
                expr("n_churned * 1000000L DIV n_at_risk").as("hazard_ppm"))
    }),
    "q303_partition_advisor" -> ((s, dir) => {
      // Shuffle-partition advisor (X286): per table, exact row count +
      // estimated uncompressed bytes from fixed type widths and measured
      // string/array lengths, then the 128 MiB-target partition count the
      // session should use for a shuffle of that relation — the
      // boilerplate every job hand-tunes, derived from the data instead.
      def t(name: String, df: DataFrame, rowBytes: Column): DataFrame =
        df.agg(count(lit(1)).as("n_rows"),
               coalesce(sum(rowBytes.cast("long")), lit(0L)).as("est_bytes"))
          .select(lit(name).as("table_name"), col("n_rows"),
                  col("est_bytes"),
                  expr("(est_bytes + 134217727L) DIV 134217728L")
                    .as("target_partitions"))
      def ol(c: String): Column = octet_length(col(c))
      Seq(
        t("region", Tables.read(s, dir, "region"), lit(4) + ol("r_name")),
        t("nation", Tables.read(s, dir, "nation"),
          lit(8) + ol("n_name")),
        t("customer", Tables.read(s, dir, "customer"),
          lit(20) + ol("c_name") + ol("c_mktsegment")),
        t("supplier", Tables.read(s, dir, "supplier"),
          lit(20) + ol("s_name")),
        t("part", Tables.read(s, dir, "part"),
          lit(20) + ol("p_name") + ol("p_brand") + ol("p_type")),
        t("orders", Tables.read(s, dir, "orders"),
          lit(32) + ol("o_orderstatus") + ol("o_orderpriority")),
        t("lineitem", Tables.read(s, dir, "lineitem"),
          lit(68) + ol("l_returnflag") + ol("l_linestatus")),
        t("events", ev(s, dir),
          lit(32) + ol("event_type") + ol("props")),
        t("documents", docs(s, dir),
          lit(16) + ol("text") + ol("lang") + ol("source")),
        t("embeddings", emb(s, dir),
          lit(12) + size(col("embedding")) * 4))
        .reduce(_ unionAll _)
    }),
    "q304_context_windows" -> ((s, dir) => {
      // LM context-window carving (X287): fixed 32-token windows, stride
      // 16, per document — the training-example prep that turns a ragged
      // corpus into equal-length sequences. Window starts enumerate as a
      // per-row `sequence` BEFORE the explode, the window content hashes
      // to a fingerprint in the same projection, so the output is one
      // narrow row per window, never one per token.
      docs(s, dir)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 32)
        .select(col("doc_id"), col("t"),
                explode(sequence(lit(0),
                  expr("CAST((size(t) - 32) DIV 16 AS INT)"))).as("wi"))
        .select(col("doc_id"), col("wi").cast("long").as("win_idx"),
                md5(concat_ws(" ",
                  slice(col("t"), col("wi") * 16 + 1, lit(32))))
                  .as("fingerprint"))
    }),
    "q305_negative_sampling" -> ((s, dir) => {
      // Deterministic negative sampling (X288): each distinct skip-gram
      // positive (center, context) draws k=2 negatives by hashing
      // (center, context, j) into the frequency-ranked vocabulary —
      // word2vec training-table prep with NO RNG, so every engine and
      // every rerun emits the identical sample. The vocabulary index is
      // one bounded-dim window; negatives resolve by equi-join on the
      // hashed index, never a scan.
      import org.apache.spark.sql.expressions.Window
      val toks = docs(s, dir)
        .select(col("doc_id"),
                posexplode(TextAnalysis.tokens(col("text"))).as(Seq("p", "w")))
        .filter(length(col("w")) > 0)
        .localCheckpoint()
      // r16: one doc-keyed lead window replaces the two positional
      // offset self-joins — same multiset, one shuffle (see q269's note;
      // positions are contiguous because `tokens` cannot emit an empty
      // token for non-blank text).
      val wD = Window.partitionBy(col("doc_id")).orderBy(col("p"))
      val pairs = toks
        .withColumn("_c1", lead(col("w"), 1).over(wD))
        .withColumn("_c2", lead(col("w"), 2).over(wD))
        .select(col("w").as("center"),
                explode(array(col("_c1"), col("_c2"))).as("ctx"))
        .filter(col("ctx").isNotNull)
      val sym = pairs.unionAll(pairs.select(col("ctx").as("center"),
                                            col("center").as("ctx")))
        .groupBy(col("center"), col("ctx")).agg(count(lit(1)).as("n"))
        .localCheckpoint()
      val vocab = toks.groupBy(col("w")).agg(count(lit(1)).as("_cnt"))
        .withColumn("idx",
          row_number().over(Window.partitionBy(graft.functions.DimKey.one)
            .orderBy(col("_cnt").desc, col("w"))).cast("long") - 1L)
        .select(col("idx"), col("w")).localCheckpoint()
      val negs = sym.select(col("center"), col("ctx"))
        .crossJoin(broadcast(vocab.agg(count(lit(1)).as("_v"))))
        .select(col("center"), col("ctx"),
                explode(array(lit(0), lit(1))).as("j"), col("_v"))
        .withColumn("idx",
          conv(substring(md5(concat_ws("#", col("center"), col("ctx"),
                                       col("j"))), 1, 15), 16, 10)
            .cast("long") % col("_v"))
        .join(vocab, Seq("idx"))
        .select(col("center"), col("w").as("word"))
        .groupBy(col("center"), col("word"))
        .agg(count(lit(1)).as("n_samples"))
        .select(col("center"), col("word"), lit(0).as("label"),
                col("n_samples"))
      sym.select(col("center"), col("ctx").as("word"), lit(1).as("label"),
                 col("n").as("n_samples"))
        .unionAll(negs)
    }),
    "q306_brand_diversity" -> ((s, dir) => {
      // Supply diversity index (X289): Simpson's index of the brand mix
      // each nation's suppliers ship, exact in ppm via the pair-counting
      // identity Σnᵢ(nᵢ−1) / N(N−1) — no squared-share floats. One
      // (nation, brand) rollup off the fact; dimensions broadcast.
      val supp = Tables.read(s, dir, "supplier")
        .join(broadcast(Tables.read(s, dir, "nation")),
              col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      Tables.read(s, dir, "lineitem")
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.read(s, dir, "part")
                .select(col("p_partkey"), col("p_brand"))),
              col("l_partkey") === col("p_partkey"))
        .groupBy(col("n_name"), col("p_brand"))
        .agg(count(lit(1)).as("ni"))
        .groupBy(col("n_name"))
        .agg(sum(col("ni")).as("n_lines"),
             count(lit(1)).as("n_brands"),
             sum(col("ni") * (col("ni") - 1L)).as("_pairs"))
        .select(col("n_name"), col("n_lines"), col("n_brands"),
          expr("1000000L - _pairs * 1000000L DIV (n_lines * (n_lines - 1))")
            .as("simpson_ppm"))
    }),
    "q307_containment" -> ((s, dir) => {
      // Asymmetric containment (X290): Broder's complement to Jaccard —
      // |A∩B|/|A| vs |A∩B|/|B| per verified near-dup pair, separating "B
      // quotes A wholesale" from "they half-overlap". Pair overlap comes
      // FREE from the LSH verify stage; only member docs get a shingle
      // re-count (semi-join first), the corpus never re-materializes.
      val pairs = Dedup.minhashLshPairs(docs(s, dir), "doc_id", "text",
                                        n = 3, bands = 4, rows = 3,
                                        tauNum = 1, tauDen = 2)
        .localCheckpoint()
      val members = pairs.select(col("doc_a").as("doc_id"))
        .unionAll(pairs.select(col("doc_b").as("doc_id"))).distinct()
      val sizes = docs(s, dir)
        .join(broadcast(members), Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
                size(Dedup.shingles(TextAnalysis.tokens(col("text")), 3))
                  .cast("long").as("n"))
      pairs
        .join(broadcast(sizes.select(col("doc_id").as("doc_a"),
                                     col("n").as("n_a"))), Seq("doc_a"))
        .join(broadcast(sizes.select(col("doc_id").as("doc_b"),
                                     col("n").as("n_b"))), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("overlap"), col("n_a"),
                col("n_b"),
                expr("overlap * 1000000L DIV n_a").as("cont_a_ppm"),
                expr("overlap * 1000000L DIV n_b").as("cont_b_ppm"))
    }),
    "q308_trade_lanes" -> ((s, dir) => {
      // Bilateral trade lanes (X291, the TPC-H Q7 shape): shipped
      // discounted revenue per (supplier nation → customer nation, year).
      // The one unavoidable fact-sized shuffle is lineitem⋈orders on the
      // order key; both nation lookups broadcast onto it, and the rollup
      // lands on the bounded (25×25×years) lane grid. Exact milli-cents.
      val sNat = Tables.read(s, dir, "supplier")
        .join(broadcast(Tables.read(s, dir, "nation")),
              col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val cNat = Tables.read(s, dir, "customer")
        .join(broadcast(Tables.read(s, dir, "nation")),
              col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      val ordNat = Tables.read(s, dir, "orders")
        .join(broadcast(cNat), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("cust_nation"))
      Tables.read(s, dir, "lineitem")
        .join(broadcast(sNat), col("l_suppkey") === col("s_suppkey"))
        .join(ordNat, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("supp_nation"), col("cust_nation"),
                 year(col("l_shipdate")).as("ship_year"))
        .agg(count(lit(1)).as("n_lines"),
             sum(expr("CAST(floor(l_extendedprice * 100) AS BIGINT)" +
                      " * (1000L - CAST(floor(l_discount * 1000) AS BIGINT))"))
               .as("rev_mc"))
    }),
    "q309_dedup_shift" -> ((s, dir) => {
      // Dedup survivor-bias audit (X292): does near-dup dedup shift the
      // corpus mix? Language shares before vs after canonical-only
      // filtering, exact ppm, signed shift — the demographic check a
      // pipeline should run before training on what dedup kept.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(graft.functions.DimKey.one)
      val d = docs(s, dir)
      val kept = Dedup.keepCanonical(d, "doc_id",
        Dedup.minhashLshPairs(d, "doc_id", "text", n = 3, bands = 4,
                              rows = 3, tauNum = 1, tauDen = 2))
      def mix(df: DataFrame, nCol: String, pCol: String): DataFrame =
        df.groupBy(col("lang")).agg(count(lit(1)).as(nCol))
          .withColumn("_tot", sum(col(nCol)).over(w))
          .withColumn(pCol, expr(s"$nCol * 1000000L DIV _tot"))
          .drop("_tot")
      mix(d, "n_before", "ppm_before")
        .join(mix(kept, "n_after", "ppm_after"), Seq("lang"), "left_outer")
        .select(col("lang"), col("n_before"),
                coalesce(col("n_after"), lit(0L)).as("n_after"),
                col("ppm_before"),
                coalesce(col("ppm_after"), lit(0L)).as("ppm_after"),
                (coalesce(col("ppm_after"), lit(0L)) - col("ppm_before"))
                  .as("shift_ppm"))
    }),
    "q310_rec_coverage" -> ((s, dir) => {
      // Recommendation catalog coverage (X293): what share of the catalog
      // ever appears in a top-3 also-bought list, and how many items have
      // one at all? Low partner coverage = the recommender amplifies head
      // items. One rec build (q243's ranked pairs), two distinct counts,
      // catalog total broadcast.
      import org.apache.spark.sql.expressions.Window
      // r16: same reroute as q243 — the pair counts are the shared
      // counted co-purchase materialization (identical rows, same build).
      val pairs = graft.operators.Graph.coOccurrenceCountedCached(
          Tables.spread(s, Tables.read(s, dir, "lineitem")),
          groupCol = "l_orderkey", itemCol = "l_partkey")
        .select(col("src").as("x"), col("dst").as("y"),
                col("_n").as("n_co"))
      val sym = pairs.select(col("x").as("item"), col("y").as("partner"),
                             col("n_co"))
        .unionAll(pairs.select(col("y").as("item"), col("x").as("partner"),
                               col("n_co")))
      val wR = Window.partitionBy(col("item"))
        .orderBy(col("n_co").desc, col("partner").asc)
      sym.withColumn("rank", row_number().over(wR))
        .filter(col("rank") <= 3)
        .agg(countDistinct(col("item")).as("n_items_with_recs"),
             countDistinct(col("partner")).as("n_parts_recommended"))
        .crossJoin(broadcast(Tables.read(s, dir, "part")
          .agg(count(lit(1)).as("n_parts"))))
        .select(col("n_parts"), col("n_items_with_recs"),
                col("n_parts_recommended"),
                expr("n_items_with_recs * 1000000L DIV n_parts")
                  .as("item_cov_ppm"),
                expr("n_parts_recommended * 1000000L DIV n_parts")
                  .as("rec_cov_ppm"))
    }),
    "q311_pagerank3" -> ((s, dir) => {
      // Fixed-point integer PageRank (X294): 3 unrolled iterations over
      // the co-purchase item graph in micro-scaled integer arithmetic —
      // bit-identical on every engine (float PageRank never
      // hash-matches); `Graph.pagerank` — damping ×850000 DIV 1e6,
      // contrib pr DIV outdeg, one dst-shuffle per iteration.
      val pairs = Graph.coOccurrenceEdgesCached(
        Tables.spread(s, Tables.read(s, dir, "lineitem")),
        groupCol = "l_orderkey", itemCol = "l_partkey")
      Graph.pagerank(
        pairs.unionAll(pairs.select(col("dst").as("src"),
                                    col("src").as("dst"))),
        iters = 3)
    }),
    "q312_quantize_error" -> ((s, dir) => {
      // Int8 reconstruction-error audit (X295): quantize each embedding
      // to int8 on micro-scaled INTEGERS (sign-split magnitude division —
      // trunc-vs-floor never disagrees on negatives), dequantize, and
      // report per-label squared error and worst dimension error. All
      // arithmetic is exact; the whole audit is one narrow projection +
      // one rollup — no shuffle before the label grouping.
      emb(s, dir)
        .select(col("label"),
          expr("transform(embedding, v ->" +
               " CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT))")
            .as("xm"))
        .withColumn("sm", expr("array_max(transform(xm, v -> abs(v)))"))
        .withColumn("errs", expr(
          "transform(xm, v -> CASE WHEN sm = 0 THEN CAST(0 AS BIGINT)" +
            " WHEN v >= 0 THEN v - (v * 127 DIV sm) * sm DIV 127" +
            " ELSE v + ((-v) * 127 DIV sm) * sm DIV 127 END)"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
             sum(expr("aggregate(errs, CAST(0 AS BIGINT)," +
                      " (a, e) -> a + e * e)")).as("sum_err_sq"),
             max(expr("array_max(transform(errs, e -> abs(e)))"))
               .as("max_abs_err"))
    }),
    "q313_vocab_budget" -> ((s, dir) => {
      // Vocabulary budget curve (X296): OOV rate at vocab sizes
      // 100 / 1000 / 10000 — the tokenizer-budget tradeoff read off ONE
      // frequency ranking (bounded-dim window) and one (vocab × 3)
      // conditional rollup; the corpus explodes once.
      import org.apache.spark.sql.expressions.Window
      val vocab = docs(s, dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        .withColumn("idx",
          row_number().over(Window.partitionBy(graft.functions.DimKey.one)
            .orderBy(col("cnt").desc, col("w"))).cast("long") - 1L)
      vocab
        .select(col("cnt"), col("idx"),
                explode(array(lit(100L), lit(1000L), lit(10000L)))
                  .as("budget"))
        .groupBy(col("budget"))
        .agg(sum(when(col("idx") >= col("budget"), col("cnt"))
               .otherwise(0L)).as("oov_tokens"),
             sum(col("cnt")).as("total_tokens"))
        .select(col("budget"), col("oov_tokens"), col("total_tokens"),
                expr("oov_tokens * 1000000L DIV total_tokens")
                  .as("oov_ppm"))
    }),
    "q314_stream_late_drops" -> ((s, dir) => {
      // Streaming watermark drop accounting (X297), driver-checked e2e:
      // three micro-batches cut by day-thirds, with event_id%50
      // "straggler" rows displaced one batch later; a row older than
      // (committed max event time − 10 min) at its arrival batch is
      // dropped and COUNTED — the observability signal `withWatermark`
      // never surfaces. The oracle re-derives the same unrolled watermark
      // recurrence in SQL. (MemoryStream driver feed: harness source,
      // bounded to the user_id%5 slice.)
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val rows = ev(s, dir).filter(col("user_id") % 5 === 0)
        .withColumn("_b", least(
          when(dayofmonth(col("ts")) <= 10, 0)
            .when(dayofmonth(col("ts")) <= 20, 1).otherwise(2)
            + when(col("event_id") % 50 === 0, 1).otherwise(0), lit(2)))
        .select(col("event_id"), col("ts"), col("event_type"),
                col("value"), col("_b"))
        .as[(Long, java.sql.Timestamp, String, Double, Int)].collect().toSeq
      val base =
        java.nio.file.Files.createTempDirectory("q314_wm").toString
      val source = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp, String, Double, Int)]
      withStreamShuffle(s) {
      val q = graft.streaming.WatermarkStream.lateDropSink(
          source.toDF().toDF("event_id", "ts", "event_type", "value", "b")
            .select(col("ts"), col("event_type"), col("value")),
          s"$base/store", 600000000L, s"$base/ckpt")
        try (0 until 3).foreach { i =>
          source.addData(rows.filter(_._5 == i): _*)
          q.processAllAvailable()
        } finally q.stop()
      }
      VersionedTable.read(s, s"$base/store")
        .select("event_type", "n_kept", "n_dropped", "value_micro_kept")
    }),
    "q315_profit_decomposition" -> ((s, dir) => {
      // Product-line profit (X298, the TPC-H Q9 shape): per (supplier
      // nation, ship year), discounted revenue minus quantity×catalog
      // cost for PROMO parts — a two-measure decomposition where both
      // measures stay exact integers (milli-cents): rev = cents·(1000−dm),
      // cost = qty_centi·retail_cents·10. Both dimensions broadcast onto
      // the single fact scan; the rollup lands on the bounded
      // (nation × year) grid.
      val supp = Tables.read(s, dir, "supplier")
        .join(broadcast(Tables.read(s, dir, "nation")),
              col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      Tables.read(s, dir, "lineitem")
        .join(broadcast(Tables.read(s, dir, "part")
                .filter(col("p_type") === "PROMO")
                .select(col("p_partkey"),
                  expr("CAST(floor(p_retailprice * 100) AS BIGINT)")
                    .as("rc"))),
              col("l_partkey") === col("p_partkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("n_name").as("supp_nation"),
                 year(col("l_shipdate")).as("ship_year"))
        .agg(sum(expr("CAST(floor(l_extendedprice * 100) AS BIGINT)" +
                 " * (1000L - CAST(floor(l_discount * 1000) AS BIGINT))"))
               .as("rev_mc"),
             sum(expr("CAST(floor(l_quantity * 100) AS BIGINT) * rc * 10L"))
               .as("cost_mc"))
        .withColumn("profit_mc", col("rev_mc") - col("cost_mc"))
    }),
    "q316_collocations" -> ((s, dir) => {
      // Collocation mining (X299): top-10 adjacent-token bigrams per
      // language by unigram-lift — n_ab·N_uni/(n_a·n_b) in ppm, computed
      // as STEPWISE integer divisions (each step exact and
      // overflow-bounded, so both engines reproduce the score
      // bit-for-bit). Bigrams build from one positional self-join at
      // offset 1; unigram counts broadcast back per language; ranking is
      // a per-lang window over the n_ab≥5 survivors.
      import org.apache.spark.sql.expressions.Window
      val toks = docs(s, dir)
        .select(col("lang"), col("doc_id"),
                posexplode(TextAnalysis.tokens(col("text"))).as(Seq("p", "w")))
        .filter(length(col("w")) > 0)
        .localCheckpoint()
      val uni = toks.groupBy(col("lang"), col("w"))
        .agg(count(lit(1)).as("n_uni_w")).localCheckpoint()
      val nUni = uni.groupBy(col("lang")).agg(sum(col("n_uni_w")).as("n_uni"))
      val bi = toks.as("_a")
        .join(toks.select(col("doc_id"), (col("p") - 1).as("p"),
                          col("w").as("wb")).as("_b"),
              Seq("doc_id", "p"))
        .groupBy(col("lang"), col("w").as("wa"), col("wb"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 5)
      val scored = bi
        .join(uni.select(col("lang"), col("w").as("wa"),
                         col("n_uni_w").as("n_a")), Seq("lang", "wa"))
        .join(uni.select(col("lang"), col("w").as("wb"),
                         col("n_uni_w").as("n_b")), Seq("lang", "wb"))
        .join(broadcast(nUni), Seq("lang"))
        .withColumn("lift_ppm",
          expr("(n_ab * 1000000L DIV n_a) * n_uni DIV n_b"))
      scored
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("lang"))
            .orderBy(col("lift_ppm").desc, col("wa"), col("wb"))))
        .filter(col("rk") <= 10)
        .select(col("lang"), col("wa"), col("wb"), col("n_ab"),
                col("n_a"), col("n_b"), col("lift_ppm"),
                col("rk").cast("int").as("rk"))
    }),
    "q317_join_card_estimator" -> ((s, dir) => {
      // Join-cardinality estimator validation (X300): the self-join
      // |events ⋈ events on user| predicted by the planner's classic
      // "top-k keys exact + uniform tail" model vs the exact Σn². The
      // model's inputs (top-20 heavy keys, tail totals) and the ground
      // truth all come from ONE per-key rollup; top-20 plans as
      // TakeOrdered, never a global sort.
      val u = ev(s, dir).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n")).localCheckpoint()
      val topAgg = u.orderBy(col("n").desc, col("user_id")).limit(20)
        .agg(sum(col("n") * col("n")).as("top_sq"),
             sum(col("n")).as("top_n"), count(lit(1)).as("top_k"))
      u.agg(sum(col("n") * col("n")).as("exact_pairs"),
            sum(col("n")).as("total_n"), count(lit(1)).as("n_keys"))
        .crossJoin(broadcast(topAgg))
        .withColumn("est_pairs", expr(
          "top_sq + (total_n - top_n) * (total_n - top_n)" +
            " DIV greatest(n_keys - top_k, 1L)"))
        .select(col("n_keys"), col("exact_pairs"), col("est_pairs"),
                expr("abs(est_pairs - exact_pairs) * 1000000L" +
                     " DIV exact_pairs").as("err_ppm"))
    }),
    "q318_typo_linkage" -> ((s, dir) => {
      // Edit-distance record linkage (X301): near-identical part names
      // via blocking on the trailing noun — candidate pairs stay
      // block-local, never all-pairs — then a Levenshtein ≤ 3 filter.
      // Names dedupe to (name, count) BEFORE pairing, so the join scales
      // with the name dictionary, not the table; levenshtein() is the
      // identical classic DP in both engines, so the report is exact.
      val names = Tables.read(s, dir, "part")
        .groupBy(col("p_name")).agg(count(lit(1)).as("n"))
        .withColumn("blk", element_at(split(col("p_name"), " "), -1))
        .localCheckpoint()
      names.as("_a").join(names.as("_b"),
          col("_a.blk") === col("_b.blk") &&
            col("_a.p_name") < col("_b.p_name"))
        .select(col("_a.p_name").as("name_a"),
                col("_b.p_name").as("name_b"),
                col("_a.n").as("n_a"), col("_b.n").as("n_b"),
                levenshtein(col("_a.p_name"), col("_b.p_name")).as("dist"))
        .filter(col("dist").between(1, 3))
    }),
    "q319_status_conformance" -> ((s, dir) => {
      // Cross-table lifecycle conformance (X302): declared order status
      // vs what the lines actually say — three rules evaluated off ONE
      // per-order line rollup joined once (checkpointed); each rule
      // reports checked/violations/ppm. The multi-rule audit shape: a
      // new rule is one more CASE, never one more scan.
      val l = Tables.read(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_lines"),
             max(col("l_shipdate")).as("last_ship"),
             sum(when(col("l_linestatus") === "F", 1L).otherwise(0L))
               .as("n_f"))
      val j = Tables.read(s, dir, "orders")
        .join(l, col("o_orderkey") === col("l_orderkey"), "left_outer")
        .localCheckpoint()
      def rule(name: String, checked: Column,
               violated: Column): DataFrame =
        j.agg(sum(when(checked, 1L).otherwise(0L)).as("n_checked"),
              sum(when(checked && violated, 1L).otherwise(0L))
                .as("n_violations"))
          .select(lit(name).as("rule"), col("n_checked"),
                  col("n_violations"),
                  expr("n_violations * 1000000L DIV greatest(n_checked, 1L)")
                    .as("violation_ppm"))
      Seq(
        rule("order_has_lines", lit(true), col("n_lines").isNull),
        rule("F_all_lines_final",
             col("o_orderstatus") === "F" && col("n_lines").isNotNull,
             col("n_f") < col("n_lines")),
        rule("O_open_recent",
             col("o_orderstatus") === "O" && col("n_lines").isNotNull,
             col("last_ship") < to_timestamp(lit("1996-01-01"))))
        .reduce(_ unionAll _)
    }),
    "q320_sentence_quantiles" -> ((s, dir) => {
      // Sentence-length profile (X303): exact p50/p90 tokens-per-sentence
      // per language via X44 rank selection — the prose-shape audit
      // (machine-generated text skews short and uniform). Sentences split
      // once with q134's convention; lengths are small ints; quantiles
      // are exact, no interpolation.
      val sent = docs(s, dir)
        .select(col("lang"), explode(split(col("text"), "[.!?]+")).as("_s"))
        .withColumn("_s", trim(col("_s")))
        .filter(length(col("_s")) > 0)
        .select(col("lang"),
                size(split(col("_s"), "\\s+")).cast("long").as("slen"))
      Profile.discreteQuantiles(sent, "lang", "slen", Seq(50, 90))
    }),
    "q321_cross_lang_neardup" -> ((s, dir) => {
      // Cross-language near-dup matrix (X304): verified near-dup pairs
      // bucketed by their (lang, lang) combination — off-diagonal mass is
      // mislabeled languages or translated/templated boilerplate, exactly
      // what poisons per-language training mixes. Pair endpoints join the
      // doc→lang projection (broadcast at dictionary size); the lang pair
      // normalizes (least, greatest) so each unordered combination is one
      // row.
      val pairs = Dedup.minhashLshPairs(docs(s, dir), "doc_id", "text",
                                        n = 3, bands = 4, rows = 3,
                                        tauNum = 1, tauDen = 2)
      val lg = docs(s, dir).select(col("doc_id"), col("lang"))
      pairs
        .join(broadcast(lg.select(col("doc_id").as("doc_a"),
                                  col("lang").as("la"))), Seq("doc_a"))
        .join(broadcast(lg.select(col("doc_id").as("doc_b"),
                                  col("lang").as("lb"))), Seq("doc_b"))
        .groupBy(least(col("la"), col("lb")).as("lang_a"),
                 greatest(col("la"), col("lb")).as("lang_b"))
        .agg(count(lit(1)).as("n_pairs"))
    }),
    "q322_source_syndication" -> ((s, dir) => {
      // Source syndication matrix (X305): shared content (1-hash MinHash
      // shingle fingerprint — exact dups AND heavy boilerplate collide)
      // appearing under BOTH of a source pair: the "who republishes whom"
      // audit near-dup clustering hides inside mixed clusters. Content
      // collapses to DISTINCT (fingerprint, source) before the
      // self-join, so the join input is dictionary-sized and
      // within-source duplication never inflates the count.
      val fs = docs(s, dir)
        .select(TextAnalysis.shingleFingerprint(col("text"), n = 3)
                  .as("fp"),
                col("source")).distinct().localCheckpoint()
      fs.as("_a").join(fs.as("_b"),
          col("_a.fp") === col("_b.fp") &&
            col("_a.source") < col("_b.source"))
        .groupBy(col("_a.source").as("source_a"),
                 col("_b.source").as("source_b"))
        .agg(count(lit(1)).as("n_shared_docs"))
    }),
    "q323_link_prediction" -> ((s, dir) => {
      // Common-neighbor link prediction (X306): for item pairs NOT yet
      // strongly co-purchased, the number of shared strong partners — the
      // classic graph-completion score. The graph is the STRONG-edge
      // co-purchase graph (co-ordered ≥2 — the raw graph's median degree
      // >100 makes Σdeg² wedge enumeration quadratic noise; repeated
      // co-orders carry the signal at ~1/10⁴ the wedges). Wedges come
      // from one self-join of the symmetric neighbor list on the middle
      // node; existing edges anti-join out; top-50 is a TakeOrdered.
      val p = Graph.coOccurrenceEdgesCached(
        Tables.spread(s, Tables.read(s, dir, "lineitem")),
        groupCol = "l_orderkey", itemCol = "l_partkey",
        minCount = 2).localCheckpoint()
      val nbr = p.unionAll(p.select(col("dst").as("src"),
                                    col("src").as("dst")))
      val wedges = nbr.as("_l")
        .join(nbr.as("_r"),
              col("_l.src") === col("_r.src") &&
                col("_l.dst") < col("_r.dst"))
        .groupBy(col("_l.dst").as("a"), col("_r.dst").as("b"))
        .agg(count(lit(1)).as("common_neighbors"))
      wedges
        .join(p, wedges("a") === p("src") && wedges("b") === p("dst"),
              "left_anti")
        .orderBy(col("common_neighbors").desc, col("a"), col("b"))
        .limit(50)
    }),
    "q324_ema_forecast" -> ((s, dir) => {
      // EMA forecast state machine (X307): exponential smoothing
      // (α=0.3) over each type's 30-day count series in micro-scaled
      // INTEGER state — the recurrence that window functions can't
      // express runs as an `aggregate` HOF over the per-type day array
      // (bounded dimension, built once off a zero-filled spine), seeded
      // with the first element to mirror DuckDB's list_reduce exactly.
      // The result is the engine-exact next-day forecast.
      val days = s.range(0, 30)
        .select(expr("CAST(date_add(DATE'2024-01-01', CAST(id AS INT))" +
                     " AS TIMESTAMP)").as("day"))
      val types = ev(s, dir).select(col("event_type")).distinct()
      val daily = ev(s, dir)
        .groupBy(date_trunc("DAY", col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      broadcast(days).crossJoin(types)
        .join(daily, Seq("day", "event_type"), "left_outer")
        .withColumn("n", coalesce(col("n"), lit(0L)))
        .groupBy(col("event_type"))
        .agg(collect_list(struct(col("day"), col("n"))).as("_c"))
        .withColumn("arr",
          expr("transform(sort_array(_c), x -> x.n * 1000000L)"))
        .select(col("event_type"),
                size(col("arr")).cast("long").as("n_days"),
                expr("element_at(arr, -1) DIV 1000000L").as("last_n"),
                expr("aggregate(slice(arr, 2, size(arr) - 1), arr[0]," +
                     " (a, x) -> (700000L * a + 300000L * x)" +
                     " DIV 1000000L)").as("ema_micro"))
    }),
    "q325_drawdown" -> ((s, dir) => {
      // Maximum drawdown (X308): per type, the deepest drop of the
      // cumulative daily net value below its running peak — the classic
      // risk statistic, exact in integer micros: cumulative sum, running
      // max, max gap, all on the bounded (type × day) rollup.
      import org.apache.spark.sql.expressions.Window
      val wCum = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev(s, dir)
        .groupBy(col("event_type"), date_trunc("DAY", col("ts")).as("day"))
        .agg(sum(floor(col("value") * lit(1000000.0)).cast("long"))
          .as("vm"))
        .withColumn("cum", sum(col("vm")).over(wCum))
        .withColumn("peak", max(col("cum")).over(wCum))
        .groupBy(col("event_type"))
        .agg(max(col("peak")).as("peak_micro"),
             max(col("peak") - col("cum")).as("max_drawdown_micro"))
    }),
    "q326_basket_signatures" -> ((s, dir) => {
      // Basket archetypes (X309): each order collapses to its SORTED
      // distinct brand set — the exact-composition signature association
      // rules never show — and the top-25 signatures rank by frequency.
      // Per-order set build is one combine rollup; the signature rollup
      // is signature-dimensional; top-k plans as TakeOrdered.
      Tables.spread(s, Tables.read(s, dir, "lineitem"))
        .join(broadcast(Tables.read(s, dir, "part")
                .select(col("p_partkey"), col("p_brand"))),
              col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_orderkey"))
        .agg(concat_ws(",", sort_array(collect_set(col("p_brand"))))
          .as("signature"))
        .groupBy(col("signature")).agg(count(lit(1)).as("n_orders"))
        .orderBy(col("n_orders").desc, col("signature"))
        .limit(25)
    }),
    "q327_nprobe_sweep" -> ((s, dir) => {
      // IVF nprobe tuning curve (X310): recall@10 at nprobe 1/2/4 against
      // the brute-force truth in ONE report — the probe-count knob priced
      // before anyone turns it in production. The truth set computes once
      // (checkpointed); each probe level is the same bucketed IVF search,
      // so cost scales with probed buckets, and recall is an exact oracle
      // number (both sides deterministic), not an estimate.
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 32)
      val truth = Similarity.bruteForceTopK(q, e, "vec_id", "embedding",
                                            k = 10)
        .select("query_id", "neighbor_id").localCheckpoint()
      Seq(1, 2, 4).map { np =>
        Similarity.ivfTopK(q, e, "vec_id", "embedding", k = 10, c = 16,
                           nprobe = np)
          .select("query_id", "neighbor_id")
          .join(truth, Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as("n_hits"))
          .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_exact"))))
          .select(lit(np).as("nprobe"), col("n_exact"), col("n_hits"),
                  expr("n_hits * 1000000L DIV n_exact").as("recall_ppm"))
      }.reduce(_ unionAll _)
    }),
    "q328_embedding_dups" -> ((s, dir) =>
      // Exact-duplicate embeddings (X311): identical vectors under
      // different ids waste ANN index space and skew recall; group by the
      // micro-floored integer vector itself (array equality — no
      // fingerprint collisions to reason about) and report the collapse.
      emb(s, dir)
        .select(expr("transform(embedding, v ->" +
          " CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT))").as("xm"))
        .groupBy(col("xm")).agg(count(lit(1)).as("n"))
        .agg(coalesce(sum(col("n")), lit(0L)).as("n_vectors"),
             count(lit(1)).as("n_distinct"),
             sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_dup_groups"),
             sum(when(col("n") > 1, col("n") - 1).otherwise(0L))
               .as("n_redundant"))),
    "q329_l_diversity" -> ((s, dir) =>
      // l-diversity audit (X312): X64's k-anonymity says groups are big
      // enough; this says the SENSITIVE attribute inside each
      // quasi-identifier group is actually diverse — a group of 50 rows
      // that all share one order priority still leaks it. One rollup on
      // the bounded (nation × segment) grid, dims broadcast.
      Tables.read(s, dir, "orders")
        .join(broadcast(Tables.read(s, dir, "customer")
                .join(broadcast(Tables.read(s, dir, "nation")),
                      col("c_nationkey") === col("n_nationkey"))
                .select(col("c_custkey"), col("n_name"),
                        col("c_mktsegment"))),
              col("o_custkey") === col("c_custkey"))
        .groupBy(col("n_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_rows"),
             countDistinct(col("o_orderpriority")).as("l_distinct"))
        .withColumn("diverse_ok", col("l_distinct") >= 3)),
    "q330_late_shipments" -> ((s, dir) =>
      // Late-shipment rate (X313, the TPC-H Q12 shape): lines shipped
      // more than 90 days after their order, by (priority, order year) —
      // ONE fact-sized shuffle (lineitem⋈orders); the 90-day test is
      // integer micros on the join row; rollup lands on the bounded
      // (priority × year) grid.
      Tables.read(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"))
        .join(Tables.read(s, dir, "orders")
                .select(col("o_orderkey"), col("o_orderdate"),
                        col("o_orderpriority")),
              col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"),
                 year(col("o_orderdate")).as("order_year"))
        .agg(count(lit(1)).as("n_lines"),
             sum(when(unix_micros(col("l_shipdate").cast("timestamp"))
                        - unix_micros(col("o_orderdate").cast("timestamp"))
                        > 90L * 86400000000L, 1L).otherwise(0L))
               .as("n_late"))
        .withColumn("late_ppm", expr("n_late * 1000000L DIV n_lines"))),
    "q331_reach_venn" -> ((s, dir) =>
      // Behavioral reach Venn (X314): users bucketed by WHICH of
      // {view, click, purchase} they ever did — the full 2³ overlap
      // diagram in one per-user bitmask rollup + one 8-row rollup, the
      // unordered complement of the ordered funnel. Scoped to the first
      // two days — over the full month every user reaches mask 7 and the
      // diagram collapses.
      ev(s, dir)
        .filter(dayofmonth(col("ts")) <= 2)
        .groupBy(col("user_id"))
        .agg((max(when(col("event_type") === "view", 1).otherwise(0))
                + max(when(col("event_type") === "click", 2).otherwise(0))
                + max(when(col("event_type") === "purchase", 4)
                    .otherwise(0))).as("mask"))
        .groupBy(col("mask")).agg(count(lit(1)).as("n_users"))
        .select(col("mask"), col("n_users"),
                (col("mask").bitwiseAND(1) > 0).as("did_view"),
                (col("mask").bitwiseAND(2) > 0).as("did_click"),
                (col("mask").bitwiseAND(4) > 0).as("did_purchase"))),
    "q332_late_arrival_impact" -> ((s, dir) =>
      // Late-data impact analysis (X315): which daily rollup rows would
      // X297's displaced stragglers actually CHANGE, and by how much —
      // the difference between "drop late rows" and "wait for them",
      // priced per day. Two conditional aggregates over one scan, days
      // where the delta is zero suppressed.
      ev(s, dir)
        .withColumn("_straggler",
          col("event_id") % 50 === 0 && dayofmonth(col("ts")) <= 20)
        .groupBy(date_trunc("DAY", col("ts")).as("day"))
        .agg(count(lit(1)).as("n_all"),
             sum(when(!col("_straggler"), 1L).otherwise(0L))
               .as("n_on_time"))
        .withColumn("delta", col("n_all") - col("n_on_time"))
        .filter(col("delta") > 0)),
    "q333_tau_sweep" -> ((s, dir) => {
      // LSH verification-threshold sweep (X316): candidate and verified
      // counts at τ = 1/3, 1/2, 2/3 off ONE signature+overlap pass
      // (checkpointed) — the threshold knob priced like X310 prices
      // nprobe; each τ is a cross-multiplied filter, never a re-pipeline.
      val cand = Dedup.candidatesWithOverlap(docs(s, dir), "doc_id",
                                             "text", n = 3, bands = 4,
                                             rows = 3).localCheckpoint()
      Seq((1, 3), (1, 2), (2, 3)).map { case (tn, td) =>
        cand.agg(count(lit(1)).as("n_candidates"),
                 sum(when(col("overlap") * td >= col("union_size") * tn,
                          1L).otherwise(0L)).as("n_verified"))
          .select(lit(s"$tn/$td").as("tau"), col("n_candidates"),
                  col("n_verified"),
                  expr("n_verified * 1000000L" +
                       " DIV greatest(n_candidates, 1L)")
                    .as("precision_ppm"))
      }.reduce(_ unionAll _)
    }),
    "q334_kcore_peel" -> ((s, dir) => {
      // k-core peeling (X317): three rounds toward the 2-core of the
      // STRONG co-purchase graph (co-ordered ≥2 — the raw dense graph has
      // no degree-1 nodes to peel and only burns the rollups) — drop
      // degree-1 nodes, re-derive degrees, repeat. Each round is one
      // rollup + two semi-joins on the (shrinking, checkpointed) edge
      // list; the fixed round count keeps the result deterministic
      // without a convergence loop.
      val p = Graph.coOccurrenceEdgesCached(
        Tables.spread(s, Tables.read(s, dir, "lineitem")),
        groupCol = "l_orderkey", itemCol = "l_partkey", minCount = 2)
      var e = p.unionAll(p.select(col("dst").as("src"),
                                  col("src").as("dst"))).localCheckpoint()
      for (_ <- 1 to 3) {
        val keep = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
          .filter(col("d") >= 2).select(col("src")).localCheckpoint()
        e = e.join(keep, Seq("src"), "left_semi")
          .join(keep.withColumnRenamed("src", "dst"), Seq("dst"),
                "left_semi")
          .localCheckpoint()
      }
      e.groupBy(col("src").as("node")).agg(count(lit(1)).as("degree"))
    }),
    "q335_rank_footrule" -> ((s, dir) => {
      // Rank-agreement footrule (X318): Spearman's footrule Σ|rank_brute −
      // rank_ivf| over the top-10 members both rankers share, per query —
      // the rank-DISPLACEMENT companion to X109's set recall and X270's
      // MRR (same hit set can still be ordered badly). Exact integers;
      // queries with zero common members surface as footrule 0 / n 0.
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 32)
      val bt = Similarity.bruteForceTopK(q, e, "vec_id", "embedding",
                                         k = 10)
        .select(col("query_id"), col("neighbor_id"),
                col("rank").as("rb")).localCheckpoint()
      val iv = Similarity.ivfTopK(q, e, "vec_id", "embedding", k = 10,
                                  c = 16, nprobe = 1)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("ri"))
      val common = bt.join(iv, Seq("query_id", "neighbor_id"))
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_common"),
             sum(abs(col("rb") - col("ri")).cast("long")).as("footrule"))
      bt.select(col("query_id")).distinct()
        .join(common, Seq("query_id"), "left_outer")
        .select(col("query_id"),
                coalesce(col("n_common"), lit(0L)).as("n_common"),
                coalesce(col("footrule"), lit(0L)).as("footrule"))
    }),
    "q336_dead_stock" -> ((s, dir) =>
      // Dead-stock report (X319): catalog parts with NO shipment in the
      // final observed year, rolled up per brand with catalog share — the
      // slow-mover anti-join the merch team runs weekly. The fact side
      // filters at the scan and collapses to distinct sold keys BEFORE
      // the anti-join, so the probe is dictionary-sized.
      Tables.read(s, dir, "part")
        .join(Tables.read(s, dir, "lineitem")
                .filter(col("l_shipdate") >= lit("2001-01-01"))
                .select(col("l_partkey").as("p_partkey")).distinct(),
              Seq("p_partkey"), "left_anti")
        .groupBy(col("p_brand")).agg(count(lit(1)).as("n_dead"))
        .join(broadcast(Tables.read(s, dir, "part")
                .groupBy(col("p_brand"))
                .agg(count(lit(1)).as("n_catalog"))), Seq("p_brand"))
        .withColumn("dead_ppm",
                    expr("n_dead * 1000000L DIV n_catalog"))),
    "q337_value_band_migration" -> ((s, dir) => {
      // Customer value-band migration (X320): each user's purchase-value
      // band (integer log2 tier of summed micros) in the first vs second
      // half-month, crossed into the transition matrix — who moved up,
      // who churned to NULL. Two conditional rollups in ONE pass (no
      // second scan), bands from bit length, matrix is band²-sized.
      val cut = to_timestamp(lit("2024-01-16"))
      ev(s, dir).filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(sum(when(col("ts") < cut,
               floor(col("value") * lit(1000000.0)).cast("long"))
               .otherwise(0L)).as("v1"),
             sum(when(col("ts") >= cut,
               floor(col("value") * lit(1000000.0)).cast("long"))
               .otherwise(0L)).as("v2"))
        .select(
          when(col("v1") <= 0, lit(0))
            .otherwise(length(expr("bin(v1)"))).as("band_h1"),
          when(col("v2") <= 0, lit(0))
            .otherwise(length(expr("bin(v2)"))).as("band_h2"))
        .groupBy(col("band_h1"), col("band_h2"))
        .agg(count(lit(1)).as("n_users"))
    }),
    "q338_mix_shift_tvd" -> ((s, dir) => {
      // Traffic mix shift (X321): event-type share drift between week 1
      // and week 4 plus the total-variation distance — all integer via
      // cross-multiplied shares over the two window totals; the
      // distribution-level alarm beside q211's per-column drift. One
      // scan, two conditional rollups, type-dimensional output.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(graft.functions.DimKey.one)
      ev(s, dir)
        .filter(dayofmonth(col("ts")) <= 7 || dayofmonth(col("ts")) >= 24)
        .groupBy(col("event_type"))
        .agg(sum(when(dayofmonth(col("ts")) <= 7, 1L).otherwise(0L))
               .as("n1"),
             sum(when(dayofmonth(col("ts")) >= 24, 1L).otherwise(0L))
               .as("n2"))
        .withColumn("t1", sum(col("n1")).over(w))
        .withColumn("t2", sum(col("n2")).over(w))
        .select(col("event_type"), col("n1"), col("n2"),
                expr("n1 * 1000000L DIV t1").as("share1_ppm"),
                expr("n2 * 1000000L DIV t2").as("share2_ppm"),
                abs(expr("n1 * 1000000L DIV t1")
                  - expr("n2 * 1000000L DIV t2")).as("drift_ppm"))
    }),
    "q339_quantile_stability" -> ((s, dir) =>
      // Quantile stability via deterministic folds (X322): the p50 of
      // purchase value per md5 fifth — a bootstrap-shaped spread with NO
      // RNG (hash folds reproduce on any engine), whose min/max band
      // says whether the corpus median is stable or an artifact. One
      // rank-selection pass partitioned by fold.
      Profile.discreteQuantiles(
        ev(s, dir).filter(col("event_type") === "purchase")
          .select(Sampling.hashBucket(col("event_id"), 5).as("fold"),
                  floor(col("value") * lit(1000000.0)).cast("long")
                    .as("vm")),
        "fold", "vm", Seq(50))),
    "q340_asof_tolerance" -> ((s, dir) => {
      // Tolerance-bounded as-of join (X323): the q56 containment lookup
      // plus a max-staleness rule — a dimension version older than 7 days
      // at event time does NOT count as a match (stale enrichment is
      // worse than none in a feature pipeline). Per-day match/stale/miss
      // accounting; the staleness test is integer micros on the joined
      // row, costing nothing beyond q56's join.
      val all = ev(s, dir)
      val hist = Scd2.initialLoad(all.filter(col("event_id") % 2 === 0),
                                  evCfg)
        .select(col("user_id"), col("ts").as("dim_ts"),
                col("_valid_from"), col("_valid_to"))
      val facts = all.filter(col("event_id") % 2 === 1)
        .select(col("event_id"), col("user_id"), col("ts"))
      facts.as("f").join(hist.as("h"),
          col("f.user_id") === col("h.user_id") &&
            col("h._valid_from") <= col("f.ts") &&
            col("f.ts") < col("h._valid_to"),
          "left_outer")
        .withColumn("_matched", col("dim_ts").isNotNull)
        .withColumn("_fresh",
          col("_matched") &&
            unix_micros(col("f.ts")) - unix_micros(col("dim_ts"))
              <= 7L * 86400000000L)
        .groupBy(date_trunc("DAY", col("f.ts")).as("day"))
        .agg(count(lit(1)).as("n_facts"),
             sum(when(col("_fresh"), 1L).otherwise(0L)).as("n_fresh"),
             sum(when(col("_matched") && !col("_fresh"), 1L)
               .otherwise(0L)).as("n_stale"),
             sum(when(!col("_matched"), 1L).otherwise(0L)).as("n_miss"))
    }),
    "q341_change_frequency" -> ((s, dir) => {
      // Column change-frequency audit (X324): across the SCD2 history,
      // which tracked column actually drives new versions — the
      // change-detection telemetry that decides whether a column belongs
      // in check_cols at all. ONE per-key window pass computes all three
      // per-column "differs from previous version" sums; the 3-row
      // report is a literal stack.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("_valid_from"))
      Scd2.initialLoad(ev(s, dir), evCfg)
        .select(col("user_id"), col("_valid_from"), col("event_type"),
                col("value"), col("props"))
        .withColumn("_pe", lag(col("event_type"), 1).over(w))
        .withColumn("_pv", lag(col("value"), 1).over(w))
        .withColumn("_pp", lag(col("props"), 1).over(w))
        .agg(
          sum(when(col("_pe").isNotNull &&
                   !(col("_pe") <=> col("event_type")), 1L).otherwise(0L))
            .as("ce"),
          sum(when(col("_pv").isNotNull &&
                   !(col("_pv") <=> col("value")), 1L).otherwise(0L))
            .as("cv"),
          sum(when(col("_pp").isNotNull &&
                   !(col("_pp") <=> col("props")), 1L).otherwise(0L))
            .as("cp"))
        .selectExpr("stack(3, 'event_type', ce, 'value', cv," +
                    " 'props', cp) AS (column_name, n_changes)")
    }),
    "q342_write_amplification" -> ((s, dir) => {
      // SCD write-amplification model (X325): input rows vs stored
      // version rows after each of the three production merges — the
      // storage price of history tracking, per batch. The stores reuse
      // q64's checkpointed cadence; every count is a one-row aggregate;
      // the oracle recomputes each store by the engine's own
      // incremental==full-refresh guarantee.
      val all = ev(s, dir)
      def third(r: Int) = all.filter(col("event_id") % 3 === r)
      def upTo(r: Int) = all.filter(col("event_id") % 3 <= r)
      val t0 = Scd2.initialLoad(third(0), evCfg).localCheckpoint()
      val t1 = Scd2.incremental(t0, third(1), evCfg).localCheckpoint()
      val t2 = Scd2.incremental(t1, third(2), evCfg).localCheckpoint()
      Seq((0, third(0), upTo(0), t0), (1, third(1), upTo(1), t1),
          (2, third(2), upTo(2), t2)).map { case (b, inp, cum, store) =>
        inp.agg(count(lit(1)).as("n_input"))
          .crossJoin(cum.agg(count(lit(1)).as("n_cum_input")))
          .crossJoin(store.agg(count(lit(1)).as("n_store_after")))
          .select(lit(b).as("batch"), col("n_input"), col("n_cum_input"),
                  col("n_store_after"),
                  expr("n_store_after * 1000000L DIV n_cum_input")
                    .as("amp_ppm"))
      }.reduce(_ unionAll _)
    }),
    "q343_centroid_shift" -> ((s, dir) => {
      // Class separability probe (X326): per-label centroid distance²
      // from the global centroid, micro-scaled integers with SIGN-SPLIT
      // division (trunc-vs-floor never disagrees on negative sums) — if
      // every label centroid sits on the global mean, the labels carry
      // no linear signal. One posexplode rollup; the 64-row global
      // centroid broadcasts back.
      val sd = "CASE WHEN sx >= 0 THEN sx DIV n" +
               " ELSE -((-sx) DIV n) END"
      val cells = emb(s, dir)
        .select(col("label"), posexplode(col("embedding"))
          .as(Seq("dim", "x")))
        .withColumn("xm", expr("CAST(floor(CAST(x AS DOUBLE) * 1000000)" +
                               " AS BIGINT)"))
        .groupBy(col("label"), col("dim"))
        .agg(sum(col("xm")).as("sx"), count(lit(1)).as("n"))
        .localCheckpoint()
      val labelC = cells.select(col("label"), col("dim"),
                                expr(sd).as("cl"), col("n"))
      val globalC = cells.groupBy(col("dim"))
        .agg(sum(col("sx")).as("sx"), sum(col("n")).as("n"))
        .select(col("dim"), expr(sd).as("cg"))
      labelC.join(broadcast(globalC), Seq("dim"))
        .groupBy(col("label"))
        .agg(max(col("n")).as("n_vecs"),
             sum((col("cl") - col("cg")) * (col("cl") - col("cg")))
               .as("dist2_micro2"))
    }),
    "q344_dedup_waterfall" -> ((s, dir) => {
      // Dedup waterfall (X327): corpus volume after each dedup stage —
      // raw → exact-fingerprint → near-dup canonical — as one
      // accounting report (docs, tokens, retained ppm vs raw). Each
      // stage reuses the production operator; the near stage runs on the
      // EXACT survivors (the real pipeline order — exact dedup first is
      // what makes LSH affordable).
      val d = docs(s, dir).select(col("doc_id"), col("text"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("ntok"))
        .localCheckpoint()
      val exact = d
        .withColumn("fp", TextAnalysis.fingerprint(col("text")))
        .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      val exactDocs = d.join(exact, Seq("doc_id"), "left_semi")
        .localCheckpoint()
      val near = Dedup.keepCanonical(exactDocs, "doc_id",
        Dedup.minhashLshPairs(exactDocs, "doc_id", "text", n = 3,
                              bands = 4, rows = 3, tauNum = 1, tauDen = 2))
      def stage(name: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_docs"),
               coalesce(sum(col("ntok")), lit(0L)).as("n_tokens"))
          .crossJoin(broadcast(d.agg(count(lit(1)).as("_raw"))))
          .select(lit(name).as("stage"), col("n_docs"), col("n_tokens"),
                  expr("n_docs * 1000000L DIV _raw").as("retained_ppm"))
      stage("raw", d)
        .unionAll(stage("exact", exactDocs))
        .unionAll(stage("near", near))
    }),
    "q345_weekend_lift" -> ((s, dir) =>
      // Weekend lift (X328): weekend vs weekday daily-rate ratio per
      // event type, exact integer ppm via day-count cross-multiplication
      // (Jan 2024: 8 weekend days, 22 weekdays — identical literals both
      // engines). The calendar-effect check behind staffing/capacity.
      ev(s, dir)
        .withColumn("_we", dayofmonth(col("ts"))
          .isin(6, 7, 13, 14, 20, 21, 27, 28))
        .groupBy(col("event_type"))
        .agg(sum(when(col("_we"), 1L).otherwise(0L)).as("n_weekend"),
             sum(when(!col("_we"), 1L).otherwise(0L)).as("n_weekday"))
        .withColumn("lift_ppm",
          expr("n_weekend * 22L * 1000000L" +
               " DIV greatest(n_weekday * 8L, 1L)")))
    ,
    "q346_brand_lift_pairs" -> ((s, dir) => {
      // Brand-pair lift (X329): which brand PAIRS co-occur in orders
      // beyond what their solo popularity predicts — X299's collocation
      // arithmetic lifted to baskets, on the bounded 25-brand dimension
      // (≤300 pair rows). One distinct (order, brand) projection feeds
      // the pair join AND the solo counts; stepwise integer divisions
      // keep the score engine-exact.
      val ob = Tables.spread(s, Tables.read(s, dir, "lineitem"))
        .join(broadcast(Tables.read(s, dir, "part")
                .select(col("p_partkey"), col("p_brand"))),
              col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("o"), col("p_brand").as("b"))
        .distinct().localCheckpoint()
      val solo = ob.groupBy(col("b")).agg(count(lit(1)).as("n"))
      val total = ob.select(col("o")).distinct()
        .agg(count(lit(1)).as("n_orders"))
      ob.as("_a").join(ob.as("_x"),
          col("_a.o") === col("_x.o") && col("_a.b") < col("_x.b"))
        .groupBy(col("_a.b").as("brand_a"), col("_x.b").as("brand_b"))
        .agg(count(lit(1)).as("n_ab"))
        .join(broadcast(solo.select(col("b").as("brand_a"),
                                    col("n").as("n_a"))), Seq("brand_a"))
        .join(broadcast(solo.select(col("b").as("brand_b"),
                                    col("n").as("n_b"))), Seq("brand_b"))
        .crossJoin(broadcast(total))
        .withColumn("lift_ppm",
          expr("(n_ab * 1000000L DIV n_a) * n_orders DIV n_b"))
        .select(col("brand_a"), col("brand_b"), col("n_ab"), col("n_a"),
                col("n_b"), col("lift_ppm"))
    }),
    "q347_tenure_value_bands" -> ((s, dir) => {
      // Spend-by-tenure curve (X330): purchase value by the buyer's
      // tenure week at purchase time — does spend grow with account age?
      // First-touch reduces per user in one combine rollup (broadcast
      // back); the curve lands on the bounded week dimension; the
      // average is safe integer division (micros are non-negative).
      val first = ev(s, dir).groupBy(col("user_id"))
        .agg(min(unix_micros(col("ts"))).as("fu"))
      ev(s, dir).filter(col("event_type") === "purchase")
        .join(broadcast(first), Seq("user_id"))
        .groupBy(expr("(unix_micros(ts) - fu) DIV 604800000000L")
          .as("tenure_week"))
        .agg(count(lit(1)).as("n_purchases"),
             sum(floor(col("value") * lit(1000000.0)).cast("long"))
               .as("sum_micro"))
        .withColumn("avg_micro", expr("sum_micro DIV n_purchases"))
    }),
    "q348_price_spread" -> ((s, dir) =>
      // Unit-price spread audit (X331): parts whose observed unit price
      // varies most across lines — top-20 by relative spread ppm, exact
      // integer micros (X280's unit-price convention); one per-part
      // combine rollup, TakeOrdered top-k, never a global sort.
      Tables.spread(s, Tables.read(s, dir, "lineitem"))
        .select(col("l_partkey"),
          expr("CAST(floor(l_extendedprice * 100) AS BIGINT) * 1000000L" +
               " DIV CAST(floor(l_quantity * 100) AS BIGINT)").as("up"))
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n_lines"), min(col("up")).as("min_up"),
             max(col("up")).as("max_up"))
        .withColumn("spread_ppm",
                    expr("(max_up - min_up) * 1000000L DIV max_up"))
        .orderBy(col("spread_ppm").desc, col("l_partkey"))
        .limit(20)),
    "q349_basket_size_dist" -> ((s, dir) => {
      // Basket-size distribution (X332): lines-per-order histogram with
      // share ppm — the fact-design sanity check behind every co-purchase
      // operator (the size cap bounds X229's pair explosion). One
      // combine rollup to order grain, one bounded histogram rollup, a
      // DimKey window for the total.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(graft.functions.DimKey.one)
      Tables.spread(s, Tables.read(s, dir, "lineitem"))
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n_lines"))
        .groupBy(col("n_lines")).agg(count(lit(1)).as("n_orders"))
        .withColumn("_tot", sum(col("n_orders")).over(w))
        .select(col("n_lines"), col("n_orders"),
                expr("n_orders * 1000000L DIV _tot").as("share_ppm"))
    }),
    "q350_source_scorecard" -> ((s, dir) =>
      // Per-source quality scorecard (X333): volume, mean tokens, short
      // and empty shares per source — the ingest-feed report card read
      // before a source's weight is set in the corpus mix. One narrow
      // projection + one source-dimensional rollup.
      docs(s, dir)
        .select(col("source"),
                TextAnalysis.tokenCount(col("text")).cast("long")
                  .as("ntok"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("ntok")).as("n_tokens"),
             sum(when(col("ntok") < 20, 1L).otherwise(0L))
               .as("n_short"),
             sum(when(col("ntok") === 0, 1L).otherwise(0L))
               .as("n_empty"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
                expr("n_tokens DIV n_docs").as("mean_tokens"),
                expr("n_short * 1000000L DIV n_docs").as("short_ppm"),
                expr("n_empty * 1000000L DIV n_docs").as("empty_ppm"))),
    "q351_cust_order_dist" -> ((s, dir) => {
      // Orders-per-customer distribution (X334): TPC-H Q13's shape — how
      // many customers placed exactly k orders, INCLUDING the zero-order
      // tail every inner-join rollup structurally drops (left join +
      // count of the nullable key). One fact rollup to customer grain,
      // then a bounded histogram rollup.
      val perCust = Tables.read(s, dir, "customer").select(col("c_custkey"))
        .join(Tables.read(s, dir, "orders")
                .select(col("o_custkey"), col("o_orderkey")),
              col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
      perCust.groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
    }),
    "q352_market_share" -> ((s, dir) => {
      // Regional market share (X335): TPC-H Q8's shape — each nation's
      // revenue share of ASIA by order year, PROMO parts only. The part
      // filter broadcasts into the fact scan, orders joins on its native
      // key, the customer→nation→region geo map is resolved before the
      // fact join, and the share window runs on the bounded year×nation
      // grid. Revenue is exact integer e4 (cents × discount-pct), so
      // every share is engine-exact.
      val orders = Tables.read(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
                year(col("o_orderdate")).as("o_year"))
      val geo = Tables.read(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
        .join(broadcast(Tables.read(s, dir, "nation")),
              col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.read(s, dir, "region")
                          .filter(col("r_name") === "ASIA")),
              col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("n_name"))
      val promo = Tables.read(s, dir, "part")
        .filter(col("p_type").startsWith("PROMO")).select(col("p_partkey"))
      Tables.spread(s, Tables.read(s, dir, "lineitem"))
        .select(col("l_orderkey"), col("l_partkey"),
          expr("CAST(floor(l_extendedprice * 100) AS BIGINT)" +
               " * (100 - CAST(floor(l_discount * 100) AS BIGINT))")
            .as("rev_e4"))
        .join(broadcast(promo), col("l_partkey") === col("p_partkey"))
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(geo, col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_year"), col("n_name"))
        .agg(sum(col("rev_e4")).as("rev_e4"))
        .withColumn("share_ppm", expr("rev_e4 * 1000000L DIV " +
          "sum(rev_e4) OVER (PARTITION BY o_year)"))
    }),
    "q353_ar_lag_slope" -> ((s, dir) => {
      // Daily-count autoregression (X336): lag-k AR slope per event type
      // (k = 1..3) over the zero-filled January grid — "does today
      // predict tomorrow", as Trend.fit's closed-form integer-OLS with
      // the series regressed on its own lag. One fact rollup feeds a
      // bounded 30-day × 5-type grid; the lag window partitions on the
      // real (event_type) key.
      import org.apache.spark.sql.expressions.Window
      val daily = ev(s, dir)
        .groupBy(col("event_type"), date_trunc("DAY", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val grid = ev(s, dir).select(col("event_type")).distinct()
        .crossJoin(s.sql("SELECT explode(sequence(TIMESTAMP '2024-01-01'," +
          " TIMESTAMP '2024-01-30', INTERVAL 1 DAY)) AS day"))
        .join(daily, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
                coalesce(col("n"), lit(0L)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val pairs = grid
        .select(col("event_type"), col("n"),
                lag(col("n"), 1).over(w).as("x1"),
                lag(col("n"), 2).over(w).as("x2"),
                lag(col("n"), 3).over(w).as("x3"))
        .selectExpr("event_type", "n",
          "stack(3, 1, x1, 2, x2, 3, x3) AS (lag, x)")
        .filter(col("x").isNotNull)
      Trend.fit(pairs, Seq("event_type", "lag"), col("x"), col("n"))
    }),
    "q354_burstiness" -> ((s, dir) => {
      // Traffic burstiness (X337): Fano factor (variance-to-mean) of
      // hourly event counts per type over the zero-filled January grid —
      // F ≈ 1 is Poisson-smooth, F ≫ 1 is bursty (the capacity-planning
      // signal behind rate limits and autoscaling). Exact integer ppm
      // via cross-multiplication: F = (nΣx²−(Σx)²) / (n·Σx); one fact
      // rollup feeds the bounded 720-hour × 5-type grid.
      val hourly = ev(s, dir)
        .groupBy(col("event_type"), date_trunc("HOUR", col("ts")).as("hr"))
        .agg(count(lit(1)).as("n"))
      ev(s, dir).select(col("event_type")).distinct()
        .crossJoin(s.sql("SELECT explode(sequence(TIMESTAMP '2024-01-01'," +
          " TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR)) AS hr"))
        .join(hourly, Seq("event_type", "hr"), "left")
        .select(col("event_type"), coalesce(col("n"), lit(0L)).as("x"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_hours"), sum(col("x")).as("sx"),
             sum(col("x") * col("x")).as("sxx"))
        .select(col("event_type"), col("n_hours"), col("sx").as("n_events"),
          expr("(n_hours * sxx - sx * sx) * 1000000L" +
               " DIV (n_hours * greatest(sx, 1L))").as("fano_ppm"))
    }),
    "q355_discount_band_revenue" -> ((s, dir) =>
      // Forgone-revenue probe (X338): TPC-H Q6's shape — revenue that a
      // discount band on small quantities gave away in one ship-year, as
      // a single filter + scalar aggregate. The point at 100 TB is the
      // SCAN: every predicate and both projected columns push into the
      // parquet reader; integer e4 cents×pct keeps it engine-exact.
      Tables.spread(s, Tables.read(s, dir, "lineitem"))
        .select(year(col("l_shipdate")).as("yr"), col("l_quantity"),
          expr("CAST(floor(l_discount * 100) AS BIGINT)").as("disc_pct"),
          expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("ep_c"))
        .filter(col("yr") === 1996 && col("l_quantity") < 24 &&
                col("disc_pct").between(5, 7))
        .agg(count(lit(1)).as("n_lines"),
             sum(expr("ep_c * disc_pct")).as("discount_e4"))),
    "q356_revenue_retention" -> ((s, dir) => {
      // Net revenue retention (X339): purchase value per first-touch
      // cohort week at each week offset, as ppm of that cohort's week-0
      // revenue — the dollar-weighted complement of q100's user-count
      // retention (a cohort can retain users yet lose revenue). First
      // touch reduces per user in one combine rollup (broadcast back);
      // the curve lands on the bounded cohort×offset grid; the week-0
      // base joins back broadcast. Values are non-negative so the ppm
      // division is sign-free and engine-exact.
      val wk = "unix_micros(ts) DIV 604800000000L"
      val first = ev(s, dir).groupBy(col("user_id"))
        .agg(min(expr(wk)).as("cohort_wk"))
      val rev = ev(s, dir).filter(col("event_type") === "purchase")
        .join(broadcast(first), Seq("user_id"))
        .groupBy(col("cohort_wk"),
                 (expr(wk) - col("cohort_wk")).as("week_offset"))
        .agg(sum(expr("CAST(floor(value * 1000000.0) AS BIGINT)"))
               .as("rev_micro"))
      val base = rev.filter(col("week_offset") === 0)
        .select(col("cohort_wk"), col("rev_micro").as("base_micro"))
      rev.join(broadcast(base), Seq("cohort_wk"), "left")
        .select(col("cohort_wk"), col("week_offset"), col("rev_micro"),
          expr("CASE WHEN base_micro IS NULL OR base_micro = 0 THEN NULL" +
               " ELSE rev_micro * 1000000L DIV base_micro END")
            .as("ndr_ppm"))
    }),
    "q357_bot_cadence" -> ((s, dir) => {
      // Bot-cadence screen (X340): the 20 users whose inter-event gaps
      // are most machine-regular — squared coefficient of variation of
      // the gap-minutes series, exact integer per-mille via
      // cross-multiplication (CV² = (nΣg²−(Σg)²)/(Σg)²; ppk keeps the
      // widest product inside int64). One per-user window for gaps, one
      // combine rollup, TakeOrdered — never a global sort.
      ev(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("gap_min",
          expr("(unix_micros(ts) - unix_micros(lag(ts, 1) OVER " +
               "(PARTITION BY user_id ORDER BY ts, event_id)))" +
               " DIV 60000000L"))
        .filter(col("gap_min").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_gaps"), sum(col("gap_min")).as("sg"),
             sum(col("gap_min") * col("gap_min")).as("sg2"))
        .filter(col("n_gaps") >= 10)
        .select(col("user_id"), col("n_gaps"),
          expr("(n_gaps * sg2 - sg * sg) * 1000L" +
               " DIV greatest(sg * sg, 1L)").as("cv2_ppk"))
        .orderBy(col("cv2_ppk").asc, col("user_id"))
        .limit(20)
    }),
    "q358_seasonal_anomaly" -> ((s, dir) => {
      // Seasonal-adjusted anomaly days (X341): a day is anomalous for a
      // type iff its count deviates from that weekday's mean by more
      // than 3× the MAD of the type's residuals — q152's z-score with
      // the day-of-week baseline removed FIRST (Sundays aren't outliers
      // for being Sundays) and a robust scale. Residuals are exact
      // integers on a ×20 lattice (LCM of the 4/5-per-dow day counts:
      // r = (n·c_dow − s_dow)·(20/c_dow) — no division anywhere), the
      // MAD is two ranked picks on the bounded 30-row-per-type grid.
      import org.apache.spark.sql.expressions.Window
      val daily = ev(s, dir)
        .groupBy(col("event_type"), date_trunc("DAY", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val grid = ev(s, dir).select(col("event_type")).distinct()
        .crossJoin(s.sql("SELECT explode(sequence(TIMESTAMP '2024-01-01'," +
          " TIMESTAMP '2024-01-30', INTERVAL 1 DAY)) AS day"))
        .join(daily, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
                coalesce(col("n"), lit(0L)).as("n"),
                expr("(unix_micros(day) DIV 86400000000L) % 7").as("dow"))
      val wd = Window.partitionBy(col("event_type"), col("dow"))
      val wt = Window.partitionBy(col("event_type"))
      val wr = Window.partitionBy(col("event_type"))
        .orderBy(abs(col("r20")), col("day"))
      grid
        .withColumn("c_dow", count(lit(1)).over(wd))
        .withColumn("s_dow", sum(col("n")).over(wd))
        .withColumn("r20",
          expr("(n * c_dow - s_dow) * (20L DIV c_dow)"))
        .withColumn("_rn", row_number().over(wr))
        .withColumn("mad2", sum(when(col("_rn").isin(15, 16),
                                     abs(col("r20")))).over(wt))
        .select(col("event_type"), col("day"), col("n"), col("r20"),
                col("mad2"),
                (abs(col("r20")) * 2 > col("mad2") * 3).as("anomalous"))
    }),
    "q359_neighbor_jaccard" -> ((s, dir) => {
      // Neighborhood Jaccard similarity (X342): q323's common-neighbor
      // counts normalized by the neighborhood union — the structural
      // equivalence score that separates "share 3 of 4 partners" from
      // "share 3 of 400". Same strong-edge graph and single wedge join;
      // degrees broadcast back (part-dimension sized); top-50 by exact
      // integer ppm rides a TakeOrdered.
      val p = Graph.coOccurrenceEdgesCached(
        Tables.spread(s, Tables.read(s, dir, "lineitem")),
        groupCol = "l_orderkey", itemCol = "l_partkey",
        minCount = 2).localCheckpoint()
      val nbr = p.unionAll(p.select(col("dst").as("src"),
                                    col("src").as("dst")))
      val deg = nbr.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      nbr.as("_l")
        .join(nbr.as("_r"),
              col("_l.src") === col("_r.src") &&
                col("_l.dst") < col("_r.dst"))
        .groupBy(col("_l.dst").as("a"), col("_r.dst").as("b"))
        .agg(count(lit(1)).as("cn"))
        .join(broadcast(deg.select(col("src").as("a"),
                                   col("deg").as("deg_a"))), Seq("a"))
        .join(broadcast(deg.select(col("src").as("b"),
                                   col("deg").as("deg_b"))), Seq("b"))
        .select(col("a"), col("b"), col("cn"), col("deg_a"), col("deg_b"),
          expr("cn * 1000000L DIV (deg_a + deg_b - cn)").as("jaccard_ppm"))
        .orderBy(col("jaccard_ppm").desc, col("a"), col("b"))
        .limit(50)
    }),
    "q360_price_elasticity" -> ((s, dir) => {
      // Discount elasticity (X343): per brand, does a deeper discount
      // move more units? Trend.fit's integer-OLS with x = discount pct,
      // y = quantity units — the merchandising counterpart of q201's
      // time trend. Part broadcasts into the fact scan; the regression
      // reduces in one combine rollup per brand.
      val li = Tables.spread(s, Tables.read(s, dir, "lineitem"))
        .join(broadcast(Tables.read(s, dir, "part")
                .select(col("p_partkey"), col("p_brand"))),
              col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"),
          expr("CAST(floor(l_discount * 100) AS BIGINT)").as("x"),
          expr("CAST(floor(l_quantity) AS BIGINT)").as("y"))
      Trend.fit(li, Seq("p_brand"), col("x"), col("y"))
    }),
    "q361_cycle_time_quantiles" -> ((s, dir) => {
      // Repeat-purchase cycle time (X344): exact p25/p50/p75/p90 of the
      // days between a customer's consecutive orders, by market segment —
      // the replenishment-cadence read behind CRM timing. Per-customer
      // lag window (real key), segment broadcast, then X44 rank-selected
      // exact quantiles on the bounded 5-segment grouping.
      val gaps = Tables.read(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
        .withColumn("gap_days",
          expr("datediff(o_orderdate, lag(o_orderdate, 1) OVER " +
               "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))"))
        .filter(col("gap_days").isNotNull)
        .join(broadcast(Tables.read(s, dir, "customer")
                .select(col("c_custkey"), col("c_mktsegment"))),
              col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment"), col("gap_days").cast("long").as("gap_days"))
      Profile.discreteQuantiles(gaps, "c_mktsegment", "gap_days",
                                Seq(25, 50, 75, 90))
    }),
    "q362_supplier_hhi" -> ((s, dir) =>
      // Supply concentration (X345): Herfindahl index of supplier share
      // per part in exact integer ppm (Σqᵢ²·10⁶ / (Σqᵢ)² — quantity
      // units, no division until the final cross-multiplied ratio). The
      // 25 most CONTESTED multi-supplier parts surface via TakeOrdered;
      // single-supplier parts (HHI = 10⁶) are the boring majority.
      Tables.spread(s, Tables.read(s, dir, "lineitem"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(expr("CAST(floor(l_quantity) AS BIGINT)")).as("q"))
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n_suppliers"), sum(col("q")).as("q_total"),
             sum(col("q") * col("q")).as("q2"))
        .filter(col("n_suppliers") >= 2)
        .select(col("l_partkey"), col("n_suppliers"), col("q_total"),
          expr("q2 * 1000000L DIV (q_total * q_total)").as("hhi_ppm"))
        .orderBy(col("hhi_ppm").asc, col("l_partkey"))
        .limit(25)),
    "q363_dormant_capital" -> ((s, dir) => {
      // Dormant high-balance accounts (X346): TPC-H Q22's shape —
      // customers whose balance beats the global average (exact
      // cross-multiplied cents: bal·n > Σbal, no float mean) with no
      // order since 2000 (anti-join on the recent-buyer key set), rolled
      // up per segment. The sales-outreach list every CRM starts from.
      val c = Tables.read(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"),
          expr("CAST(floor(c_acctbal * 100) AS BIGINT)").as("bal_c"))
      val tot = c.agg(sum(col("bal_c")).as("_s"),
                      count(lit(1)).as("_n"))
      val recent = Tables.read(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
        .select(col("o_custkey"))
      c.crossJoin(broadcast(tot))
        .filter(expr("bal_c * _n > _s"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_dormant"),
             sum(col("bal_c")).as("dormant_cents"))
    }),
    "q364_below_list_share" -> ((s, dir) =>
      // Below-list selling (X347): per brand, the share of lines whose
      // realized unit price undercuts the part's list price — comparison
      // via exact integer cross-multiplication (ep_c < retail_c × qty:
      // the per-unit division never happens, so no rounding seam). Part
      // attributes broadcast into the fact scan; one rollup per brand.
      Tables.spread(s, Tables.read(s, dir, "lineitem"))
        .join(broadcast(Tables.read(s, dir, "part")
                .select(col("p_partkey"), col("p_brand"),
                  expr("CAST(floor(p_retailprice * 100) AS BIGINT)")
                    .as("retail_c"))),
              col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"),
          expr("CAST(floor(l_extendedprice * 100) AS BIGINT)" +
               " < retail_c * CAST(floor(l_quantity) AS BIGINT)")
            .as("below"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_lines"),
             sum(when(col("below"), 1L).otherwise(0L)).as("n_below"))
        .withColumn("below_ppm",
                    expr("n_below * 1000000L DIV n_lines"))),
    "q365_segment_brand_index" -> ((s, dir) => {
      // Segment×brand purchase index (X348): how over/under-represented
      // each brand is inside each market segment vs its overall share —
      // the "index 100" (here ppk-1000) every merchandising deck leads
      // with. Counts cross-multiply (n_sb·n_tot·1000 / (n_s·n_b)) so the
      // bounded 5×25 matrix is engine-exact; dimensions broadcast into
      // the one fact-sized join chain.
      val li = Tables.spread(s, Tables.read(s, dir, "lineitem"))
        .join(broadcast(Tables.read(s, dir, "part")
                .select(col("p_partkey"), col("p_brand"))),
              col("l_partkey") === col("p_partkey"))
        .join(Tables.read(s, dir, "orders")
                .select(col("o_orderkey"), col("o_custkey")),
              col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.read(s, dir, "customer")
                .select(col("c_custkey"), col("c_mktsegment"))),
              col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment"), col("p_brand")).localCheckpoint()
      val sb = li.groupBy(col("c_mktsegment"), col("p_brand"))
        .agg(count(lit(1)).as("n_sb"))
      val bySeg = li.groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_s"))
      val byBrand = li.groupBy(col("p_brand")).agg(count(lit(1)).as("n_b"))
      val tot = li.agg(count(lit(1)).as("n_tot"))
      sb.join(broadcast(bySeg), Seq("c_mktsegment"))
        .join(broadcast(byBrand), Seq("p_brand"))
        .crossJoin(broadcast(tot))
        .select(col("c_mktsegment"), col("p_brand"), col("n_sb"),
          expr("n_sb * n_tot * 1000L DIV (n_s * n_b)").as("index_ppk"))
    }),
    "q366_communities" -> ((s, dir) => {
      // Label-propagation communities (X349): deterministic sync LPA
      // (neighbor-label mode, smallest-label ties) on the strong-edge
      // co-purchase graph — the structure CC can't see: clusterPairs
      // merges everything one bridge connects; LPA splits the dense
      // regions the bridge joins. 3 fixed rounds, each one edge⋈label
      // shuffle; the size window partitions on the real community key.
      import org.apache.spark.sql.expressions.Window
      val p = Graph.coOccurrenceEdgesCached(
        Tables.spread(s, Tables.read(s, dir, "lineitem")),
        groupCol = "l_orderkey", itemCol = "l_partkey", minCount = 2)
      val nbr = p.unionAll(p.select(col("dst").as("src"),
                                    col("src").as("dst")))
      Graph.labelPropagation(nbr, iters = 3)
        .withColumn("community_size",
          count(lit(1)).over(Window.partitionBy(col("community"))))
    }),
    "q367_proximity_search" -> ((s, dir) =>
      // Positional proximity search (X350): documents where 'spark' and
      // 'window' sit within 3 tokens — the NEAR operator plain postings
      // can't answer (q226 proves co-presence; positions prove
      // adjacency). One posexplode projection; the per-term position
      // lists join on the doc key only, so pair work is tf_a×tf_b per
      // doc, never corpus-quadratic.
      TextAnalysis.proximityHits(docs(s, dir), "doc_id", "text",
                                 termA = "spark", termB = "window",
                                 maxDist = 3)),
    "q368_stream_heavy_hitters" -> ((s, dir) => {
      // Streaming bounded-state heavy hitters (X351), driver-checked
      // end-to-end: three micro-batches through TopKStream.misraGriesSink
      // (per-bucket Misra–Gries, capacity 2×3 — far below the slice's
      // key count, so every batch shrinks), then the MG guarantees are
      // checked per key against exact counts computed in the same query:
      // est ≤ true ≤ est + e_bucket, and true > e_bucket ⇒ present.
      // The oracle recomputes the exact side and expects every verdict
      // TRUE — a wrong shrink delta, a lost counter, or a broken merge
      // fails the hash gate. MemoryStream is driver-fed BY DESIGN (the
      // harness source; production reads Kafka/files), bounded to the
      // user_id%5 slice so driver volume stays trivial at any SF.
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val rows = ev(s, dir).filter(col("user_id") % 5 === 1)
        .select(col("event_id"), col("user_id"))
        .as[(Long, Long)].collect().toSeq
      val base = java.nio.file.Files
        .createTempDirectory("q368_stream").toString
      val source = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long)]
      withStreamShuffle(s) {
      val q = graft.streaming.TopKStream.misraGriesSink(
          source.toDF().toDF("event_id", "user_id"), s"$base/store",
          keyCol = "user_id", buckets = 2, m = 3,
          checkpoint = s"$base/ckpt")
        try (0 until 3).foreach { i =>
          source.addData(rows.filter(_._1 % 3 == i): _*)
          q.processAllAvailable()
        } finally q.stop()
      }
      val st = graft.VersionedTable.read(s, s"$base/store")
      val counters = st.filter(col("kind") === "c")
        .select(col("k").as("user_id"), col("est"))
      val meta = st.filter(col("kind") === "m")
        .select(col("bucket"), col("err"))
      ev(s, dir).filter(col("user_id") % 5 === 1)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_true"))
        .withColumn("bucket", pmod(col("user_id"), lit(2L)))
        .join(broadcast(meta), Seq("bucket"))
        .join(broadcast(counters), Seq("user_id"), "left")
        .select(col("user_id"), col("n_true"),
          (col("est").isNull && col("n_true") <= col("err") ||
             col("est").isNotNull && col("est") <= col("n_true") &&
               col("n_true") - col("est") <= col("err")).as("mg_ok"),
          (col("n_true") <= col("err") || col("est").isNotNull)
            .as("covered_ok"))
    }),
    "q369_lexical_gini" -> ((s, dir) => {
      // Lexical diversity per source (X352): Gini impurity of each doc's
      // token distribution (1 − Σ(tf/n)², exact ppm via (n²−Σtf²)·10⁶
      // DIV n² — the log-free diversity index, where entropy would drift
      // between engines), aggregated per source. Low Gini = template/
      // boilerplate feeds; the mix-weighting signal q350's length stats
      // can't see. Two combine rollups, no window, no division until the
      // final bounded grid.
      val tf = docs(s, dir)
        .select(col("source"), col("doc_id"),
                explode(TextAnalysis.tokens(col("text"))).as("term"))
        .filter(length(col("term")) > 0)
        .groupBy(col("source"), col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      tf.groupBy(col("source"), col("doc_id"))
        .agg(sum(col("tf")).as("n"), sum(expr("tf * tf")).as("s2"))
        .select(col("source"),
                expr("(n * n - s2) * 1000000L DIV (n * n)").as("g"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("g")).as("_sg"),
             min(col("g")).as("min_gini_ppm"),
             max(col("g")).as("max_gini_ppm"))
        .select(col("source"), col("n_docs"),
                expr("_sg DIV n_docs").as("avg_gini_ppm"),
                col("min_gini_ppm"), col("max_gini_ppm"))
    }),
    "q370_open_order_aging" -> ((s, dir) =>
      // Open-order aging (X353): the receivables-style aging report —
      // non-finalized orders bucketed by age-years at the 2001-09-01
      // reference, with order counts and exact open cents per (status,
      // age) cell. One scan, one bounded rollup; the predicate and both
      // columns push to parquet.
      Tables.read(s, dir, "orders")
        .filter(col("o_orderstatus") =!= "F")
        .select(col("o_orderstatus"),
          expr("datediff(TIMESTAMP '2001-09-01', o_orderdate) DIV 365")
            .as("age_years"),
          expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
        .groupBy(col("o_orderstatus"), col("age_years"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("open_cents"))),
    "q371_simpson_check" -> ((s, dir) => {
      // Simpson direction audit (X354): does each segment's 1996→1997
      // discount-rate move agree with the aggregate move? Rates compare
      // by exact cross-multiplication (s96·n97 vs s97·n96 — no division
      // anywhere), the overall direction rides a DimKey window over the
      // bounded 5-segment grid, and `disagrees` marks the segments that
      // could flip the aggregate (the Simpson's-paradox ingredient).
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(graft.functions.DimKey.one)
      Tables.spread(s, Tables.read(s, dir, "lineitem"))
        .join(Tables.read(s, dir, "orders")
                .select(col("o_orderkey"), col("o_custkey"),
                        year(col("o_orderdate")).as("yr")),
              col("l_orderkey") === col("o_orderkey"))
        .filter(col("yr").isin(1996, 1997))
        .join(broadcast(Tables.read(s, dir, "customer")
                .select(col("c_custkey"), col("c_mktsegment"))),
              col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(sum(when(col("yr") === 1996,
               expr("CAST(floor(l_discount * 100) AS BIGINT)"))
               .otherwise(0L)).as("s96"),
             sum(when(col("yr") === 1996, 1L).otherwise(0L)).as("n96"),
             sum(when(col("yr") === 1997,
               expr("CAST(floor(l_discount * 100) AS BIGINT)"))
               .otherwise(0L)).as("s97"),
             sum(when(col("yr") === 1997, 1L).otherwise(0L)).as("n97"))
        .withColumn("_t96s", sum(col("s96")).over(w))
        .withColumn("_t96n", sum(col("n96")).over(w))
        .withColumn("_t97s", sum(col("s97")).over(w))
        .withColumn("_t97n", sum(col("n97")).over(w))
        .select(col("c_mktsegment"), col("s96"), col("n96"), col("s97"),
                col("n97"),
          expr("s97 * n96 > s96 * n97").as("seg_up"),
          expr("_t97s * _t96n > _t96s * _t97n").as("overall_up"),
          expr("(s97 * n96 > s96 * n97) != (_t97s * _t96n > _t96s * _t97n)")
            .as("disagrees"))
    }),
    "q372_gap_tail_permille" -> ((s, dir) => {
      // Extreme-tail gap quantiles (X355): exact p50.0/p99.0/p99.9 of
      // per-user inter-event gaps by arriving type — the pager-threshold
      // read where sketches blur exactly the rank you care about. The
      // permille ladder rides weightedQuantiles' micro-cell
      // decomposition: NO task ever sorts a whole type's gaps (5 types ×
      // 100 TB would serialize); the biggest sort is a micro-cell.
      val gaps = ev(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
                col("event_type"))
        .withColumn("gap_min",
          expr("(unix_micros(ts) - unix_micros(lag(ts, 1) OVER " +
               "(PARTITION BY user_id ORDER BY ts, event_id)))" +
               " DIV 60000000L"))
        .filter(col("gap_min").isNotNull)
        .withColumn("w", lit(1L))
      Profile.weightedQuantiles(gaps, "event_type", "gap_min", "w",
                                Seq(500, 990, 999), denom = 1000)
    }),
    "q373_t_closeness" -> ((s, dir) =>
      // t-closeness audit (X356): what each (nation, segment) class
      // REVEALS about balances — total-variation distance between the
      // class's banded-balance distribution and the global one, exact
      // integer ppm with zero-fill cells; breach marks classes leaking
      // more than t=150000 ppm. The release gate k-anonymity (q81)
      // cannot express: a big class is still unsafe if it is skewed.
      Privacy.tCloseness(
        Tables.read(s, dir, "customer"),
        qidCols = Seq("c_nationkey", "c_mktsegment"),
        sensitive = expr("CAST(floor(c_acctbal / 2000) AS BIGINT)"),
        tPpm = 150000L)),
    "q374_next_purchase_pairs" -> ((s, dir) => {
      // Cross-order purchase sequences (X357): part pairs where the same
      // customer first bought A strictly before first buying B — the
      // temporal "bought A, later bought B" signal q243's same-basket
      // co-purchase cannot see. First-purchase reduces per (customer,
      // part) in one combine rollup; the per-customer self-join is
      // bounded by parts-per-customer, never corpus-quadratic; top-50
      // rides a TakeOrdered.
      val fp = Tables.spread(s, Tables.read(s, dir, "lineitem"))
        .select(col("l_orderkey"), col("l_partkey"))
        .join(Tables.read(s, dir, "orders")
                .select(col("o_orderkey"), col("o_custkey"),
                        col("o_orderdate")),
              col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"), col("l_partkey"))
        .agg(min(col("o_orderdate")).as("first_dt"))
        .localCheckpoint()
      fp.as("_a")
        .join(fp.as("_b"),
              col("_a.o_custkey") === col("_b.o_custkey") &&
                col("_a.first_dt") < col("_b.first_dt"))
        .groupBy(col("_a.l_partkey").as("part_a"),
                 col("_b.l_partkey").as("part_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("n_pairs").desc, col("part_a"), col("part_b"))
        .limit(50)
    }),
    "q375_heaps_curve" -> ((s, dir) => {
      // Heaps'-law vocabulary growth (X358): distinct-vocabulary size at
      // each corpus decile — the saturation curve that decides whether
      // more data still buys new tokens. One fact pass each for token
      // first-seen (term grain) and per-doc counts (doc grain); the ten
      // milestone doc-ids come from the micro-cell quantile path and
      // broadcast into ≤-joins against DIMENSION-sized rollups, so the
      // curve never rescans the corpus per milestone.
      val milestones = Profile.weightedQuantiles(
          docs(s, dir).select(lit("all").as("g"), col("doc_id"),
                              lit(1L).as("w")),
          "g", "doc_id", "w", (10 to 100 by 10))
        .select(col("q").as("pct"), col("q_value").as("m_doc"))
      val tok = docs(s, dir)
        .select(col("doc_id"),
                explode(TextAnalysis.tokens(col("text"))).as("term"))
        .filter(length(col("term")) > 0)
      val firstSeen = tok.groupBy(col("term"))
        .agg(min(col("doc_id")).as("fs"))
      val perDoc = docs(s, dir).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("ntok"))
      val vocab = firstSeen.join(broadcast(milestones),
          col("fs") <= col("m_doc"))
        .groupBy(col("pct"), col("m_doc"))
        .agg(count(lit(1)).as("n_vocab"))
      val mass = perDoc.join(broadcast(milestones),
          col("doc_id") <= col("m_doc"))
        .groupBy(col("pct"), col("m_doc"))
        .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"))
      mass.join(vocab, Seq("pct", "m_doc"))
        .select(col("pct"), col("m_doc"), col("n_docs"), col("n_tokens"),
                col("n_vocab"))
    }),
    "q376_rrf_fusion" -> ((s, dir) => {
      // Reciprocal-rank fusion (X359): hybrid retrieval — the BM25
      // top-20 (q70's exact integer scorer) fused with a
      // coordination-level ranking (distinct query terms hit, shortest
      // doc first) via RRF: Σ 10⁶ DIV (60 + rank). The standard hybrid-
      // search merge, integer-exact; both lists are k-sized so the
      // fusion join is trivial, and only the 20-row lists ever see a
      // rank window.
      import org.apache.spark.sql.expressions.Window
      val wOne = Window.partitionBy(graft.functions.DimKey.one)
      val bm25 = TextAnalysis
        .bm25TopK(docs(s, dir), "doc_id", "text", Bm25Terms, k = 20)
        .select(col("doc_id"), col("rank").as("_ra"))
      val hits = docs(s, dir)
        .select(col("doc_id"),
                size(TextAnalysis.tokens(col("text"))).cast("long")
                  .as("dl"),
                explode(TextAnalysis.tokens(col("text"))).as("term"))
        .filter(col("term").isin(Bm25Terms: _*))
        .groupBy(col("doc_id"), col("dl"))
        .agg(countDistinct(col("term")).as("n_hit"))
      val coord = hits
        .orderBy(col("n_hit").desc, col("dl").asc, col("doc_id"))
        .limit(20)
        .withColumn("_rc", row_number().over(
          wOne.orderBy(col("n_hit").desc, col("dl").asc, col("doc_id"))))
        .select(col("doc_id"), col("_rc"))
      bm25.join(coord, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          (coalesce(expr("1000000L DIV (60L + _ra)"), lit(0L)) +
             coalesce(expr("1000000L DIV (60L + _rc)"), lit(0L)))
            .as("rrf_ppm"),
          col("_ra").isNotNull.as("in_bm25"),
          col("_rc").isNotNull.as("in_coord"))
        .orderBy(col("rrf_ppm").desc, col("doc_id"))
        .limit(10)
        .withColumn("rank", row_number().over(
          wOne.orderBy(col("rrf_ppm").desc, col("doc_id"))))
        .select(col("rank"), col("doc_id"), col("rrf_ppm"),
                col("in_bm25"), col("in_coord"))
    }),
    "q377_split_shipments" -> ((s, dir) => {
      // Split-shipment fragmentation (X360): how many distinct ship
      // dates each order's lines spread across — the fulfillment-cost
      // histogram (every extra date is another box). One order-grain
      // rollup, one bounded histogram rollup with exact cents per band.
      Tables.spread(s, Tables.read(s, dir, "lineitem"))
        .groupBy(col("l_orderkey"))
        .agg(countDistinct(col("l_shipdate")).as("n_ship_dates"),
             sum(expr("CAST(floor(l_extendedprice * 100) AS BIGINT)"))
               .as("cents"))
        .groupBy(col("n_ship_dates"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("cents"))
    }),
    "q385_stream_enrich" -> ((s, dir) => {
      // Streaming point-in-time enrichment, driver-checked end-to-end:
      // odd-id facts stream in three micro-batches through
      // EnrichStream.enrich against the STATIC SCD2 dimension built from
      // even-id events. The stream-static broadcast containment join is
      // state-free (the dimension is re-planned per batch), and replaying
      // all batches must equal the batch as-of enrichment — the oracle is
      // q56's containment SQL on the same slice. (MemoryStream driver feed
      // bounded to the user_id%7 slice, as in q217.)
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val all = ev(s, dir).filter(col("user_id") % 7 === 0)
      val dim = Scd2
        .initialLoad(all.filter(col("event_id") % 2 === 0), evCfg)
        .localCheckpoint()
      val facts = all.filter(col("event_id") % 2 === 1)
        .select(col("event_id"), col("user_id"), col("ts"))
        .as[(Long, Long, java.sql.Timestamp)].collect().toSeq
      val src = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, java.sql.Timestamp)]
      val enr = graft.streaming.EnrichStream.enrich(
        src.toDF().toDF("event_id", "user_id", "ts"), "ts", dim,
        Seq("user_id"), evCfg)
      val tbl = "q385_enr_" + java.util.UUID.randomUUID.toString
        .replace("-", "")
      withStreamShuffle(s) {
      val q = enr.writeStream.format("memory").queryName(tbl)
          .outputMode("append").start()
        try (0 until 3).foreach { i =>
          src.addData(facts.filter(_._1 % 3 == i): _*)
          q.processAllAvailable()
        } finally q.stop()
      }
      s.table(tbl).select(
        col("event_id"), col("user_id"), col("ts"),
        col("dim_event_id"), col("dim_ts"), col("dim_event_type"),
        col("dim_value"), col("dim_props"))
    }),
    "q394_stream_scd" -> ((s, dir) => {
      // Streaming SCD2 maintenance, driver-checked end-to-end: the
      // user_id%5 slice streams in three event_id-third micro-batches
      // (hash split — late rows re-slot mid-history) through
      // ScdStream.scdSink, each batch one ScdEngine merge into the parquet
      // target. The final dimension must equal the three-phase incremental
      // SQL the oracle runs — the q64 contract through the streaming
      // front-end. (MemoryStream driver feed on the bounded slice.)
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val rows = ev(s, dir).filter(col("user_id") % 5 === 1)
        .select(col("event_id"), col("ts"), col("user_id"),
                col("event_type"), col("value"), col("props"))
        .as[(Long, java.sql.Timestamp, Long, String, Double, String)]
        .collect().toSeq
      val base = java.nio.file.Files.createTempDirectory("q394_scd").toString
      val src = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp, Long, String, Double,
                       String)]
      withStreamShuffle(s) {
      val q = graft.streaming.ScdStream.scdSink(
          src.toDF().toDF("event_id", "ts", "user_id", "event_type",
                          "value", "props"),
          s"$base/dim", evCfg, checkpointLocation = s"$base/ckpt").start()
        try (0 until 3).foreach { i =>
          src.addData(rows.filter(_._1 % 3 == i): _*)
          q.processAllAvailable()
        } finally q.stop()
      }
      s.read.parquet(s"$base/dim")
        .select(col("event_id"), col("ts"), col("user_id"),
                col("event_type"), col("value"), col("props"),
                col("_is_current"), col("_valid_from"), col("_valid_to"),
                col("_change_type"))
    }),
    "q417_restatement" -> ((s, dir) => {
      // As-was vs as-is restatement report (the bitemporal DIFF, q240's
      // companion): the state believed valid at T under load-1 knowledge
      // (even ids only) full-outer-joined with the state valid at T under
      // full knowledge — keys whose selected version changed, appeared,
      // or vanished once corrections landed. The audit a regulator asks
      // for: what did the warehouse restate?
      val all = ev(s, dir)
      val row = all
        .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
        .head()
      val t = row.getLong(0) + (row.getLong(1) - row.getLong(0)) / 2
      val tTs = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        t / 1000000L, (t % 1000000L) * 1000L))
      def cut(src: DataFrame) =
        Scd2.asOf(Scd2.initialLoad(src, evCfg), tTs, evCfg)
          .select(col("user_id"), col("event_id"))
      val was = cut(all.filter(col("event_id") % 2 === 0))
        .withColumnRenamed("event_id", "was_event_id")
      val now = cut(all).withColumnRenamed("event_id", "now_event_id")
      was.join(now, Seq("user_id"), "full_outer")
        .filter(!(col("was_event_id") <=> col("now_event_id")))
        .select(col("user_id"), col("was_event_id"), col("now_event_id"),
                when(col("was_event_id").isNull, "appeared")
                  .when(col("now_event_id").isNull, "vanished")
                  .otherwise("restated").as("kind"))
    }),
    "q418_scd3" -> ((s, dir) =>
      // SCD type 3 (X401): one row per key with current + previous
      // DISTINCT event_type and the change-effective timestamp — the
      // reorg-column variant completing the 0/1/2 family. Derived from the
      // same change-collapsed timeline as type 2, one ascending window.
      Scd3.snapshot(ev(s, dir), evTypeCfg, "event_type")),
    "q419_scd6" -> ((s, dir) =>
      // SCD type 6 (X402): the type-2 timeline with every historical row
      // stamped with the key's CURRENT event_type — group-history-by-
      // today's-taxonomy without a read-time self-join.
      Scd3.history(ev(s, dir), evTypeCfg, "event_type")
        .select(col("event_id"), col("ts"), col("user_id"),
                col("event_type"), col("_valid_from"), col("_valid_to"),
                col("_is_current"), col("event_type_current"))),
    "q424_dedup_keep_best" -> ((s, dir) => {
      // Quality-aware dedup (X406): within each near-dup cluster keep the
      // HIGHEST-n_chars member (ties to smallest id) — q46's pipeline with
      // the keep-the-best-copy survivorship policy instead of smallest-id.
      val d = docs(s, dir)
      val pairs = Dedup.minhashLshPairs(d, "doc_id", "text", n = 3,
                                        bands = 4, rows = 3,
                                        tauNum = 1, tauDen = 2)
      Dedup.keepBest(d, "doc_id", pairs, "n_chars")
        .select("doc_id", "source", "n_chars")
    })
  )

  private def r6Oracle: Map[String, String] = Map(
    "q424_dedup_keep_best" ->
      s"""WITH RECURSIVE $MinhashPairsCtes,
         |vp AS ($JaccardTailSql),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM vp
         |      UNION SELECT doc_b, doc_a FROM vp),
         |reach AS (
         |  SELECT src AS node, src AS lab FROM e
         |  UNION
         |  SELECT e.dst, r.lab FROM reach r JOIN e ON e.src = r.node
         |),
         |cc AS (SELECT node AS doc_id, min(lab) AS cluster_id
         |       FROM reach GROUP BY node),
         |sc AS (SELECT cc.doc_id, cc.cluster_id, d.n_chars
         |       FROM cc JOIN documents d USING (doc_id)),
         |win AS (SELECT doc_id FROM (
         |    SELECT doc_id, row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY n_chars DESC, doc_id) AS rn FROM sc)
         |  WHERE rn = 1)
         |SELECT doc_id, source, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM sc
         |                     WHERE doc_id NOT IN (SELECT doc_id FROM win))"""
        .stripMargin,
    "q418_scd3" ->
      s"""WITH $SrcCte,
         |hist AS (
         |  WITH ${scd2FullSql(Seq("event_type"), deletes = false)}
         |),
         |x AS (SELECT user_id, event_type, _valid_from,
         |    lag(event_type) OVER w AS prev_type,
         |    row_number() OVER w AS rn,
         |    count(*) OVER (PARTITION BY user_id) AS nv
         |  FROM hist
         |  WINDOW w AS (PARTITION BY user_id ORDER BY _valid_from))
         |SELECT user_id, event_type AS event_type_current,
         |  prev_type AS event_type_previous,
         |  _valid_from AS changed_at,
         |  CAST(nv - 1 AS BIGINT) AS n_changes
         |FROM x WHERE rn = nv""".stripMargin,
    "q419_scd6" ->
      s"""WITH $SrcCte,
         |hist AS (
         |  WITH ${scd2FullSql(Seq("event_type"), deletes = false)}
         |)
         |SELECT event_id, ts, user_id, event_type, _valid_from,
         |  _valid_to, _is_current,
         |  last_value(event_type) OVER (PARTITION BY user_id
         |    ORDER BY _valid_from
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         |    AS event_type_current
         |FROM hist""".stripMargin,
    "q417_restatement" ->
      s"""WITH $SrcCte,
         |b AS (SELECT epoch_us(min(ts)) AS lo, epoch_us(max(ts)) AS hi
         |      FROM src),
         |cut AS (SELECT make_timestamp(lo + (hi - lo) // 2) AS t FROM b),
         |h1 AS (
         |  WITH ${scd2FullSql(AllCheck, deletes = false,
        from = "(SELECT * FROM src WHERE event_id % 2 = 0)")}
         |),
         |w1 AS (SELECT user_id, event_id AS was_event_id FROM h1
         |       WHERE _valid_from <= (SELECT t FROM cut)
         |         AND _valid_to > (SELECT t FROM cut)),
         |h2 AS (
         |  WITH ${scd2FullSql(AllCheck, deletes = false)}
         |),
         |w2 AS (SELECT user_id, event_id AS now_event_id FROM h2
         |       WHERE _valid_from <= (SELECT t FROM cut)
         |         AND _valid_to > (SELECT t FROM cut))
         |SELECT coalesce(w1.user_id, w2.user_id) AS user_id,
         |  was_event_id, now_event_id,
         |  CASE WHEN was_event_id IS NULL THEN 'appeared'
         |       WHEN now_event_id IS NULL THEN 'vanished'
         |       ELSE 'restated' END AS kind
         |FROM w1 FULL JOIN w2 ON w1.user_id = w2.user_id
         |WHERE was_event_id IS DISTINCT FROM now_event_id""".stripMargin,
    // q394: the streamed scdSink table == the three-phase incremental SQL
    // over the same slice (q64's contract through the streaming front-end).
    "q394_stream_scd" ->
      s"WITH $SrcCte, ${scd2ThreePhaseSql(AllCheck,
        "event_id % 3 = 0 AND user_id % 5 = 1",
        "event_id % 3 = 1 AND user_id % 5 = 1",
        "event_id % 3 = 2 AND user_id % 5 = 1")}",
    "q385_stream_enrich" ->
      s"""WITH hist AS (
         |  WITH $SrcCte, ${scd2FullSql(AllCheck, deletes = false,
        from = "(SELECT * FROM src WHERE event_id % 2 = 0 AND user_id % 7 = 0)")}
         |),
         |f AS (WITH $SrcCte SELECT event_id, user_id, ts FROM src
         |      WHERE event_id % 2 = 1 AND user_id % 7 = 0)
         |SELECT f.event_id, f.user_id, f.ts,
         |  h.event_id AS dim_event_id, h.ts AS dim_ts,
         |  h.event_type AS dim_event_type, h.value AS dim_value,
         |  h.props AS dim_props
         |FROM f LEFT JOIN hist h
         |  ON f.user_id = h.user_id
         |  AND h._valid_from <= f.ts AND f.ts < h._valid_to""".stripMargin,
    "q294_benford" ->
      """WITH c AS (SELECT CAST(floor(l_extendedprice * 100) AS BIGINT)
        |             AS cents FROM lineitem),
        |d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT)
        |        AS digit, CAST(count(*) AS BIGINT) AS n
        |      FROM c WHERE cents > 0 GROUP BY 1),
        |e AS (SELECT * FROM (VALUES (1, 301029), (2, 176091), (3, 124938),
        |        (4, 96910), (5, 79181), (6, 66946), (7, 57991), (8, 51152),
        |        (9, 45757)) t(digit, expected_ppm))
        |SELECT d.digit, d.n,
        |  CAST(d.n * 1000000 // (SELECT sum(n) FROM d) AS BIGINT)
        |    AS actual_ppm,
        |  CAST(e.expected_ppm AS BIGINT) AS expected_ppm,
        |  CAST(abs(d.n * 1000000 // (SELECT sum(n) FROM d)
        |           - e.expected_ppm) AS BIGINT) AS deviation_ppm
        |FROM d JOIN e USING (digit)""".stripMargin,
    "q295_corr_moments" ->
      """WITH u AS (SELECT CAST(floor(l_quantity * 100) AS BIGINT) AS q,
        |             CAST(floor(l_extendedprice) AS BIGINT) AS p,
        |             CAST(floor(l_discount * 1000) AS BIGINT) AS d,
        |             CAST(floor(l_tax * 1000) AS BIGINT) AS t
        |           FROM lineitem),
        |m AS (SELECT count(*) AS n,
        |        sum(q) AS sq, sum(p) AS sp, sum(d) AS sd, sum(t) AS st,
        |        sum(q*q) AS sqq, sum(p*p) AS spp, sum(d*d) AS sdd,
        |        sum(t*t) AS stt, sum(q*p) AS sqp, sum(q*d) AS sqd,
        |        sum(q*t) AS sqt, sum(p*d) AS spd, sum(p*t) AS spt,
        |        sum(d*t) AS sdt
        |      FROM u),
        |pairs AS (SELECT * FROM (VALUES ('quantity', 'price'),
        |  ('quantity', 'discount'), ('quantity', 'tax'),
        |  ('price', 'discount'), ('price', 'tax'), ('discount', 'tax'))
        |  v(x_name, y_name))
        |SELECT x_name, y_name, CAST(m.n AS BIGINT) AS n,
        |  CAST(CASE x_name WHEN 'quantity' THEN m.sq WHEN 'price' THEN m.sp
        |       ELSE m.sd END AS BIGINT) AS sx,
        |  CAST(CASE y_name WHEN 'price' THEN m.sp WHEN 'discount' THEN m.sd
        |       ELSE m.st END AS BIGINT) AS sy,
        |  CAST(CASE x_name WHEN 'quantity' THEN m.sqq WHEN 'price' THEN m.spp
        |       ELSE m.sdd END AS BIGINT) AS sxx,
        |  CAST(CASE y_name WHEN 'price' THEN m.spp WHEN 'discount' THEN m.sdd
        |       ELSE m.stt END AS BIGINT) AS syy,
        |  CAST(CASE x_name || '-' || y_name
        |       WHEN 'quantity-price' THEN m.sqp
        |       WHEN 'quantity-discount' THEN m.sqd
        |       WHEN 'quantity-tax' THEN m.sqt
        |       WHEN 'price-discount' THEN m.spd
        |       WHEN 'price-tax' THEN m.spt ELSE m.sdt END AS BIGINT) AS sxy,
        |  CAST(CAST(m.n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
        |       AS VARCHAR) AS cov_numer,
        |  CAST(CAST(m.n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
        |       AS VARCHAR) AS varx_numer,
        |  CAST(CAST(m.n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy
        |       AS VARCHAR) AS vary_numer
        |FROM pairs, m""".stripMargin,
    "q296_ri_scorecard" -> {
      def edgeSql(name: String, child: String, fk: String,
                  parent: String, pk: String): String =
        s"""SELECT '$name' AS edge,
           |  (SELECT count(*) FROM $child) AS n_child,
           |  (SELECT count(*) FROM $child
           |   WHERE $fk NOT IN (SELECT $pk FROM $parent)) AS n_orphans,
           |  CAST((SELECT count(*) FROM $child
           |        WHERE $fk NOT IN (SELECT $pk FROM $parent)) * 1000000
           |       // (SELECT count(*) FROM $child) AS BIGINT)
           |    AS orphan_ppm""".stripMargin
      Seq(
        edgeSql("lineitem->orders", "lineitem", "l_orderkey",
                "orders", "o_orderkey"),
        edgeSql("lineitem->part", "lineitem", "l_partkey",
                "part", "p_partkey"),
        edgeSql("lineitem->supplier", "lineitem", "l_suppkey",
                "supplier", "s_suppkey"),
        edgeSql("orders->customer", "orders", "o_custkey",
                "customer", "c_custkey"),
        edgeSql("customer->nation", "customer", "c_nationkey",
                "nation", "n_nationkey"),
        edgeSql("supplier->nation", "supplier", "s_nationkey",
                "nation", "n_nationkey"),
        edgeSql("nation->region", "nation", "n_regionkey",
                "region", "r_regionkey"),
        edgeSql("embeddings->documents", "embeddings", "vec_id",
                "documents", "doc_id"))
        .mkString("", "\nUNION ALL\n", "")
    },
    "q297_min_cost_supplier" ->
      """WITH eu AS (SELECT s_suppkey, s_name, n_name
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |ro AS (SELECT p_partkey, p_name, s_suppkey, s_name, n_name,
        |    min(CAST(floor(l_extendedprice * 100) AS BIGINT) * 1000000
        |        // CAST(floor(l_quantity * 100) AS BIGINT)) AS up_micro
        |  FROM lineitem
        |  JOIN eu ON l_suppkey = s_suppkey
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'SMALL'
        |  GROUP BY 1, 2, 3, 4, 5),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY p_partkey
        |         ORDER BY up_micro, s_suppkey) AS rn FROM ro)
        |SELECT p_partkey, p_name, CAST(up_micro AS BIGINT) AS up_micro,
        |  s_suppkey, s_name, n_name
        |FROM rk WHERE rn = 1""".stripMargin,
    "q298_part_value_share" ->
      """WITH r AS (SELECT l_partkey AS p_partkey,
        |    CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
        |         AS BIGINT) AS value_cents
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_7' GROUP BY 1),
        |t AS (SELECT CAST(sum(value_cents) AS BIGINT) AS total FROM r)
        |SELECT p_partkey, value_cents,
        |  CAST(value_cents * 1000000 // t.total AS BIGINT) AS share_ppm
        |FROM r, t WHERE 2000 * value_cents > t.total""".stripMargin,
    "q299_top_supplier" ->
      """WITH r AS (SELECT l_suppkey,
        |    CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)
        |         * (1000 - CAST(floor(l_discount * 1000) AS BIGINT)))
        |         AS BIGINT) AS rev_mc
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, rev_mc
        |FROM r JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rev_mc = (SELECT max(rev_mc) FROM r)""".stripMargin,
    "q300_supplier_variety" ->
      """SELECT p_brand, p_type, p_size,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_size <= 25
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3""".stripMargin,
    "q301_double_charge" ->
      s"""WITH $SrcCte,
         |p AS (SELECT user_id, event_id, epoch_us(ts) AS us
         |      FROM src WHERE event_type = 'purchase')
         |SELECT a.user_id, a.event_id AS event_a, b.event_id AS event_b,
         |  b.us - a.us AS gap_us
         |FROM p a JOIN p b
         |  ON a.user_id = b.user_id
         |  AND (a.us < b.us OR (a.us = b.us AND a.event_id < b.event_id))
         |  AND b.us - a.us <= 600000000""".stripMargin,
    "q302_hazard_rate" ->
      s"""WITH $SrcCte,
         |u AS (SELECT user_id, min(epoch_us(ts)) AS fu,
         |        max(epoch_us(ts)) AS lu FROM src GROUP BY 1),
         |c AS (SELECT (lu - fu) // 604800000000 AS week,
         |        CAST(count(*) AS BIGINT) AS n_churned
         |      FROM u GROUP BY 1)
         |SELECT week, n_churned,
         |  CAST(sum(n_churned) OVER w AS BIGINT) AS n_at_risk,
         |  CAST(n_churned * 1000000 // sum(n_churned) OVER w AS BIGINT)
         |    AS hazard_ppm
         |FROM c
         |WINDOW w AS (ORDER BY week DESC
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""
        .stripMargin,
    "q303_partition_advisor" ->
      s"""WITH $SrcCte,
         |b AS (
         |  SELECT 'region' AS table_name, count(*) AS n_rows,
         |    coalesce(sum(4 + strlen(r_name)), 0) AS est_bytes
         |  FROM region
         |  UNION ALL SELECT 'nation', count(*),
         |    coalesce(sum(8 + strlen(n_name)), 0) FROM nation
         |  UNION ALL SELECT 'customer', count(*),
         |    coalesce(sum(20 + strlen(c_name)
         |      + strlen(c_mktsegment)), 0) FROM customer
         |  UNION ALL SELECT 'supplier', count(*),
         |    coalesce(sum(20 + strlen(s_name)), 0) FROM supplier
         |  UNION ALL SELECT 'part', count(*),
         |    coalesce(sum(20 + strlen(p_name) + strlen(p_brand)
         |      + strlen(p_type)), 0) FROM part
         |  UNION ALL SELECT 'orders', count(*),
         |    coalesce(sum(32 + strlen(o_orderstatus)
         |      + strlen(o_orderpriority)), 0) FROM orders
         |  UNION ALL SELECT 'lineitem', count(*),
         |    coalesce(sum(68 + strlen(l_returnflag)
         |      + strlen(l_linestatus)), 0) FROM lineitem
         |  UNION ALL SELECT 'events', count(*),
         |    coalesce(sum(32 + strlen(event_type)
         |      + strlen(props)), 0) FROM src
         |  UNION ALL SELECT 'documents', count(*),
         |    coalesce(sum(16 + strlen(text) + strlen(lang)
         |      + strlen(source)), 0) FROM documents
         |  UNION ALL SELECT 'embeddings', count(*),
         |    coalesce(sum(12 + 4 * len(embedding)), 0) FROM embeddings)
         |SELECT table_name, CAST(n_rows AS BIGINT) AS n_rows,
         |  CAST(est_bytes AS BIGINT) AS est_bytes,
         |  CAST((est_bytes + 134217727) // 134217728 AS BIGINT)
         |    AS target_partitions
         |FROM b""".stripMargin,
    "q304_context_windows" ->
      s"""WITH $ToksCte,
         |w AS (SELECT doc_id, t,
         |        unnest(generate_series(0, (len(t) - 32) // 16)) AS wi
         |      FROM toks WHERE len(t) >= 32)
         |SELECT doc_id, CAST(wi AS BIGINT) AS win_idx,
         |  md5(array_to_string(t[wi * 16 + 1 : wi * 16 + 32], ' '))
         |    AS fingerprint
         |FROM w""".stripMargin,
    "q305_negative_sampling" ->
      s"""WITH $ToksCte,
         |pos AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS p, t[i] AS w
         |        FROM toks, unnest(generate_series(1, len(t))) AS u(i)
         |        WHERE length(t[i]) > 0),
         |pr AS (SELECT c.w AS center, x.w AS ctx
         |       FROM pos c JOIN pos x
         |         ON c.doc_id = x.doc_id AND x.p - c.p IN (1, 2)),
         |sym AS (SELECT center, ctx FROM pr
         |        UNION ALL SELECT ctx, center FROM pr),
         |sp AS (SELECT center, ctx, CAST(count(*) AS BIGINT) AS n
         |       FROM sym GROUP BY 1, 2),
         |v AS (SELECT w, count(*) AS cnt FROM pos GROUP BY 1),
         |vi AS (SELECT w, CAST(row_number() OVER (ORDER BY cnt DESC, w) - 1
         |         AS BIGINT) AS idx FROM v),
         |vc AS (SELECT count(*) AS nv FROM vi),
         |ng AS (SELECT sp.center,
         |        CAST(('0x' || substr(md5(sp.center || '#' || sp.ctx
         |          || '#' || j), 1, 15))::UBIGINT % vc.nv AS BIGINT) AS idx
         |       FROM sp, vc, (SELECT unnest([0, 1]) AS j) jj),
         |negs AS (SELECT ng.center, vi.w AS word, 0 AS label,
         |           CAST(count(*) AS BIGINT) AS n_samples
         |         FROM ng JOIN vi USING (idx) GROUP BY 1, 2)
         |SELECT center, ctx AS word, 1 AS label, n AS n_samples FROM sp
         |UNION ALL SELECT * FROM negs""".stripMargin,
    "q306_brand_diversity" ->
      """WITH cell AS (SELECT n_name, p_brand, count(*) AS ni
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2)
        |SELECT n_name, CAST(sum(ni) AS BIGINT) AS n_lines,
        |  CAST(count(*) AS BIGINT) AS n_brands,
        |  CAST(1000000 - sum(ni * (ni - 1)) * 1000000
        |       // (sum(ni) * (sum(ni) - 1)) AS BIGINT) AS simpson_ppm
        |FROM cell GROUP BY 1""".stripMargin,
    "q307_containment" ->
      s"""WITH $MinhashPairsCtes,
         |v AS (SELECT doc_a, doc_b, overlap, x.n AS n_a, y.n AS n_b
         |      FROM pairs JOIN sizes x ON x.doc_id = doc_a
         |                 JOIN sizes y ON y.doc_id = doc_b
         |      WHERE overlap * 2 >= (x.n + y.n - overlap) * 1)
         |SELECT doc_a, doc_b, CAST(overlap AS BIGINT) AS overlap,
         |  CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
         |  CAST(overlap * 1000000 // n_a AS BIGINT) AS cont_a_ppm,
         |  CAST(overlap * 1000000 // n_b AS BIGINT) AS cont_b_ppm
         |FROM v""".stripMargin,
    "q308_trade_lanes" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INT) AS ship_year,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)
        |       * (1000 - CAST(floor(l_discount * 1000) AS BIGINT)))
        |       AS BIGINT) AS rev_mc
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |GROUP BY 1, 2, 3""".stripMargin,
    "q309_dedup_shift" ->
      s"""WITH RECURSIVE $MinhashPairsCtes,
         |vp AS ($JaccardTailSql),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM vp
         |      UNION SELECT doc_b, doc_a FROM vp),
         |reach AS (
         |  SELECT src AS node, src AS lab FROM e
         |  UNION
         |  SELECT e.dst, r.lab FROM reach r JOIN e ON e.src = r.node
         |),
         |cc AS (SELECT node AS doc_id, min(lab) AS cluster_id
         |       FROM reach GROUP BY node),
         |kept AS (SELECT * FROM documents WHERE doc_id NOT IN
         |          (SELECT doc_id FROM cc WHERE doc_id <> cluster_id)),
         |b AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_before
         |      FROM documents GROUP BY 1),
         |a AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_after
         |      FROM kept GROUP BY 1),
         |tb AS (SELECT sum(n_before) AS t FROM b),
         |ta AS (SELECT sum(n_after) AS t FROM a)
         |SELECT b.lang, b.n_before, coalesce(a.n_after, 0) AS n_after,
         |  CAST(b.n_before * 1000000 // tb.t AS BIGINT) AS ppm_before,
         |  CAST(coalesce(a.n_after, 0) * 1000000 // ta.t AS BIGINT)
         |    AS ppm_after,
         |  CAST(coalesce(a.n_after, 0) * 1000000 // ta.t
         |       - b.n_before * 1000000 // tb.t AS BIGINT) AS shift_ppm
         |FROM b LEFT JOIN a ON b.lang = a.lang, tb, ta""".stripMargin,
    "q310_rec_coverage" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |               FROM lineitem),
        |p AS (SELECT a.i AS x, c.i AS y, count(*) AS n_co
        |      FROM items a JOIN items c ON a.b = c.b AND a.i < c.i
        |      GROUP BY 1, 2),
        |sym AS (SELECT x AS item, y AS partner, n_co FROM p
        |        UNION ALL SELECT y, x, n_co FROM p),
        |r AS (SELECT *, row_number() OVER (PARTITION BY item
        |        ORDER BY n_co DESC, partner ASC) AS rank
        |      FROM sym),
        |recs AS (SELECT item, partner FROM r WHERE rank <= 3),
        |agg AS (SELECT CAST(count(DISTINCT item) AS BIGINT)
        |          AS n_items_with_recs,
        |        CAST(count(DISTINCT partner) AS BIGINT)
        |          AS n_parts_recommended FROM recs),
        |cat AS (SELECT CAST(count(*) AS BIGINT) AS n_parts FROM part)
        |SELECT n_parts, n_items_with_recs, n_parts_recommended,
        |  CAST(n_items_with_recs * 1000000 // n_parts AS BIGINT)
        |    AS item_cov_ppm,
        |  CAST(n_parts_recommended * 1000000 // n_parts AS BIGINT)
        |    AS rec_cov_ppm
        |FROM agg, cat""".stripMargin,
    "q311_pagerank3" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |               FROM lineitem),
        |p AS (SELECT DISTINCT a.i AS x, c.i AS y
        |      FROM items a JOIN items c ON a.b = c.b AND a.i < c.i),
        |e AS (SELECT x, y FROM p UNION ALL SELECT y, x FROM p),
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
        |SELECT i3.node, CAST(pr AS BIGINT) AS pr_micro,
        |  CAST(outdeg AS BIGINT) AS outdeg
        |FROM i3 JOIN deg ON i3.node = deg.node""".stripMargin,
    "q312_quantize_error" ->
      """WITH x AS (SELECT label, list_transform(embedding, v ->
        |    CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS xm
        |  FROM embeddings),
        |s AS (SELECT label, xm,
        |        list_max(list_transform(xm, v -> abs(v))) AS sm FROM x),
        |e AS (SELECT label, list_transform(xm, v ->
        |    CASE WHEN sm = 0 THEN 0
        |    WHEN v >= 0 THEN v - (v * 127 // sm) * sm // 127
        |    ELSE v + ((-v) * 127 // sm) * sm // 127 END) AS errs FROM s)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(sum(list_sum(list_transform(errs, e -> e * e))) AS BIGINT)
        |    AS sum_err_sq,
        |  CAST(max(list_max(list_transform(errs, e -> abs(e)))) AS BIGINT)
        |    AS max_abs_err
        |FROM e GROUP BY 1""".stripMargin,
    "q313_vocab_budget" ->
      s"""WITH $ToksCte,
         |w0 AS (SELECT unnest(t) AS w FROM toks),
         |v AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM w0
         |      WHERE length(w) > 0 GROUP BY 1),
         |vi AS (SELECT cnt, CAST(row_number() OVER
         |         (ORDER BY cnt DESC, w) - 1 AS BIGINT) AS idx FROM v),
         |bu AS (SELECT CAST(unnest([100, 1000, 10000]) AS BIGINT)
         |         AS budget)
         |SELECT budget,
         |  CAST(sum(CASE WHEN idx >= budget THEN cnt ELSE 0 END)
         |       AS BIGINT) AS oov_tokens,
         |  CAST(sum(cnt) AS BIGINT) AS total_tokens,
         |  CAST(sum(CASE WHEN idx >= budget THEN cnt ELSE 0 END) * 1000000
         |       // sum(cnt) AS BIGINT) AS oov_ppm
         |FROM vi, bu GROUP BY 1""".stripMargin,
    "q314_stream_late_drops" ->
      s"""WITH $SrcCte,
         |sl AS (SELECT event_type, value, epoch_us(ts) AS us,
         |    least(CASE WHEN day(ts) <= 10 THEN 0
         |               WHEN day(ts) <= 20 THEN 1 ELSE 2 END
         |          + CASE WHEN event_id % 50 = 0 THEN 1 ELSE 0 END, 2)
         |      AS b
         |  FROM src WHERE user_id % 5 = 0),
         |m0 AS (SELECT max(us) AS m FROM sl WHERE b = 0),
         |k1 AS (SELECT *, us >= (SELECT m FROM m0) - 600000000 AS keep
         |       FROM sl WHERE b = 1),
         |m1 AS (SELECT greatest((SELECT m FROM m0),
         |         coalesce((SELECT max(us) FROM k1 WHERE keep), 0)) AS m),
         |k2 AS (SELECT *, us >= (SELECT m FROM m1) - 600000000 AS keep
         |       FROM sl WHERE b = 2),
         |allr AS (
         |  SELECT event_type, value, TRUE AS keep FROM sl WHERE b = 0
         |  UNION ALL SELECT event_type, value, keep FROM k1
         |  UNION ALL SELECT event_type, value, keep FROM k2)
         |SELECT event_type,
         |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_kept,
         |  CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
         |    AS n_dropped,
         |  CAST(sum(CASE WHEN keep
         |           THEN CAST(floor(value * 1000000.0) AS BIGINT)
         |           ELSE 0 END) AS BIGINT) AS value_micro_kept
         |FROM allr GROUP BY 1""".stripMargin,
    "q315_profit_decomposition" ->
      """SELECT n_name AS supp_nation,
        |  CAST(year(l_shipdate) AS INT) AS ship_year,
        |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)
        |       * (1000 - CAST(floor(l_discount * 1000) AS BIGINT)))
        |       AS BIGINT) AS rev_mc,
        |  CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)
        |       * CAST(floor(p_retailprice * 100) AS BIGINT) * 10)
        |       AS BIGINT) AS cost_mc,
        |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)
        |       * (1000 - CAST(floor(l_discount * 1000) AS BIGINT)))
        |     - sum(CAST(floor(l_quantity * 100) AS BIGINT)
        |       * CAST(floor(p_retailprice * 100) AS BIGINT) * 10)
        |       AS BIGINT) AS profit_mc
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1, 2""".stripMargin,
    "q316_collocations" ->
      """WITH toks AS (SELECT lang, doc_id,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |pos AS (SELECT lang, doc_id, CAST(i - 1 AS BIGINT) AS p, t[i] AS w
        |        FROM toks, unnest(generate_series(1, len(t))) AS u(i)
        |        WHERE length(t[i]) > 0),
        |uni AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS n_uni_w
        |        FROM pos GROUP BY 1, 2),
        |nu AS (SELECT lang, CAST(sum(n_uni_w) AS BIGINT) AS n_uni
        |       FROM uni GROUP BY 1),
        |bi AS (SELECT a.lang, a.w AS wa, b.w AS wb,
        |         CAST(count(*) AS BIGINT) AS n_ab
        |       FROM pos a JOIN pos b
        |         ON a.doc_id = b.doc_id AND b.p = a.p + 1
        |       GROUP BY 1, 2, 3 HAVING count(*) >= 5),
        |sc AS (SELECT bi.lang, wa, wb, n_ab,
        |         ua.n_uni_w AS n_a, ub.n_uni_w AS n_b,
        |         (n_ab * 1000000 // ua.n_uni_w) * nu.n_uni // ub.n_uni_w
        |           AS lift_ppm
        |       FROM bi
        |       JOIN uni ua ON ua.lang = bi.lang AND ua.w = wa
        |       JOIN uni ub ON ub.lang = bi.lang AND ub.w = wb
        |       JOIN nu ON nu.lang = bi.lang),
        |rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY lang
        |         ORDER BY lift_ppm DESC, wa, wb) AS INT) AS rk FROM sc)
        |SELECT lang, wa, wb, n_ab, n_a, n_b,
        |  CAST(lift_ppm AS BIGINT) AS lift_ppm, rk
        |FROM rk WHERE rk <= 10""".stripMargin,
    "q317_join_card_estimator" ->
      s"""WITH $SrcCte,
         |u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n
         |      FROM src GROUP BY 1),
         |top AS (SELECT * FROM u ORDER BY n DESC, user_id LIMIT 20),
         |ta AS (SELECT CAST(sum(n * n) AS BIGINT) AS top_sq,
         |         CAST(sum(n) AS BIGINT) AS top_n,
         |         CAST(count(*) AS BIGINT) AS top_k FROM top),
         |aa AS (SELECT CAST(sum(n * n) AS BIGINT) AS exact_pairs,
         |         CAST(sum(n) AS BIGINT) AS total_n,
         |         CAST(count(*) AS BIGINT) AS n_keys FROM u)
         |SELECT n_keys, exact_pairs,
         |  CAST(top_sq + (total_n - top_n) * (total_n - top_n)
         |       // greatest(n_keys - top_k, 1) AS BIGINT) AS est_pairs,
         |  CAST(abs(top_sq + (total_n - top_n) * (total_n - top_n)
         |       // greatest(n_keys - top_k, 1) - exact_pairs) * 1000000
         |       // exact_pairs AS BIGINT) AS err_ppm
         |FROM aa, ta""".stripMargin,
    "q318_typo_linkage" ->
      """WITH names AS (SELECT p_name, CAST(count(*) AS BIGINT) AS n,
        |    (regexp_split_to_array(p_name, ' '))[-1] AS blk
        |  FROM part GROUP BY 1)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  a.n AS n_a, b.n AS n_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
        |FROM names a JOIN names b
        |  ON a.blk = b.blk AND a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 3"""
        .stripMargin,
    "q319_status_conformance" ->
      """WITH l AS (SELECT l_orderkey, count(*) AS n_lines,
        |    max(CAST(l_shipdate AS TIMESTAMP)) AS last_ship,
        |    sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS n_f
        |  FROM lineitem GROUP BY 1),
        |j AS (SELECT * FROM orders
        |      LEFT JOIN l ON o_orderkey = l_orderkey),
        |r AS (
        |  SELECT 'order_has_lines' AS rule,
        |    count(*) AS n_checked,
        |    sum(CASE WHEN n_lines IS NULL THEN 1 ELSE 0 END)
        |      AS n_violations
        |  FROM j
        |  UNION ALL
        |  SELECT 'F_all_lines_final',
        |    sum(CASE WHEN o_orderstatus = 'F' AND n_lines IS NOT NULL
        |        THEN 1 ELSE 0 END),
        |    sum(CASE WHEN o_orderstatus = 'F' AND n_lines IS NOT NULL
        |        AND n_f < n_lines THEN 1 ELSE 0 END)
        |  FROM j
        |  UNION ALL
        |  SELECT 'O_open_recent',
        |    sum(CASE WHEN o_orderstatus = 'O' AND n_lines IS NOT NULL
        |        THEN 1 ELSE 0 END),
        |    sum(CASE WHEN o_orderstatus = 'O' AND n_lines IS NOT NULL
        |        AND last_ship < TIMESTAMP '1996-01-01' THEN 1 ELSE 0 END)
        |  FROM j)
        |SELECT rule, CAST(n_checked AS BIGINT) AS n_checked,
        |  CAST(n_violations AS BIGINT) AS n_violations,
        |  CAST(n_violations * 1000000 // greatest(n_checked, 1) AS BIGINT)
        |    AS violation_ppm
        |FROM r""".stripMargin,
    "q320_sentence_quantiles" ->
      """WITH s0 AS (SELECT lang, trim(s) AS s FROM (SELECT lang,
        |    unnest(regexp_split_to_array(text, '[.!?]+')) AS s
        |  FROM documents)),
        |s1 AS (SELECT lang,
        |    CAST(len(regexp_split_to_array(s, '\s+')) AS BIGINT) AS slen
        |  FROM s0 WHERE length(s) > 0),
        |r AS (SELECT lang, slen,
        |    row_number() OVER (PARTITION BY lang ORDER BY slen) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM s1)
        |SELECT lang, q, min(slen) AS q_value
        |FROM r, (SELECT unnest([50, 90]) AS q)
        |WHERE rn = (n * q + 99) // 100
        |GROUP BY 1, 2""".stripMargin,
    "q321_cross_lang_neardup" ->
      s"""WITH $MinhashPairsCtes,
         |vp AS ($JaccardTailSql)
         |SELECT least(da.lang, db.lang) AS lang_a,
         |  greatest(da.lang, db.lang) AS lang_b,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM vp
         |JOIN documents da ON da.doc_id = vp.doc_a
         |JOIN documents db ON db.doc_id = vp.doc_b
         |GROUP BY 1, 2""".stripMargin,
    "q322_source_syndication" ->
      s"""WITH $ToksCte,
         |sh AS (SELECT doc_id, CASE WHEN len(t) < 3
         |         THEN [array_to_string(t, ' ')]
         |         ELSE list_distinct(list_transform(
         |           generate_series(0, len(t) - 3),
         |           i -> array_to_string(t[i+1:i+3], ' '))) END AS shs
         |       FROM toks),
         |fs AS (SELECT DISTINCT
         |         list_min(list_transform(shs, s -> md5(s))) AS fp,
         |         source
         |       FROM sh JOIN documents USING (doc_id))
         |SELECT a.source AS source_a, b.source AS source_b,
         |  CAST(count(*) AS BIGINT) AS n_shared_docs
         |FROM fs a JOIN fs b
         |  ON a.fp = b.fp AND a.source < b.source
         |GROUP BY 1, 2""".stripMargin,
    "q323_link_prediction" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |               FROM lineitem),
        |p AS (SELECT a.i AS x, c.i AS y
        |      FROM items a JOIN items c ON a.b = c.b AND a.i < c.i
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |nbr AS (SELECT x AS src, y AS dst FROM p
        |        UNION ALL SELECT y, x FROM p),
        |w AS (SELECT l.dst AS a, r.dst AS b,
        |        CAST(count(*) AS BIGINT) AS common_neighbors
        |      FROM nbr l JOIN nbr r
        |        ON l.src = r.src AND l.dst < r.dst
        |      GROUP BY 1, 2),
        |nw AS (SELECT w.* FROM w
        |       LEFT JOIN p ON w.a = p.x AND w.b = p.y
        |       WHERE p.x IS NULL)
        |SELECT a, b, common_neighbors FROM nw
        |ORDER BY common_neighbors DESC, a, b LIMIT 50""".stripMargin,
    "q324_ema_forecast" ->
      s"""WITH $SrcCte,
         |days AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
         |           TIMESTAMP '2024-01-30', INTERVAL 1 DAY)) AS day),
         |types AS (SELECT DISTINCT event_type FROM src),
         |daily AS (SELECT date_trunc('day', ts) AS day, event_type,
         |            CAST(count(*) AS BIGINT) AS n
         |          FROM src GROUP BY 1, 2),
         |grid AS (SELECT t.event_type,
         |           coalesce(daily.n, 0) * 1000000 AS nm, d.day
         |         FROM days d CROSS JOIN types t
         |         LEFT JOIN daily ON daily.day = d.day
         |           AND daily.event_type = t.event_type),
         |agged AS (SELECT event_type, list(nm ORDER BY day) AS arr
         |          FROM grid GROUP BY 1)
         |SELECT event_type, CAST(len(arr) AS BIGINT) AS n_days,
         |  CAST(arr[-1] // 1000000 AS BIGINT) AS last_n,
         |  CAST(list_reduce(arr, (a, x) ->
         |    (700000 * a + 300000 * x) // 1000000) AS BIGINT) AS ema_micro
         |FROM agged""".stripMargin,
    "q325_drawdown" ->
      s"""WITH $SrcCte,
         |d AS (SELECT event_type, date_trunc('day', ts) AS day,
         |        CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT))
         |             AS BIGINT) AS vm
         |      FROM src GROUP BY 1, 2),
         |c1 AS (SELECT event_type, day, sum(vm) OVER w AS cum
         |       FROM d
         |       WINDOW w AS (PARTITION BY event_type ORDER BY day
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |c2 AS (SELECT event_type, cum, max(cum) OVER w2 AS peak
         |       FROM c1
         |       WINDOW w2 AS (PARTITION BY event_type ORDER BY day
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT event_type, CAST(max(peak) AS BIGINT) AS peak_micro,
         |  CAST(max(peak - cum) AS BIGINT) AS max_drawdown_micro
         |FROM c2 GROUP BY 1""".stripMargin,
    "q326_basket_signatures" ->
      """WITH b AS (SELECT l_orderkey,
        |    array_to_string(list_sort(list(DISTINCT p_brand)), ',')
        |      AS signature
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1)
        |SELECT signature, CAST(count(*) AS BIGINT) AS n_orders
        |FROM b GROUP BY 1
        |ORDER BY n_orders DESC, signature LIMIT 25""".stripMargin,
    "q327_nprobe_sweep" ->
      s"""WITH bq AS (SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id < 32),
         |bs AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${cosSql("q.embedding", "c.embedding")} AS cosine
         |  FROM embeddings c JOIN bq q ON q.vec_id <> c.vec_id),
         |bt AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
         |      AS rnk
         |    FROM bs) WHERE rnk <= 10),
         |cents AS (SELECT vec_id AS centroid_id, embedding AS mv
         |  FROM embeddings ORDER BY vec_id LIMIT 16),
         |asg0 AS (SELECT e.vec_id AS id, e.embedding, c.centroid_id,
         |    ${cosSql("e.embedding", "c.mv")} AS s
         |  FROM embeddings e CROSS JOIN cents c),
         |asg AS (SELECT id, embedding, centroid_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY id
         |      ORDER BY s DESC, centroid_id) AS rn
         |    FROM asg0) WHERE rn = 1),
         |qa AS (SELECT * FROM (
         |    SELECT *, row_number() OVER (PARTITION BY id
         |      ORDER BY s DESC, centroid_id) AS rn
         |    FROM asg0 WHERE id < 32)),
         |probes AS (SELECT unnest([1, 2, 4]) AS nprobe),
         |qn AS (SELECT p.nprobe, qa.id, qa.embedding, qa.centroid_id
         |       FROM qa JOIN probes p ON qa.rn <= p.nprobe),
         |sc AS (SELECT qn.nprobe, qn.id AS query_id, c.id AS neighbor_id,
         |    ${cosSql("qn.embedding", "c.embedding")} AS cosine
         |  FROM asg c JOIN qn ON c.centroid_id = qn.centroid_id
         |    AND qn.id <> c.id),
         |rk AS (SELECT nprobe, query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY nprobe, query_id
         |      ORDER BY cosine DESC, neighbor_id) AS rnk
         |    FROM sc) WHERE rnk <= 10),
         |h AS (SELECT rk.nprobe, CAST(count(*) AS BIGINT) AS n_hits
         |      FROM rk JOIN bt ON rk.query_id = bt.query_id
         |        AND rk.neighbor_id = bt.neighbor_id GROUP BY 1),
         |ex AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM bt)
         |SELECT p.nprobe, ex.n_exact,
         |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |  CAST(coalesce(h.n_hits, 0) * 1000000 // ex.n_exact AS BIGINT)
         |    AS recall_ppm
         |FROM probes p LEFT JOIN h ON h.nprobe = p.nprobe, ex"""
        .stripMargin,
    "q328_embedding_dups" ->
      """WITH x AS (SELECT list_transform(embedding, v ->
        |    CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS xm
        |  FROM embeddings),
        |g AS (SELECT xm, CAST(count(*) AS BIGINT) AS n FROM x GROUP BY xm)
        |SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n_vectors,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_groups,
        |  CAST(sum(CASE WHEN n > 1 THEN n - 1 ELSE 0 END) AS BIGINT)
        |    AS n_redundant
        |FROM g""".stripMargin,
    "q329_l_diversity" ->
      """SELECT n_name, c_mktsegment, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS l_distinct,
        |  count(DISTINCT o_orderpriority) >= 3 AS diverse_ok
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1, 2""".stripMargin,
    "q330_late_shipments" ->
      """SELECT o_orderpriority,
        |  CAST(year(o_orderdate) AS INT) AS order_year,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CASE WHEN epoch_us(CAST(l_shipdate AS TIMESTAMP))
        |        - epoch_us(CAST(o_orderdate AS TIMESTAMP))
        |        > 90 * 86400000000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_late,
        |  CAST(sum(CASE WHEN epoch_us(CAST(l_shipdate AS TIMESTAMP))
        |        - epoch_us(CAST(o_orderdate AS TIMESTAMP))
        |        > 90 * 86400000000 THEN 1 ELSE 0 END) * 1000000
        |       // count(*) AS BIGINT) AS late_ppm
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2""".stripMargin,
    "q331_reach_venn" ->
      s"""WITH $SrcCte,
         |u AS (SELECT user_id,
         |    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
         |    + max(CASE WHEN event_type = 'click' THEN 2 ELSE 0 END)
         |    + max(CASE WHEN event_type = 'purchase' THEN 4 ELSE 0 END)
         |      AS mask
         |  FROM src WHERE day(ts) <= 2 GROUP BY 1)
         |SELECT CAST(mask AS INT) AS mask,
         |  CAST(count(*) AS BIGINT) AS n_users,
         |  (mask & 1) > 0 AS did_view,
         |  (mask & 2) > 0 AS did_click,
         |  (mask & 4) > 0 AS did_purchase
         |FROM u GROUP BY mask""".stripMargin,
    "q332_late_arrival_impact" ->
      s"""WITH $SrcCte,
         |d AS (SELECT date_trunc('day', ts) AS day,
         |        CAST(count(*) AS BIGINT) AS n_all,
         |        CAST(sum(CASE WHEN event_id % 50 = 0 AND day(ts) <= 20
         |             THEN 0 ELSE 1 END) AS BIGINT) AS n_on_time
         |      FROM src GROUP BY 1)
         |SELECT day, n_all, n_on_time, n_all - n_on_time AS delta
         |FROM d WHERE n_all - n_on_time > 0""".stripMargin,
    "q333_tau_sweep" ->
      s"""WITH $MinhashPairsCtes,
         |wp AS (SELECT doc_a, doc_b, overlap,
         |         x.n + y.n - overlap AS union_size
         |       FROM pairs JOIN sizes x ON x.doc_id = doc_a
         |                  JOIN sizes y ON y.doc_id = doc_b),
         |taus AS (SELECT * FROM (VALUES ('1/3', 1, 3), ('1/2', 1, 2),
         |           ('2/3', 2, 3)) t(tau, tn, td))
         |SELECT tau, CAST(count(*) AS BIGINT) AS n_candidates,
         |  CAST(sum(CASE WHEN overlap * td >= union_size * tn
         |       THEN 1 ELSE 0 END) AS BIGINT) AS n_verified,
         |  CAST(sum(CASE WHEN overlap * td >= union_size * tn
         |       THEN 1 ELSE 0 END) * 1000000
         |       // greatest(count(*), 1) AS BIGINT) AS precision_ppm
         |FROM wp, taus GROUP BY tau""".stripMargin,
    "q334_kcore_peel" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |               FROM lineitem),
        |p AS (SELECT a.i AS x, c.i AS y
        |      FROM items a JOIN items c ON a.b = c.b AND a.i < c.i
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |e0 AS (SELECT x AS src, y AS dst FROM p
        |       UNION ALL SELECT y, x FROM p),
        |k1 AS (SELECT src FROM e0 GROUP BY src HAVING count(*) >= 2),
        |e1 AS (SELECT e.src, e.dst FROM e0 e
        |       JOIN k1 a ON e.src = a.src JOIN k1 b ON e.dst = b.src),
        |k2 AS (SELECT src FROM e1 GROUP BY src HAVING count(*) >= 2),
        |e2 AS (SELECT e.src, e.dst FROM e1 e
        |       JOIN k2 a ON e.src = a.src JOIN k2 b ON e.dst = b.src),
        |k3 AS (SELECT src FROM e2 GROUP BY src HAVING count(*) >= 2),
        |e3 AS (SELECT e.src, e.dst FROM e2 e
        |       JOIN k3 a ON e.src = a.src JOIN k3 b ON e.dst = b.src)
        |SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
        |FROM e3 GROUP BY 1""".stripMargin,
    "q335_rank_footrule" ->
      s"""WITH bq AS (SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id < 32),
         |bs AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${cosSql("q.embedding", "c.embedding")} AS cosine
         |  FROM embeddings c JOIN bq q ON q.vec_id <> c.vec_id),
         |bt AS (SELECT query_id, neighbor_id, rnk AS rb FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
         |      AS rnk
         |    FROM bs) WHERE rnk <= 10),
         |cents AS (SELECT vec_id AS centroid_id, embedding AS mv
         |  FROM embeddings ORDER BY vec_id LIMIT 16),
         |asg0 AS (SELECT e.vec_id AS id, e.embedding, c.centroid_id,
         |    ${cosSql("e.embedding", "c.mv")} AS s
         |  FROM embeddings e CROSS JOIN cents c),
         |asg AS (SELECT id, embedding, centroid_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY id
         |      ORDER BY s DESC, centroid_id) AS rn
         |    FROM asg0) WHERE rn = 1),
         |qn AS (SELECT id, embedding, centroid_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY id
         |      ORDER BY s DESC, centroid_id) AS rn
         |    FROM asg0 WHERE id < 32) WHERE rn = 1),
         |sc AS (SELECT qn.id AS query_id, c.id AS neighbor_id,
         |    ${cosSql("qn.embedding", "c.embedding")} AS cosine
         |  FROM asg c JOIN qn ON c.centroid_id = qn.centroid_id
         |    AND qn.id <> c.id),
         |iv AS (SELECT query_id, neighbor_id, rnk AS ri FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
         |      AS rnk
         |    FROM sc) WHERE rnk <= 10),
         |cm AS (SELECT bt.query_id, CAST(count(*) AS BIGINT) AS n_common,
         |         CAST(sum(abs(bt.rb - iv.ri)) AS BIGINT) AS footrule
         |       FROM bt JOIN iv ON bt.query_id = iv.query_id
         |         AND bt.neighbor_id = iv.neighbor_id
         |       GROUP BY 1)
         |SELECT q.query_id,
         |  CAST(coalesce(cm.n_common, 0) AS BIGINT) AS n_common,
         |  CAST(coalesce(cm.footrule, 0) AS BIGINT) AS footrule
         |FROM (SELECT DISTINCT query_id FROM bt) q
         |LEFT JOIN cm ON cm.query_id = q.query_id""".stripMargin,
    "q336_dead_stock" ->
      """WITH dead AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n_dead
        |  FROM part
        |  WHERE p_partkey NOT IN (SELECT DISTINCT l_partkey
        |    FROM lineitem WHERE l_shipdate >= TIMESTAMP '2001-01-01')
        |  GROUP BY 1),
        |cat AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n_catalog
        |        FROM part GROUP BY 1)
        |SELECT dead.p_brand, n_dead, n_catalog,
        |  CAST(n_dead * 1000000 // n_catalog AS BIGINT) AS dead_ppm
        |FROM dead JOIN cat USING (p_brand)""".stripMargin,
    "q337_value_band_migration" ->
      s"""WITH $SrcCte,
         |u AS (SELECT user_id,
         |    CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
         |         THEN CAST(floor(value * 1000000.0) AS BIGINT)
         |         ELSE 0 END) AS BIGINT) AS v1,
         |    CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
         |         THEN CAST(floor(value * 1000000.0) AS BIGINT)
         |         ELSE 0 END) AS BIGINT) AS v2
         |  FROM src WHERE event_type = 'purchase' GROUP BY 1),
         |b AS (SELECT
         |    CAST(CASE WHEN v1 <= 0 THEN 0
         |         ELSE length(bin(v1)) END AS INT) AS band_h1,
         |    CAST(CASE WHEN v2 <= 0 THEN 0
         |         ELSE length(bin(v2)) END AS INT) AS band_h2
         |  FROM u)
         |SELECT band_h1, band_h2, CAST(count(*) AS BIGINT) AS n_users
         |FROM b GROUP BY 1, 2""".stripMargin,
    "q338_mix_shift_tvd" ->
      s"""WITH $SrcCte,
         |g AS (SELECT event_type,
         |    CAST(sum(CASE WHEN day(ts) <= 7 THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n1,
         |    CAST(sum(CASE WHEN day(ts) >= 24 THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n2
         |  FROM src WHERE day(ts) <= 7 OR day(ts) >= 24 GROUP BY 1),
         |t AS (SELECT CAST(sum(n1) AS BIGINT) AS t1,
         |        CAST(sum(n2) AS BIGINT) AS t2 FROM g)
         |SELECT event_type, n1, n2,
         |  CAST(n1 * 1000000 // t.t1 AS BIGINT) AS share1_ppm,
         |  CAST(n2 * 1000000 // t.t2 AS BIGINT) AS share2_ppm,
         |  CAST(abs(n1 * 1000000 // t.t1 - n2 * 1000000 // t.t2)
         |       AS BIGINT) AS drift_ppm
         |FROM g, t""".stripMargin,
    "q339_quantile_stability" ->
      s"""WITH $SrcCte,
         |p AS (SELECT
         |    CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))
         |         ::UBIGINT % 5 AS BIGINT) AS fold,
         |    CAST(floor(value * 1000000.0) AS BIGINT) AS vm
         |  FROM src WHERE event_type = 'purchase'),
         |r AS (SELECT fold, vm,
         |    row_number() OVER (PARTITION BY fold ORDER BY vm) AS rn,
         |    count(*) OVER (PARTITION BY fold) AS n
         |  FROM p)
         |SELECT fold, q, min(vm) AS q_value
         |FROM r, (SELECT unnest([50]) AS q)
         |WHERE rn = (n * q + 99) // 100
         |GROUP BY 1, 2""".stripMargin,
    "q340_asof_tolerance" ->
      s"""WITH hist AS (
         |  WITH $SrcCte, ${scd2FullSql(AllCheck, deletes = false,
                                        from = "(SELECT * FROM src WHERE event_id % 2 = 0)")}
         |),
         |f AS (WITH $SrcCte SELECT event_id, user_id, ts FROM src
         |      WHERE event_id % 2 = 1),
         |j AS (SELECT f.ts, h.ts AS dim_ts
         |      FROM f LEFT JOIN hist h
         |        ON f.user_id = h.user_id
         |        AND h._valid_from <= f.ts AND f.ts < h._valid_to)
         |SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         |  CAST(count(*) AS BIGINT) AS n_facts,
         |  CAST(sum(CASE WHEN dim_ts IS NOT NULL
         |       AND epoch_us(ts) - epoch_us(dim_ts) <= 7 * 86400000000
         |       THEN 1 ELSE 0 END) AS BIGINT) AS n_fresh,
         |  CAST(sum(CASE WHEN dim_ts IS NOT NULL
         |       AND epoch_us(ts) - epoch_us(dim_ts) > 7 * 86400000000
         |       THEN 1 ELSE 0 END) AS BIGINT) AS n_stale,
         |  CAST(sum(CASE WHEN dim_ts IS NULL THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_miss
         |FROM j GROUP BY 1""".stripMargin,
    "q341_change_frequency" ->
      s"""WITH hist AS (
         |  WITH $SrcCte, ${scd2FullSql(AllCheck, deletes = false)}
         |),
         |l AS (SELECT event_type, value, props,
         |        lag(event_type) OVER w AS pe,
         |        lag(value) OVER w AS pv,
         |        lag(props) OVER w AS pp
         |      FROM hist
         |      WINDOW w AS (PARTITION BY user_id ORDER BY _valid_from)),
         |a AS (SELECT
         |    CAST(sum(CASE WHEN pe IS NOT NULL
         |         AND pe IS DISTINCT FROM event_type
         |         THEN 1 ELSE 0 END) AS BIGINT) AS ce,
         |    CAST(sum(CASE WHEN pv IS NOT NULL
         |         AND pv IS DISTINCT FROM value
         |         THEN 1 ELSE 0 END) AS BIGINT) AS cv,
         |    CAST(sum(CASE WHEN pp IS NOT NULL
         |         AND pp IS DISTINCT FROM props
         |         THEN 1 ELSE 0 END) AS BIGINT) AS cp
         |  FROM l)
         |SELECT 'event_type' AS column_name, ce AS n_changes FROM a
         |UNION ALL SELECT 'value', cv FROM a
         |UNION ALL SELECT 'props', cp FROM a""".stripMargin,
    "q342_write_amplification" ->
      s"""WITH h0 AS (
         |  WITH $SrcCte, ${scd2FullSql(AllCheck, deletes = false,
                                        from = "(SELECT * FROM src WHERE event_id % 3 = 0)")}
         |),
         |h1 AS (
         |  WITH $SrcCte, ${scd2FullSql(AllCheck, deletes = false,
                                        from = "(SELECT * FROM src WHERE event_id % 3 <= 1)")}
         |),
         |h2 AS (
         |  WITH $SrcCte, ${scd2FullSql(AllCheck, deletes = false)}
         |),
         |c AS (WITH $SrcCte SELECT
         |    CAST(sum(CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END)
         |         AS BIGINT) AS i0,
         |    CAST(sum(CASE WHEN event_id % 3 = 1 THEN 1 ELSE 0 END)
         |         AS BIGINT) AS i1,
         |    CAST(sum(CASE WHEN event_id % 3 = 2 THEN 1 ELSE 0 END)
         |         AS BIGINT) AS i2
         |  FROM src),
         |st AS (SELECT (SELECT count(*) FROM h0) AS s0,
         |              (SELECT count(*) FROM h1) AS s1,
         |              (SELECT count(*) FROM h2) AS s2)
         |SELECT 0 AS batch, i0 AS n_input, i0 AS n_cum_input,
         |  CAST(s0 AS BIGINT) AS n_store_after,
         |  CAST(s0 * 1000000 // i0 AS BIGINT) AS amp_ppm FROM c, st
         |UNION ALL SELECT 1, i1, i0 + i1, CAST(s1 AS BIGINT),
         |  CAST(s1 * 1000000 // (i0 + i1) AS BIGINT) FROM c, st
         |UNION ALL SELECT 2, i2, i0 + i1 + i2, CAST(s2 AS BIGINT),
         |  CAST(s2 * 1000000 // (i0 + i1 + i2) AS BIGINT) FROM c, st"""
        .stripMargin,
    "q343_centroid_shift" ->
      """WITH x AS (SELECT label, CAST(i - 1 AS INT) AS dim,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
        |      AS xm
        |  FROM embeddings,
        |    unnest(generate_series(1, len(embedding))) AS u(i)),
        |cells AS (SELECT label, dim, CAST(sum(xm) AS BIGINT) AS sx,
        |            CAST(count(*) AS BIGINT) AS n
        |          FROM x GROUP BY 1, 2),
        |lc AS (SELECT label, dim,
        |         CASE WHEN sx >= 0 THEN sx // n
        |         ELSE -((-sx) // n) END AS cl, n FROM cells),
        |gc0 AS (SELECT dim, CAST(sum(sx) AS BIGINT) AS sx,
        |          CAST(sum(n) AS BIGINT) AS n FROM cells GROUP BY 1),
        |gc AS (SELECT dim, CASE WHEN sx >= 0 THEN sx // n
        |         ELSE -((-sx) // n) END AS cg FROM gc0)
        |SELECT label, CAST(max(n) AS BIGINT) AS n_vecs,
        |  CAST(sum((cl - cg) * (cl - cg)) AS BIGINT) AS dist2_micro2
        |FROM lc JOIN gc USING (dim) GROUP BY 1""".stripMargin,
    "q344_dedup_waterfall" ->
      s"""WITH RECURSIVE toks0 AS (SELECT doc_id, text,
         |    regexp_split_to_array(lower(trim(text)), '\\s+') AS t
         |  FROM documents),
         |d AS (SELECT doc_id, text, t,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |         ELSE len(t) END AS BIGINT) AS ntok
         |  FROM toks0),
         |ex AS (SELECT min(doc_id) AS doc_id FROM (
         |    SELECT doc_id, md5(array_to_string(t, ' ')) AS fp FROM d)
         |  GROUP BY fp),
         |ed AS (SELECT d.* FROM d JOIN ex ON d.doc_id = ex.doc_id),
         |toks AS (SELECT doc_id, text, t FROM ed),
         |$MinhashPairsCtesNoToks,
         |vp AS ($JaccardTailSql),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM vp
         |      UNION SELECT doc_b, doc_a FROM vp),
         |reach AS (
         |  SELECT src AS node, src AS lab FROM e
         |  UNION
         |  SELECT e.dst, r.lab FROM reach r JOIN e ON e.src = r.node
         |),
         |cc AS (SELECT node AS doc_id, min(lab) AS cluster_id
         |       FROM reach GROUP BY node),
         |nd AS (SELECT ed.* FROM ed WHERE doc_id NOT IN
         |        (SELECT doc_id FROM cc WHERE doc_id <> cluster_id))
         |SELECT 'raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(coalesce(sum(ntok), 0) AS BIGINT) AS n_tokens,
         |  CAST(count(*) * 1000000 // (SELECT count(*) FROM d) AS BIGINT)
         |    AS retained_ppm
         |FROM d
         |UNION ALL SELECT 'exact', CAST(count(*) AS BIGINT),
         |  CAST(coalesce(sum(ntok), 0) AS BIGINT),
         |  CAST(count(*) * 1000000 // (SELECT count(*) FROM d) AS BIGINT)
         |FROM ed
         |UNION ALL SELECT 'near', CAST(count(*) AS BIGINT),
         |  CAST(coalesce(sum(ntok), 0) AS BIGINT),
         |  CAST(count(*) * 1000000 // (SELECT count(*) FROM d) AS BIGINT)
         |FROM nd""".stripMargin,
    "q345_weekend_lift" ->
      s"""WITH $SrcCte,
         |g AS (SELECT event_type,
         |    CAST(sum(CASE WHEN day(ts) IN (6, 7, 13, 14, 20, 21, 27, 28)
         |         THEN 1 ELSE 0 END) AS BIGINT) AS n_weekend,
         |    CAST(sum(CASE WHEN day(ts) IN (6, 7, 13, 14, 20, 21, 27, 28)
         |         THEN 0 ELSE 1 END) AS BIGINT) AS n_weekday
         |  FROM src GROUP BY 1)
         |SELECT event_type, n_weekend, n_weekday,
         |  CAST(n_weekend * 22 * 1000000
         |       // greatest(n_weekday * 8, 1) AS BIGINT) AS lift_ppm
         |FROM g""".stripMargin,
    "q346_brand_lift_pairs" ->
      """WITH ob AS (SELECT DISTINCT l_orderkey AS o, p_brand AS b
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |solo AS (SELECT b, CAST(count(*) AS BIGINT) AS n
        |         FROM ob GROUP BY 1),
        |tot AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_orders
        |        FROM ob),
        |pr AS (SELECT a.b AS brand_a, x.b AS brand_b,
        |         CAST(count(*) AS BIGINT) AS n_ab
        |       FROM ob a JOIN ob x ON a.o = x.o AND a.b < x.b
        |       GROUP BY 1, 2)
        |SELECT brand_a, brand_b, n_ab, sa.n AS n_a, sb.n AS n_b,
        |  CAST((n_ab * 1000000 // sa.n) * tot.n_orders // sb.n AS BIGINT)
        |    AS lift_ppm
        |FROM pr
        |JOIN solo sa ON sa.b = brand_a
        |JOIN solo sb ON sb.b = brand_b, tot""".stripMargin,
    "q347_tenure_value_bands" ->
      s"""WITH $SrcCte,
         |f AS (SELECT user_id, min(epoch_us(ts)) AS fu
         |      FROM src GROUP BY 1),
         |p AS (SELECT (epoch_us(ts) - fu) // 604800000000
         |        AS tenure_week,
         |        CAST(floor(value * 1000000.0) AS BIGINT) AS vm
         |      FROM src JOIN f USING (user_id)
         |      WHERE event_type = 'purchase')
         |SELECT CAST(tenure_week AS BIGINT) AS tenure_week,
         |  CAST(count(*) AS BIGINT) AS n_purchases,
         |  CAST(sum(vm) AS BIGINT) AS sum_micro,
         |  CAST(sum(vm) // count(*) AS BIGINT) AS avg_micro
         |FROM p GROUP BY 1""".stripMargin,
    "q348_price_spread" ->
      """WITH u AS (SELECT l_partkey,
        |    CAST(floor(l_extendedprice * 100) AS BIGINT) * 1000000
        |      // CAST(floor(l_quantity * 100) AS BIGINT) AS up
        |  FROM lineitem),
        |g AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_lines,
        |        CAST(min(up) AS BIGINT) AS min_up,
        |        CAST(max(up) AS BIGINT) AS max_up
        |      FROM u GROUP BY 1)
        |SELECT l_partkey, n_lines, min_up, max_up,
        |  CAST((max_up - min_up) * 1000000 // max_up AS BIGINT)
        |    AS spread_ppm
        |FROM g
        |ORDER BY spread_ppm DESC, l_partkey LIMIT 20""".stripMargin,
    "q349_basket_size_dist" ->
      """WITH o AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_lines
        |  FROM lineitem GROUP BY 1),
        |h AS (SELECT n_lines, CAST(count(*) AS BIGINT) AS n_orders
        |      FROM o GROUP BY 1)
        |SELECT n_lines, n_orders,
        |  CAST(n_orders * 1000000 // (SELECT sum(n_orders) FROM h)
        |       AS BIGINT) AS share_ppm
        |FROM h""".stripMargin,
    "q350_source_scorecard" ->
      s"""WITH d AS (SELECT source,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |         ELSE len(regexp_split_to_array(lower(trim(text)),
         |                                        '\\s+')) END AS BIGINT)
         |      AS ntok
         |  FROM documents)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
         |  CAST(sum(ntok) // count(*) AS BIGINT) AS mean_tokens,
         |  CAST(sum(CASE WHEN ntok < 20 THEN 1 ELSE 0 END) * 1000000
         |       // count(*) AS BIGINT) AS short_ppm,
         |  CAST(sum(CASE WHEN ntok = 0 THEN 1 ELSE 0 END) * 1000000
         |       // count(*) AS BIGINT) AS empty_ppm
         |FROM d GROUP BY 1""".stripMargin,
    "q351_cust_order_dist" ->
      """WITH pc AS (SELECT c_custkey,
        |    CAST(count(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY 1)
        |SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM pc GROUP BY 1""".stripMargin,
    "q352_market_share" ->
      """WITH geo AS (SELECT c_custkey, n_name
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA'),
        |f AS (SELECT CAST(year(o_orderdate) AS INT) AS o_year, n_name,
        |    CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)
        |         * (100 - CAST(floor(l_discount * 100) AS BIGINT)))
        |      AS BIGINT) AS rev_e4
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_type LIKE 'PROMO%'
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN geo ON o_custkey = c_custkey
        |  GROUP BY 1, 2)
        |SELECT o_year, n_name, rev_e4,
        |  CAST(rev_e4 * 1000000 // sum(rev_e4) OVER (PARTITION BY o_year)
        |       AS BIGINT) AS share_ppm
        |FROM f""".stripMargin,
    "q353_ar_lag_slope" ->
      s"""WITH $SrcCte,
         |days AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
         |           TIMESTAMP '2024-01-30', INTERVAL 1 DAY)) AS day),
         |types AS (SELECT DISTINCT event_type FROM src),
         |daily AS (SELECT event_type, date_trunc('day', ts) AS day,
         |            CAST(count(*) AS BIGINT) AS n
         |          FROM src GROUP BY 1, 2),
         |grid AS (SELECT t.event_type, d.day, coalesce(daily.n, 0) AS n
         |         FROM days d CROSS JOIN types t
         |         LEFT JOIN daily ON daily.day = d.day
         |           AND daily.event_type = t.event_type),
         |lagged AS (SELECT event_type, n AS y,
         |    lag(n, 1) OVER w AS x1, lag(n, 2) OVER w AS x2,
         |    lag(n, 3) OVER w AS x3
         |  FROM grid WINDOW w AS (PARTITION BY event_type ORDER BY day)),
         |up AS (SELECT event_type, y,
         |    unnest([1, 2, 3]) AS lag, unnest([x1, x2, x3]) AS x
         |  FROM lagged),
         |st AS (SELECT event_type, CAST(lag AS INT) AS lag,
         |    CAST(count(*) AS BIGINT) AS n,
         |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
         |    sum(x * x) AS sxx, sum(y * y) AS syy
         |  FROM up WHERE x IS NOT NULL GROUP BY 1, 2),
         |k AS (SELECT event_type, lag, n,
         |    n * sxx - sx * sx AS dx, n * syy - sy * sy AS dy,
         |    n * sxy - sx * sy AS cov, sx, sy
         |  FROM st)
         |SELECT event_type, lag, n,
         |  CASE WHEN dx <> 0
         |    THEN round(CAST(cov AS DOUBLE) / CAST(dx AS DOUBLE), 6) END
         |    AS slope,
         |  CASE WHEN dx <> 0
         |    THEN round((CAST(sy AS DOUBLE)
         |                - CAST(cov AS DOUBLE) / CAST(dx AS DOUBLE)
         |                  * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) END
         |    AS intercept,
         |  CASE WHEN dx <> 0 AND dy <> 0
         |    THEN round(CAST(cov * cov AS DOUBLE) / CAST(dx * dy AS DOUBLE),
         |               6) END AS r2
         |FROM k""".stripMargin,
    "q354_burstiness" ->
      s"""WITH $SrcCte,
         |hours AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
         |            TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR))
         |            AS hr),
         |types AS (SELECT DISTINCT event_type FROM src),
         |hourly AS (SELECT event_type, date_trunc('hour', ts) AS hr,
         |             CAST(count(*) AS BIGINT) AS n
         |           FROM src GROUP BY 1, 2),
         |grid AS (SELECT t.event_type, coalesce(hourly.n, 0) AS x
         |         FROM hours h CROSS JOIN types t
         |         LEFT JOIN hourly ON hourly.hr = h.hr
         |           AND hourly.event_type = t.event_type)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
         |  CAST(sum(x) AS BIGINT) AS n_events,
         |  CAST((count(*) * sum(x * x) - sum(x) * sum(x)) * 1000000
         |       // (count(*) * greatest(sum(x), 1)) AS BIGINT) AS fano_ppm
         |FROM grid GROUP BY 1""".stripMargin,
    "q355_discount_band_revenue" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)
        |           * CAST(floor(l_discount * 100) AS BIGINT)) AS BIGINT)
        |    AS discount_e4
        |FROM lineitem
        |WHERE year(l_shipdate) = 1996 AND l_quantity < 24
        |  AND CAST(floor(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7""".stripMargin,
    "q356_revenue_retention" ->
      s"""WITH $SrcCte,
         |f AS (SELECT user_id,
         |        min(epoch_us(ts) // 604800000000) AS cohort_wk
         |      FROM src GROUP BY 1),
         |r AS (SELECT cohort_wk,
         |        epoch_us(ts) // 604800000000 - cohort_wk AS week_offset,
         |        CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT))
         |             AS BIGINT) AS rev_micro
         |      FROM src JOIN f USING (user_id)
         |      WHERE event_type = 'purchase' GROUP BY 1, 2),
         |b AS (SELECT cohort_wk, rev_micro AS base_micro FROM r
         |      WHERE week_offset = 0)
         |SELECT r.cohort_wk, r.week_offset, r.rev_micro,
         |  CASE WHEN b.base_micro IS NULL OR b.base_micro = 0 THEN NULL
         |       ELSE CAST(r.rev_micro * 1000000 // b.base_micro AS BIGINT)
         |  END AS ndr_ppm
         |FROM r LEFT JOIN b ON r.cohort_wk = b.cohort_wk""".stripMargin,
    "q357_bot_cadence" ->
      s"""WITH $SrcCte,
         |g AS (SELECT user_id,
         |        (epoch_us(ts) - epoch_us(lag(ts, 1) OVER
         |          (PARTITION BY user_id ORDER BY ts, event_id)))
         |          // 60000000 AS gap_min
         |      FROM src),
         |st AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
         |         sum(gap_min) AS sg, sum(gap_min * gap_min) AS sg2
         |       FROM g WHERE gap_min IS NOT NULL GROUP BY 1
         |       HAVING count(*) >= 10)
         |SELECT user_id, n_gaps,
         |  CAST((n_gaps * sg2 - sg * sg) * 1000
         |       // greatest(sg * sg, 1) AS BIGINT) AS cv2_ppk
         |FROM st ORDER BY cv2_ppk ASC, user_id LIMIT 20""".stripMargin,
    "q358_seasonal_anomaly" ->
      s"""WITH $SrcCte,
         |days AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
         |           TIMESTAMP '2024-01-30', INTERVAL 1 DAY)) AS day),
         |types AS (SELECT DISTINCT event_type FROM src),
         |daily AS (SELECT event_type, date_trunc('day', ts) AS day,
         |            CAST(count(*) AS BIGINT) AS n
         |          FROM src GROUP BY 1, 2),
         |grid AS (SELECT t.event_type, d.day, coalesce(daily.n, 0) AS n,
         |           (epoch_us(d.day) // 86400000000) % 7 AS dow
         |         FROM days d CROSS JOIN types t
         |         LEFT JOIN daily ON daily.day = d.day
         |           AND daily.event_type = t.event_type),
         |res AS (SELECT event_type, day, n,
         |    (n * (count(*) OVER wd) - (sum(n) OVER wd))
         |      * (20 // (count(*) OVER wd)) AS r20
         |  FROM grid
         |  WINDOW wd AS (PARTITION BY event_type, dow)),
         |rk AS (SELECT *, row_number() OVER
         |    (PARTITION BY event_type ORDER BY abs(r20), day) AS rn
         |  FROM res),
         |md AS (SELECT *, sum(CASE WHEN rn IN (15, 16) THEN abs(r20) END)
         |    OVER (PARTITION BY event_type) AS mad2 FROM rk)
         |SELECT event_type, day, CAST(n AS BIGINT) AS n,
         |  CAST(r20 AS BIGINT) AS r20, CAST(mad2 AS BIGINT) AS mad2,
         |  (abs(r20) * 2 > mad2 * 3) AS anomalous
         |FROM md""".stripMargin,
    "q359_neighbor_jaccard" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |               FROM lineitem),
        |p AS (SELECT a.i AS x, c.i AS y
        |      FROM items a JOIN items c ON a.b = c.b AND a.i < c.i
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |nbr AS (SELECT x AS src, y AS dst FROM p
        |        UNION ALL SELECT y, x FROM p),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
        |        FROM nbr GROUP BY 1),
        |w AS (SELECT l.dst AS a, r.dst AS b,
        |        CAST(count(*) AS BIGINT) AS cn
        |      FROM nbr l JOIN nbr r
        |        ON l.src = r.src AND l.dst < r.dst
        |      GROUP BY 1, 2)
        |SELECT a, b, cn, da.deg AS deg_a, db.deg AS deg_b,
        |  CAST(cn * 1000000 // (da.deg + db.deg - cn) AS BIGINT)
        |    AS jaccard_ppm
        |FROM w JOIN deg da ON da.src = a JOIN deg db ON db.src = b
        |ORDER BY jaccard_ppm DESC, a, b LIMIT 50""".stripMargin,
    "q360_price_elasticity" ->
      """WITH d AS (SELECT p_brand,
        |    CAST(floor(l_discount * 100) AS BIGINT) AS x,
        |    CAST(floor(l_quantity) AS BIGINT) AS y
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |st AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
        |         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |         sum(x * x) AS sxx, sum(y * y) AS syy
        |       FROM d GROUP BY 1),
        |k AS (SELECT p_brand, n,
        |        n * sxx - sx * sx AS dx, n * syy - sy * sy AS dy,
        |        n * sxy - sx * sy AS cov, sx, sy
        |      FROM st)
        |SELECT p_brand, n,
        |  CASE WHEN dx <> 0
        |    THEN round(CAST(cov AS DOUBLE) / CAST(dx AS DOUBLE), 6) END
        |    AS slope,
        |  CASE WHEN dx <> 0
        |    THEN round((CAST(sy AS DOUBLE)
        |                - CAST(cov AS DOUBLE) / CAST(dx AS DOUBLE)
        |                  * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) END
        |    AS intercept,
        |  CASE WHEN dx <> 0 AND dy <> 0
        |    THEN round(CAST(CAST(cov AS HUGEINT) * cov AS DOUBLE)
        |               / CAST(CAST(dx AS HUGEINT) * dy AS DOUBLE),
        |               6) END AS r2
        |FROM k""".stripMargin,
    "q361_cycle_time_quantiles" ->
      """WITH g AS (SELECT o_custkey,
        |    date_diff('day', lag(o_orderdate, 1) OVER
        |      (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |      o_orderdate) AS gap_days
        |  FROM orders),
        |sg AS (SELECT c_mktsegment, CAST(gap_days AS BIGINT) AS gap_days
        |       FROM g JOIN customer ON o_custkey = c_custkey
        |       WHERE gap_days IS NOT NULL),
        |rk AS (SELECT c_mktsegment, gap_days,
        |         row_number() OVER (PARTITION BY c_mktsegment
        |                            ORDER BY gap_days) AS rn,
        |         count(*) OVER (PARTITION BY c_mktsegment) AS n
        |       FROM sg)
        |SELECT c_mktsegment, CAST(q AS INT) AS q, gap_days AS q_value
        |FROM rk CROSS JOIN (SELECT unnest([25, 50, 75, 90]) AS q)
        |WHERE rn = (n * q + 99) // 100""".stripMargin,
    "q362_supplier_hhi" ->
      """WITH ps AS (SELECT l_partkey, l_suppkey,
        |    CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS q
        |  FROM lineitem GROUP BY 1, 2),
        |h AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_suppliers,
        |        CAST(sum(q) AS BIGINT) AS q_total,
        |        CAST(sum(q * q) AS BIGINT) AS q2
        |      FROM ps GROUP BY 1 HAVING count(*) >= 2)
        |SELECT l_partkey, n_suppliers, q_total,
        |  CAST(q2 * 1000000 // (q_total * q_total) AS BIGINT) AS hhi_ppm
        |FROM h ORDER BY hhi_ppm ASC, l_partkey LIMIT 25""".stripMargin,
    "q363_dormant_capital" ->
      """WITH c AS (SELECT c_custkey, c_mktsegment,
        |    CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_c
        |  FROM customer),
        |t AS (SELECT CAST(sum(bal_c) AS BIGINT) AS s,
        |        CAST(count(*) AS BIGINT) AS n FROM c),
        |r AS (SELECT DISTINCT o_custkey FROM orders
        |      WHERE o_orderdate >= TIMESTAMP '2000-01-01')
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_dormant,
        |  CAST(sum(bal_c) AS BIGINT) AS dormant_cents
        |FROM c CROSS JOIN t
        |WHERE bal_c * n > s
        |  AND c_custkey NOT IN (SELECT o_custkey FROM r)
        |GROUP BY 1""".stripMargin,
    "q364_below_list_share" ->
      """WITH d AS (SELECT p_brand,
        |    CAST(floor(l_extendedprice * 100) AS BIGINT)
        |      < CAST(floor(p_retailprice * 100) AS BIGINT)
        |        * CAST(floor(l_quantity) AS BIGINT) AS below
        |  FROM lineitem JOIN part ON l_partkey = p_partkey)
        |SELECT p_brand, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CASE WHEN below THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_below,
        |  CAST(sum(CASE WHEN below THEN 1 ELSE 0 END) * 1000000
        |       // count(*) AS BIGINT) AS below_ppm
        |FROM d GROUP BY 1""".stripMargin,
    "q365_segment_brand_index" ->
      """WITH li AS (SELECT c_mktsegment, p_brand
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey),
        |sb AS (SELECT c_mktsegment, p_brand,
        |         CAST(count(*) AS BIGINT) AS n_sb FROM li GROUP BY 1, 2),
        |s AS (SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_s
        |      FROM li GROUP BY 1),
        |b AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n_b
        |      FROM li GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM li)
        |SELECT sb.c_mktsegment, sb.p_brand, sb.n_sb,
        |  CAST(n_sb * n_tot * 1000 // (n_s * n_b) AS BIGINT) AS index_ppk
        |FROM sb JOIN s USING (c_mktsegment) JOIN b USING (p_brand)
        |CROSS JOIN t""".stripMargin,
    "q366_communities" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |               FROM lineitem),
        |p AS (SELECT a.i AS x, c.i AS y
        |      FROM items a JOIN items c ON a.b = c.b AND a.i < c.i
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |nbr AS (SELECT x AS src, y AS dst FROM p
        |        UNION ALL SELECT y, x FROM p),
        |l0 AS (SELECT DISTINCT src AS node, src AS lab FROM nbr),
        |r1 AS (SELECT e.src AS node, l.lab, count(*) AS c
        |       FROM nbr e JOIN l0 l ON l.node = e.dst GROUP BY 1, 2),
        |l1 AS (SELECT node, lab FROM (SELECT *, row_number() OVER
        |         (PARTITION BY node ORDER BY c DESC, lab) AS rn FROM r1)
        |       WHERE rn = 1),
        |r2 AS (SELECT e.src AS node, l.lab, count(*) AS c
        |       FROM nbr e JOIN l1 l ON l.node = e.dst GROUP BY 1, 2),
        |l2 AS (SELECT node, lab FROM (SELECT *, row_number() OVER
        |         (PARTITION BY node ORDER BY c DESC, lab) AS rn FROM r2)
        |       WHERE rn = 1),
        |r3 AS (SELECT e.src AS node, l.lab, count(*) AS c
        |       FROM nbr e JOIN l2 l ON l.node = e.dst GROUP BY 1, 2),
        |l3 AS (SELECT node, lab FROM (SELECT *, row_number() OVER
        |         (PARTITION BY node ORDER BY c DESC, lab) AS rn FROM r3)
        |       WHERE rn = 1)
        |SELECT node, lab AS community,
        |  CAST(count(*) OVER (PARTITION BY lab) AS BIGINT)
        |    AS community_size
        |FROM l3""".stripMargin,
    "q367_proximity_search" ->
      s"""WITH $ToksCte,
         |tok AS (SELECT doc_id, unnest(t) AS term,
         |          unnest(range(len(t))) AS pos FROM toks),
         |a AS (SELECT doc_id, pos FROM tok WHERE term = 'spark'),
         |b AS (SELECT doc_id, pos FROM tok WHERE term = 'window'),
         |j AS (SELECT a.doc_id, a.pos AS pa, b.pos AS pb
         |      FROM a JOIN b USING (doc_id))
         |SELECT doc_id, CAST(count(DISTINCT pa) AS BIGINT) AS n_a,
         |  CAST(count(DISTINCT pb) AS BIGINT) AS n_b,
         |  CAST(min(abs(pa - pb)) AS BIGINT) AS min_dist
         |FROM j GROUP BY 1 HAVING min(abs(pa - pb)) <= 3""".stripMargin,
    "q368_stream_heavy_hitters" ->
      s"""WITH $SrcCte
         |SELECT user_id, CAST(count(*) AS BIGINT) AS n_true,
         |  TRUE AS mg_ok, TRUE AS covered_ok
         |FROM src WHERE user_id % 5 = 1 GROUP BY 1""".stripMargin,
    "q369_lexical_gini" ->
      s"""WITH $ToksCte,
         |tok AS (SELECT doc_id, unnest(t) AS term FROM toks),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |       FROM tok WHERE term <> '' GROUP BY 1, 2),
         |per AS (SELECT doc_id, sum(tf) AS n, sum(tf * tf) AS s2
         |        FROM tf GROUP BY 1),
         |g AS (SELECT d.source,
         |        (n * n - s2) * 1000000 // (n * n) AS g
         |      FROM per JOIN documents d USING (doc_id))
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(g) // count(*) AS BIGINT) AS avg_gini_ppm,
         |  CAST(min(g) AS BIGINT) AS min_gini_ppm,
         |  CAST(max(g) AS BIGINT) AS max_gini_ppm
         |FROM g GROUP BY 1""".stripMargin,
    "q370_open_order_aging" ->
      """SELECT o_orderstatus,
        |  date_diff('day', o_orderdate, TIMESTAMP '2001-09-01') // 365
        |    AS age_years,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS open_cents
        |FROM orders WHERE o_orderstatus <> 'F'
        |GROUP BY 1, 2""".stripMargin,
    "q371_simpson_check" ->
      """WITH d AS (SELECT c_mktsegment,
        |    CAST(year(o_orderdate) AS INT) AS yr,
        |    CAST(floor(l_discount * 100) AS BIGINT) AS dp
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE year(o_orderdate) IN (1996, 1997)),
        |seg AS (SELECT c_mktsegment,
        |    CAST(sum(CASE WHEN yr = 1996 THEN dp ELSE 0 END) AS BIGINT)
        |      AS s96,
        |    CAST(sum(CASE WHEN yr = 1996 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n96,
        |    CAST(sum(CASE WHEN yr = 1997 THEN dp ELSE 0 END) AS BIGINT)
        |      AS s97,
        |    CAST(sum(CASE WHEN yr = 1997 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n97
        |  FROM d GROUP BY 1),
        |t AS (SELECT sum(s96) AS t96s, sum(n96) AS t96n,
        |        sum(s97) AS t97s, sum(n97) AS t97n FROM seg)
        |SELECT c_mktsegment, s96, n96, s97, n97,
        |  s97 * n96 > s96 * n97 AS seg_up,
        |  t97s * t96n > t96s * t97n AS overall_up,
        |  (s97 * n96 > s96 * n97) <> (t97s * t96n > t96s * t97n)
        |    AS disagrees
        |FROM seg CROSS JOIN t""".stripMargin,
    "q372_gap_tail_permille" ->
      s"""WITH $SrcCte,
         |g AS (SELECT event_type,
         |        (epoch_us(ts) - epoch_us(lag(ts, 1) OVER
         |          (PARTITION BY user_id ORDER BY ts, event_id)))
         |          // 60000000 AS gap_min
         |      FROM src),
         |rk AS (SELECT event_type, gap_min,
         |         row_number() OVER (PARTITION BY event_type
         |                            ORDER BY gap_min) AS rn,
         |         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
         |           AS n
         |       FROM g WHERE gap_min IS NOT NULL)
         |SELECT event_type, CAST(q AS INT) AS q, gap_min AS q_value,
         |  n AS total_weight
         |FROM rk CROSS JOIN (SELECT unnest([500, 990, 999]) AS q)
         |WHERE rn = (n * q + 999) // 1000""".stripMargin,
    "q373_t_closeness" ->
      """WITH base AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / 2000) AS BIGINT) AS cat
        |  FROM customer),
        |cells AS (SELECT c_nationkey, c_mktsegment, cat,
        |    CAST(count(*) AS BIGINT) AS ngc FROM base GROUP BY 1, 2, 3),
        |cls AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(sum(ngc) AS BIGINT) AS ng FROM cells GROUP BY 1, 2),
        |cats AS (SELECT cat, CAST(sum(ngc) AS BIGINT) AS nc
        |         FROM cells GROUP BY 1),
        |t AS (SELECT CAST(sum(nc) AS BIGINT) AS N FROM cats),
        |grid AS (SELECT cls.c_nationkey, cls.c_mktsegment, cls.ng,
        |           cats.cat, cats.nc, t.N,
        |           abs(coalesce(cells.ngc, 0) * t.N - cats.nc * cls.ng)
        |             AS d
        |         FROM cls CROSS JOIN cats CROSS JOIN t
        |         LEFT JOIN cells ON cells.c_nationkey = cls.c_nationkey
        |           AND cells.c_mktsegment = cls.c_mktsegment
        |           AND cells.cat = cats.cat)
        |SELECT c_nationkey, c_mktsegment,
        |  CAST(ng AS BIGINT) AS class_size,
        |  CAST(sum(d) * 1000000 // (2 * ng * max(N)) AS BIGINT)
        |    AS tvd_ppm,
        |  CAST(sum(d) * 1000000 // (2 * ng * max(N)) AS BIGINT) > 150000
        |    AS breach
        |FROM grid GROUP BY 1, 2, ng""".stripMargin,
    "q374_next_purchase_pairs" ->
      """WITH fp AS (SELECT o_custkey, l_partkey,
        |    min(o_orderdate) AS first_dt
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2)
        |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |  CAST(count(*) AS BIGINT) AS n_pairs
        |FROM fp a JOIN fp b ON a.o_custkey = b.o_custkey
        |  AND a.first_dt < b.first_dt
        |GROUP BY 1, 2
        |ORDER BY n_pairs DESC, part_a, part_b LIMIT 50""".stripMargin,
    "q375_heaps_curve" ->
      s"""WITH $ToksCte,
         |dq AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn,
         |         count(*) OVER () AS n FROM documents),
         |m AS (SELECT CAST(q AS INT) AS pct, doc_id AS m_doc
         |      FROM dq CROSS JOIN (SELECT unnest([10, 20, 30, 40, 50,
         |        60, 70, 80, 90, 100]) AS q)
         |      WHERE rn = (n * q + 99) // 100),
         |tok AS (SELECT doc_id, unnest(t) AS term FROM toks),
         |fs AS (SELECT term, min(doc_id) AS fs FROM tok
         |       WHERE term <> '' GROUP BY 1),
         |pd AS (SELECT doc_id,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |         ELSE len(t) END AS BIGINT) AS ntok FROM toks),
         |vocab AS (SELECT pct, m_doc, CAST(count(*) AS BIGINT) AS n_vocab
         |          FROM fs JOIN m ON fs.fs <= m.m_doc GROUP BY 1, 2),
         |mass AS (SELECT pct, m_doc, CAST(count(*) AS BIGINT) AS n_docs,
         |           CAST(sum(ntok) AS BIGINT) AS n_tokens
         |         FROM pd JOIN m ON pd.doc_id <= m.m_doc GROUP BY 1, 2)
         |SELECT pct, m_doc, n_docs, n_tokens, n_vocab
         |FROM mass JOIN vocab USING (pct, m_doc)""".stripMargin,
    "q376_rrf_fusion" ->
      s"""WITH $ToksCte,
         |tok AS (SELECT doc_id, unnest(t) AS token FROM toks),
         |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
         |scal AS (SELECT count(*) AS n_docs,
         |           CAST(sum(dl) AS BIGINT) AS sdl FROM dl),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
         |  WHERE token IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})
         |  GROUP BY 1, 2),
         |dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
         |scored AS (SELECT t.doc_id,
         |    ((s.n_docs - f.df) * 1000000) // s.n_docs AS idf_ppm,
         |    (t.tf * 44 * s.sdl * 1000000)
         |      // (20*s.sdl*t.tf + 6*s.sdl + 18*d.dl*s.n_docs) AS tfc_ppm
         |  FROM tf t JOIN dfq f USING (token) JOIN dl d USING (doc_id)
         |  CROSS JOIN scal s),
         |agg AS (SELECT doc_id,
         |    CAST(sum((idf_ppm * tfc_ppm) // 1000000) AS BIGINT)
         |      AS score_ppm FROM scored GROUP BY 1),
         |bm AS (SELECT doc_id, ra FROM (SELECT doc_id, row_number()
         |    OVER (ORDER BY score_ppm DESC, doc_id) AS ra FROM agg)
         |  WHERE ra <= 20),
         |ch AS (SELECT t.doc_id, d.dl,
         |         count(DISTINCT t.token) AS n_hit
         |       FROM tf t JOIN dl d USING (doc_id) GROUP BY 1, 2),
         |co AS (SELECT doc_id, rc FROM (SELECT doc_id, row_number()
         |    OVER (ORDER BY n_hit DESC, dl ASC, doc_id) AS rc FROM ch)
         |  WHERE rc <= 20),
         |fused AS (SELECT coalesce(bm.doc_id, co.doc_id) AS doc_id,
         |    coalesce(1000000 // (60 + bm.ra), 0)
         |      + coalesce(1000000 // (60 + co.rc), 0) AS rrf_ppm,
         |    bm.ra IS NOT NULL AS in_bm25,
         |    co.rc IS NOT NULL AS in_coord
         |  FROM bm FULL JOIN co ON bm.doc_id = co.doc_id)
         |SELECT * FROM (SELECT row_number() OVER
         |    (ORDER BY rrf_ppm DESC, doc_id) AS "rank", doc_id,
         |    CAST(rrf_ppm AS BIGINT) AS rrf_ppm, in_bm25, in_coord
         |  FROM fused)
         |WHERE "rank" <= 10""".stripMargin,
    "q377_split_shipments" ->
      """WITH o AS (SELECT l_orderkey,
        |    CAST(count(DISTINCT l_shipdate) AS BIGINT) AS n_ship_dates,
        |    CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
        |         AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1)
        |SELECT n_ship_dates, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(cents) AS BIGINT) AS cents
        |FROM o GROUP BY 1""".stripMargin
  )

  def oracleSql: Map[String, String] = r6Oracle ++ R7Queries.oracleSql ++ R8Queries.oracleSql ++ R9Queries.oracleSql ++ R10Queries.oracleSql ++ R11Queries.oracleSql ++ R12Queries.oracleSql ++ R13Queries.oracleSql ++ R14Queries.oracleSql ++ R15Queries.oracleSql ++ R16Queries.oracleSql ++ R17Queries.oracleSql ++ R18Queries.oracleSql ++ Map(
    // q198: the store after three streamed micro-batches must equal the
    // one-shot rollup over the same rows (merge algebra == full recompute).
    "q198_stream_rollup" ->
      s"""WITH $SrcCte,
         |e AS (SELECT event_type, date_trunc('day', ts) AS day,
         |        CAST(floor(value * 1000000.0) AS BIGINT) AS vm FROM src
         |      WHERE user_id % 5 = 0)
         |SELECT event_type, day, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(vm) AS BIGINT) AS value_micro,
         |  min(vm) AS min_micro, max(vm) AS max_micro
         |FROM e GROUP BY 1, 2""".stripMargin,
    // q199: changelog replay from empty == the engine's three-merge result,
    // re-derived here as the three-phase incremental SQL.
    "q199_stream_cdc_replay" ->
      s"WITH $SrcCte, ${scd2ThreePhaseSql(AllCheck,
        "event_id % 3 = 0 AND user_id % 5 = 0",
        "event_id % 3 = 1 AND user_id % 5 = 0",
        "event_id % 3 = 2 AND user_id % 5 = 0")}",
    // q200: exact join-size preflight = per-key count product; the oracle
    // is the definitionally-same arithmetic over the same counts.
    "q200_join_preflight" ->
      s"""WITH $SrcCte,
         |lc AS (SELECT user_id AS key, count(*) AS n_left FROM src GROUP BY 1),
         |rc AS (SELECT o_custkey AS key, count(*) AS n_right FROM orders GROUP BY 1),
         |pk AS (SELECT key, n_left, n_right, n_left * n_right AS out_rows
         |       FROM lc JOIN rc USING (key)),
         |t AS (SELECT CAST(coalesce(sum(out_rows), 0) AS BIGINT)
         |        AS total_out_rows FROM pk)
         |SELECT key, n_left, n_right, out_rows, total_out_rows,
         |  out_rows * 1000000 // total_out_rows AS share_micro
         |FROM pk, t ORDER BY out_rows DESC, key ASC LIMIT 10""".stripMargin,
    // q201: OLS from integer sufficient statistics — identical closed form
    // over exact integer sums, so the rounded doubles agree bit-for-bit.
    "q201_group_trend" ->
      s"""WITH $SrcCte,
         |d AS (SELECT event_type,
         |        date_diff('day', DATE '2020-01-01',
         |                  CAST(date_trunc('day', ts) AS DATE)) AS x,
         |        count(*) AS y
         |      FROM src GROUP BY 1, 2),
         |st AS (SELECT event_type, count(*) AS n,
         |         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
         |         sum(x * x) AS sxx, sum(y * y) AS syy
         |       FROM d GROUP BY 1),
         |k AS (SELECT event_type, n,
         |        n * sxx - sx * sx AS dx, n * syy - sy * sy AS dy,
         |        n * sxy - sx * sy AS cov, sx, sy
         |      FROM st)
         |SELECT event_type, n,
         |  CASE WHEN dx <> 0
         |    THEN round(CAST(cov AS DOUBLE) / CAST(dx AS DOUBLE), 6) END
         |    AS slope,
         |  CASE WHEN dx <> 0
         |    THEN round((CAST(sy AS DOUBLE)
         |                - CAST(cov AS DOUBLE) / CAST(dx AS DOUBLE)
         |                  * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) END
         |    AS intercept,
         |  CASE WHEN dx <> 0 AND dy <> 0
         |    THEN round(CAST(cov * cov AS DOUBLE) / CAST(dx * dy AS DOUBLE), 6)
         |    END AS r2
         |FROM k ORDER BY event_type""".stripMargin,
    // q202: greedy sequential packing == floor(prev-cumsum / target), the
    // same window algebra re-run over the same metadata inventory.
    "q202_compaction_plan" ->
      s"""WITH $SrcCte,
         |inv AS (SELECT event_type AS part, date_trunc('day', ts) AS file,
         |          CAST(sum(length(props)) + 16 * count(*) AS BIGINT) AS bytes
         |        FROM src GROUP BY 1, 2),
         |b0 AS (SELECT part, file, bytes, bytes >= 65536 AS big,
         |         row_number() OVER (PARTITION BY part ORDER BY file) AS pos,
         |         sum(CASE WHEN bytes >= 65536 THEN 0 ELSE bytes END)
         |           OVER (PARTITION BY part, bytes >= 65536 ORDER BY file
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |           AS cum
         |       FROM inv),
         |binned AS (SELECT part,
         |             CAST(CASE WHEN big THEN -pos
         |                  ELSE coalesce(cum, 0) // 65536 END AS BIGINT)
         |               AS bin,
         |             bytes, file
         |           FROM b0)
         |SELECT part, bin, count(*) AS n_files,
         |  CAST(sum(bytes) AS BIGINT) AS bytes,
         |  min(file) AS from_order, max(file) AS to_order
         |FROM binned GROUP BY 1, 2""".stripMargin,
    // q203: word-frequency-weighted adjacent char pairs; vocabulary CTE
    // first, then per-word pair explosion — same two-level aggregation.
    "q203_bpe_pairs" ->
      """WITH w0 AS (SELECT unnest(regexp_split_to_array(lower(text),
        |    '[^a-z]+')) AS word FROM documents),
        |wc AS (SELECT word, count(*) AS wcnt FROM w0
        |       WHERE length(word) >= 2 GROUP BY 1),
        |p AS (SELECT wcnt, unnest(list_transform(
        |        generate_series(1, length(word) - 1),
        |        i -> substring(word, i, 2))) AS pair
        |      FROM wc)
        |SELECT pair, CAST(sum(wcnt) AS BIGINT) AS pair_count FROM p
        |GROUP BY 1 ORDER BY pair_count DESC, pair ASC LIMIT 30""".stripMargin,
    // q204: per-cell min/max (the parquet footer stats) vs band predicates
    // under each layout's cell assignment — q132's exact z arithmetic.
    "q204_skipping_report" ->
      """WITH base AS (SELECT CAST(l_orderkey % 1024 AS BIGINT) AS zx,
        |    CAST(l_partkey % 1024 AS BIGINT) AS zy FROM lineitem),
        |zc AS (SELECT zx, zy,
        |    CAST(list_sum(list_transform(generate_series(0, 9), b ->
        |      (((zx >> b) & 1) << (2 * b)) + (((zy >> b) & 1) << (2 * b + 1))))
        |      AS BIGINT) >> 14 AS cell FROM base),
        |zs AS (SELECT cell, min(zx) AS min_zx, max(zx) AS max_zx,
        |         min(zy) AS min_zy, max(zy) AS max_zy
        |       FROM zc GROUP BY 1),
        |lc AS (SELECT zx >> 4 AS cell, min(zx) AS min_zx, max(zx) AS max_zx,
        |         min(zy) AS min_zy, max(zy) AS max_zy
        |       FROM base GROUP BY 1),
        |r AS (
        |  SELECT 'zorder_xy' AS layout, 'x_band' AS predicate,
        |    count(*) AS n_cells,
        |    CAST(sum(CASE WHEN max_zx >= 128 AND min_zx <= 255
        |             THEN 1 ELSE 0 END) AS BIGINT) AS scan_cells FROM zs
        |  UNION ALL
        |  SELECT 'zorder_xy', 'y_band', count(*),
        |    CAST(sum(CASE WHEN max_zy >= 128 AND min_zy <= 255
        |             THEN 1 ELSE 0 END) AS BIGINT)
        |    FROM zs
        |  UNION ALL
        |  SELECT 'linear_x', 'x_band', count(*),
        |    CAST(sum(CASE WHEN max_zx >= 128 AND min_zx <= 255
        |             THEN 1 ELSE 0 END) AS BIGINT)
        |    FROM lc
        |  UNION ALL
        |  SELECT 'linear_x', 'y_band', count(*),
        |    CAST(sum(CASE WHEN max_zy >= 128 AND min_zy <= 255
        |             THEN 1 ELSE 0 END) AS BIGINT)
        |    FROM lc)
        |SELECT layout, predicate, n_cells, scan_cells,
        |  scan_cells * 1000000 // n_cells AS scan_ppm FROM r""".stripMargin,
    // q205: the maintained join state must equal the flat join — the oracle
    // IS the flat join, rolled up the same way.
    "q205_ivm_join" ->
      """SELECT o_orderpriority, l_returnflag, count(*) AS n_rows,
        |  CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    AS qty_centi
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1, 2""".stripMargin,
    // q207: the same no-deletes SCD2 timeline (q01's CTE chain), durations
    // from lead(ts) with the max-ts horizon closing the open version —
    // exact integer weights, ratio rounded from exact sums.
    "q207_history_twa" ->
      s"""WITH $SrcCte,
         |hashed AS (SELECT user_id, ts, value,
         |    md5(concat_ws('-', coalesce(CAST(event_type AS VARCHAR), ''),
         |      coalesce(CAST(value AS VARCHAR), ''),
         |      coalesce(CAST(props AS VARCHAR), ''))) AS _h FROM src),
         |dedup AS (SELECT * FROM hashed
         |  QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY _h) = 1),
         |co AS (SELECT * FROM (
         |    SELECT *, lag(_h) OVER (PARTITION BY user_id ORDER BY ts) AS _ph
         |    FROM dedup) WHERE _ph IS NULL OR _h <> _ph),
         |hz AS (SELECT max(ts) AS horizon FROM src),
         |h AS (SELECT user_id, CAST(floor(value * 1000) AS BIGINT) AS vm,
         |        (epoch_us(coalesce(lead(ts) OVER (PARTITION BY user_id
         |                                          ORDER BY ts), horizon))
         |         - epoch_us(ts)) // 1000000 AS dur
         |      FROM co, hz)
         |SELECT user_id, count(*) AS n_versions,
         |  CAST(sum(dur) AS BIGINT) AS dur_sec_total,
         |  CAST(sum(dur * vm) AS BIGINT) AS wsum_milli_sec,
         |  CASE WHEN sum(dur) > 0
         |    THEN round(CAST(sum(dur * vm) AS DOUBLE)
         |               / CAST(sum(dur) AS DOUBLE), 6) END AS twa_milli
         |FROM h GROUP BY 1""".stripMargin,
    // q208: exact heavy-hitter counts; the CMS bound verdict is TRUE by the
    // sketch's error contract (estimates stay engine-side, like q96-q98).
    "q208_cms_heavy" ->
      s"""WITH $SrcCte,
         |c AS (SELECT user_id, count(*) AS n_rows FROM src GROUP BY 1)
         |SELECT user_id, n_rows, TRUE AS cms_ok FROM c
         |ORDER BY n_rows DESC, user_id ASC LIMIT 20""".stripMargin,
    // q209: the EXISTS + NOT EXISTS textbook formulation — the Spark side's
    // window collapse must produce identical audit rows.
    "q209_exclusive_fault" ->
      """SELECT l1.l_suppkey, count(*) AS numwait FROM lineitem l1
        |WHERE l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY 1 ORDER BY numwait DESC, l_suppkey ASC LIMIT 20""".stripMargin,
    // q210: identical replace chain over the identical char-spaced words.
    "q210_bpe_apply" -> {
      val chain = BpeMerges.foldLeft("s")((acc, m) =>
        s"replace($acc, ' ${m._1} ${m._2} ', ' ${m._1}${m._2} ')")
      s"""WITH w0 AS (SELECT lang, unnest(regexp_split_to_array(lower(text),
         |    '[^a-z]+')) AS word FROM documents),
         |w1 AS (SELECT lang, word FROM w0 WHERE length(word) >= 1),
         |sp AS (SELECT lang, word,
         |         ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS s
         |       FROM w1),
         |m AS (SELECT lang, word, $chain AS s FROM sp),
         |c AS (SELECT lang, CAST(length(word) AS BIGINT) AS b,
         |        CAST(length(trim(s)) - length(replace(trim(s), ' ', '')) + 1
         |             AS BIGINT) AS a
         |      FROM m)
         |SELECT lang, count(*) AS n_words,
         |  CAST(sum(b) AS BIGINT) AS sym_before,
         |  CAST(sum(a) AS BIGINT) AS sym_after,
         |  (CAST(sum(b) AS BIGINT) - CAST(sum(a) AS BIGINT)) * 1000000
         |    // CAST(sum(b) AS BIGINT) AS saved_ppm
         |FROM c GROUP BY 1""".stripMargin
    },
    // q211: two q48-style profile sweeps joined on the column name.
    "q211_profile_drift" -> {
      val cols = Seq("event_type", "value", "props", "user_id")
      def side(tag: String, where: String) = cols.map { c =>
        s"""SELECT '$c' AS "column", count(*) AS n_$tag,
           |  (count(*) - count($c)) * 1000000 // count(*) AS null_ppm_$tag,
           |  count(DISTINCT $c) AS ndv_$tag,
           |  CAST(min($c) AS VARCHAR) AS _min_$tag,
           |  CAST(max($c) AS VARCHAR) AS _max_$tag
           |FROM src WHERE $where""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $SrcCte,
         |r AS (${side("ref", "ts < TIMESTAMP '2024-01-16'")}),
         |c AS (${side("cur", "ts >= TIMESTAMP '2024-01-16'")})
         |SELECT r."column" AS "column", n_ref, null_ppm_ref, ndv_ref,
         |  n_cur, null_ppm_cur, ndv_cur,
         |  null_ppm_cur - null_ppm_ref AS null_ppm_delta,
         |  _min_cur IS DISTINCT FROM _min_ref AS min_moved,
         |  _max_cur IS DISTINCT FROM _max_ref AS max_moved
         |FROM r JOIN c ON r."column" = c."column"""".stripMargin
    },
    // q212: the survivors, computed flat — the signed-partial store must
    // equal it.
    "q212_retract_rollup" ->
      s"""WITH $SrcCte,
         |e AS (SELECT event_type, date_trunc('day', ts) AS day,
         |        CAST(floor(value * 1000000.0) AS BIGINT) AS vm,
         |        event_id, user_id FROM src),
         |live AS (SELECT * FROM e
         |  WHERE NOT (event_id % 3 = 0 AND user_id % 5 = 0)
         |    AND NOT (event_id % 3 = 1 AND user_id % 7 = 0))
         |SELECT event_type, day, count(*) AS n_rows,
         |  CAST(sum(vm) AS BIGINT) AS value_micro
         |FROM live GROUP BY 1, 2""".stripMargin,
    // q213: per-relation key counts; every plan's intermediate is a
    // sum-of-products over them.
    "q213_star_cost" ->
      s"""WITH $SrcCte,
         |ce AS (SELECT user_id AS key, count(*) AS c_events FROM src GROUP BY 1),
         |co AS (SELECT o_custkey AS key, count(*) AS c_orders FROM orders GROUP BY 1),
         |cc AS (SELECT c_custkey AS key, count(*) AS c_customer FROM customer GROUP BY 1),
         |f AS (SELECT CAST(coalesce(sum(c_events * c_orders * c_customer), 0)
         |        AS BIGINT) AS final_rows
         |      FROM ce JOIN co USING (key) JOIN cc USING (key))
         |SELECT plan, inter_rows, final_rows FROM (
         |  SELECT 'events*orders' AS plan,
         |    CAST(coalesce(sum(c_events * c_orders), 0) AS BIGINT) AS inter_rows
         |  FROM ce JOIN co USING (key)
         |  UNION ALL
         |  SELECT 'events*customer',
         |    CAST(coalesce(sum(c_events * c_customer), 0) AS BIGINT)
         |  FROM ce JOIN cc USING (key)
         |  UNION ALL
         |  SELECT 'orders*customer',
         |    CAST(coalesce(sum(c_orders * c_customer), 0) AS BIGINT)
         |  FROM co JOIN cc USING (key)), f""".stripMargin,
    // q214: q127's recall tail with the approx side = brute force over the
    // first-16-dim truncation.
    "q214_mrl_recall" ->
      s"""WITH bq AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 32),
         |bs AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${cosSql("q.embedding", "c.embedding")} AS cosine
         |  FROM embeddings c JOIN bq q ON q.vec_id <> c.vec_id),
         |bt AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
         |    FROM bs) WHERE rnk <= 10),
         |tr AS (SELECT vec_id, embedding[1:16] AS embedding FROM embeddings),
         |tq AS (SELECT * FROM tr WHERE vec_id < 32),
         |ss AS (SELECT tq.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${cosSql("tq.embedding", "c.embedding")} AS cosine
         |  FROM tr c JOIN tq ON tq.vec_id <> c.vec_id),
         |st AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
         |    FROM ss) WHERE rnk <= 10),
         |h AS (SELECT bt.query_id, CAST(count(*) AS BIGINT) AS n_hits
         |      FROM bt JOIN st ON bt.query_id = st.query_id
         |        AND bt.neighbor_id = st.neighbor_id GROUP BY 1),
         |ex AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact
         |       FROM bt GROUP BY 1)
         |SELECT ex.query_id, ex.n_exact,
         |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |  CAST(coalesce(h.n_hits, 0) * 1000000 AS BIGINT) // ex.n_exact
         |    AS recall_ppm
         |FROM ex LEFT JOIN h ON h.query_id = ex.query_id""".stripMargin,
    // q215: both timelines re-derived with q02-style include-list chains,
    // then interval intersection per key.
    "q215_timeline_align" -> {
      def chain(tag: String, payload: String) =
        s"""h$tag AS (SELECT user_id, ts, $payload,
           |    md5(concat_ws('-', coalesce(CAST($payload AS VARCHAR), '')))
           |      AS _h FROM src),
           |d$tag AS (SELECT * FROM h$tag
           |  QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY _h) = 1),
           |c$tag AS (SELECT * FROM (
           |    SELECT *, lag(_h) OVER (PARTITION BY user_id ORDER BY ts) AS _ph
           |    FROM d$tag) WHERE _ph IS NULL OR _h <> _ph),
           |t$tag AS (SELECT user_id, $payload, ts AS vf,
           |    coalesce(lead(ts) OVER (PARTITION BY user_id ORDER BY ts),
           |             TIMESTAMP '2999-12-31 23:59:59') AS vt FROM c$tag)"""
          .stripMargin
      s"""WITH $SrcCte,
         |${chain("A", "event_type")},
         |${chain("B", "props")}
         |SELECT a.user_id, greatest(a.vf, b.vf) AS seg_from,
         |  least(a.vt, b.vt) AS seg_to, a.event_type, b.props
         |FROM tA a JOIN tB b ON a.user_id = b.user_id
         |  AND greatest(a.vf, b.vf) < least(a.vt, b.vt)""".stripMargin
    },
    // q216: identical rule predicates; rows explode to their violated rule
    // names (or '_clean'), then one rollup.
    "q216_quarantine" ->
      s"""WITH $SrcCte,
         |v AS (SELECT list_filter([
         |    CASE WHEN NOT coalesce(value <= 500.0, false)
         |      THEN 'value_le_500' END,
         |    CASE WHEN NOT coalesce(event_type <> 'error', false)
         |      THEN 'not_error' END,
         |    CASE WHEN NOT coalesce(user_id < 140, false)
         |      THEN 'user_id_bounds' END
         |  ], x -> x IS NOT NULL) AS vs FROM src),
         |u AS (SELECT unnest(CASE WHEN len(vs) = 0 THEN ['_clean']
         |                    ELSE vs END) AS rule FROM v)
         |SELECT rule, count(*) AS n_rows FROM u GROUP BY 1""".stripMargin,
    // q217: the flat in-window join — replay with an over-span watermark
    // must equal it exactly.
    "q217_stream_join" ->
      s"""WITH $SrcCte,
         |i AS (SELECT event_id AS imp_id, ts AS imp_ts, user_id FROM src
         |      WHERE user_id % 7 = 0 AND event_type = 'view'),
         |c AS (SELECT event_id AS click_id, ts AS click_ts, user_id FROM src
         |      WHERE user_id % 7 = 0 AND event_type = 'click')
         |SELECT user_id, imp_id, imp_ts, click_id, click_ts
         |FROM i JOIN c USING (user_id)
         |WHERE click_ts >= imp_ts
         |  AND click_ts <= imp_ts + INTERVAL 3600 SECONDS""".stripMargin,
    // q218: same shift-decay arithmetic over epoch-second ages.
    "q218_decayed_score" ->
      s"""WITH $SrcCte,
         |hz AS (SELECT max(ts) AS h FROM src),
         |e AS (SELECT user_id,
         |        CAST(floor(value * 1000000.0) AS BIGINT) AS vm,
         |        (epoch_us(h) - epoch_us(ts)) // 1000000 // 604800
         |          AS halvings
         |      FROM src, hz)
         |SELECT user_id, count(*) AS n_events,
         |  CAST(sum(vm) AS BIGINT) AS raw_micro,
         |  CAST(sum(vm >> CAST(halvings AS INT)) AS BIGINT) AS decayed_micro
         |FROM e GROUP BY 1""".stripMargin,
    // q219: identical spine + ignore-nulls fill windows + the identical
    // interpolation expression tree.
    "q219_linear_fill" ->
      s"""WITH $SrcCte,
         |p AS (SELECT user_id,
         |        date_diff('day', DATE '2024-01-01',
         |                  CAST(date_trunc('day', ts) AS DATE)) AS d,
         |        CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT))
         |             AS BIGINT) AS vm
         |      FROM src WHERE event_type = 'purchase' GROUP BY 1, 2),
         |span AS (SELECT user_id, min(d) AS d0, max(d) AS d1 FROM p GROUP BY 1),
         |spine AS (SELECT user_id, unnest(generate_series(d0, d1)) AS d
         |          FROM span),
         |j AS (SELECT spine.user_id, spine.d, p.vm
         |      FROM spine LEFT JOIN p USING (user_id, d)),
         |f AS (SELECT *,
         |        last_value(vm IGNORE NULLS) OVER wp AS pv,
         |        last_value(CASE WHEN vm IS NOT NULL THEN d END IGNORE NULLS)
         |          OVER wp AS pd,
         |        first_value(vm IGNORE NULLS) OVER wn AS nv,
         |        first_value(CASE WHEN vm IS NOT NULL THEN d END IGNORE NULLS)
         |          OVER wn AS nd
         |      FROM j
         |      WINDOW wp AS (PARTITION BY user_id ORDER BY d
         |                    ROWS UNBOUNDED PRECEDING),
         |             wn AS (PARTITION BY user_id ORDER BY d
         |                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         |SELECT user_id, d, vm,
         |  CASE WHEN vm IS NOT NULL THEN CAST(vm AS DOUBLE)
         |       ELSE round(pv + (nv - pv) *
         |                  ((d - pd) / CAST(nd - pd AS DOUBLE)), 6)
         |  END AS vm_filled
         |FROM f""".stripMargin,
    // q220: q24's centroid/assignment CTEs + a per-cell rollup.
    "q220_ivf_balance" ->
      s"""WITH cents AS (SELECT vec_id AS centroid_id, embedding AS mv
         |  FROM embeddings ORDER BY vec_id LIMIT 16),
         |asg0 AS (SELECT e.vec_id AS id, c.centroid_id,
         |    ${cosSql("e.embedding", "c.mv")} AS s
         |  FROM embeddings e CROSS JOIN cents c),
         |asg AS (SELECT id, centroid_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY id
         |      ORDER BY s DESC, centroid_id) AS rn
         |    FROM asg0) WHERE rn = 1),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM embeddings)
         |SELECT centroid_id, count(*) AS n_vecs,
         |  count(*) * 1000000 // total AS load_ppm
         |FROM asg, t GROUP BY centroid_id, total""".stripMargin,
    // q221: q128's rank-selection ladder on both slices + the shift join.
    "q221_quantile_drift" -> {
      def ladder(tag: String, where: String) =
        s"""e$tag AS (SELECT event_type,
           |    CAST(floor(value * 1000000.0) AS BIGINT) AS vm FROM src
           |  WHERE $where),
           |r$tag AS (SELECT event_type, vm,
           |    row_number() OVER (PARTITION BY event_type ORDER BY vm) AS rn,
           |    count(*) OVER (PARTITION BY event_type) AS n FROM e$tag),
           |q$tag AS (SELECT event_type, q, vm FROM r$tag,
           |    unnest([10, 25, 50, 75, 90]) AS t(q)
           |  WHERE rn = (n * q + 99) // 100)""".stripMargin
      s"""WITH $SrcCte,
         |${ladder("R", "ts < TIMESTAMP '2024-01-16'")},
         |${ladder("C", "ts >= TIMESTAMP '2024-01-16'")}
         |SELECT qR.event_type, qR.q, qR.vm AS ref_micro, qC.vm AS cur_micro,
         |  qC.vm - qR.vm AS shift_micro
         |FROM qR JOIN qC ON qR.event_type = qC.event_type AND qR.q = qC.q"""
        .stripMargin
    },
    // q222: identical lead-window trigrams, counted and top-k'd.
    "q222_motifs" ->
      s"""WITH $SrcCte,
         |g AS (SELECT event_type AS t1,
         |        lead(event_type, 1) OVER w AS t2,
         |        lead(event_type, 2) OVER w AS t3
         |      FROM src
         |      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         |SELECT t1 || '>' || t2 || '>' || t3 AS motif,
         |  count(*) AS n_occurrences
         |FROM g WHERE t2 IS NOT NULL AND t3 IS NOT NULL
         |GROUP BY 1 ORDER BY n_occurrences DESC, motif ASC LIMIT 25"""
        .stripMargin,
    // q223: the textbook scalar-subquery + NOT IN formulation — the
    // decorrelated broadcast/anti-join plan must produce identical rows.
    // The average is compared cross-multiplied in integer cents on both
    // sides, so no float average can diverge.
    "q223_idle_rich" ->
      """WITH c AS (SELECT c_custkey, c_mktsegment,
        |             CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
        |           FROM customer)
        |SELECT c_mktsegment, count(*) AS n_custs,
        |       CAST(sum(cents) AS BIGINT) AS bal_cents
        |FROM c
        |WHERE cents > 0
        |  AND cents * (SELECT count(*) FROM c WHERE cents > 0)
        |        > (SELECT sum(cents) FROM c WHERE cents > 0)
        |  AND c_custkey NOT IN (SELECT o_custkey FROM orders
        |                        WHERE o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY 1""".stripMargin,
    // q224: identical degree-ordered orientation in SQL — deterministic
    // integer statistics, not an estimate.
    "q224_triangles" ->
      """WITH gi AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
        |            FROM lineitem),
        |e AS (SELECT DISTINCT l.i AS src, r.i AS dst
        |      FROM gi l JOIN gi r ON l.g = r.g AND l.i < r.i),
        |deg AS (SELECT n, count(*) AS d FROM (
        |          SELECT src AS n FROM e UNION ALL SELECT dst FROM e)
        |        GROUP BY 1),
        |o AS (SELECT CASE WHEN (ds.d, e.src) < (dd.d, e.dst)
        |               THEN e.src ELSE e.dst END AS u,
        |             CASE WHEN (ds.d, e.src) < (dd.d, e.dst)
        |               THEN e.dst ELSE e.src END AS v
        |      FROM e JOIN deg ds ON e.src = ds.n
        |             JOIN deg dd ON e.dst = dd.n),
        |tri AS (SELECT count(*) AS n_triangles
        |        FROM o e1 JOIN o e2 ON e1.v = e2.u
        |                  JOIN o e3 ON e1.u = e3.u AND e2.v = e3.v),
        |base AS (SELECT count(*) AS n_nodes,
        |           CAST(sum(d) // 2 AS BIGINT) AS n_edges,
        |           CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges
        |         FROM deg)
        |SELECT n_nodes, n_edges, n_wedges, n_triangles,
        |  CASE WHEN n_wedges > 0
        |    THEN n_triangles * 3 * 1000000 // n_wedges ELSE 0 END
        |    AS closure_ppm
        |FROM base, tri""".stripMargin,
    // q225: the quadratic NOT EXISTS dominance test — the date-dim
    // frontier plan must keep exactly the non-dominated rows.
    "q225_skyline" ->
      """WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS d,
        |             CAST(floor(o_totalprice * 100) AS BIGINT) AS c
        |           FROM orders)
        |SELECT o_orderkey, d AS o_orderdate, c AS price_cents
        |FROM o o1
        |WHERE NOT EXISTS (SELECT 1 FROM o o2
        |                  WHERE o2.d <= o1.d AND o2.c >= o1.c
        |                    AND (o2.d < o1.d OR o2.c > o1.c))""".stripMargin,
    // q226: identical tokenization; the gap sequence re-derived with the
    // same lag-in-term-partition shape, aggregated in doc-id order.
    "q226_postings" ->
      s"""WITH $ToksCte,
         |t AS (SELECT unnest(t) AS term, doc_id FROM toks),
         |tf AS (SELECT term, doc_id, count(*) AS tf FROM t
         |       WHERE length(term) > 0 GROUP BY 1, 2),
         |g AS (SELECT term, doc_id, tf,
         |        doc_id - coalesce(lag(doc_id) OVER
         |          (PARTITION BY term ORDER BY doc_id), 0) AS gap
         |      FROM tf)
         |SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf,
         |  string_agg(CAST(gap AS VARCHAR), ',' ORDER BY doc_id)
         |    AS postings_gaps
         |FROM g GROUP BY 1 HAVING count(*) >= 5""".stripMargin,
    // q227: the single-window textbook run count per column — the bucketed
    // stitch must reproduce it exactly.
    "q227_encoding_advisor" -> {
      def side(c: String) =
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
           |  count(DISTINCT $c) + max(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)
           |    AS ndv,
           |  CAST(sum(CASE WHEN rn = 1 OR v IS DISTINCT FROM pv
           |      THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
           |FROM (SELECT $c, CAST($c AS VARCHAR) AS v,
           |        row_number() OVER (ORDER BY event_id) AS rn,
           |        lag(CAST($c AS VARCHAR)) OVER (ORDER BY event_id) AS pv
           |      FROM src)""".stripMargin
      val cols = Seq("event_type", "user_id", "value", "props")
      s"""WITH $SrcCte,
         |u AS (${cols.map(side).mkString("\nUNION ALL\n")})
         |SELECT "column", n_rows, ndv, n_runs,
         |  n_runs * 1000000 // n_rows AS run_ppm,
         |  ndv * 1000000 // n_rows AS ndv_ppm,
         |  CASE WHEN n_runs * 1000000 // n_rows <= 200000 THEN 'RLE'
         |       WHEN ndv * 1000000 // n_rows <= 100000 THEN 'DICT'
         |       ELSE 'PLAIN' END AS suggestion
         |FROM u""".stripMargin
    },
    // q228: q39's session derivation + ONE global sweep-line window (ends
    // before starts at the same instant) — the per-day distributed carry
    // must match it boundary for boundary.
    "q228_concurrency" ->
      s"""WITH $SrcCte,
         |g AS (SELECT user_id, ts,
         |  CASE WHEN lag(ts) OVER w IS NULL
         |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
         |       THEN 1 ELSE 0 END AS brk
         |  FROM src WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         |se AS (SELECT user_id, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
         |                                      ROWS UNBOUNDED PRECEDING) AS sess,
         |              ts FROM g),
         |sp AS (SELECT min(ts) AS st, max(ts) AS en FROM se
         |       GROUP BY user_id, sess),
         |b AS (SELECT st AS ts, 1 AS d FROM sp
         |      UNION ALL SELECT en, -1 FROM sp),
         |r AS (SELECT ts, d, sum(d) OVER (ORDER BY ts, d
         |                                 ROWS UNBOUNDED PRECEDING) AS run
         |      FROM b),
         |dt AS (SELECT date_trunc('day', ts) AS day, sum(d) AS tot
         |       FROM b GROUP BY 1),
         |ca AS (SELECT day, coalesce(sum(tot) OVER (ORDER BY day
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |         AS carry FROM dt),
         |dy AS (SELECT date_trunc('day', ts) AS day,
         |         max(run) AS mx, count(*) AS n_boundaries
         |       FROM r GROUP BY 1)
         |SELECT dy.day, CAST(greatest(mx, carry) AS BIGINT)
         |         AS peak_concurrency, n_boundaries
         |FROM dy JOIN ca USING (day)""".stripMargin,
    // q229: plain row_number quartiles — cellRank's micro-cell ranks with
    // key tiebreak must reproduce every score bit-for-bit.
    "q229_rfm" ->
      """WITH m AS (SELECT o_custkey, max(o_orderdate) AS last_d,
        |             count(*) AS f,
        |             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
        |                  AS BIGINT) AS m_cents
        |           FROM orders GROUP BY 1),
        |h AS (SELECT max(o_orderdate) AS hz FROM orders),
        |b AS (SELECT o_custkey,
        |        CAST(date_diff('day', last_d, hz) AS BIGINT) AS r_days,
        |        f, m_cents FROM m, h),
        |r AS (SELECT *,
        |  (row_number() OVER (ORDER BY r_days, o_custkey) - 1) * 4
        |    // count(*) OVER () + 1 AS r_q,
        |  (row_number() OVER (ORDER BY f, o_custkey) - 1) * 4
        |    // count(*) OVER () + 1 AS f_q,
        |  (row_number() OVER (ORDER BY m_cents, o_custkey) - 1) * 4
        |    // count(*) OVER () + 1 AS m_q
        |  FROM b)
        |SELECT o_custkey, r_days, f, m_cents, r_q, f_q, m_q,
        |  r_q || '-' || f_q || '-' || m_q AS segment
        |FROM r""".stripMargin,
    // q230: identical md5-prefix bucket digests on both versions — the
    // checksum algebra is engine-exact, so only truly differing buckets
    // may surface.
    "q230_merkle_diff" -> {
      val hash = "CAST(sum(('0x' || substr(md5(concat_ws('|', " +
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "cents",
            "o_orderdate", "o_orderpriority")
          .map(c => s"coalesce(CAST($c AS VARCHAR), '')").mkString(", ") +
        ")), 1, 8))::UBIGINT) AS BIGINT)"
      s"""WITH v1 AS (SELECT o_orderkey, o_custkey, o_orderstatus,
         |              CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
         |              CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
         |              o_orderpriority
         |            FROM orders),
         |v2 AS (SELECT o_orderkey, o_custkey,
         |         CASE WHEN o_orderkey % 101 = 0 THEN 'X'
         |              ELSE o_orderstatus END AS o_orderstatus,
         |         cents, o_orderdate, o_orderpriority
         |       FROM v1 WHERE o_orderkey % 97 <> 0
         |       UNION ALL
         |       SELECT o_orderkey + 10000000, o_custkey, o_orderstatus,
         |         cents, o_orderdate, o_orderpriority
         |       FROM v1 WHERE o_orderkey % 103 = 0),
         |c1 AS (SELECT o_orderkey % 256 AS bucket, count(*) AS n_rows_v1,
         |         $hash AS ck FROM v1 GROUP BY 1),
         |c2 AS (SELECT o_orderkey % 256 AS bucket, count(*) AS n_rows_v2,
         |         $hash AS ck FROM v2 GROUP BY 1)
         |SELECT coalesce(c1.bucket, c2.bucket) AS bucket,
         |  coalesce(n_rows_v1, 0) AS n_rows_v1,
         |  coalesce(n_rows_v2, 0) AS n_rows_v2,
         |  CASE WHEN c1.ck IS NULL THEN 'only_v2'
         |       WHEN c2.ck IS NULL THEN 'only_v1'
         |       ELSE 'differs' END AS status
         |FROM c1 FULL OUTER JOIN c2 ON c1.bucket = c2.bucket
         |WHERE c1.ck IS DISTINCT FROM c2.ck""".stripMargin
    },
    // q231: IN-subquery counts per table — the broadcast semi-join plans
    // must return the same residual tallies.
    "q231_rtbf_audit" ->
      """WITH dl AS (SELECT c_custkey FROM customer WHERE c_custkey % 251 = 0)
        |SELECT 'customer' AS table_name, count(*) AS n_rows,
        |       count(DISTINCT c_custkey) AS n_keys
        |FROM customer WHERE c_custkey IN (SELECT c_custkey FROM dl)
        |UNION ALL
        |SELECT 'orders', count(*), count(DISTINCT o_custkey)
        |FROM orders WHERE o_custkey IN (SELECT c_custkey FROM dl)
        |UNION ALL
        |SELECT 'lineitem', count(*), count(DISTINCT o_custkey)
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_custkey IN (SELECT c_custkey FROM dl)""".stripMargin,
    // q232: textbook per-FD grouped distinct counts.
    "q232_fd_check" -> {
      def side(lhs: String, rhs: String) =
        s"""SELECT '$lhs->$rhs' AS fd, count(*) AS n_lhs,
           |  CAST(sum(CASE WHEN ndv > 1 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_violating,
           |  max(ndv) AS max_fanout,
           |  CAST(sum(CASE WHEN ndv > 1 THEN 1 ELSE 0 END) AS BIGINT)
           |    * 1000000 // count(*) AS violation_ppm
           |FROM (SELECT $lhs, count(DISTINCT $rhs) AS ndv
           |      FROM lineitem GROUP BY 1)""".stripMargin
      Seq("l_orderkey" -> "l_suppkey", "l_orderkey" -> "l_returnflag",
          "l_partkey" -> "l_suppkey", "l_suppkey" -> "l_linestatus")
        .map { case (l, r) => side(l, r) }.mkString("\nUNION ALL\n")
    },
    // q233: the quadratic all-pairs levenshtein over the distinct names —
    // the deletion-neighborhood join must find exactly these pairs.
    "q233_symspell" ->
      """WITH v AS (SELECT lower(p_name) AS w, count(*) AS n FROM part
        |           WHERE p_name IS NOT NULL AND length(p_name) > 0
        |           GROUP BY 1)
        |SELECT a.w AS value_a, b.w AS value_b,
        |  CAST(levenshtein(a.w, b.w) AS INT) AS dist,
        |  a.n AS n_a, b.n AS n_b
        |FROM v a JOIN v b ON a.w < b.w
        |WHERE levenshtein(a.w, b.w) <= 1""".stripMargin,
    // q234: q39's batch sessionization on the user_id%5=1 slice — the
    // streaming state machine must reproduce it session for session.
    "q234_stream_sessions" ->
      s"""WITH $SrcCte,
         |f AS (SELECT * FROM src WHERE user_id % 5 = 1),
         |g AS (SELECT user_id, ts, event_type,
         |  CASE WHEN lag(ts) OVER w IS NULL
         |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
         |       THEN 1 ELSE 0 END AS brk
         |  FROM f WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
         |                               ROWS UNBOUNDED PRECEDING) AS sess
         |      FROM g)
         |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
         |       count(*) AS n_events,
         |       count(DISTINCT event_type) AS n_event_types
         |FROM s GROUP BY user_id, sess""".stripMargin,
    // q235: the textbook correlated scalar-subquery formulation — the
    // one-rollup decorrelated plan must produce the identical tally.
    "q235_small_qty_revenue" ->
      """WITH q AS (SELECT l_partkey,
        |             CAST(floor(l_quantity * 1000000) AS BIGINT) AS qm,
        |             CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
        |           FROM lineitem)
        |SELECT count(*) AS n_lines,
        |  coalesce(CAST(sum(cents) AS BIGINT), 0) AS rev_cents
        |FROM q q1
        |WHERE 5 * qm * (SELECT count(*) FROM q q2
        |                WHERE q2.l_partkey = q1.l_partkey)
        |    < (SELECT CAST(sum(qm) AS BIGINT) FROM q q3
        |       WHERE q3.l_partkey = q1.l_partkey)""".stripMargin,
    // q236: same first-touch identity, plain global window.
    "q236_cumulative_users" ->
      s"""WITH $SrcCte,
         |e AS (SELECT user_id, date_trunc('day', ts) AS day FROM src),
         |a AS (SELECT day, count(DISTINCT user_id) AS n_active
         |      FROM e GROUP BY 1),
         |f AS (SELECT user_id, min(day) AS day FROM e GROUP BY 1),
         |n AS (SELECT day, count(*) AS n_new FROM f GROUP BY 1)
         |SELECT a.day, coalesce(n_new, 0) AS n_new,
         |  CAST(sum(coalesce(n_new, 0)) OVER (ORDER BY a.day
         |       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_cum,
         |  n_active
         |FROM a LEFT JOIN n ON a.day = n.day""".stripMargin,
    // q237: q177's vote/margin SQL + plain row_number deciles + the
    // labeled-lang accuracy rollup.
    "q237_langid_calibration" ->
      s"""WITH h AS (SELECT doc_id, lang,
         |${TextAnalysis.Stopwords.keys.map(l =>
            s"  len(list_filter(t, x -> list_contains(${sqlList(TextAnalysis.Stopwords(l))}, x))) AS $l").mkString(",\n")}
         |FROM (SELECT doc_id, text, lang,
         |        regexp_split_to_array(lower(trim(text)), '\\s+') AS t
         |      FROM documents)),
         |m AS (SELECT doc_id, lang, en, es, fr, de,
         |        greatest(en, es, fr, de) AS mx FROM h),
         |sc AS (SELECT doc_id, lang,
         |  CASE WHEN fr = mx THEN 'fr' WHEN es = mx THEN 'es'
         |       WHEN en = mx THEN 'en' ELSE 'de' END AS top_lang,
         |  CAST(mx - CASE WHEN fr = mx THEN greatest(es, en, de)
         |                 WHEN es = mx THEN greatest(fr, en, de)
         |                 WHEN en = mx THEN greatest(fr, es, de)
         |                 ELSE greatest(fr, es, en) END AS BIGINT) AS margin
         |  FROM m),
         |r AS (SELECT *, (row_number() OVER (ORDER BY margin, doc_id) - 1)
         |        * 10 // count(*) OVER () + 1 AS decile FROM sc)
         |SELECT decile, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN top_lang = lang THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_correct,
         |  min(margin) AS margin_min, max(margin) AS margin_max,
         |  CAST(sum(CASE WHEN top_lang = lang THEN 1 ELSE 0 END) AS BIGINT)
         |    * 1000000 // count(*) AS acc_ppm
         |FROM r GROUP BY 1""".stripMargin,
    // q238: textbook pair counting + metric arithmetic, both directions.
    "q238_basket_rules" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |               FROM lineitem),
        |ic AS (SELECT i, count(*) AS cnt FROM items GROUP BY 1),
        |tot AS (SELECT count(DISTINCT b) AS nb FROM items),
        |p AS (SELECT a.i AS x, c.i AS y, count(*) AS n_both
        |      FROM items a JOIN items c ON a.b = c.b AND a.i < c.i
        |      GROUP BY 1, 2 HAVING count(*) >= 3),
        |d AS (SELECT x AS antecedent, y AS consequent, n_both FROM p
        |      UNION ALL
        |      SELECT y, x, n_both FROM p)
        |SELECT antecedent, consequent, n_both,
        |  n_both * 1000000 // nb AS support_ppm,
        |  n_both * 1000000 // na.cnt AS confidence_ppm,
        |  CAST(n_both * nb * 1000000 // (na.cnt * nc.cnt) AS BIGINT)
        |    AS lift_ppm
        |FROM d JOIN ic na ON d.antecedent = na.i
        |       JOIN ic nc ON d.consequent = nc.i
        |       CROSS JOIN tot""".stripMargin,
    // q239: the id - row_number() islands trick over one global sort — the
    // bucketed stitch must find exactly the same interior gaps.
    "q239_id_gaps" ->
      s"""WITH $SrcCte,
         |ids AS (SELECT DISTINCT event_id AS id FROM src
         |        WHERE event_type = 'click'),
         |g AS (SELECT id, id - row_number() OVER (ORDER BY id) AS grp
         |      FROM ids),
         |i AS (SELECT min(id) AS lo, max(id) AS hi FROM g GROUP BY grp),
         |gaps AS (SELECT hi + 1 AS gap_start,
         |           lead(lo) OVER (ORDER BY lo) - 1 AS gap_end
         |         FROM i)
         |SELECT gap_start, gap_end, gap_end - gap_start + 1 AS gap_len
         |FROM gaps WHERE gap_end IS NOT NULL""".stripMargin,
    // q240: q99's as-of SELECT over a history built from ONLY the first
    // load's rows (transaction-time cut), valid-time cut at the full-feed
    // midpoint.
    "q240_bitemporal_point" ->
      s"""WITH src AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
         |               event_type, value, props FROM events
         |             WHERE event_id % 2 = 0),
         |b AS (SELECT epoch_us(min(CAST(ts AS TIMESTAMP))) AS lo,
         |             epoch_us(max(CAST(ts AS TIMESTAMP))) AS hi
         |      FROM events),
         |cut AS (SELECT make_timestamp(lo + (hi - lo) // 2) AS t FROM b),
         |hist AS (
         |  WITH ${scd2FullSql(AllCheck, deletes = false)}
         |)
         |SELECT event_id, ts, user_id, event_type, value, props,
         |  true AS _is_current, _valid_from, _valid_to, _change_type
         |FROM hist
         |WHERE _valid_from <= (SELECT t FROM cut)
         |  AND _valid_to > (SELECT t FROM cut)""".stripMargin,
    // q241: the textbook cumulative-weight window — the two-phase pivot
    // must select the identical lower weighted median.
    "q241_weighted_median" ->
      """WITH q AS (SELECT l_returnflag AS g,
        |             CAST(floor(l_extendedprice * 100) AS BIGINT) AS v,
        |             CAST(floor(l_quantity * 1000000) AS BIGINT) AS wt
        |           FROM lineitem),
        |w AS (SELECT g, v, CAST(sum(wt) AS BIGINT) AS vw
        |      FROM q GROUP BY 1, 2),
        |c AS (SELECT g, v, vw,
        |        CAST(sum(vw) OVER (PARTITION BY g ORDER BY v
        |             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |        CAST(sum(vw) OVER (PARTITION BY g) AS BIGINT) AS W
        |      FROM w)
        |SELECT g AS l_returnflag, v AS w_median, W AS total_weight
        |FROM c WHERE 2 * cum >= W AND 2 * (cum - vw) < W""".stripMargin,
    // q242: same field-wise survivorship with window-rank modal choice.
    "q242_golden_record" ->
      """WITH p AS (SELECT lower(p_name) AS cluster, p_partkey, p_brand,
        |             p_type, p_size,
        |             CAST(floor(p_retailprice * 100) AS BIGINT) AS cents
        |           FROM part),
        |base AS (SELECT cluster, min(p_partkey) AS survivor_id,
        |           count(*) AS n_members, max(p_size) AS max_size,
        |           max(cents) AS max_price_cents
        |         FROM p GROUP BY 1),
        |b1 AS (SELECT cluster, p_brand AS brand, row_number() OVER
        |         (PARTITION BY cluster
        |          ORDER BY count(*) DESC, p_brand ASC) AS rn
        |       FROM p GROUP BY cluster, p_brand),
        |t1 AS (SELECT cluster, p_type AS type_, row_number() OVER
        |         (PARTITION BY cluster
        |          ORDER BY count(*) DESC, p_type ASC) AS rn
        |       FROM p GROUP BY cluster, p_type)
        |SELECT base.cluster, survivor_id, n_members, max_size,
        |       max_price_cents, brand, type_
        |FROM base JOIN b1 ON base.cluster = b1.cluster AND b1.rn = 1
        |          JOIN t1 ON base.cluster = t1.cluster AND t1.rn = 1"""
        .stripMargin,
    // q243: identical symmetrized pair counts + per-item rank window.
    "q243_also_bought" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |               FROM lineitem),
        |p AS (SELECT a.i AS x, c.i AS y, count(*) AS n_co
        |      FROM items a JOIN items c ON a.b = c.b AND a.i < c.i
        |      GROUP BY 1, 2),
        |sym AS (SELECT x AS item, y AS partner, n_co FROM p
        |        UNION ALL SELECT y, x, n_co FROM p),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY item
        |        ORDER BY n_co DESC, partner ASC) AS INT) AS rank
        |      FROM sym)
        |SELECT item, partner, n_co, rank FROM r WHERE rank <= 3"""
        .stripMargin,
    // q244: plain rollup + left join.
    "q244_accumulating_snapshot" ->
      """WITH l AS (SELECT l_orderkey, count(*) AS n_lines,
        |             min(CAST(l_shipdate AS TIMESTAMP)) AS first_ship,
        |             max(CAST(l_shipdate AS TIMESTAMP)) AS last_ship,
        |             max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |               AS any_return
        |           FROM lineitem GROUP BY 1)
        |SELECT o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
        |  o_orderstatus,
        |  coalesce(n_lines, 0) AS n_lines, first_ship, last_ship,
        |  CAST(coalesce(any_return, 0) AS BIGINT) AS any_return,
        |  CAST(date_diff('day', CAST(o_orderdate AS TIMESTAMP), last_ship)
        |       AS BIGINT) AS fulfillment_days
        |FROM orders LEFT JOIN l ON o_orderkey = l_orderkey""".stripMargin,
    // q245: same integer CUSUM with a rank-window argmax.
    "q245_cusum_break" ->
      s"""WITH $SrcCte,
         |d AS (SELECT event_type, date_trunc('day', ts) AS day,
         |        CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
         |          AS t
         |      FROM src GROUP BY 1, 2),
         |c AS (SELECT event_type, day, t,
         |        row_number() OVER (PARTITION BY event_type ORDER BY day)
         |          AS k,
         |        CAST(sum(t) OVER (PARTITION BY event_type ORDER BY day
         |             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS C,
         |        count(*) OVER (PARTITION BY event_type) AS D,
         |        CAST(sum(t) OVER (PARTITION BY event_type) AS BIGINT) AS S
         |      FROM d),
         |v AS (SELECT event_type, day, abs(C * D - k * S) AS dev, D, S
         |      FROM c),
         |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
         |        ORDER BY dev DESC, day ASC) AS rn FROM v)
         |SELECT event_type, day AS break_day, dev AS max_dev,
         |  CAST(D AS BIGINT) AS n_days, S AS total_micro,
         |  CAST(dev * 1000000 // (S * D) AS BIGINT) AS dev_ppm
         |FROM r WHERE rn = 1""".stripMargin,
    // q246: q39's session derivation; first/last per session via rank
    // windows (equivalent to the struct min/max under unique (ts, id)).
    "q246_session_handoff" ->
      s"""WITH $SrcCte,
         |g AS (SELECT user_id, ts, event_id, event_type,
         |  CASE WHEN lag(ts) OVER w IS NULL
         |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
         |       THEN 1 ELSE 0 END AS brk
         |  FROM src WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         |se AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
         |                                ROWS UNBOUNDED PRECEDING) AS sess
         |       FROM g),
         |x AS (SELECT user_id, sess, event_type,
         |        row_number() OVER (PARTITION BY user_id, sess
         |                           ORDER BY ts, event_id) AS rf,
         |        row_number() OVER (PARTITION BY user_id, sess
         |                           ORDER BY ts DESC, event_id DESC) AS rl
         |      FROM se),
         |fst AS (SELECT user_id, sess, event_type AS first_type
         |        FROM x WHERE rf = 1),
         |lst AS (SELECT user_id, sess, event_type AS last_type
         |        FROM x WHERE rl = 1),
         |j AS (SELECT f.user_id, f.sess, first_type, last_type
         |      FROM fst f JOIN lst l
         |        ON f.user_id = l.user_id AND f.sess = l.sess),
         |h AS (SELECT last_type, lead(first_type) OVER
         |        (PARTITION BY user_id ORDER BY sess) AS to_type FROM j)
         |SELECT last_type AS from_type, to_type,
         |  count(*) AS n_handoffs
         |FROM h WHERE to_type IS NOT NULL GROUP BY 1, 2""".stripMargin,
    // q247: identical per-key running-max lateness under event_id arrival
    // order.
    "q247_watermark_advisor" ->
      s"""WITH $SrcCte,
         |l AS (SELECT event_type,
         |        CASE WHEN pm IS NOT NULL AND pm > um THEN pm - um
         |             ELSE 0 END AS late_us
         |      FROM (SELECT event_type, epoch_us(ts) AS um,
         |              max(epoch_us(ts)) OVER (PARTITION BY user_id
         |                ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING
         |                AND 1 PRECEDING) AS pm
         |            FROM src))
         |SELECT event_type, count(*) AS n_events,
         |  CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_late,
         |  max(late_us) AS max_late_us,
         |  CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    * 1000000 // count(*) AS late_ppm,
         |  CASE WHEN sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) > 0
         |       THEN CAST(sum(late_us) AS BIGINT)
         |            // CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END)
         |                    AS BIGINT)
         |       ELSE 0 END AS mean_late_us
         |FROM l GROUP BY 1""".stripMargin,
    // q248: identical bit-length bucketing (bin has no leading zeros in
    // either engine).
    "q248_log2_histogram" ->
      s"""WITH $SrcCte,
         |v AS (SELECT event_type,
         |        CAST(floor(value * 1000000) AS BIGINT) AS vm FROM src
         |      WHERE value IS NOT NULL)
         |SELECT event_type,
         |  CASE WHEN vm <= 0 THEN 0
         |       ELSE CAST(length(bin(vm)) AS INT) END AS bucket,
         |  count(*) AS n, min(vm) AS vm_min, max(vm) AS vm_max
         |FROM v GROUP BY 1, 2""".stripMargin,
    // q249: the naive all-triples count — apriori candidate pruning must
    // lose nothing (support monotonicity).
    "q249_frequent_triples" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |               FROM lineitem),
        |t AS (SELECT a.i AS x, c.i AS y, d.i AS z, count(*) AS n_baskets
        |      FROM items a
        |      JOIN items c ON a.b = c.b AND a.i < c.i
        |      JOIN items d ON c.b = d.b AND c.i < d.i
        |      GROUP BY 1, 2, 3)
        |SELECT x, y, z, n_baskets FROM t WHERE n_baskets >= 2"""
        .stripMargin,
    // q250: q220's assignment machinery on the base slice's centroids,
    // counted per origin batch.
    "q250_index_delta_plan" ->
      s"""WITH cents AS (SELECT vec_id AS centroid_id, embedding AS mv
         |  FROM embeddings WHERE vec_id % 5 <> 0 ORDER BY vec_id LIMIT 16),
         |asg0 AS (SELECT e.vec_id AS id, e.vec_id % 5 = 0 AS is_new,
         |    c.centroid_id, ${cosSql("e.embedding", "c.mv")} AS s
         |  FROM embeddings e CROSS JOIN cents c),
         |asg AS (SELECT id, is_new, centroid_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY id
         |      ORDER BY s DESC, centroid_id) AS rn
         |    FROM asg0) WHERE rn = 1),
         |b AS (SELECT centroid_id, count(*) AS n_base FROM asg
         |      WHERE NOT is_new GROUP BY 1),
         |n AS (SELECT centroid_id, count(*) AS n_new FROM asg
         |      WHERE is_new GROUP BY 1)
         |SELECT c.centroid_id, coalesce(n_base, 0) AS n_base,
         |  coalesce(n_new, 0) AS n_new,
         |  CASE WHEN coalesce(n_base, 0) + coalesce(n_new, 0) > 0
         |    THEN coalesce(n_new, 0) * 1000000
         |         // (coalesce(n_base, 0) + coalesce(n_new, 0))
         |    ELSE 0 END AS new_ppm,
         |  CASE WHEN coalesce(n_base, 0) + coalesce(n_new, 0) > 0
         |    THEN coalesce(n_new, 0) * 1000000
         |         // (coalesce(n_base, 0) + coalesce(n_new, 0))
         |    ELSE 0 END > 200000 AS rebuild
         |FROM cents c
         |  LEFT JOIN b ON c.centroid_id = b.centroid_id
         |  LEFT JOIN n ON c.centroid_id = n.centroid_id""".stripMargin,
    // q251: identical md5 arm assignment + tier stratification + the
    // tier-sized uplift self-join.
    "q251_ab_uplift" ->
      s"""WITH $SrcCte,
         |u AS (SELECT user_id, count(*) AS n,
         |        max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |          AS conv
         |      FROM src GROUP BY 1),
         |t AS (SELECT user_id, conv,
         |        CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)),
         |               1, 8))::UBIGINT % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
         |        (row_number() OVER (ORDER BY n, user_id) - 1) * 3
         |          // count(*) OVER () + 1 AS tier
         |      FROM u),
         |c AS (SELECT tier, arm, count(*) AS n_users,
         |        CAST(sum(conv) AS BIGINT) AS n_converted,
         |        CAST(sum(conv) AS BIGINT) * 1000000 // count(*) AS conv_ppm
         |      FROM t GROUP BY 1, 2)
         |SELECT a.tier, a.arm, a.n_users, a.n_converted, a.conv_ppm,
         |  CASE WHEN a.arm = 'A' THEN a.conv_ppm - o.conv_ppm END
         |    AS uplift_ppm
         |FROM c a JOIN c o ON a.tier = o.tier AND a.arm <> o.arm"""
        .stripMargin,
    // q252: the same 40/20/40 largest-remainder split in SQL windows; the
    // per-channel totals must agree credit for credit.
    "q252_position_attribution" ->
      s"""WITH $SrcCte,
         |g AS (SELECT user_id, ts, event_id, event_type,
         |        coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1
         |                          ELSE 0 END) OVER (PARTITION BY user_id
         |          ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING
         |          AND 1 PRECEDING), 0) AS grp
         |      FROM src),
         |tch AS (SELECT user_id, grp, event_type,
         |          row_number() OVER (PARTITION BY user_id, grp
         |                             ORDER BY ts, event_id) AS rn,
         |          count(*) OVER (PARTITION BY user_id, grp) AS n
         |        FROM g WHERE event_type <> 'purchase'),
         |convs AS (SELECT DISTINCT user_id, grp FROM g
         |          WHERE event_type = 'purchase'),
         |cr AS (SELECT t.event_type AS channel,
         |         CASE WHEN n = 1 THEN 1000000
         |              WHEN n = 2 THEN 500000
         |              WHEN rn = 1 OR rn = n THEN 400000
         |              ELSE 200000 // (n - 2)
         |                + CASE WHEN rn - 1 <= 200000 % (n - 2)
         |                       THEN 1 ELSE 0 END END AS credit_ppm
         |       FROM tch t JOIN convs c
         |         ON t.user_id = c.user_id AND t.grp = c.grp),
         |direct AS (SELECT 'direct' AS channel, 1000000 AS credit_ppm
         |           FROM convs c
         |           WHERE NOT EXISTS (SELECT 1 FROM tch t
         |             WHERE t.user_id = c.user_id AND t.grp = c.grp)),
         |allc AS (SELECT * FROM cr UNION ALL SELECT * FROM direct)
         |SELECT channel, count(*) AS n_credits,
         |  CAST(sum(credit_ppm) AS BIGINT) AS credit_ppm
         |FROM allc GROUP BY 1""".stripMargin,
    // q253: plain row_number deciles + window cumulative capture.
    "q253_lift_curve" ->
      s"""WITH $SrcCte,
         |u AS (SELECT user_id, count(*) AS score,
         |        max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |          AS conv
         |      FROM src GROUP BY 1),
         |d AS (SELECT *, (row_number() OVER (ORDER BY score, user_id) - 1)
         |        * 10 // count(*) OVER () + 1 AS decile FROM u),
         |c AS (SELECT decile, count(*) AS n_users,
         |        CAST(sum(conv) AS BIGINT) AS n_conv,
         |        CAST(sum(conv) AS BIGINT) * 1000000 // count(*) AS conv_ppm
         |      FROM d GROUP BY 1),
         |t AS (SELECT CAST(sum(n_conv) AS BIGINT) AS tc,
         |             CAST(sum(n_users) AS BIGINT) AS tu FROM c)
         |SELECT decile, n_users, n_conv, conv_ppm,
         |  CAST(sum(n_conv) OVER (ORDER BY decile DESC
         |       ROWS UNBOUNDED PRECEDING) * 1000000 // tc AS BIGINT)
         |    AS cum_capture_ppm,
         |  conv_ppm * 1000000 // (tc * 1000000 // tu) AS lift_ppm
         |FROM c, t""".stripMargin,
    // q254: identical integer cross-product bounds.
    "q254_price_integrity" ->
      """WITH j AS (SELECT l_partkey,
        |             CAST(floor(l_extendedprice * 100) AS BIGINT) AS ec,
        |             CAST(floor(l_quantity * 1000000) AS BIGINT) AS qm,
        |             CAST(floor(p_retailprice * 100) AS BIGINT) AS rc
        |           FROM lineitem JOIN part ON l_partkey = p_partkey),
        |a AS (SELECT l_partkey, count(*) AS n_lines,
        |        CAST(sum(CASE WHEN ec * 1000000 * 10 > rc * qm * 11
        |                 THEN 1 ELSE 0 END) AS BIGINT) AS n_over,
        |        CAST(sum(CASE WHEN ec * 1000000 * 10 < rc * qm * 9
        |                 THEN 1 ELSE 0 END) AS BIGINT) AS n_under
        |      FROM j GROUP BY 1)
        |SELECT l_partkey, n_lines, n_over, n_under,
        |  (n_over + n_under) * 1000000 // n_lines AS anomaly_ppm
        |FROM a WHERE n_over + n_under > 0""".stripMargin,
    // q255: q22's exact ranking machinery + the same argmax vote.
    "q255_knn_accuracy" ->
      s"""WITH q AS (SELECT vec_id, embedding FROM embeddings
         |           WHERE vec_id % 5 = 1),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${cosSql("q.embedding", "c.embedding")} AS cosine
         |  FROM embeddings c JOIN q ON q.vec_id <> c.vec_id
         |  WHERE c.vec_id % 5 <> 1),
         |ranked AS (SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
         |  FROM scored),
         |nn AS (SELECT query_id, neighbor_id FROM ranked WHERE rk <= 5),
         |v AS (SELECT n.query_id, e.label AS nl, count(*) AS cnt
         |      FROM nn n JOIN embeddings e ON n.neighbor_id = e.vec_id
         |      GROUP BY 1, 2),
         |p AS (SELECT query_id, nl AS predicted, row_number() OVER (
         |        PARTITION BY query_id ORDER BY cnt DESC, nl ASC) AS rn
         |      FROM v)
         |SELECT e.label, count(*) AS n_queries,
         |  CAST(sum(CASE WHEN p.predicted = e.label THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_correct,
         |  CAST(sum(CASE WHEN p.predicted = e.label THEN 1 ELSE 0 END)
         |       AS BIGINT) * 1000000 // count(*) AS acc_ppm
         |FROM p JOIN embeddings e ON p.query_id = e.vec_id
         |WHERE p.rn = 1 GROUP BY 1""".stripMargin,
    // q256: q18's verified pair list fed through q224's triangle SQL.
    "q256_dupgraph_closure" ->
      s"""WITH $MinhashPairsCtes,
         |verified AS (
         |  SELECT doc_a, doc_b FROM pairs
         |    JOIN sizes x ON x.doc_id = doc_a
         |    JOIN sizes y ON y.doc_id = doc_b
         |  WHERE overlap * 2 >= (x.n + y.n - overlap) * 1),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM verified),
         |deg AS (SELECT n, count(*) AS d FROM (
         |          SELECT src AS n FROM e UNION ALL SELECT dst FROM e)
         |        GROUP BY 1),
         |o AS (SELECT CASE WHEN (ds.d, e.src) < (dd.d, e.dst)
         |               THEN e.src ELSE e.dst END AS u,
         |             CASE WHEN (ds.d, e.src) < (dd.d, e.dst)
         |               THEN e.dst ELSE e.src END AS v
         |      FROM e JOIN deg ds ON e.src = ds.n
         |             JOIN deg dd ON e.dst = dd.n),
         |tri AS (SELECT count(*) AS n_triangles
         |        FROM o e1 JOIN o e2 ON e1.v = e2.u
         |                  JOIN o e3 ON e1.u = e3.u AND e2.v = e3.v),
         |base AS (SELECT count(*) AS n_nodes,
         |           CAST(sum(d) // 2 AS BIGINT) AS n_edges,
         |           CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges
         |         FROM deg)
         |SELECT n_nodes, n_edges, n_wedges, n_triangles,
         |  CASE WHEN n_wedges > 0
         |    THEN n_triangles * 3 * 1000000 // n_wedges ELSE 0 END
         |    AS closure_ppm
         |FROM base, tri""".stripMargin,
    // q257: identical sparsity mask + ignoreNulls-last windows.
    "q257_sparse_coalesce" ->
      s"""WITH $SrcCte,
         |sp AS (SELECT user_id, ts, event_id,
         |         CASE WHEN event_id % 3 <> 0 THEN value END AS value,
         |         CASE WHEN event_id % 3 <> 1 THEN props END AS props
         |       FROM src),
         |f AS (SELECT user_id, ts,
         |        last_value(value IGNORE NULLS) OVER wv AS lv,
         |        last_value(props IGNORE NULLS) OVER wv AS lp,
         |        row_number() OVER (PARTITION BY user_id
         |          ORDER BY ts DESC, event_id DESC) AS rn
         |      FROM sp
         |      WINDOW wv AS (PARTITION BY user_id ORDER BY ts, event_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT user_id, ts AS last_ts, lv AS value, lp AS props
         |FROM f WHERE rn = 1""".stripMargin,
    // q258: identical stepwise deadline windows.
    "q258_constrained_funnel" ->
      s"""WITH $SrcCte,
         |a AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS um,
         |        last_value(CASE WHEN event_type = 'view'
         |                        THEN epoch_us(ts) END IGNORE NULLS)
         |          OVER wp AS lv
         |      FROM src
         |      WINDOW wp AS (PARTITION BY user_id ORDER BY ts, event_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         |b AS (SELECT *,
         |        event_type = 'click' AND lv IS NOT NULL
         |          AND um - lv <= 3600000000 AS qc
         |      FROM a),
         |c AS (SELECT *,
         |        last_value(CASE WHEN qc THEN um END IGNORE NULLS) OVER
         |          (PARTITION BY user_id ORDER BY um, event_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lqc
         |      FROM b)
         |SELECT
         |  count(DISTINCT CASE WHEN event_type = 'view' THEN user_id END)
         |    AS n_viewers,
         |  count(DISTINCT CASE WHEN qc THEN user_id END)
         |    AS n_qualified_clickers,
         |  count(DISTINCT CASE WHEN event_type = 'purchase' AND lqc IS NOT
         |    NULL AND um - lqc <= 86400000000 THEN user_id END)
         |    AS n_converted
         |FROM c""".stripMargin,
    // q259: the same seek predicate and order, LIMIT 100.
    "q259_keyset_page" ->
      """SELECT o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
        |  CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents
        |FROM orders
        |WHERE (CAST(o_orderdate AS TIMESTAMP), o_orderkey)
        |        > (TIMESTAMP '1998-01-01', 5000)
        |ORDER BY o_orderdate, o_orderkey LIMIT 100""".stripMargin,
    // q260: same confusion-matrix arithmetic from q177's vote SQL.
    "q260_classifier_kappa" ->
      s"""WITH h AS (SELECT doc_id, lang,
         |${TextAnalysis.Stopwords.keys.map(l =>
            s"  len(list_filter(t, x -> list_contains(${sqlList(TextAnalysis.Stopwords(l))}, x))) AS $l").mkString(",\n")}
         |FROM (SELECT doc_id, text, lang,
         |        regexp_split_to_array(lower(trim(text)), '\\s+') AS t
         |      FROM documents)),
         |m AS (SELECT doc_id, lang, en, es, fr, de,
         |        greatest(en, es, fr, de) AS mx FROM h),
         |p AS (SELECT lang,
         |  CASE WHEN fr = mx THEN 'fr' WHEN es = mx THEN 'es'
         |       WHEN en = mx THEN 'en' ELSE 'de' END AS pred FROM m),
         |cm AS (SELECT lang, pred, count(*) AS n FROM p GROUP BY 1, 2),
         |nn AS (SELECT CAST(sum(n) AS BIGINT) AS N FROM cm),
         |ag AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS A FROM cm
         |       WHERE lang = pred),
         |rw AS (SELECT lang AS k, CAST(sum(n) AS BIGINT) AS r
         |       FROM cm GROUP BY 1),
         |cl AS (SELECT pred AS k, CAST(sum(n) AS BIGINT) AS c
         |       FROM cm GROUP BY 1),
         |e AS (SELECT CAST(sum(coalesce(r, 0) * coalesce(c, 0)) AS BIGINT)
         |        AS E
         |      FROM rw FULL OUTER JOIN cl ON rw.k = cl.k)
         |SELECT N, A, E,
         |  A * 1000000 // N AS po_ppm,
         |  CAST(E * 1000000 // (N * N) AS BIGINT) AS pe_ppm,
         |  CAST((A * N - E) * 1000000 // (N * N - E) AS BIGINT)
         |    AS kappa_ppm
         |FROM nn, ag, e""".stripMargin,
    // q261: the same rollup off the original table — a partitioned
    // write/read round-trip must lose and invent nothing.
    "q261_partitioned_prune" ->
      s"""WITH $SrcCte
         |SELECT date_trunc('day', ts) AS day, count(*) AS n,
         |  CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
         |    AS vm_sum
         |FROM src WHERE event_type = 'purchase' GROUP BY 1""".stripMargin,
    // q262: the same calendar prefix sum in SQL.
    "q262_business_days" ->
      """WITH ls AS (SELECT l_orderkey,
        |              max(CAST(l_shipdate AS TIMESTAMP)) AS ship
        |            FROM lineitem GROUP BY 1),
        |o AS (SELECT o_orderkey,
        |        date_trunc('month', CAST(o_orderdate AS TIMESTAMP))
        |          AS order_month,
        |        CAST(o_orderdate AS TIMESTAMP) AS od, ship AS sd
        |      FROM orders JOIN ls ON o_orderkey = l_orderkey
        |      WHERE ship >= CAST(o_orderdate AS TIMESTAMP)),
        |b AS (SELECT min(od) AS lo, max(sd) AS hi FROM o),
        |sp AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d
        |       FROM b),
        |cs AS (SELECT d, CAST(sum(CASE WHEN isodow(d) < 6 THEN 1 ELSE 0
        |         END) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |         AS cum_bd
        |       FROM sp),
        |j AS (SELECT o.order_month,
        |        s2.cum_bd - s1.cum_bd AS bd
        |      FROM o JOIN cs s1 ON o.od = s1.d
        |             JOIN cs s2 ON o.sd = s2.d)
        |SELECT order_month, count(*) AS n_orders,
        |  CAST(sum(bd) AS BIGINT) AS total_busdays,
        |  max(bd) AS max_busdays,
        |  CAST(sum(bd) AS BIGINT) * 100 // count(*) AS mean_busdays_x100
        |FROM j GROUP BY 1""".stripMargin,
    // q263: textbook distinct-pair self-join with set-size arithmetic.
    "q263_audience_overlap" ->
      s"""WITH $SrcCte,
         |tu AS (SELECT DISTINCT event_type AS t, user_id FROM src),
         |sz AS (SELECT t, count(*) AS n FROM tu GROUP BY 1),
         |p AS (SELECT a.t AS type_a, b.t AS type_b, count(*) AS n_both
         |      FROM tu a JOIN tu b
         |        ON a.user_id = b.user_id AND a.t < b.t
         |      GROUP BY 1, 2)
         |SELECT type_a, type_b, n_both, sa.n AS n_a, sb.n AS n_b,
         |  n_both * 1000000 // (sa.n + sb.n - n_both) AS jaccard_ppm,
         |  n_both * 1000000 // least(sa.n, sb.n) AS overlap_ppm
         |FROM p JOIN sz sa ON p.type_a = sa.t
         |       JOIN sz sb ON p.type_b = sb.t""".stripMargin,
    // q264: q224's degree SQL + q201's integer-sufficient-statistics OLS.
    "q264_degree_distribution" ->
      """WITH gi AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
        |            FROM lineitem),
        |e AS (SELECT DISTINCT l.i AS src, r.i AS dst
        |      FROM gi l JOIN gi r ON l.g = r.g AND l.i < r.i),
        |deg AS (SELECT n, count(*) AS d FROM (
        |          SELECT src AS n FROM e UNION ALL SELECT dst FROM e)
        |        GROUP BY 1),
        |dist AS (SELECT CAST(length(bin(d)) AS INT) AS deg_tier,
        |           count(*) AS n_nodes
        |         FROM deg GROUP BY 1),
        |pts AS (SELECT CAST(deg_tier AS BIGINT) AS x,
        |          CAST(length(bin(n_nodes)) AS BIGINT) AS y FROM dist),
        |st AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
        |       FROM pts),
        |k AS (SELECT n, n * sxx - sx * sx AS dx, n * syy - sy * sy AS dy,
        |        n * sxy - sx * sy AS cov FROM st),
        |f AS (SELECT
        |  CASE WHEN dx <> 0
        |    THEN round(CAST(cov AS DOUBLE) / CAST(dx AS DOUBLE), 6) END
        |    AS loglog_slope,
        |  CASE WHEN dx <> 0 AND dy <> 0
        |    THEN round(CAST(cov * cov AS DOUBLE)
        |               / CAST(dx * dy AS DOUBLE), 6) END AS r2
        |  FROM k)
        |SELECT deg_tier, n_nodes, loglog_slope, r2 FROM dist, f"""
        .stripMargin,
    // q265: plain per-source row_number ranks.
    "q265_rank_normalize" ->
      """WITH r AS (SELECT doc_id, source, n_chars,
        |             row_number() OVER (PARTITION BY source
        |               ORDER BY n_chars, doc_id) AS rn,
        |             count(*) OVER (PARTITION BY source) AS n
        |           FROM documents)
        |SELECT doc_id, source, n_chars,
        |  CASE WHEN n > 1 THEN (rn - 1) * 1000000 // (n - 1)
        |       ELSE 0 END AS rank_ppm
        |FROM r""".stripMargin,
    // q266: the straightforward full-outer diff over ALL rows — the
    // bucket-restricted two-stage plan must find exactly the same
    // differences (checksums never miss a changed bucket).
    "q266_row_diff_detail" ->
      """WITH v1 AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |              CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |            FROM orders),
        |v2 AS (SELECT o_orderkey, o_custkey,
        |         CASE WHEN o_orderkey % 101 = 0 THEN 'X'
        |              ELSE o_orderstatus END AS o_orderstatus, cents
        |       FROM v1 WHERE o_orderkey % 97 <> 0
        |       UNION ALL
        |       SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, cents
        |       FROM v1 WHERE o_orderkey % 103 = 0),
        |d AS (SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
        |        CASE WHEN a.o_orderkey IS NULL THEN 'I'
        |             WHEN b.o_orderkey IS NULL THEN 'D'
        |             WHEN a.o_orderstatus IS DISTINCT FROM b.o_orderstatus
        |               OR a.cents IS DISTINCT FROM b.cents THEN 'U' END
        |          AS status,
        |        a.o_orderstatus AS st1, b.o_orderstatus AS st2,
        |        a.cents AS c1, b.cents AS c2
        |      FROM v1 a FULL OUTER JOIN v2 b
        |        ON a.o_orderkey = b.o_orderkey)
        |SELECT o_orderkey, status,
        |  CASE WHEN status = 'U' THEN array_to_string(list_sort(
        |    list_filter([CASE WHEN st1 IS DISTINCT FROM st2
        |                   THEN 'o_orderstatus' END,
        |                 CASE WHEN c1 IS DISTINCT FROM c2
        |                   THEN 'cents' END], x -> x IS NOT NULL)), ',')
        |  ELSE '' END AS changed_cols
        |FROM d WHERE status IS NOT NULL""".stripMargin,
    // q267: identical array-expression audits.
    "q267_vector_hygiene" ->
      """SELECT count(*) AS n_vecs,
        |  count(DISTINCT len(embedding)) AS n_dim_arities,
        |  CAST(min(len(embedding)) AS INT) AS min_dims,
        |  CAST(max(len(embedding)) AS INT) AS max_dims,
        |  CAST(sum(CASE WHEN len(list_filter(embedding,
        |    x -> x IS NULL OR x <> CAST(0.0 AS FLOAT))) = 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_vecs,
        |  CAST(sum(CASE WHEN len(list_filter(embedding,
        |    x -> isnan(x) OR x IS NULL)) > 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_bad_component_vecs,
        |  count(*) - count(DISTINCT vec_id) AS n_dup_ids
        |FROM embeddings""".stripMargin,
    // q268: identical md5 fold assignment + uniform-expectation ppm.
    "q268_fold_balance" ->
      """WITH f AS (SELECT label,
        |             CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)),
        |               1, 8))::UBIGINT % 5 AS INT) AS fold
        |           FROM embeddings),
        |c AS (SELECT fold, label, count(*) AS n FROM f GROUP BY 1, 2),
        |t AS (SELECT label, CAST(sum(n) AS BIGINT) AS ct FROM c GROUP BY 1)
        |SELECT c.fold, c.label, c.n, t.ct AS class_n,
        |  CAST(abs(c.n * 5 * 1000000 // t.ct - 1000000) AS BIGINT)
        |    AS dev_ppm
        |FROM c JOIN t ON c.label = t.label""".stripMargin,
    // q269: identical positional joins in SQL (token positions are
    // 0-based in both engines' posexplode/list order).
    "q269_skipgrams" ->
      s"""WITH $ToksCte,
         |pos AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS p, t[i] AS w
         |        FROM toks, unnest(generate_series(1, len(t))) AS u(i)
         |        WHERE length(t[i]) > 0),
         |pr AS (SELECT c.w AS center, x.w AS ctx
         |       FROM pos c JOIN pos x
         |         ON c.doc_id = x.doc_id AND x.p - c.p IN (1, 2)),
         |sym AS (SELECT center, ctx FROM pr
         |        UNION ALL SELECT ctx, center FROM pr)
         |SELECT center, ctx, count(*) AS n_pairs
         |FROM sym GROUP BY 1, 2
         |ORDER BY n_pairs DESC, center ASC, ctx ASC LIMIT 50""".stripMargin,
    // q270: q264's tier + OLS machinery over the vocabulary.
    "q270_token_zipf" ->
      s"""WITH $ToksCte,
         |w0 AS (SELECT unnest(t) AS w FROM toks),
         |v AS (SELECT w, count(*) AS f FROM w0 WHERE length(w) > 0
         |      GROUP BY 1),
         |dist AS (SELECT CAST(length(bin(f)) AS INT) AS freq_tier,
         |           count(*) AS n_terms FROM v GROUP BY 1),
         |pts AS (SELECT CAST(freq_tier AS BIGINT) AS x,
         |          CAST(length(bin(n_terms)) AS BIGINT) AS y FROM dist),
         |st AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         |         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
         |       FROM pts),
         |kk AS (SELECT n, n * sxx - sx * sx AS dx, n * syy - sy * sy AS dy,
         |         n * sxy - sx * sy AS cov FROM st),
         |f AS (SELECT
         |  CASE WHEN dx <> 0
         |    THEN round(CAST(cov AS DOUBLE) / CAST(dx AS DOUBLE), 6) END
         |    AS loglog_slope,
         |  CASE WHEN dx <> 0 AND dy <> 0
         |    THEN round(CAST(cov * cov AS DOUBLE)
         |               / CAST(dx * dy AS DOUBLE), 6) END AS r2
         |  FROM kk)
         |SELECT freq_tier, n_terms, loglog_slope, r2 FROM dist, f"""
        .stripMargin,
    // q271: the same two-month rollup + share arithmetic.
    "q271_revenue_bridge" ->
      """WITH o AS (SELECT c_mktsegment,
        |             date_trunc('month', CAST(o_orderdate AS TIMESTAMP))
        |               AS m,
        |             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |           FROM orders JOIN customer ON o_custkey = c_custkey
        |           WHERE date_trunc('month', CAST(o_orderdate AS TIMESTAMP))
        |             IN (TIMESTAMP '2001-06-01', TIMESTAMP '2001-07-01')),
        |s AS (SELECT c_mktsegment,
        |        CAST(sum(CASE WHEN m = TIMESTAMP '2001-06-01'
        |                 THEN cents ELSE 0 END) AS BIGINT) AS rev1_cents,
        |        CAST(sum(CASE WHEN m = TIMESTAMP '2001-07-01'
        |                 THEN cents ELSE 0 END) AS BIGINT) AS rev2_cents
        |      FROM o GROUP BY 1),
        |d AS (SELECT *, rev2_cents - rev1_cents AS delta_cents FROM s),
        |t AS (SELECT CAST(sum(delta_cents) AS BIGINT) AS td FROM d)
        |SELECT c_mktsegment, rev1_cents, rev2_cents, delta_cents,
        |  CASE WHEN td <> 0 THEN
        |    (CASE WHEN (delta_cents < 0) <> (td < 0) THEN -1 ELSE 1 END)
        |    * CAST(abs(delta_cents) * 1000000 // abs(td) AS BIGINT)
        |  END AS share_ppm
        |FROM d, t""".stripMargin,
    // q272: q258's window logic per sweep point (cross join the window
    // list, identical per-(user, window) windows).
    "q272_window_sweep" ->
      s"""WITH $SrcCte,
         |wl AS (SELECT CAST(unnest([900, 3600, 14400]) AS BIGINT)
         |         AS win_s),
         |x AS (SELECT s.*, wl.win_s, epoch_us(ts) AS um
         |      FROM src s CROSS JOIN wl),
         |a AS (SELECT *,
         |        last_value(CASE WHEN event_type = 'view' THEN um END
         |          IGNORE NULLS) OVER wp AS lv
         |      FROM x
         |      WINDOW wp AS (PARTITION BY user_id, win_s
         |        ORDER BY ts, event_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         |b AS (SELECT *, event_type = 'click' AND lv IS NOT NULL
         |        AND um - lv <= win_s * 1000000 AS qc FROM a),
         |c AS (SELECT *,
         |        last_value(CASE WHEN qc THEN um END IGNORE NULLS) OVER
         |          (PARTITION BY user_id, win_s ORDER BY ts, event_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lqc
         |      FROM b)
         |SELECT CAST(win_s AS BIGINT) AS win_s,
         |  count(DISTINCT CASE WHEN qc THEN user_id END)
         |    AS n_qualified_clickers,
         |  count(DISTINCT CASE WHEN event_type = 'purchase' AND lqc IS NOT
         |    NULL AND um - lqc <= 86400000000 THEN user_id END)
         |    AS n_converted
         |FROM c GROUP BY 1""".stripMargin,
    // q273: the same two-level share windows over the tiny geo rollup.
    "q273_geo_shares" ->
      """WITH r AS (SELECT r_name, n_name,
        |             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
        |                  AS BIGINT) AS rev_cents
        |           FROM orders
        |             JOIN customer ON o_custkey = c_custkey
        |             JOIN nation ON c_nationkey = n_nationkey
        |             JOIN region ON n_regionkey = r_regionkey
        |           GROUP BY 1, 2)
        |SELECT r_name, n_name, rev_cents,
        |  CAST(sum(rev_cents) OVER (PARTITION BY r_name) AS BIGINT)
        |    AS region_cents,
        |  CAST(sum(rev_cents) OVER () AS BIGINT) AS total_cents,
        |  rev_cents * 1000000
        |    // CAST(sum(rev_cents) OVER (PARTITION BY r_name) AS BIGINT)
        |    AS nation_in_region_ppm,
        |  CAST(sum(rev_cents) OVER (PARTITION BY r_name) AS BIGINT)
        |    * 1000000 // CAST(sum(rev_cents) OVER () AS BIGINT)
        |    AS region_of_total_ppm
        |FROM r""".stripMargin,
    // q274: identical per-dimension integer-micro rollup (list positions
    // are 0-based via i-1).
    "q274_dimension_profile" ->
      """WITH x AS (SELECT CAST(i - 1 AS INT) AS dim,
        |             CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000)
        |                  AS BIGINT) AS xm
        |           FROM embeddings,
        |             unnest(generate_series(1, len(embedding))) AS u(i))
        |SELECT dim, count(*) AS n,
        |  min(xm) AS min_micro, max(xm) AS max_micro,
        |  CAST(sum(xm) AS BIGINT) AS sum_micro,
        |  CAST(sum(CASE WHEN xm = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_zero,
        |  (CASE WHEN sum(xm) < 0 THEN -1 ELSE 1 END)
        |    * CAST(abs(CAST(sum(xm) AS BIGINT)) // count(*) AS BIGINT)
        |    AS mean_micro_trunc
        |FROM x GROUP BY 1""".stripMargin,
    // q275: identical last-op netting against the pre-existing key set.
    "q275_cdc_minimize" ->
      s"""WITH $SrcCte,
         |pre AS (SELECT DISTINCT user_id FROM src WHERE event_id % 3 = 0),
         |ops AS (SELECT user_id, ts, event_id, value,
         |          CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END
         |            AS op
         |        FROM src WHERE event_id % 3 <> 0),
         |lastop AS (SELECT user_id, op AS last_op, value AS last_value,
         |             n_ops FROM (
         |           SELECT user_id, op, value,
         |             row_number() OVER (PARTITION BY user_id
         |               ORDER BY ts DESC, event_id DESC) AS rn,
         |             count(*) OVER (PARTITION BY user_id) AS n_ops
         |           FROM ops) WHERE rn = 1),
         |net AS (SELECT l.user_id, n_ops, last_value,
         |          CASE WHEN p.user_id IS NULL AND last_op = 'D' THEN NULL
         |               WHEN p.user_id IS NULL THEN 'I'
         |               WHEN last_op = 'D' THEN 'D'
         |               ELSE 'U' END AS net_op
         |        FROM lastop l LEFT JOIN pre p ON l.user_id = p.user_id)
         |SELECT user_id, net_op, n_ops,
         |  CASE WHEN net_op <> 'D' THEN last_value END AS last_value
         |FROM net WHERE net_op IS NOT NULL""".stripMargin,
    // q276: textbook cumulative-weight ladder per percent.
    "q276_weighted_quartiles" ->
      """WITH q0 AS (SELECT l_returnflag AS g,
        |              CAST(floor(l_extendedprice * 100) AS BIGINT) AS v,
        |              CAST(floor(l_quantity * 1000000) AS BIGINT) AS wt
        |            FROM lineitem),
        |w AS (SELECT g, v, CAST(sum(wt) AS BIGINT) AS vw
        |      FROM q0 GROUP BY 1, 2),
        |c AS (SELECT g, v, vw,
        |        CAST(sum(vw) OVER (PARTITION BY g ORDER BY v
        |             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |        CAST(sum(vw) OVER (PARTITION BY g) AS BIGINT) AS W
        |      FROM w),
        |p AS (SELECT unnest([25, 50, 75, 90]) AS q)
        |SELECT g AS l_returnflag, q, v AS q_value, W AS total_weight
        |FROM c CROSS JOIN p
        |WHERE cum * 100 >= q * W AND (cum - vw) * 100 < q * W"""
        .stripMargin,
    // q277: plain two-level rollup.
    "q277_rate_violations" ->
      s"""WITH $SrcCte,
         |m AS (SELECT user_id, date_trunc('hour', ts) AS hour,
         |        count(*) AS n FROM src GROUP BY 1, 2)
         |SELECT user_id, count(*) AS n_violating_hours,
         |  max(n) AS worst_burst,
         |  CAST(sum(n) AS BIGINT) AS events_in_violations
         |FROM m WHERE n > 1 GROUP BY 1""".stripMargin,
    // q278: identical bridge mapping + merge-gain arithmetic.
    "q278_id_bridge" ->
      s"""WITH $SrcCte,
         |b AS (SELECT DISTINCT user_id,
         |        CASE WHEN user_id % 7 = 3 THEN user_id - 1
         |             ELSE user_id END AS canonical_id
         |      FROM src),
         |ps AS (SELECT b.canonical_id, s.user_id, count(*) AS n
         |       FROM src s JOIN b ON s.user_id = b.user_id
         |       GROUP BY 1, 2),
         |m AS (SELECT canonical_id,
         |        count(DISTINCT user_id) AS n_source_ids,
         |        CAST(sum(n) AS BIGINT) AS merged_events,
         |        max(n) AS largest_source_events
         |      FROM ps GROUP BY 1)
         |SELECT canonical_id, n_source_ids, merged_events,
         |  largest_source_events,
         |  (merged_events - largest_source_events) * 1000000
         |    // largest_source_events AS gain_ppm
         |FROM m WHERE n_source_ids >= 2""".stripMargin,
    // q279: q227's single-window stats + identical byte formulas.
    "q279_storage_model" -> {
      def side(c: String) =
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
           |  count(DISTINCT $c) + max(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)
           |    AS ndv,
           |  CAST(sum(CASE WHEN rn = 1 OR v IS DISTINCT FROM pv
           |      THEN 1 ELSE 0 END) AS BIGINT) AS n_runs,
           |  CAST(coalesce(sum(length(v)), 0) AS BIGINT) AS raw_bytes
           |FROM (SELECT $c, CAST($c AS VARCHAR) AS v,
           |        row_number() OVER (ORDER BY event_id) AS rn,
           |        lag(CAST($c AS VARCHAR)) OVER (ORDER BY event_id) AS pv
           |      FROM src)""".stripMargin
      val cols = Seq("event_type", "user_id", "value", "props")
      s"""WITH $SrcCte,
         |u AS (${cols.map(side).mkString("\nUNION ALL\n")}),
         |e AS (SELECT *, raw_bytes // n_rows AS avg_val_bytes,
         |        CASE WHEN ndv <= 1 THEN 1
         |             ELSE length(bin(ndv - 1)) END AS dict_bits,
         |        CASE WHEN n_runs * 1000000 // n_rows <= 200000 THEN 'RLE'
         |             WHEN ndv * 1000000 // n_rows <= 100000 THEN 'DICT'
         |             ELSE 'PLAIN' END AS suggestion
         |      FROM u)
         |SELECT "column", n_rows, ndv, n_runs, raw_bytes,
         |  n_runs * (avg_val_bytes + 8) AS est_rle_bytes,
         |  ndv * avg_val_bytes + n_rows * dict_bits // 8 AS est_dict_bytes,
         |  suggestion
         |FROM e""".stripMargin
    },
    // q280: same session×type first-occurrence self-join.
    "q280_seq_patterns" ->
      s"""WITH $SrcCte,
         |g AS (SELECT user_id, ts, event_id, event_type,
         |  CASE WHEN lag(ts) OVER w IS NULL
         |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
         |       THEN 1 ELSE 0 END AS brk
         |  FROM src WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         |se AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
         |                                ROWS UNBOUNDED PRECEDING) AS sess
         |       FROM g),
         |st AS (SELECT user_id, sess, event_type, ts, event_id,
         |         row_number() OVER (PARTITION BY user_id, sess, event_type
         |                            ORDER BY ts, event_id) AS rn
         |       FROM se),
         |fo AS (SELECT user_id, sess, event_type, ts, event_id
         |       FROM st WHERE rn = 1)
         |SELECT a.event_type AS first_type, b.event_type AS then_type,
         |  count(*) AS n_sessions
         |FROM fo a JOIN fo b
         |  ON a.user_id = b.user_id AND a.sess = b.sess
         |  AND a.event_type <> b.event_type
         |  AND (a.ts, a.event_id) < (b.ts, b.event_id)
         |GROUP BY 1, 2""".stripMargin,
    // q281: the same two histories + two containment lookups.
    "q281_late_dim_repair" ->
      s"""WITH h1 AS (
         |  WITH src AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
         |                 user_id, event_type, value, props FROM events
         |               WHERE event_id % 2 = 0),
         |  ${scd2FullSql(AllCheck, deletes = false)}
         |),
         |h2 AS (
         |  WITH src AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
         |                 user_id, event_type, value, props FROM events),
         |  ${scd2FullSql(AllCheck, deletes = false)}
         |),
         |f AS (SELECT o_orderkey, o_custkey % 200 AS user_id,
         |        TIMESTAMP '2024-01-05 00:00:00'
         |          + to_days(CAST(o_orderkey % 30 AS INT)) AS ts
         |      FROM orders),
         |m1 AS (SELECT o_orderkey, max(event_type) AS s1
         |       FROM f JOIN h1 ON f.user_id = h1.user_id
         |         AND h1._valid_from <= f.ts AND h1._valid_to > f.ts
         |       GROUP BY 1),
         |m2 AS (SELECT o_orderkey, max(event_type) AS s2
         |       FROM f JOIN h2 ON f.user_id = h2.user_id
         |         AND h2._valid_from <= f.ts AND h2._valid_to > f.ts
         |       GROUP BY 1)
         |SELECT count(*) AS n_facts,
         |  CAST(sum(CASE WHEN s1 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_placeholder_v1,
         |  CAST(sum(CASE WHEN s1 IS NULL AND s2 IS NOT NULL THEN 1 ELSE 0
         |      END) AS BIGINT) AS n_backfilled,
         |  CAST(sum(CASE WHEN s1 IS NOT NULL AND s2 IS NOT NULL
         |      AND s1 <> s2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_stale_repaired,
         |  CAST(sum(CASE WHEN s2 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_still_unmatched
         |FROM f LEFT JOIN m1 USING (o_orderkey)
         |       LEFT JOIN m2 USING (o_orderkey)""".stripMargin,
    // q282: truth = q17's complete exact pairs; LSH = q18's verified
    // pairs; recall arithmetic on the two counts.
    "q282_lsh_recall" ->
      s"""WITH $MinhashPairsCtes,
         |tp AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS overlap
         |  FROM shx a JOIN shx b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |truth AS (SELECT doc_a, doc_b FROM tp
         |  JOIN sizes x ON x.doc_id = doc_a
         |  JOIN sizes y ON y.doc_id = doc_b
         |  WHERE overlap * 2 >= (x.n + y.n - overlap) * 1),
         |lsh AS (SELECT doc_a, doc_b FROM pairs
         |  JOIN sizes x ON x.doc_id = doc_a
         |  JOIN sizes y ON y.doc_id = doc_b
         |  WHERE overlap * 2 >= (x.n + y.n - overlap) * 1),
         |ct AS (SELECT count(*) AS n_truth FROM truth),
         |cl AS (SELECT count(*) AS n_lsh FROM lsh),
         |cm AS (SELECT count(*) AS n_missed FROM truth t
         |       WHERE NOT EXISTS (SELECT 1 FROM lsh l
         |         WHERE l.doc_a = t.doc_a AND l.doc_b = t.doc_b))
         |SELECT n_truth, n_lsh, n_missed,
         |  CASE WHEN n_truth > 0 THEN n_lsh * 1000000 // n_truth
         |       ELSE 1000000 END AS recall_ppm
         |FROM ct, cl, cm""".stripMargin,
    // q283: identical split, argmax via rank window, same hit tally.
    "q283_markov_accuracy" ->
      s"""WITH $SrcCte,
         |tr AS (SELECT event_type, lead(event_type) OVER w AS nxt
         |       FROM src WHERE ts < TIMESTAMP '2024-01-16'
         |       WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |cnt AS (SELECT event_type, nxt, count(*) AS n FROM tr
         |        WHERE nxt IS NOT NULL GROUP BY 1, 2),
         |mdl AS (SELECT event_type, nxt AS predicted FROM (
         |          SELECT *, row_number() OVER (PARTITION BY event_type
         |            ORDER BY n DESC, nxt ASC) AS rn FROM cnt)
         |        WHERE rn = 1),
         |te AS (SELECT event_type, lead(event_type) OVER w AS nxt
         |       FROM src WHERE ts >= TIMESTAMP '2024-01-16'
         |       WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         |SELECT te.event_type, count(*) AS n_transitions,
         |  CAST(sum(CASE WHEN te.nxt = m.predicted THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_hits,
         |  CAST(sum(CASE WHEN te.nxt = m.predicted THEN 1 ELSE 0 END)
         |       AS BIGINT) * 1000000 // count(*) AS acc_ppm
         |FROM te LEFT JOIN mdl m ON te.event_type = m.event_type
         |WHERE te.nxt IS NOT NULL GROUP BY 1""".stripMargin,
    // q284: q59-style rank-selection quantiles per month.
    "q284_fulfillment_trend" ->
      """WITH ls AS (SELECT l_orderkey,
        |              max(CAST(l_shipdate AS TIMESTAMP)) AS ship
        |            FROM lineitem GROUP BY 1),
        |d AS (SELECT date_trunc('month', CAST(o_orderdate AS TIMESTAMP))
        |        AS order_month,
        |        CAST(date_diff('day', CAST(o_orderdate AS TIMESTAMP), ship)
        |             AS BIGINT) AS d
        |      FROM orders JOIN ls ON o_orderkey = l_orderkey
        |      WHERE ship >= CAST(o_orderdate AS TIMESTAMP)),
        |r AS (SELECT order_month, d,
        |        row_number() OVER (PARTITION BY order_month ORDER BY d)
        |          AS rn,
        |        count(*) OVER (PARTITION BY order_month) AS n
        |      FROM d),
        |p AS (SELECT unnest([50, 90]) AS q)
        |SELECT order_month, q, d AS q_value
        |FROM r CROSS JOIN p
        |WHERE rn = (n * q + 99) // 100""".stripMargin,
    // q285: identical cohort/age arithmetic + per-cohort running sum.
    "q285_ltv_curve" ->
      """WITH o AS (SELECT o_custkey,
        |             date_trunc('month', CAST(o_orderdate AS TIMESTAMP))
        |               AS m,
        |             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |           FROM orders),
        |ch AS (SELECT o_custkey, min(m) AS cohort FROM o GROUP BY 1),
        |a AS (SELECT o.o_custkey, ch.cohort, o.cents,
        |        CAST((date_part('year', o.m) - date_part('year', ch.cohort))
        |          * 12 + date_part('month', o.m)
        |          - date_part('month', ch.cohort) AS BIGINT) AS age_months
        |      FROM o JOIN ch ON o.o_custkey = ch.o_custkey),
        |g AS (SELECT cohort, age_months,
        |        count(DISTINCT o_custkey) AS n_active,
        |        CAST(sum(cents) AS BIGINT) AS rev_cents
        |      FROM a GROUP BY 1, 2)
        |SELECT cohort, age_months, n_active, rev_cents,
        |  CAST(sum(rev_cents) OVER (PARTITION BY cohort ORDER BY age_months
        |       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev_cents
        |FROM g""".stripMargin,
    // q286: per-column profile verdicts.
    "q286_constant_columns" -> {
      val cols = Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size",
                     "p_retailprice")
      cols.map { c =>
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
           |  count($c) AS n_present,
           |  count(DISTINCT CAST($c AS VARCHAR)) AS ndv,
           |  CASE WHEN count($c) = 0 THEN 'ALL_NULL'
           |       WHEN count(DISTINCT CAST($c AS VARCHAR)) = 1
           |         AND count($c) = count(*) THEN 'CONSTANT'
           |       WHEN count(DISTINCT CAST($c AS VARCHAR)) = 1
           |         THEN 'CONSTANT_OR_NULL'
           |       ELSE 'KEEP' END AS verdict
           |FROM part""".stripMargin
      }.mkString("\nUNION ALL\n")
    },
    // q287: q22's brute top-1 truth + q24's IVF list + reciprocal-rank
    // integer arithmetic.
    "q287_ann_mrr" ->
      s"""WITH qq AS (SELECT vec_id, embedding FROM embeddings
         |            WHERE vec_id < 32),
         |bs AS (SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         ${cosSql("qq.embedding", "c.embedding")} AS cosine
         |       FROM embeddings c JOIN qq ON qq.vec_id <> c.vec_id),
         |truth AS (SELECT query_id, neighbor_id AS true_nn FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id) AS rn FROM bs)
         |  WHERE rn = 1),
         |cents AS (SELECT vec_id AS centroid_id, embedding AS mv
         |  FROM embeddings ORDER BY vec_id LIMIT 16),
         |asg0 AS (SELECT e.vec_id AS id, e.embedding, c.centroid_id,
         |    ${cosSql("e.embedding", "c.mv")} AS s
         |  FROM embeddings e CROSS JOIN cents c),
         |asg AS (SELECT id, embedding, centroid_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY id
         |      ORDER BY s DESC, centroid_id) AS rn
         |    FROM asg0) WHERE rn = 1),
         |q2 AS (SELECT * FROM asg WHERE id < 32),
         |scored AS (
         |  SELECT q2.id AS query_id, c.id AS neighbor_id,
         |    ${cosSql("q2.embedding", "c.embedding")} AS cosine
         |  FROM asg c JOIN q2 ON c.centroid_id = q2.centroid_id
         |    AND q2.id <> c.id),
         |ranked AS (SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
         |    AS rk FROM scored),
         |ivf AS (SELECT * FROM ranked WHERE rk <= 10),
         |rr AS (SELECT t.query_id,
         |         coalesce(1000000 // i.rk, 0) AS rr
         |       FROM truth t LEFT JOIN ivf i
         |         ON t.query_id = i.query_id AND t.true_nn = i.neighbor_id)
         |SELECT count(*) AS n_queries,
         |  CAST(sum(CASE WHEN rr > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_found,
         |  CAST(sum(rr) AS BIGINT) AS sum_rr_micro,
         |  CAST(sum(rr) AS BIGINT) // count(*) AS mrr_micro
         |FROM rr""".stripMargin,
    // q288: the textbook three-deep nested-subquery formulation.
    "q288_excess_suppliers" ->
      """WITH q AS (SELECT l_partkey, l_suppkey,
        |             CAST(floor(l_quantity * 1000000) AS BIGINT) AS qm
        |           FROM lineitem
        |           WHERE l_partkey IN (SELECT p_partkey FROM part
        |                               WHERE p_name LIKE '%red%'))
        |SELECT s_suppkey, s_name, count(*) AS n_dominated_parts
        |FROM (SELECT l_partkey, l_suppkey,
        |        CAST(sum(qm) AS BIGINT) AS sq FROM q GROUP BY 1, 2) sp
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE sq * 20 > (SELECT CAST(sum(qm) AS BIGINT) FROM q q2
        |                 WHERE q2.l_partkey = sp.l_partkey)
        |GROUP BY 1, 2""".stripMargin,
    // q289: identical 7-day lag scoring.
    "q289_seasonal_backtest" ->
      s"""WITH $SrcCte,
         |d AS (SELECT event_type, date_trunc('day', ts) AS day,
         |        CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
         |          AS t
         |      FROM src GROUP BY 1, 2),
         |l AS (SELECT *, lag(t, 7) OVER (PARTITION BY event_type
         |        ORDER BY day) AS pred FROM d),
         |e AS (SELECT event_type,
         |        abs(t - pred) * 1000000 // pred AS ape_ppm
         |      FROM l WHERE pred IS NOT NULL AND pred > 0)
         |SELECT event_type, count(*) AS n_days,
         |  max(ape_ppm) AS worst_ape_ppm,
         |  CAST(sum(ape_ppm) AS BIGINT) // count(*) AS mape_ppm
         |FROM e GROUP BY 1""".stripMargin,
    // q290: identical integer second moments per dimension.
    "q290_dim_variance" ->
      """WITH x AS (SELECT CAST(i - 1 AS INT) AS dim,
        |             CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000)
        |                  AS BIGINT) AS xm
        |           FROM embeddings,
        |             unnest(generate_series(1, len(embedding))) AS u(i))
        |SELECT dim, count(*) AS n,
        |  CAST(sum(xm) AS BIGINT) AS sum_micro,
        |  CAST(sum(xm * xm) AS BIGINT) AS sumsq,
        |  CAST(count(*) * CAST(sum(xm * xm) AS HUGEINT)
        |       - CAST(sum(xm) AS HUGEINT) * CAST(sum(xm) AS BIGINT)
        |       AS BIGINT) AS var_numer
        |FROM x GROUP BY 1""".stripMargin,
    // q291: q18's verified pairs + ORDERED (non-distinct) shingle
    // positions + the textbook diagonal gaps-and-islands run count.
    "q291_alignment_evidence" ->
      s"""WITH $MinhashPairsCtes,
         |verified AS (
         |  SELECT doc_a, doc_b FROM pairs
         |    JOIN sizes x ON x.doc_id = doc_a
         |    JOIN sizes y ON y.doc_id = doc_b
         |  WHERE overlap * 2 >= (x.n + y.n - overlap) * 1),
         |osh AS (SELECT doc_id,
         |  CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
         |  ELSE list_transform(generate_series(0, len(t) - 3),
         |         i -> array_to_string(t[i+1:i+3], ' ')) END AS oshs
         |  FROM toks),
         |pos AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS p, oshs[i] AS sh
         |        FROM osh, unnest(generate_series(1, len(oshs))) AS u(i)),
         |hits AS (SELECT v.doc_a, v.doc_b, a.p AS pa, b.p AS pb
         |         FROM verified v
         |         JOIN pos a ON v.doc_a = a.doc_id
         |         JOIN pos b ON v.doc_b = b.doc_id AND a.sh = b.sh),
         |r AS (SELECT doc_a, doc_b, pb - pa AS d, pa,
         |        row_number() OVER (PARTITION BY doc_a, doc_b, pb - pa
         |                           ORDER BY pa) AS rn
         |      FROM hits),
         |runs AS (SELECT doc_a, doc_b, d, pa - rn AS grp,
         |           count(*) AS run
         |         FROM r GROUP BY 1, 2, 3, 4)
         |SELECT doc_a, doc_b,
         |  CAST(max(run) AS BIGINT) AS longest_shared_run,
         |  CAST(sum(run) AS BIGINT) AS n_shared_positions
         |FROM runs GROUP BY 1, 2""".stripMargin,
    // q292: plain distinct-projection vocabulary Jaccard.
    "q292_lang_vocab_overlap" ->
      s"""WITH lv AS (SELECT DISTINCT lang,
         |  unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
         |  FROM documents),
         |lv2 AS (SELECT lang, w FROM lv WHERE length(w) > 0),
         |sz AS (SELECT lang, count(*) AS n FROM lv2 GROUP BY 1),
         |p AS (SELECT a.lang AS lang_a, b.lang AS lang_b,
         |        count(*) AS n_shared
         |      FROM lv2 a JOIN lv2 b
         |        ON a.w = b.w AND a.lang < b.lang
         |      GROUP BY 1, 2)
         |SELECT lang_a, lang_b, n_shared, sa.n AS n_a, sb.n AS n_b,
         |  n_shared * 1000000 // (sa.n + sb.n - n_shared) AS jaccard_ppm
         |FROM p JOIN sz sa ON p.lang_a = sa.lang
         |       JOIN sz sb ON p.lang_b = sb.lang""".stripMargin,
    // q293: identical retry predicate on the per-user lag window.
    "q293_retry_suppression" ->
      s"""WITH $SrcCte,
         |l AS (SELECT event_type,
         |        lag(event_type) OVER w IS NOT DISTINCT FROM event_type
         |          AND lag(value) OVER w IS NOT DISTINCT FROM value
         |          AND epoch_us(ts) - epoch_us(lag(ts) OVER w) <= 5000000
         |          AS retry
         |      FROM src
         |      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         |SELECT event_type, count(*) AS n_events,
         |  CAST(sum(CASE WHEN retry THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_suppressed,
         |  CAST(sum(CASE WHEN retry THEN 1 ELSE 0 END) AS BIGINT)
         |    * 1000000 // count(*) AS suppressed_ppm
         |FROM l GROUP BY 1""".stripMargin,
    // q206: streaming first-arrival dedup == min doc_id within the earliest
    // batch (doc_id%3 ascending) containing the fingerprint.
    "q206_stream_dedup" ->
      s"""WITH $ToksCte,
         |f AS (SELECT doc_id, md5(array_to_string(t, ' ')) AS fingerprint
         |      FROM toks WHERE doc_id % 5 = 0),
         |r AS (SELECT doc_id, fingerprint,
         |        row_number() OVER (PARTITION BY fingerprint
         |                           ORDER BY doc_id % 3, doc_id) AS rn
         |      FROM f)
         |SELECT doc_id, fingerprint FROM r WHERE rn = 1""".stripMargin,
    "q64_scd2_two_merges" ->
      s"WITH $SrcCte, ${scd2ThreePhaseSql(AllCheck, "event_id % 3 = 0", "event_id % 3 = 1", "event_id % 3 = 2")}",
    "q65_scd2_two_merges_deletes" ->
      s"WITH $SrcDelCte, ${scd2ThreePhaseSql(AllCheck, "event_id % 3 = 0", "event_id % 3 = 1", "event_id % 3 = 2", deletes = true)}",
    "q01_scd2_initial" ->
      s"WITH $SrcCte, ${scd2FullSql(AllCheck, deletes = false)}",
    "q63_sql_frontend" ->
      s"WITH $SrcCte, ${scd2FullSql(AllCheck, deletes = false)}",
    "q02_scd2_checkcols" ->
      s"WITH $SrcCte, ${scd2FullSql(Seq("event_type"), deletes = false)}",
    "q03_scd2_deletes" ->
      s"WITH $SrcDelCte, ${scd2FullSql(AllCheck, deletes = true)}",
    "q04_scd2_incremental" ->
      s"WITH $SrcCte, ${scd2TwoPhaseSql(AllCheck, deletes = false, "event_id % 2 = 0", "event_id % 2 = 1")}",
    "q31_scd2_created_at" ->
      s"""WITH $SrcCte,
         |c AS (SELECT *, TIMESTAMP '2020-01-01 00:00:00'
         |              + to_days(CAST(user_id % 365 AS INT)) AS created_at FROM src),
         |hashed AS (SELECT *, md5(concat_ws('-',
         |    coalesce(CAST(event_type AS VARCHAR), ''),
         |    coalesce(CAST(value AS VARCHAR), ''),
         |    coalesce(CAST(props AS VARCHAR), ''),
         |    coalesce(CAST(created_at AS VARCHAR), ''))) AS _h FROM c),
         |dedup AS (SELECT * FROM hashed
         |  QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY _h) = 1),
         |changes_only AS (SELECT * FROM (
         |    SELECT *, lag(_h) OVER (PARTITION BY user_id ORDER BY ts) AS _ph FROM dedup
         |  ) WHERE _ph IS NULL OR _h <> _ph)
         |SELECT event_id, ts, user_id, event_type, value, props, created_at,
         |  (row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) = 1) AS _is_current,
         |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
         |       THEN coalesce(created_at, ts) ELSE ts END AS _valid_from,
         |  coalesce(lead(ts) OVER (PARTITION BY user_id ORDER BY ts),
         |           TIMESTAMP '2999-12-31 23:59:59') AS _valid_to,
         |  CASE WHEN row_number() OVER (PARTITION BY user_id ORDER BY ts) = 1
         |       THEN 'I' ELSE 'U' END AS _change_type
         |FROM changes_only""".stripMargin,
    "q32_scd2_loaded_collapse" ->
      s"""WITH $SrcCte,
         |h0 AS (SELECT *, ts AS _loaded_at,
         |    md5(concat_ws('-', coalesce(CAST(event_type AS VARCHAR), ''))) AS _h
         |  FROM src WHERE event_id % 2 = 0),
         |kept0 AS (SELECT * EXCLUDE (_ph) FROM (
         |    SELECT *, lag(_h) OVER (PARTITION BY user_id ORDER BY ts) AS _ph FROM h0
         |  ) WHERE _ph IS NULL OR _h <> _ph),
         |d1 AS (SELECT *, ts + INTERVAL 100 DAY AS _loaded_at,
         |    md5(concat_ws('-', coalesce(CAST(event_type AS VARCHAR), ''))) AS _h
         |  FROM src WHERE event_id % 2 = 1),
         |u AS (SELECT * FROM kept0 UNION ALL SELECT * FROM d1),
         |chg AS (
         |  SELECT *, CASE WHEN lag(_h) OVER w IS NULL THEN 0
         |                 WHEN _h <> lag(_h) OVER w THEN 1 ELSE 0 END AS _c
         |  FROM u WINDOW w AS (PARTITION BY user_id ORDER BY ts)
         |),
         |runs AS (
         |  SELECT *, sum(_c) OVER (PARTITION BY user_id ORDER BY ts
         |                          ROWS UNBOUNDED PRECEDING) AS _run
         |  FROM chg
         |),
         |collapsed AS (
         |  SELECT * FROM runs
         |  QUALIFY row_number() OVER (PARTITION BY user_id, _run
         |                             ORDER BY _loaded_at, ts) = 1
         |)
         |SELECT event_id, ts, user_id, event_type, value, props, _loaded_at,
         |  (row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) = 1) AS _is_current,
         |  ts AS _valid_from,
         |  coalesce(lead(ts) OVER (PARTITION BY user_id ORDER BY ts),
         |           TIMESTAMP '2999-12-31 23:59:59') AS _valid_to,
         |  CASE WHEN row_number() OVER (PARTITION BY user_id ORDER BY ts) = 1
         |       THEN 'I' ELSE 'U' END AS _change_type
         |FROM collapsed""".stripMargin,
    "q34_invariants" ->
      s"""WITH hist AS (
         |  WITH $SrcDelCte, ${scd2FullSql(AllCheck, deletes = true)}
         |),
         |bad AS (
         |  SELECT event_id, ts, user_id, event_type, value, props,
         |    CASE WHEN user_id % 17 = 9 AND deleted_at IS NULL
         |         THEN ts + INTERVAL 1 SECOND ELSE deleted_at END AS deleted_at,
         |    CASE WHEN user_id % 11 = 5 THEN NOT _is_current
         |         ELSE _is_current END AS _is_current,
         |    _valid_from,
         |    CASE WHEN user_id % 19 = 11 THEN _valid_from
         |         WHEN user_id % 7 = 3 AND NOT _is_current
         |         THEN _valid_to + INTERVAL 1 SECOND ELSE _valid_to END AS _valid_to,
         |    CASE WHEN user_id % 13 = 7 AND _change_type <> 'D'
         |         THEN (CASE WHEN event_id % 2 = 0 THEN 'U' ELSE 'I' END)
         |         ELSE _change_type END AS _change_type
         |  FROM hist
         |)
         |SELECT 'one_current_per_key' AS invariant,
         |  (SELECT count(*) FROM (SELECT user_id FROM bad WHERE _is_current
         |    GROUP BY user_id HAVING count(*) <> 1)) AS violations
         |UNION ALL SELECT 'no_validity_overlaps',
         |  (SELECT count(*) FROM bad a JOIN bad b
         |    ON a.user_id IS NOT DISTINCT FROM b.user_id
         |    AND a._valid_from <> b._valid_from
         |    AND a._valid_from < b._valid_to AND b._valid_from < a._valid_to)
         |UNION ALL SELECT 'continuous_validity_windows',
         |  (SELECT count(*) FROM (SELECT _valid_to,
         |      lead(_valid_from) OVER (PARTITION BY user_id ORDER BY _valid_from) AS nxt
         |    FROM bad) WHERE nxt IS NOT NULL AND _valid_to <> nxt)
         |UNION ALL SELECT 'latest_row_is_current',
         |  (SELECT count(*) FROM (SELECT _is_current,
         |      row_number() OVER (PARTITION BY user_id ORDER BY _valid_from DESC) AS rn
         |    FROM bad) WHERE rn = 1 AND NOT _is_current)
         |UNION ALL SELECT 'first_record_not_update',
         |  (SELECT count(*) FROM (SELECT _change_type,
         |      row_number() OVER (PARTITION BY user_id ORDER BY _valid_from) AS rn
         |    FROM bad) WHERE rn = 1 AND _change_type = 'U')
         |UNION ALL SELECT 'insert_follows_delete',
         |  (SELECT count(*) FROM (SELECT _change_type,
         |      lag(_change_type) OVER (PARTITION BY user_id ORDER BY _valid_from) AS pct
         |    FROM bad) WHERE pct = 'D' AND _change_type = 'U')
         |UNION ALL SELECT 'no_consecutive_inserts_or_deletes',
         |  (SELECT count(*) FROM (SELECT _change_type,
         |      lag(_change_type) OVER (PARTITION BY user_id ORDER BY _valid_from) AS pct
         |    FROM bad) WHERE (pct = 'I' AND _change_type = 'I')
         |      OR (pct = 'D' AND _change_type = 'U'))
         |UNION ALL SELECT 'valid_window_well_formed',
         |  (SELECT count(*) FROM bad WHERE _valid_from IS NULL
         |    OR _valid_to IS NULL OR _valid_from >= _valid_to)
         |UNION ALL SELECT 'no_records_after_deletion',
         |  (SELECT count(*) FROM bad WHERE deleted_at IS NOT NULL
         |    AND _valid_from <> deleted_at)
         |UNION ALL SELECT 'all_records_current',
         |  (SELECT count(DISTINCT user_id) FROM events WHERE user_id % 23 = 11)""".stripMargin,
    "q35_scd2_no_update_all" ->
      s"""WITH $SrcCte,
         |tgt AS (
         |  WITH h0 AS (SELECT *, md5(concat_ws('-',
         |      coalesce(CAST(event_type AS VARCHAR), ''),
         |      coalesce(CAST(value AS VARCHAR), ''),
         |      coalesce(CAST(props AS VARCHAR), ''))) AS _h
         |    FROM src WHERE event_id % 2 = 0)
         |  SELECT event_id, ts, user_id, event_type, value, props,
         |    (row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) = 1) AS _is_current,
         |    ts AS _valid_from,
         |    coalesce(lead(ts) OVER (PARTITION BY user_id ORDER BY ts),
         |             TIMESTAMP '2999-12-31 23:59:59') AS _valid_to,
         |    CASE WHEN row_number() OVER (PARTITION BY user_id ORDER BY ts) = 1
         |         THEN 'I' ELSE 'U' END AS _change_type
         |  FROM (SELECT * FROM (
         |      SELECT *, lag(_h) OVER (PARTITION BY user_id ORDER BY ts) AS _ph FROM h0
         |    ) WHERE _ph IS NULL OR _h <> _ph)
         |),
         |n AS (SELECT event_id, ts, user_id, event_type, value, props,
         |    md5(concat_ws('-',
         |      coalesce(CAST(event_type AS VARCHAR), ''),
         |      coalesce(CAST(value AS VARCHAR), ''),
         |      coalesce(CAST(props AS VARCHAR), ''))) AS _h,
         |    'new' AS _source, 17 AS _priority
         |  FROM src WHERE event_id % 2 = 1),
         |p AS (SELECT t.event_id, t.ts, t.user_id, t.event_type, t.value, t.props,
         |    md5(concat_ws('-',
         |      coalesce(CAST(t.event_type AS VARCHAR), ''),
         |      coalesce(CAST(t.value AS VARCHAR), ''),
         |      coalesce(CAST(t.props AS VARCHAR), ''))) AS _h,
         |    'previous' AS _source, 0 AS _priority
         |  FROM tgt t WHERE EXISTS (SELECT 1 FROM n
         |    WHERE n.user_id IS NOT DISTINCT FROM t.user_id AND n.ts <= t._valid_to)),
         |dedup AS (SELECT * FROM (SELECT * FROM n UNION ALL SELECT * FROM p)
         |  QUALIFY row_number() OVER (PARTITION BY user_id, ts
         |                             ORDER BY _priority, _h) = 1),
         |chg AS (SELECT * FROM (
         |    SELECT *, lag(_h) OVER (PARTITION BY user_id ORDER BY ts) AS _ph FROM dedup
         |  ) WHERE _ph IS NULL OR _h <> _ph OR _source = 'previous'),
         |v AS (SELECT event_id, ts, user_id, event_type, value, props,
         |    (row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) = 1) AS _is_current,
         |    ts AS _valid_from,
         |    coalesce(lead(ts) OVER (PARTITION BY user_id ORDER BY ts),
         |             TIMESTAMP '2999-12-31 23:59:59') AS _valid_to,
         |    CASE WHEN row_number() OVER (PARTITION BY user_id ORDER BY ts) = 1
         |         THEN 'I' ELSE 'U' END AS _change_type
         |  FROM chg)
         |SELECT
         |  CASE WHEN t._t_ex IS NULL THEN v.event_id ELSE t.event_id END AS event_id,
         |  CASE WHEN t._t_ex IS NULL THEN v.ts ELSE t.ts END AS ts,
         |  CASE WHEN t._t_ex IS NULL THEN v.user_id ELSE t.user_id END AS user_id,
         |  CASE WHEN t._t_ex IS NULL THEN v.event_type ELSE t.event_type END AS event_type,
         |  CASE WHEN t._t_ex IS NULL THEN v.value ELSE t.value END AS value,
         |  CASE WHEN t._t_ex IS NULL THEN v.props ELSE t.props END AS props,
         |  CASE WHEN v._s_ex IS NOT NULL THEN v._is_current
         |       ELSE t._is_current END AS _is_current,
         |  CASE WHEN t._t_ex IS NULL THEN v._valid_from
         |       ELSE t._valid_from END AS _valid_from,
         |  CASE WHEN v._s_ex IS NOT NULL THEN v._valid_to
         |       ELSE t._valid_to END AS _valid_to,
         |  CASE WHEN t._t_ex IS NULL THEN v._change_type
         |       ELSE t._change_type END AS _change_type
         |FROM (SELECT *, 1 AS _t_ex FROM tgt) t
         |FULL JOIN (SELECT *, 1 AS _s_ex FROM v) v
         |  ON t.user_id IS NOT DISTINCT FROM v.user_id
         |  AND t.ts IS NOT DISTINCT FROM v.ts""".stripMargin,
    "q05_scd2_backfill" ->
      s"WITH $SrcCte, ${scd2TwoPhaseSql(Seq("event_type"), deletes = false, "event_id % 3 <> 1", "event_id % 3 = 1")}",
    "q06_scd2_incremental_deletes" ->
      s"WITH $SrcDelCte, ${scd2TwoPhaseSql(AllCheck, deletes = true, "event_id % 2 = 0", "event_id % 2 = 1")}",
    "q07_scd1_initial" ->
      s"""WITH $SrcCte
         |SELECT event_id, ts, user_id, event_type, value, props,
         |  true AS _is_current, ts AS _valid_from,
         |  TIMESTAMP '2999-12-31 23:59:59' AS _valid_to, 'I' AS _change_type
         |FROM src QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) = 1""".stripMargin,
    "q08_scd1_incremental" ->
      s"""WITH $SrcCte,
         |t AS (SELECT * FROM src WHERE event_id % 2 = 0
         |      QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) = 1),
         |d AS (SELECT * FROM src WHERE event_id % 2 = 1
         |      QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) = 1)
         |SELECT
         |  coalesce(t.user_id, d.user_id) AS user_id,
         |  CASE WHEN d.user_id IS NOT NULL THEN d.event_id ELSE t.event_id END AS event_id,
         |  CASE WHEN d.user_id IS NOT NULL THEN d.ts ELSE t.ts END AS ts,
         |  CASE WHEN d.user_id IS NOT NULL THEN d.event_type ELSE t.event_type END AS event_type,
         |  CASE WHEN d.user_id IS NOT NULL THEN d.value ELSE t.value END AS value,
         |  CASE WHEN d.user_id IS NOT NULL THEN d.props ELSE t.props END AS props,
         |  true AS _is_current,
         |  CASE WHEN t.user_id IS NOT NULL THEN t.ts ELSE d.ts END AS _valid_from,
         |  TIMESTAMP '2999-12-31 23:59:59' AS _valid_to, 'I' AS _change_type
         |FROM t FULL JOIN d ON t.user_id = d.user_id""".stripMargin,
    "q66_scd1_two_merges" ->
      s"""WITH $SrcCte,
         |base AS (SELECT *, event_id % 3 AS b FROM src),
         |biz AS (SELECT * FROM base
         |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY b DESC, ts DESC) = 1),
         |firstb AS (SELECT user_id, ts AS first_ts FROM base
         |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY b ASC, ts DESC) = 1)
         |SELECT biz.event_id, biz.ts, biz.user_id, biz.event_type, biz.value,
         |  biz.props, true AS _is_current, firstb.first_ts AS _valid_from,
         |  TIMESTAMP '2999-12-31 23:59:59' AS _valid_to, 'I' AS _change_type
         |FROM biz JOIN firstb USING (user_id)""".stripMargin,
    "q67_scd0_two_merges" ->
      s"""WITH $SrcCte
         |SELECT event_id, ts, user_id, event_type, value, props,
         |  true AS _is_current, ts AS _valid_from,
         |  TIMESTAMP '2999-12-31 23:59:59' AS _valid_to, 'I' AS _change_type
         |FROM (SELECT *, row_number() OVER (
         |    PARTITION BY user_id ORDER BY event_id % 3, ts) AS rn FROM src)
         |WHERE rn = 1""".stripMargin,
    "q09_scd0_initial" ->
      s"""WITH $SrcCte
         |SELECT event_id, ts, user_id, event_type, value, props,
         |  true AS _is_current, ts AS _valid_from,
         |  TIMESTAMP '2999-12-31 23:59:59' AS _valid_to, 'I' AS _change_type
         |FROM src QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts ASC) = 1""".stripMargin,
    // scd0 target-wins: keys already in the target keep their original row
    "q10_scd0_incremental" ->
      s"""WITH $SrcCte,
         |t AS (SELECT * FROM src WHERE event_id % 2 = 0
         |      QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts ASC) = 1),
         |d AS (SELECT * FROM src WHERE event_id % 2 = 1
         |      QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts ASC) = 1)
         |SELECT
         |  coalesce(t.user_id, d.user_id) AS user_id,
         |  CASE WHEN t.user_id IS NOT NULL THEN t.event_id ELSE d.event_id END AS event_id,
         |  CASE WHEN t.user_id IS NOT NULL THEN t.ts ELSE d.ts END AS ts,
         |  CASE WHEN t.user_id IS NOT NULL THEN t.event_type ELSE d.event_type END AS event_type,
         |  CASE WHEN t.user_id IS NOT NULL THEN t.value ELSE d.value END AS value,
         |  CASE WHEN t.user_id IS NOT NULL THEN t.props ELSE d.props END AS props,
         |  true AS _is_current,
         |  CASE WHEN t.user_id IS NOT NULL THEN t.ts ELSE d.ts END AS _valid_from,
         |  TIMESTAMP '2999-12-31 23:59:59' AS _valid_to, 'I' AS _change_type
         |FROM t FULL JOIN d ON t.user_id = d.user_id""".stripMargin,
    "q11_scd2_join" ->
      s"""WITH $SrcCte,
         |dim_a AS (
         |  WITH ${scd2JoinDimSql("event_type")}
         |),
         |dim_b AS (
         |  WITH ${scd2JoinDimSql("value")}
         |),
         |pts AS (
         |  SELECT user_id, _valid_from AS _updated_at FROM dim_a
         |  UNION
         |  SELECT user_id, _valid_from AS _updated_at FROM dim_b
         |),
         |spine AS (
         |  SELECT user_id,
         |    (row_number() OVER (PARTITION BY user_id ORDER BY _updated_at DESC) = 1) AS _is_current,
         |    _updated_at AS _valid_from,
         |    coalesce(lead(_updated_at) OVER (PARTITION BY user_id ORDER BY _updated_at),
         |             TIMESTAMP '2999-12-31 23:59:59') AS _valid_to
         |  FROM pts
         |)
         |SELECT spine.user_id, a.event_type AS a_event_type, b.value AS b_value,
         |       spine._is_current, spine._valid_from, spine._valid_to
         |FROM spine
         |LEFT JOIN dim_a a ON spine.user_id = a.user_id
         |  AND spine._valid_from >= a._valid_from AND spine._valid_to <= a._valid_to
         |LEFT JOIN dim_b b ON spine.user_id = b.user_id
         |  AND spine._valid_from >= b._valid_from AND spine._valid_to <= b._valid_to
         |WHERE spine._valid_from < spine._valid_to""".stripMargin,
    "q41_scd2_join_3way" ->
      s"""WITH $SrcCte,
         |dim_a AS (
         |  WITH ${scd2JoinDimSql("event_type")}
         |),
         |dim_b AS (
         |  WITH ${scd2JoinDimSql("value")}
         |),
         |dim_c AS (
         |  WITH ${scd2JoinDimSql("props")}
         |),
         |pts AS (
         |  SELECT user_id, _valid_from AS _updated_at FROM dim_a
         |  UNION
         |  SELECT user_id, _valid_from AS _updated_at FROM dim_b
         |  UNION
         |  SELECT user_id, _valid_from AS _updated_at FROM dim_c
         |),
         |spine AS (
         |  SELECT user_id,
         |    (row_number() OVER (PARTITION BY user_id ORDER BY _updated_at DESC) = 1) AS _is_current,
         |    _updated_at AS _valid_from,
         |    coalesce(lead(_updated_at) OVER (PARTITION BY user_id ORDER BY _updated_at),
         |             TIMESTAMP '2999-12-31 23:59:59') AS _valid_to
         |  FROM pts
         |)
         |SELECT spine.user_id, a.event_type AS a_event_type, b.value AS b_value,
         |       c.props AS c_props,
         |       spine._is_current, spine._valid_from, spine._valid_to
         |FROM spine
         |LEFT JOIN dim_a a ON spine.user_id = a.user_id
         |  AND spine._valid_from >= a._valid_from AND spine._valid_to <= a._valid_to
         |LEFT JOIN dim_b b ON spine.user_id = b.user_id
         |  AND spine._valid_from >= b._valid_from AND spine._valid_to <= b._valid_to
         |LEFT JOIN dim_c c ON spine.user_id = c.user_id
         |  AND spine._valid_from >= c._valid_from AND spine._valid_to <= c._valid_to
         |WHERE spine._valid_from < spine._valid_to""".stripMargin,
    "q33_scd2_join_containment" ->
      s"""WITH src AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props
         |            FROM events WHERE user_id % 5 = 0),
         |dim_a AS (
         |  WITH ${scd2JoinDimSql("event_type")}
         |),
         |dim_b AS (
         |  WITH ${scd2JoinDimSql("value")}
         |),
         |pts AS (
         |  SELECT user_id, _valid_from AS _updated_at FROM dim_a
         |  UNION
         |  SELECT user_id, _valid_from AS _updated_at FROM dim_b
         |),
         |spine AS (
         |  SELECT user_id,
         |    (row_number() OVER (PARTITION BY user_id ORDER BY _updated_at DESC) = 1) AS _is_current,
         |    _updated_at AS _valid_from,
         |    coalesce(lead(_updated_at) OVER (PARTITION BY user_id ORDER BY _updated_at),
         |             TIMESTAMP '2999-12-31 23:59:59') AS _valid_to
         |  FROM pts
         |)
         |SELECT spine.user_id, a.event_type AS a_event_type, b.value AS b_value,
         |       spine._is_current, spine._valid_from, spine._valid_to
         |FROM spine
         |LEFT JOIN dim_a a ON spine.user_id = a.user_id
         |  AND spine._valid_from >= a._valid_from AND spine._valid_to <= a._valid_to
         |LEFT JOIN dim_b b ON spine.user_id = b.user_id
         |  AND spine._valid_from >= b._valid_from AND spine._valid_to <= b._valid_to
         |WHERE spine._valid_from < spine._valid_to""".stripMargin,
    "q12_incremental_source" ->
      s"""WITH $SrcCte,
         |b AS (SELECT epoch_us(min(ts)) AS lo, epoch_us(max(ts)) AS hi FROM src),
         |cut AS (SELECT make_timestamp(lo + (hi - lo) * 3 // 5) AS wm FROM b)
         |SELECT * FROM src
         |WHERE (SELECT coalesce(max(ts), TIMESTAMP '1900-01-01 00:00:00')
         |       FROM src WHERE ts <= (SELECT wm FROM cut)) < ts""".stripMargin,
    "q40_pipeline_e2e" ->
      s"""WITH $SrcCte,
         |b AS (SELECT epoch_us(min(ts)) AS lo, epoch_us(max(ts)) AS hi FROM src),
         |cut AS (SELECT make_timestamp(lo + (hi - lo) * 3 // 5) AS wm FROM b),
         |${scd2TwoPhaseSql(AllCheck, deletes = false,
                            "ts <= (SELECT wm FROM cut)",
                            "ts > (SELECT wm FROM cut)")}""".stripMargin,
    "q39_sessionize" ->
      s"""WITH $SrcCte,
         |g AS (SELECT user_id, ts, event_type,
         |  CASE WHEN lag(ts) OVER w IS NULL
         |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
         |       THEN 1 ELSE 0 END AS brk
         |  FROM src WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
         |                               ROWS UNBOUNDED PRECEDING) AS sess
         |      FROM g)
         |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
         |       count(*) AS n_events,
         |       count(DISTINCT event_type) AS n_event_types
         |FROM s GROUP BY user_id, sess""".stripMargin,
    "q36_source_run_cutoff" ->
      s"""WITH $SrcCte,
         |b AS (SELECT epoch_us(min(ts)) AS lo, epoch_us(max(ts)) AS hi FROM src),
         |cut AS (SELECT make_timestamp(lo + (hi - lo) * 3 // 5) AS wm,
         |               make_timestamp(lo + (hi - lo) * 4 // 5) AS rs FROM b)
         |SELECT * FROM src
         |WHERE (SELECT coalesce(max(ts), TIMESTAMP '1900-01-01 00:00:00')
         |       FROM src WHERE ts <= (SELECT wm FROM cut)) < ts
         |  AND ts <= (SELECT rs FROM cut)""".stripMargin,
    "q37_scd2_incr_predicates" ->
      s"""WITH $SrcCte,
         |mp AS (
         |  WITH ${scd2TwoPhaseSql(AllCheck, deletes = false,
                                   "event_id % 2 = 0 AND user_id % 3 = 0",
                                   "event_id % 2 = 1")}
         |),
         |se AS (SELECT * FROM src WHERE event_id % 2 = 0),
         |tfull AS (
         |  WITH ${scd2FullSql(AllCheck, deletes = false, from = "se")}
         |)
         |SELECT * FROM mp
         |UNION ALL SELECT * FROM tfull WHERE user_id % 3 <> 0""".stripMargin,
    "q13_text_metrics" ->
      s"""WITH $ToksCte
         |SELECT doc_id, n_chars, n_tokens, n_bpe_tokens, n_punct, n_stopwords,
         |  (n_tokens >= 20 AND n_tokens <= 100000 AND n_punct * 5 < n_chars
         |   AND n_stopwords * 100 >= n_tokens) AS is_quality
         |FROM (
         |  SELECT doc_id,
         |    length(text) AS n_chars,
         |    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(t) END AS n_tokens,
         |    len(regexp_extract_all(text, '$BpeRegexSql')) AS n_bpe_tokens,
         |    len(regexp_extract_all(text, '$PunctRegexSql')) AS n_punct,
         |    len(list_filter(t, x -> list_contains(${sqlList(AllStopwords)}, x))) AS n_stopwords
         |  FROM toks)""".stripMargin,
    "q14_text_langid" ->
      s"""WITH $ToksCte, $LangPredSql
         |SELECT doc_id, lang_pred FROM pred""".stripMargin,
    "q15_text_fingerprint" ->
      s"""WITH $ToksCte, ${shingleCte("sh5", 5)}
         |SELECT toks.doc_id, md5(array_to_string(t, ' ')) AS fingerprint,
         |  list_min(list_transform(shs, s -> md5(s))) AS shingle_fp
         |FROM toks JOIN sh5 ON toks.doc_id = sh5.doc_id""".stripMargin,
    "q43_golden_diff" ->
      s"""WITH hist AS (
         |  WITH $SrcCte, ${scd2FullSql(AllCheck, deletes = false)}
         |),
         |exp AS (SELECT event_id, ts, user_id,
         |    CASE WHEN user_id % 101 = 5 THEN 'tampered' ELSE event_type END
         |      AS event_type,
         |    value, props, _is_current, _valid_from, _valid_to, _change_type
         |  FROM hist WHERE user_id % 97 <> 3)
         |SELECT *, 'actual_not_expected' AS _diff_side
         |  FROM (SELECT * FROM hist EXCEPT SELECT * FROM exp)
         |UNION ALL
         |SELECT *, 'expected_not_actual' AS _diff_side
         |  FROM (SELECT * FROM exp EXCEPT SELECT * FROM hist)""".stripMargin,
    "q42_repetition" ->
      s"""WITH $ToksCte,
         |arr AS (SELECT doc_id, t,
         |  CASE WHEN len(t) < 2 THEN CAST([] AS VARCHAR[])
         |  ELSE list_transform(generate_series(0, len(t) - 2),
         |         i -> t[i+1] || ' ' || t[i+2]) END AS bg FROM toks),
         |rep AS (SELECT doc_id,
         |  len(t) AS token_count,
         |  len(list_distinct(t)) AS distinct_tokens,
         |  len(t) - len(list_distinct(t)) AS dup_tokens,
         |  coalesce(list_max(list_transform(list_distinct(t),
         |    v -> len(list_filter(t, x -> x = v)))), 0) AS top_token_count,
         |  len(bg) AS bigram_count,
         |  coalesce(list_max(list_transform(list_distinct(bg),
         |    v -> len(list_filter(bg, x -> x = v)))), 0) AS top_bigram_count
         |FROM arr)
         |SELECT *, (bigram_count > 0 AND top_bigram_count * 5 >= bigram_count)
         |  OR dup_tokens * 2 >= token_count AS is_repetitive FROM rep""".stripMargin,
    "q16_dedup_exact" ->
      s"""WITH $ToksCte
         |SELECT md5(array_to_string(t, ' ')) AS fingerprint,
         |  min(doc_id) AS canonical_id, count(*) AS n_copies
         |FROM toks GROUP BY 1""".stripMargin,
    "q17_dedup_ngram" ->
      s"""WITH $ToksCte, ${shingleCte("sh3", 3)}, $ShxCte, $SizesCte,
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS overlap
         |  FROM shx a JOIN shx b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |$JaccardTailSql""".stripMargin,
    "q18_dedup_minhash" ->
      s"WITH $MinhashPairsCtes\n$JaccardTailSql",
    "q38_dedup_clusters" ->
      s"""WITH RECURSIVE $MinhashPairsCtes,
         |vp AS ($JaccardTailSql),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM vp
         |      UNION SELECT doc_b, doc_a FROM vp),
         |reach AS (
         |  SELECT src AS node, src AS lab FROM e
         |  UNION
         |  SELECT e.dst, r.lab FROM reach r JOIN e ON e.src = r.node
         |),
         |cc AS (SELECT node AS doc_id, min(lab) AS cluster_id
         |       FROM reach GROUP BY node)
         |SELECT doc_id, cluster_id,
         |       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
         |FROM cc""".stripMargin,
    "q46_dedup_keep" ->
      s"""WITH RECURSIVE $MinhashPairsCtes,
         |vp AS ($JaccardTailSql),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM vp
         |      UNION SELECT doc_b, doc_a FROM vp),
         |reach AS (
         |  SELECT src AS node, src AS lab FROM e
         |  UNION
         |  SELECT e.dst, r.lab FROM reach r JOIN e ON e.src = r.node
         |),
         |cc AS (SELECT node AS doc_id, min(lab) AS cluster_id
         |       FROM reach GROUP BY node)
         |SELECT doc_id, source, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM cc WHERE doc_id <> cluster_id)""".stripMargin,
    "q47_event_rollup" ->
      s"""WITH $SrcCte
         |SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         |  count(*) AS n_events, count(DISTINCT user_id) AS n_users,
         |  CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT)
         |    AS value_micro_sum,
         |  min(value) AS min_value, max(value) AS max_value
         |FROM src GROUP BY 1, 2""".stripMargin,
    "q50_split" ->
      """SELECT doc_id, CASE WHEN b < 900 THEN 'train'
        |  WHEN b < 950 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 1000 AS b
        |FROM documents)""".stripMargin,
    "q51_histogram" ->
      """SELECT bin, count(*) AS n, 0.0 + bin * 5000.0 AS lo_edge FROM (
        |  SELECT CAST(least(greatest(
        |      floor((l_extendedprice - 0.0) * 22.0 / 110000.0), 0.0), 21.0)
        |    AS BIGINT) AS bin
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL)
        |GROUP BY bin""".stripMargin,
    "q52_rolling_events" ->
      s"""WITH $SrcCte
         |SELECT event_id, user_id, ts,
         |  count(*) OVER w AS n_window,
         |  CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) OVER w AS BIGINT)
         |    AS value_micro_sum_window
         |FROM src
         |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
         |  RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)""".stripMargin,
    "q57_star_join" ->
      """SELECT r_name, n_name, count(*) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice * 1000000.0) AS BIGINT)) AS BIGINT)
        |    AS revenue_micro,
        |  count(DISTINCT o_custkey) AS n_customers
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2""".stripMargin,
    "q62_attribution" ->
      s"""WITH $SrcCte,
         |ch AS (SELECT *, coalesce(
         |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
         |               IGNORE NULLS)
         |      OVER (PARTITION BY user_id ORDER BY ts, event_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |    'direct') AS channel
         |  FROM src)
         |SELECT channel, count(*) AS n_conversions FROM ch
         |WHERE event_type = 'purchase' GROUP BY 1""".stripMargin,
    "q61_retention" ->
      s"""WITH $SrcCte,
         |c AS (SELECT user_id, min(date_trunc('week', ts)) AS cw
         |  FROM src WHERE event_type = 'signup' GROUP BY 1),
         |a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS week
         |  FROM src)
         |SELECT CAST(cw AS TIMESTAMP) AS cohort_week,
         |  date_diff('day', cw, week) // 7 AS week_offset,
         |  count(*) AS n_active
         |FROM a JOIN c USING (user_id)
         |WHERE week >= cw
         |GROUP BY 1, 2""".stripMargin,
    "q60_funnel" ->
      s"""WITH $SrcCte,
         |w1 AS (SELECT *, min(CASE WHEN event_type = 'signup' THEN ts END)
         |    OVER (PARTITION BY user_id) AS s0 FROM src),
         |w2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts >= s0
         |    THEN ts END) OVER (PARTITION BY user_id) AS s1 FROM w1),
         |w3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts >= s1
         |    THEN ts END) OVER (PARTITION BY user_id) AS s2 FROM w2),
         |u AS (SELECT user_id, bool_or(s0 IS NOT NULL) AS h0,
         |    bool_or(s1 IS NOT NULL) AS h1, bool_or(s2 IS NOT NULL) AS h2
         |  FROM w3 GROUP BY 1)
         |SELECT count(*) AS n_users,
         |  CAST(sum(CASE WHEN h0 THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
         |  CAST(sum(CASE WHEN h1 THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
         |  CAST(sum(CASE WHEN h2 THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase
         |FROM u""".stripMargin,
    "q59_quantiles" ->
      s"""WITH $SrcCte,
         |r AS (SELECT event_type, value,
         |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS n
         |  FROM src WHERE value IS NOT NULL),
         |x AS (SELECT *, unnest([50, 90, 99]) AS q FROM r)
         |SELECT event_type, q, value AS q_value FROM x
         |WHERE rn = (n * q + 99) // 100""".stripMargin,
    "q58_sliding_events" ->
      s"""WITH $SrcCte,
         |x AS (SELECT ts, event_type, value, unnest([0, 1]) AS k FROM src)
         |SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) - to_days(k)
         |    AS window_start,
         |  event_type, count(*) AS n_events,
         |  CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT)
         |    AS value_micro_sum
         |FROM x GROUP BY 1, 2""".stripMargin,
    "q48_profile_lineitem" ->
      LineitemCols.map { c =>
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
           |  count(*) - count($c) AS n_nulls,
           |  count(DISTINCT $c) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_str,
           |  CAST(max($c) AS VARCHAR) AS max_str FROM lineitem""".stripMargin
      }.mkString("\nUNION ALL\n"),
    // Sketch tier: the oracle reproduces the exact companions and asserts
    // the within-tolerance verdict is TRUE for every row — the estimator
    // values themselves are engine-specific and stay out of the output.
    "q96_profile_approx" ->
      LineitemCols.map { c =>
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
           |  count(*) - count($c) AS n_nulls,
           |  count(DISTINCT $c) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_str,
           |  CAST(max($c) AS VARCHAR) AS max_str, TRUE AS ndv_ok
           |FROM lineitem""".stripMargin
      }.mkString("\nUNION ALL\n"),
    "q97_quantiles_approx" ->
      s"""WITH $SrcCte,
         |g AS (SELECT event_type, count(*) AS n FROM src
         |  WHERE value IS NOT NULL GROUP BY 1)
         |SELECT event_type, unnest([50, 90, 99]) AS q, n,
         |  TRUE AS rank_ok FROM g""".stripMargin,
    "q98_hll_union" ->
      s"""WITH $SrcCte
         |SELECT event_type, count(*) AS n_events,
         |  count(DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP)) AS n_days,
         |  TRUE AS ndv_ok
         |FROM src GROUP BY 1""".stripMargin,
    "q19_dedup_simhash" ->
      s"""WITH $ToksCte, $SimhashCte
         |SELECT doc_id, simhash FROM sig""".stripMargin,
    "q20_dedup_simhash_pairs" ->
      s"""WITH $ToksCte, $SimhashCte,
         |bands AS (SELECT doc_id, simhash,
         |  unnest(list_transform(generate_series(0, 3), b ->
         |    CAST(b AS VARCHAR) || ':' || CAST((simhash >> (b * 8)) & 255 AS VARCHAR))) AS bk
         |FROM sig)
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  a.simhash AS simhash_a, b.simhash AS simhash_b
         |FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,
    "q21_embed_neardup" ->
      s"""SELECT id_a, id_b, round(cosine, 4) AS cosine FROM (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    ${cosSql("a.embedding", "b.embedding")} AS cosine
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
         |WHERE cosine >= 0.4""".stripMargin,
    "q22_ann_brute" ->
      s"""WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 32),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${cosSql("q.embedding", "c.embedding")} AS cosine
         |  FROM embeddings c JOIN q ON q.vec_id <> c.vec_id)
         |$TopKTailSql""".stripMargin,
    "q23_ann_lsh" ->
      s"""WITH bk AS (SELECT vec_id, embedding,
         |${(0 until 8).map(p =>
            s"  (CASE WHEN ${projSql(p)} >= 0 THEN '1' ELSE '0' END)").mkString(" ||\n")}
         |  AS b FROM embeddings),
         |q AS (SELECT * FROM bk WHERE vec_id < 32),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${cosSql("q.embedding", "c.embedding")} AS cosine
         |  FROM bk c JOIN q ON c.b = q.b AND q.vec_id <> c.vec_id)
         |$TopKTailSql""".stripMargin,
    "q24_ann_ivf" ->
      s"""WITH cents AS (SELECT vec_id AS centroid_id, embedding AS mv
         |  FROM embeddings ORDER BY vec_id LIMIT 16),
         |asg0 AS (SELECT e.vec_id AS id, e.embedding, c.centroid_id,
         |    ${cosSql("e.embedding", "c.mv")} AS s
         |  FROM embeddings e CROSS JOIN cents c),
         |asg AS (SELECT id, embedding, centroid_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY id ORDER BY s DESC, centroid_id) AS rn
         |    FROM asg0) WHERE rn = 1),
         |q AS (SELECT * FROM asg WHERE id < 32),
         |scored AS (
         |  SELECT q.id AS query_id, c.id AS neighbor_id,
         |    ${cosSql("q.embedding", "c.embedding")} AS cosine
         |  FROM asg c JOIN q ON c.centroid_id = q.centroid_id AND q.id <> c.id)
         |$TopKTailSql""".stripMargin,
    "q44_ann_ivf_probe2" ->
      s"""WITH cents AS (SELECT vec_id AS centroid_id, embedding AS mv
         |  FROM embeddings ORDER BY vec_id LIMIT 16),
         |asg0 AS (SELECT e.vec_id AS id, e.embedding, c.centroid_id,
         |    ${cosSql("e.embedding", "c.mv")} AS s
         |  FROM embeddings e CROSS JOIN cents c),
         |asg AS (SELECT id, embedding, centroid_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY id ORDER BY s DESC, centroid_id) AS rn
         |    FROM asg0) WHERE rn = 1),
         |q AS (SELECT id, embedding, centroid_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY id ORDER BY s DESC, centroid_id) AS rn
         |    FROM asg0 WHERE id < 32) WHERE rn <= 2),
         |scored AS (
         |  SELECT q.id AS query_id, c.id AS neighbor_id,
         |    ${cosSql("q.embedding", "c.embedding")} AS cosine
         |  FROM asg c JOIN q ON c.centroid_id = q.centroid_id AND q.id <> c.id)
         |$TopKTailSql""".stripMargin,
    "q56_asof_enrich" ->
      s"""WITH hist AS (
         |  WITH $SrcCte, ${scd2FullSql(AllCheck, deletes = false,
                                        from = "(SELECT * FROM src WHERE event_id % 2 = 0)")}
         |),
         |f AS (WITH $SrcCte SELECT event_id, user_id, ts FROM src
         |      WHERE event_id % 2 = 1)
         |SELECT f.event_id, f.user_id, f.ts,
         |  h.event_id AS dim_event_id, h.ts AS dim_ts,
         |  h.event_type AS dim_event_type, h.value AS dim_value,
         |  h.props AS dim_props
         |FROM f LEFT JOIN hist h
         |  ON f.user_id = h.user_id
         |  AND h._valid_from <= f.ts AND f.ts < h._valid_to""".stripMargin,
    "q55_corpus_pipeline" ->
      s"""WITH RECURSIVE toks0 AS (SELECT doc_id, text,
         |  regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM documents),
         |met AS (SELECT doc_id, text, t,
         |    length(text) AS n_chars,
         |    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(t) END AS n_tokens,
         |    len(regexp_extract_all(text, '$PunctRegexSql')) AS n_punct,
         |    len(list_filter(t, x -> list_contains(${sqlList(AllStopwords)}, x))) AS n_stopwords
         |  FROM toks0),
         |q AS (SELECT doc_id, text, t, n_tokens FROM met
         |  WHERE n_tokens >= 20 AND n_tokens <= 100000
         |    AND n_punct * 5 < n_chars AND n_stopwords * 100 >= n_tokens),
         |toks AS (SELECT doc_id, text, t FROM q),
         |$MinhashPairsCtesNoToks,
         |vp AS ($JaccardTailSql),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM vp
         |      UNION SELECT doc_b, doc_a FROM vp),
         |reach AS (
         |  SELECT src AS node, src AS lab FROM e
         |  UNION
         |  SELECT e.dst, r.lab FROM reach r JOIN e ON e.src = r.node
         |),
         |cc AS (SELECT node AS doc_id, min(lab) AS cluster_id
         |       FROM reach GROUP BY node),
         |kept AS (SELECT doc_id, n_tokens FROM q
         |  WHERE doc_id NOT IN (SELECT doc_id FROM cc WHERE doc_id <> cluster_id))
         |SELECT CASE WHEN b < 900 THEN 'train'
         |    WHEN b < 950 THEN 'val' ELSE 'test' END AS split,
         |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         |FROM (SELECT doc_id, n_tokens,
         |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 1000 AS b
         |  FROM kept)
         |GROUP BY 1""".stripMargin,
    "q53_kmeans_step" ->
      s"""WITH cents AS (SELECT vec_id AS centroid_id, embedding AS mv
         |  FROM embeddings ORDER BY vec_id LIMIT 16),
         |asg0 AS (SELECT e.vec_id AS id, e.embedding, c.centroid_id,
         |    ${cosSql("e.embedding", "c.mv")} AS s
         |  FROM embeddings e CROSS JOIN cents c),
         |asg AS (SELECT id, embedding, centroid_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY id ORDER BY s DESC, centroid_id) AS rn
         |    FROM asg0) WHERE rn = 1),
         |ex AS (SELECT centroid_id,
         |    unnest(generate_series(1, len(embedding))) AS dim,
         |    unnest(list_transform(embedding,
         |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))) AS vmicro
         |  FROM asg)
         |SELECT centroid_id, dim, count(*) AS n,
         |  CAST(sum(vmicro) AS BIGINT) AS sum_micro
         |FROM ex GROUP BY 1, 2""".stripMargin,
    "q54_pivot_events" ->
      s"""WITH $SrcCte
         |SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         |  count(*) FILTER (event_type = 'click') AS n_click,
         |  count(*) FILTER (event_type = 'error') AS n_error,
         |  count(*) FILTER (event_type = 'purchase') AS n_purchase,
         |  count(*) FILTER (event_type = 'signup') AS n_signup,
         |  count(*) FILTER (event_type = 'view') AS n_view
         |FROM src GROUP BY 1""".stripMargin,
    "q25_multimodal_meta" ->
      s"""WITH $MediaCte
         |SELECT doc_id, modality, width::INT AS width, height::INT AS height,
         |  CAST(length(text) * 1000 // 8000 AS BIGINT) AS duration_ms,
         |  n_frames::INT AS n_frames
         |FROM m""".stripMargin,
    // q26: byte stats over the payload PLUS the container-header round-trip —
    // hdr_* recomputed here from the same text-derived parameters the ingest
    // encodes into real PNG/WAV/MP4 binaries; the Spark side must PARSE them
    // back out of the bytes (CRC-checked IHDR, RIFF chunk walk, mvhd box).
    "q26_multimodal_features" ->
      s"""WITH $MediaCte,
         |b AS (SELECT doc_id, modality, width, height, n_frames,
         |    length(text) AS chars, 1 + (length(text) % 2) AS ch,
         |    octet_length(encode(text)) AS n_bytes,
         |    list_transform(generate_series(1, length(text)), i -> ord(substr(text, i, 1))) AS bytes
         |  FROM m)
         |SELECT doc_id, modality, n_bytes::INT AS n_bytes,
         |  CAST(list_sum(bytes) AS BIGINT) AS byte_sum,
         |  len(list_distinct(bytes))::INT AS n_distinct_bytes,
         |  CAST(CASE WHEN n_bytes = 0 THEN 0
         |       ELSE list_sum(bytes) * 10000 // n_bytes END AS BIGINT) AS mean_byte_e4,
         |  least(width, 224)::INT AS resized_width,
         |  least(height, 224)::INT AS resized_height,
         |  array_to_string(list_sort(list_distinct([0, n_frames // 2, n_frames - 1])), ',') AS sampled_frames,
         |  (CASE WHEN modality = 'image' THEN width ELSE 0 END)::INT AS hdr_width,
         |  (CASE WHEN modality = 'image' THEN height ELSE 0 END)::INT AS hdr_height,
         |  (CASE WHEN modality = 'image' THEN 8 ELSE 0 END)::INT AS hdr_bit_depth,
         |  (CASE WHEN modality = 'audio' THEN ch ELSE 0 END)::INT AS hdr_channels,
         |  (CASE WHEN modality = 'audio' THEN 8000 + (chars % 8) * 1000
         |        ELSE 0 END)::INT AS hdr_sample_rate,
         |  CAST(CASE WHEN modality = 'audio' THEN (n_bytes + ch - 1) // ch
         |       ELSE 0 END AS BIGINT) AS hdr_n_samples,
         |  CAST(CASE WHEN modality = 'video' THEN chars * 1000 // 8000
         |       ELSE 0 END AS BIGINT) AS hdr_duration_ms
         |FROM b""".stripMargin,
    "q27_scd2_lineitem" -> Q27Sql,
    "q28_embed_neardup_lsh" ->
      s"""WITH bk AS (SELECT vec_id, embedding,
         |${(0 until 4).map(p =>
            s"  (CASE WHEN ${projSql(p)} >= 0 THEN '1' ELSE '0' END)").mkString(" ||\n")}
         |  AS b FROM embeddings)
         |SELECT id_a, id_b, round(cosine, 4) AS cosine FROM (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    ${cosSql("a.embedding", "b.embedding")} AS cosine
         |  FROM bk a JOIN bk b ON a.b = b.b AND a.vec_id < b.vec_id)
         |WHERE cosine >= 0.4""".stripMargin,
    "q29_token_stats" ->
      s"""WITH $ToksCte,
         |tok AS (SELECT doc_id, unnest(t) AS token FROM toks)
         |SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
         |FROM tok GROUP BY 1""".stripMargin,
    "q45_top_tokens_lang" ->
      s"""WITH $ToksCte,
         |hits AS (SELECT doc_id, text, t,
         |${TextAnalysis.Stopwords.keys.map(l =>
            s"  len(list_filter(t, x -> list_contains(${sqlList(TextAnalysis.Stopwords(l))}, x))) AS h_$l").mkString(",\n")}
         |FROM toks),
         |langs AS (SELECT CASE
         |  WHEN text IS NULL THEN 'und'
         |  WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
         |${TextAnalysis.Stopwords.keys.map(l =>
            s"  WHEN greatest(h_en, h_es, h_fr, h_de) > 0 AND h_$l = greatest(h_en, h_es, h_fr, h_de) THEN '$l'").mkString("\n")}
         |  ELSE 'und' END AS lang_pred, t FROM hits),
         |tok AS (SELECT lang_pred, unnest(t) AS token FROM langs),
         |tf AS (SELECT lang_pred, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         |ranked AS (SELECT *, row_number() OVER (
         |    PARTITION BY lang_pred ORDER BY tf DESC, token) AS "rank" FROM tf)
         |SELECT lang_pred, token, tf, "rank" FROM ranked
         |WHERE "rank" <= 10""".stripMargin,
    "q49_tfidf_terms" ->
      s"""WITH $ToksCte,
         |tok AS (SELECT doc_id, unnest(t) AS token FROM toks),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
         |scored AS (SELECT doc_id, token, tf, df,
         |    (tf * 1000000) // df AS score_ppm
         |  FROM tf JOIN dfreq USING (token)),
         |ranked AS (SELECT *, row_number() OVER (
         |    PARTITION BY doc_id ORDER BY score_ppm DESC, token) AS "rank"
         |  FROM scored)
         |SELECT doc_id, "rank", token, tf, df, score_ppm FROM ranked
         |WHERE "rank" <= 5""".stripMargin,
    "q30_clean_corpus" ->
      s"""WITH $ToksCte,
         |met AS (SELECT doc_id, text, t,
         |    length(text) AS n_chars,
         |    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(t) END AS n_tokens,
         |    len(regexp_extract_all(text, '$PunctRegexSql')) AS n_punct,
         |    len(list_filter(t, x -> list_contains(${sqlList(AllStopwords)}, x))) AS n_stopwords
         |  FROM toks),
         |qual AS (SELECT * FROM met
         |  WHERE n_tokens >= 20 AND n_tokens <= 100000
         |    AND n_punct * 5 < n_chars AND n_stopwords * 100 >= n_tokens),
         |canon AS (SELECT min(doc_id) AS doc_id FROM toks
         |  GROUP BY md5(array_to_string(t, ' '))),
         |hits AS (SELECT doc_id, text, n_tokens, n_stopwords,
         |${TextAnalysis.Stopwords.keys.map(l =>
            s"  len(list_filter(t, x -> list_contains(${sqlList(TextAnalysis.Stopwords(l))}, x))) AS h_$l").mkString(",\n")}
         |FROM qual WHERE doc_id IN (SELECT doc_id FROM canon))
         |SELECT doc_id, CASE
         |  WHEN text IS NULL THEN 'und'
         |  WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
         |${TextAnalysis.Stopwords.keys.map(l =>
            s"  WHEN greatest(h_en, h_es, h_fr, h_de) > 0 AND h_$l = greatest(h_en, h_es, h_fr, h_de) THEN '$l'").mkString("\n")}
         |  ELSE 'und' END AS lang_pred,
         |  n_tokens, n_stopwords
         |FROM hits""".stripMargin,

    // --- Round 3: decontamination / packing / retrieval / sampling / mix /
    //     PQ codes ---------------------------------------------------------
    "q68_decontaminate" ->
      s"""WITH $ToksCte, ${shingleCte("sh3", 3)},
         |evsh AS (SELECT DISTINCT unnest(shs) AS sh FROM sh3 WHERE doc_id % 10 = 0),
         |train AS (SELECT doc_id, shs FROM sh3 WHERE doc_id % 10 <> 0),
         |tsh AS (SELECT doc_id, unnest(shs) AS sh FROM train),
         |shared AS (SELECT t.doc_id, count(*) AS n_shared
         |  FROM tsh t JOIN evsh e ON e.sh = t.sh GROUP BY 1)
         |SELECT t.doc_id, len(t.shs) AS n_shingles,
         |  coalesce(s.n_shared, 0) AS n_shared,
         |  (coalesce(s.n_shared, 0) * 5 >= len(t.shs)) AS is_contaminated
         |FROM train t LEFT JOIN shared s ON s.doc_id = t.doc_id""".stripMargin,
    "q69_pack_sequences" ->
      """WITH sized AS (SELECT lang, doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(lower(trim(text)), '\s+')) END AS nt
        |  FROM documents),
        |cum AS (SELECT lang, doc_id, nt,
        |  CAST(sum(nt) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c FROM sized),
        |binned AS (SELECT lang, (c - nt) // 512 AS bin_id, nt FROM cum)
        |SELECT lang, bin_id, count(*) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS n_tokens,
        |  (CAST(sum(nt) AS BIGINT) * 1000000) // 512 AS fill_ppm
        |FROM binned GROUP BY 1, 2""".stripMargin,
    "q70_bm25" ->
      s"""WITH $ToksCte,
         |tok AS (SELECT doc_id, unnest(t) AS token FROM toks),
         |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
         |scal AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sdl FROM dl),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
         |  WHERE token IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")}) GROUP BY 1, 2),
         |dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
         |scored AS (SELECT t.doc_id,
         |    ((s.n_docs - f.df) * 1000000) // s.n_docs AS idf_ppm,
         |    (t.tf * 44 * s.sdl * 1000000)
         |      // (20*s.sdl*t.tf + 6*s.sdl + 18*d.dl*s.n_docs) AS tfc_ppm
         |  FROM tf t JOIN dfq f USING (token) JOIN dl d USING (doc_id)
         |  CROSS JOIN scal s),
         |agg AS (SELECT doc_id,
         |    CAST(sum((idf_ppm * tfc_ppm) // 1000000) AS BIGINT) AS score_ppm,
         |    count(*) AS n_terms FROM scored GROUP BY 1)
         |SELECT * FROM (SELECT row_number() OVER (ORDER BY score_ppm DESC, doc_id)
         |    AS "rank", doc_id, score_ppm, n_terms FROM agg)
         |WHERE "rank" <= 20""".stripMargin,
    "q71_stratified_sample" ->
      """SELECT lang, sample_rank, doc_id FROM (
        |  SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS sample_rank
        |  FROM documents)
        |WHERE sample_rank <= 40""".stripMargin,
    "q72_corpus_mix" ->
      s"""WITH mtoks AS (SELECT source, text,
         |  regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM documents),
         |hits AS (SELECT source, text,
         |  CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(t) END AS nt,
         |${TextAnalysis.Stopwords.keys.map(l =>
            s"  len(list_filter(t, x -> list_contains(${sqlList(TextAnalysis.Stopwords(l))}, x))) AS h_$l").mkString(",\n")}
         |FROM mtoks),
         |base AS (SELECT source, CASE
         |  WHEN text IS NULL THEN 'und'
         |  WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
         |${TextAnalysis.Stopwords.keys.map(l =>
            s"  WHEN greatest(h_en, h_es, h_fr, h_de) > 0 AND h_$l = greatest(h_en, h_es, h_fr, h_de) THEN '$l'").mkString("\n")}
         |  ELSE 'und' END AS lang_pred, nt FROM hits),
         |g AS (SELECT source, lang_pred, count(*) AS n_docs,
         |  CAST(sum(nt) AS BIGINT) AS n_tokens FROM base GROUP BY 1, 2),
         |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM g)
         |SELECT source, lang_pred, n_docs, n_tokens,
         |  (n_docs * 1000000) // total AS share_ppm
         |FROM g CROSS JOIN tot""".stripMargin,
    "q73_pq_assign" ->
      s"""WITH $PqDistCtes
        |SELECT vec_id, s AS sub, k AS code, dist2 FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id, s
        |    ORDER BY dist2, k) AS rn FROM d)
        |WHERE rn = 1""".stripMargin,
    "q74_ivfpq" ->
      s"""WITH $PqDistCtes,
         |code AS (SELECT vec_id, s, k AS code FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id, s
         |      ORDER BY dist2, k) AS rn FROM d)
         |  WHERE rn = 1),
         |lut AS (SELECT vec_id AS query_id, s, k, dist2 FROM d WHERE vec_id < 32),
         |scored AS (SELECT l.query_id, c.vec_id AS neighbor_id,
         |    CAST(sum(l.dist2) AS BIGINT) AS adc_dist2
         |  FROM code c JOIN lut l ON l.s = c.s AND l.k = c.code
         |    AND l.query_id <> c.vec_id
         |  GROUP BY 1, 2)
         |SELECT query_id, "rank", neighbor_id, adc_dist2 FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY adc_dist2, neighbor_id) AS "rank" FROM scored)
         |WHERE "rank" <= 10""".stripMargin,
    "q75_oov_rate" ->
      s"""WITH $ToksCte,
         |tok AS (SELECT doc_id, unnest(t) AS token FROM toks),
         |tf AS (SELECT token, count(*) AS tf FROM tok GROUP BY 1),
         |v AS (SELECT token FROM (
         |    SELECT token, row_number() OVER (ORDER BY tf DESC, token) AS rk
         |    FROM tf) WHERE rk <= 100)
         |SELECT doc_id, count(*) AS n_tokens,
         |  CAST(count(*) - count(v.token) AS BIGINT) AS n_oov,
         |  ((count(*) - count(v.token)) * 1000000) // count(*) AS oov_ppm
         |FROM tok LEFT JOIN v ON v.token = tok.token
         |GROUP BY 1""".stripMargin,

    // --- Round 3, second sweep ------------------------------------------
    "q76_json_props" ->
      s"""WITH $SrcCte,
         |typed AS (SELECT event_type,
         |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k FROM src)
         |SELECT event_type, count(*) AS n_events, count(k) AS n_with_k,
         |  CAST(sum(k) AS BIGINT) AS k_sum, min(k) AS k_min, max(k) AS k_max,
         |  count(DISTINCT k) AS k_distinct
         |FROM typed GROUP BY 1""".stripMargin,
    "q77_session_dim_overlap" -> OverlapOracleSql,
    // Identical rows by construction: the horizon clamp only caps sentinel
    // windows, and every session ends at or before the horizon, so the
    // least()/predicate arms the clamp touches are never binding.
    "q84_overlap_bucketed" -> OverlapOracleSql,
    "q78_fuzzy_linkage" ->
      """WITH p AS (SELECT p_partkey, p_name, p_size,
        |    split_part(p_name, ' ', 2) AS p_noun FROM part)
        |SELECT a.p_noun, a.p_size, a.p_partkey AS id_a, b.p_partkey AS id_b,
        |  levenshtein(a.p_name, b.p_name) AS dist
        |FROM p a JOIN p b ON a.p_noun = b.p_noun AND a.p_size = b.p_size
        |  AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 4""".stripMargin,
    "q79_bigram_lm" ->
      s"""WITH $ToksCte,
         |big AS (SELECT unnest(list_transform(generate_series(0, len(t) - 2),
         |    i -> t[i+1] || ' ' || t[i+2])) AS bigram
         |  FROM toks WHERE len(t) >= 2),
         |tf AS (SELECT bigram, count(*) AS tf FROM big GROUP BY 1),
         |ft AS (SELECT *, CAST(sum(tf) OVER (
         |    PARTITION BY split_part(bigram, ' ', 1)) AS BIGINT) AS first_tf
         |  FROM tf)
         |SELECT "rank", bigram, tf, first_tf,
         |  (tf * 1000000) // first_tf AS cond_ppm
         |FROM (SELECT *, row_number() OVER (ORDER BY tf DESC, bigram)
         |        AS "rank" FROM ft)
         |WHERE "rank" <= 20""".stripMargin,
    "q80_scd2_cdc" ->
      s"""WITH $SrcCte,
         |src0 AS (SELECT * FROM src WHERE event_id % 2 = 0),
         |o AS (
         |  WITH ${scd2FullSql(AllCheck, deletes = false, from = "src0")}
         |),
         |n AS (
         |  WITH ${scd2TwoPhaseSql(AllCheck, deletes = false,
                                   "event_id % 2 = 0", "event_id % 2 = 1")}
         |),
         |j AS (SELECT
         |    o.user_id AS o_uid, o.ts AS o_ts, o.event_id AS o_eid,
         |    o.event_type AS o_et, o.value AS o_v, o.props AS o_p,
         |    o._is_current AS o_ic, o._valid_from AS o_vf,
         |    o._valid_to AS o_vt, o._change_type AS o_ct,
         |    n.user_id AS n_uid, n.ts AS n_ts, n.event_id AS n_eid,
         |    n.event_type AS n_et, n.value AS n_v, n.props AS n_p,
         |    n._is_current AS n_ic, n._valid_from AS n_vf,
         |    n._valid_to AS n_vt, n._change_type AS n_ct
         |  FROM o FULL JOIN n ON o.user_id = n.user_id AND o.ts = n.ts)
         |SELECT * FROM (SELECT
         |  coalesce(n_uid, o_uid) AS user_id, coalesce(n_ts, o_ts) AS ts,
         |  CASE WHEN o_uid IS NULL THEN 'insert'
         |       WHEN n_uid IS NULL THEN 'delete'
         |       WHEN NOT (o_eid IS NOT DISTINCT FROM n_eid
         |             AND o_et IS NOT DISTINCT FROM n_et
         |             AND o_v IS NOT DISTINCT FROM n_v
         |             AND o_p IS NOT DISTINCT FROM n_p
         |             AND o_ic IS NOT DISTINCT FROM n_ic
         |             AND o_vf IS NOT DISTINCT FROM n_vf
         |             AND o_vt IS NOT DISTINCT FROM n_vt
         |             AND o_ct IS NOT DISTINCT FROM n_ct) THEN 'update'
         |  END AS change_kind,
         |  CAST(o_ic AS VARCHAR) AS old_is_current,
         |  CAST(n_ic AS VARCHAR) AS new_is_current,
         |  o_vf AS old_valid_from, n_vf AS new_valid_from,
         |  o_vt AS old_valid_to, n_vt AS new_valid_to,
         |  o_ct AS old_change_type, n_ct AS new_change_type
         |FROM j) WHERE change_kind IS NOT NULL""".stripMargin,
    "q81_k_anonymize" ->
      """WITH g AS (SELECT c_custkey, c_nationkey AS nation,
        |    c_mktsegment AS segment,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS acct_band
        |  FROM customer),
        |s AS (SELECT *, count(*) OVER (
        |    PARTITION BY nation, segment, acct_band) AS class_size FROM g)
        |SELECT c_custkey,
        |  CASE WHEN class_size < 5 THEN NULL ELSE nation END AS nation,
        |  CASE WHEN class_size < 5 THEN NULL ELSE segment END AS segment,
        |  CASE WHEN class_size < 5 THEN NULL ELSE acct_band END AS acct_band,
        |  class_size, class_size < 5 AS suppressed
        |FROM s""".stripMargin,
    "q82_salted_join" ->
      s"""WITH $SrcCte
         |SELECT c.c_mktsegment, count(*) AS n_events,
         |  CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT)
         |    AS value_micro_sum
         |FROM src e JOIN customer c ON e.user_id = c.c_custkey
         |GROUP BY 1""".stripMargin,
    "q83_winnow" ->
      s"""WITH $ToksCte,
         |shn AS (SELECT doc_id,
         |  CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
         |  ELSE list_transform(generate_series(0, len(t) - 3),
         |         i -> array_to_string(t[i+1:i+3], ' ')) END AS shs FROM toks),
         |hs AS (SELECT doc_id, list_transform(shs, s -> md5(s)) AS h FROM shn),
         |sel AS (SELECT doc_id,
         |  CASE WHEN len(h) <= 4 THEN [list_min(h)]
         |  ELSE list_transform(generate_series(0, len(h) - 4),
         |         i -> list_min(h[i+1:i+4])) END AS fps FROM hs)
         |SELECT doc_id, unnest(list_distinct(fps)) AS fingerprint
         |FROM sel""".stripMargin,
    "q85_rollup_regions" ->
      """SELECT r_name, n_name, count(*) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice * 1000000.0) AS BIGINT)) AS BIGINT)
        |    AS revenue_micro,
        |  GROUPING(r_name, n_name) AS gid
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)""".stripMargin,
    "q86_equidepth" ->
      """WITH b AS (SELECT CAST(least(greatest(
        |    floor((l_extendedprice - 0.0) * 10000.0 / 110000.0), 0.0), 9999.0)
        |    AS BIGINT) AS micro
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |g AS (SELECT micro, count(*) AS n FROM b GROUP BY 1),
        |cw AS (SELECT *,
        |    CAST(sum(n) OVER (ORDER BY micro ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cum,
        |    CAST(sum(n) OVER () AS BIGINT) AS total FROM g),
        |f AS (SELECT least(((cum - n) * 10) // total, 9) AS bin, n, micro
        |  FROM cw)
        |SELECT bin, CAST(sum(n) AS BIGINT) AS n_rows,
        |  min(micro) AS micro_min, max(micro) AS micro_max,
        |  0.0 + min(micro) * 11.0 AS lo_edge
        |FROM f GROUP BY 1""".stripMargin,
    "q87_transitions" ->
      s"""WITH $SrcCte,
         |l AS (SELECT event_type, lag(event_type) OVER (
         |    PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
         |  FROM src)
         |SELECT prev_type, event_type, count(*) AS n
         |FROM l WHERE prev_type IS NOT NULL GROUP BY 1, 2""".stripMargin,
    "q88_int8_quantize" ->
      """WITH q AS (SELECT vec_id, embedding,
        |    CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE)
        |      AS ma
        |  FROM embeddings)
        |SELECT vec_id,
        |  unnest(generate_series(0, len(embedding) - 1)) AS i,
        |  unnest(list_transform(embedding, x -> CASE WHEN ma = 0 THEN 0
        |    ELSE CAST(floor(CAST(x AS DOUBLE) * 127.0 / ma) AS INTEGER) END))
        |    AS code
        |FROM q""".stripMargin,
    "q89_blocklist" ->
      s"""WITH $ToksCte,
         |fp AS (SELECT doc_id, md5(array_to_string(t, ' ')) AS f FROM toks),
         |bl AS (SELECT DISTINCT f FROM fp WHERE doc_id % 10 = 0)
         |SELECT d.doc_id, d.lang, d.source
         |FROM documents d JOIN fp ON fp.doc_id = d.doc_id
         |WHERE d.doc_id % 10 <> 0
         |  AND fp.f NOT IN (SELECT f FROM bl)""".stripMargin,
    "q90_outliers" ->
      s"""WITH $SrcCte,
         |r AS (SELECT event_type, value,
         |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS n
         |  FROM src WHERE value IS NOT NULL),
         |thr AS (SELECT event_type, value AS p99 FROM r
         |  WHERE rn = (n * 99 + 99) // 100)
         |SELECT e.event_id, e.user_id, e.event_type, e.value, t.p99
         |FROM src e JOIN thr t ON e.event_type = t.event_type
         |WHERE e.value > t.p99""".stripMargin,
    "q91_minmax_scale" ->
      """WITH x AS (SELECT min(l_extendedprice) AS lo1, max(l_extendedprice) AS hi1,
        |    min(l_quantity) AS lo2, max(l_quantity) AS hi2,
        |    min(l_discount) AS lo3, max(l_discount) AS hi3 FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |  CASE WHEN hi1 = lo1 THEN 0 ELSE CAST(floor(
        |    (l_extendedprice - lo1) * 1000000.0 / (hi1 - lo1)) AS BIGINT)
        |  END AS l_extendedprice_ppm,
        |  CASE WHEN hi2 = lo2 THEN 0 ELSE CAST(floor(
        |    (l_quantity - lo2) * 1000000.0 / (hi2 - lo2)) AS BIGINT)
        |  END AS l_quantity_ppm,
        |  CASE WHEN hi3 = lo3 THEN 0 ELSE CAST(floor(
        |    (l_discount - lo3) * 1000000.0 / (hi3 - lo3)) AS BIGINT)
        |  END AS l_discount_ppm
        |FROM lineitem CROSS JOIN x""".stripMargin,
    "q92_user_paths" ->
      s"""WITH $SrcCte,
         |p AS (SELECT user_id, array_to_string(
         |    (list(event_type ORDER BY ts, event_id))[1:8], '>') AS path
         |  FROM src GROUP BY 1)
         |SELECT path, count(*) AS n_users FROM p GROUP BY 1""".stripMargin,
    "q93_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |  CAST(sum(CAST(floor(l_quantity * 1000000.0) AS BIGINT)) AS BIGINT)
        |    AS qty_micro,
        |  CAST(sum(CAST(floor(l_extendedprice * 1000000.0) AS BIGINT))
        |    AS BIGINT) AS base_micro,
        |  CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount)
        |    * 1000000.0) AS BIGINT)) AS BIGINT) AS disc_micro,
        |  CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount)
        |    * (1.0 + l_tax) * 1000000.0) AS BIGINT)) AS BIGINT)
        |    AS charge_micro
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1999-09-02 00:00:00'
        |GROUP BY 1, 2""".stripMargin,
    "q94_shipping_priority" ->
      """WITH rev AS (
        |  SELECT l_orderkey, o_orderdate, o_orderpriority,
        |    CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount)
        |      * 1000000.0) AS BIGINT)) AS BIGINT) AS revenue_micro
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment = 'BUILDING'
        |    AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
        |    AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
        |  GROUP BY 1, 2, 3)
        |SELECT * FROM rev
        |ORDER BY revenue_micro DESC, l_orderkey LIMIT 10""".stripMargin,
    "q95_charset" ->
      """SELECT doc_id, length(text) AS n_chars,
        |  len(regexp_extract_all(text, '[^\x00-\x7F]')) AS n_nonascii,
        |  len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS n_cjk,
        |  CASE WHEN length(text) = 0 THEN 0
        |       ELSE (len(regexp_extract_all(text, '[^\x00-\x7F]'))
        |             * CAST(1000000 AS BIGINT)) // length(text)
        |  END AS nonascii_ppm
        |FROM documents WHERE text IS NOT NULL""".stripMargin,
    "q99_asof_snapshot" ->
      s"""WITH $SrcCte,
         |b AS (SELECT epoch_us(min(ts)) AS lo, epoch_us(max(ts)) AS hi FROM src),
         |cut AS (SELECT make_timestamp(lo + (hi - lo) // 2) AS t FROM b),
         |hist AS (
         |  WITH ${scd2FullSql(AllCheck, deletes = false)}
         |)
         |SELECT event_id, ts, user_id, event_type, value, props,
         |  true AS _is_current, _valid_from, _valid_to, _change_type
         |FROM hist
         |WHERE _valid_from <= (SELECT t FROM cut)
         |  AND _valid_to > (SELECT t FROM cut)""".stripMargin,
    "q100_retention" ->
      s"""WITH $SrcCte,
         |b AS (SELECT epoch_us(min(ts)) AS lo, epoch_us(max(ts)) AS hi FROM src),
         |cut AS (SELECT make_timestamp(lo + (hi - lo) * 7 // 10) AS c FROM b),
         |hist AS (
         |  WITH ${scd2FullSql(AllCheck, deletes = false)}
         |)
         |SELECT * FROM hist
         |WHERE (_is_current OR _valid_to >= (SELECT c FROM cut))
         |  AND user_id % 17 <> 3""".stripMargin,
    "q101_sample_by" ->
      """SELECT doc_id, lang, source FROM (
        |  SELECT doc_id, lang, source,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
        |      % 100 AS b
        |  FROM documents)
        |WHERE b < CASE WHEN lang = 'en' THEN 50
        |               WHEN lang = 'es' THEN 25 ELSE 10 END""".stripMargin,
    "q102_cube_events" ->
      s"""WITH $SrcCte,
         |w AS (SELECT event_type,
         |    (epoch_us(ts) // 86400000000) % 7 AS weekday, user_id FROM src)
         |SELECT event_type, weekday, count(*) AS n_events,
         |  count(DISTINCT user_id) AS n_users,
         |  GROUPING(event_type, weekday) AS gid
         |FROM w GROUP BY CUBE(event_type, weekday)""".stripMargin,
    "q103_expectations" ->
      s"""WITH $SrcCte
         |SELECT 'orders_orderkey_unique' AS "check", count(*) AS violations
         |FROM (SELECT o_orderkey FROM orders WHERE o_orderkey IS NOT NULL
         |      GROUP BY 1 HAVING count(*) > 1)
         |UNION ALL
         |SELECT 'orders_custkey_not_null', count(*) FROM orders
         |WHERE o_custkey IS NULL
         |UNION ALL
         |SELECT 'orders_status_in_o_f', count(*) FROM orders
         |WHERE o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('O', 'F')
         |UNION ALL
         |SELECT 'orders_custkey_fk', count(*) FROM orders
         |WHERE o_custkey IS NOT NULL
         |  AND o_custkey NOT IN (SELECT c_custkey FROM customer)
         |UNION ALL
         |SELECT 'events_user_fk', count(*) FROM src
         |WHERE user_id IS NOT NULL
         |  AND user_id NOT IN (SELECT c_custkey FROM customer)""".stripMargin,
    "q104_pii_scrub" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    substr(text, 1, 80)
        |    || CASE WHEN doc_id % 3 = 0
        |         THEN ' mail user' || doc_id || '@example.com' ELSE '' END
        |    || CASE WHEN doc_id % 4 = 0
        |         THEN ' call +1555' ||
        |              lpad(CAST(doc_id * 7919 % 1000000 AS VARCHAR), 6, '0')
        |         ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0
        |         THEN ' host 10.' || (doc_id % 256) || '.0.' ||
        |              (doc_id * 3 % 256)
        |         ELSE '' END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(text, '\+[0-9]{7,15}')) AS n_phones,
        |  len(regexp_extract_all(text,
        |    '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}')) AS n_ipv4,
        |  len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}')) +
        |  len(regexp_extract_all(text, '\+[0-9]{7,15}')) +
        |  len(regexp_extract_all(text,
        |    '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}')) > 0
        |    AS has_pii,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(text,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}',
        |        '<EMAIL>', 'g'),
        |      '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}',
        |      '<IP>', 'g'),
        |    '\+[0-9]{7,15}', '<PHONE>', 'g') AS text_scrubbed
        |FROM p""".stripMargin,
    "q105_schema_evolution" -> {
      // Two hash epochs: the initial load's change filter never saw `flag`;
      // the post-evolution merge hashes the widened column set with NULL
      // (= '') for pre-evolution history.
      def h(cols: Seq[String]) = "md5(concat_ws('-', " +
        cols.map(c => s"coalesce(CAST($c AS VARCHAR), '')").mkString(", ") +
        "))"
      s"""WITH $SrcCte,
         |h0 AS (SELECT *, ${h(AllCheck)} AS _h FROM src WHERE event_id % 2 = 0),
         |kept0 AS (
         |  SELECT * EXCLUDE (_ph, _h) FROM (
         |    SELECT *, lag(_h) OVER (PARTITION BY user_id ORDER BY ts) AS _ph FROM h0
         |  ) WHERE _ph IS NULL OR _h <> _ph
         |),
         |u AS (
         |  SELECT event_id, ts, user_id, event_type, value, props,
         |         CAST(NULL AS VARCHAR) AS flag FROM kept0
         |  UNION ALL
         |  SELECT event_id, ts, user_id, event_type, value, props,
         |         upper(event_type) AS flag FROM src WHERE event_id % 2 = 1
         |),
         |h1 AS (SELECT *, ${h(AllCheck :+ "flag")} AS _h FROM u),
         |chg AS (
         |  SELECT *, CASE WHEN lag(_h) OVER w IS NULL THEN 0
         |                 WHEN _h <> lag(_h) OVER w THEN 1 ELSE 0 END AS _c
         |  FROM h1 WINDOW w AS (PARTITION BY user_id ORDER BY ts)
         |),
         |runs AS (
         |  SELECT *, sum(_c) OVER (PARTITION BY user_id ORDER BY ts
         |                          ROWS UNBOUNDED PRECEDING) AS _run
         |  FROM chg
         |),
         |collapsed AS (
         |  SELECT * FROM runs
         |  QUALIFY row_number() OVER (PARTITION BY user_id, _run ORDER BY ts) = 1
         |)
         |SELECT event_id, ts, user_id, event_type, value, props, flag,
         |  (row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) = 1) AS _is_current,
         |  ts AS _valid_from,
         |  coalesce(lead(ts) OVER (PARTITION BY user_id ORDER BY ts),
         |           TIMESTAMP '2999-12-31 23:59:59') AS _valid_to,
         |  CASE WHEN row_number() OVER (PARTITION BY user_id ORDER BY ts) = 1
         |       THEN 'I' ELSE 'U' END AS _change_type
         |FROM collapsed""".stripMargin
    },
    "q106_lm_score" ->
      s"""WITH $ToksCte,
         |lmbig AS (SELECT unnest(list_transform(generate_series(0, len(t) - 2),
         |    i -> t[i+1] || ' ' || t[i+2])) AS bigram
         |  FROM toks WHERE len(t) >= 2 AND doc_id % 2 = 0),
         |lmtf AS (SELECT bigram, count(*) AS tf FROM lmbig GROUP BY 1),
         |lm AS (SELECT bigram, (tf * 1000000) // CAST(sum(tf) OVER (
         |    PARTITION BY split_part(bigram, ' ', 1)) AS BIGINT) AS cond_ppm
         |  FROM lmtf),
         |db AS (SELECT doc_id, unnest(list_transform(generate_series(0, len(t) - 2),
         |    i -> t[i+1] || ' ' || t[i+2])) AS bigram
         |  FROM toks WHERE len(t) >= 2 AND doc_id % 2 = 1),
         |dtf AS (SELECT doc_id, bigram, count(*) AS tf FROM db GROUP BY 1, 2),
         |j AS (SELECT dtf.doc_id, dtf.tf, lm.cond_ppm
         |      FROM dtf LEFT JOIN lm USING (bigram)),
         |g AS (SELECT doc_id,
         |  CAST(sum(tf) AS BIGINT) AS n_bigrams,
         |  CAST(sum(CASE WHEN cond_ppm IS NULL THEN tf ELSE 0 END) AS BIGINT)
         |    AS n_oov,
         |  CAST(sum(CASE WHEN cond_ppm IS NOT NULL THEN tf * cond_ppm
         |               ELSE 0 END) AS BIGINT) AS score_ppm_sum
         |  FROM j GROUP BY 1)
         |SELECT doc_id, n_bigrams, n_oov, score_ppm_sum,
         |  CASE WHEN n_bigrams > n_oov
         |       THEN score_ppm_sum // (n_bigrams - n_oov) ELSE 0 END
         |    AS avg_cond_ppm
         |FROM g""".stripMargin,
    "q107_domains" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    substr(text, 1, 60)
        |    || CASE WHEN doc_id % 3 = 0
        |         THEN ' see https://site' || (doc_id % 7) || '.example.com/page'
        |         ELSE '' END
        |    || CASE WHEN doc_id % 4 = 0
        |         THEN ' via http://cdn' || (doc_id % 5) || '.example.org'
        |         ELSE '' END AS text
        |  FROM documents),
        |d AS (SELECT doc_id,
        |        unnest(regexp_extract_all(text,
        |          'https?://([A-Za-z0-9.-]+)', 1)) AS domain
        |      FROM p)
        |SELECT domain, count(DISTINCT doc_id) AS n_docs, count(*) AS n_urls
        |FROM d GROUP BY 1""".stripMargin,
    "q108_strip_markup" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0
        |      THEN '<html><p class="lead">' || substr(text, 1, 50)
        |           || '</p> <br/><div>' || substr(text, 51, 40)
        |           || '</div></html>'
        |      ELSE substr(text, 1, 90) END AS text
        |  FROM documents),
        |c AS (SELECT doc_id, text,
        |        trim(regexp_replace(regexp_replace(text, '<[^>]+>', ' ', 'g'),
        |                            '\s+', ' ', 'g')) AS text_clean
        |      FROM p)
        |SELECT doc_id, text_clean,
        |  ((length(text) - length(text_clean)) * 1000000)
        |    // greatest(length(text), 1) AS markup_ratio_ppm
        |FROM c""".stripMargin,
    "q109_dup_spans" ->
      s"""WITH $ToksCte,
         |sp AS (SELECT doc_id, md5(s) AS h FROM (
         |  SELECT doc_id, unnest(list_transform(generate_series(0, len(t) - 20),
         |    i -> array_to_string(t[i+1:i+20], ' '))) AS s
         |  FROM toks WHERE len(t) >= 20)),
         |c AS (SELECT doc_id, count(*) OVER (PARTITION BY h) AS cnt FROM sp),
         |g AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         |        CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |          AS n_dup_spans
         |      FROM c GROUP BY 1)
         |SELECT doc_id, n_spans, n_dup_spans,
         |  (n_dup_spans * 1000000) // n_spans AS dup_ppm
         |FROM g""".stripMargin,
    "q110_web_pipeline" -> {
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
      val ipRe = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"
      val cleanExpr =
        """trim(regexp_replace(regexp_replace(text, '<[^>]+>', ' ', 'g'),
          |                    '\s+', ' ', 'g'))""".stripMargin
      s"""WITH p AS (
         |  SELECT doc_id, source,
         |    (CASE WHEN doc_id % 2 = 0
         |       THEN '<html><p>' || substr(text, 1, 70) || '</p><div>'
         |            || substr(text, 71, 30) || '</div></html>'
         |       ELSE substr(text, 1, 100) END)
         |    || CASE WHEN doc_id % 3 = 0
         |         THEN ' contact user' || doc_id || '@example.com'
         |         ELSE '' END
         |    || CASE WHEN doc_id % 5 = 0
         |         THEN ' from 10.' || (doc_id % 256) || '.0.' ||
         |              (doc_id * 3 % 256)
         |         ELSE '' END AS text
         |  FROM documents),
         |c AS (SELECT doc_id, source, text, $cleanExpr AS text_clean,
         |        ((length(text) - length($cleanExpr)) * 1000000)
         |          // greatest(length(text), 1) AS markup_ratio_ppm
         |      FROM p),
         |s AS (SELECT doc_id, source, markup_ratio_ppm,
         |        len(regexp_extract_all(text_clean, '$emailRe')) AS n_emails,
         |        len(regexp_extract_all(text_clean, '$ipRe')) AS n_ipv4,
         |        regexp_replace(regexp_replace(regexp_replace(text_clean,
         |          '$emailRe', '<EMAIL>', 'g'),
         |          '$ipRe', '<IP>', 'g'),
         |          '\\+[0-9]{7,15}', '<PHONE>', 'g') AS text_scrubbed
         |      FROM c),
         |g AS (SELECT *,
         |        CASE WHEN length(trim(text_scrubbed)) = 0 THEN 0
         |             ELSE len(regexp_split_to_array(lower(trim(text_scrubbed)),
         |                                            '\\s+')) END AS n_toks
         |      FROM s)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_emails + n_ipv4) AS BIGINT) AS n_pii,
         |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
         |  CAST(sum(markup_ratio_ppm) AS BIGINT) AS markup_ppm_sum
         |FROM g WHERE n_toks >= 12 GROUP BY 1""".stripMargin
    },
    "q111_remix" ->
      """WITH m AS (
        |  SELECT lang, CAST(sum(n_chars) AS HUGEINT) AS mass FROM documents
        |  WHERE lang IN ('en', 'de', 'es', 'fr', 'zh') GROUP BY 1),
        |t AS (SELECT lang, mass,
        |        CASE lang WHEN 'en' THEN 300000 WHEN 'de' THEN 200000
        |                  WHEN 'es' THEN 200000 WHEN 'fr' THEN 150000
        |                  WHEN 'zh' THEN 150000 END AS target_ppm
        |      FROM m),
        |f AS (SELECT *, mass * 1000000 // target_ppm AS fr FROM t),
        |fs AS (SELECT *, min(fr) OVER () AS fstar FROM f),
        |r AS (SELECT lang, CAST(mass AS BIGINT) AS mass,
        |        CAST(target_ppm AS BIGINT) AS target_ppm,
        |        CAST(least(1000000, target_ppm * fstar // mass) AS BIGINT)
        |          AS rate_ppm
        |      FROM fs),
        |k AS (SELECT d.lang, d.n_chars FROM documents d JOIN r USING (lang)
        |      WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
        |              ::UBIGINT % 1000000 < r.rate_ppm),
        |g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs_kept,
        |        CAST(sum(n_chars) AS BIGINT) AS mass_kept
        |      FROM k GROUP BY 1)
        |SELECT r.lang, r.mass, r.target_ppm, r.rate_ppm,
        |  g.n_docs_kept, g.mass_kept
        |FROM r JOIN g USING (lang)""".stripMargin,
    "q112_policy_filter" ->
      s"""WITH $ToksCte
         |SELECT doc_id,
         |  CAST(len(list_filter(t, x -> x IN ('merge', 'spark'))) AS BIGINT)
         |    AS n_term_hits,
         |  position(' fast table ' IN ' ' || array_to_string(t, ' ') || ' ')
         |    > 0 AS has_phrase,
         |  len(list_filter(t, x -> x IN ('merge', 'spark'))) = 0
         |    AND NOT position(' fast table ' IN
         |                     ' ' || array_to_string(t, ' ') || ' ') > 0
         |    AS kept
         |FROM toks""".stripMargin,
    "q113_history_profile" ->
      s"""WITH $SrcDelCte,
         |scd AS (
         |  WITH ${scd2FullSql(AllCheck, deletes = true)}
         |),
         |k AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_versions,
         |        max(CASE WHEN _is_current AND _change_type = 'D'
         |                 THEN 1 ELSE 0 END) AS dead
         |      FROM scd GROUP BY 1)
         |SELECT n_versions, CAST(count(*) AS BIGINT) AS n_keys,
         |  CAST(sum(dead) AS BIGINT) AS n_deleted_keys
         |FROM k GROUP BY 1""".stripMargin,
    "q114_source_freshness" ->
      s"""WITH $SrcCte,
         |m AS (SELECT event_type, max(ts) AS max_loaded_at FROM src
         |      GROUP BY 1)
         |SELECT event_type, max_loaded_at,
         |  (epoch_us(TIMESTAMP '2024-01-31 00:00:00') -
         |   epoch_us(max_loaded_at)) // 1000000 AS age_sec,
         |  CASE WHEN max_loaded_at IS NULL THEN 'error'
         |       WHEN (epoch_us(TIMESTAMP '2024-01-31 00:00:00') -
         |             epoch_us(max_loaded_at)) // 1000000 > 1800 THEN 'error'
         |       WHEN (epoch_us(TIMESTAMP '2024-01-31 00:00:00') -
         |             epoch_us(max_loaded_at)) // 1000000 > 600 THEN 'warn'
         |       ELSE 'pass' END AS status
         |FROM m""".stripMargin,
    "q115_local_volume" ->
      """SELECT n_name,
        |  CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount)
        |                      * 1000000.0) AS BIGINT)) AS BIGINT)
        |    AS revenue_micro
        |FROM lineitem, orders, customer, supplier, nation, region
        |WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey
        |  AND o_custkey = c_custkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY 1""".stripMargin,
    "q116_incremental_rollup" ->
      s"""WITH $SrcCte,
         |e AS (SELECT event_type, date_trunc('day', ts) AS day,
         |        CAST(floor(value * 1000000.0) AS BIGINT) AS vm FROM src)
         |SELECT event_type, day, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(vm) AS BIGINT) AS value_micro,
         |  min(vm) AS min_micro, max(vm) AS max_micro
         |FROM e GROUP BY 1, 2""".stripMargin,
    "q117_interarrival" ->
      s"""WITH $SrcCte,
         |g AS (SELECT event_type,
         |        epoch_us(ts) - lag(epoch_us(ts)) OVER (
         |          PARTITION BY user_id ORDER BY ts, event_id) AS gap
         |      FROM src)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
         |  CAST(sum(gap) AS BIGINT) AS sum_gap_micros,
         |  max(gap) AS max_gap_micros,
         |  CAST(sum(gap) AS BIGINT) // CAST(count(*) AS BIGINT)
         |    AS avg_gap_micros
         |FROM g WHERE gap IS NOT NULL GROUP BY 1""".stripMargin,
    "q118_chunk_docs" ->
      s"""WITH $ToksCte,
         |c AS (SELECT doc_id, t,
         |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(t) END
         |       AS BIGINT) AS n FROM toks),
         |g AS (SELECT doc_id, t, n,
         |  unnest(generate_series(0, n - 1, 48)) AS chunk_start
         |FROM c WHERE n > 0)
         |SELECT doc_id, chunk_start // 48 AS chunk_id, chunk_start,
         |  CAST(least(64, n - chunk_start) AS BIGINT) AS n_tokens_chunk,
         |  array_to_string(t[chunk_start + 1 : chunk_start + 64], ' ')
         |    AS chunk_text
         |FROM g""".stripMargin,
    "q119_weighted_sample" ->
      """SELECT lang, sample_rank, doc_id, priority FROM (
        |  SELECT lang, doc_id,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
        |         % 1000000 AS BIGINT) * 1000000000000 // n_chars AS priority,
        |    row_number() OVER (PARTITION BY lang ORDER BY
        |      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
        |           % 1000000 AS BIGINT) * 1000000000000 // n_chars, doc_id)
        |      AS sample_rank
        |  FROM documents WHERE n_chars > 0)
        |WHERE sample_rank <= 20""".stripMargin,
    "q120_daily_snapshots" ->
      s"""WITH $SrcDelCte,
         |scd AS (
         |  WITH ${scd2FullSql(AllCheck, deletes = true)}
         |),
         |spine AS (SELECT unnest(generate_series(
         |    TIMESTAMP '2024-01-05 00:00:00',
         |    TIMESTAMP '2024-01-25 00:00:00', INTERVAL 1 DAY)) AS snapshot_ts)
         |SELECT snapshot_ts, user_id, event_type, value
         |FROM scd, spine
         |WHERE _valid_from <= snapshot_ts AND _valid_to > snapshot_ts
         |  AND _change_type <> 'D'""".stripMargin,
    "q121_orphan_facts" ->
      s"""WITH $SrcDelCte,
         |scd AS (
         |  WITH ${scd2FullSql(AllCheck, deletes = true)}
         |),
         |f AS (SELECT event_id, user_id, ts + INTERVAL 600 SECOND AS fact_ts
         |      FROM src)
         |SELECT f.event_id, f.user_id, f.fact_ts
         |FROM f JOIN scd s ON f.user_id = s.user_id
         |  AND s._valid_from <= f.fact_ts AND s._valid_to > f.fact_ts
         |WHERE s._change_type = 'D'""".stripMargin,
    "q122_bloom_prune" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_lineitems,
        |  CAST(sum(CAST(floor(l_quantity * 1000000.0) AS BIGINT)) AS BIGINT)
        |    AS qty_micro
        |FROM lineitem, orders
        |WHERE l_orderkey = o_orderkey AND o_totalprice > 450000.0
        |GROUP BY 1""".stripMargin,
    "q123_alive_islands" ->
      s"""WITH $SrcDelCte,
         |scd AS (
         |  WITH ${scd2FullSql(AllCheck, deletes = true)}
         |),
         |a AS (SELECT user_id, _valid_from, _valid_to FROM scd
         |      WHERE _change_type <> 'D'),
         |m AS (SELECT user_id, _valid_from, _valid_to,
         |        max(_valid_to) OVER (PARTITION BY user_id
         |          ORDER BY _valid_from, _valid_to
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
         |      FROM a),
         |i AS (SELECT user_id, _valid_from, _valid_to,
         |        CAST(sum(CASE WHEN pm IS NULL OR _valid_from > pm
         |                      THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
         |          ORDER BY _valid_from, _valid_to
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |          AS BIGINT) AS island_id
         |      FROM m)
         |SELECT user_id, island_id, min(_valid_from) AS island_from,
         |  max(_valid_to) AS island_to, CAST(count(*) AS BIGINT) AS n_intervals
         |FROM i GROUP BY 1, 2""".stripMargin,
    "q124_dup_degree" ->
      s"""WITH $MinhashPairsCtes,
         |vp AS ($JaccardTailSql),
         |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS degree FROM
         |  (SELECT doc_a AS doc_id FROM vp
         |   UNION ALL SELECT doc_b FROM vp) GROUP BY 1)
         |SELECT degree, CAST(count(*) AS BIGINT) AS n_docs
         |FROM d GROUP BY 1""".stripMargin,
    "q125_table_checksum" -> DocChecksumSql,
    // The roundtrip queries re-read the SAME logical relation through
    // JSONL/CSV; lossless ⟺ the checksum equals the parquet original's.
    "q142_jsonl_roundtrip" -> DocChecksumSql,
    "q143_csv_roundtrip" -> DocChecksumSql,
    "q144_sql_dedup" ->
      s"""WITH $ToksCte
         |SELECT md5(array_to_string(t, ' ')) AS fingerprint,
         |  min(doc_id) AS canonical_id, count(*) AS n_copies
         |FROM toks GROUP BY 1""".stripMargin,
    "q145_top_boilerplate" ->
      s"""WITH $ToksCte,
         |sp AS (SELECT unnest(list_transform(generate_series(0, len(t) - 20),
         |    i -> array_to_string(t[i+1:i+20], ' '))) AS span
         |  FROM toks WHERE len(t) >= 20),
         |g AS (SELECT span, CAST(count(*) AS BIGINT) AS n_occurrences
         |      FROM sp GROUP BY 1 HAVING count(*) > 1)
         |SELECT span, n_occurrences FROM g
         |ORDER BY n_occurrences DESC, span LIMIT 20""".stripMargin,
    "q146_sliding_mau" ->
      s"""WITH $SrcCte,
         |spine AS (SELECT unnest(generate_series(
         |    TIMESTAMP '2023-12-26 00:00:00',
         |    TIMESTAMP '2024-01-30 00:00:00', INTERVAL 1 DAY)) AS window_start)
         |SELECT window_start,
         |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_active_users
         |FROM spine JOIN src
         |  ON ts >= window_start AND ts < window_start + INTERVAL 7 DAY
         |GROUP BY 1""".stripMargin,
    "q147_priority_exists" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_quantity > 45.0)
        |GROUP BY 1""".stripMargin,
    "q148_returned_revenue" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount)
        |                      * 1000000.0) AS BIGINT)) AS BIGINT)
        |    AS revenue_micro
        |FROM lineitem, orders, customer, nation
        |WHERE l_returnflag = 'R' AND l_orderkey = o_orderkey
        |  AND o_custkey = c_custkey AND c_nationkey = n_nationkey
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue_micro DESC, c_custkey LIMIT 20""".stripMargin,
    "q149_seasonality" ->
      s"""WITH $SrcCte
         |SELECT (epoch_us(ts) // 86400000000) % 7 AS weekday,
         |  (epoch_us(ts) // 3600000000) % 24 AS hour_of_day,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         |FROM src GROUP BY 1, 2""".stripMargin,
    "q150_wow_change" ->
      s"""WITH $SrcCte,
         |r AS (SELECT event_type,
         |        (epoch_us(ts) // 86400000000) // 7 AS week,
         |        CAST(count(*) AS BIGINT) AS n FROM src GROUP BY 1, 2),
         |l AS (SELECT event_type, week, n,
         |        lag(n) OVER (PARTITION BY event_type ORDER BY week) AS prev_n
         |      FROM r)
         |SELECT event_type, week, n, prev_n, n - prev_n AS delta,
         |  CAST(sign(n - prev_n) AS BIGINT)
         |    * ((abs(n - prev_n) * 1000000) // prev_n) AS change_ppm
         |FROM l""".stripMargin,
    "q151_upcoming_changes" ->
      s"""WITH $SrcCte,
         |scd AS (
         |  WITH ${scd2FullSql(Seq("event_type"), deletes = false)}
         |),
         |x AS (SELECT user_id, event_type, _valid_from, _valid_to,
         |        lead(event_type) OVER w AS next_type,
         |        lead(_valid_from) OVER w AS next_vf
         |      FROM scd WINDOW w AS (PARTITION BY user_id ORDER BY _valid_from))
         |SELECT user_id, event_type AS current_type, next_type,
         |  next_vf AS effective_at
         |FROM x
         |WHERE _valid_from <= TIMESTAMP '2024-01-20 00:00:00'
         |  AND _valid_to > TIMESTAMP '2024-01-20 00:00:00'
         |  AND next_vf IS NOT NULL""".stripMargin,
    "q152_anomaly_hours" ->
      s"""WITH $SrcCte,
         |r AS (SELECT epoch_us(ts) // 3600000000 AS hour_idx,
         |        CAST(count(*) AS BIGINT) AS x FROM src GROUP BY 1),
         |b AS (SELECT hour_idx, x,
         |        CAST(count(*) OVER w AS BIGINT) AS bn,
         |        CAST(sum(x) OVER w AS BIGINT) AS bsum,
         |        CAST(sum(x * x) OVER w AS BIGINT) AS bsum2
         |      FROM r WINDOW w AS (ORDER BY hour_idx
         |        ROWS BETWEEN 168 PRECEDING AND 1 PRECEDING))
         |SELECT hour_idx, x, bn, bsum,
         |  (bn * x - bsum) * (bn * x - bsum) * (bn - 1)
         |    > 9 * bn * (bn * bsum2 - bsum * bsum) AS anomalous
         |FROM b WHERE bn >= 24""".stripMargin,
    "q153_session_conversion" ->
      s"""WITH $SrcCte,
         |g AS (SELECT user_id, ts, event_type,
         |  CASE WHEN lag(ts) OVER w IS NULL
         |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
         |       THEN 1 ELSE 0 END AS brk
         |  FROM src WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         |sess AS (SELECT user_id, ts, event_type,
         |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
         |      ROWS UNBOUNDED PRECEDING) AS sid FROM g),
         |agg AS (SELECT user_id, sid, min(ts) AS session_start,
         |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS hp
         |  FROM sess GROUP BY 1, 2)
         |SELECT date_trunc('day', session_start) AS day,
         |  CAST(count(*) AS BIGINT) AS n_sessions,
         |  CAST(sum(hp) AS BIGINT) AS n_converted,
         |  CAST(sum(hp) AS BIGINT) * 1000000 // CAST(count(*) AS BIGINT)
         |    AS conversion_ppm
         |FROM agg GROUP BY 1""".stripMargin,
    "q154_relative_standing" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
        |  CAST(row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice, o_orderkey) AS BIGINT) * 1000000
        |  // CAST(count(*) OVER (PARTITION BY o_orderpriority) AS BIGINT)
        |    AS standing_ppm
        |FROM orders""".stripMargin,
    "q155_mad" ->
      s"""WITH $SrcCte,
         |e AS (SELECT event_type,
         |        CAST(floor(value * 1000000.0) AS BIGINT) AS vm FROM src),
         |r1 AS (SELECT event_type, vm,
         |        row_number() OVER (PARTITION BY event_type ORDER BY vm) AS rn,
         |        count(*) OVER (PARTITION BY event_type) AS n FROM e),
         |med AS (SELECT event_type, min(vm) AS median_micro FROM r1
         |        WHERE rn = (n * 50 + 99) // 100 GROUP BY 1),
         |d AS (SELECT e.event_type, abs(e.vm - med.median_micro) AS adev,
         |        med.median_micro
         |      FROM e JOIN med ON e.event_type = med.event_type),
         |r2 AS (SELECT event_type, adev, median_micro,
         |        row_number() OVER (PARTITION BY event_type ORDER BY adev) AS rn,
         |        count(*) OVER (PARTITION BY event_type) AS n FROM d)
         |SELECT event_type, min(median_micro) AS median_micro,
         |  min(adev) AS mad_micro
         |FROM r2 WHERE rn = (n * 50 + 99) // 100 GROUP BY 1""".stripMargin,
    "q156_user_lifetimes" ->
      s"""WITH $SrcCte
         |SELECT user_id, min(ts) AS first_seen, max(ts) AS last_seen,
         |  CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT)
         |    AS n_active_days,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS span_sec
         |FROM src GROUP BY 1""".stripMargin,
    "q157_forecast_revenue" ->
      """SELECT
        |  CAST(sum(CAST(floor(l_extendedprice * l_discount * 1000000.0)
        |               AS BIGINT)) AS BIGINT) AS revenue_micro,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24.0""".stripMargin,
    "q158_promo_share" ->
      """WITH j AS (
        |  SELECT date_trunc('month', l_shipdate) AS month,
        |    CAST(floor(l_extendedprice * (1.0 - l_discount) * 1000000.0)
        |         AS BIGINT) AS rev,
        |    p_type LIKE 'PROMO%' AS promo
        |  FROM lineitem, part
        |  WHERE l_partkey = p_partkey
        |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate <  TIMESTAMP '1996-07-01 00:00:00')
        |SELECT month,
        |  CAST(sum(CASE WHEN promo THEN rev ELSE 0 END) AS BIGINT)
        |    AS promo_micro,
        |  CAST(sum(rev) AS BIGINT) AS total_micro,
        |  CAST(CAST(sum(CASE WHEN promo THEN rev ELSE 0 END) AS HUGEINT)
        |    * 1000000 // sum(rev) AS BIGINT) AS promo_ppm
        |FROM j GROUP BY 1""".stripMargin,
    "q159_session_state_changes" ->
      s"""WITH $SrcCte,
         |g AS (SELECT user_id, ts,
         |  CASE WHEN lag(ts) OVER w IS NULL
         |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
         |       THEN 1 ELSE 0 END AS brk
         |  FROM src WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         |sx AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
         |                                ROWS UNBOUNDED PRECEDING) AS sess
         |       FROM g),
         |sessions AS (SELECT user_id, CAST(sess AS BIGINT) AS _session,
         |    min(ts) AS s_from, max(ts) + INTERVAL 1 MICROSECOND AS s_to
         |  FROM sx GROUP BY user_id, sess),
         |scd AS (
         |  WITH ${scd2FullSql(Seq("event_type"), deletes = false)}
         |)
         |SELECT se.user_id, se._session,
         |  CAST(count(*) AS BIGINT) AS n_versions
         |FROM sessions se JOIN scd v ON se.user_id = v.user_id
         |  AND se.s_from < v._valid_to AND v._valid_from < se.s_to
         |GROUP BY 1, 2 HAVING count(*) > 1""".stripMargin,
    "q160_interest_vectors" ->
      s"""WITH $SrcCte,
         |r AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
         |      FROM src GROUP BY 1, 2)
         |SELECT user_id, event_type, n,
         |  CAST(sum(n) OVER (PARTITION BY user_id) AS BIGINT) AS user_total,
         |  n * 1000000 // CAST(sum(n) OVER (PARTITION BY user_id) AS BIGINT)
         |    AS share_ppm
         |FROM r""".stripMargin,
    "q161_unpivot_milestones" ->
      s"""WITH $SrcCte,
         |w AS (SELECT user_id,
         |  min(CASE WHEN event_type = 'signup' THEN ts END) AS signup,
         |  min(CASE WHEN event_type = 'purchase' THEN ts END) AS purchase,
         |  min(CASE WHEN event_type = 'error' THEN ts END) AS error
         |FROM src GROUP BY 1),
         |m AS (
         |  SELECT user_id, 'signup' AS milestone, signup AS first_ts FROM w
         |  UNION ALL
         |  SELECT user_id, 'purchase', purchase FROM w
         |  UNION ALL
         |  SELECT user_id, 'error', error FROM w)
         |SELECT user_id, milestone, first_ts FROM m
         |WHERE first_ts IS NOT NULL""".stripMargin,
    "q162_user_mode" ->
      s"""WITH $SrcCte,
         |r AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
         |      FROM src GROUP BY 1, 2)
         |SELECT user_id, event_type AS mode_type, n FROM r
         |QUALIFY row_number() OVER (PARTITION BY user_id
         |  ORDER BY n DESC, event_type) = 1""".stripMargin,
    "q163_novelty" ->
      s"""WITH $SrcCte,
         |f AS (SELECT event_id, user_id, ts, event_type,
         |  CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
         |    ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS fst
         |FROM src)
         |SELECT event_id, user_id, ts, event_type,
         |  CAST(sum(fst) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_types_seen
         |FROM f""".stripMargin,
    "q164_streaks" ->
      s"""WITH $SrcCte,
         |d AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM src),
         |m AS (SELECT user_id, d,
         |        max(d + INTERVAL 1 DAY) OVER (PARTITION BY user_id
         |          ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
         |          AND 1 PRECEDING) AS pm
         |      FROM d),
         |i AS (SELECT user_id,
         |        CAST(sum(CASE WHEN pm IS NULL OR d > pm THEN 1 ELSE 0 END)
         |          OVER (PARTITION BY user_id ORDER BY d
         |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island_id
         |      FROM m),
         |s AS (SELECT user_id, island_id, CAST(count(*) AS BIGINT) AS len
         |      FROM i GROUP BY 1, 2)
         |SELECT user_id, max(len) AS longest_streak_days,
         |  CAST(count(*) AS BIGINT) AS n_streaks
         |FROM s GROUP BY 1""".stripMargin,
    "q165_order_violations" ->
      s"""WITH $SrcCte,
         |f AS (SELECT *, min(CASE WHEN event_type = 'signup' THEN ts END)
         |        OVER (PARTITION BY user_id) AS fs FROM src)
         |SELECT user_id, CAST(count(*) AS BIGINT) AS n_early_purchases
         |FROM f
         |WHERE event_type = 'purchase' AND (fs IS NULL OR ts < fs)
         |GROUP BY 1""".stripMargin,
    "q166_label_centroids" ->
      """WITH x AS (
        |  SELECT label, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings,
        |    LATERAL unnest(generate_series(1, len(embedding))) AS u(i))
        |SELECT label, dim, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(v * 1000000.0) AS BIGINT)) AS BIGINT)
        |    AS sum_micro,
        |  min(CAST(floor(v * 1000000.0) AS BIGINT)) AS min_micro,
        |  max(CAST(floor(v * 1000000.0) AS BIGINT)) AS max_micro
        |FROM x GROUP BY 1, 2""".stripMargin,
    "q167_quality_rates" ->
      s"""WITH t2 AS (SELECT doc_id, source, lang, text,
         |    regexp_split_to_array(lower(trim(text)), '\\s+') AS t
         |  FROM documents),
         |m AS (SELECT source, lang,
         |    length(text) AS n_chars,
         |    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(t) END AS n_tokens,
         |    len(regexp_extract_all(text, '$PunctRegexSql')) AS n_punct,
         |    len(list_filter(t, x -> list_contains(${sqlList(AllStopwords)}, x)))
         |      AS n_stopwords
         |  FROM t2)
         |SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN n_tokens >= 20 AND n_tokens <= 100000
         |                 AND n_punct * 5 < n_chars
         |                 AND n_stopwords * 100 >= n_tokens
         |            THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
         |  CAST(sum(CASE WHEN n_tokens >= 20 AND n_tokens <= 100000
         |                 AND n_punct * 5 < n_chars
         |                 AND n_stopwords * 100 >= n_tokens
         |            THEN 1 ELSE 0 END) AS BIGINT) * 1000000
         |    // CAST(count(*) AS BIGINT) AS quality_ppm
         |FROM m GROUP BY 1, 2""".stripMargin,
    "q168_grouping_sets" ->
      """SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_total,
        |  GROUPING(source, lang) AS gid
        |FROM documents
        |GROUP BY GROUPING SETS ((source), (lang), ())""".stripMargin,
    "q169_last_purchase_fill" ->
      s"""WITH $SrcCte
         |SELECT event_id, user_id, ts, event_type,
         |  last_value(CASE WHEN event_type = 'purchase'
         |               THEN CAST(floor(value * 1000000.0) AS BIGINT) END
         |             IGNORE NULLS) OVER (PARTITION BY user_id
         |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
         |    AS last_purchase_micro
         |FROM src""".stripMargin,
    "q170_pareto_sources" ->
      """WITH r AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS mass
        |  FROM documents GROUP BY 1)
        |SELECT
        |  CAST(row_number() OVER (ORDER BY mass DESC, source) AS BIGINT)
        |    AS "rank",
        |  source, n_docs, mass,
        |  CAST(sum(mass) OVER (ORDER BY mass DESC, source
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) * 1000000
        |  // CAST(sum(mass) OVER () AS BIGINT) AS cum_share_ppm
        |FROM r""".stripMargin,
    "q171_nation_order_quantiles" ->
      """WITH j AS (SELECT n_name,
        |    CAST(floor(o_totalprice * 1000000.0) AS BIGINT) AS price_micro
        |  FROM orders, customer, nation
        |  WHERE o_custkey = c_custkey AND c_nationkey = n_nationkey),
        |r AS (SELECT n_name, price_micro,
        |    row_number() OVER (PARTITION BY n_name ORDER BY price_micro) AS rn,
        |    count(*) OVER (PARTITION BY n_name) AS n
        |  FROM j)
        |SELECT n_name, q, min(price_micro) AS q_value
        |FROM r, (SELECT unnest([25, 50, 75, 95]) AS q)
        |WHERE rn = (n * q + 99) // 100
        |GROUP BY 1, 2""".stripMargin,
    "q172_date_dim" ->
      """SELECT d, CAST(date_part('year', d) AS INT) AS year,
        |  CAST(date_part('month', d) AS INT) AS month,
        |  CAST(date_part('day', d) AS INT) AS day_of_month,
        |  (epoch_us(d) // 86400000000) % 7 AS weekday,
        |  (epoch_us(d) // 86400000000) % 7 IN (2, 3) AS is_weekend
        |FROM (SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
        |  TIMESTAMP '2024-03-31 00:00:00', INTERVAL 1 DAY)) AS d)""".stripMargin,
    "q173_transition_dwell" ->
      s"""WITH $SrcCte,
         |g AS (SELECT user_id, event_type,
         |        lag(event_type) OVER w AS prev_type,
         |        epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap
         |      FROM src WINDOW w AS (PARTITION BY user_id
         |        ORDER BY ts, event_id))
         |SELECT prev_type AS from_type, event_type AS to_type,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(gap) AS BIGINT) AS sum_gap_micros,
         |  CAST(sum(gap) AS BIGINT) // CAST(count(*) AS BIGINT)
         |    AS avg_gap_micros
         |FROM g WHERE prev_type IS NOT NULL GROUP BY 1, 2""".stripMargin,
    "q174_stem_vocab" ->
      s"""WITH $ToksCte,
         |x AS (SELECT lang, unnest(t) AS tok FROM
         |  (SELECT d.lang, toks.t FROM toks JOIN documents d
         |     ON toks.doc_id = d.doc_id)),
         |st AS (SELECT lang, tok,
         |  CASE
         |    WHEN length(tok) > 5 AND tok LIKE '%ing'
         |      THEN substring(tok, 1, length(tok) - 3)
         |    WHEN length(tok) > 4 AND tok LIKE '%ed'
         |      THEN substring(tok, 1, length(tok) - 2)
         |    WHEN length(tok) > 3 AND tok LIKE '%s' AND tok NOT LIKE '%ss'
         |      THEN substring(tok, 1, length(tok) - 1)
         |    ELSE tok END AS stem
         |  FROM x)
         |SELECT lang, CAST(count(DISTINCT tok) AS BIGINT) AS n_vocab,
         |  CAST(count(DISTINCT stem) AS BIGINT) AS n_stems,
         |  (CAST(count(DISTINCT tok) AS BIGINT)
         |   - CAST(count(DISTINCT stem) AS BIGINT)) * 1000000
         |  // CAST(count(DISTINCT tok) AS BIGINT) AS reduction_ppm
         |FROM st GROUP BY 1""".stripMargin,
    "q175_kwic" ->
      s"""WITH $ToksCte,
         |p AS (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
         |      FROM toks)
         |SELECT doc_id, CAST(i - 1 AS INT) AS pos,
         |  array_to_string(t[greatest(i - 3, 1):least(i + 3, len(t))], ' ')
         |    AS context
         |FROM p WHERE t[i] = 'merge'""".stripMargin,
    "q176_junk_dim" ->
      s"""WITH $SrcCte,
         |c AS (SELECT DISTINCT event_type,
         |        (epoch_us(ts) // 86400000000) % 7 AS weekday FROM src)
         |SELECT event_type, weekday,
         |  CAST(row_number() OVER (ORDER BY event_type, weekday) AS BIGINT)
         |    AS junk_key
         |FROM c""".stripMargin,
    "q177_lang_margin" ->
      s"""WITH $ToksCte,
         |h AS (SELECT doc_id,
         |${TextAnalysis.Stopwords.keys.map(l =>
            s"  len(list_filter(t, x -> list_contains(${sqlList(TextAnalysis.Stopwords(l))}, x))) AS $l").mkString(",\n")}
         |FROM toks),
         |m AS (SELECT doc_id, en, es, fr, de,
         |        greatest(en, es, fr, de) AS mx FROM h)
         |SELECT doc_id,
         |  CASE WHEN fr = mx THEN 'fr' WHEN es = mx THEN 'es'
         |       WHEN en = mx THEN 'en' ELSE 'de' END AS top_lang,
         |  CAST(mx AS BIGINT) AS top_votes,
         |  CAST(mx - CASE WHEN fr = mx THEN greatest(es, en, de)
         |                 WHEN es = mx THEN greatest(fr, en, de)
         |                 WHEN en = mx THEN greatest(fr, es, de)
         |                 ELSE greatest(fr, es, en) END AS BIGINT) AS margin
         |FROM m""".stripMargin,
    "q178_length_bands" ->
      s"""WITH $ToksCte,
         |b AS (SELECT doc_id,
         |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(t) END
         |       AS BIGINT) AS nt FROM toks)
         |SELECT CASE WHEN nt < 50 THEN 'short'
         |            WHEN nt < 200 THEN 'medium' ELSE 'long' END AS band,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(nt) AS BIGINT) AS n_tokens
         |FROM b GROUP BY 1""".stripMargin,
    "q179_vocab_drift" ->
      s"""WITH $ToksCte,
         |x AS (SELECT doc_id % 2 = 0 AS half, unnest(t) AS tok FROM toks),
         |c AS (SELECT half, tok, CAST(count(*) AS BIGINT) AS tf
         |      FROM x GROUP BY 1, 2),
         |a AS (SELECT tok, tf AS tf_a FROM c WHERE half),
         |b AS (SELECT tok, tf AS tf_b FROM c WHERE NOT half),
         |j AS (SELECT coalesce(a.tok, b.tok) AS tok,
         |        coalesce(tf_a, 0) AS tf_a, coalesce(tf_b, 0) AS tf_b
         |      FROM a FULL OUTER JOIN b ON a.tok = b.tok),
         |t AS (SELECT CAST(sum(tf_a) AS BIGINT) AS tot_a,
         |        CAST(sum(tf_b) AS BIGINT) AS tot_b,
         |        CAST(count(*) AS BIGINT) AS n_vocab FROM j)
         |SELECT t.n_vocab,
         |  CAST(sum(abs(tf_a * 1000000 // tot_a - tf_b * 1000000 // tot_b))
         |       AS BIGINT) AS tv_ppm_x2
         |FROM j, t GROUP BY 1""".stripMargin,
    "q180_sla_conversion" ->
      s"""WITH $SrcCte,
         |u AS (SELECT user_id,
         |        min(CASE WHEN event_type = 'signup' THEN ts END) AS s
         |      FROM src GROUP BY 1),
         |p AS (SELECT e.user_id, u.s,
         |        min(CASE WHEN e.event_type = 'purchase' AND e.ts >= u.s
         |                 THEN e.ts END) AS p
         |      FROM src e JOIN u ON e.user_id = u.user_id GROUP BY 1, 2)
         |SELECT CAST(count(*) AS BIGINT) AS n_signup_users,
         |  CAST(sum(CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_converted,
         |  CAST(sum(CASE WHEN p IS NOT NULL
         |                 AND epoch_us(p) - epoch_us(s) <= 86400000000
         |            THEN 1 ELSE 0 END) AS BIGINT) AS n_within_24h
         |FROM p WHERE s IS NOT NULL""".stripMargin,
    "q181_gini" ->
      s"""WITH $SrcCte,
         |e AS (SELECT event_type, event_id,
         |        CAST(floor(value * 1000000.0) AS BIGINT) AS vm FROM src),
         |r AS (SELECT event_type, vm,
         |        CAST(row_number() OVER (PARTITION BY event_type
         |          ORDER BY vm, event_id) AS BIGINT) AS i FROM e)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(vm) AS BIGINT) AS sum_x,
         |  CAST(sum(i * vm) AS BIGINT) AS sum_ix,
         |  CAST((2 * CAST(sum(i * vm) AS HUGEINT)
         |        - (count(*) + 1) * CAST(sum(vm) AS HUGEINT)) * 1000000
         |       // (CAST(count(*) AS HUGEINT) * CAST(sum(vm) AS HUGEINT))
         |       AS BIGINT) AS gini_ppm
         |FROM r GROUP BY 1""".stripMargin,
    "q182_cosine_hist" ->
      s"""WITH p AS (
         |  SELECT round(cos, 4) AS cosine FROM (
         |    SELECT ${cosSql("a.embedding", "b.embedding")} AS cos
         |    FROM (SELECT * FROM embeddings WHERE vec_id < 64) a
         |    JOIN (SELECT * FROM embeddings WHERE vec_id < 64) b
         |      ON a.vec_id < b.vec_id))
         |SELECT bin, count(*) AS n,
         |  CAST(-1.0 AS DOUBLE) + bin * (CAST(2.0 AS DOUBLE) / 40.0)
         |    AS lo_edge
         |FROM (
         |  SELECT CAST(least(greatest(
         |      floor((cosine - -1.0) * 40.0 / 2.0), 0.0), 39.0)
         |    AS BIGINT) AS bin
         |  FROM p WHERE cosine IS NOT NULL)
         |GROUP BY bin""".stripMargin,
    "q183_trailing_mode" ->
      s"""WITH $SrcCte,
         |r AS (SELECT epoch_us(ts) // 86400000000 AS day_idx, event_type,
         |        CAST(count(*) AS BIGINT) AS n FROM src GROUP BY 1, 2),
         |t AS (SELECT day_idx, event_type,
         |        CAST(sum(n) OVER (PARTITION BY event_type ORDER BY day_idx
         |          RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
         |          AS n_7d
         |      FROM r)
         |SELECT day_idx, event_type AS mode_type, n_7d FROM t
         |QUALIFY row_number() OVER (PARTITION BY day_idx
         |  ORDER BY n_7d DESC, event_type) = 1""".stripMargin,
    "q184_user_bitmaps" ->
      s"""WITH $SrcCte
         |SELECT event_type, epoch_us(ts) // 86400000000 AS day_idx,
         |  CAST(bit_or(CAST(1 AS BIGINT) << CAST(user_id % 60 AS INT))
         |       AS BIGINT) AS bucket_mask,
         |  CAST(bit_count(bit_or(CAST(1 AS BIGINT)
         |    << CAST(user_id % 60 AS INT))) AS INT) AS n_buckets
         |FROM src GROUP BY 1, 2""".stripMargin,
    "q185_fanout_hist" ->
      """SELECT fanout, CAST(count(*) AS BIGINT) AS n_orders FROM (
        |  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS fanout
        |  FROM lineitem GROUP BY 1)
        |GROUP BY 1""".stripMargin,
    "q186_rapid_repeats" ->
      s"""WITH $SrcCte,
         |g AS (SELECT event_type,
         |        epoch_us(ts) - lag(epoch_us(ts)) OVER (
         |          PARTITION BY user_id, event_type
         |          ORDER BY ts, event_id) AS gap
         |      FROM src)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n_rapid_repeats,
         |  min(gap) AS min_gap_micros
         |FROM g WHERE gap IS NOT NULL AND gap <= 21600000000
         |GROUP BY 1""".stripMargin,
    "q187_growth_curve" ->
      s"""WITH $SrcCte,
         |f AS (SELECT user_id, min(ts) AS first_ts FROM src GROUP BY 1),
         |r AS (SELECT date_trunc('day', first_ts) AS day,
         |        CAST(count(*) AS BIGINT) AS n_new_users FROM f GROUP BY 1)
         |SELECT day, n_new_users,
         |  CAST(sum(n_new_users) OVER (ORDER BY day
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
         |FROM r""".stripMargin,
    "q188_resurrections" ->
      s"""WITH $SrcDelCte,
         |scd AS (
         |  WITH ${scd2FullSql(AllCheck, deletes = true)}
         |),
         |x AS (SELECT _valid_from, _change_type,
         |        lag(_change_type) OVER (PARTITION BY user_id
         |          ORDER BY _valid_from) AS prev_ct
         |      FROM scd)
         |SELECT date_trunc('day', _valid_from) AS day,
         |  CAST(count(*) AS BIGINT) AS n_resurrections
         |FROM x WHERE prev_ct = 'D' AND _change_type = 'I'
         |GROUP BY 1""".stripMargin,
    "q189_stale_current" ->
      s"""WITH $SrcCte,
         |scd AS (
         |  WITH ${scd2FullSql(AllCheck, deletes = false)}
         |),
         |c AS (SELECT event_type,
         |        (epoch_us(TIMESTAMP '2024-01-31 00:00:00') - epoch_us(ts))
         |          // 1000000 AS age_sec
         |      FROM scd WHERE _is_current AND _change_type <> 'D')
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n_stale,
         |  max(age_sec) AS max_age_sec
         |FROM c WHERE age_sec > 86400 GROUP BY 1""".stripMargin,
    "q190_lsh_precision" ->
      s"""WITH $MinhashPairsCtes,
         |vp AS ($JaccardTailSql),
         |c AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand),
         |v AS (SELECT CAST(count(*) AS BIGINT) AS n_verified FROM vp)
         |SELECT c.n_candidates, v.n_verified,
         |  v.n_verified * 1000000 // c.n_candidates AS precision_ppm
         |FROM c, v""".stripMargin,
    "q191_split_leakage" ->
      s"""WITH $MinhashPairsCtes,
         |vp AS ($JaccardTailSql),
         |sp AS (SELECT doc_id,
         |  CASE WHEN b < 900 THEN 'train' WHEN b < 950 THEN 'val'
         |       ELSE 'test' END AS split
         |  FROM (SELECT doc_id,
         |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
         |      % 1000 AS b FROM documents))
         |SELECT a.split AS split_a, b.split AS split_b,
         |  CAST(count(*) AS BIGINT) AS n_leaked_pairs
         |FROM vp JOIN sp a ON vp.doc_a = a.doc_id
         |        JOIN sp b ON vp.doc_b = b.doc_id
         |WHERE a.split <> b.split GROUP BY 1, 2""".stripMargin,
    "q192_top1pct_share" ->
      """WITH r AS (SELECT o_orderkey,
        |    CAST(floor(o_totalprice * 1000000.0) AS BIGINT) AS vm,
        |    row_number() OVER (ORDER BY
        |      CAST(floor(o_totalprice * 1000000.0) AS BIGINT) DESC,
        |      o_orderkey) AS rn
        |  FROM orders),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_orders,
        |        CAST(sum(vm) AS BIGINT) AS total_micro FROM r)
        |SELECT t.n_orders, t.total_micro,
        |  CAST(count(*) AS BIGINT) AS n_top,
        |  CAST(sum(vm) AS BIGINT) AS top_micro,
        |  CAST(CAST(sum(vm) AS HUGEINT) * 1000000 // t.total_micro AS BIGINT)
        |    AS share_ppm
        |FROM r, t
        |WHERE rn <= (t.n_orders + 99) // 100
        |GROUP BY 1, 2""".stripMargin,
    "q193_jaccard_hist" ->
      s"""WITH $MinhashPairsCtes,
         |vp AS ($JaccardTailSql)
         |SELECT (overlap * 100 // union_size) // 5 * 5 AS jaccard_pct_bucket,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM vp GROUP BY 1""".stripMargin,
    "q194_bucket_purity" ->
      s"""WITH bk AS (SELECT label,
         |${(0 until 8).map(p =>
            s"  (CASE WHEN ${projSql(p)} >= 0 THEN '1' ELSE '0' END)").mkString(" ||\n")}
         |  AS bucket FROM embeddings),
         |c AS (SELECT bucket, label, CAST(count(*) AS BIGINT) AS n
         |      FROM bk GROUP BY 1, 2)
         |SELECT bucket, CAST(sum(n) AS BIGINT) AS n_vecs,
         |  max(n) AS n_majority,
         |  max(n) * 1000000 // CAST(sum(n) AS BIGINT) AS purity_ppm
         |FROM c GROUP BY 1""".stripMargin,
    "q195_current_view" ->
      s"""WITH $SrcDelCte,
         |scd AS (
         |  WITH ${scd2FullSql(AllCheck, deletes = true)}
         |)
         |SELECT user_id, event_type, value, ts
         |FROM scd WHERE _is_current AND _change_type <> 'D'""".stripMargin,
    "q196_history_churn" ->
      s"""WITH $SrcDelCte,
         |scd AS (
         |  WITH ${scd2FullSql(AllCheck, deletes = true)}
         |)
         |SELECT date_trunc('day', _valid_from) AS day, _change_type,
         |  CAST(count(*) AS BIGINT) AS n_versions,
         |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_keys
         |FROM scd GROUP BY 1, 2""".stripMargin,
    // q197: the contract declaration is static, so the oracle enumerates it;
    // ok=TRUE rows require the engine's enforcement to have passed on both
    // the initial-load and incremental-merge runs (a breach throws, which
    // the driver records as a failed query).
    "q197_contract" ->
      """SELECT * FROM (VALUES
        |  ('event_id', 'bigint', TRUE), ('ts', 'timestamp', TRUE),
        |  ('user_id', 'bigint', TRUE), ('event_type', 'string', TRUE),
        |  ('value', 'double', TRUE), ('props', 'string', TRUE),
        |  ('_is_current', 'boolean', TRUE), ('_valid_from', 'timestamp', TRUE),
        |  ('_valid_to', 'timestamp', TRUE), ('_change_type', 'string', TRUE)
        |) AS t("column", expected_type, ok)""".stripMargin,
    "q126_keep_last_k" ->
      s"""WITH $SrcCte,
         |scd AS (
         |  WITH ${scd2FullSql(AllCheck, deletes = false)}
         |)
         |SELECT * FROM scd
         |QUALIFY row_number() OVER (PARTITION BY user_id
         |  ORDER BY _valid_from DESC) <= 3""".stripMargin,
    "q127_ann_recall" ->
      s"""WITH bq AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 32),
         |bs AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${cosSql("q.embedding", "c.embedding")} AS cosine
         |  FROM embeddings c JOIN bq q ON q.vec_id <> c.vec_id),
         |bt AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
         |    FROM bs) WHERE rnk <= 10),
         |bk AS (SELECT vec_id, embedding,
         |${(0 until 8).map(p =>
            s"  (CASE WHEN ${projSql(p)} >= 0 THEN '1' ELSE '0' END)").mkString(" ||\n")}
         |  AS b FROM embeddings),
         |lq AS (SELECT * FROM bk WHERE vec_id < 32),
         |ls AS (SELECT lq.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${cosSql("lq.embedding", "c.embedding")} AS cosine
         |  FROM bk c JOIN lq ON c.b = lq.b AND lq.vec_id <> c.vec_id),
         |lt AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
         |    FROM ls) WHERE rnk <= 10),
         |h AS (SELECT bt.query_id, CAST(count(*) AS BIGINT) AS n_hits
         |      FROM bt JOIN lt ON bt.query_id = lt.query_id
         |        AND bt.neighbor_id = lt.neighbor_id GROUP BY 1),
         |ex AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact
         |       FROM bt GROUP BY 1)
         |SELECT ex.query_id, ex.n_exact,
         |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |  CAST(coalesce(h.n_hits, 0) * 1000000 AS BIGINT) // ex.n_exact
         |    AS recall_ppm
         |FROM ex LEFT JOIN h ON h.query_id = ex.query_id""".stripMargin,
    "q128_winsorize" ->
      s"""WITH $SrcCte,
         |e AS (SELECT event_id, event_type,
         |        CAST(floor(value * 1000000.0) AS BIGINT) AS vm FROM src),
         |r AS (SELECT event_type, vm,
         |        row_number() OVER (PARTITION BY event_type ORDER BY vm) AS rn,
         |        count(*) OVER (PARTITION BY event_type) AS n FROM e),
         |b AS (SELECT event_type,
         |        min(CASE WHEN rn = (n * 5 + 99) // 100 THEN vm END) AS lo,
         |        min(CASE WHEN rn = (n * 95 + 99) // 100 THEN vm END) AS hi
         |      FROM r GROUP BY 1)
         |SELECT e.event_id, e.event_type, e.vm,
         |  least(greatest(e.vm, b.lo), b.hi) AS vm_w
         |FROM e JOIN b USING (event_type)""".stripMargin,
    "q129_big_orders" ->
      """WITH qty AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(floor(l_quantity * 1000000.0) AS BIGINT)) AS BIGINT)
        |      AS qty_micro
        |  FROM lineitem GROUP BY 1
        |  HAVING CAST(sum(CAST(floor(l_quantity * 1000000.0) AS BIGINT))
        |              AS BIGINT) > 260000000)
        |SELECT c_name, o_orderkey, o_orderdate, qty_micro
        |FROM qty JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey""".stripMargin,
    "q130_key_skew" ->
      s"""WITH $SrcCte,
         |pk AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows
         |       FROM src GROUP BY 1),
         |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total,
         |        CAST(count(*) AS BIGINT) AS nkeys FROM pk)
         |SELECT user_id, n_rows,
         |  n_rows * 1000000 // total AS share_ppm,
         |  n_rows * nkeys * 1000000 // total AS skew_x_avg_ppm,
         |  CAST(row_number() OVER (ORDER BY n_rows DESC, user_id) AS BIGINT)
         |    AS skew_rank
         |FROM pk, t
         |QUALIFY skew_rank <= 25""".stripMargin,
    "q131_user_profile" ->
      s"""WITH $SrcCte
         |SELECT user_id,
         |  array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
         |  len(list(DISTINCT event_type)) AS n_types,
         |  CAST(count(*) AS BIGINT) AS n_events
         |FROM src GROUP BY 1""".stripMargin,
    "q132_zorder" ->
      """SELECT l_orderkey, l_linenumber, zx, zy,
        |  CAST(list_sum(list_transform(generate_series(0, 9), b ->
        |    (((zx >> b) & 1) << (2 * b)) + (((zy >> b) & 1) << (2 * b + 1))))
        |    AS BIGINT) AS z
        |FROM (SELECT l_orderkey, l_linenumber,
        |        CAST(l_partkey % 1024 AS BIGINT) AS zx,
        |        CAST(l_suppkey % 1024 AS BIGINT) AS zy
        |      FROM lineitem)""".stripMargin,
    "q133_deciles" ->
      s"""WITH $SrcCte,
         |e AS (SELECT event_id, event_type,
         |        CAST(floor(value * 1000000.0) AS BIGINT) AS vm FROM src)
         |SELECT event_id, event_type, vm,
         |  ntile(10) OVER (PARTITION BY event_type ORDER BY vm, event_id)
         |    AS decile
         |FROM e""".stripMargin,
    "q134_sentence_dedup" ->
      """WITH s0 AS (SELECT doc_id,
        |    trim(s) AS s FROM (SELECT doc_id,
        |      unnest(regexp_split_to_array(text, '[.!?]+')) AS s
        |    FROM documents)),
        |s1 AS (SELECT doc_id, s FROM s0 WHERE length(s) > 0),
        |c AS (SELECT doc_id, s,
        |        count(*) OVER (PARTITION BY md5(s)) AS cnt FROM s1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sents,
        |  CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_sents,
        |  CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) * 1000000 AS BIGINT)
        |    // count(*) AS dup_ppm
        |FROM c GROUP BY 1""".stripMargin,
    "q135_suff_stats" ->
      s"""WITH $SrcCte,
         |e AS (SELECT event_type,
         |        CAST(floor(value * 1000.0) AS BIGINT) AS x,
         |        (epoch_us(ts) // 1000000) % 86400 AS y FROM src)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y,
         |  CAST(sum(x * y) AS BIGINT) AS sum_xy,
         |  CAST(sum(x * x) AS BIGINT) AS sum_x2,
         |  CAST(sum(y * y) AS BIGINT) AS sum_y2
         |FROM e GROUP BY 1""".stripMargin,
    "q136_pct_of_total" ->
      s"""WITH $SrcCte,
         |r AS (SELECT event_type, date_trunc('day', ts) AS day,
         |        CAST(count(*) AS BIGINT) AS n FROM src GROUP BY 1, 2)
         |SELECT event_type, day, n,
         |  CAST(sum(n) OVER (PARTITION BY day) AS BIGINT) AS day_total,
         |  n * 1000000 // CAST(sum(n) OVER (PARTITION BY day) AS BIGINT)
         |    AS share_ppm
         |FROM r""".stripMargin,
    "q137_snapshot_check" ->
      s"""WITH $SrcCte,
         |s1 AS (SELECT * FROM src
         |  WHERE event_id % 2 = 0 AND user_id % 10 <> 7
         |  QUALIFY row_number() OVER (PARTITION BY user_id
         |    ORDER BY ts DESC, event_id DESC) = 1),
         |s2 AS (SELECT * FROM src
         |  WHERE event_id % 2 = 1 AND user_id % 10 <> 3
         |  QUALIFY row_number() OVER (PARTITION BY user_id
         |    ORDER BY ts DESC, event_id DESC) = 1),
         |j AS (SELECT coalesce(a.user_id, b.user_id) AS u,
         |        a.user_id IS NOT NULL AS has1, b.user_id IS NOT NULL AS has2,
         |        a.event_id AS e1, a.ts AS ts1, a.event_type AS t1,
         |        a.value AS v1, a.props AS p1,
         |        b.event_id AS e2, b.ts AS ts2, b.event_type AS t2,
         |        b.value AS v2, b.props AS p2
         |      FROM s1 a FULL OUTER JOIN s2 b ON a.user_id = b.user_id)
         |SELECT e1 AS event_id, ts1 AS ts, u AS user_id, t1 AS event_type,
         |  v1 AS value, p1 AS props,
         |  TIMESTAMP '2024-02-01 00:00:00' AS _snapshot_at,
         |  CAST(NULL AS TIMESTAMP) AS deleted_at,
         |  (has2 AND t2 = t1) AS _is_current,
         |  TIMESTAMP '2024-02-01 00:00:00' AS _valid_from,
         |  CASE WHEN has2 AND t2 = t1 THEN TIMESTAMP '2999-12-31 23:59:59'
         |       ELSE TIMESTAMP '2024-02-02 00:00:00' END AS _valid_to,
         |  'I' AS _change_type
         |FROM j WHERE has1
         |UNION ALL
         |SELECT e2, ts2, u, t2, v2, p2,
         |  TIMESTAMP '2024-02-02 00:00:00', CAST(NULL AS TIMESTAMP),
         |  true, TIMESTAMP '2024-02-02 00:00:00',
         |  TIMESTAMP '2999-12-31 23:59:59', 'U'
         |FROM j WHERE has1 AND has2 AND t2 <> t1
         |UNION ALL
         |SELECT e2, ts2, u, t2, v2, p2,
         |  TIMESTAMP '2024-02-02 00:00:00', CAST(NULL AS TIMESTAMP),
         |  true, TIMESTAMP '2024-02-02 00:00:00',
         |  TIMESTAMP '2999-12-31 23:59:59', 'I'
         |FROM j WHERE has2 AND NOT has1
         |UNION ALL
         |SELECT e1, ts1, u, t1, v1, p1,
         |  TIMESTAMP '2024-02-02 00:00:00',
         |  TIMESTAMP '2024-02-02 00:00:00',
         |  true, TIMESTAMP '2024-02-02 00:00:00',
         |  TIMESTAMP '2999-12-31 23:59:59', 'D'
         |FROM j WHERE has1 AND NOT has2""".stripMargin,
    "q138_time_to_convert" ->
      s"""WITH $SrcCte,
         |u AS (SELECT user_id,
         |        min(CASE WHEN event_type = 'signup' THEN ts END) AS t0
         |      FROM src GROUP BY 1),
         |u2 AS (SELECT s.user_id, u.t0,
         |         min(CASE WHEN s.event_type = 'purchase' AND s.ts >= u.t0
         |                  THEN s.ts END) AS t1
         |       FROM src s JOIN u ON s.user_id = u.user_id
         |       WHERE u.t0 IS NOT NULL GROUP BY 1, 2),
         |c AS (SELECT user_id,
         |        (epoch_us(t1) - epoch_us(t0)) // 1000000 AS delta_sec
         |      FROM u2 WHERE t1 IS NOT NULL),
         |r AS (SELECT delta_sec, row_number() OVER (ORDER BY delta_sec) AS rn,
         |        count(*) OVER () AS n FROM c)
         |SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM u2) AS n_from,
         |  (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_converted,
         |  (SELECT delta_sec FROM r WHERE rn = (n * 50 + 99) // 100) AS p50_sec,
         |  (SELECT delta_sec FROM r WHERE rn = (n * 90 + 99) // 100) AS p90_sec""".stripMargin,
    "q139_version_conflicts" ->
      s"""WITH $SrcCte,
         |h AS (SELECT user_id, date_trunc('hour', ts) AS version_ts,
         |        md5(concat_ws('-', coalesce(CAST(event_type AS VARCHAR), ''),
         |          coalesce(CAST(value AS VARCHAR), ''),
         |          coalesce(props, ''))) AS _h
         |      FROM src)
         |SELECT user_id, version_ts, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(DISTINCT _h) AS BIGINT) AS n_variants
         |FROM h GROUP BY 1, 2
         |HAVING count(DISTINCT _h) > 1""".stripMargin,
    "q140_milestones" ->
      s"""WITH $SrcCte
         |SELECT user_id,
         |  min(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
         |  min(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
         |  min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
         |  min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase,
         |  min(CASE WHEN event_type = 'error' THEN ts END) AS first_error,
         |  max(ts) AS last_event,
         |  CAST(count(*) AS BIGINT) AS n_events
         |FROM src GROUP BY 1""".stripMargin,
    "q141_gap_fill" ->
      s"""WITH $SrcCte,
         |spine AS (SELECT h.hour, t.event_type FROM
         |  (SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
         |     TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR)) AS hour) h
         |  CROSS JOIN (SELECT unnest(['click', 'signup', 'error', 'view',
         |     'purchase']) AS event_type) t),
         |c AS (SELECT date_trunc('hour', ts) AS hour, event_type,
         |        CAST(count(*) AS BIGINT) AS n FROM src GROUP BY 1, 2)
         |SELECT spine.hour, spine.event_type, coalesce(c.n, 0) AS n
         |FROM spine LEFT JOIN c
         |  ON spine.hour = c.hour AND spine.event_type = c.event_type""".stripMargin
  )

  /** Order-independent per-lang checksum of `documents` (X107) — shared by
    * q125 and the q142/q143 format-roundtrip gates.
    */
  private val DocChecksumSql =
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(('0x' || substr(md5(concat_ws('-',
      |      coalesce(CAST(doc_id AS VARCHAR), ''), coalesce(text, ''),
      |      coalesce(source, ''), coalesce(CAST(n_chars AS VARCHAR), ''))),
      |    1, 15))::UBIGINT) % 1000000000000000000 AS BIGINT) AS checksum
      |FROM documents GROUP BY 1""".stripMargin

  private val LiCols = Seq("l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus")

  private val Q27Sql = {
    val hash = "md5(concat_ws('-', " +
      LiCols.map(c => s"coalesce(CAST($c AS VARCHAR), '')").mkString(", ") + "))"
    s"""WITH src AS (SELECT l_orderkey, ${LiCols.mkString(", ")},
       |    CAST(l_shipdate AS TIMESTAMP) AS l_shipdate FROM lineitem),
       |hashed AS (SELECT *, $hash AS _h FROM src),
       |dedup AS (SELECT * FROM hashed
       |  QUALIFY row_number() OVER (PARTITION BY l_orderkey, l_shipdate ORDER BY _h) = 1),
       |changes AS (SELECT * FROM (
       |    SELECT *, lag(_h) OVER (PARTITION BY l_orderkey ORDER BY l_shipdate) AS _ph
       |    FROM dedup) WHERE _ph IS NULL OR _h <> _ph)
       |SELECT l_orderkey, ${LiCols.mkString(", ")}, l_shipdate,
       |  (row_number() OVER (PARTITION BY l_orderkey ORDER BY l_shipdate DESC) = 1) AS _is_current,
       |  l_shipdate AS _valid_from,
       |  coalesce(lead(l_shipdate) OVER (PARTITION BY l_orderkey ORDER BY l_shipdate),
       |           TIMESTAMP '2999-12-31 23:59:59') AS _valid_to,
       |  CASE WHEN row_number() OVER (PARTITION BY l_orderkey ORDER BY l_shipdate) = 1
       |       THEN 'I' ELSE 'U' END AS _change_type
       |FROM changes""".stripMargin
  }

  /** Deterministic media synthesis mirror of `Multimodal.fromDocuments`. */
  private val MediaCte =
    """m AS (SELECT doc_id, text,
      |  (['image', 'audio', 'video'])[(doc_id % 3)::INT + 1] AS modality,
      |  16 + (length(text) % 64) AS width,
      |  16 + (length(text) % 48) AS height,
      |  (length(text) % 30 + 1) AS n_frames
      |FROM documents)""".stripMargin

  // --- DuckDB fragments for the text/dedup/similarity oracles -------------

  private[graft] def sqlList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("[", ", ", "]")

  /** The q14 language-ID prediction as a reusable CTE chain (`hits`,
    * `pred(doc_id, lang_pred)`) over `toks` — shared by the classifier
    * eval queries so both gate against ONE definition of the predictor.
    */
  private[graft] lazy val LangPredSql: String =
    s"""hits AS (SELECT doc_id, text,
       |${TextAnalysis.Stopwords.keys.map(l =>
          s"  len(list_filter(t, x -> list_contains(${sqlList(TextAnalysis.Stopwords(l))}, x))) AS h_$l").mkString(",\n")}
       |FROM toks),
       |pred AS (SELECT doc_id, CASE
       |  WHEN text IS NULL THEN 'und'
       |  WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
       |${TextAnalysis.Stopwords.keys.map(l =>
          s"  WHEN greatest(h_en, h_es, h_fr, h_de) > 0 AND h_$l = greatest(h_en, h_es, h_fr, h_de) THEN '$l'").mkString("\n")}
       |  ELSE 'und' END AS lang_pred
       |FROM hits)""".stripMargin

  private val AllStopwords = TextAnalysis.Stopwords.values.flatten.toSeq.distinct

  /** RE2 spellings of TextAnalysis's Java regexes (same character sets). */
  private val BpeRegexSql = """[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"""
  private val PunctRegexSql = """[.,;:!?''"()\[\]{}<>/\\|@#$%^&*_+=~-]"""

  private[graft] val ToksCte =
    """toks AS (SELECT doc_id, text,
      |  regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents)""".stripMargin

  /** PQ distance table `d(vec_id, s, k, dist2)` mirroring
    * `Similarity.pqPerSub` (dim 64, m=4, k=16; md5-derived integer codebook).
    * Shared by q73 (argmin codes) and q74 (ADC top-k: the query LUT and the
    * corpus codes are both projections of `d`).
    */
  private val PqDistCtes =
    """vq AS (SELECT vec_id,
      |  list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
      |  FROM embeddings),
      |comp AS (SELECT vec_id, (i - 1) // 16 AS s, (i - 1) % 16 AS j, q[i] AS x
      |  FROM vq CROSS JOIN (SELECT unnest(range(1, 65)) AS i)),
      |cents AS (SELECT ss.s, kk.k, jj.j,
      |    CAST(('0x' || substr(md5('pq-' || ss.s || '-' || kk.k || '-' || jj.j), 1, 8))::UBIGINT
      |      % 2001 AS BIGINT) - 1000 AS c
      |  FROM (SELECT unnest(range(4)) AS s) ss,
      |       (SELECT unnest(range(16)) AS k) kk,
      |       (SELECT unnest(range(16)) AS j) jj),
      |d AS (SELECT comp.vec_id, comp.s, cents.k,
      |    CAST(sum((x - c) * (x - c)) AS BIGINT) AS dist2
      |  FROM comp JOIN cents ON cents.s = comp.s AND cents.j = comp.j
      |  GROUP BY 1, 2, 3)""".stripMargin

  /** Distinct n-token shingles, mirroring `Dedup.shingles`. */
  private[graft] def shingleCteFor(name: String, n: Int): String =
    shingleCte(name, n)

  private def shingleCte(name: String, n: Int): String =
    s"""$name AS (SELECT doc_id,
       |  CASE WHEN len(t) < $n THEN [array_to_string(t, ' ')]
       |  ELSE list_distinct(list_transform(generate_series(0, len(t) - $n),
       |         i -> array_to_string(t[i+1:i+$n], ' '))) END AS shs FROM toks)""".stripMargin

  private val ShxCte = "shx AS (SELECT doc_id, unnest(shs) AS s FROM sh3)"
  private val SizesCte = "sizes AS (SELECT doc_id, count(*) AS n FROM shx GROUP BY 1)"

  /** Jaccard >= 1/2 via integer cross-multiplication (shared by q17/q18). */
  /** MinHash+LSH verified-pair pipeline (q18's oracle), exposed as a CTE
    * chain ending in `pairs` so the clustering oracle (q38) can extend it.
    */
  /** The pair chain minus the leading toks CTE, so callers can swap in a
    * filtered corpus (q55) while q17/q18/q38/q46 keep the full one.
    */
  private lazy val MinhashPairsCtesNoToks =
    s"""${shingleCte("sh3", 3)}, $ShxCte, $SizesCte,
       |mh AS (SELECT doc_id,
       |${(0 until 12).map(i =>
          s"  list_min(list_transform(shs, s -> md5('$i-' || s))) AS m$i").mkString(",\n")}
       |FROM sh3),
       |bands AS (SELECT doc_id, unnest([
       |${(0 until 4).map(b =>
          s"  '$b:' || md5(m${3 * b} || '|' || m${3 * b + 1} || '|' || m${3 * b + 2})").mkString(",\n")}
       |]) AS bk FROM mh),
       |bandsz0 AS (
       |    SELECT doc_id, bk, count(*) OVER (PARTITION BY bk) AS bsz,
       |      lag(doc_id) OVER (PARTITION BY bk ORDER BY doc_id) AS prev,
       |      (count(*) OVER (PARTITION BY bk)
       |         <= ${graft.operators.Dedup.DefaultMaxBucket}
       |       AND count(*) OVER (PARTITION BY bk)
       |         * count(*) OVER (PARTITION BY bk)
       |         <= ${graft.operators.Dedup.PairBudgetFactor}
       |         * (SELECT count(*) FROM sh3)) AS ok
       |    FROM bands),
       |bandsz AS (SELECT doc_id, bk FROM bandsz0 WHERE ok),
       |cand AS (SELECT DISTINCT doc_a, doc_b FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bandsz a JOIN bandsz b ON a.bk = b.bk AND a.doc_id < b.doc_id
       |  UNION ALL
       |  SELECT prev, doc_id FROM bandsz0
       |  WHERE NOT ok AND prev IS NOT NULL) cu),
       |pairs AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS overlap
       |  FROM cand c JOIN shx x ON x.doc_id = c.doc_a
       |              JOIN shx y ON y.doc_id = c.doc_b AND y.s = x.s
       |  GROUP BY 1, 2)""".stripMargin

  private[graft] lazy val MinhashPairsCtes = s"$ToksCte, $MinhashPairsCtesNoToks"

  private[graft] val JaccardTailSql =
    """SELECT doc_a, doc_b, overlap, x.n + y.n - overlap AS union_size
      |FROM pairs JOIN sizes x ON x.doc_id = doc_a JOIN sizes y ON y.doc_id = doc_b
      |WHERE overlap * 2 >= (x.n + y.n - overlap) * 1""".stripMargin

  /** 32-bit SimHash signature, mirroring `Dedup.simhash32` bit-for-bit. */
  private val SimhashCte =
    """hv AS (SELECT doc_id,
      |  list_transform(list_distinct(t), x -> ('0x' || substr(md5(x), 1, 8))::UBIGINT::BIGINT) AS hs,
      |  len(list_distinct(t)) AS n FROM toks),
      |sig AS (SELECT doc_id,
      |  CAST(list_sum(list_transform(generate_series(0, 31), b ->
      |    CASE WHEN 2 * list_sum(list_transform(hs, h -> (h >> b) & 1)) > n
      |         THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS simhash
      |FROM hv)""".stripMargin

  /** Sequential-fold double-precision dot/cosine, mirroring `Similarity.dot`. */
  private[graft] def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(generate_series(1, len($a)), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  private[graft] def cosSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / sqrt(${dotSql(a, a)} * ${dotSql(b, b)}))"

  /** Sign-LSH projection against deterministic hyperplane `p`, mirroring
    * `Similarity.lshBucket` (md5-derived components in [-1, 1]).
    */
  private def projSql(p: Int): String =
    s"list_sum(list_transform(generate_series(1, len(embedding)), i -> " +
      s"CAST(embedding[i] AS DOUBLE) * " +
      s"((('0x' || substr(md5('$p-' || CAST(i - 1 AS VARCHAR)), 1, 8))::UBIGINT::BIGINT % 2000001) / 1000000.0 - 1.0)))"

  /** Shared top-k tail: rank on the raw cosine, round only in the output. */
  private val TopKTailSql =
    """, ranked AS (SELECT *, row_number() OVER (
      |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS "rank" FROM scored)
      |SELECT query_id, "rank", neighbor_id, round(cosine, 4) AS cosine
      |FROM ranked WHERE "rank" <= 10""".stripMargin

  /** One scd2_join input dimension, DuckDB-side: full-refresh SCD2 with change
    * detection on a single column, projected to (key, payload, audit).
    */
  /** Sessions x event_type-dim overlap join, DuckDB-side (q77; q84's
    * chunk-decomposed strategy is row-identical so both gate against it).
    */
  private lazy val OverlapOracleSql: String =
    s"""WITH $SrcCte,
       |g AS (SELECT user_id, ts,
       |  CASE WHEN lag(ts) OVER w IS NULL
       |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
       |       THEN 1 ELSE 0 END AS brk
       |  FROM src WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
       |sx AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
       |                                ROWS UNBOUNDED PRECEDING) AS sess
       |       FROM g),
       |sessions AS (SELECT user_id, min(ts) AS session_start,
       |    max(ts) AS session_end, count(*) AS n_events
       |  FROM sx GROUP BY user_id, sess),
       |dim AS (
       |  WITH ${scd2JoinDimSql("event_type")}
       |)
       |SELECT se.user_id, se.session_start, se.n_events,
       |  d.event_type AS dim_event_type,
       |  greatest(se.session_start, d._valid_from) AS overlap_from,
       |  least(se.session_end + INTERVAL 1 MICROSECOND, d._valid_to)
       |    AS overlap_to
       |FROM sessions se JOIN dim d ON se.user_id = d.user_id
       |  AND se.session_start < d._valid_to
       |  AND d._valid_from < se.session_end + INTERVAL 1 MICROSECOND"""
      .stripMargin

  private def scd2JoinDimSql(checkCol: String): String =
    scd2FullSql(Seq(checkCol), deletes = false)
      .replace(
        "SELECT event_id, ts, user_id, event_type, value, props,",
        s"SELECT user_id, $checkCol,")
}
