package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

/** Round-6 session queries (q378+). Separate object: SparkEntry's map
  * builders sit near the JVM 64 KB method-bytecode ceiling, so new surface
  * accretes here and chains into `SparkEntry.queries` / `oracleSql`.
  */
object R7Queries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.spread(s, Tables.read(s, dir, "documents"))

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "embeddings")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q378_disjunctive_bands" -> ((s, dir) => {
      // TPC-H Q19 shape: fact x small-dim join whose predicate is an OR of
      // (brand, size-band, quantity-band) conjunctions. The join stays a
      // BROADCAST hash join on the p_partkey equality; the disjunction rides
      // as a residual condition evaluated inside the probe — the fact table
      // never shuffles, which is the only plan that survives a 100 TB
      // lineitem. Revenue in exact cent-milli units:
      // floor(price*100) * (1000 - floor(disc*1000)).
      val li = Tables.read(s, dir, "lineitem").select(
        col("l_partkey"), col("l_quantity"),
        expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("cents"),
        expr("CAST(floor(l_discount * 1000) AS BIGINT)").as("disc_m"))
      val p = Tables.read(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      def band(brand: String, szHi: Int, qLo: Int, qHi: Int) =
        col("p_brand") === brand &&
          col("p_size").between(1, szHi) &&
          col("l_quantity").between(qLo, qHi)
      li.join(broadcast(p),
              col("l_partkey") === col("p_partkey") &&
                (band("Brand#1", 15, 1, 11) ||
                 band("Brand#2", 25, 10, 20) ||
                 band("Brand#3", 35, 20, 30)))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_lines"),
             sum(col("cents") * (lit(1000L) - col("disc_m")))
               .as("revenue_cm"))
    }),
    "q379_readability" -> ((s, dir) => {
      // Integer Flesch readability rollup per source: the per-doc projection
      // is shuffle-free (TextAnalysis.readability); the only exchange is the
      // vocabulary-sized per-source aggregate with map-side combine.
      TextAnalysis.readability(docs(s, dir))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
             expr("sum(flesch_milli) DIV count(1)").as("avg_flesch_milli"),
             min(col("flesch_milli")).as("min_flesch_milli"),
             max(col("flesch_milli")).as("max_flesch_milli"))
    }),
    "q380_bootstrap_ci" -> ((s, dir) => {
      // Hash-seeded Poisson bootstrap of the mean order value: 32 resamples,
      // each order's weight in replicate r drawn from Poisson(1) via the
      // md5(orderkey:r) residue against the fixed ppm CDF (truncated at 4).
      // Fully deterministic — any engine replays the exact weights — and
      // fully distributed: the 32x row expansion collapses immediately in a
      // map-side combine, so the shuffle carries 32 rows per partition
      // regardless of fact size. The replicate means ARE the bootstrap
      // distribution; a reader takes order stats 2..31 for a ~94% CI.
      // r16: spread the scan — the single-row-group testdata parquet
      // reads as ONE partition, and the 32× explode + md5 + CDF CASE is
      // exactly the expensive narrow work `Tables.spread` exists for
      // (the whole 4.8M-row hash loop ran on one core; the groupBy
      // below is rep-keyed, so no shuffle re-splits it first).
      val o = Tables.spread(s, Tables.read(s, dir, "orders")).select(
        col("o_orderkey"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
      o.select(col("o_orderkey"), col("cents"),
               explode(sequence(lit(0), lit(31))).as("rep"))
        .withColumn("b",
          conv(substring(md5(concat(col("o_orderkey").cast("string"),
                                    lit(":"), col("rep").cast("string"))),
                         1, 8), 16, 10).cast("long") % 1000000L)
        // Poisson(1) CDF in ppm: P0=367879, cum1=735759, cum2=919699,
        // cum3=981012; the residual 1.9% mass lands on weight 4.
        .withColumn("w",
          when(col("b") < 367879L, 0L)
            .when(col("b") < 735759L, 1L)
            .when(col("b") < 919699L, 2L)
            .when(col("b") < 981012L, 3L)
            .otherwise(4L))
        .groupBy(col("rep"))
        .agg(sum(col("w")).as("n_eff"),
             expr("sum(w * cents) DIV sum(w)").as("mean_cents"))
    }),
    "q381_cc_star" -> ((s, dir) => {
      // Connected components of the strong co-purchase graph via the
      // O(log² n)-round large-star/small-star contraction — the scale-path
      // alternative to clusterPairs' O(diameter) min-label rounds, with no
      // driver union-find at any graph size. Labels are component minima,
      // so the result is bit-identical to any min-label CC.
      val p = Graph.coOccurrenceEdgesCached(
        Tables.spread(s, Tables.read(s, dir, "lineitem")),
        groupCol = "l_orderkey", itemCol = "l_partkey", minCount = 2)
      Graph.connectedComponentsStar(p)
        .select(col("doc_id").as("part_id"),
                col("cluster_id").as("component_id"),
                col("cluster_size").as("component_size"))
    }),
    "q382_bfs_hops" -> ((s, dir) => {
      // Multi-source BFS reach: minimum hop distance from the 3 smallest
      // part ids over the strong co-purchase graph, 4 levels. Seeds are
      // derived from the edge list itself so both engines pick the same
      // sources.
      val p = Graph.coOccurrenceEdgesCached(
        Tables.spread(s, Tables.read(s, dir, "lineitem")),
        groupCol = "l_orderkey", itemCol = "l_partkey", minCount = 2)
        .localCheckpoint(false)
      val seeds = p.select(col("src").as("node"))
        .union(p.select(col("dst").as("node")))
        .distinct().orderBy(col("node")).limit(3)
      Graph.bfsHops(p, seeds, maxHops = 4)
        .select(col("node").as("part_id"), col("hop"))
    }),
    "q383_semdedup" -> ((s, dir) =>
      // SemDeDup report: near-dup pairs are only sought inside each
      // vector's IVF bin — O(n²/c) candidate volume, the published recipe
      // for embedding dedup at corpus scale.
      Dedup.semanticDedupReport(emb(s, dir), "vec_id", "embedding",
                                c = 16, tau = 0.4)),
    "q384_ppr" -> ((s, dir) => {
      // Personalized PageRank from the 3 smallest items of the co-purchase
      // graph: integer micro-rank with teleport restricted to the seeds —
      // the related-items primitive, exact on any engine.
      val pairs = Graph.coOccurrenceEdgesCached(
        Tables.spread(s, Tables.read(s, dir, "lineitem")),
        groupCol = "l_orderkey", itemCol = "l_partkey")
      val sym = pairs.unionAll(pairs.select(col("dst").as("src"),
                                            col("src").as("dst")))
        .localCheckpoint(false)
      val seeds = sym.select(col("src").as("node")).distinct()
        .orderBy(col("node")).limit(3)
      Graph.personalizedPagerank(sym, seeds, iters = 3)
    }),
    "q386_qq_shift" -> ((s, dir) => {
      // Weekday-vs-weekend QQ table of order value: exact decile values per
      // class via Profile.weightedQuantiles (two-phase micro-cell pivot —
      // no whole-class sort at scale), pivoted to one row per decile with
      // the exact integer shift. The distributional view that a mean-lift
      // report (q345) can't give.
      val o = Tables.read(s, dir, "orders").select(
        when(dayofweek(col("o_orderdate")).isin(1, 7), lit("weekend"))
          .otherwise(lit("weekday")).as("day_class"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
        lit(1L).as("w"))
      Profile.weightedQuantiles(o, "day_class", "cents", "w",
                                percents = Seq(10, 20, 30, 40, 50,
                                               60, 70, 80, 90))
        .groupBy(col("q"))
        .agg(max(when(col("day_class") === "weekday", col("q_value")))
               .as("weekday_cents"),
             max(when(col("day_class") === "weekend", col("q_value")))
               .as("weekend_cents"))
        .withColumn("shift_cents",
                    col("weekend_cents") - col("weekday_cents"))
    }),
    "q387_assortativity" -> ((s, dir) => {
      // Degree-assortativity sufficient statistics of the co-purchase
      // graph: one combine aggregate over the directed edge list carrying
      // endpoint degrees — the standard mixing diagnostic (hubs linking
      // hubs?) as exact integers; the covariance/variance NUMERATORS ship
      // as DECIMAL(38,0) digit strings like q295, so any reader finishes
      // r = cov/var in their own precision.
      val p = Graph.coOccurrenceEdgesCached(
        Tables.spread(s, Tables.read(s, dir, "lineitem")),
        groupCol = "l_orderkey", itemCol = "l_partkey", minCount = 2)
      val sym = p.unionAll(p.select(col("dst").as("src"),
                                    col("src").as("dst")))
        .localCheckpoint(false)
      val deg = sym.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("d"))
      sym
        .join(deg.select(col("node").as("src"), col("d").as("dx")), "src")
        .join(deg.select(col("node").as("dst"), col("d").as("dy")), "dst")
        .agg(count(lit(1)).as("n"),
             sum(col("dx")).as("sx"),
             sum(col("dx") * col("dx")).as("sxx"),
             sum(col("dx") * col("dy")).as("sxy"))
        .selectExpr("n", "sx", "sxx", "sxy",
          "CAST(CAST(n AS DECIMAL(38,0)) * sxy" +
            " - CAST(sx AS DECIMAL(38,0)) * sx AS STRING) AS cov_numer",
          "CAST(CAST(n AS DECIMAL(38,0)) * sxx" +
            " - CAST(sx AS DECIMAL(38,0)) * sx AS STRING) AS var_numer")
    }),
    "q388_single_source_risk" -> ((s, dir) => {
      // Supply-chain concentration: parts grouped by how many DISTINCT
      // suppliers ever shipped them, with the revenue share concentrated
      // in each band — the "one warehouse fire away" audit. Two combine
      // rollups (part grain, then band grain); the share window runs on
      // the band-sized relation only.
      import org.apache.spark.sql.expressions.Window
      val perPart = Tables.spread(s, Tables.read(s, dir, "lineitem"))
        .groupBy(col("l_partkey"))
        .agg(countDistinct(col("l_suppkey")).as("n_suppliers"),
             sum(expr("CAST(floor(l_extendedprice * 100) AS BIGINT)"))
               .as("cents"))
      val w = Window.partitionBy(graft.functions.DimKey.one)
      perPart.groupBy(col("n_suppliers"))
        .agg(count(lit(1)).as("n_parts"), sum(col("cents")).as("cents"))
        .withColumn("_tot", sum(col("cents")).over(w))
        .withColumn("share_ppm", expr("cents * 1000000L DIV _tot"))
        .select(col("n_suppliers"), col("n_parts"), col("cents"),
                col("share_ppm"))
    }),
    "q389_orc_roundtrip" -> ((s, dir) => {
      // ORC source/sink roundtrip (columnar sibling to q142's JSONL and
      // q143's CSV): corpus → ORC → back with the EXPLICIT schema, then
      // the checksum rollup proves losslessness against the parquet
      // original the oracle reads. ORC is the other splittable columnar
      // lake format a 100 TB pipeline meets; schema-on-read, no inference
      // pass.
      val d = docs(s, dir)
      val path = java.nio.file.Files.createTempDirectory("q389_orc")
        .toString + "/orc"
      d.write.mode("overwrite").orc(path)
      s.read.schema(d.schema).orc(path)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_rows"),
             (sum(conv(substring(md5(concat_ws("-",
                 coalesce(col("doc_id").cast("string"), lit("")),
                 coalesce(col("text"), lit("")),
                 coalesce(col("source"), lit("")),
                 coalesce(col("n_chars").cast("string"), lit("")))),
               1, 15), 16, 10).cast("decimal(38,0)"))
               % lit(1000000000000000000L)).cast("long").as("checksum"))
    }),
    "q390_recursive_org" -> ((s, dir) => {
      // WITH RECURSIVE through the SQL front end (Spark 4's recursive CTE):
      // the supplier "org tree" (parent = s_suppkey DIV 2, root 1) walked
      // top-down — each recursion level is one join against the previous
      // frontier, the textbook hierarchy traversal a warehouse migration
      // needs the engine to run verbatim. Depth-grain rollup with exact
      // balance cents.
      Tables.read(s, dir, "supplier")
        .createOrReplaceTempView("supplier_q390")
      s.sql("""
        WITH RECURSIVE org AS (
          SELECT s_suppkey AS node, 1 AS depth,
                 CAST(floor(s_acctbal * 100) AS BIGINT) AS bal_cents
          FROM supplier_q390 WHERE s_suppkey = 1
          UNION ALL
          SELECT s.s_suppkey, o.depth + 1,
                 CAST(floor(s.s_acctbal * 100) AS BIGINT)
          FROM supplier_q390 s JOIN org o ON s.s_suppkey DIV 2 = o.node)
        SELECT depth, count(*) AS n_nodes,
               min(node) AS min_node, max(node) AS max_node,
               sum(bal_cents) AS bal_cents
        FROM org GROUP BY depth""")
    }),
    "q391_stylometry_dist" -> ((s, dir) => {
      // Stylometry-lite source fingerprint distance: relative frequency
      // (ppm of ALL tokens) of 10 fixed function words per source, then
      // pairwise Manhattan distance between sources — the Burrows-Delta
      // family's shape with exact integer arithmetic. Two vocabulary-sized
      // rollups plus a sources² self-join on a 10-term grid; the corpus is
      // scanned once.
      import s.implicits._
      val fw = Seq("the", "of", "and", "to", "a",
                   "in", "is", "that", "it", "as")
      val toks = docs(s, dir).select(col("source"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
      val totals = toks.groupBy(col("source"))
        .agg(count(lit(1)).as("n_tokens"))
      val grid = totals.select(col("source"), col("n_tokens"))
        .crossJoin(broadcast(fw.toDF("w")))
      val counts = toks.filter(col("tok").isin(fw: _*))
        .groupBy(col("source"), col("tok").as("w"))
        .agg(count(lit(1)).as("cnt"))
      val freqs = grid.join(counts, Seq("source", "w"), "left")
        .select(col("source"), col("w"),
                expr("coalesce(cnt, 0L) * 1000000L DIV n_tokens")
                  .as("freq_ppm"))
      freqs.as("a")
        .join(freqs.as("b"),
              col("a.w") === col("b.w") &&
                col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"),
                 col("b.source").as("source_b"))
        .agg(count(lit(1)).as("n_terms"),
             sum(abs(col("a.freq_ppm") - col("b.freq_ppm")))
               .as("delta_ppm"))
    }),
    "q392_ingest_idempotent" -> ((s, dir) => {
      // Idempotent batched ingest, driver-checked end-to-end: even-id docs
      // land as batch 1, odd-id docs as batch 2, then batch 1 REPLAYS
      // (at-least-once upstream). The final store must equal the oracle's
      // one-shot exact dedup with batch-1-wins precedence — a replay can
      // never grow the corpus. The whole three-publish history runs inside
      // the query against a temp VersionedTable root.
      val d = docs(s, dir).select(col("doc_id"), col("text"))
        .localCheckpoint(false)
      val root = java.nio.file.Files.createTempDirectory("q392_ingest")
        .toString
      val b1 = d.filter(col("doc_id") % 2 === 0)
      val b2 = d.filter(col("doc_id") % 2 === 1)
      CorpusIngest.ingest(s, b1, root)
      CorpusIngest.ingest(s, b2, root)
      CorpusIngest.ingest(s, b1, root) // replay
      VersionedTable.read(s, root)
        .select(col("doc_id"), col("text"), col("fingerprint"))
    }),
    "q393_ingest_versions" -> ((s, dir) => {
      // Time travel across the same ingest history: per committed version,
      // the row count — version 3 (the replay) must be byte-identical in
      // cardinality to version 2, making at-least-once delivery visibly
      // idempotent, while version 1 is the batch-1 dedup alone.
      val d = docs(s, dir).select(col("doc_id"), col("text"))
        .localCheckpoint(false)
      val root = java.nio.file.Files.createTempDirectory("q393_ingest")
        .toString
      val b1 = d.filter(col("doc_id") % 2 === 0)
      val b2 = d.filter(col("doc_id") % 2 === 1)
      CorpusIngest.ingest(s, b1, root)
      CorpusIngest.ingest(s, b2, root)
      CorpusIngest.ingest(s, b1, root) // replay
      (1L to 3L).map { v =>
        VersionedTable.readVersion(s, root, v)
          .agg(count(lit(1)).as("n_rows"))
          .select(lit(v).as("version"), col("n_rows"))
      }.reduce(_ unionByName _)
    }),
    "q395_lead_lag_xcorr" -> ((s, dir) => {
      // Lead-lag cross-correlation moments: does view activity LEAD
      // purchase activity by k days? Exact integer sufficient statistics
      // between the daily 'view' series and the k-shifted daily 'purchase'
      // series for k = 0..7 — the reader finishes r(k) in their own
      // precision from the shipped numerators. Two day-grain rollups (the
      // only fact-sized work), then an 8-lag broadcast grid over
      // dimension-sized series.
      import s.implicits._
      val d = Tables.events(s, dir).select(
        col("event_type"),
        expr("datediff(CAST(date_trunc('DAY', ts) AS DATE), " +
             "DATE'2020-01-01')").as("d"))
      def series(t: String, as: String) =
        d.filter(col("event_type") === t).groupBy(col("d"))
          .agg(count(lit(1)).as(as))
      val xs = series("view", "x")
      val ys = series("purchase", "y")
      xs.crossJoin(broadcast((0 to 7).toDF("lag")))
        .join(ys.select(col("d").as("_yd"), col("y")),
              col("_yd") === col("d") + col("lag"))
        .groupBy(col("lag"))
        .agg(count(lit(1)).as("n"),
             sum(col("x")).as("sx"), sum(col("y")).as("sy"),
             sum(col("x") * col("x")).as("sxx"),
             sum(col("y") * col("y")).as("syy"),
             sum(col("x") * col("y")).as("sxy"))
        .selectExpr("lag", "n", "sx", "sy", "sxx", "syy", "sxy",
          "CAST(CAST(n AS DECIMAL(38,0)) * sxy" +
            " - CAST(sx AS DECIMAL(38,0)) * sy AS STRING) AS cov_numer",
          "CAST(CAST(n AS DECIMAL(38,0)) * sxx" +
            " - CAST(sx AS DECIMAL(38,0)) * sx AS STRING) AS varx_numer",
          "CAST(CAST(n AS DECIMAL(38,0)) * syy" +
            " - CAST(sy AS DECIMAL(38,0)) * sy AS STRING) AS vary_numer")
    }),
    "q396_independence_audit" -> ((s, dir) => {
      // Contingency independence audit for (order priority x order month):
      // each cell's observed count against the independence expectation
      // n_i*n_j/N, deviation in exact ppm of N (|n_ij*N - n_i*n_j| scaled)
      // — the chi-square numerator family without any float. One fact
      // rollup to the grid, two margins derived FROM the grid, broadcast
      // everywhere.
      import org.apache.spark.sql.expressions.Window
      val cells = Tables.read(s, dir, "orders")
        .select(col("o_orderpriority").as("pri"),
                month(col("o_orderdate")).as("mon"))
        .groupBy(col("pri"), col("mon"))
        .agg(count(lit(1)).as("n_ij"))
      val wP = Window.partitionBy(col("pri"))
      val wM = Window.partitionBy(col("mon"))
      val wAll = Window.partitionBy(graft.functions.DimKey.one)
      cells
        .withColumn("n_i", sum(col("n_ij")).over(wP))
        .withColumn("n_j", sum(col("n_ij")).over(wM))
        .withColumn("n_tot", sum(col("n_ij")).over(wAll))
        .select(col("pri"), col("mon"), col("n_ij"), col("n_i"),
                col("n_j"),
                expr("abs(n_ij * n_tot - n_i * n_j) * 1000000L " +
                     "DIV (n_tot * n_tot)").as("dev_ppm"))
    }),
    "q397_null_semantics" -> ((s, dir) => {
      // ANSI null-semantics parity audit, one row: the traps that silently
      // diverge between engines during a warehouse migration. (1) NOT IN
      // against a null-containing set matches NOTHING (three-valued
      // logic) — Spark must plan the null-aware anti-join, not a plain
      // anti; (2) IN against the same set still matches positives; (3)
      // null-safe equality (<=>) counts null keys the equi-join drops.
      // Each count is exact and must agree bit-for-bit with the oracle's
      // textbook SQL.
      val o = Tables.read(s, dir, "orders")
      val probe = Tables.read(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(when(col("c_acctbal") < 0, lit(null).cast("long"))
                  .otherwise(col("c_custkey")).as("k"))
      probe.createOrReplaceTempView("probe_q397")
      o.createOrReplaceTempView("orders_q397")
      s.sql("""
        SELECT
          (SELECT count(*) FROM orders_q397
           WHERE o_custkey NOT IN (SELECT k FROM probe_q397))
            AS not_in_with_null,
          (SELECT count(*) FROM orders_q397
           WHERE o_custkey IN (SELECT k FROM probe_q397))
            AS in_with_null,
          (SELECT count(*) FROM orders_q397
           WHERE o_custkey NOT IN (SELECT k FROM probe_q397
                                   WHERE k IS NOT NULL))
            AS not_in_no_null,
          (SELECT count(*) FROM probe_q397 a JOIN probe_q397 b
           ON a.k <=> b.k) AS nullsafe_join_rows,
          (SELECT count(*) FROM probe_q397 a JOIN probe_q397 b
           ON a.k = b.k) AS equi_join_rows""")
    }),
    "q398_bucketed_join" -> ((s, dir) => {
      // Catalog-bucketed co-located join: both sides hash-bucketed by the
      // join key at WRITE time, so the fact-side join plans with ZERO
      // Exchange (BucketedJoinSpec pins that) — pay one shuffle when the
      // table lands, never per query; THE lever for a repeatedly-joined
      // 100 TB fact table. Values gate against the plain-join oracle; the
      // merge hint keeps the bucket-matched sort-merge join (broadcast
      // would hide the layout property being exercised).
      val base = java.nio.file.Files.createTempDirectory("q398_bkt").toString
      val li = Layout.writeBucketed(
        Tables.read(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity")),
        s"$base/li", "q398_li_b", nBuckets = 8, key = "l_orderkey")
      val o = Layout.writeBucketed(
        Tables.read(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority")),
        s"$base/ord", "q398_ord_b", nBuckets = 8, key = "o_orderkey")
      li.hint("merge")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
             sum(expr("CAST(floor(l_quantity * 100) AS BIGINT)"))
               .as("qty_centi"))
    }),
    "q399_dynamic_overwrite" -> ((s, dir) => {
      // Dynamic partition overwrite — the incremental-publish primitive for
      // partitioned lakes: a reprocessed slice replaces ONLY the partitions
      // it contains (here: 'purchase' doubled), every untouched partition
      // survives byte-for-byte. The oracle recomputes the expected final
      // table with a CASE. Conf is set per-write via option(), not session
      // state.
      val base = java.nio.file.Files.createTempDirectory("q399_dyn")
        .toString
      val ev0 = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
                expr("CAST(floor(value * 1000) AS BIGINT)").as("vm"))
      ev0.write.partitionBy("event_type").mode("overwrite").parquet(base)
      ev0.filter(col("event_type") === "purchase")
        .withColumn("vm", col("vm") * 2L)
        .write.partitionBy("event_type")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(base)
      s.read.parquet(base)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"), sum(col("vm")).as("vm_sum"))
    }),
    "q400_variant_json" -> ((s, dir) => {
      // Semi-structured props through Spark 4's VARIANT type: parse once,
      // typed-path extraction (variant_get), aggregate — the open-schema
      // column pattern for event payloads; shredding beats per-access
      // string re-parsing (q76's get_json_object path) on a 100 TB scan.
      // The k%10 rollup is exact integers; DuckDB extracts the same path
      // from the raw JSON.
      Tables.events(s, dir)
        .select(col("event_type"),
                expr("variant_get(parse_json(props), '$.k', 'bigint')")
                  .as("k"))
        .groupBy(col("event_type"), (col("k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("n_rows"), sum(col("k")).as("k_sum"))
    }),
    "q401_lateral_topn" -> ((s, dir) => {
      // Correlated LATERAL top-n join through the SQL front end: for each
      // BUILDING customer's order, its 2 highest-value lineitems — the
      // decorrelation exercise (Spark plans the lateral LIMIT as a
      // per-group window limit, not a per-row re-scan). Deterministic
      // order (price desc, linenumber) both sides.
      Tables.read(s, dir, "orders").createOrReplaceTempView("ord_q401")
      Tables.read(s, dir, "lineitem").createOrReplaceTempView("li_q401")
      Tables.read(s, dir, "customer").createOrReplaceTempView("cust_q401")
      s.sql("""
        SELECT o.o_orderkey, t.l_linenumber,
               CAST(floor(t.l_extendedprice * 100) AS BIGINT) AS cents
        FROM ord_q401 o
        JOIN cust_q401 c
          ON o.o_custkey = c.c_custkey AND c.c_mktsegment = 'BUILDING',
        LATERAL (SELECT l.l_linenumber, l.l_extendedprice
                 FROM li_q401 l WHERE l.l_orderkey = o.o_orderkey
                 ORDER BY l.l_extendedprice DESC, l.l_linenumber
                 LIMIT 2) t""")
    }),
    "q402_session_window_builtin" -> ((s, dir) => {
      // Spark's native session_window aggregation (the operator Structured
      // Streaming shares): per-user gap-merged sessions in ONE groupBy —
      // no window-function cumsum pass. Builtin boundary semantics: a gap
      // of EXACTLY 30 min starts a new session (close >= next-start); the
      // oracle replays that rule in integer micros.
      Tables.events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
             sum(expr("CAST(floor(value * 1000) AS BIGINT)")).as("vm"))
        .select(col("user_id"),
                col("session_window.start").as("w_start"),
                col("session_window.end").as("w_end"),
                col("n_events"), col("vm"))
    }),
    "q403_observed_metrics" -> ((s, dir) => {
      // Observation API: pipeline run-metrics harvested DURING the pass
      // (observe() attaches named aggregates to the plan; no second scan)
      // — the SLA/row-count telemetry pattern for production jobs. The
      // single action drives the metrics; the result relation IS the
      // metric row, which the oracle recomputes declaratively.
      val obs = new org.apache.spark.sql.Observation()
      val df = Tables.events(s, dir).observe(
        obs,
        count(lit(1)).as("n_rows"),
        sum(expr("CAST(floor(value * 1000) AS BIGINT)")).as("vm_sum"),
        count(when(col("event_type") === "error", 1)).as("n_errors"))
      df.write.format("noop").mode("overwrite").save()
      val row = obs.get
      import s.implicits._
      Seq((row("n_rows").asInstanceOf[Long],
           row("vm_sum").asInstanceOf[Long],
           row("n_errors").asInstanceOf[Long]))
        .toDF("n_rows", "vm_sum", "n_errors")
    }),
    "q404_argmax_builtin" -> ((s, dir) => {
      // max_by/min_by with a STRUCT ordering key: latest/earliest event
      // value per user in one aggregate — no window, no self-join; the
      // struct (ts, event_id) tiebreak makes the pick deterministic even
      // on same-timestamp rows. One combine-enabled exchange.
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"),
                expr("CAST(floor(value * 1000) AS BIGINT)").as("vm"))
        .groupBy(col("user_id"))
        .agg(expr("max_by(vm, struct(ts, event_id))").as("last_vm"),
             expr("min_by(vm, struct(ts, event_id))").as("first_vm"),
             max(col("ts")).as("last_ts"),
             count(lit(1)).as("n_events"))
    }),
    "q405_stream_restart" -> ((s, dir) => {
      // Checkpoint-recovery, driver-checked: two micro-batches through the
      // incremental rollup sink, query STOPPED, a NEW query resumed from
      // the same checkpoint ingests batch 3 — the restarted sink must
      // continue exactly-once (no re-apply of batches 1-2, no loss), so
      // the final store equals the one-shot rollup the oracle recomputes.
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val rows = Tables.events(s, dir).filter(col("user_id") % 5 === 2)
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
        .as[(Long, java.sql.Timestamp, String, Double)].collect().toSeq
      val base = java.nio.file.Files.createTempDirectory("q405_restart")
        .toString
      def sink(src: org.apache.spark.sql.execution.streaming.runtime
                 .MemoryStream[(Long, java.sql.Timestamp, String, Double)]) =
        graft.streaming.RollupStream.incrementalSink(
          src.toDF().toDF("event_id", "ts", "event_type", "value"),
          s"$base/store",
          keys = Seq("event_type", "day"),
          keyExprs = _.withColumn("day", date_trunc("DAY", col("ts"))),
          valueMicro = floor(col("value") * lit(1000000.0)).cast("long"),
          checkpoint = s"$base/ckpt")
      SparkEntry.withStreamShuffle(s) {
      val src1 = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, java.sql.Timestamp, String, Double)]
        val q1 = sink(src1)
        try (0 until 2).foreach { i =>
          src1.addData(rows.filter(_._1 % 3 == i): _*)
          q1.processAllAvailable()
        } finally q1.stop()
        // Fresh source + query on the SAME checkpoint: batches 1-2 are
        // committed there; the new query must apply only batch 3.
        val src2 = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, java.sql.Timestamp, String, Double)]
        src2.addData(rows.filter(_._1 % 3 == 0): _*) // replayed duplicates
        src2.addData(rows.filter(_._1 % 3 == 1): _*)
        src2.addData(rows.filter(_._1 % 3 == 2): _*)
        val q2 = sink(src2)
        try q2.processAllAvailable() finally q2.stop()
      }
      VersionedTable.read(s, s"$base/store")
        .select("event_type", "day", "n_rows", "value_micro",
                "min_micro", "max_micro")
    }),
    "q406_csv_corrupt" -> ((s, dir) => {
      // Malformed-input resilience: a CSV feed where every doc_id%50==0
      // line is BROKEN (unparseable numeric) read in PERMISSIVE mode with
      // a corrupt-record column — bad lines quarantine instead of failing
      // the job (the production posture for 100 TB of third-party CSV).
      // Counts gate against the oracle's replay of the corruption rule.
      import org.apache.spark.sql.types._
      val base = java.nio.file.Files.createTempDirectory("q406_csv")
        .toString
      docs(s, dir)
        .select(col("doc_id"), col("lang"),
                when(col("doc_id") % 50 === 0, lit("not_a_number"))
                  .otherwise(col("n_chars").cast("string"))
                  .as("n_chars"))
        .write.mode("overwrite").option("header", "true").csv(base)
      val schema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("lang", StringType),
        StructField("n_chars", LongType),
        StructField("_bad", StringType)))
      s.read.schema(schema)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(base)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_rows"),
             count(col("_bad")).as("n_corrupt"),
             sum(col("n_chars")).as("chars_sum"))
    }),
    "q407_hll_sliding" -> ((s, dir) => {
      // Sketch-tiled sliding distinct: per-day HLL user sketches build
      // ONCE, then every trailing-7-day window is a UNION of ≤7 tiles —
      // the storage/merge pattern that replaces per-window raw distinct at
      // 100 TB (exact distinct does not merge; sketches do). The estimate
      // ships with an exact companion and an in-tolerance verdict the
      // oracle recomputes (q98's contract, lgK=12 ⇒ 5% ≈ 3σ).
      val ev0 = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
                date_trunc("DAY", col("ts")).as("day"))
      val tiles = ev0.groupBy(col("event_type"), col("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
        .localCheckpoint(false)
      val spine = tiles.select(col("event_type"),
                               col("day").as("w_end")).distinct()
      val approx = spine.as("w")
        .join(tiles.as("t"),
              col("t.event_type") === col("w.event_type") &&
                col("t.day") <= col("w.w_end") &&
                col("t.day") >= col("w.w_end") - expr("INTERVAL 6 DAYS"))
        .groupBy(col("w.event_type").as("event_type"),
                 col("w.w_end").as("w_end"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("_est"),
             count(lit(1)).as("n_tiles"))
      val exact = ev0.as("e")
        .join(spine.as("sp"),
              col("e.event_type") === col("sp.event_type") &&
                col("e.day") <= col("sp.w_end") &&
                col("e.day") >= col("sp.w_end") - expr("INTERVAL 6 DAYS"))
        .groupBy(col("sp.event_type").as("event_type"), col("sp.w_end"))
        .agg(countDistinct(col("user_id")).as("_exact"))
      approx.join(exact, Seq("event_type", "w_end"))
        .select(col("event_type"), col("w_end"), col("n_tiles"),
                col("_exact").as("mau_exact"),
                (abs(col("_est") - col("_exact")) * 20 <= col("_exact"))
                  .as("ndv_ok"))
    }),
    "q408_file_provenance" -> ((s, dir) => {
      // Hidden _metadata provenance: after a partitioned single-file-per-
      // partition publish, every row carries its physical file — the
      // row-to-file lineage audit (which file do I rewrite / quarantine?).
      // File counts are deterministic because the publish coalesces each
      // partition to one file.
      val base = java.nio.file.Files.createTempDirectory("q408_prov")
        .toString
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .repartition(col("event_type")).coalesce(1)
        .write.partitionBy("event_type").mode("overwrite").parquet(base)
      s.read.parquet(base)
        .select(col("event_type"), col("_metadata.file_path").as("fp"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
             countDistinct(col("fp")).as("n_files"))
    }),
    "q409_stream_dropdup_builtin" -> ((s, dir) => {
      // Spark's native dropDuplicatesWithinWatermark under a
      // Trigger.AvailableNow drain: the at-least-once feed re-sends batch
      // 1's rows, the state-store dedup suppresses them, and the query
      // drains everything pending then STOPS ON ITS OWN (the
      // batch-over-streaming operational mode). First-arrival set ==
      // batch distinct, recomputed by the oracle.
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val rows = Tables.events(s, dir).filter(col("user_id") % 5 === 3)
        .select(col("event_id"), col("ts"), col("event_type"))
        .as[(Long, java.sql.Timestamp, String)].collect().toSeq
      val src = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp, String)]
      src.addData(rows.filter(_._1 % 2 == 0): _*)
      src.addData(rows.filter(_._1 % 2 == 1): _*)
      src.addData(rows.filter(_._1 % 2 == 0): _*) // replay of batch 1
      val deduped = src.toDF().toDF("event_id", "ts", "event_type")
        .withWatermark("ts", "365 days")
        .dropDuplicatesWithinWatermark("event_id")
      val tbl = "q409_dd_" + java.util.UUID.randomUUID.toString
        .replace("-", "")
      SparkEntry.withStreamShuffle(s) {
      val q = deduped.writeStream.format("memory").queryName(tbl)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.table(tbl).select(col("event_id"), col("ts"), col("event_type"))
    }),
    "q410_join_hint_parity" -> ((s, dir) => {
      // Physical-strategy independence: the same orders⋈customer rollup
      // under BROADCAST, SHUFFLE_HASH, and MERGE hints must be value-
      // identical — the engine contract that lets an operator pick its
      // join strategy purely on cost. One row, three identical sums the
      // oracle computes once.
      def rollup(hint: String) = Tables.read(s, dir, "orders")
        .join(Tables.read(s, dir, "customer").hint(hint),
              col("o_custkey") === col("c_custkey"))
        .agg(count(lit(1)).as("n"),
             sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
               .as("cents"))
      val b = rollup("broadcast").selectExpr("n AS n_bhj", "cents AS cents_bhj")
      val h = rollup("shuffle_hash").selectExpr("n AS n_shj", "cents AS cents_shj")
      val m = rollup("merge").selectExpr("n AS n_smj", "cents AS cents_smj")
      b.crossJoin(h).crossJoin(m)
    }),
    "q411_mv_rewrite" -> ((s, dir) => {
      // Materialized-summary rewrite through Catalyst: publish the
      // (returnflag, linestatus) roll-up once, register the rule, and the
      // UNCHANGED aggregate over the base lineitem path silently reads the
      // summary instead (Round8OpsSpec pins the plan substitution; here
      // the driver gates the VALUES against the base-table oracle — the
      // rewrite must be invisible to results). Sub-grouping by returnflag
      // alone re-aggregates the summary: self-decomposable count/sum/
      // min/max only.
      val base = java.nio.file.Files.createTempDirectory("q411_mv")
        .toString
      val fact = Tables.read(s, dir, "lineitem")
      graft.plans.SummaryRewrite.publish(
        fact, Seq("l_returnflag", "l_linestatus"), Seq("l_partkey"),
        s"$base/summary")
      graft.plans.SummaryRewrite.register(
        s, s"$dir/lineitem.parquet", s"$base/summary",
        Seq("l_returnflag", "l_linestatus"), Seq("l_partkey"))
      // The rule lives on session-global extraOptimizations: execute the
      // rewritten aggregate HERE and deregister in finally, so no other
      // query in this session can be silently redirected to a summary
      // whose temp directory may be gone by then. The collected result
      // (≤|returnflag| rows) is returned as a local relation.
      try {
        val out = Tables.read(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_rows"),
               sum(col("l_partkey")).as("pk_sum"),
               min(col("l_partkey")).as("pk_min"),
               max(col("l_partkey")).as("pk_max"))
        s.createDataFrame(java.util.Arrays.asList(out.collect(): _*),
                          out.schema)
      } finally graft.plans.SummaryRewrite.deregister(
        s, s"$dir/lineitem.parquet")
    }),
    "q412_compaction_execute" -> ((s, dir) => {
      // Compaction EXECUTED, not just planned: a 50-small-file layout is
      // inventoried (row counts as the deterministic size proxy), binned
      // by Compaction.assign's greedy cumulative packing, physically
      // rewritten one file per bin, and the COMPACTED table is what the
      // rollup reads — row preservation audited by per-bin id checksums
      // the oracle replays arithmetically.
      val base = java.nio.file.Files.createTempDirectory("q412_compact")
        .toString
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
                (col("event_id") % 50).as("file_id"))
        .repartition(col("file_id")).coalesce(1)
        .write.partitionBy("file_id").mode("overwrite")
        .parquet(s"$base/small")
      val small = s.read.parquet(s"$base/small")
      val inv = small.groupBy(col("file_id"))
        .agg(count(lit(1)).as("n_rows"))
        .select(lit("all").as("part"), col("file_id"), col("n_rows"))
      val binMap = Compaction.assign(inv, "part", "file_id", "n_rows",
                                     orderCol = "file_id",
                                     targetBytes = 2100L)
        .select(col("file_id"), col("bin"))
      small.join(broadcast(binMap), Seq("file_id"))
        .repartition(col("bin")).coalesce(1)
        .write.partitionBy("bin").mode("overwrite")
        .parquet(s"$base/compacted")
      s.read.parquet(s"$base/compacted")
        .groupBy(col("bin"))
        .agg(countDistinct(col("file_id")).as("n_files"),
             count(lit(1)).as("n_rows"),
             sum(col("event_id")).as("id_sum"))
    }),
    "q413_cdf_grid" -> ((s, dir) => {
      // CDF probe at a fixed value grid: P(order value <= g) in exact ppm
      // for 8 thresholds — ONE conditional-sum pass over the fact (the
      // ogive a pricing dashboard reads), no sort, no quantile machinery.
      val grid = Seq(5000L, 10000L, 20000L, 50000L, 100000L,
                     200000L, 300000L, 400000L)
      val o = Tables.read(s, dir, "orders")
        .select(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")
                  .as("cents"))
      val aggs = grid.map(g =>
        sum(when(col("cents") <= g * 100, 1L).otherwise(0L))
          .as(s"le_$g"))
      val one = o.agg(count(lit(1)).as("n"), aggs: _*)
      val stacked = grid.map(g =>
        s"${g}L, le_$g * 1000000L DIV n").mkString(", ")
      one.selectExpr(
        s"stack(${grid.size}, $stacked) AS (threshold_dollars, cdf_ppm)",
        "n AS n_orders")
    }),
    "q414_runs_test" -> ((s, dir) => {
      // Wald-Wolfowitz-style runs diagnostic on daily revenue direction:
      // sign of day-over-day change, number of sign runs, longest run —
      // the randomness/trendiness read on a business series, exact
      // integers end to end. Day rollup, one ordered window over the
      // bounded day dimension, run-id via change-event cumsum.
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.read(s, dir, "orders")
        .groupBy(expr("CAST(date_trunc('DAY', o_orderdate) AS DATE)")
                   .as("day"))
        .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
               .as("cents"))
      val w = Window.partitionBy(graft.functions.DimKey.one)
        .orderBy(col("day"))
      val signed = daily
        .withColumn("_prev", lag(col("cents"), 1).over(w))
        .filter(col("_prev").isNotNull &&
                  col("cents") =!= col("_prev"))
        .withColumn("sign",
                    when(col("cents") > col("_prev"), 1).otherwise(-1))
      val runs = signed
        .withColumn("_chg",
          when(lag(col("sign"), 1).over(w).isNull ||
                 lag(col("sign"), 1).over(w) =!= col("sign"), 1)
            .otherwise(0))
        .withColumn("run_id", sum(col("_chg")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      runs.groupBy(col("sign"), col("run_id"))
        .agg(count(lit(1)).as("run_len"))
        .groupBy(col("sign"))
        .agg(count(lit(1)).as("n_runs"),
             max(col("run_len")).as("longest_run"),
             sum(col("run_len")).as("n_days"))
    }),
    "q415_fifo_allocation" -> ((s, dir) => {
      // FIFO waterfall allocation — the accounts-receivable primitive:
      // each customer's payment budget (80% of their total, floor cents)
      // applies to orders OLDEST-FIRST; an order receives
      // clamp(budget − cumsum_before, 0, value). Pure cumulative-sum
      // algebra per customer — no sequential loop, exact integers; the
      // partial-payment frontier order falls out of the clamp.
      import org.apache.spark.sql.expressions.Window
      val o = Tables.read(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      o.withColumn("_budget",
          expr("CAST(sum(cents) OVER (PARTITION BY o_custkey) * 8 DIV 10" +
               " AS BIGINT)"))
        .withColumn("_before",
          coalesce(sum(col("cents")).over(
            w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("allocated",
          greatest(lit(0L),
                   least(col("cents"), col("_budget") - col("_before"))))
        .withColumn("fully_paid", col("allocated") === col("cents"))
        .select(col("o_custkey"), col("o_orderkey"), col("cents"),
                col("allocated"), col("fully_paid"))
        .filter(col("o_custkey") % 20 === 0) // bounded detail slice
    }),
    "q416_local_peaks" -> ((s, dir) => {
      // Local-maximum days of the revenue series: strictly above BOTH
      // immediate neighbours (plateau days never qualify) — the
      // peak-calendar read. Day rollup, one ordered pass over the
      // bounded day dimension.
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.read(s, dir, "orders")
        .groupBy(expr("CAST(date_trunc('DAY', o_orderdate) AS DATE)")
                   .as("day"))
        .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
               .as("cents"))
      val w = Window.partitionBy(graft.functions.DimKey.one)
        .orderBy(col("day"))
      daily
        .withColumn("_p", lag(col("cents"), 1).over(w))
        .withColumn("_n", lead(col("cents"), 1).over(w))
        .filter(col("_p").isNotNull && col("_n").isNotNull &&
                col("cents") > col("_p") && col("cents") > col("_n"))
        .select(col("day"), col("cents"),
                (col("cents") - col("_p")).as("rise_cents"),
                (col("cents") - col("_n")).as("fall_cents"))
    }),
    "q420_multiset_ops" -> ((s, dir) => {
      // Multiset set-operation parity: EXCEPT ALL / INTERSECT ALL keep
      // per-value MULTIPLICITY (bag semantics: max(m−n,0) and min(m,n))
      // where EXCEPT/INTERSECT collapse to sets — the four counts on the
      // same two event slices must agree with the oracle's bag algebra
      // exactly.
      Tables.events(s, dir).createOrReplaceTempView("ev_q420")
      s.sql("""
        WITH a AS (SELECT event_type FROM ev_q420 WHERE user_id % 3 = 0),
             b AS (SELECT event_type FROM ev_q420 WHERE user_id % 3 = 1)
        SELECT
          (SELECT count(*) FROM (SELECT * FROM a EXCEPT ALL
                                 SELECT * FROM b)) AS except_all_rows,
          (SELECT count(*) FROM (SELECT * FROM a EXCEPT
                                 SELECT * FROM b)) AS except_rows,
          (SELECT count(*) FROM (SELECT * FROM a INTERSECT ALL
                                 SELECT * FROM b)) AS intersect_all_rows,
          (SELECT count(*) FROM (SELECT * FROM a INTERSECT
                                 SELECT * FROM b)) AS intersect_rows""")
    }),
    "q431_event_anchor" -> ((s, dir) => {
      // Event-anchored alignment: activity histogram in days relative to
      // each user's FIRST purchase (calendar cohorts answer "when did
      // they join"; anchored curves answer "what happens around the
      // conversion moment"). Two combine rollups + a broadcast anchor
      // join; day offsets clipped to ±14.
      val ev0 = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_type"))
      val anchor = ev0.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(min(unix_micros(col("ts"))).as("_anchor_us"))
      ev0.join(broadcast(anchor), Seq("user_id"))
        .withColumn("day_offset",
          expr("CAST(CASE WHEN unix_micros(ts) >= _anchor_us " +
               "THEN (unix_micros(ts) - _anchor_us) DIV 86400000000 " +
               "ELSE -(((_anchor_us - unix_micros(ts)) + 86399999999) " +
               "DIV 86400000000) END AS BIGINT)"))
        .filter(col("day_offset").between(-14, 14))
        .groupBy(col("day_offset"))
        .agg(count(lit(1)).as("n_events"),
             countDistinct(col("user_id")).as("n_users"))
    }),
    "q432_df_pruning" -> ((s, dir) => {
      // Vocabulary pruning by document frequency: surviving vocabulary
      // size and retained token mass at min-df thresholds {2, 5, 10} —
      // the min_df knob every featurizer exposes, priced exactly. One
      // term-grain rollup feeds every tier (no rescan per threshold).
      import s.implicits._
      val tf = docs(s, dir)
        .select(col("doc_id"),
                explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("tok"))
        .agg(countDistinct(col("doc_id")).as("df"),
             count(lit(1)).as("tf"))
        .localCheckpoint(false)
      tf.crossJoin(broadcast(Seq(2, 5, 10).toDF("min_df")))
        .groupBy(col("min_df"))
        .agg(sum(when(col("df") >= col("min_df"), 1L).otherwise(0L))
               .as("n_terms_kept"),
             sum(when(col("df") >= col("min_df"), col("tf"))
                   .otherwise(0L)).as("tokens_kept"),
             count(lit(1)).as("n_terms_total"),
             sum(col("tf")).as("tokens_total"))
    }),
    "q433_norm_ladder" -> ((s, dir) =>
      // Normalization ladder: how many distinct documents remain at each
      // canonicalization step (raw → lowercase → whitespace-collapsed →
      // alnum-only) — prices each dedup-normalization rung in one scan.
      docs(s, dir).agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("distinct_raw"),
        countDistinct(lower(col("text"))).as("distinct_lower"),
        countDistinct(regexp_replace(lower(trim(col("text"))),
                                     "\\s+", " ")).as("distinct_ws"),
        countDistinct(regexp_replace(lower(col("text")),
                                     "[^a-z0-9]+", "")).as("distinct_alnum"))),
    "q434_skyline" -> ((s, dir) => {
      // Pareto-skyline of parts (minimize price, maximize size): the classic
      // multi-objective dominance query. NOT the quadratic NOT-EXISTS the
      // oracle runs: the scan combines to a size-grain min-price rollup
      // (p_size is a bounded dimension), the frontier is a suffix-min over
      // that tiny relation (declared DimKey window), and survivors come back
      // via a broadcast join — 100 TB cost = one combine-enabled aggregate.
      import org.apache.spark.sql.expressions.Window
      val p = Tables.read(s, dir, "part").select(
        col("p_partkey"), col("p_size"),
        expr("CAST(floor(p_retailprice * 100) AS BIGINT)").as("price_c"))
      val w = Window.partitionBy(graft.functions.DimKey.one)
        .orderBy(col("p_size").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val frontier = p.groupBy(col("p_size")).agg(min(col("price_c")).as("m"))
        .withColumn("best_larger", min(col("m")).over(w))
        .filter(col("best_larger").isNull || col("m") < col("best_larger"))
        .select(col("p_size").as("f_size"), col("m"))
      p.join(broadcast(frontier),
             col("p_size") === col("f_size") && col("price_c") === col("m"))
        .select(col("p_partkey"), col("p_size"), col("price_c"))
    }),
    "q435_positional_index" -> ((s, dir) => {
      // Positional inverted-index build: one posexplode pass → per-term df,
      // total tf, and an order-free postings checksum (sum of
      // doc_id*2^20+pos) that pins the exact posting set without
      // materializing sorted lists. min-df 20 bounds the emitted dictionary
      // slice; a full index write would partition postings by term hash.
      docs(s, dir).select(
          col("doc_id"),
          posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "term")))
        .filter(col("term") =!= "")
        .groupBy(col("term"))
        .agg(countDistinct(col("doc_id")).as("df"),
             count(lit(1)).as("tf"),
             sum(col("doc_id") * lit(1048576L) + col("pos"))
               .as("postings_sum"))
        .filter(col("df") >= 20)
    }),
    "q436_phrase_search" -> ((s, dir) => {
      // Exact phrase search over the positional index: occurrences = word1
      // postings joined to word2 postings at pos+1 in the same doc. The
      // 6-term IN filter rides the explode output (survivors are tiny), the
      // position join shuffles only those, and the phrase list broadcasts —
      // the plan a phrase query takes against a sharded index.
      import s.implicits._
      val phrases = Seq("table hash", "customer join", "big order")
      val terms = phrases.flatMap(_.split(" ")).distinct
      val post = docs(s, dir).select(
          col("doc_id"),
          posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "term")))
        .filter(col("term").isin(terms: _*))
        .localCheckpoint(false) // both join sides read ONE corpus scan
      post.as("a")
        .join(post.as("b"),
              col("a.doc_id") === col("b.doc_id") &&
                col("b.pos") === col("a.pos") + lit(1))
        .select(col("a.doc_id").as("doc_id"),
                concat_ws(" ", col("a.term"), col("b.term")).as("phrase"))
        .join(broadcast(phrases.toDF("phrase")), Seq("phrase"))
        .groupBy(col("phrase"))
        .agg(count(lit(1)).as("n_occurrences"),
             countDistinct(col("doc_id")).as("n_docs"))
    }),
    "q441_transpose" -> ((s, dir) => {
      // Native Dataset.transpose (Spark 4): the bounded region revenue
      // rollup pivoted so regions become COLUMNS — the report-shape
      // operator, exercised through the first-class API instead of a
      // hand-built conditional-aggregate pivot. Only the 5-row rollup is
      // ever transposed (transpose collects the index column — safe
      // precisely because the relation is dimension-sized).
      val li = Tables.read(s, dir, "lineitem")
        .select(col("l_suppkey"),
                expr("CAST(floor(l_extendedprice * 100) AS BIGINT)")
                  .as("cents"))
      val sup = Tables.read(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
      val nat = Tables.read(s, dir, "nation")
        .select(col("n_nationkey"), col("n_regionkey"))
      val reg = Tables.read(s, dir, "region")
        .select(col("r_regionkey"), col("r_name"))
      li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(regexp_replace(col("r_name"), " ", "_").as("r_name"))
        .agg(sum(col("cents")).as("revenue_c"))
        .transpose(col("r_name"))
    }),
    "q440_set_cover" -> ((s, dir) => {
      // Greedy maximum-coverage source selection: 3 rounds of "pick the
      // source covering the most still-uncovered vocabulary" — the
      // (1-1/e)-approximate set-cover recipe for choosing corpus slices
      // under a coverage budget. Each round is one join + combine-enabled
      // aggregate; only the single winning (source, gain) row ever reaches
      // the driver, and the uncovered set shrinks monotonically (lazy
      // checkpoint per round keeps lineage linear). The oracle unrolls the
      // same 3 rounds in SQL; ties break on source name in both engines.
      import s.implicits._
      // Coverage universe = bigrams (unigram vocabulary saturates in one
      // pick on this corpus); built explode-free per row via zip_with.
      val st = docs(s, dir)
        .select(col("source"),
                explode(expr("""zip_with(
                  slice(split(lower(trim(text)), '\\s+'), 1,
                        size(split(lower(trim(text)), '\\s+')) - 1),
                  slice(split(lower(trim(text)), '\\s+'), 2,
                        size(split(lower(trim(text)), '\\s+')) - 1),
                  (x, y) -> concat(x, ' ', y))""")).as("tok"))
        .distinct()
        .localCheckpoint(false)
      var uncov = st.select(col("tok")).distinct()
      val chosen = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
      for (step <- 1 to 3) {
        val best = st.join(uncov, Seq("tok"))
          .groupBy(col("source")).agg(count(lit(1)).as("g"))
          .orderBy(col("g").desc, col("source"))
          .limit(1).collect()
        if (best.nonEmpty) {
          val src = best(0).getString(0)
          chosen += ((step, src, best(0).getLong(1)))
          uncov = uncov.join(
            st.filter(col("source") === src).select(col("tok")),
            Seq("tok"), "left_anti").localCheckpoint(false)
        }
      }
      chosen.toSeq.toDF("step", "source", "newly_covered")
    }),
    "q439_hof_docstats" -> ((s, dir) => {
      // Explode-free per-document token statistics via higher-order array
      // functions: distinct-token count (array_distinct) and adjacent
      // repeated-token pairs (zip_with over the array and its shift) stay
      // INSIDE each row — no generator, no explode blowup, the whole
      // per-doc computation is one narrow codegen stage; the only exchange
      // is the final per-source rollup. The oracle recomputes via unnest +
      // position self-join (the plan shape this one avoids).
      val toks = TextAnalysis.tokens(col("text"))
      docs(s, dir)
        .select(col("source"),
                size(toks).as("n_tok"),
                size(array_distinct(toks)).as("n_distinct"),
                expr("""size(filter(zip_with(
                          slice(split(lower(trim(text)), '\\s+'), 1,
                                size(split(lower(trim(text)), '\\s+')) - 1),
                          slice(split(lower(trim(text)), '\\s+'), 2,
                                size(split(lower(trim(text)), '\\s+')) - 1),
                          (x, y) -> x = y), p -> p))""").as("n_adj_rep"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_tok")).as("tokens"),
             sum(col("n_distinct")).as("distinct_tokens"),
             sum(col("n_adj_rep")).as("adjacent_repeats"))
    }),
    "q437_skyline3d" -> ((s, dir) =>
      // 3-objective Pareto skyline (max quantity, min price, max discount):
      // the case q225/q434's bounded-dimension frontier CANNOT express —
      // with 3 objectives no sort order resolves dominance. Distributed
      // BNL: per-partition local skylines via mapPartitions, then one
      // dimension-sized final pass; the oracle runs the quadratic
      // NOT EXISTS on the same distinct point set.
      Skyline.skyline(
        Tables.read(s, dir, "lineitem")
          .filter(col("l_partkey") <= 200)
          .select(
            expr("CAST(floor(l_quantity) AS BIGINT)").as("qty"),
            expr("CAST(floor(l_extendedprice * 100) AS BIGINT)")
              .as("price_c"),
            expr("CAST(floor(l_discount * 1000) AS BIGINT)").as("disc_m")),
        maximize = Seq("qty", "disc_m"), minimize = Seq("price_c"))
        .select(col("qty"), col("price_c"), col("disc_m"))),
    "q438_weighted_sssp" -> ((s, dir) => {
      // Weighted shortest paths on the strong co-purchase graph: edge cost
      // = 1000 DIV co_count (stronger ties are cheaper), 4 Bellman-Ford
      // relaxation sweeps from the smallest node — the weighted companion
      // to q382's BFS, exact for all ≤4-hop paths. Distinct-before-join
      // keeps the pair build minimal; each sweep is one shuffle.
      // r15: same counted co-purchase relation as the cached co-occurrence
      // tier — share its per-session materialization instead of re-running
      // the fact-scale pair build (identical rows: distinct → self-join →
      // count; filter and weight applied on top).
      val pairs = Graph.coOccurrenceCountedCached(
          Tables.spread(s, Tables.read(s, dir, "lineitem")),
          groupCol = "l_orderkey", itemCol = "l_partkey")
        .select(col("src").as("x"), col("dst").as("y"), col("_n"))
        .filter(col("_n") >= 2)
        .withColumn("cost", expr("1000 DIV _n"))
      val edges = pairs.select(col("x").as("src"), col("y").as("dst"),
                               col("cost"))
        .unionAll(pairs.select(col("y").as("src"), col("x").as("dst"),
                               col("cost")))
      val seed = edges.select(min(col("src")).as("node"))
      Graph.ssspRelax(edges, seed, rounds = 4)
        .select(col("node").as("part_id"), col("cost"))
    }),
    "q430_churn_labels" -> ((s, dir) => {
      // Supervised-dataset construction: per user, FEATURES from the
      // 10-day window before the reference cut (counts, value sum,
      // recency) and the LABEL from the 10 days after (churned = zero
      // activity) — the standard time-split label builder whose windows
      // never leak across the cut. Cut = 60% point; exact integers.
      val ev0 = Tables.events(s, dir)
        .select(col("user_id"), col("ts"),
                expr("CAST(floor(value * 1000) AS BIGINT)").as("vm"))
      val b = ev0.agg(min(unix_micros(col("ts"))).as("lo"),
                      max(unix_micros(col("ts"))).as("hi"))
      val day = 24L * 3600 * 1000000
      val feat = ev0.crossJoin(broadcast(b))
        .withColumn("_cut", expr("lo + (hi - lo) * 6 DIV 10"))
        .withColumn("_us", unix_micros(col("ts")))
      val features = feat
        .filter(col("_us") < col("_cut") &&
                col("_us") >= col("_cut") - lit(10 * day))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events_10d"),
             sum(col("vm")).as("vm_10d"),
             expr("CAST(max((_cut - _us) DIV 86400000000) AS BIGINT)")
               .as("oldest_days"),
             expr("CAST(min((_cut - _us) DIV 86400000000) AS BIGINT)")
               .as("recency_days"))
      val future = feat
        .filter(col("_us") >= col("_cut") &&
                col("_us") < col("_cut") + lit(10 * day))
        .select(col("user_id")).distinct()
        .withColumn("_active", lit(1))
      features.join(future, Seq("user_id"), "left")
        .withColumn("churned", col("_active").isNull)
        .select(col("user_id"), col("n_events_10d"), col("vm_10d"),
                col("recency_days"), col("oldest_days"), col("churned"))
    }),
    "q427_loo_encoding" -> ((s, dir) => {
      // Leave-one-out target encoding — the ML feature-engineering
      // primitive with the built-in leakage guard: each row's category
      // feature excludes ITS OWN target, ((sum_cat − y_i), (n_cat − 1))
      // shipped as exact integer numerator/denominator. One broadcast of
      // the category stats over the fact scan; detail bounded to an
      // orderkey slice.
      val li = Tables.read(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("cents"))
      val cat = li.groupBy(col("l_returnflag"))
        .agg(sum(col("cents")).as("_cat_sum"),
             count(lit(1)).as("_cat_n"))
      li.filter(col("l_orderkey") % 500 === 0)
        .join(broadcast(cat), Seq("l_returnflag"))
        .select(col("l_orderkey"), col("l_linenumber"),
                col("l_returnflag"), col("cents"),
                (col("_cat_sum") - col("cents")).as("loo_num"),
                (col("_cat_n") - 1).as("loo_den"))
    }),
    "q428_feature_hash" -> ((s, dir) => {
      // Hashing-trick features: tokens bucketed into 64 md5-residue slots,
      // per-doc sparse (bucket, count) pairs — the fixed-width featurizer
      // that needs NO vocabulary pass (the point at 100 TB: one scan, no
      // dictionary shuffle). Bounded to doc_id%25==0 for detail output.
      docs(s, dir).filter(col("doc_id") % 25 === 0)
        .select(col("doc_id"),
                explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
        .withColumn("bucket",
          conv(substring(md5(col("tok")), 1, 8), 16, 10)
            .cast("long") % 64)
        .groupBy(col("doc_id"), col("bucket"))
        .agg(count(lit(1)).as("n_hits"))
    }),
    "q429_temporal_split" -> ((s, dir) => {
      // Leakage-free temporal split with an embargo gap: train strictly
      // before (cut − 3 days), test strictly at/after cut, the gap rows
      // QUARANTINED (the autocorrelation-leak guard a time-series model
      // needs; a hash split would leak future into train). Counts +
      // span endpoints per split; cut = 70% point of the time range.
      val ev0 = Tables.events(s, dir).select(col("event_id"), col("ts"))
      val b = ev0.agg(min(unix_micros(col("ts"))).as("lo"),
                      max(unix_micros(col("ts"))).as("hi"))
      val gapUs = 3L * 24 * 3600 * 1000000
      ev0.crossJoin(broadcast(b))
        .withColumn("_cut", expr("lo + (hi - lo) * 7 DIV 10"))
        .withColumn("split",
          when(unix_micros(col("ts")) < col("_cut") - gapUs, "train")
            .when(unix_micros(col("ts")) >= col("_cut"), "test")
            .otherwise("embargo"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_events"),
             min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
    }),
    "q425_burst_collapse" -> ((s, dir) => {
      // Telemetry burst collapse: within (user, type), runs of events
      // separated by < 10 min collapse to their FIRST event (retry
      // storms, double-fires) — run-start detection via lag, one shuffle;
      // the kept set + per-key collapse stats are exact.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val marked = Tables.events(s, dir)
        .withColumn("_gap_us",
          unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("_keep",
          col("_gap_us").isNull || col("_gap_us") >= 600000000L)
      marked.groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
             sum(when(col("_keep"), 1L).otherwise(0L)).as("n_kept"),
             sum(when(!col("_keep"), 1L).otherwise(0L)).as("n_collapsed"))
        .filter(col("n_collapsed") > 0)
    }),
    "q426_hll_precision_sweep" -> ((s, dir) => {
      // Sketch-size/accuracy sweep: distinct users per event_type
      // estimated at lgK = 4 / 8 / 12 beside the exact count, each with
      // an in-tolerance verdict at ~3 sigma of the configured precision
      // (26% / 7% / 5% floors) — the table that prices sketch memory. The
      // verdicts are what the oracle recomputes (q96-q98 contract).
      val ev0 = Tables.events(s, dir)
      val est = ev0.groupBy(col("event_type"))
        .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(4)))
               .as("_e4"),
             hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(8)))
               .as("_e8"),
             hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12)))
               .as("_e12"),
             countDistinct(col("user_id")).as("n_exact"))
      est.select(col("event_type"), col("n_exact"),
                 (abs(col("_e4") - col("n_exact")) * 100 <=
                    col("n_exact") * 78).as("ok_lgk4"),
                 (abs(col("_e8") - col("n_exact")) * 100 <=
                    col("n_exact") * 20).as("ok_lgk8"),
                 (abs(col("_e12") - col("n_exact")) * 100 <=
                    col("n_exact") * 5).as("ok_lgk12"))
    }),
    "q422_pipe_sql" -> ((s, dir) => {
      // SQL pipe syntax (Spark 4's |> operators): the Q1 pricing-summary
      // shape written as a linear dataflow — the modern-SQL surface a
      // migrating team may arrive with; plans identically to the nested
      // form. Exact integer measures.
      Tables.read(s, dir, "lineitem").createOrReplaceTempView("li_q422")
      s.sql("""
        FROM li_q422
        |> WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |> EXTEND CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents,
                  CAST(floor(l_quantity * 100) AS BIGINT) AS qty_centi
        |> AGGREGATE count(*) AS n_lines, sum(cents) AS cents,
                     sum(qty_centi) AS qty_centi
           GROUP BY l_returnflag, l_linestatus
        |> ORDER BY l_returnflag, l_linestatus""")
    }),
    "q423_param_sql" -> ((s, dir) => {
      // Parameterized SQL (named parameter markers): the injection-safe
      // front-door for templated analytics — the literal never splices
      // into the text; Catalyst binds it at parse time.
      Tables.read(s, dir, "orders").createOrReplaceTempView("ord_q423")
      s.sql(
        """SELECT o_orderpriority, count(*) AS n_orders,
          |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
          |       AS BIGINT) AS cents
          |FROM ord_q423
          |WHERE o_totalprice >= :lo AND o_orderstatus = :st
          |GROUP BY o_orderpriority""".stripMargin,
        Map("lo" -> 1000.0, "st" -> "F"))
    }),
    "q421_string_agg" -> ((s, dir) =>
      // Ordered string aggregation parity: the sorted-distinct event-type
      // path signature per user — array_join(sort_array(collect_set))
      // vs the oracle's ORDER BY string_agg; deterministic because the
      // collation is explicit on both sides.
      Tables.events(s, dir)
        .filter(col("user_id") % 10 === 0)
        .groupBy(col("user_id"))
        .agg(array_join(sort_array(collect_set(col("event_type"))), ",")
               .as("type_signature"),
             countDistinct(col("event_type")).as("n_types")))
  )

  def oracleSql: Map[String, String] = Map(
    "q378_disjunctive_bands" ->
      """WITH li AS (SELECT l_partkey, l_quantity,
        |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents,
        |    CAST(floor(l_discount * 1000) AS BIGINT) AS disc_m
        |  FROM lineitem)
        |SELECT p.p_brand, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(cents * (1000 - disc_m)) AS BIGINT) AS revenue_cm
        |FROM li JOIN part p ON li.l_partkey = p.p_partkey
        |WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
        |         AND li.l_quantity BETWEEN 1 AND 11)
        |   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
        |         AND li.l_quantity BETWEEN 10 AND 20)
        |   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
        |         AND li.l_quantity BETWEEN 20 AND 30)
        |GROUP BY p.p_brand""".stripMargin,
    "q379_readability" ->
      """WITH r AS (SELECT source,
        |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sents,
        |    len(regexp_extract_all(text, '[A-Za-z]+')) AS n_words,
        |    len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_vgroups
        |  FROM documents),
        |m AS (SELECT source,
        |    n_words * 1000 // n_sents AS wps_milli,
        |    n_vgroups * 1000 // greatest(n_words, 1) AS spw_milli
        |  FROM r),
        |f AS (SELECT source, 206835 - (1015 * wps_milli) // 1000
        |    - (84600 * spw_milli) // 1000 AS flesch_milli FROM m)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(flesch_milli) // count(*) AS BIGINT) AS avg_flesch_milli,
        |  CAST(min(flesch_milli) AS BIGINT) AS min_flesch_milli,
        |  CAST(max(flesch_milli) AS BIGINT) AS max_flesch_milli
        |FROM f GROUP BY source""".stripMargin,
    "q380_bootstrap_ci" ->
      """WITH o AS (SELECT o_orderkey,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |x AS (SELECT o_orderkey, cents, r.rep,
        |    ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':'
        |       || CAST(r.rep AS VARCHAR)), 1, 8))::UBIGINT % 1000000 AS b
        |  FROM o CROSS JOIN (SELECT unnest(range(0, 32)) AS rep) r),
        |w AS (SELECT rep, cents,
        |    CASE WHEN b < 367879 THEN 0 WHEN b < 735759 THEN 1
        |         WHEN b < 919699 THEN 2 WHEN b < 981012 THEN 3
        |         ELSE 4 END AS w
        |  FROM x)
        |SELECT CAST(rep AS INT) AS rep, CAST(sum(w) AS BIGINT) AS n_eff,
        |  CAST(sum(w * cents) // sum(w) AS BIGINT) AS mean_cents
        |FROM w GROUP BY rep""".stripMargin,
    "q381_cc_star" ->
      """WITH RECURSIVE items AS (SELECT DISTINCT l_orderkey AS b,
        |    l_partkey AS i FROM lineitem),
        |p AS (SELECT a.i AS x, c.i AS y
        |      FROM items a JOIN items c ON a.b = c.b AND a.i < c.i
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT x AS src, y AS dst FROM p UNION SELECT y, x FROM p),
        |reach AS (
        |  SELECT src AS node, src AS lab FROM e
        |  UNION
        |  SELECT e.dst, r.lab FROM reach r JOIN e ON e.src = r.node),
        |cc AS (SELECT node, min(lab) AS comp FROM reach GROUP BY node)
        |SELECT node AS part_id, comp AS component_id,
        |  CAST(count(*) OVER (PARTITION BY comp) AS BIGINT)
        |    AS component_size
        |FROM cc""".stripMargin,
    "q382_bfs_hops" ->
      """WITH RECURSIVE items AS (SELECT DISTINCT l_orderkey AS b,
        |    l_partkey AS i FROM lineitem),
        |p AS (SELECT a.i AS x, c.i AS y
        |      FROM items a JOIN items c ON a.b = c.b AND a.i < c.i
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT x AS src, y AS dst FROM p UNION SELECT y, x FROM p),
        |seeds AS (SELECT node FROM (SELECT DISTINCT src AS node FROM e)
        |          ORDER BY node LIMIT 3),
        |bfs AS (
        |  SELECT node, 0 AS hop FROM seeds
        |  UNION
        |  SELECT e.dst, b.hop + 1 FROM bfs b JOIN e ON e.src = b.node
        |  WHERE b.hop < 4)
        |SELECT node AS part_id, CAST(min(hop) AS INT) AS hop
        |FROM bfs GROUP BY node""".stripMargin,
    "q383_semdedup" ->
      s"""WITH cents AS (SELECT vec_id AS centroid_id, embedding AS mv
         |  FROM embeddings ORDER BY vec_id LIMIT 16),
         |asg0 AS (SELECT e.vec_id AS id, e.embedding, c.centroid_id,
         |    ${cosSql("e.embedding", "c.mv")} AS s
         |  FROM embeddings e CROSS JOIN cents c),
         |asg AS (SELECT id, embedding, centroid_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY id
         |      ORDER BY s DESC, centroid_id) AS rn FROM asg0)
         |  WHERE rn = 1),
         |pr AS (SELECT a.centroid_id, a.id AS id_a, b.id AS id_b
         |  FROM asg a JOIN asg b ON a.centroid_id = b.centroid_id
         |    AND a.id < b.id
         |  WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.4),
         |m AS (SELECT centroid_id, count(*) AS n_members FROM asg
         |      GROUP BY 1),
         |st AS (SELECT centroid_id, count(*) AS n_pairs,
         |         count(DISTINCT id_b) AS n_removed
         |       FROM pr GROUP BY 1)
         |SELECT m.centroid_id,
         |  CAST(n_members AS BIGINT) AS n_members,
         |  CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs,
         |  CAST(coalesce(n_removed, 0) AS BIGINT) AS n_removed,
         |  CAST(n_members - coalesce(n_removed, 0) AS BIGINT) AS n_kept
         |FROM m LEFT JOIN st USING (centroid_id)""".stripMargin,
    "q384_ppr" -> {
      def round(i: Int, prev: String) =
        s"""i$i AS (SELECT e.y AS node, sum(pr // outdeg) AS sc
           |  FROM e JOIN $prev ON e.x = $prev.node GROUP BY 1),
           |pr$i AS (SELECT i$i.node,
           |    150000 * (CASE WHEN s.node IS NOT NULL THEN 1 ELSE 0 END)
           |      + 850000 * sc // 1000000 AS pr, outdeg
           |  FROM i$i JOIN deg ON i$i.node = deg.node
           |  LEFT JOIN seeds s ON i$i.node = s.node)""".stripMargin
      s"""WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
         |               FROM lineitem),
         |p AS (SELECT DISTINCT a.i AS x, c.i AS y
         |      FROM items a JOIN items c ON a.b = c.b AND a.i < c.i),
         |e AS (SELECT x, y FROM p UNION ALL SELECT y, x FROM p),
         |deg AS (SELECT x AS node, count(*) AS outdeg FROM e GROUP BY 1),
         |seeds AS (SELECT node FROM deg ORDER BY node LIMIT 3),
         |pr0 AS (SELECT d.node,
         |    CASE WHEN s.node IS NOT NULL THEN 1000000 ELSE 0 END AS pr,
         |    outdeg
         |  FROM deg d LEFT JOIN seeds s ON d.node = s.node),
         |${round(1, "pr0")},
         |${round(2, "pr1")},
         |${round(3, "pr2")}
         |SELECT node, CAST(pr AS BIGINT) AS ppr_micro,
         |  CAST(outdeg AS BIGINT) AS outdeg
         |FROM pr3""".stripMargin
    },
    "q386_qq_shift" ->
      """WITH o AS (SELECT CASE WHEN dayofweek(o_orderdate) IN (0, 6)
        |      THEN 'weekend' ELSE 'weekday' END AS day_class,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |rk AS (SELECT day_class, cents,
        |    row_number() OVER (PARTITION BY day_class ORDER BY cents)
        |      AS rn,
        |    CAST(count(*) OVER (PARTITION BY day_class) AS BIGINT) AS n
        |  FROM o),
        |qs AS (SELECT day_class, CAST(q AS INT) AS q, cents
        |  FROM rk CROSS JOIN (SELECT unnest([10, 20, 30, 40, 50, 60,
        |    70, 80, 90]) AS q)
        |  WHERE rn = (n * q + 99) // 100)
        |SELECT q,
        |  CAST(max(CASE WHEN day_class = 'weekday' THEN cents END)
        |       AS BIGINT) AS weekday_cents,
        |  CAST(max(CASE WHEN day_class = 'weekend' THEN cents END)
        |       AS BIGINT) AS weekend_cents,
        |  CAST(max(CASE WHEN day_class = 'weekend' THEN cents END)
        |     - max(CASE WHEN day_class = 'weekday' THEN cents END)
        |       AS BIGINT) AS shift_cents
        |FROM qs GROUP BY q""".stripMargin,
    "q387_assortativity" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |               FROM lineitem),
        |p AS (SELECT a.i AS x, c.i AS y
        |      FROM items a JOIN items c ON a.b = c.b AND a.i < c.i
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT x AS src, y AS dst FROM p
        |      UNION ALL SELECT y, x FROM p),
        |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d
        |        FROM e GROUP BY 1),
        |j AS (SELECT dx.d AS dx, dy.d AS dy FROM e
        |      JOIN deg dx ON e.src = dx.node
        |      JOIN deg dy ON e.dst = dy.node),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(dx) AS BIGINT) AS sx,
        |        CAST(sum(dx * dx) AS BIGINT) AS sxx,
        |        CAST(sum(dx * dy) AS BIGINT) AS sxy
        |      FROM j)
        |SELECT n, sx, sxx, sxy,
        |  CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sx
        |       AS VARCHAR) AS cov_numer,
        |  CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
        |       AS VARCHAR) AS var_numer
        |FROM m""".stripMargin,
    "q388_single_source_risk" ->
      """WITH pp AS (SELECT l_partkey,
        |    CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
        |    CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
        |         AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1),
        |b AS (SELECT n_suppliers, CAST(count(*) AS BIGINT) AS n_parts,
        |        CAST(sum(cents) AS BIGINT) AS cents
        |      FROM pp GROUP BY 1),
        |t AS (SELECT CAST(sum(cents) AS BIGINT) AS tot FROM b)
        |SELECT n_suppliers, n_parts, cents,
        |  CAST(cents * 1000000 // tot AS BIGINT) AS share_ppm
        |FROM b, t""".stripMargin,
    // Same lossless-roundtrip contract as q142/q143: the checksum of the
    // ORC-roundtripped corpus must equal the oracle's parquet-side sum.
    "q389_orc_roundtrip" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(('0x' || substr(md5(concat_ws('-',
        |      coalesce(CAST(doc_id AS VARCHAR), ''), coalesce(text, ''),
        |      coalesce(source, ''), coalesce(CAST(n_chars AS VARCHAR), ''))),
        |    1, 15))::UBIGINT) % 1000000000000000000 AS BIGINT) AS checksum
        |FROM documents GROUP BY 1""".stripMargin,
    "q390_recursive_org" ->
      """WITH RECURSIVE org AS (
        |  SELECT s_suppkey AS node, 1 AS depth,
        |         CAST(floor(s_acctbal * 100) AS BIGINT) AS bal_cents
        |  FROM supplier WHERE s_suppkey = 1
        |  UNION ALL
        |  SELECT s.s_suppkey, o.depth + 1,
        |         CAST(floor(s.s_acctbal * 100) AS BIGINT)
        |  FROM supplier s JOIN org o ON s.s_suppkey // 2 = o.node)
        |SELECT CAST(depth AS INT) AS depth,
        |       CAST(count(*) AS BIGINT) AS n_nodes,
        |       CAST(min(node) AS BIGINT) AS min_node,
        |       CAST(max(node) AS BIGINT) AS max_node,
        |       CAST(sum(bal_cents) AS BIGINT) AS bal_cents
        |FROM org GROUP BY depth""".stripMargin,
    "q391_stylometry_dist" ->
      """WITH toks AS (SELECT source, unnest(regexp_split_to_array(
        |    lower(trim(text)), '\s+')) AS tok FROM documents),
        |tk AS (SELECT * FROM toks WHERE tok <> ''),
        |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_tokens
        |        FROM tk GROUP BY 1),
        |fw AS (SELECT unnest(['the', 'of', 'and', 'to', 'a',
        |                      'in', 'is', 'that', 'it', 'as']) AS w),
        |grid AS (SELECT source, n_tokens, w FROM tot CROSS JOIN fw),
        |cnts AS (SELECT source, tok AS w, CAST(count(*) AS BIGINT) AS cnt
        |         FROM tk WHERE tok IN ('the', 'of', 'and', 'to', 'a',
        |                               'in', 'is', 'that', 'it', 'as')
        |         GROUP BY 1, 2),
        |fr AS (SELECT g.source, g.w,
        |         coalesce(c.cnt, 0) * 1000000 // g.n_tokens AS freq_ppm
        |       FROM grid g LEFT JOIN cnts c
        |         ON g.source = c.source AND g.w = c.w)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  CAST(count(*) AS BIGINT) AS n_terms,
        |  CAST(sum(abs(a.freq_ppm - b.freq_ppm)) AS BIGINT) AS delta_ppm
        |FROM fr a JOIN fr b ON a.w = b.w AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin,
    // Batch-1-wins exact dedup: even-id docs were ingested first, so per
    // fingerprint the winner is the min doc_id of the earliest batch
    // containing it — ORDER BY (parity, doc_id) encodes exactly that.
    "q392_ingest_idempotent" ->
      """WITH fp AS (SELECT doc_id, text,
        |    md5(array_to_string(regexp_split_to_array(lower(trim(text)),
        |      '\s+'), ' ')) AS fingerprint
        |  FROM documents),
        |w AS (SELECT *, row_number() OVER (PARTITION BY fingerprint
        |        ORDER BY (doc_id % 2), doc_id) AS rn FROM fp)
        |SELECT doc_id, text, fingerprint FROM w WHERE rn = 1""".stripMargin,
    "q393_ingest_versions" ->
      """WITH fp AS (SELECT doc_id,
        |    md5(array_to_string(regexp_split_to_array(lower(trim(text)),
        |      '\s+'), ' ')) AS f
        |  FROM documents),
        |e AS (SELECT CAST(count(DISTINCT f) AS BIGINT) AS n FROM fp
        |      WHERE doc_id % 2 = 0),
        |a AS (SELECT CAST(count(DISTINCT f) AS BIGINT) AS n FROM fp)
        |SELECT CAST(1 AS BIGINT) AS version, e.n AS n_rows FROM e
        |UNION ALL SELECT CAST(2 AS BIGINT), a.n FROM a
        |UNION ALL SELECT CAST(3 AS BIGINT), a.n FROM a""".stripMargin,
    "q395_lead_lag_xcorr" ->
      """WITH src AS (SELECT event_type,
        |    date_diff('day', DATE '2020-01-01',
        |              CAST(date_trunc('day', CAST(ts AS TIMESTAMP))
        |                   AS DATE)) AS d
        |  FROM events),
        |xs AS (SELECT d, CAST(count(*) AS BIGINT) AS x FROM src
        |       WHERE event_type = 'view' GROUP BY 1),
        |ys AS (SELECT d, CAST(count(*) AS BIGINT) AS y FROM src
        |       WHERE event_type = 'purchase' GROUP BY 1),
        |lags AS (SELECT CAST(unnest(range(0, 8)) AS INT) AS lag),
        |j AS (SELECT l.lag, xs.x, ys.y
        |      FROM xs CROSS JOIN lags l
        |      JOIN ys ON ys.d = xs.d + l.lag),
        |m AS (SELECT lag, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(x) AS BIGINT) AS sx,
        |        CAST(sum(y) AS BIGINT) AS sy,
        |        CAST(sum(x * x) AS BIGINT) AS sxx,
        |        CAST(sum(y * y) AS BIGINT) AS syy,
        |        CAST(sum(x * y) AS BIGINT) AS sxy
        |      FROM j GROUP BY 1)
        |SELECT lag, n, sx, sy, sxx, syy, sxy,
        |  CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
        |       AS VARCHAR) AS cov_numer,
        |  CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
        |       AS VARCHAR) AS varx_numer,
        |  CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy
        |       AS VARCHAR) AS vary_numer
        |FROM m""".stripMargin,
    "q396_independence_audit" ->
      """WITH cells AS (SELECT o_orderpriority AS pri,
        |    CAST(month(o_orderdate) AS INT) AS mon,
        |    CAST(count(*) AS BIGINT) AS n_ij
        |  FROM orders GROUP BY 1, 2)
        |SELECT pri, mon, n_ij,
        |  CAST(sum(n_ij) OVER (PARTITION BY pri) AS BIGINT) AS n_i,
        |  CAST(sum(n_ij) OVER (PARTITION BY mon) AS BIGINT) AS n_j,
        |  CAST(abs(n_ij * (sum(n_ij) OVER ())
        |           - (sum(n_ij) OVER (PARTITION BY pri))
        |             * (sum(n_ij) OVER (PARTITION BY mon))) * 1000000
        |       // ((sum(n_ij) OVER ()) * (sum(n_ij) OVER ()))
        |       AS BIGINT) AS dev_ppm
        |FROM cells""".stripMargin,
    "q397_null_semantics" ->
      """WITH probe AS (SELECT CASE WHEN c_acctbal < 0 THEN NULL
        |    ELSE c_custkey END AS k
        |  FROM customer WHERE c_mktsegment = 'BUILDING')
        |SELECT
        |  (SELECT count(*) FROM orders
        |   WHERE o_custkey NOT IN (SELECT k FROM probe))
        |    AS not_in_with_null,
        |  (SELECT count(*) FROM orders
        |   WHERE o_custkey IN (SELECT k FROM probe)) AS in_with_null,
        |  (SELECT count(*) FROM orders
        |   WHERE o_custkey NOT IN (SELECT k FROM probe WHERE k IS NOT NULL))
        |    AS not_in_no_null,
        |  (SELECT count(*) FROM probe a JOIN probe b
        |   ON a.k IS NOT DISTINCT FROM b.k) AS nullsafe_join_rows,
        |  (SELECT count(*) FROM probe a JOIN probe b ON a.k = b.k)
        |    AS equi_join_rows""".stripMargin,
    "q398_bucketed_join" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    AS qty_centi
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,
    // Untouched partitions keep v1 values; the overwritten 'purchase'
    // partition carries the doubled reprocessed values.
    "q399_dynamic_overwrite" ->
      """WITH e AS (SELECT event_type,
        |    CAST(floor(value * 1000) AS BIGINT) AS vm FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN vm * 2
        |           ELSE vm END) AS BIGINT) AS vm_sum
        |FROM e GROUP BY 1""".stripMargin,
    "q400_variant_json" ->
      """WITH e AS (SELECT event_type,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events)
        |SELECT event_type, CAST(k % 10 AS BIGINT) AS k_mod,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(k) AS BIGINT) AS k_sum
        |FROM e GROUP BY 1, 2""".stripMargin,
    "q401_lateral_topn" ->
      """SELECT o.o_orderkey, t.l_linenumber,
        |  CAST(floor(t.l_extendedprice * 100) AS BIGINT) AS cents
        |FROM orders o
        |JOIN customer c
        |  ON o.o_custkey = c.c_custkey AND c.c_mktsegment = 'BUILDING',
        |LATERAL (SELECT l.l_linenumber, l.l_extendedprice
        |         FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
        |         ORDER BY l.l_extendedprice DESC, l.l_linenumber
        |         LIMIT 2) t""".stripMargin,
    "q402_session_window_builtin" ->
      """WITH src AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |    CAST(floor(value * 1000) AS BIGINT) AS vm FROM events),
        |g AS (SELECT user_id, ts, vm,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
        |              >= 1800000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM src WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sx AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |         ROWS UNBOUNDED PRECEDING) AS sess FROM g)
        |SELECT user_id, min(ts) AS w_start,
        |  max(ts) + INTERVAL 30 MINUTE AS w_end,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(vm) AS BIGINT) AS vm
        |FROM sx GROUP BY user_id, sess""".stripMargin,
    "q403_observed_metrics" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
        |    AS vm_sum,
        |  CAST(count(CASE WHEN event_type = 'error' THEN 1 END)
        |       AS BIGINT) AS n_errors
        |FROM events""".stripMargin,
    "q404_argmax_builtin" ->
      """WITH src AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |    CAST(floor(value * 1000) AS BIGINT) AS vm FROM events),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |         ORDER BY ts DESC, event_id DESC) AS rl,
        |       row_number() OVER (PARTITION BY user_id
        |         ORDER BY ts ASC, event_id ASC) AS rf
        |       FROM src)
        |SELECT user_id,
        |  max(CASE WHEN rl = 1 THEN vm END) AS last_vm,
        |  max(CASE WHEN rf = 1 THEN vm END) AS first_vm,
        |  max(ts) AS last_ts,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM rk GROUP BY 1""".stripMargin,
    "q405_stream_restart" ->
      """WITH src AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts,
        |    value FROM events WHERE user_id % 5 = 2),
        |e AS (SELECT event_type, date_trunc('day', ts) AS day,
        |        CAST(floor(value * 1000000.0) AS BIGINT) AS vm FROM src)
        |SELECT event_type, day, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(vm) AS BIGINT) AS value_micro,
        |  min(vm) AS min_micro, max(vm) AS max_micro
        |FROM e GROUP BY 1, 2""".stripMargin,
    "q406_csv_corrupt" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(CASE WHEN doc_id % 50 = 0 THEN 1 END) AS BIGINT)
        |    AS n_corrupt,
        |  CAST(sum(CASE WHEN doc_id % 50 = 0 THEN NULL ELSE n_chars END)
        |       AS BIGINT) AS chars_sum
        |FROM documents GROUP BY 1""".stripMargin,
    // Estimates stay engine-side; the oracle recomputes the exact trailing
    // distinct and the verdict contract (like q96-q98).
    "q407_hll_sliding" ->
      """WITH e AS (SELECT user_id, event_type,
        |    date_trunc('day', CAST(ts AS TIMESTAMP)) AS day FROM events),
        |t AS (SELECT DISTINCT event_type, day FROM e),
        |sp AS (SELECT event_type, day AS w_end FROM t)
        |SELECT sp.event_type, sp.w_end,
        |  CAST((SELECT count(*) FROM t
        |        WHERE t.event_type = sp.event_type
        |          AND t.day <= sp.w_end
        |          AND t.day >= sp.w_end - INTERVAL 6 DAY) AS BIGINT)
        |    AS n_tiles,
        |  CAST((SELECT count(DISTINCT e.user_id) FROM e
        |        WHERE e.event_type = sp.event_type
        |          AND e.day <= sp.w_end
        |          AND e.day >= sp.w_end - INTERVAL 6 DAY) AS BIGINT)
        |    AS mau_exact,
        |  TRUE AS ndv_ok
        |FROM sp""".stripMargin,
    "q408_file_provenance" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(1 AS BIGINT) AS n_files
        |FROM events GROUP BY 1""".stripMargin,
    "q409_stream_dropdup_builtin" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        |FROM events WHERE user_id % 5 = 3""".stripMargin,
    "q410_join_hint_parity" ->
      """WITH r AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
        |         AS BIGINT) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey)
        |SELECT n AS n_bhj, cents AS cents_bhj, n AS n_shj,
        |  cents AS cents_shj, n AS n_smj, cents AS cents_smj
        |FROM r""".stripMargin,
    // The rewrite must be result-invisible: the oracle aggregates the BASE
    // table directly.
    "q411_mv_rewrite" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(l_partkey) AS BIGINT) AS pk_sum,
        |  CAST(min(l_partkey) AS BIGINT) AS pk_min,
        |  CAST(max(l_partkey) AS BIGINT) AS pk_max
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q412_compaction_execute" ->
      """WITH f AS (SELECT event_id % 50 AS file_id, event_id FROM events),
        |inv AS (SELECT file_id, CAST(count(*) AS BIGINT) AS n_rows
        |        FROM f GROUP BY 1),
        |b AS (SELECT file_id,
        |    coalesce(sum(n_rows) OVER (ORDER BY file_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      // 2100 AS bin
        |  FROM inv),
        |j AS (SELECT f.event_id, b.bin, b.file_id
        |      FROM f JOIN b USING (file_id))
        |SELECT CAST(bin AS BIGINT) AS bin,
        |  CAST(count(DISTINCT file_id) AS BIGINT) AS n_files,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(event_id) AS BIGINT) AS id_sum
        |FROM j GROUP BY 1""".stripMargin,
    "q413_cdf_grid" -> {
      val grid = Seq(5000L, 10000L, 20000L, 50000L, 100000L,
                     200000L, 300000L, 400000L)
      val les = grid.map(g =>
        s"sum(CASE WHEN cents <= ${g * 100} THEN 1 ELSE 0 END) AS le_$g")
        .mkString(",\n|        ")
      val cases = grid.map(g =>
        s"WHEN ${g} THEN le_$g").mkString("\n|    ")
      s"""WITH o AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT)
         |    AS cents FROM orders),
         |m AS (SELECT count(*) AS n,
         |        $les
         |      FROM o),
         |g AS (SELECT unnest([${grid.mkString(", ")}])
         |        AS threshold_dollars)
         |SELECT CAST(g.threshold_dollars AS BIGINT) AS threshold_dollars,
         |  CAST((CASE g.threshold_dollars
         |    $cases
         |    END) * 1000000 // n AS BIGINT) AS cdf_ppm,
         |  CAST(n AS BIGINT) AS n_orders
         |FROM g, m""".stripMargin
    },
    "q414_runs_test" ->
      """WITH d AS (SELECT CAST(date_trunc('day', o_orderdate) AS DATE)
        |      AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
        |         AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |p AS (SELECT day, cents, lag(cents) OVER (ORDER BY day) AS prev
        |      FROM d),
        |sgn AS (SELECT day,
        |    CASE WHEN cents > prev THEN 1 ELSE -1 END AS sign
        |  FROM p WHERE prev IS NOT NULL AND cents <> prev),
        |chg AS (SELECT day, sign,
        |    CASE WHEN lag(sign) OVER (ORDER BY day) IS NULL
        |           OR lag(sign) OVER (ORDER BY day) <> sign
        |         THEN 1 ELSE 0 END AS c
        |  FROM sgn),
        |r AS (SELECT sign, sum(c) OVER (ORDER BY day
        |        ROWS UNBOUNDED PRECEDING) AS run_id FROM chg),
        |rl AS (SELECT sign, run_id, count(*) AS run_len
        |       FROM r GROUP BY 1, 2)
        |SELECT sign, CAST(count(*) AS BIGINT) AS n_runs,
        |  CAST(max(run_len) AS BIGINT) AS longest_run,
        |  CAST(sum(run_len) AS BIGINT) AS n_days
        |FROM rl GROUP BY 1""".stripMargin,
    "q415_fifo_allocation" ->
      """WITH o AS (SELECT o_custkey, o_orderkey, o_orderdate,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |a AS (SELECT o_custkey, o_orderkey, cents,
        |    CAST(sum(cents) OVER (PARTITION BY o_custkey) * 8 // 10
        |         AS BIGINT) AS budget,
        |    coalesce(sum(cents) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS bef
        |  FROM o)
        |SELECT o_custkey, o_orderkey, cents,
        |  CAST(greatest(0, least(cents, budget - bef)) AS BIGINT)
        |    AS allocated,
        |  greatest(0, least(cents, budget - bef)) = cents AS fully_paid
        |FROM a WHERE o_custkey % 20 = 0""".stripMargin,
    "q416_local_peaks" ->
      """WITH d AS (SELECT CAST(date_trunc('day', o_orderdate) AS DATE)
        |      AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
        |         AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |x AS (SELECT day, cents,
        |    lag(cents) OVER (ORDER BY day) AS p,
        |    lead(cents) OVER (ORDER BY day) AS n
        |  FROM d)
        |SELECT day, cents, CAST(cents - p AS BIGINT) AS rise_cents,
        |  CAST(cents - n AS BIGINT) AS fall_cents
        |FROM x
        |WHERE p IS NOT NULL AND n IS NOT NULL
        |  AND cents > p AND cents > n""".stripMargin,
    "q420_multiset_ops" ->
      """WITH a AS (SELECT event_type FROM events WHERE user_id % 3 = 0),
        |b AS (SELECT event_type FROM events WHERE user_id % 3 = 1)
        |SELECT
        |  (SELECT count(*) FROM (SELECT * FROM a EXCEPT ALL
        |                         SELECT * FROM b)) AS except_all_rows,
        |  (SELECT count(*) FROM (SELECT * FROM a EXCEPT
        |                         SELECT * FROM b)) AS except_rows,
        |  (SELECT count(*) FROM (SELECT * FROM a INTERSECT ALL
        |                         SELECT * FROM b)) AS intersect_all_rows,
        |  (SELECT count(*) FROM (SELECT * FROM a INTERSECT
        |                         SELECT * FROM b)) AS intersect_rows"""
        .stripMargin,
    "q431_event_anchor" ->
      """WITH src AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |    event_type FROM events),
        |a AS (SELECT user_id, epoch_us(min(ts)) AS anchor FROM src
        |      WHERE event_type = 'purchase' GROUP BY 1),
        |x AS (SELECT s.user_id,
        |    CASE WHEN epoch_us(ts) >= anchor
        |      THEN (epoch_us(ts) - anchor) // 86400000000
        |      ELSE -(((anchor - epoch_us(ts)) + 86399999999)
        |             // 86400000000) END AS day_offset
        |  FROM src s JOIN a ON s.user_id = a.user_id)
        |SELECT CAST(day_offset AS BIGINT) AS day_offset,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM x WHERE day_offset BETWEEN -14 AND 14
        |GROUP BY 1""".stripMargin,
    "q432_df_pruning" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(
        |    lower(trim(text)), '\s+')) AS tok FROM documents),
        |tf AS (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
        |         CAST(count(*) AS BIGINT) AS tf
        |       FROM tok WHERE tok <> '' GROUP BY 1),
        |m AS (SELECT CAST(unnest([2, 5, 10]) AS INT) AS min_df)
        |SELECT min_df,
        |  CAST(sum(CASE WHEN df >= min_df THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_terms_kept,
        |  CAST(sum(CASE WHEN df >= min_df THEN tf ELSE 0 END) AS BIGINT)
        |    AS tokens_kept,
        |  CAST(count(*) AS BIGINT) AS n_terms_total,
        |  CAST(sum(tf) AS BIGINT) AS tokens_total
        |FROM tf, m GROUP BY 1""".stripMargin,
    "q433_norm_ladder" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT text) AS BIGINT) AS distinct_raw,
        |  CAST(count(DISTINCT lower(text)) AS BIGINT) AS distinct_lower,
        |  CAST(count(DISTINCT regexp_replace(lower(trim(text)),
        |    '\s+', ' ', 'g')) AS BIGINT) AS distinct_ws,
        |  CAST(count(DISTINCT regexp_replace(lower(text),
        |    '[^a-z0-9]+', '', 'g')) AS BIGINT) AS distinct_alnum
        |FROM documents""".stripMargin,
    "q434_skyline" ->
      """WITH p AS (SELECT p_partkey, p_size,
        |    CAST(floor(p_retailprice * 100) AS BIGINT) AS price_c FROM part)
        |SELECT a.p_partkey, a.p_size, a.price_c
        |FROM p a WHERE NOT EXISTS (
        |  SELECT 1 FROM p b
        |  WHERE b.price_c <= a.price_c AND b.p_size >= a.p_size
        |    AND (b.price_c < a.price_c OR b.p_size > a.p_size))"""
        .stripMargin,
    "q435_positional_index" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term,
        |    unnest(range(len(regexp_split_to_array(lower(trim(text)),
        |      '\s+')))) AS pos
        |  FROM documents)
        |SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
        |  CAST(count(*) AS BIGINT) AS tf,
        |  CAST(sum(doc_id * 1048576 + pos) AS BIGINT) AS postings_sum
        |FROM tok WHERE term <> '' GROUP BY 1
        |HAVING count(DISTINCT doc_id) >= 20""".stripMargin,
    "q436_phrase_search" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term,
        |    unnest(range(len(regexp_split_to_array(lower(trim(text)),
        |      '\s+')))) AS pos
        |  FROM documents),
        |f AS (SELECT * FROM tok WHERE term IN
        |  ('table', 'hash', 'customer', 'join', 'big', 'order')),
        |ph AS (SELECT unnest(['table hash', 'customer join', 'big order'])
        |         AS phrase)
        |SELECT p.phrase, CAST(count(*) AS BIGINT) AS n_occurrences,
        |  CAST(count(DISTINCT a.doc_id) AS BIGINT) AS n_docs
        |FROM f a JOIN f b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |JOIN ph p ON p.phrase = a.term || ' ' || b.term
        |GROUP BY 1""".stripMargin,
    "q441_transpose" ->
      """WITH j AS (SELECT r.r_name AS rn,
        |    CAST(floor(l.l_extendedprice * 100) AS BIGINT) AS c
        |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey)
        |SELECT 'revenue_c' AS key,
        |  CAST(sum(CASE WHEN rn = 'AFRICA' THEN c END) AS BIGINT)
        |    AS AFRICA,
        |  CAST(sum(CASE WHEN rn = 'AMERICA' THEN c END) AS BIGINT)
        |    AS AMERICA,
        |  CAST(sum(CASE WHEN rn = 'ASIA' THEN c END) AS BIGINT) AS ASIA,
        |  CAST(sum(CASE WHEN rn = 'EUROPE' THEN c END) AS BIGINT)
        |    AS EUROPE,
        |  CAST(sum(CASE WHEN rn = 'MIDDLE EAST' THEN c END) AS BIGINT)
        |    AS MIDDLE_EAST
        |FROM j""".stripMargin,
    "q440_set_cover" ->
      """WITH tp AS (SELECT doc_id, source,
        |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term,
        |    unnest(range(len(regexp_split_to_array(lower(trim(text)),
        |      '\s+')))) AS pos
        |  FROM documents),
        |st AS (SELECT DISTINCT a.source, a.term || ' ' || b.term AS tok
        |       FROM tp a JOIN tp b ON a.doc_id = b.doc_id
        |         AND b.pos = a.pos + 1),
        |g1 AS (SELECT source, count(*) AS g FROM st GROUP BY 1),
        |b1 AS (SELECT source, g FROM g1 ORDER BY g DESC, source LIMIT 1),
        |u1 AS (SELECT tok FROM (SELECT DISTINCT tok FROM st)
        |       WHERE tok NOT IN
        |         (SELECT tok FROM st JOIN b1 USING (source))),
        |g2 AS (SELECT s.source, count(*) AS g FROM st s JOIN u1 USING (tok)
        |       GROUP BY 1),
        |b2 AS (SELECT source, g FROM g2 ORDER BY g DESC, source LIMIT 1),
        |u2 AS (SELECT tok FROM u1 WHERE tok NOT IN
        |         (SELECT tok FROM st JOIN b2 USING (source))),
        |g3 AS (SELECT s.source, count(*) AS g FROM st s JOIN u2 USING (tok)
        |       GROUP BY 1),
        |b3 AS (SELECT source, g FROM g3 ORDER BY g DESC, source LIMIT 1)
        |SELECT CAST(1 AS INT) AS step, source,
        |  CAST(g AS BIGINT) AS newly_covered FROM b1
        |UNION ALL SELECT 2, source, g FROM b2
        |UNION ALL SELECT 3, source, g FROM b3""".stripMargin,
    "q439_hof_docstats" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term,
        |    unnest(range(len(regexp_split_to_array(lower(trim(text)),
        |      '\s+')))) AS pos
        |  FROM documents),
        |rep AS (SELECT a.doc_id, count(*) AS n_adj
        |        FROM tok a JOIN tok b ON a.doc_id = b.doc_id
        |          AND b.pos = a.pos + 1 AND a.term = b.term
        |        GROUP BY 1),
        |per AS (SELECT d.doc_id, d.source,
        |    len(regexp_split_to_array(lower(trim(d.text)), '\s+'))
        |      AS n_tok,
        |    len(list_distinct(regexp_split_to_array(lower(trim(d.text)),
        |      '\s+'))) AS n_distinct,
        |    coalesce(r.n_adj, 0) AS n_adj
        |  FROM documents d LEFT JOIN rep r ON d.doc_id = r.doc_id)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS tokens,
        |  CAST(sum(n_distinct) AS BIGINT) AS distinct_tokens,
        |  CAST(sum(n_adj) AS BIGINT) AS adjacent_repeats
        |FROM per GROUP BY 1""".stripMargin,
    "q437_skyline3d" ->
      """WITH p AS (SELECT DISTINCT
        |    CAST(floor(l_quantity) AS BIGINT) AS qty,
        |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS price_c,
        |    CAST(floor(l_discount * 1000) AS BIGINT) AS disc_m
        |  FROM lineitem WHERE l_partkey <= 200)
        |SELECT a.qty, a.price_c, a.disc_m
        |FROM p a WHERE NOT EXISTS (
        |  SELECT 1 FROM p b
        |  WHERE b.qty >= a.qty AND b.price_c <= a.price_c
        |    AND b.disc_m >= a.disc_m
        |    AND (b.qty > a.qty OR b.price_c < a.price_c
        |         OR b.disc_m > a.disc_m))""".stripMargin,
    "q438_weighted_sssp" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |    FROM lineitem),
        |pr AS (SELECT a.i AS x, c.i AS y, count(*) AS n
        |       FROM items a JOIN items c ON a.b = c.b AND a.i < c.i
        |       GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT x AS src, y AS dst, 1000 // n AS cost FROM pr
        |      UNION ALL SELECT y, x, 1000 // n FROM pr),
        |d0 AS (SELECT min(src) AS node, CAST(0 AS BIGINT) AS cost FROM e),
        |d1 AS (SELECT node, min(cost) AS cost FROM (
        |  SELECT node, cost FROM d0 UNION ALL
        |  SELECT e.dst, d0.cost + e.cost FROM d0 JOIN e ON d0.node = e.src)
        |  GROUP BY 1),
        |d2 AS (SELECT node, min(cost) AS cost FROM (
        |  SELECT node, cost FROM d1 UNION ALL
        |  SELECT e.dst, d1.cost + e.cost FROM d1 JOIN e ON d1.node = e.src)
        |  GROUP BY 1),
        |d3 AS (SELECT node, min(cost) AS cost FROM (
        |  SELECT node, cost FROM d2 UNION ALL
        |  SELECT e.dst, d2.cost + e.cost FROM d2 JOIN e ON d2.node = e.src)
        |  GROUP BY 1),
        |d4 AS (SELECT node, min(cost) AS cost FROM (
        |  SELECT node, cost FROM d3 UNION ALL
        |  SELECT e.dst, d3.cost + e.cost FROM d3 JOIN e ON d3.node = e.src)
        |  GROUP BY 1)
        |SELECT node AS part_id, CAST(cost AS BIGINT) AS cost FROM d4"""
        .stripMargin,
    "q430_churn_labels" ->
      """WITH src AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |    CAST(floor(value * 1000) AS BIGINT) AS vm FROM events),
        |b AS (SELECT epoch_us(min(ts)) AS lo, epoch_us(max(ts)) AS hi
        |      FROM src),
        |c AS (SELECT lo + (hi - lo) * 6 // 10 AS cut FROM b),
        |f AS (SELECT user_id,
        |    CAST(count(*) AS BIGINT) AS n_events_10d,
        |    CAST(sum(vm) AS BIGINT) AS vm_10d,
        |    CAST(max((cut - epoch_us(ts)) // 86400000000) AS BIGINT)
        |      AS oldest_days,
        |    CAST(min((cut - epoch_us(ts)) // 86400000000) AS BIGINT)
        |      AS recency_days
        |  FROM src, c
        |  WHERE epoch_us(ts) < cut AND epoch_us(ts) >= cut - 864000000000
        |  GROUP BY 1),
        |a AS (SELECT DISTINCT user_id FROM src, c
        |      WHERE epoch_us(ts) >= cut
        |        AND epoch_us(ts) < cut + 864000000000)
        |SELECT f.user_id, n_events_10d, vm_10d, recency_days,
        |  oldest_days, a.user_id IS NULL AS churned
        |FROM f LEFT JOIN a ON f.user_id = a.user_id""".stripMargin,
    "q427_loo_encoding" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber, l_returnflag,
        |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem),
        |cat AS (SELECT l_returnflag, CAST(sum(cents) AS BIGINT) AS cs,
        |          CAST(count(*) AS BIGINT) AS cn
        |        FROM li GROUP BY 1)
        |SELECT l_orderkey, l_linenumber, li.l_returnflag, cents,
        |  CAST(cs - cents AS BIGINT) AS loo_num,
        |  CAST(cn - 1 AS BIGINT) AS loo_den
        |FROM li JOIN cat USING (l_returnflag)
        |WHERE l_orderkey % 500 = 0""".stripMargin,
    "q428_feature_hash" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(
        |    lower(trim(text)), '\s+')) AS tok
        |  FROM documents WHERE doc_id % 25 = 0)
        |SELECT doc_id,
        |  ('0x' || substr(md5(tok), 1, 8))::UBIGINT % 64 AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_hits
        |FROM tok WHERE tok <> ''
        |GROUP BY 1, 2""".stripMargin,
    "q429_temporal_split" ->
      """WITH src AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts
        |             FROM events),
        |b AS (SELECT epoch_us(min(ts)) AS lo, epoch_us(max(ts)) AS hi
        |      FROM src),
        |x AS (SELECT ts,
        |    CASE WHEN epoch_us(ts) < lo + (hi - lo) * 7 // 10
        |              - 259200000000 THEN 'train'
        |         WHEN epoch_us(ts) >= lo + (hi - lo) * 7 // 10
        |           THEN 'test'
        |         ELSE 'embargo' END AS split
        |  FROM src, b)
        |SELECT split, CAST(count(*) AS BIGINT) AS n_events,
        |  min(ts) AS first_ts, max(ts) AS last_ts
        |FROM x GROUP BY 1""".stripMargin,
    "q425_burst_collapse" ->
      """WITH src AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
        |    user_id, event_type FROM events),
        |g AS (SELECT user_id, event_type,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER
        |      (PARTITION BY user_id, event_type
        |       ORDER BY ts, event_id) AS gap_us
        |  FROM src)
        |SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CASE WHEN gap_us IS NULL OR gap_us >= 600000000
        |               THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN gap_us < 600000000 THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_collapsed
        |FROM g GROUP BY 1, 2
        |HAVING sum(CASE WHEN gap_us < 600000000 THEN 1 ELSE 0 END) > 0"""
        .stripMargin,
    "q426_hll_precision_sweep" ->
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
        |  TRUE AS ok_lgk4, TRUE AS ok_lgk8, TRUE AS ok_lgk12
        |FROM events GROUP BY 1""".stripMargin,
    "q422_pipe_sql" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
        |       AS BIGINT) AS cents,
        |  CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    AS qty_centi
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY 1, 2""".stripMargin,
    "q423_param_sql" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM orders
        |WHERE o_totalprice >= 1000.0 AND o_orderstatus = 'F'
        |GROUP BY 1""".stripMargin,
    "q421_string_agg" ->
      """SELECT user_id,
        |  string_agg(DISTINCT event_type, ',' ORDER BY event_type)
        |    AS type_signature,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
        |FROM events WHERE user_id % 10 = 0
        |GROUP BY 1""".stripMargin
  )

  /** Sequential-fold double cosine, DuckDB-side — same fragment SparkEntry
    * uses for the ANN oracles; bit-identical to `Similarity.dot`'s fold.
    */
  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(generate_series(1, len($a)), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  private def cosSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / sqrt(${dotSql(a, a)} * ${dotSql(b, b)}))"
}
