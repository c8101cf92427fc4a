package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.operators.Scd2

/** The reference's named regression fixtures: born-deleted records,
  * NULL-bearing composite keys, out-of-order backfill collapse
  * (SURVEY.md §5.4, FIXTURES.md §2-4).
  */
class Scd2EdgeCaseSpec extends SparkTestBase {

  private def bornDeleted(i: Int): DataFrame =
    seed(s"scd2_materialization/born_deleted_raw_$i.csv")
      .select(
        col("customer_id").cast("int"),
        col("customer_name"), col("email"), col("status"),
        tsCol("deleted_at"), tsCol("_created_at"), tsCol("_updated_at"))

  private val bdCfg = ScdConfig(
    uniqueKey = Seq("customer_id"),
    createdAtCol = Some("_created_at"),
    deletedAtCol = Some("deleted_at"))

  test("born-deleted record: 'D', valid_from = deleted_at, current") {
    // assert_born_deleted_record.sql:3-15 + the 2026-06-09 design doc
    val t1 = Scd2.initialLoad(bornDeleted(1), bdCfg).cache()
    assertInvariantsGreen(t1, bdCfg)

    val k100 = rowsFor(t1, 100)
    assert(k100.length === 1)
    assert(k100.head.getAs[String]("_change_type") === "D")
    assert(k100.head.getAs[java.sql.Timestamp]("_valid_from") === ts("2024-02-01 00:00:00"))
    assert(k100.head.getAs[Boolean]("_is_current"))

    // key 102: deleted then resurrected; first version starts at deleted_at,
    // resurrection at its own updated_at
    val k102 = rowsFor(t1, 102)
    assert(k102.map(_.getAs[String]("_change_type")).toSeq === Seq("D", "I"))
    assert(k102.head.getAs[java.sql.Timestamp]("_valid_from") === ts("2024-02-10 00:00:00"))
    assert(k102.last.getAs[java.sql.Timestamp]("_valid_from") === ts("2024-04-10 00:00:00"))
  }

  test("born-deleted incremental: re-sent identical rows collapse, new key lands") {
    val t1 = Scd2.initialLoad(bornDeleted(1), bdCfg)
    val t2 = Scd2.incremental(t1, bornDeleted(2), bdCfg).cache()
    assertInvariantsGreen(t2, bdCfg)
    assert(rowsFor(t2, 100).length === 1) // unchanged re-send collapsed
    assert(rowsFor(t2, 102).length === 2)
    val k101 = rowsFor(t2, 101) // new born-deleted key via incremental path
    assert(k101.length === 1)
    assert(k101.head.getAs[String]("_change_type") === "D")
    assert(k101.head.getAs[java.sql.Timestamp]("_valid_from") === ts("2024-05-01 00:00:00"))
    assert(k101.head.getAs[Boolean]("_is_current"))
  }

  private def nullKey(i: Int): DataFrame =
    seed(s"scd2_materialization/null_key_raw_$i.csv")
      .select(
        col("customer_id").cast("int"),
        col("region"), col("status"), tsCol("_updated_at"))

  private val nkCfg = ScdConfig(uniqueKey = Seq("customer_id", "region"))

  test("NULL-bearing composite key matches itself null-safely") {
    // null_key_scd2.sql:8-25: without the md5-hash key match, (1, NULL)'s
    // prior version is never pulled and its current row never expired.
    val t1 = Scd2.initialLoad(nullKey(1), nkCfg)
    val t2 = Scd2.incremental(t1, nullKey(2), nkCfg).cache()
    assertInvariantsGreen(t2, nkCfg)

    val k1 = t2.filter(col("customer_id") === 1 && col("region").isNull)
      .orderBy("_valid_from").collect()
    assert(k1.length === 2, "NULL-key history must gain the new version")
    assert(k1.map(_.getAs[Boolean]("_is_current")).toSeq === Seq(false, true))
    assert(k1.last.getAs[String]("status") === "suspended")

    // unchanged key (2, US) re-sent identically: still exactly one row
    assert(t2.filter(col("customer_id") === 2).count() === 1)
  }

  private def ooo(i: Int): DataFrame =
    seed(s"scd2_materialization/ooo_backfill_raw_$i.csv")
      .select(
        col("customer_id").cast("int"),
        col("customer_name"), col("email"), col("status"),
        tsCol("deleted_at"), tsCol("_created_at"), tsCol("_updated_at"))

  // the reference's ooo model excludes _created_at from change detection
  // (`ooo_backfill_scd2.sql:5-9`) — the backfilled row differs ONLY there
  private val oooCfg = bdCfg.copy(changeExclude = Seq("_created_at"))

  test("out-of-order backfill with identical content collapses to one version") {
    // ooo_backfill_scd2.sql:14-23: identical content, EARLIER updated_at,
    // arriving later. The run collapses to its earliest row; the persisted
    // 01-10 version is deleted as redundant. Exactly one current row remains.
    val t1 = Scd2.initialLoad(ooo(1), oooCfg)
    val t2 = Scd2.incremental(t1, ooo(2), oooCfg).cache()
    assertInvariantsGreen(t2, oooCfg)

    val k99 = rowsFor(t2, 99)
    assert(k99.length === 1)
    assert(k99.head.getAs[Boolean]("_is_current"))
    assert(k99.head.getAs[java.sql.Timestamp]("_updated_at") === ts("2024-01-05 10:00:00"))
  }

  test("non-collapse mode retains already-persisted versions") {
    val cfg = oooCfg.copy(collapseRedundantVersions = false)
    val t1 = Scd2.initialLoad(ooo(1), cfg)
    val t2 = Scd2.incremental(t1, ooo(2), cfg).cache()
    // both versions survive (the backfilled run opener + the persisted row),
    // re-expired into a consistent timeline
    val k99 = rowsFor(t2, 99)
    assert(k99.length === 2)
    assert(k99.count(_.getAs[Boolean]("_is_current")) === 1)
    assertInvariantsGreen(t2, cfg)
  }

  private def hasLogicalRdd(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r }.isDefined

  test("building the merge source runs no Spark job and plans no materialized leaf") {
    val session = spark
    import session.implicits._
    def rows(r: Seq[(Int, String, String, String)]): DataFrame =
      r.map { case (k, v, u, l) => (k, v, ts(u), ts(l)) }
        .toDF("k", "v", "_updated_at", "_loaded_at")
    val history = rows(Seq(
      (1, "a", "2025-01-01 00:00:00", "2025-01-01 00:00:00"),
      (1, "b", "2025-01-03 00:00:00", "2025-01-03 00:00:00"),
      (2, "a", "2025-01-01 00:00:00", "2025-01-01 00:00:00")))
    // a back-dated copy of key 1's persisted content (collapses it) and a
    // new key
    val batch = rows(Seq(
      (1, "a", "2024-12-31 00:00:00", "2025-02-01 00:00:00"),
      (3, "c", "2025-01-02 00:00:00", "2025-02-01 00:00:00")))
    // the load watermark orders run winners; it is not content
    val collapse = ScdConfig(uniqueKey = Seq("k"), changeExclude = Seq("_loaded_at"))
    // all three keep rules: loaded_at run winner, run opener, non-collapse
    for ((cfg, keepLoadedAt) <- Seq(
           (collapse, true), (collapse, false),
           (collapse.copy(collapseRedundantVersions = false), false))) {
      def shape(df: DataFrame) = if (keepLoadedAt) df else df.drop("_loaded_at")
      val target = Scd2.initialLoad(shape(history), cfg)
      val (merged, jobs) = jobsDuring(Scd2.incremental(target, shape(batch), cfg))
      val mode = s"collapse=${cfg.collapseRedundantVersions} loaded_at=$keepLoadedAt"
      assert(jobs === 0, s"$mode: construction ran $jobs jobs")
      assert(!hasLogicalRdd(merged), s"$mode: LogicalRDD in the merge plan")
      assertInvariantsGreen(merged, cfg)
      // key 1's back-dated copy of content 'a': collapsing keeps one version
      // of the run (the 01-01 row under loaded_at, the back-dated opener
      // otherwise); non-collapse keeps both
      val k1 = merged.filter(col("k") === 1).orderBy("_updated_at")
        .select(col("_updated_at")).as[java.sql.Timestamp].collect().toSeq
      val expected =
        if (!cfg.collapseRedundantVersions)
          Seq("2024-12-31 00:00:00", "2025-01-01 00:00:00", "2025-01-03 00:00:00")
        else if (keepLoadedAt) Seq("2025-01-01 00:00:00", "2025-01-03 00:00:00")
        else Seq("2024-12-31 00:00:00", "2025-01-03 00:00:00")
      assert(k1 === expected.map(ts), mode)
    }
  }

  test("the timeline's windows share the input's business-key exchange") {
    val session = spark
    import session.implicits._
    // the q27 shape: input hash-partitioned on the key; every window of the
    // load reuses it, and the audit windows reuse the dedup window's sort
    val in = Seq((1, "a", ts("2025-01-01 00:00:00")), (1, "b", ts("2025-01-02 00:00:00")),
                 (2, "a", ts("2025-01-01 00:00:00")))
      .toDF("k", "v", "_updated_at").repartition(4, col("k"))
    val plan = Scd2.initialLoad(in, ScdConfig(uniqueKey = Seq("k")))
      .queryExecution.executedPlan.toString
    assert("Exchange ".r.findAllIn(plan).size === 1, plan)
    assert("Sort \\[".r.findAllIn(plan).size === 1, plan)
  }

  test("a row back-dated before a key's first version moves that version's start") {
    val session = spark
    import session.implicits._
    // key 1 is stored at 01-05, created 2024-12-01; the batch back-dates a
    // version to 01-02. The stored row stops being the first version, so
    // its _valid_from must become its own updated_at, as a full refresh
    // computes it.
    def rows(r: Seq[(Int, String, String)]): DataFrame =
      r.map { case (k, v, u) => (k, v, ts("2024-12-01 00:00:00"), ts(u)) }
        .toDF("k", "v", "_created_at", "_updated_at")
        .withColumn("deleted_at", lit(null).cast("timestamp"))
    val history = rows(Seq((1, "b", "2025-01-05 00:00:00"), (2, "a", "2025-01-01 00:00:00")))
    val batch = rows(Seq((1, "a", "2025-01-02 00:00:00")))
    val created = ScdConfig(uniqueKey = Seq("k"), createdAtCol = Some("_created_at"))
    for (cfg <- Seq(created, created.copy(deletedAtCol = Some("deleted_at")))) {
      val merged = Scd2.incremental(Scd2.initialLoad(history, cfg), batch, cfg).cache()
      val full = Scd2.initialLoad(history.unionByName(batch), cfg)
      assert(merged.exceptAll(full).count() === 0, s"$cfg: extra rows")
      assert(full.exceptAll(merged).count() === 0, s"$cfg: missing rows")
      assertInvariantsGreen(merged, cfg)
      merged.unpersist()
    }
  }

  test("the incremental merge plans no full-outer join and no version-key exchange") {
    val session = spark
    import session.implicits._
    // the timeline already pairs batch and stored versions; nothing may
    // re-match them on the null-safe (keys, updated_at) identity, whose
    // coalesce/isnull join keys can reuse no business-key exchange
    val cfg = ScdConfig(uniqueKey = Seq("k"))
    val target = Scd2.initialLoad(
      Seq((1, "a", ts("2025-01-01 00:00:00")), (2, "a", ts("2025-01-01 00:00:00")))
        .toDF("k", "v", "_updated_at"), cfg)
    val batch = Seq((1, "b", ts("2025-01-02 00:00:00"))).toDF("k", "v", "_updated_at")
    for (c <- Seq(cfg, cfg.copy(updateAllPreviousRecords = false))) {
      val plan = Scd2.incremental(target, batch, c).queryExecution.executedPlan.toString
      assert(!plan.contains("FullOuter"), plan)
      assert("hashpartitioning\\([^\n]*(coalesce|isnull)\\(_updated_at".r
               .findFirstIn(plan).isEmpty, plan)
    }
  }

  test("a batch row with a NULL updated_at meets its stored NULL twin (update_all off)") {
    val session = spark
    import session.implicits._
    // J2 (new updated_at <= stored _valid_to) is NULL for a NULL updated_at,
    // so it alone never selects the stored (1, NULL) version and the batch
    // row landed beside it: two NULL versions of one key. The reference's
    // MERGE ON matched that version key null-safely; the stored row wins
    // the dedup and the batch row adds nothing.
    val cfg = ScdConfig(uniqueKey = Seq("k"), updateAllPreviousRecords = false)
    val history = Seq((1, "b", null), (1, "a", ts("2025-01-01 00:00:00")),
                      (2, "a", ts("2025-01-01 00:00:00")))
      .toDF("k", "v", "_updated_at")
    val batch = Seq((1, "c", null: java.sql.Timestamp)).toDF("k", "v", "_updated_at")
    val path = java.nio.file.Files.createTempDirectory("graft-null-twin").toString + "/dim"
    ScdEngine.merge(spark, history, path, cfg, numBuckets = Some(8))
    val results = Seq(
      "Scd2.incremental" -> Scd2.incremental(Scd2.initialLoad(history, cfg), batch, cfg),
      "bucketed ScdEngine" ->
        ScdEngine.run(spark, batch, path, cfg, numBuckets = Some(8)).drop(ScdEngine.BucketCol))
    for ((name, merged) <- results) {
      val k1 = merged.filter(col("k") === 1).orderBy(col("_updated_at"))
        .select(col("v"), col("_updated_at")).as[(String, java.sql.Timestamp)].collect().toSeq
      assert(k1 === Seq(("b", null), ("a", ts("2025-01-01 00:00:00"))), name)
    }
  }
}
