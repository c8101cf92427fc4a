package graft

/** Config-surface parity: legacy change-column aliases and
  * incremental_predicates (reference `scd_plan.sql:192-201,276`).
  */
class ConfigParitySpec extends SparkTestBase {

  import spark.implicits._

  test("legacy aliases feed change detection when primary spellings unset") {
    val cols = Seq("k", "a", "b", "c", "_updated_at")
    val legacy = ScdConfig(uniqueKey = Seq("k"),
                           scdCheckColumns = Some(Seq("a", "b")),
                           excludeColumnsFromChangeCheck = Seq("b"))
    assert(legacy.checkColumns(cols) === Seq("a"))
    // primary spellings win over legacy
    val both = legacy.copy(changeInclude = Some(Seq("c")), changeExclude = Seq("a"))
    assert(both.checkColumns(cols) === Seq("c"))
  }

  test("incremental_predicates: out-of-scope target rows pass through unchanged") {
    val cfg = ScdConfig(uniqueKey = Seq("k"),
                        incrementalPredicates = Seq("k >= 100"))
    val dir = java.nio.file.Files.createTempDirectory("graft-pred").toString
    val path = s"$dir/dim"
    val b1 = Seq((1, "old", ts("2025-01-01 00:00:00")),
                 (100, "old", ts("2025-01-01 00:00:00"))).toDF("k", "v", "_updated_at")
    ScdEngine.run(spark, b1, path, cfg)
    // the batch touches only in-scope keys (the caller's contract); the
    // out-of-scope k=1 history must pass through byte-identical
    val b2 = Seq((100, "new", ts("2025-01-02 00:00:00"))).toDF("k", "v", "_updated_at")
    val out = ScdEngine.run(spark, b2, path, cfg)
    assert(out.filter($"k" === 1).count() === 1) // unchanged single version
    assert(out.filter($"k" === 1 && $"v" === "old" && $"_is_current").count() === 1)
    assert(out.filter($"k" === 100).count() === 2) // merged normally
    assert(out.filter($"k" === 100 && $"v" === "new" && $"_is_current").count() === 1)
  }

  test("update_all_previous_records=false keeps persisted change_type (documented trade-off)") {
    val base = ScdConfig(uniqueKey = Seq("k"))
    val cfg = base.copy(updateAllPreviousRecords = false)
    val target = operators.Scd2.initialLoad(
      Seq((1, "b", ts("2025-01-03 00:00:00")),
          (1, "c", ts("2025-01-05 00:00:00"))).toDF("k", "v", "_updated_at"),
      base).localCheckpoint()
    val delta = Seq((1, "a", ts("2025-01-01 00:00:00")))
      .toDF("k", "v", "_updated_at")

    // default config: the backfill re-slots cleanly, old first row -> 'U'
    val full = operators.Scd2.incremental(target, delta, base)
      .orderBy("_valid_from").select("_change_type").as[String].collect()
    assert(full.toSeq === Seq("I", "U", "U"))

    // pruned config: windows/current flags still heal (they are in the
    // merge-update set) but the persisted 'I' is NOT rewritten -> two 'I's,
    // exactly the reference's documented unsafety under out-of-order data
    val out = operators.Scd2.incremental(target, delta, cfg)
      .orderBy("_valid_from").cache()
    assert(out.select("_change_type").as[String].collect().toSeq ===
      Seq("I", "I", "U"))
    assert(out.filter($"_is_current").count() === 1)
    val bounds = out.select("_valid_from", "_valid_to").collect()
    assert(bounds(0).getTimestamp(1) === bounds(1).getTimestamp(0)) // healed chain

    // with a configured created_at, the stored first version's start is
    // kept too (outside the pruned merge-update set), while the default
    // config recomputes it from the key's whole history
    val created = base.copy(createdAtCol = Some("_created_at"))
    val withCreated = operators.Scd2.initialLoad(
      Seq((1, "b", ts("2024-12-01 00:00:00"), ts("2025-01-03 00:00:00")),
          (1, "c", ts("2024-12-01 00:00:00"), ts("2025-01-05 00:00:00")))
        .toDF("k", "v", "_created_at", "_updated_at"),
      created).localCheckpoint()
    val early = Seq((1, "a", ts("2024-12-01 00:00:00"), ts("2025-01-01 00:00:00")))
      .toDF("k", "v", "_created_at", "_updated_at")
    def startOfB(c: ScdConfig) = operators.Scd2.incremental(withCreated, early, c)
      .filter($"v" === "b").select("_valid_from").as[java.sql.Timestamp].collect().toSeq
    assert(startOfB(created.copy(updateAllPreviousRecords = false)) ===
      Seq(ts("2024-12-01 00:00:00")))
    assert(startOfB(created) === Seq(ts("2025-01-03 00:00:00")))
  }

  test("scd1 merges NULL-bearing keys null-safely (documented divergence)") {
    // The reference merges types 0/1 on raw `=` and silently duplicates NULL
    // keys (SURVEY.md §7.4.4); we use <=> so all three types agree.
    val cfg = ScdConfig(uniqueKey = Seq("k1", "k2"), scdType = 1)
    val t = Seq((Some(1), Option.empty[Int], "old", ts("2025-01-01 00:00:00")))
      .toDF("k1", "k2", "v", "_updated_at")
    val target = operators.Scd01.initialLoad(t, cfg)
    val d = Seq((Some(1), Option.empty[Int], "new", ts("2025-01-02 00:00:00")))
      .toDF("k1", "k2", "v", "_updated_at")
    val out = operators.Scd01.incremental(target, d, cfg)
    assert(out.count() === 1) // matched, not duplicated
    assert(out.head().getAs[String]("v") === "new")
  }
}
