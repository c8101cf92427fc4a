package graft

/** `on_schema_change` drift policies (dbt's names) at the engine boundary:
  * the persisted target's schema vs an incoming batch that added or dropped
  * a business column.
  */
class SchemaEvolutionSpec extends SparkTestBase {

  import spark.implicits._

  private def newDim(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-evo-$tag").toString + "/dim"

  private val base = ScdConfig(uniqueKey = Seq("k"))

  private def batch1 =
    Seq((1, "a", ts("2025-01-01 00:00:00")),
        (2, "a", ts("2025-01-01 00:00:00"))).toDF("k", "v", "_updated_at")

  /** Same keys, later versions, plus a brand-new `tier` column. */
  private def batch2Wider =
    Seq((1, "b", 7, ts("2025-01-02 00:00:00")),
        (2, "a", 9, ts("2025-01-02 00:00:00")))
      .toDF("k", "v", "tier", "_updated_at")

  /** Later versions with `v` REMOVED from the source. */
  private def batch2Narrower =
    Seq((1, ts("2025-01-02 00:00:00"))).toDF("k", "_updated_at")

  test("fail (default): drift in either direction throws with column names") {
    val path = newDim("fail")
    ScdEngine.run(spark, batch1, path, base)
    val eWide = intercept[IllegalArgumentException] {
      ScdEngine.run(spark, batch2Wider, path, base)
    }
    assert(eWide.getMessage.contains("tier"))
    val eNarrow = intercept[IllegalArgumentException] {
      ScdEngine.run(spark, batch2Narrower, path, base)
    }
    assert(eNarrow.getMessage.contains("v"))
  }

  test("ignore: target schema wins; new batch column dropped") {
    val path = newDim("ignore")
    val cfg = base.copy(onSchemaChange = "ignore")
    ScdEngine.run(spark, batch1, path, cfg)
    val out = ScdEngine.run(spark, batch2Wider, path, cfg)
    assert(!out.columns.contains("tier"))
    // k=1 changed (a->b) => two versions; k=2 content unchanged once tier is
    // dropped => the redundant version collapses away
    assert(out.filter($"k" === 1).count() === 2)
    assert(out.filter($"k" === 2).count() === 1)
    assert(ScdInvariants.checkAll(out, cfg).filter(_._2 > 0).isEmpty)
  }

  test("append_new_columns: history widens with NULLs, NULL->value is a change") {
    val path = newDim("append")
    val cfg = base.copy(onSchemaChange = "append_new_columns")
    ScdEngine.run(spark, batch1, path, cfg)
    val out = ScdEngine.run(spark, batch2Wider, path, cfg)
    assert(out.columns.contains("tier"))
    // both keys gain a version: k=1 by v-change, k=2 by tier NULL->9
    assert(out.filter($"k" === 1).count() === 2)
    assert(out.filter($"k" === 2).count() === 2)
    val k2 = out.filter($"k" === 2).orderBy("_valid_from").collect()
    assert(k2.head.getAs[Any]("tier") == null)
    assert(k2.last.getAs[Int]("tier") === 9)
    assert(out.filter($"_is_current" && $"k" === 2).head()
      .getAs[Int]("tier") === 9)
    assert(ScdInvariants.checkAll(out, cfg).filter(_._2 > 0).isEmpty)
  }

  test("append_new_columns: column removed from source keeps its history") {
    val path = newDim("removed")
    val cfg = base.copy(onSchemaChange = "append_new_columns")
    ScdEngine.run(spark, batch1, path, cfg)
    val out = ScdEngine.run(spark, batch2Narrower, path, cfg)
    assert(out.columns.contains("v"))
    val k1 = out.filter($"k" === 1).orderBy("_valid_from").collect()
    assert(k1.length === 2)
    assert(k1.head.getAs[String]("v") === "a") // recorded history intact
    assert(k1.last.getAs[String]("v") == null) // new version carries NULL
    assert(ScdInvariants.checkAll(out, cfg).filter(_._2 > 0).isEmpty)
  }

  test("append_new_columns under the bucketed layout rewrites EVERY bucket") {
    val path = newDim("bucketed")
    val cfg = base.copy(onSchemaChange = "append_new_columns")
    ScdEngine.run(spark, batch1, path, cfg, numBuckets = Some(4))
    // The widening batch touches ONLY k=1's bucket. If evolution rode the
    // pruned path, k=2's bucket files would keep the old footer schema and
    // a plain read would resolve `tier` from whichever footer wins —
    // silently dropping the column or the rows' values.
    val widening = Seq((1, "b", 7, ts("2025-01-02 00:00:00")))
      .toDF("k", "v", "tier", "_updated_at")
    val out = ScdEngine.run(spark, widening, path, cfg, numBuckets = Some(4))
    assert(out.columns.contains("tier"))
    assert(out.filter($"k" === 1).count() === 2)
    // untouched key's history is present AND carries the widened column
    assert(out.filter($"k" === 2).count() === 1)
    assert(out.filter($"k" === 2).head().getAs[Any]("tier") == null)
    // every bucket dir's files now share the widened schema: a pruned
    // follow-up merge against an untouched-last-time bucket still works
    val b3 = Seq((2, "z", 5, ts("2025-01-03 00:00:00")))
      .toDF("k", "v", "tier", "_updated_at")
    val out3 = ScdEngine.run(spark, b3, path, cfg, numBuckets = Some(4))
    assert(out3.filter($"k" === 2).count() === 2)
    assert(out3.filter($"_is_current" && $"k" === 2).head()
      .getAs[Int]("tier") === 5)
    assert(ScdInvariants.checkAll(out3, cfg).filter(_._2 > 0).isEmpty)
  }

  test("sync_all_columns is rejected at validate time") {
    intercept[IllegalArgumentException] {
      base.copy(onSchemaChange = "sync_all_columns").validate()
    }
  }
}
