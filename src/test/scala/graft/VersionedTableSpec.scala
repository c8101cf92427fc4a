package graft

import org.apache.spark.sql.functions._

/** Versioned-snapshot layout: publish/read/time-travel/rollback/vacuum, and
  * an SCD run sequence whose versions replay history.
  */
class VersionedTableSpec extends SparkTestBase {

  test("publish, latest read, time travel, rollback, vacuum") {
    val session = spark
    import session.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-vt").toString + "/t"

    assert(VersionedTable.latestVersion(spark, root).isEmpty)
    val v1 = VersionedTable.publish(spark, Seq((1, "a")).toDF("id", "x"), root)
    val v2 = VersionedTable.publish(spark, Seq((1, "b")).toDF("id", "x"), root)
    assert((v1, v2) === ((1L, 2L)))
    assert(VersionedTable.read(spark, root).select("x").as[String].head() === "b")
    assert(VersionedTable.readVersion(spark, root, 1)
      .select("x").as[String].head() === "a")

    VersionedTable.rollback(spark, root, 1)
    assert(VersionedTable.latestVersion(spark, root) === Some(1L))
    assert(VersionedTable.read(spark, root).select("x").as[String].head() === "a")

    // next publish claims version 2 again (rolled-back dir is reclaimed)
    val v2b = VersionedTable.publish(spark, Seq((1, "c")).toDF("id", "x"), root)
    assert(v2b === 2L)
    assert(VersionedTable.read(spark, root).select("x").as[String].head() === "c")

    val v3 = VersionedTable.publish(spark, Seq((1, "d")).toDF("id", "x"), root)
    // a stray directory whose name is not a version number: vacuum
    // leaves it alone
    new java.io.File(s"$root/v=old").mkdirs()
    VersionedTable.vacuum(spark, root, keep = 1)
    assert(VersionedTable.latestVersion(spark, root) === Some(v3))
    assert(new java.io.File(s"$root/v=old").isDirectory)
    intercept[IllegalArgumentException] {
      VersionedTable.readVersion(spark, root, 2)
    }
  }

  test("crashed (uncommitted) publish attempts are invisible and reclaimed") {
    val session = spark
    import session.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-vt3").toString + "/t"
    VersionedTable.publish(spark, Seq((1, "a")).toDF("id", "x"), root)
    // simulate a writer that died after data landed but before the marker
    Seq((1, "half-written")).toDF("id", "x")
      .write.mode("overwrite").parquet(s"$root/v=2")
    assert(VersionedTable.latestVersion(spark, root) === Some(1L))
    assert(VersionedTable.read(spark, root).select("x").as[String].head() === "a")
    // the next publish reclaims the debris and commits version 2 properly
    val v2 = VersionedTable.publish(spark, Seq((1, "b")).toDF("id", "x"), root)
    assert(v2 === 2L)
    assert(VersionedTable.read(spark, root).select("x").as[String].head() === "b")
    // vacuum drops any remaining uncommitted directories
    Seq((9, "junk")).toDF("id", "x").write.parquet(s"$root/v=9")
    VersionedTable.vacuum(spark, root, keep = 2)
    assert(!new java.io.File(s"$root/v=9").exists())
    assert(VersionedTable.latestVersion(spark, root) === Some(2L))
  }

  test("runScd: versioned run sequence converges to the batch full refresh") {
    val session = spark
    import session.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-vt2").toString + "/dim"
    val cfg = ScdConfig(uniqueKey = Seq("customer_id"))

    val batches = Seq(
      Seq((1L, "new", ts("2025-01-01 00:00:00")),
          (2L, "new", ts("2025-01-01 01:00:00"))),
      Seq((1L, "active", ts("2025-01-02 00:00:00"))),
      // out-of-order backfill between key 1's versions
      Seq((1L, "pending", ts("2025-01-01 12:00:00"))))

    batches.foreach { b =>
      VersionedTable.runScd(
        spark, b.toDF("customer_id", "status", "_updated_at"), root, cfg)
    }
    assert(VersionedTable.latestVersion(spark, root) === Some(3L))

    val streamed = VersionedTable.read(spark, root)
    val full = operators.Scd2.initialLoad(
      batches.flatten.toDF("customer_id", "status", "_updated_at"), cfg)
    assert(streamed.exceptAll(full).count() === 0)
    assert(full.exceptAll(streamed).count() === 0)

    // every intermediate version is still queryable (time travel)
    assert(VersionedTable.readVersion(spark, root, 1).count() === 2)
    assert(VersionedTable.readVersion(spark, root, 2)
      .filter($"customer_id" === 1).count() === 2)

    // append_new_columns: a batch carrying a new column widens the history
    // (NULL for earlier versions) instead of failing column resolution
    val cfgE = cfg.copy(onSchemaChange = "append_new_columns")
    val widened = Seq((2L, "active", ts("2025-01-03 00:00:00"), "gold"),
                      (1L, "pending", ts("2025-01-01 18:00:00"), "silver"))
      .toDF("customer_id", "status", "_updated_at", "tier")
    VersionedTable.runScd(spark, widened, root, cfgE)
    assert(VersionedTable.latestVersion(spark, root) === Some(4L))
    val evolved = VersionedTable.read(spark, root)
    val fullE = operators.Scd2.initialLoad(
      batches.flatten.toDF("customer_id", "status", "_updated_at")
        .withColumn("tier", lit(null).cast("string"))
        .unionByName(widened), cfgE)
      .select(evolved.columns.toSeq.map(col): _*)
    assert(evolved.exceptAll(fullE).count() === 0)
    assert(fullE.exceptAll(evolved).count() === 0)
  }
}
