package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path

/** Multi-table transaction layer over the versioned layout: all-or-nothing
  * visibility across tables, write-ahead txn file as the commit point,
  * marker repair after partial crashes.
  */
class VersionedTxnSpec extends SparkTestBase {

  import spark.implicits._

  private def tmp() = Files.createTempDirectory("vt_txn").toString

  test("publishAll: pair becomes visible together; single-table read works") {
    val base = tmp()
    VersionedTable.publishAll(spark, Seq(
      "cur" -> Seq((1L, "a")).toDF("k", "v"),
      "hist" -> Seq((1L, "a", 1), (1L, "a0", 0)).toDF("k", "v", "ver")), base)
    val t = VersionedTable.readAllLatest(spark, base)
    assert(t.keySet === Set("cur", "hist"))
    assert(t("cur").count() === 1L && t("hist").count() === 2L)
    // per-table markers were fanned out, so the single-table API agrees
    assert(VersionedTable.read(spark, s"$base/cur").count() === 1L)
    assert(VersionedTable.latestVersion(spark, s"$base/hist") === Some(1L))
    // an all-digit txn name past Long range is skipped, not a crash
    Files.createFile(java.nio.file.Paths.get(s"$base/_txn/99999999999999999999"))
    assert(VersionedTable.readAllLatest(spark, base)("hist").count() === 2L)
  }

  test("crash BEFORE the txn file: readers stay on the previous pair") {
    val base = tmp()
    VersionedTable.publishAll(spark, Seq(
      "cur" -> Seq((1L, "a")).toDF("k", "v"),
      "hist" -> Seq((1L, "a")).toDF("k", "v")), base)
    // Simulate a writer that landed both data dirs and died before the
    // txn commit: bare v=2 directories, no txn file, no markers.
    Seq((9L, "z")).toDF("k", "v").write.parquet(s"$base/cur/v=2")
    Seq((9L, "z")).toDF("k", "v").write.parquet(s"$base/hist/v=2")
    val t = VersionedTable.readAllLatest(spark, base)
    assert(t("cur").as[(Long, String)].collect().toSet === Set((1L, "a")))
    assert(VersionedTable.latestVersion(spark, s"$base/cur") === Some(1L))
    // The next successful publishAll must NOT reuse the crashed v=2 dirs.
    VersionedTable.publishAll(spark, Seq(
      "cur" -> Seq((2L, "b")).toDF("k", "v"),
      "hist" -> Seq((2L, "b")).toDF("k", "v")), base)
    assert(VersionedTable.latestVersion(spark, s"$base/cur") === Some(3L))
    assert(VersionedTable.readAllLatest(spark, base)("cur")
      .as[(Long, String)].collect().toSet === Set((2L, "b")))
  }

  test("crash AFTER the txn file: txn readers consistent, repair converges") {
    val base = tmp()
    VersionedTable.publishAll(spark, Seq(
      "cur" -> Seq((1L, "a")).toDF("k", "v"),
      "hist" -> Seq((1L, "a")).toDF("k", "v")), base)
    // Hand-craft txn 2: data dirs + txn file, NO per-table markers — the
    // exact state publishAll leaves if it dies inside marker fan-out.
    Seq((2L, "b")).toDF("k", "v").write.parquet(s"$base/cur/v=2")
    Seq((2L, "b")).toDF("k", "v").write.parquet(s"$base/hist/v=2")
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(s"$base/_txn/2"), false)
    out.write("cur 2\nhist 2".getBytes("UTF-8")); out.close()
    // Txn readers already see the new pair (the txn file IS the commit)...
    val t = VersionedTable.readAllLatest(spark, base)
    assert(t("cur").as[(Long, String)].collect().toSet === Set((2L, "b")))
    // ...single-table readers lag on v=1 until repair, never half-new.
    assert(VersionedTable.latestVersion(spark, s"$base/cur") === Some(1L))
    VersionedTable.recoverMarkers(spark, base)
    assert(VersionedTable.latestVersion(spark, s"$base/cur") === Some(2L))
    assert(VersionedTable.read(spark, s"$base/cur")
      .as[(Long, String)].collect().toSet === Set((2L, "b")))
  }

  test("publishAll rejects duplicate or path-unsafe table names") {
    val base = tmp()
    val df = Seq((1L, "a")).toDF("k", "v")
    intercept[IllegalArgumentException] {
      VersionedTable.publishAll(spark, Seq("t" -> df, "t" -> df), base)
    }
    intercept[IllegalArgumentException] {
      VersionedTable.publishAll(spark, Seq("a/b" -> df), base)
    }
  }
}
