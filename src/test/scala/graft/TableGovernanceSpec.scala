package graft

import org.apache.spark.sql.functions._

/** Timestamp time travel (data-time stamps) and CHECK-constrained
  * publish on the versioned table.
  */
class TableGovernanceSpec extends SparkTestBase {

  import spark.implicits._

  test("readAsOf resolves the newest stamp <= asOf; stamps cannot regress") {
    val root = java.nio.file.Files.createTempDirectory("tg1").toString + "/t"
    VersionedTable.publishStamped(spark, Seq((1L, "a")).toDF("id", "x"),
                                  root, 100L)
    VersionedTable.publishStamped(spark, Seq((1L, "b")).toDF("id", "x"),
                                  root, 200L)
    VersionedTable.publishStamped(spark, Seq((1L, "c")).toDF("id", "x"),
                                  root, 200L) // equal stamp allowed
    def at(ts: Long) = VersionedTable.readAsOf(spark, root, ts)
      .select("x").as[String].head()
    assert(at(100L) === "a")
    assert(at(150L) === "a")
    assert(at(200L) === "c") // newest version wins among equal stamps
    assert(at(9999L) === "c")
    intercept[IllegalStateException] { VersionedTable.readAsOf(spark, root, 50L) }
    intercept[IllegalArgumentException] {
      VersionedTable.publishStamped(spark, Seq((1L, "d")).toDF("id", "x"),
                                    root, 150L)
    }
  }

  test("publishChecked rejects whole snapshots and reports per-check counts") {
    val root = java.nio.file.Files.createTempDirectory("tg2").toString + "/t"
    val checks = Seq("pos" -> (col("v") > 0L),
                     "named" -> col("x").isNotNull)
    val bad = Seq((1L, "a"), (-2L, "b"), (-3L, null))
      .toDF("v", "x")
    val res = VersionedTable.publishChecked(spark, bad, root, checks)
    assert(res === Left(Seq("pos" -> 2L, "named" -> 1L)))
    assert(VersionedTable.latestVersion(spark, root).isEmpty)

    val ok = Seq((1L, "a"), (2L, "b")).toDF("v", "x")
    assert(VersionedTable.publishChecked(spark, ok, root, checks)
      === Right(1L))
    assert(VersionedTable.read(spark, root).count() === 2L)
    // NULL check results count as violations, not passes
    val nully = Seq((1L, "a")).toDF("v", "x")
      .withColumn("v", lit(null).cast("long"))
    assert(VersionedTable.publishChecked(spark, nully, root, checks)
      === Left(Seq("pos" -> 1L)))
  }

  test("version resolution reads the _MANIFEST, not the root listing; listing is the legacy fallback") {
    val root = java.nio.file.Files.createTempDirectory("tg3").toString + "/t"
    VersionedTable.publish(spark, Seq((1L, "a")).toDF("id", "x"), root)
    VersionedTable.publish(spark, Seq((1L, "b")).toDF("id", "x"), root)
    assert(VersionedTable.latestVersion(spark, root) === Some(2L))

    // plant a committed-LOOKING v3 that no commit path produced (it is in
    // the listing but NOT in the manifest): a manifest-driven reader must
    // ignore it — this is what makes reads independent of (slow,
    // eventually-consistent) object-store listings
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq((9L, "z")).toDF("id", "x").write.parquet(s"$root/v=3")
    fs.create(new org.apache.hadoop.fs.Path(s"$root/v=3/_COMMITTED"), true)
      .close()
    assert(VersionedTable.latestVersion(spark, root) === Some(2L))
    assert(VersionedTable.read(spark, root).select("x")
      .as[String].head() === "b")

    // deleting the manifest falls back to the listing (legacy tables),
    // which then sees the planted version — and skips a planted directory
    // whose name is not a version number
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/v=old"))
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/_MANIFEST"), false)
    assert(VersionedTable.latestVersion(spark, root) === Some(3L))

    // a crash between manifest and marker: candidate listed in the
    // manifest but uncommitted is filtered out, and its number is
    // reclaimed by the next publish
    val root2 = java.nio.file.Files.createTempDirectory("tg3b").toString + "/t"
    VersionedTable.publish(spark, Seq((1L, "a")).toDF("id", "x"), root2)
    Seq((9L, "crash")).toDF("id", "x").write.parquet(s"$root2/v=2")
    val fs2 = new org.apache.hadoop.fs.Path(root2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs2.create(
      new org.apache.hadoop.fs.Path(s"$root2/_MANIFEST"), true)
    out.write("1\n2".getBytes("UTF-8")); out.close()
    assert(VersionedTable.latestVersion(spark, root2) === Some(1L))
    VersionedTable.publish(spark, Seq((2L, "b")).toDF("id", "x"), root2)
    assert(VersionedTable.latestVersion(spark, root2) === Some(2L))
    assert(VersionedTable.read(spark, root2).select("x")
      .as[String].head() === "b")
  }

  test("every commit is stamped: readAsOf(T) answers never change retroactively") {
    val root = java.nio.file.Files.createTempDirectory("tg4").toString + "/t"
    VersionedTable.publishStamped(spark, Seq((1L, "a")).toDF("id", "x"),
                                  root, 100L)
    val before = VersionedTable.readAsOf(spark, root, 150L)
      .select("x").as[String].head()
    // an UNSTAMPED publish used to inherit stamp 100 backwards, making
    // readAsOf(150) retroactively return "b" — now it gets its own
    // monotone default stamp (>= wall clock >> 150)
    VersionedTable.publish(spark, Seq((1L, "b")).toDF("id", "x"), root)
    val after = VersionedTable.readAsOf(spark, root, 150L)
      .select("x").as[String].head()
    assert(before === "a" && after === "a")
    // the unstamped commit is still visible to readAsOf at/after its own
    // default stamp (and to plain read)
    assert(VersionedTable.readAsOf(spark, root,
      System.currentTimeMillis() + 3600000L).select("x")
      .as[String].head() === "b")
    assert(VersionedTable.read(spark, root).select("x")
      .as[String].head() === "b")

    // a multi-table transaction stamps its versions too: without a stamp
    // the publishAll version would inherit 100 and answer readAsOf(150)
    val base = java.nio.file.Files.createTempDirectory("tg4b").toString
    VersionedTable.publishStamped(spark, Seq((1L, "a")).toDF("id", "x"),
                                  s"$base/a", 100L)
    VersionedTable.publishAll(spark,
      Seq("a" -> Seq((1L, "t")).toDF("id", "x")), base)
    assert(VersionedTable.read(spark, s"$base/a").select("x")
      .as[String].head() === "t")
    assert(VersionedTable.readAsOf(spark, s"$base/a", 150L).select("x")
      .as[String].head() === "a")
  }
}
