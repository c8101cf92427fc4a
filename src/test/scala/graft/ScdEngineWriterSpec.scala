package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Merge-writer robustness (SURVEY.md §7.4.1): the write-new-dir-and-swap
  * must tolerate debris from a previous crashed run and never leave the
  * target in a mixed state after a successful run.
  */
class ScdEngineWriterSpec extends SparkTestBase {

  import spark.implicits._

  private val cfg = ScdConfig(uniqueKey = Seq("k"))

  private def batch(v: String, t: String) =
    Seq((1, v, ts(t))).toDF("k", "v", "_updated_at")

  test("leftover .tmp/.old dirs from a crashed run are ignored and cleaned") {
    val dir = java.nio.file.Files.createTempDirectory("graft-writer").toString
    val path = s"$dir/dim"
    ScdEngine.run(spark, batch("a", "2025-01-01 00:00:00"), path, cfg)

    // simulate a crash that left stale swap debris with bogus content
    for (suffix <- Seq(".tmp", ".old")) {
      val debris = new java.io.File(path + suffix)
      debris.mkdirs()
      java.nio.file.Files.writeString(
        new java.io.File(debris, "garbage.parquet").toPath, "not parquet")
    }

    val out = ScdEngine.run(spark, batch("b", "2025-01-02 00:00:00"), path, cfg)
    assert(out.count() === 2)
    assert(out.filter($"_is_current" && $"v" === "b").count() === 1)
    assert(!new java.io.File(path + ".tmp").exists())
    assert(!new java.io.File(path + ".old").exists())
  }

  test("full refresh replaces history; target readable after every run") {
    val dir = java.nio.file.Files.createTempDirectory("graft-writer2").toString
    val path = s"$dir/dim"
    ScdEngine.run(spark, batch("a", "2025-01-01 00:00:00"), path, cfg)
    ScdEngine.run(spark, batch("b", "2025-01-02 00:00:00"), path, cfg)
    val refreshed = ScdEngine.run(spark, batch("z", "2025-03-01 00:00:00"),
                                  path, cfg, fullRefresh = true)
    assert(refreshed.count() === 1)
    assert(refreshed.head().getAs[String]("v") === "z")
  }

  test("bucketed layout: untouched bucket files are not rewritten") {
    val dir = java.nio.file.Files.createTempDirectory("graft-writer3").toString
    val path = s"$dir/dim"
    val b1 = Seq((1, "a", ts("2025-01-01 00:00:00")),
                 (2, "a", ts("2025-01-01 00:00:00")),
                 (3, "a", ts("2025-01-01 00:00:00"))).toDF("k", "v", "_updated_at")
    ScdEngine.run(spark, b1, path, cfg, numBuckets = Some(8))

    val bucketDirs = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith(s"${ScdEngine.BucketCol}="))
    assert(bucketDirs.nonEmpty)
    val mtimes = bucketDirs.map(d => d.getName -> d.lastModified()).toMap

    Thread.sleep(1100) // ensure mtime granularity can't mask a rewrite
    // touch ONLY key 2's bucket
    ScdEngine.run(spark, batch("b", "2025-01-02 00:00:00").withColumn("k", lit(2)),
                  path, cfg, numBuckets = Some(8))

    val touched = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith(s"${ScdEngine.BucketCol}="))
      .filter(d => mtimes.get(d.getName).exists(_ != d.lastModified()))
      .map(_.getName)
    // exactly the buckets containing key 2 changed (1 bucket unless collisions)
    assert(touched.length <= 1, s"rewrote too many buckets: ${touched.toSeq}")

    val out = spark.read.parquet(path)
    assert(out.filter($"k" === 2).count() === 2)
    assert(out.filter($"k" =!= 2).count() === 2) // untouched keys intact
  }

  // Runs `body` on a fresh local directory `d`, also addressed through
  // the `norename://` scheme (see [[NoRenameFs]]) as `root`; whatever
  // `body` sets `NoRenameFs.refuse` to is reset afterwards.
  private def withNoRenameFs(name: String)(body: (String, String) => Unit): Unit = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.norename.impl", classOf[NoRenameFs].getName)
    val d = java.nio.file.Files.createTempDirectory(name).toString
    try body(d, s"norename://$d")
    finally NoRenameFs.refuse = (_, _) => false
  }

  private def assertNamesBoth(e: java.io.IOException, src: String,
                              dst: String): Unit =
    assert(e.getMessage.contains(src) && e.getMessage.contains(dst),
      e.getMessage)

  test("refused bucket rename throws; the merged bucket survives in .tmp") {
    withNoRenameFs("graft-writer-norename1") { (d, root) =>
      val keys = Seq(1, 2, 3).map(k => (k, "a", ts("2025-01-01 00:00:00")))
        .toDF("k", "v", "_updated_at")
      ScdEngine.merge(spark, keys, s"$root/dim", cfg, numBuckets = Some(8))
      NoRenameFs.refuse = (src, _) => src.getParent.getName == "dim.tmp"
      val e = intercept[java.io.IOException](ScdEngine.merge(spark,
        batch("b", "2025-01-02 00:00:00").withColumn("k", lit(2)),
        s"$root/dim", cfg, numBuckets = Some(8)))
      assertNamesBoth(e, s"$d/dim.tmp/${ScdEngine.BucketCol}=", s"$d/dim/")
      // key 2's live bucket is gone; its only copy — the old version plus
      // the new one — must still be on disk under .tmp
      val kept = spark.read.parquet(s"$d/dim.tmp")
      assert(kept.filter($"k" === 2).count() === 2)
    }
  }

  test("refused tmp -> target rename throws; .old keeps the previous table") {
    withNoRenameFs("graft-writer-norename2") { (d, root) =>
      ScdEngine.merge(spark, batch("a", "2025-01-01 00:00:00"),
                      s"$root/dim", cfg)
      NoRenameFs.refuse = (src, _) => src.getName == "dim.tmp"
      val e = intercept[java.io.IOException](ScdEngine.merge(spark,
        batch("b", "2025-01-02 00:00:00"), s"$root/dim", cfg))
      assertNamesBoth(e, s"$d/dim.tmp", s"$d/dim")
      assert(spark.read.parquet(s"$d/dim.old").count() === 1)
      assert(spark.read.parquet(s"$d/dim.tmp").count() === 2)
    }
  }

  test("refused target -> .old rename throws; the target stays in place") {
    withNoRenameFs("graft-writer-norename3") { (d, root) =>
      ScdEngine.merge(spark, batch("a", "2025-01-01 00:00:00"),
                      s"$root/dim", cfg)
      NoRenameFs.refuse = (_, dst) => dst.getName == "dim.old"
      val e = intercept[java.io.IOException](ScdEngine.merge(spark,
        batch("b", "2025-01-02 00:00:00"), s"$root/dim", cfg))
      assertNamesBoth(e, s"$d/dim", s"$d/dim.old")
      assert(spark.read.parquet(s"$d/dim").count() === 1)
      assert(spark.read.parquet(s"$d/dim.tmp").count() === 2)
    }
  }
}

/** Local file system under its own `norename` scheme whose `rename`
  * returns false, moving nothing, whenever [[NoRenameFs.refuse]] matches
  * (src, dst) — the failure stores like HDFS report by return value, not
  * by exception.
  */
class NoRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("norename:///")
  override def getScheme: String = "norename"
  override def rename(src: Path, dst: Path): Boolean =
    !NoRenameFs.refuse(src, dst) && super.rename(src, dst)
}

object NoRenameFs {
  @volatile var refuse: (Path, Path) => Boolean = (_, _) => false
}
