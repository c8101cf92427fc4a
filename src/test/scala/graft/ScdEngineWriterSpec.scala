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

  test("bucketed merge into an unbucketed table rewrites it whole") {
    val dir = java.nio.file.Files.createTempDirectory("graft-writer4").toString
    val path = s"$dir/dim"
    val keys = (1 to 20).map(k => (k, "a", ts("2025-01-01 00:00:00")))
      .toDF("k", "v", "_updated_at")
    ScdEngine.merge(spark, keys, path, cfg)
    ScdEngine.merge(spark, batch("b", "2025-01-02 00:00:00"), path, cfg,
                    numBuckets = Some(4))

    val out = spark.read.parquet(path)
    assert(out.count() === 21) // 20 keys + key 1's new version
    assert(out.filter($"k" === 1 && $"_is_current").select("v").as[String]
      .collect().toSeq === Seq("b"))
    val rootParts = new java.io.File(path).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(rootParts.isEmpty, s"root part files left: ${rootParts.toSeq}")
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

  private def rows(v: String, t: String, keys: Int*) =
    keys.map(k => (k, v, ts(t))).toDF("k", "v", "_updated_at")

  // One swap cut off at one rename, then the next merge, run normally.
  private case class CutSwap(name: String, buckets: Option[Int],
                             refuse: (Path, Path) => Boolean, pastCommit: Boolean)

  test("a swap cut off at any of its renames is finished by the next merge") {
    val n = 8
    val bucketOfKey = (1 to n).toDF("k")
      .select($"k", ScdEngine.bucketOf(Seq("k"), n)).as[(Int, Int)].collect().toMap
    // two keys in different buckets, so a merge of both rewrites 2 buckets
    val keys = Seq(1, (2 to n).find(bucketOfKey(_) != bucketOfKey(1)).get)
    def dirOf(k: Int) = s"${ScdEngine.BucketCol}=${bucketOfKey(k)}"
    val bucketCuts = keys.flatMap(k => Seq(
      CutSwap(s"bucket of key $k: live -> .old", Some(n),
              (_, dst) => dst.getParent.getName == "dim.old" && dst.getName == dirOf(k),
              pastCommit = true),
      CutSwap(s"bucket of key $k: .tmp -> live", Some(n),
              (src, _) => src.getParent.getName == "dim.tmp" && src.getName == dirOf(k),
              pastCommit = true)))
    val cuts = Seq(
      CutSwap("whole table: live -> .old", None, (_, dst) => dst.getName == "dim.old",
              pastCommit = false),
      CutSwap("whole table: .tmp -> live", None, (src, _) => src.getName == "dim.tmp",
              pastCommit = true)) ++ bucketCuts
    val failures = cuts.flatMap { cut =>
      var failure = Option.empty[String]
      withNoRenameFs("graft-writer-cut") { (d, root) =>
        // every key of `keys` changes in every batch; one more key only in a
        val all = keys ++ (1 to n).filterNot(keys.contains).take(1)
        val (a, b, c) = (rows("a", "2025-01-01 00:00:00", all: _*),
                         rows("b", "2025-01-02 00:00:00", keys: _*),
                         rows("c", "2025-01-03 00:00:00", keys: _*))
        def merge(df: org.apache.spark.sql.DataFrame) =
          ScdEngine.merge(spark, df, s"$root/dim", cfg, numBuckets = cut.buckets)
        merge(a)
        NoRenameFs.refuse = cut.refuse
        val cutOff = scala.util.Try(merge(b)).failed.toOption
        NoRenameFs.refuse = (_, _) => false
        merge(c)
        val applied = if (cut.pastCommit) Seq(a, b, c) else Seq(a, c)
        val want = operators.Scd2.initialLoad(applied.reduce(_ union _), cfg)
        val got = spark.read.parquet(s"$d/dim").drop(ScdEngine.BucketCol)
          .select(want.columns.map(col): _*)
        val violations = ScdInvariants.report(got, cfg).filter($"violations" > 0)
          .as[(String, Long)].collect()
        val problems = Seq(
          Option.when(!cutOff.exists(_.isInstanceOf[java.io.IOException]))(
            s"merge of b did not throw at the refused rename: $cutOff"),
          Option.when(got.count() != want.count())(
            s"${got.count()} rows where there should be ${want.count()}"),
          Option.when(!got.exceptAll(want).isEmpty || !want.exceptAll(got).isEmpty)(
            "table differs from Scd2.initialLoad over the applied batches"),
          Option.when(violations.nonEmpty)(s"invariant violations ${violations.toSeq}"),
          Option.when(new java.io.File(s"$d/dim.tmp").exists ||
                      new java.io.File(s"$d/dim.old").exists)(".tmp or .old left behind")
        ).flatten
        if (problems.nonEmpty) failure = Some(s"${cut.name}: ${problems.mkString("; ")}")
      }
      failure
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("runWithCdc after a cut-off swap emits the uninterrupted changelog") {
    withNoRenameFs("graft-writer-cdc") { (d, root) =>
      val batches = Seq("a", "b", "c").zipWithIndex
        .map { case (v, i) => batch(v, s"2025-01-0${i + 1} 00:00:00") }
      for ((b, i) <- batches.zipWithIndex)
        ScdEngine.runWithCdc(spark, b, s"$d/ref", s"$d/ref_cdc", i.toLong, cfg)
      ScdEngine.merge(spark, batches(0), s"$root/dim", cfg)
      NoRenameFs.refuse = (src, _) => src.getName == "dim.tmp"
      intercept[java.io.IOException](ScdEngine.merge(spark, batches(1), s"$root/dim", cfg))
      NoRenameFs.refuse = (_, _) => false
      ScdEngine.runWithCdc(spark, batches(2), s"$root/dim", s"$d/dim_cdc", 2L, cfg)
      val want = spark.read.parquet(s"$d/ref_cdc").filter($"_batch_id" === 2)
      val got = spark.read.parquet(s"$d/dim_cdc").select(want.columns.map(col): _*)
      assert(want.count() === 2) // b's version closed, c's inserted
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"changelog:\n${got.collect().mkString("\n")}\nwanted:\n${want.collect().mkString("\n")}")
    }
  }

  test("runWithCdc cut off at any rename keeps its run's changelog once replayed") {
    val n = 8
    val bucketOfKey = (1 to n).toDF("k")
      .select($"k", ScdEngine.bucketOf(Seq("k"), n)).as[(Int, Int)].collect().toMap
    // two keys in different buckets, so a run over both stages 2 buckets
    val keys = Seq(1, (2 to n).find(bucketOfKey(_) != bucketOfKey(1)).get)
    def dirOf(k: Int) = s"${ScdEngine.BucketCol}=${bucketOfKey(k)}"
    val cuts = Seq(
      CutSwap("whole table: live -> .old", None, (_, dst) => dst.getName == "dim.old",
              pastCommit = false),
      CutSwap("whole table: .tmp -> live", None, (src, _) => src.getName == "dim.tmp",
              pastCommit = true)) ++ keys.flatMap(k => Seq(
      CutSwap(s"bucket of key $k: live -> .old", Some(n),
              (_, dst) => dst.getParent.getName == "dim.old" && dst.getName == dirOf(k),
              pastCommit = true),
      CutSwap(s"bucket of key $k: .tmp -> live", Some(n),
              (src, _) => src.getParent.getName == "dim.tmp" && src.getName == dirOf(k),
              pastCommit = true)))
    val failures = cuts.flatMap { cut =>
      var failure = Option.empty[String]
      withNoRenameFs("graft-writer-cdc-cut") { (d, root) =>
        val all = keys ++ (1 to n).filterNot(keys.contains).take(1)
        val (a, b) = (rows("a", "2025-01-01 00:00:00", all: _*),
                      rows("b", "2025-01-02 00:00:00", keys: _*))
        def runCdc(table: String, df: org.apache.spark.sql.DataFrame, runId: Long) =
          ScdEngine.runWithCdc(spark, df, table, s"$d/${new Path(table).getName}_cdc", runId,
                               cfg, numBuckets = cut.buckets)
        // the uninterrupted runs, then the same runs with b's cut off and
        // replayed under its run id
        for ((df, i) <- Seq(a, b).zipWithIndex) runCdc(s"$d/ref", df, i.toLong)
        runCdc(s"$root/dim", a, 0L)
        NoRenameFs.refuse = cut.refuse
        val cutOff = scala.util.Try(runCdc(s"$root/dim", b, 1L)).failed.toOption
        NoRenameFs.refuse = (_, _) => false
        runCdc(s"$root/dim", b, 1L)
        def changelog(table: String) = spark.read.parquet(s"$d/${table}_cdc")
          .dropDuplicates("_batch_id", "k", "_updated_at").collect().toSet
        val (want, got) = (changelog("ref"), changelog("dim"))
        val problems = Seq(
          Option.when(!cutOff.exists(_.isInstanceOf[java.io.IOException]))(
            s"run of b did not throw at the refused rename: $cutOff"),
          Option.when(got != want)(
            s"changelog:\n${got.mkString("\n")}\nwanted:\n${want.mkString("\n")}")
        ).flatten
        if (problems.nonEmpty) failure = Some(s"${cut.name}: ${problems.mkString("; ")}")
      }
      failure
    }
    assert(failures.isEmpty, failures.mkString("\n"))
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
