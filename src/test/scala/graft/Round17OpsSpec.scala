package graft

/** Round-12 harness/operator contracts. Starts with the `moved`-detector
  * blind-spot fix (round-11 verdict task 2): the bench must prefer the
  * full, non-truncated side file over the driver's top-80-truncated
  * BENCH_r*.json as the movement-comparison base — otherwise a query that
  * was fast last round (outside the top 80) and slow this round can never
  * be machine-flagged.
  */
class Round17OpsSpec extends SparkTestBase {

  test("priorBenchTxt prefers the full side file over truncated BENCH_r*.json") {
    val dir = java.nio.file.Files.createTempDirectory("benchbase").toFile
    try {
      // truncated driver file: only the slowest entries survive — q704 absent
      val truncated =
        """{"metric":"total","value":700.0,"qshown":2,"queries":{"698":10.5,"224":7.0},"sf":"sf0.1"}"""
      // full side file: every query, including the fast ones
      val full =
        """{"n":761,"sf":"sf0.1","queries":{"698":10.50,"224":7.00,"704":1.50,"701":1.40}}"""
      java.nio.file.Files.write(
        new java.io.File(dir, "BENCH_r10.json").toPath, truncated.getBytes("UTF-8"))
      java.nio.file.Files.write(
        new java.io.File(dir, Bench.FullSideFile).toPath, full.getBytes("UTF-8"))
      val got = Bench.priorBenchTxt(dir)
      assert(got === Some(full), "full side file must win over the truncated driver JSON")

      // and with ONLY the truncated file, it degrades to that (not None)
      java.nio.file.Files.delete(new java.io.File(dir, Bench.FullSideFile).toPath)
      assert(Bench.priorBenchTxt(dir) === Some(truncated))
      // empty dir -> no base
      java.nio.file.Files.delete(new java.io.File(dir, "BENCH_r10.json").toPath)
      assert(Bench.priorBenchTxt(dir) === None)
    } finally {
      Option(dir.listFiles()).getOrElse(Array.empty).foreach(_.delete())
      dir.delete()
    }
  }

  test("movedList over the full base flags a mover the truncated base cannot see") {
    val truncated = """{"queries":{"698":10.5,"224":7.0}}"""
    val full = """{"queries":{"698":10.50,"224":7.00,"704":1.50,"701":1.40}}"""
    // q704 was 1.5 s last round (outside the top 80), 8.2 s now: >1.3x and
    // >0.5 s absolute — a real mover.
    val current = Seq("698" -> 10.6, "224" -> 7.1, "704" -> 8.2, "701" -> 1.5)
    assert(Bench.movedList(truncated, current) === "[]",
      "the truncated base structurally cannot flag q704")
    assert(Bench.movedList(full, current) === """["704"]""")
  }

  test("movedList thresholds: both the ratio AND the absolute gate must trip") {
    val full = """{"queries":{"1":0.2,"2":2.0,"3":1.0}}"""
    // q1: 0.2 -> 0.6 is 3x but only +0.4 s (sub-second jitter) -> not moved
    // q2: 2.0 -> 2.6 is +0.6 s but only 1.3x (not >1.3x)        -> not moved
    // q3: 1.0 -> 1.6 is 1.6x and +0.6 s                          -> moved
    val current = Seq("1" -> 0.6, "2" -> 2.6, "3" -> 1.6)
    assert(Bench.movedList(full, current) === """["3"]""")
  }

  test("planBands: S-curve values and argmin, hand-computed at s=0.5") {
    import graft.operators.Dedup
    // truncating-DIV ppm powers at s_ppm = 500000:
    //   (2,6): s^6 = 15625  -> 1 - (1-15625)^2          = 31006
    //   (3,4): s^4 = 62500  -> 1 - (937500)^3/1e12      = 176026
    //   (4,3): s^3 = 125000 -> 1 - (875000)^4/1e18      = 413820
    //   (6,2): s^2 = 250000 -> 1 - (750000)^6/1e30      = 822022
    assert(Dedup.collisionPpm(500000L, 2, 6) === 31006L)
    assert(Dedup.collisionPpm(500000L, 3, 4) === 176026L)
    assert(Dedup.collisionPpm(500000L, 4, 3) === 413820L)
    assert(Dedup.collisionPpm(500000L, 6, 2) === 822022L)
    // floor 800k: only (6,2) clears it
    assert(Dedup.planBands(500000L, 800000L) === ((6, 2, 822022L)))
    // floor 400k: (4,3) and (6,2) clear; fewest bands wins
    assert(Dedup.planBands(500000L, 400000L) === ((4, 3, 413820L)))
    // floor 30k: all but... (2,6)=31006 clears; 2 bands is cheapest
    assert(Dedup.planBands(500000L, 30000L) === ((2, 6, 31006L)))
    // unreachable floor throws with the best curve point named
    val e = intercept[IllegalArgumentException](
      Dedup.planBands(500000L, 900000L))
    assert(e.getMessage.contains("822022"))
  }

  test("parseQueries reads both the compact and pretty-printed forms") {
    val compact = """{"queries":{"1":0.5,"2":10}}"""
    val pretty = "{\n  \"queries\" : { \"1\" : 0.5 , \"2\" : 10 }\n}"
    assert(Bench.parseQueries(compact) === Map("1" -> 0.5, "2" -> 10.0))
    assert(Bench.parseQueries(pretty) === Map("1" -> 0.5, "2" -> 10.0))
    assert(Bench.parseQueries("no queries here") === Map.empty)
  }

  // ---- incremental-dedup signature table (r11 verdict task 4) ----

  import org.apache.spark.sql.functions._
  import graft.operators.Dedup

  /** 30-doc corpus with near-dup pairs across the delta split (ids % 3):
    * ids 3k and 3k+1 share text (near-identical), 3k+2 is unique filler.
    */
  private def sigFixture = {
    import spark.implicits._
    (0L until 30L).map { i =>
      val fam = i / 3
      val text = (i % 3) match {
        case 0 | 1 => s"alpha beta gamma delta epsilon fam$fam shared body " +
          s"of text tail${i % 3}"
        case _ => s"unique filler document number $i with its own words " +
          s"w${i}a w${i}b w${i}c"
      }
      (i, text)
    }.toDF("doc_id", "text")
  }

  test("incrementalPairs over a stored signature table == minhashLshPairsAgainst") {
    val d = sigFixture
    val corpus = d.filter(col("doc_id") % 3 =!= 0)
    val delta = d.filter(col("doc_id") % 3 === 0)
    val root = java.nio.file.Files.createTempDirectory("sigtab").toString
    Dedup.signatureTable(spark, corpus, "doc_id", "text", root,
                         numBuckets = 8)
    val stored = Dedup.incrementalPairs(spark, delta, root, "doc_id", "text",
                                        numBuckets = 8)
      .orderBy("new_id", "old_id").collect().map(_.toSeq)
    val direct = Dedup.minhashLshPairsAgainst(corpus, delta, "doc_id", "text")
      .orderBy("new_id", "old_id").collect().map(_.toSeq)
    assert(stored.nonEmpty, "fixture must produce at least one pair")
    assert(stored.toSeq === direct.toSeq)
  }

  test("incrementalPairs listing cost: only touched _sig_bucket dirs are read") {
    val d = sigFixture
    val corpus = d.filter(col("doc_id") % 3 =!= 0)
    val root = java.nio.file.Files.createTempDirectory("sigtab2").toString
    Dedup.signatureTable(spark, corpus, "doc_id", "text", root,
                         numBuckets = 64)
    // one-doc delta: its <= 4 band keys touch <= 4 of the 64 buckets
    val delta = d.filter(col("doc_id") === 0L)
    val touched = Dedup.touchedSigBucketsFor(delta, "doc_id", "text",
                                             numBuckets = 64)
    assert(touched.size <= 4 && touched.nonEmpty)
    val pruned = graft.VersionedTable
      .readLatestPartitions(spark, root, "_sig_bucket", touched)
    val full = graft.VersionedTable.read(spark, root)
    val prunedFiles = pruned.inputFiles
    val fullFiles = full.inputFiles
    // the pruned scan's LISTING covers only touched dirs — the property
    // that makes delta-run cost independent of corpus size
    assert(prunedFiles.nonEmpty)
    assert(prunedFiles.forall(f =>
      touched.exists(b => f.contains(s"_sig_bucket=$b/"))))
    assert(fullFiles.length > prunedFiles.length,
      s"corpus spread over ${fullFiles.length} files must exceed the " +
        s"${prunedFiles.length} pruned ones")
    // and a delta colliding with NOTHING degrades to an empty typed scan
    import spark.implicits._
    val alien = Seq((999L, "zzz yyy xxx www vvv uuu ttt sss rrr qqq"))
      .toDF("doc_id", "text")
    val none = Dedup.incrementalPairs(spark, alien, root, "doc_id", "text",
                                      numBuckets = 64)
    assert(none.count() === 0L)
  }

  // ---- ScdEngine bucket manifest (r11 verdict task 5); the manifest was
  // since removed, and this now pins that no run writes one ----

  test("bucketed SCD maintains _SCD_BUCKETS and survives manifest loss") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("scdman").toString
    val path = s"$dir/dim"
    val cfg = ScdConfig(uniqueKey = Seq("id"), updatedAtCol = "updated_at")
    def batch(ids: Seq[Long], v: Long, at: String) =
      ids.map(i => (i, s"n$i-$v", ts(at))).toDF("id", "name", "updated_at")
    def noManifest(): Boolean =
      !java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_SCD_BUCKETS"))

    ScdEngine.run(spark, batch(0L until 50L, 1, "2025-01-01 00:00:00"),
                  path, cfg, numBuckets = Some(8))
    assert(noManifest(), "initial load writes no manifest")

    val snap1 = ScdEngine.run(
      spark, batch(Seq(1L, 2L), 2, "2025-02-01 00:00:00"),
      path, cfg, numBuckets = Some(8))
    assert(noManifest(), "incremental writes no manifest")
    assert(snap1.count() === 52L) // 50 current + 2 closed versions

    val snap2 = ScdEngine.run(
      spark, batch(Seq(3L), 3, "2025-03-01 00:00:00"),
      path, cfg, numBuckets = Some(8))
    assert(noManifest(), "incremental writes no manifest")
    assert(snap2.count() === 53L)
  }
}
