package graft

/** Round-13 harness/operator contracts. Starts with the drift-aware
  * `moved` detector (round-12 verdict task 2): the comparison base and the
  * current run can sit on different-quality boxes (r12 measured a uniform
  * +5.5% on untouched code), and with an absolute 1.3x/0.5 s gate that
  * uniform delta manufactures mover candidates — r12's three flags all
  * adjudicated to environment. The detector now scales the prior base by
  * the shared-set median ratio, so only queries moving RELATIVE TO THEIR
  * COHORT get flagged.
  */
class Round18OpsSpec extends SparkTestBase {

  private def base(n: Int, f: Int => Double): String =
    (1 to n).map(i => "\"" + i + "\":" + f(i)).mkString(
      """{"queries":{""", ",", "}}")

  test("movedList: a uniformly-1.5x-slower current run flags nothing") {
    val n = 30
    val prior = base(n, i => 1.0 + (i % 5) * 0.5) // 1.0..3.0 s spread
    val prev = (1 to n).map(i => 1.0 + (i % 5) * 0.5)
    val current = (1 to n).map(i => i.toString -> prev(i - 1) * 1.5)
    // every query is >1.3x and (for the >=1.67s ones) >0.5s absolute —
    // the pre-drift detector would flag most of the suite
    assert(Bench.movedList(prior, current) === "[]",
      "uniform box drift must not manufacture movers")
  }

  test("movedList: a single genuine 3x mover still flags through 1.2x drift") {
    val n = 30
    val prior = base(n, _ => 2.0)
    val current = (1 to n).map { i =>
      i.toString -> (if (i == 7) 6.0 else 2.0 * 1.2)
    }
    // median ratio = 1.2 (the one outlier cannot drag the median), so the
    // drift-scaled base for q7 is 2.4 and 6.0 is 2.5x/+3.6s over it
    assert(Bench.movedList(prior, current) === """["7"]""")
  }

  test("movedList: under MinSharedForDrift shared keys the absolute gate holds") {
    // 5 shared keys (a dev subset): no cohort to estimate drift from, so
    // the old absolute behavior applies — uniform 2x on 1s queries flags.
    val prior = base(5, _ => 1.0)
    val current = (1 to 5).map(i => i.toString -> 2.0)
    assert(Bench.movedList(prior, current) === """["1","2","3","4","5"]""")
    assert(Bench.MinSharedForDrift > 5)
  }

  test("movedList: faster-box drift (median < 1) exposes a masked regression") {
    val n = 30
    val prior = base(n, _ => 2.0)
    // box got 2x FASTER for everyone except q3, which stayed flat: flat on
    // a 2x-faster box is a 2x relative regression even though the absolute
    // gate (2.0 -> 2.0) sees nothing.
    val current = (1 to n).map(i => i.toString -> (if (i == 3) 2.0 else 1.0))
    assert(Bench.movedList(prior, current) === """["3"]""")
  }

  // ---- Dedup cache lifecycle (round-12 verdict task 4) ----

  import graft.operators.Dedup
  import org.apache.spark.sql.functions._

  /** Round17's signature fixture shape: near-dup pairs across the %3
    * delta split, unique filler elsewhere.
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

  test("sealed dedup operators leave at most one persisted RDD (their result)") {
    import spark.implicits._
    val sc = spark.sparkContext
    sc.getPersistentRDDs.values.foreach(_.unpersist(false))
    def persisted = sc.getPersistentRDDs.keySet
    val d = sigFixture
    val corpus = d.filter(col("doc_id") % 3 =!= 0)
    val delta = d.filter(col("doc_id") % 3 === 0)
    val root = java.nio.file.Files.createTempDirectory("seal_sig").toString
    Dedup.signatureTable(spark, corpus, "doc_id", "text", root, numBuckets = 8)
    assert(persisted.isEmpty, "signatureTable publish must not persist anything")
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val ops: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "ngramJaccardPairs" ->
        (() => Dedup.ngramJaccardPairs(d, "doc_id", "text")),
      "minhashLshPairs" ->
        (() => Dedup.minhashLshPairs(d, "doc_id", "text")),
      "minhashLshCandidates" ->
        (() => Dedup.minhashLshCandidates(d, "doc_id", "text")),
      "minhashLshBandingStats" ->
        (() => Dedup.minhashLshBandingStats(d, "doc_id", "text")),
      "bandingRecallCompare" ->
        (() => Dedup.bandingRecallCompare(d, "doc_id", "text")),
      "simhashPairs" ->
        (() => Dedup.simhashPairs(d, "doc_id", "text")),
      "minhashLshPairsAgainst" ->
        (() => Dedup.minhashLshPairsAgainst(corpus, delta, "doc_id", "text")),
      "incrementalPairs" ->
        (() => Dedup.incrementalPairs(spark, delta, root, "doc_id", "text")),
      "clusterPairs(distributed)" ->
        (() => Dedup.clusterPairs(edges, smallGraphEdges = 0L)),
      "clusterPairs(local)" ->
        (() => Dedup.clusterPairs(edges)),
      "keepCanonical" ->
        (() => Dedup.keepCanonical(d, "doc_id",
          Dedup.minhashLshPairs(d, "doc_id", "text"))),
      "prefixJaccardPairs" ->
        (() => Dedup.prefixJaccardPairs(d, "doc_id", "text")),
      "prefixJoinStats" ->
        (() => Dedup.prefixJoinStats(d, "doc_id", "text")),
      "prefixCandidates" ->
        (() => Dedup.prefixCandidates(d, "doc_id", "text", 1, 2))
    )
    for ((name, op) <- ops) {
      val before = persisted
      val out = op()
      // keepCanonical composes a sealed clusterPairs internally: its own
      // sealed loser set plus the argument pair relation's checkpoint
      val cap = if (name == "keepCanonical") 2 else 1
      val fresh = persisted -- before
      assert(fresh.size <= cap,
        s"$name left ${fresh.size} persisted RDDs (cap $cap): caches leaked")
      // the sealed result stays consumable after the internal releases
      assert(out.count() >= 0L, s"$name result must be consumable")
      sc.getPersistentRDDs
        .filter { case (id, _) => fresh.contains(id) }
        .values.foreach(_.unpersist(false))
    }
    assert(persisted.isEmpty)
  }

  // ---- signature-table layout contract (ADVICE r12) ----

  test("incrementalPairs uses the STORED bucket count over its parameter") {
    val d = sigFixture
    val corpus = d.filter(col("doc_id") % 3 =!= 0)
    val delta = d.filter(col("doc_id") % 3 === 0)
    val root = java.nio.file.Files.createTempDirectory("sigNb").toString
    Dedup.signatureTable(spark, corpus, "doc_id", "text", root, numBuckets = 8)
    assert(Dedup.storedSigBuckets(spark, root) === Some(8))
    // a caller probing with the WRONG modulus (64) used to name
    // _sig_bucket dirs that don't exist and silently miss pairs; the
    // stored marker now wins, so the mismatched call is pair-identical
    val right = Dedup.incrementalPairs(spark, delta, root, "doc_id", "text",
                                       numBuckets = 8)
      .orderBy("new_id", "old_id").collect().map(_.toSeq).toSeq
    val mismatched = Dedup.incrementalPairs(spark, delta, root, "doc_id",
                                            "text", numBuckets = 64)
      .orderBy("new_id", "old_id").collect().map(_.toSeq).toSeq
    assert(right.nonEmpty)
    assert(mismatched === right)
  }

  test("signatureTable republish vacuums superseded versions") {
    val d = sigFixture
    val corpus = d.filter(col("doc_id") % 3 =!= 0)
    val delta = d.filter(col("doc_id") % 3 === 0)
    val root = java.nio.file.Files.createTempDirectory("sigVac").toString
    (1 to 4).foreach { _ =>
      Dedup.signatureTable(spark, corpus, "doc_id", "text", root,
                           numBuckets = 8)
    }
    assert(graft.VersionedTable.latestVersion(spark, root) === Some(4L))
    val versionDirs = new java.io.File(root).listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("v="))
    assert(versionDirs.size === 2,
      s"republish must reclaim superseded versions, found: $versionDirs")
    // the survivor is fully functional
    val pairs = Dedup.incrementalPairs(spark, delta, root, "doc_id", "text")
    assert(pairs.count() > 0L)
  }

  test("sortByBandKey publish lays each bucket file out in _bk order") {
    val d = sigFixture
    val corpus = d.filter(col("doc_id") % 3 =!= 0)
    val root = java.nio.file.Files.createTempDirectory("sigSort").toString
    Dedup.signatureTable(spark, corpus, "doc_id", "text", root,
                         numBuckets = 2, sortByBandKey = true)
    val v = graft.VersionedTable.latestVersion(spark, root).get
    val files = new java.io.File(s"$root/v=$v").listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles())
      .filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    // row-group stats answer point filters only if each FILE is sorted:
    // read files individually so cross-file ordering can't mask a
    // within-file shuffle
    files.foreach { f =>
      val ks = spark.read.parquet(f.getAbsolutePath)
        .select("_bk").collect().map(_.getString(0)).toSeq
      assert(ks == ks.sorted, s"${f.getName} not sorted by _bk")
    }
    // and the unsorted (default) layout is genuinely the r12 one: at
    // least one multi-row file out of band-key order
    val root2 = java.nio.file.Files.createTempDirectory("sigSort2").toString
    Dedup.signatureTable(spark, corpus, "doc_id", "text", root2,
                         numBuckets = 2)
    val v2 = graft.VersionedTable.latestVersion(spark, root2).get
    val any = new java.io.File(s"$root2/v=$v2").listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles())
      .filter(_.getName.endsWith(".parquet"))
      .exists { f =>
        val ks = spark.read.parquet(f.getAbsolutePath)
          .select("_bk").collect().map(_.getString(0)).toSeq
        ks != ks.sorted
      }
    assert(any, "fixture too small to distinguish layouts — grow it")
  }

  // ---- stale _SCD_BUCKETS manifest (ADVICE r12: pruning hint, never
  // load-bearing). The engine no longer writes or reads one; the file here
  // stands for one left behind by an older table and must change nothing ----

  test("stale bucket manifest: phantoms never read, unlisted buckets never lost") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("scdstale").toString
    val path = s"$dir/dim"
    val cfg = ScdConfig(uniqueKey = Seq("id"), updatedAtCol = "updated_at")
    def batch(ids: Seq[Long], v: Long, at: String) =
      ids.map(i => (i, s"n$i-$v", ts(at))).toDF("id", "name", "updated_at")
    ScdEngine.run(spark, batch(0L until 50L, 1, "2025-01-01 00:00:00"),
                  path, cfg, numBuckets = Some(8))
    val mf = java.nio.file.Paths.get(path, "_SCD_BUCKETS")
    val real = new java.io.File(path).listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("_scd2_bucket="))
      .map(_.getName.stripPrefix("_scd2_bucket=").toInt).sorted
    assert(real.size >= 3, "fixture needs several buckets")
    // Tamper the manifest as a crash between rename-loop and rewrite
    // would: one REAL bucket forgotten, one PHANTOM bucket invented.
    val tampered = (real.tail :+ 9999).mkString("\n")
    java.nio.file.Files.write(mf, tampered.getBytes("UTF-8"))
    // merge updating EVERY key: touches the forgotten bucket (whose
    // history must be read, not treated as empty and overwritten) and
    // resolves the phantom (whose directory must never be opened)
    val snap = ScdEngine.run(
      spark, batch(0L until 50L, 2, "2025-02-01 00:00:00"),
      path, cfg, numBuckets = Some(8))
    assert(snap.count() === 100L,
      "every key must keep its closed version — unlisted bucket history lost")
    assert(snap.filter(col("_is_current")).count() === 50L)
    // an oversized all-digit manifest line degrades to the listing, not a
    // NumberFormatException crash
    java.nio.file.Files.write(mf, "99999999999999999999".getBytes("UTF-8"))
    val snap2 = ScdEngine.run(
      spark, batch(Seq(1L), 3, "2025-03-01 00:00:00"),
      path, cfg, numBuckets = Some(8))
    assert(snap2.count() === 101L)
  }
}
