// scratch scaling-slope probe (not part of the library)
package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{ScdConfig, ScdEngine, SparkEntry}
import graft.operators.{Dedup, Profile, Rolling, Scd2, Sessionize, TextAnalysis}
import graft.sources.Tables

/** Measures how the flagship pipelines scale when the input grows k×
  * (key-shifted copies, preserving per-key version-chain shape).
  * A shuffle/window/hash pipeline should scale ~linearly in rows; a
  * super-linear slope exposes a cliff (spill, quadratic blowup, driver
  * collect) before it shows up at 100 TB. k=100 (~10 M events / ~500 k
  * docs from sf0.1) needs a large heap:
  * `SPARK_DRIVER_MEM=48g sbt "runMain graft.tools.Stress <sfDir> 100"`.
  *
  * The `bucketed-merge` scenario times the key-bucketed `ScdEngine` merge
  * against dimension and batch size instead; see [[bucketedMerge]]. The
  * `explain` mode prints
  * `explain("formatted")` for the named SparkEntry queries (all when none
  * are named).
  *
  * Usage: runMain graft.tools.Stress [sfDir] [k]
  *        runMain graft.tools.Stress bucketed-merge
  *        runMain graft.tools.Stress explain <sfDir> [query ...]
  */
object Stress {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    lazy val k = args.lift(1).map(_.toInt).getOrElse(10)
    // bucketed-merge runs on the benchmark's 4 cores; the rest on 32
    val cores = if (sfDir == "bucketed-merge") 4 else 32
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (sfDir == "bucketed-merge") bucketedMerge(spark)
    else if (sfDir == "explain") explain(spark, args.drop(1).toSeq)
    else slopes(spark, sfDir, k)
    spark.stop()
  }

  private def explain(spark: SparkSession, args: Seq[String]): Unit = {
    require(args.nonEmpty, "usage: Stress explain <sfDir> [query ...]")
    val names = if (args.size > 1) args.tail else SparkEntry.queries.keys.toSeq.sorted
    for (n <- names; fn <- SparkEntry.queries.get(n)) {
      println(s"\n===== $n =====")
      fn(spark, args.head).explain("formatted")
    }
  }

  /** Key-bucketed SCD maintenance against dimension size: 20k, 200k and 2M
    * keys in 128 buckets (the benchmark's `ingest_micro` table at 1×, 10×
    * and 100×). Per size it times the initial load, then three merges of
    * 16-row and three of 1k-row batches (updates of random existing keys,
    * built as local relations before timing), each one `ScdEngine.merge`,
    * after one untimed warm-up merge (and, once, a few on a throwaway
    * table). Per batch size it prints the median seconds of a merge and the
    * Spark jobs each merge ran. The 2M-key load needs about 2 GB of heap.
    */
  private def bucketedMerge(spark: SparkSession): Unit = {
    val base = java.nio.file.Files.createTempDirectory("stress-bucketed-merge")
    val cfg = ScdConfig(uniqueKey = Seq("id"), updatedAtCol = "updated_at")
    val buckets = 128
    def stamp(day: Int) = lit("2025-01-01 00:00:00").cast("timestamp") + expr(s"interval $day days")

    def history(h: Long): DataFrame =
      spark.range(h).select(col("id"),
        concat(lit("name"), pmod(col("id"), lit(97L))).as("name"),
        (col("id") % 1000L).as("v"),
        stamp(0).as("updated_at"))

    def batch(h: Long, rows: Int, day: Int): DataFrame = {
      val b = spark.range(rows).select((rand(day) * h).cast("long").as("id"),
        concat(lit("renamed"), lit(day)).as("name"),
        lit(day.toLong).as("v"),
        stamp(day).as("updated_at"))
      spark.createDataFrame(java.util.Arrays.asList(b.collect(): _*), b.schema)
    }

    def merge(path: String, df: DataFrame): (Double, Int) = {
      val t0 = System.nanoTime()
      val (_, jobs) =
        jobsDuring(spark)(ScdEngine.merge(spark, df, path, cfg, numBuckets = Some(buckets)))
      ((System.nanoTime() - t0) / 1e9, jobs)
    }

    // JIT and codegen warm-up on a throwaway table, so the first size is
    // not billed for it
    var day = 0
    merge(s"$base/warm", history(20000L))
    for (rows <- Seq(16, 16, 16, 1000, 1000)) { day += 1; merge(s"$base/warm", batch(20000L, rows, day)) }
    for (h <- Seq(20000L, 200000L, 2000000L)) {
      val path = s"$base/h$h"
      val (loadS, _) = merge(path, history(h))
      println(f"[stress] initial load keys=$h%-8d buckets=$buckets ${loadS}%8.2f s")
      day += 1
      merge(path, batch(h, 16, day))
      for (rows <- Seq(16, 1000)) {
        val runs = (1 to 3).map { _ => day += 1; merge(path, batch(h, rows, day)) }
        val median = runs.map(_._1).sorted.apply(1)
        println(f"[stress] merge keys=$h%-8d batch=$rows%-5d ${median}%8.2f s (median of 3)" +
                s"  jobs ${runs.map(_._2).mkString(",")}")
      }
    }
    org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  /** `body`'s result and the Spark jobs started while it ran. Job-start
    * events arrive in the order jobs start, so a marker job run after
    * `body` (and one before, to drain earlier events) fences the count
    * exactly.
    */
  private[graft] def jobsDuring[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.put(Option(e.properties)
          .flatMap(p => Option(p.getProperty("graft.fence"))).getOrElse(""))
    }
    def fence(name: String): Int = {
      sc.setLocalProperty("graft.fence", name)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.fence", null)
      Iterator.continually(started.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile { g =>
          if (g == null) throw new IllegalStateException("job-start event not delivered")
          g != name
        }.size
    }
    sc.addSparkListener(listener)
    try { fence("open"); val out = body; (out, fence("close")) }
    finally sc.removeSparkListener(listener)
  }

  /** The scaling slopes: each pipeline at 1× and k× the input. */
  private def slopes(spark: SparkSession, sfDir: String, k: Int): Unit = {
    def time(label: String)(df: => DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[stress] $label%-28s $s%7.2f s")
      s
    }

    /** k copies with shifted keys/ids — same per-key chain shape, k× keys.
      * Copies are built from a RANGE join against the checkpointed base (one
      * wide copy of the data, k expressed as a generator) instead of a
      * k-way union: a 100-branch union plan compiles slowly and re-reads the
      * base 100 times.
      */
    def copies(df: DataFrame, keyCol: String, idCol: String, shift: Long): DataFrame =
      df.crossJoin(spark.range(k).select(col("id").as("_copy")))
        .withColumn(keyCol, col(keyCol) + col("_copy") * lit(shift))
        .withColumn(idCol, col(idCol) + col("_copy") * lit(shift))
        .drop("_copy")

    val evCfg = ScdConfig(uniqueKey = Seq("user_id"), updatedAtCol = "ts",
                          changeExclude = Seq("event_id"))
    val ev1 = Tables.events(spark, sfDir).localCheckpoint()
    val evK = copies(ev1, "user_id", "event_id", 1000000L).localCheckpoint()

    // JIT/codegen warm
    time("warmup scd2 1x")(Scd2.initialLoad(ev1, evCfg))

    val i1 = time("scd2 initial 1x")(Scd2.initialLoad(ev1, evCfg))
    val iK = time(s"scd2 initial ${k}x")(Scd2.initialLoad(evK, evCfg))

    def half(df: DataFrame, rem: Int) = df.filter(col("event_id") % 2 === rem)
    val t1 = Scd2.initialLoad(half(ev1, 0), evCfg).localCheckpoint()
    val tK = Scd2.initialLoad(half(evK, 0), evCfg).localCheckpoint()
    val m1 = time("scd2 incremental 1x")(Scd2.incremental(t1, half(ev1, 1), evCfg))
    val mK = time(s"scd2 incremental ${k}x")(Scd2.incremental(tK, half(evK, 1), evCfg))

    val d1 = Tables.spread(spark, Tables.read(spark, sfDir, "documents"))
      .localCheckpoint()
    val dK = copies(d1, "doc_id", "doc_id", 1000000L).localCheckpoint()
    val x1 = time("minhash lsh pairs 1x")(
      Dedup.minhashLshPairs(d1, "doc_id", "text"))
    val xK = time(s"minhash lsh pairs ${k}x")(
      Dedup.minhashLshPairs(dK, "doc_id", "text"))

    val se1 = time("sessionize 1x")(
      Sessionize.sessions(ev1, "user_id", "ts", "event_type"))
    val seK = time(s"sessionize ${k}x")(
      Sessionize.sessions(evK, "user_id", "ts", "event_type"))

    val cp1 = time("cluster pairs 1x")(
      Dedup.clusterPairs(Dedup.minhashLshPairs(d1, "doc_id", "text")))
    val cpK = time(s"cluster pairs ${k}x")(
      Dedup.clusterPairs(Dedup.minhashLshPairs(dK, "doc_id", "text")))

    val rl1 = time("rolling 7d 1x")(
      Rolling.trailing(ev1, "user_id", "ts", "value", 7L * 86400 * 1000000))
    val rlK = time(s"rolling 7d ${k}x")(
      Rolling.trailing(evK, "user_id", "ts", "value", 7L * 86400 * 1000000))

    val tt1 = time("tfidf terms 1x")(
      TextAnalysis.topDiscriminativeTerms(d1))
    val ttK = time(s"tfidf terms ${k}x")(
      TextAnalysis.topDiscriminativeTerms(dK))

    val evCols = ev1.columns.toSeq
    val pf1 = time("profile 1x")(Profile.profile(ev1, evCols))
    val pfK = time(s"profile ${k}x")(Profile.profile(evK, evCols))

    def enrichOn(df: DataFrame) = {
      val dim = Scd2.initialLoad(half(df, 0), evCfg).localCheckpoint()
      graft.operators.Scd2Join.enrich(
        half(df, 1).select(col("event_id"), col("user_id"), col("ts")),
        "ts", dim, Seq("user_id"), evCfg)
    }
    val en1 = time("asof enrich 1x")(enrichOn(ev1))
    val enK = time(s"asof enrich ${k}x")(enrichOn(evK))

    // Round-3 operators ---------------------------------------------------
    val ct1 = time("contamination 1x")(
      Dedup.contaminationStats(d1, "doc_id", "text", col("doc_id") % 10 === 0))
    val ctK = time(s"contamination ${k}x")(
      Dedup.contaminationStats(dK, "doc_id", "text", col("doc_id") % 10 === 0))

    val bm1 = time("bm25 1x")(
      TextAnalysis.bm25TopK(d1, "doc_id", "text", Seq("spark", "merge", "window")))
    val bmK = time(s"bm25 ${k}x")(
      TextAnalysis.bm25TopK(dK, "doc_id", "text", Seq("spark", "merge", "window")))

    // Packing: partitioned by lang alone (5 partitions — each window chain
    // serializes, the pathological shard choice) vs lang + a 32-way id
    // bucket (the documented scale path: shard count tracks the cluster).
    val pk1 = time("pack by lang 1x")(
      graft.operators.Packing.packBins(d1, "doc_id", "text", 512L, Seq("lang")))
    val pkK = time(s"pack by lang ${k}x")(
      graft.operators.Packing.packBins(dK, "doc_id", "text", 512L, Seq("lang")))
    val shard = (df: DataFrame) => df.withColumn("_shard", col("doc_id") % 32)
    val pb1 = time("pack by lang+shard 1x")(
      graft.operators.Packing.packBins(shard(d1), "doc_id", "text", 512L,
                                       Seq("lang", "_shard")))
    val pbK = time(s"pack by lang+shard ${k}x")(
      graft.operators.Packing.packBins(shard(dK), "doc_id", "text", 512L,
                                       Seq("lang", "_shard")))

    val em1 = Tables.read(spark, sfDir, "embeddings").localCheckpoint()
    val emK = copies(em1, "vec_id", "vec_id", 1000000L).localCheckpoint()
    val qside = em1.filter(col("vec_id") < 32)
    val pq1 = time("ivfpq adc 1x")(
      graft.operators.Similarity.ivfPqTopK(qside, em1, "vec_id", "embedding"))
    val pqK = time(s"ivfpq adc ${k}x")(
      graft.operators.Similarity.ivfPqTopK(qside, emK, "vec_id", "embedding"))

    val ov1 = time("oov 1x")(TextAnalysis.oovStats(d1, "doc_id", "text"))
    val ovK = time(s"oov ${k}x")(TextAnalysis.oovStats(dK, "doc_id", "text"))

    // Round-3b operators --------------------------------------------------
    import graft.operators.{Intervals, SkewJoin}
    def sessDim(df: DataFrame) = {
      val sess = Sessionize.sessions(df, "user_id", "ts", "event_type")
        .withColumn("sess_end_x",
                    timestamp_micros(unix_micros(col("session_end")) + 1))
      val dim = Scd2
        .initialLoad(df, evCfg.copy(changeInclude = Some(Seq("event_type"))))
        .select(col("user_id"), col("event_type").as("dim_event_type"),
                col("_valid_from").as("dim_from"), col("_valid_to").as("dim_to"))
      (sess.localCheckpoint(), dim.localCheckpoint())
    }
    val (ss1, dm1) = sessDim(ev1)
    val (ssK, dmK) = sessDim(evK)
    val oj1 = time("overlap join 1x")(
      Intervals.overlapJoin(ss1, dm1, Seq("user_id"),
                            "session_start", "sess_end_x", "dim_from", "dim_to"))
    val ojK = time(s"overlap join ${k}x")(
      Intervals.overlapJoin(ssK, dmK, Seq("user_id"),
                            "session_start", "sess_end_x", "dim_from", "dim_to"))

    val wn1 = time("winnow 1x")(d1.select(col("doc_id"),
      explode(TextAnalysis.winnowFingerprints(col("text"))).as("fp")))
    val wnK = time(s"winnow ${k}x")(dK.select(col("doc_id"),
      explode(TextAnalysis.winnowFingerprints(col("text"))).as("fp")))

    val bg1 = time("bigram lm 1x")(TextAnalysis.bigramLm(d1, "doc_id", "text"))
    val bgK = time(s"bigram lm ${k}x")(TextAnalysis.bigramLm(dK, "doc_id", "text"))

    val cd1 = time("snapshot cdc 1x")(
      Scd2.snapshotDelta(t1, Scd2.incremental(t1, half(ev1, 1), evCfg), evCfg))
    val cdK = time(s"snapshot cdc ${k}x")(
      Scd2.snapshotDelta(tK, Scd2.incremental(tK, half(evK, 1), evCfg), evCfg))

    println(f"[stress] r3b slopes at k=$k (1.0 = linear): " +
      f"overlap ${ojK / oj1 / k}%.2f, winnow ${wnK / wn1 / k}%.2f, " +
      f"bigram ${bgK / bg1 / k}%.2f, cdc ${cdK / cd1 / k}%.2f")

    // Round-3c operators --------------------------------------------------
    import graft.operators.Privacy
    def halves(df: DataFrame) =
      (df.filter(col("doc_id") % 2 === 1), df.filter(col("doc_id") % 2 === 0))
    val (ho1, tr1) = halves(d1)
    val (hoK, trK) = halves(dK) // shift is even, parity split survives copies
    val lm1 = time("lm score 1x")(
      TextAnalysis.bigramLmScore(ho1, tr1, "doc_id", "text"))
    val lmK = time(s"lm score ${k}x")(
      TextAnalysis.bigramLmScore(hoK, trK, "doc_id", "text"))
    val pi1 = time("pii scrub 1x")(
      Privacy.scrubPii(Privacy.piiStats(d1, "text"), "text"))
    val piK = time(s"pii scrub ${k}x")(
      Privacy.scrubPii(Privacy.piiStats(dK, "text"), "text"))
    val ud1 = time("url domains 1x")(
      TextAnalysis.urlDomains(d1, "doc_id", "text"))
    val udK = time(s"url domains ${k}x")(
      TextAnalysis.urlDomains(dK, "doc_id", "text"))
    val mk1 = time("markup stats 1x")(TextAnalysis.markupStats(d1, "text"))
    val mkK = time(s"markup stats ${k}x")(TextAnalysis.markupStats(dK, "text"))
    println(f"[stress] r3c slopes at k=$k (1.0 = linear): " +
      f"lm_score ${lmK / lm1 / k}%.2f, pii ${piK / pi1 / k}%.2f, " +
      f"domains ${udK / ud1 / k}%.2f, markup ${mkK / mk1 / k}%.2f")

    // Salted-join value probe: a 20%-to-one-key-skewed fact against a tiny
    // dim with broadcast DISABLED (the regime salting exists for — when the
    // small side can't broadcast and AQE can't split the build). Result sets
    // are identical; only the shuffle distribution differs.
    val hotK = evK.withColumn(
      "user_id",
      when(col("event_id") % 5 === 0, lit(42L)).otherwise(col("user_id")))
      .localCheckpoint()
    val dimU = hotK.select(col("user_id")).distinct()
      .withColumn("seg", col("user_id") % 5).localCheckpoint()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", false)
    val pj = time(s"plain join ${k}x hot")(
      hotK.join(dimU, Seq("user_id")).groupBy("seg")
        .agg(count(lit(1)).as("n")))
    val sj = time(s"salted join ${k}x hot")(
      SkewJoin.salted(hotK, dimU, Seq("user_id"),
                      pmod(hash(col("event_id")), lit(32)), 32)
        .groupBy("seg").agg(count(lit(1)).as("n")))
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.unset("spark.sql.adaptive.skewJoin.enabled")
    println(f"[stress] salted-vs-plain under hot key: ${pj / sj}%.2f x " +
      "(>1 = salting wins)")

    println(f"[stress] r3 slopes at k=$k (1.0 = linear): " +
      f"contamination ${ctK / ct1 / k}%.2f, bm25 ${bmK / bm1 / k}%.2f, " +
      f"pack_lang ${pkK / pk1 / k}%.2f, pack_sharded ${pbK / pb1 / k}%.2f, " +
      f"ivfpq ${pqK / pq1 / k}%.2f, oov ${ovK / ov1 / k}%.2f")

    println(f"[stress] slopes at k=$k (1.0 = perfectly linear): " +
      f"scd2_initial ${iK / i1 / k}%.2f, scd2_incremental ${mK / m1 / k}%.2f, " +
      f"minhash ${xK / x1 / k}%.2f, sessionize ${seK / se1 / k}%.2f, " +
      f"clusters ${cpK / cp1 / k}%.2f, rolling ${rlK / rl1 / k}%.2f, " +
      f"tfidf ${ttK / tt1 / k}%.2f, profile ${pfK / pf1 / k}%.2f, " +
      f"enrich ${enK / en1 / k}%.2f")

    // Round-4 operators ---------------------------------------------------
    val sd1 = time("sentence dedup 1x")(
      Dedup.sentenceDupStats(d1, "doc_id", "text"))
    val sdK = time(s"sentence dedup ${k}x")(
      Dedup.sentenceDupStats(dK, "doc_id", "text"))

    val ch1 = time("chunk docs 1x")(
      graft.operators.Packing.chunkDocs(d1, "doc_id", "text", 64, 48))
    val chK = time(s"chunk docs ${k}x")(
      graft.operators.Packing.chunkDocs(dK, "doc_id", "text", 64, 48))

    val ws1 = time("weighted cap 1x")(
      graft.operators.Sampling.weightedCap(d1, "doc_id", Seq("lang"), "n_chars", 20))
    val wsK = time(s"weighted cap ${k}x")(
      graft.operators.Sampling.weightedCap(dK, "doc_id", Seq("lang"), "n_chars", 20))

    def rollupOf(df: DataFrame) = graft.operators.IncrementalAgg.rollup(
      df.withColumn("day", date_trunc("DAY", col("ts"))),
      Seq("event_type", "day"),
      floor(col("value") * lit(1000000.0)).cast("long"))
    val ir1 = time("incr rollup merge 1x")(
      graft.operators.IncrementalAgg.merge(
        rollupOf(half(ev1, 0)), rollupOf(half(ev1, 1)), Seq("event_type", "day")))
    val irK = time(s"incr rollup merge ${k}x")(
      graft.operators.IncrementalAgg.merge(
        rollupOf(half(evK, 0)), rollupOf(half(evK, 1)), Seq("event_type", "day")))

    def histOf(df: DataFrame) = Scd2.initialLoad(
      df.withColumn("deleted_at", when(col("event_type") === "error", col("ts"))),
      evCfg.copy(deletedAtCol = Some("deleted_at")))
    val is1 = time("alive islands 1x")(
      graft.operators.Intervals.islands(
        histOf(ev1).filter(col("_change_type") =!= "D"),
        Seq("user_id"), "_valid_from", "_valid_to"))
    val isK = time(s"alive islands ${k}x")(
      graft.operators.Intervals.islands(
        histOf(evK).filter(col("_change_type") =!= "D"),
        Seq("user_id"), "_valid_from", "_valid_to"))

    val wz1 = time("winsorize 1x")(
      Profile.winsorize(ev1.select(col("event_id"), col("event_type"),
        floor(col("value") * lit(1000000.0)).cast("long").as("vm")),
        "event_type", "vm", 5, 95))
    val wzK = time(s"winsorize ${k}x")(
      Profile.winsorize(evK.select(col("event_id"), col("event_type"),
        floor(col("value") * lit(1000000.0)).cast("long").as("vm")),
        "event_type", "vm", 5, 95))

    println(f"[stress] r4 slopes at k=$k (1.0 = linear): " +
      f"sentence_dedup ${sdK / sd1 / k}%.2f, chunk ${chK / ch1 / k}%.2f, " +
      f"weighted_cap ${wsK / ws1 / k}%.2f, incr_rollup ${irK / ir1 / k}%.2f, " +
      f"islands ${isK / is1 / k}%.2f, winsorize ${wzK / wz1 / k}%.2f")

    // Key-skew probe: redirect 20% of all events to ONE business key. A
    // window partition is inherently sequential per key (a version chain is
    // an ordered history — no salting without changing semantics), so the
    // hot key serializes only its own partition while the rest of the
    // cluster proceeds; this measures that worst case against the uniform
    // baseline at the same row count.
    val evHot = evK.withColumn(
      "user_id",
      when(col("event_id") % 5 === 0, lit(42L)).otherwise(col("user_id")))
      .localCheckpoint()
    val s1 = time(s"scd2 initial ${k}x uniform")(Scd2.initialLoad(evK, evCfg))
    val s2 = time(s"scd2 initial ${k}x 20%-hot-key")(Scd2.initialLoad(evHot, evCfg))
    println(f"[stress] hot-key slowdown ${s2 / s1}%.2f (1.0 = skew-free)")
  }
}
