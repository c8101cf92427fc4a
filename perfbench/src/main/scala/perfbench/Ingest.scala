package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{ScdConfig, ScdEngine, ScdInvariants}
import graft.operators.Scd2

/** The ingest workload: a bucketed SCD2 dimension built in set-up through
  * `ScdEngine.merge`, then a closed loop (one client) of CDC batches, each
  * one `ScdEngine.merge` call.
  */
object Ingest {

  /** Keys of the dimension, its buckets, and rows per CDC batch: each
    * batch touches at most 16 of the 128 buckets.
    */
  val Keys = 20000
  val Buckets = 128
  val BatchRows = 16
  /** Bound on the pre-generated input; the loop stops at the deadline. */
  val MaxBatches = 40

  val Cfg = ScdConfig(uniqueKey = Seq("id"), updatedAtCol = "updated_at",
                      deletedAtCol = Some("deleted_at"))

  /** How many times set-up builds the dimension; set-up reports the median. */
  val SetupReps = 3
  /** Merges set-up runs on a copy of the dimension to warm JIT and codegen. */
  val WarmMerges = 3

  private def df(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, Gen.schema)

  private def merge(spark: SparkSession, batch: DataFrame, dir: String): Unit =
    ScdEngine.merge(spark, batch, dir, Cfg, numBuckets = Some(Buckets))

  /** Part files of a table directory: relative path -> bytes. */
  private def listing(dir: String): Map[String, Long] = {
    val root = new File(dir).toPath
    if (!root.toFile.exists()) Map.empty
    else {
      val st = java.nio.file.Files.walk(root)
      try st.iterator().asScala
        .filter(p => p.toFile.isFile && p.getFileName.toString.endsWith(".parquet"))
        .map(p => root.relativize(p).toString -> p.toFile.length()).toMap
      finally st.close()
    }
  }

  private def bucketOfPath(rel: String): String = rel.takeWhile(_ != '/')

  def run(spark: SparkSession, tracer: Tracer, o: Main.Opts): Map[String, Any] = {
    // Inputs are generated and converted to local relations before any
    // timing starts, so generation is never billed to set-up or a merge.
    val tGen = System.nanoTime()
    val gen = Gen.ingest(o.seed, Keys, BatchRows, MaxBatches)
    val historyDf = df(spark, gen.history.toSeq)
    val batchDfs = gen.batches.map(b => df(spark, b.toSeq))
    val genS = Main.since(tGen)

    // Set-up: the initial load, SetupReps times into separate tables (the
    // median is reported; the first also warms the load path), then a few
    // merges on a spare copy so JIT and codegen are warm for the loop.
    val loads = (0 until SetupReps).map { i =>
      val t = System.nanoTime()
      merge(spark, historyDf, s"${o.runDir}/dim$i")
      Main.since(t)
    }
    val tWarm = System.nanoTime()
    (0 until WarmMerges).foreach(b => merge(spark, batchDfs(b), s"${o.runDir}/dim1"))
    val warmS = Main.since(tWarm)
    (1 until SetupReps).foreach(i => Main.deleteTree(new File(s"${o.runDir}/dim$i")))
    val dim = s"${o.runDir}/dim0"
    val setupS = Main.median(loads) + warmS

    val rows = collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    var committed = 0
    var error: Option[String] = None
    // Closed loop, one client: the next batch is sent when the previous
    // merge has returned, while another merge as long fits before the
    // deadline (at least one).
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    var lastNs = 0L
    while (error.isEmpty && committed < MaxBatches &&
           (committed == 0 || System.nanoTime() + lastNs <= deadline)) {
      val b = committed
      val op = s"batch-$b"
      val batch = batchDfs(b)
      val before = if (tracer.enabled) listing(dim) else Map.empty[String, Long]
      val incS = if (tracer.enabled) incrementalProbe(spark, tracer, op, batch, dim) else Double.NaN
      val (jit0, gc0) = (Main.jitMs(), Main.gcMs())
      val t = System.nanoTime()
      try {
        tracer.span(op, "ScdEngine.merge")(merge(spark, batch, dim))
        lastNs = System.nanoTime() - t
        val mergeS = lastNs / 1e9
        committed += 1
        var row = Map[String, Any]("op" -> op, "batch" -> b, "rows" -> BatchRows,
                                   "merge_s" -> mergeS, "ok" -> true,
                                   "jit_ms" -> (Main.jitMs() - jit0), "gc_ms" -> (Main.gcMs() - gc0))
        if (tracer.enabled) {
          tracer.drain()
          val after = listing(dim)
          val changed = (before.keySet ++ after.keySet)
            .filter(k => before.get(k) != after.get(k)).map(bucketOfPath)
          val newBytes = after.collect { case (k, v) if !before.contains(k) => v }.sum
          val span = tracer.spans.filter(sp => sp.op == op && sp.name == "ScdEngine.merge").last
          val w = tracer.work(span)
          val ex = tracer.execsOf(span)
          row ++= Map(
            "jobs" -> w.jobs, "stages" -> w.stages, "tasks" -> w.tasks,
            "job_s" -> w.jobSeconds, "driver_s" -> (mergeS - w.jobSeconds),
            "write_s" -> ex.filter(_.isWrite).map(_.seconds).sum,
            "task_cpu_s" -> w.taskCpuSeconds, "task_run_s" -> w.taskRunSeconds,
            "shuffle_bytes" -> w.shuffleBytes, "spill_bytes" -> w.spillBytes,
            "buckets_touched" -> changed.size, "buckets" -> Buckets,
            "bytes_rewritten" -> newBytes, "incremental_s" -> incS,
            "sql_execs" -> ex.size, "sql_failed" -> ex.count(_.failed),
            "plan_nodes" -> ex.map(_.planNodes).sum,
            "exchanges" -> ex.map(_.exchanges).sum, "scans" -> ex.map(_.scans).sum)
        }
        rows += row + ("heap_mb" -> Main.retainedHeapMb())
      } catch {
        case e: Throwable =>
          error = Some(s"$op: ${e.getClass.getSimpleName}: ${e.getMessage}")
          rows += Map("op" -> op, "batch" -> b, "rows" -> BatchRows, "ok" -> false,
                      "error" -> error.get)
      }
    }
    val tableBytes = {
      val st = java.nio.file.Files.walk(new File(dim).toPath)
      try st.iterator().asScala.map(_.toFile).filter(_.isFile).map(_.length()).sum
      finally st.close()
    }
    val check = verify(spark, gen, committed, dim)
    Map("rows" -> rows, "setup_s" -> setupS, "setup_warm_s" -> warmS,
        "setup_load_s" -> loads, "gen_s" -> genS, "keys" -> Keys,
        "batch_rows" -> BatchRows, "buckets" -> Buckets,
        "committed" -> committed, "attempted" -> rows.size,
        "ran_out_of_batches" -> (committed == MaxBatches),
        "table_bytes" -> tableBytes,
        "error" -> error, "mix" -> Gen.shares(gen.kinds.take(committed).toSeq).toMap) ++ check
  }

  /** The read-merge half of one batch, timed on its own: the touched
    * slice (found with the public bucket function) goes through
    * `Scd2.incremental` into a noop sink. Runs before the real merge, so
    * it sees the same slice the merge reads.
    */
  private def incrementalProbe(spark: SparkSession, tracer: Tracer, op: String,
                               batch: DataFrame, dim: String): Double = {
    val touched = batch.select(ScdEngine.bucketOf(Seq("id"), Buckets))
      .distinct().collect().map(_.getInt(0))
      .filter(b => new File(s"$dim/${ScdEngine.BucketCol}=$b").isDirectory)
    if (touched.isEmpty) return Double.NaN
    val slice = spark.read.option("basePath", dim)
      .parquet(touched.map(b => s"$dim/${ScdEngine.BucketCol}=$b").toSeq: _*)
      .drop(ScdEngine.BucketCol)
    val t = System.nanoTime()
    tracer.span(op, "Scd2.incremental") {
      Scd2.incremental(slice, batch, Cfg).write.format("noop").mode("overwrite").save()
    }
    Main.since(t)
  }

  /** Output check: the bucketed table must equal `Scd2.initialLoad` over
    * the initial history and every committed batch, both ways, and pass
    * every SCD invariant.
    */
  private def verify(spark: SparkSession, gen: Gen.Ingest, committed: Int,
                     dim: String): Map[String, Any] = {
    val all = gen.history.toSeq ++ gen.batches.take(committed).toSeq.flatten
    val expected = Scd2.initialLoad(df(spark, all), Cfg)
    val actual = spark.read.parquet(dim).drop(ScdEngine.BucketCol)
    val cols = expected.columns.sorted
    val sameCols = cols.sameElements(actual.columns.sorted)
    val (extra, missing) =
      if (!sameCols) (-1L, -1L)
      else {
        val e = expected.select(cols.head, cols.tail: _*).cache()
        val a = actual.select(cols.head, cols.tail: _*).cache()
        try (a.exceptAll(e).count(), e.exceptAll(a).count())
        finally { e.unpersist(); a.unpersist() }
      }
    val violations = ScdInvariants.report(actual, Cfg).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Map("check_extra_rows" -> extra, "check_missing_rows" -> missing,
        "check_invariant_violations" -> violations,
        "versions" -> actual.count(),
        "correct" -> (sameCols && extra == 0 && missing == 0 && violations.values.forall(_ == 0)))
  }
}
