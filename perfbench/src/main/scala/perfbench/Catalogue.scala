package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}

import graft.SparkEntry

/** The catalogue workload: passes over a fixed sample of
  * `SparkEntry.queries`, each query built, planned and run into a noop
  * sink, over tables generated from the run's seed. Every timed pass
  * starts with the library's per-JVM result caches empty, because a
  * one-shot pipeline run never finds them filled.
  */
object Catalogue {

  /** Families of the paper-core entries (name patterns): the SCD
    * maintenance entries, then the read side (as-of reads, invariants, and
    * snapshots, incremental-source scans and bitemporal reads). The sample
    * takes one entry of each family.
    */
  val CoreFamilies = Seq("scd", "asof", "invariant", "snapshot|incremental_source|bitemporal")
  val CorePattern = CoreFamilies.mkString("|").r

  /** Operator-library entries in the sample. */
  val LibrarySample = 2

  /** Seed of the query sample. It is fixed, not the run's seed, so runs
    * with different seeds time the same queries over different data.
    */
  val SampleSeed = 2021L

  /** The sample: names in the order the pass runs them, with whether each
    * is a paper-core entry.
    */
  def sample(names: Seq[String]): Seq[(String, Boolean)] = {
    val rnd = new scala.util.Random(SampleSeed)
    val sorted = names.sorted
    val core = CoreFamilies.foldLeft(Seq.empty[String]) { (picked, family) =>
      val r = family.r
      picked ++ rnd.shuffle(sorted.filter(n => r.findFirstIn(n).isDefined && !picked.contains(n))).take(1)
    }
    val lib = rnd.shuffle(sorted.filter(n => CorePattern.findFirstIn(n).isEmpty)).take(LibrarySample)
    (core.map(_ -> true) ++ lib.map(_ -> false)).sortBy(_._1)
  }

  /** Per-JVM cache directories the library creates under java.io.tmpdir
    * (`Graph.edgeCacheDir`, `Dedup.lshCacheDir`); emptied before each pass.
    */
  private val CachePrefixes = Seq("graft_edge_cache", "graft_lsh_cache")

  private def clearCaches(spark: SparkSession): Unit = {
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    Option(tmp.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && CachePrefixes.exists(d.getName.startsWith))
      .foreach(d => Option(d.listFiles()).getOrElse(Array.empty).foreach(Main.deleteTree))
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  /** `Verify`'s normalization: instants and dates as TIMESTAMP_NTZ, so the
    * parquet read back compares equal to DuckDB's naive timestamps.
    */
  private def normalize(df: DataFrame): DataFrame =
    df.select(df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case TimestampType | DateType => col(f.name).cast(TimestampNTZType).as(f.name)
        case _ => col(f.name)
      }
    }: _*)

  def run(spark: SparkSession, tracer: Tracer, o: Main.Opts): Map[String, Any] = {
    val queries = SparkEntry.queries
    val picked = sample(queries.keys.toSeq)
    val dir = s"${o.dataDir}/bench"
    val warmDir = s"${o.dataDir}/warm"

    val tSetup = System.nanoTime()
    // Codegen and JIT warm-up on the tiny tables, whose inputs fingerprint
    // differently, so no cache entry survives into a timed pass.
    for ((name, _) <- picked) {
      try queries(name)(spark, warmDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    clearCaches(spark)
    val setupS = Main.since(tSetup)

    val rows = collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    // Passes run while another one fits before the deadline (at least one).
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    var pass = 0
    var lastPassNs = 0L
    while (pass == 0 || System.nanoTime() + lastPassNs <= deadline) {
      val tPass = System.nanoTime()
      clearCaches(spark)
      for ((name, core) <- picked) {
        val op = s"$pass:$name"
        var construct, plan, exec = Double.NaN
        val base = Map[String, Any]("op" -> op, "pass" -> pass, "query" -> name, "core" -> core)
        val (jit0, gc0) = (Main.jitMs(), Main.gcMs())
        try {
          tracer.span(op, "query") {
            var t = System.nanoTime()
            val df = tracer.span(op, "SparkEntry.construct")(queries(name)(spark, dir))
            construct = Main.since(t); t = System.nanoTime()
            val physical = tracer.span(op, "catalyst.plan")(df.queryExecution.executedPlan)
            plan = Main.since(t); t = System.nanoTime()
            tracer.span(op, "exec.noop_write")(df.write.format("noop").mode("overwrite").save())
            exec = Main.since(t)
            val (nodes, exchanges, scans) = PlanFeatures(physical)
            rows += base ++ Map(
              "ok" -> true, "construct_s" -> construct, "plan_s" -> plan,
              "exec_s" -> exec, "total_s" -> (construct + plan + exec),
              "plan_nodes" -> nodes, "exchanges" -> exchanges, "scans" -> scans,
              "jit_ms" -> (Main.jitMs() - jit0), "gc_ms" -> (Main.gcMs() - gc0))
          }
        } catch {
          case e: Throwable =>
            rows += base ++ Map("ok" -> false,
              "error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
        }
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        val i = rows.size - 1
        rows(i) = rows(i) + ("heap_mb" -> Main.retainedHeapMb())
        if (tracer.enabled) {
          tracer.drain()
          def layer(n: String) = tracer.spans.filter(s => s.op == op && s.name == n).lastOption
          val extra = Seq("SparkEntry.construct" -> "construct", "exec.noop_write" -> "exec")
            .flatMap { case (n, key) =>
              layer(n).toSeq.flatMap { sp =>
                val w = tracer.work(sp)
                Seq(s"${key}_jobs" -> w.jobs, s"${key}_stages" -> w.stages,
                    s"${key}_tasks" -> w.tasks, s"${key}_job_s" -> w.jobSeconds,
                    s"${key}_task_cpu_s" -> w.taskCpuSeconds,
                    s"${key}_task_run_s" -> w.taskRunSeconds,
                    s"${key}_shuffle_bytes" -> w.shuffleBytes,
                    s"${key}_spill_bytes" -> w.spillBytes)
              }
            }
          rows(i) = rows(i) ++ extra
        }
      }
      pass += 1
      lastPassNs = System.nanoTime() - tPass
    }

    // Untimed output dump for the DuckDB oracle check, in Verify's layout.
    val checkDir = s"${o.runDir}/check"
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val dumpErrors = picked.flatMap { case (name, _) =>
      try {
        normalize(queries(name)(spark, dir)).coalesce(1).write.mode("overwrite")
          .parquet(s"$checkDir/$name")
        None
      } catch { case e: Throwable => Some(name -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)) }
      finally spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }.toMap
    val oracle = SparkEntry.oracleSql
    Map("rows" -> rows, "setup_s" -> setupS, "passes" -> pass,
        "sample" -> picked.map { case (n, c) => Map("query" -> n, "core" -> c) },
        "oracle_sql" -> picked.map(_._1).map(n => n -> oracle.get(n)).toMap,
        "check_dir" -> checkDir, "dump_errors" -> dumpErrors)
  }
}
