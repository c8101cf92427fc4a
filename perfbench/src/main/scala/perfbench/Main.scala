package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Benchmark harness: runs one workload in one driver process against
  * `local[cores]` and writes a result file (per-operation rows, run-level
  * facts, spans) that `run.py` turns into metrics.
  *
  * Arguments: `--workload W --seed N --seconds S --trace 0|1 --run-dir D
  * --data-dir D --out F --cores C`.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, runDir: String, dataDir: String,
                        out: String, cores: Int)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
         kv.getOrElse("trace", "0") == "1", kv("run-dir"),
         kv.getOrElse("data-dir", ""), kv("out"), kv.getOrElse("cores", "4").toInt)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.runDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.runDir}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark, o.trace)
    val result: Map[String, Any] = o.workload match {
      case "ingest_micro" => Ingest.run(spark, tracer, o)
      case "catalogue" => Catalogue.run(spark, tracer, o)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val spans = tracer.spans.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
          "start_ms" -> tracer.wallMs(s.startNs), "end_ms" -> tracer.wallMs(s.endNs),
          "self_s" -> tracer.selfSeconds(s))
    }
    val out = result ++ Map(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "cores" -> o.cores, "session_s" -> sessionS,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / 1048576.0,
      "spans" -> spans)
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(o.out), out)
    spark.stop()
  }

  /** Seconds since `t0` (a nanoTime). */
  def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Heap still in use after a full collection, in MB: the live data an
    * operation leaves behind, free of the timing of collections. Taken
    * after each operation, outside its timing.
    */
  def retainedHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Milliseconds the JIT compilers and the garbage collectors have spent
    * since JVM start; an operation's share is the difference around it.
    */
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
