package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Spans of one operation (a batch or a
  * query) share `op`; `parent` is the enclosing span's id, or -1.
  */
final case class Span(id: Int, parent: Int, op: String, name: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** What one Spark job did, attributed to the span whose job group it ran
  * under. Times are wall-clock milliseconds from the scheduler events.
  */
final class JobRec(val span: Int, val startMs: Long) {
  var endMs: Long = startMs
  val stages = mutable.ArrayBuffer.empty[Int]
}

final class StageRec {
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** One SQL execution reported by the QueryExecutionListener, with the
  * physical plan's features next to its measured duration. `atMs` is the
  * wall-clock start of its first planning phase, which places it inside
  * the span that issued it.
  */
final case class ExecRec(atMs: Long, seconds: Double, failed: Boolean,
                         isWrite: Boolean, planNodes: Int, exchanges: Int,
                         scans: Int)

/** Plan features of a physical plan, looking through adaptive execution:
  * (operators, exchanges, scans).
  */
object PlanFeatures {
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  def apply(p: SparkPlan): (Int, Int, Int) = {
    val ns = nodes(p)
    (ns.size, ns.count(_.nodeName.contains("Exchange")), ns.count(_.nodeName.contains("Scan")))
  }
}

/** Job, stage and task totals of a set of jobs. */
final case class Work(jobs: Int, stages: Int, tasks: Int, jobSeconds: Double,
                      taskRunSeconds: Double, taskCpuSeconds: Double,
                      shuffleBytes: Long, spillBytes: Long)

/** Spans recorded around the benchmark's calls into the library, plus a
  * SparkListener and a QueryExecutionListener that attribute jobs, stages,
  * tasks and SQL executions to the span that caused them. Each span sets
  * the Spark job group to its own id, so a job belongs to the innermost
  * open span. With `enabled = false` nothing is registered and `span`
  * only runs its body: that is the mode end-to-end numbers are taken in.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc: SparkContext = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextId = 0
  // Anchor that converts span nanoTimes to the scheduler's wall-clock ms.
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def wallMs(ns: Long): Double = anchorMs + (ns - anchorNs) / 1e6

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageRecs = mutable.HashMap.empty[Int, StageRec]
  private val execs = mutable.ArrayBuffer.empty[ExecRec]

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val rec = new JobRec(group.flatMap(_.toIntOption).getOrElse(-1), e.time)
      rec.stages ++= e.stageIds
      jobs(e.jobId) = rec
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val s = stageRecs.getOrElseUpdate(e.stageId, new StageRec)
      s.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.diskBytesSpilled
      }
    }
  }

  private object Execs extends QueryExecutionListener {
    private def record(qe: QueryExecution, seconds: Double, failed: Boolean): Unit = {
      val phases = qe.tracker.phases.values.map(_.startTimeMs)
      if (phases.nonEmpty) {
        // A failed execution may have no physical plan to describe.
        val (nodes, exchanges, scans) =
          scala.util.Try(PlanFeatures(qe.executedPlan)).getOrElse((0, 0, 0))
        val root = qe.analyzed.nodeName
        val rec = ExecRec(phases.min, seconds, failed,
          root.startsWith("InsertIntoHadoopFsRelation") || root.startsWith("SaveIntoDataSource"),
          nodes, exchanges, scans)
        Tracer.this.synchronized(execs += rec)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, durationNs / 1e9, failed = false)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe, 0.0, failed = true)
  }

  if (enabled) {
    sc.addSparkListener(Jobs)
    spark.listenerManager.register(Execs)
  }

  /** Run `body` inside a span named `name` of operation `op`. */
  def span[T](op: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open.push(id)
      sc.setJobGroup(id.toString, s"$op $name", interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.pop()
        if (parent >= 0) sc.setJobGroup(parent.toString, op, interruptOnCancel = false)
        else sc.clearJobGroup()
        spans += Span(id, parent, op, name, t0, t1)
      }
    }

  /** Wait until every listener event posted so far has been handled. */
  def drain(): Unit = if (enabled) org.apache.spark.BusDrain.drain(sc)

  private def jobsOf(s: Span): Seq[JobRec] = synchronized(jobs.values.filter(_.span == s.id).toSeq)

  /** Work of the jobs that ran under `s` (children's jobs excluded). */
  def work(s: Span): Work = synchronized {
    val js = jobsOf(s)
    val st = js.flatMap(_.stages).distinct.flatMap(stageRecs.get)
    Work(js.size, st.size, st.map(_.tasks).sum, unionSeconds(js),
         st.map(_.runMs).sum / 1e3, st.map(_.cpuNs).sum / 1e9,
         st.map(_.shuffleWriteBytes).sum, st.map(_.spillBytes).sum)
  }

  /** Seconds of the union of the job intervals: time some job was running. */
  private def unionSeconds(js: Seq[JobRec]): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    for (j <- js.sortBy(_.startMs)) {
      if (j.startMs > curE) { total += curE - curS; curS = j.startMs; curE = j.endMs }
      else curE = math.max(curE, j.endMs)
    }
    (total + curE - curS) / 1e3
  }

  /** SQL executions issued inside `s` and inside none of its children. */
  def execsOf(s: Span): Seq[ExecRec] = synchronized {
    def within(e: ExecRec, sp: Span) =
      math.floor(wallMs(sp.startNs)) <= e.atMs && e.atMs <= math.ceil(wallMs(sp.endNs))
    val children = spans.filter(_.parent == s.id)
    execs.filter(e => within(e, s) && !children.exists(within(e, _))).toSeq
  }

  /** Self time of a span: its duration minus what its child spans cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum
}
