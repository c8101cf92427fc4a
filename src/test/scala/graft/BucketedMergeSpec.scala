package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.{Scd01, Scd2}

/** The bucketed merge of `ScdEngine` clusters batch ∪ touched slice on the
  * bucket column and selects the stored rows it merges with a window flag;
  * the unbucketed merge selects them with broadcast probe joins. Both must
  * leave the same table for every SCD type, and the bucketed one must stay
  * one exchange.
  */
class BucketedMergeSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  import spark.implicits._

  private def slot(i: Int) = ts(f"2025-01-${i + 1}%02d 00:00:00")

  private def tempPath(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$name").toString + "/dim"

  /** Random versions of keys 0..5 over ten slots: repeated (key, slot)
    * pairs with differing content, an occasional logical delete, and with
    * `nullKey` key 0 spelled NULL.
    */
  private def rows(rnd: Random, nullKey: Boolean): Seq[(Option[Int], String, java.sql.Timestamp, java.sql.Timestamp)] =
    for (_ <- 1 to 40) yield {
      val k = rnd.nextInt(6)
      val s = rnd.nextInt(10)
      (if (nullKey && k == 0) None else Some(k), s"v${rnd.nextInt(3)}", slot(s),
       if (rnd.nextInt(8) == 0) slot(s) else null)
    }

  private def df(rs: Seq[(Option[Int], String, java.sql.Timestamp, java.sql.Timestamp)],
                 load: Option[Int], createdAt: Boolean): DataFrame = {
    val d = rs.toDF("k", "v", "_updated_at", "deleted_at")
    val c = if (createdAt) d.withColumn("created_at", expr("_updated_at - INTERVAL 12 HOURS")) else d
    load.fold(c)(i => c.withColumn("_loaded_at", lit(slot(20 + i))))
  }

  /** A merge configuration, its input shape and arrival order. With
    * `oneRowPerVersion` a batch holds one row per (key, slot), for SCD
    * types 0/1, whose in-batch winner has no tie-break.
    */
  private case class Case(cfg: ScdConfig, nullKey: Boolean = false,
                          inOrder: Boolean = false, loadedAt: Boolean = false,
                          createdAt: Boolean = false, oneRowPerVersion: Boolean = false)

  test("bucketed merge == unbucketed merge over random batch splits") {
    val base = ScdConfig(uniqueKey = Seq("k"))
    val cases = Seq(
      "default" -> Case(base),
      "collapse off" -> Case(base.copy(collapseRedundantVersions = false)),
      "collapse, loaded_at run winner" ->
        Case(base.copy(changeExclude = Seq("_loaded_at")), loadedAt = true),
      "deleted_at" -> Case(base.copy(deletedAtCol = Some("deleted_at"))),
      "NULL business key" -> Case(base, nullKey = true),
      // update_all off re-expires only the windows a new row lands in, so
      // it is only sound for in-order arrival (ScdConfig doc)
      "update_all off" -> Case(base.copy(updateAllPreviousRecords = false), inOrder = true),
      "update_all off, collapse off, NULL key" ->
        Case(base.copy(updateAllPreviousRecords = false, collapseRedundantVersions = false),
             nullKey = true, inOrder = true),
      // the later batches touch keys 0..2 only; keys 3..5 fail the
      // predicate and pass through
      "incremental_predicates" -> Case(base.copy(incrementalPredicates = Seq("k <= 2"))),
      // a later batch back-dates a key's first version: the clustered
      // merge recomputes the stored version's created_at start
      // (_valid_from is a merge-update column)
      "created_at" -> Case(base.copy(createdAtCol = Some("created_at")), createdAt = true),
      // SCD type 1: the predicates are a conjunct of the full-outer join
      "SCD1, incremental_predicates" ->
        Case(base.copy(scdType = 1, incrementalPredicates = Seq("k <= 2")),
             oneRowPerVersion = true),
      "SCD0" -> Case(base.copy(scdType = 0), oneRowPerVersion = true),
      "SCD1" -> Case(base.copy(scdType = 1), oneRowPerVersion = true),
      "SCD0, incremental_predicates" ->
        Case(base.copy(scdType = 0, incrementalPredicates = Seq("k <= 2")),
             oneRowPerVersion = true),
      "SCD1, NULL business key" -> Case(base.copy(scdType = 1), nullKey = true,
                                        oneRowPerVersion = true))
    val rnd = new Random(97)
    for ((name, c) <- cases; trial <- 1 to 2) {
      val drawn = rows(rnd, c.nullKey)
      val all = if (c.oneRowPerVersion) drawn.distinctBy(r => (r._1, r._3)) else drawn
      val ordered = if (c.inOrder) all.sortBy(_._3.getTime) else rnd.shuffle(all)
      val (first, rest) = ordered.splitAt(ordered.size / 3)
      val later =
        if (c.cfg.incrementalPredicates.isEmpty) rest
        else rest.filter(_._1.exists(_ <= 2))
      val batches = first +: later.grouped(math.max(1, later.size / 3)).toSeq
      val tag = s"$name, trial $trial"
      val (bucketed, flat) = (tempPath("bucketed"), tempPath("flat"))
      for ((b, i) <- batches.zipWithIndex; (path, n) <- Seq(bucketed -> Some(8), flat -> None))
        ScdEngine.merge(spark, df(b, Some(i).filter(_ => c.loadedAt), c.createdAt), path, c.cfg,
                        numBuckets = n)
      val got = spark.read.parquet(bucketed).drop(ScdEngine.BucketCol)
      val want = spark.read.parquet(flat)
      val cols = want.columns.map(col).toSeq
      assert(got.select(cols: _*).exceptAll(want).count() === 0, s"$tag: extra rows")
      assert(want.exceptAll(got.select(cols: _*)).count() === 0, s"$tag: missing rows")
      assertInvariantsGreen(got, c.cfg)
    }
  }

  /** The executed plans of the queries `body` ran, fenced like its jobs. */
  private def plansDuring[T](body: => T): (T, Int, Seq[SparkPlan]) = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val (out, jobs) =
      try jobsDuring(body) finally spark.listenerManager.unregister(listener)
    (out, jobs, plans.asScala.toSeq)
  }

  private def pinBatch(rs: Seq[(Int, String, Int)]): DataFrame =
    rs.map { case (k, v, s) => (k, v, slot(s), null: java.sql.Timestamp) }
      .toDF("k", "v", "_updated_at", "deleted_at")

  /** A 200-key table in 16 buckets, warmed by one merge. */
  private def warmTable(name: String, cfg: ScdConfig): String = {
    val path = tempPath(name)
    val history = (1 to 200).map(k => (k, "a", 0)) ++ (1 to 200 by 7).map(k => (k, "b", 2))
    ScdEngine.merge(spark, pinBatch(history), path, cfg, numBuckets = Some(16))
    ScdEngine.merge(spark, pinBatch(Seq((3, "c", 3), (50, "c", 1), (201, "a", 3))), path, cfg,
                    numBuckets = Some(16))
    path
  }

  private val pinB2 = Seq((8, "d", 4), (99, "a", 1), (150, "d", 5), (202, "a", 4))

  test("a warm bucketed run reads the table back without a job of its own") {
    val cfg = ScdConfig(uniqueKey = Seq("k"), deletedAtCol = Some("deleted_at"))
    val (merged, ran) = (warmTable("merge", cfg), warmTable("run", cfg))
    val (_, mergeJobs) = jobsDuring {
      ScdEngine.merge(spark, pinBatch(pinB2), merged, cfg, numBuckets = Some(16))
    }
    val (out, runJobs) = jobsDuring {
      ScdEngine.run(spark, pinBatch(pinB2), ran, cfg, numBuckets = Some(16))
    }
    assert(mergeJobs <= 3, s"the merge ran $mergeJobs jobs")
    assert(runJobs === mergeJobs, s"run: $runJobs jobs, its merge: $mergeJobs")
    val want = spark.read.parquet(merged)
    assert(out.columns.toSet === want.columns.toSet)
    val cols = want.columns.map(col).toSeq
    assert(out.select(cols: _*).exceptAll(want).count() === 0)
    assert(want.exceptAll(out.select(cols: _*)).count() === 0)
  }

  test("a warm bucketed merge with incremental_predicates writes over one exchange") {
    val cfg = ScdConfig(uniqueKey = Seq("k"), deletedAtCol = Some("deleted_at"),
                        incrementalPredicates = Seq("k <= 150"))
    val path = warmTable("predicates", cfg)
    val (_, jobs, plans) = plansDuring {
      ScdEngine.merge(spark, pinBatch(pinB2), path, cfg, numBuckets = Some(16))
    }
    assert(jobs <= 3, s"the merge ran $jobs jobs")
    val writes = plans.filter(find(_)(_.isInstanceOf[DataWritingCommandExec]).nonEmpty)
    assert(writes.size === 1, plans.mkString("\n"))
    val write = writes.head
    assert(collect(write) { case e: ShuffleExchangeLike => e }.size === 1, write)
    assert(collect(write) { case e: BroadcastExchangeLike => e }.isEmpty, write)
    // every batch key with a history passes the predicates, so the table
    // is a full refresh
    val got = spark.read.parquet(path).drop(ScdEngine.BucketCol)
    val history = (1 to 200).map(k => (k, "a", 0)) ++ (1 to 200 by 7).map(k => (k, "b", 2)) ++
      Seq((3, "c", 3), (50, "c", 1), (201, "a", 3)) ++ pinB2
    val full = Scd2.initialLoad(pinBatch(history), cfg).select(got.columns.map(col).toSeq: _*)
    assert(got.exceptAll(full).count() === 0)
    assert(full.exceptAll(got).count() === 0)
  }

  test("a warm bucketed merge runs at most 3 jobs and writes over one exchange") {
    val scd2 = ScdConfig(uniqueKey = Seq("k"), deletedAtCol = Some("deleted_at"))
    def batch(rs: Seq[(Int, String, Int)]): DataFrame =
      rs.map { case (k, v, s) => (k, v, slot(s), null: java.sql.Timestamp) }
        .toDF("k", "v", "_updated_at", "deleted_at")
    val history = (1 to 200).map(k => (k, "a", 0)) ++ (1 to 200 by 7).map(k => (k, "b", 2))
    val b1 = Seq((3, "c", 3), (50, "c", 1), (201, "a", 3))
    val b2 = Seq((8, "d", 4), (99, "a", 1), (150, "d", 5), (202, "a", 4))
    // types 0 and 1 take the same merge shape
    for (cfg <- Seq(scd2, ScdConfig(uniqueKey = Seq("k"), scdType = 0),
                    ScdConfig(uniqueKey = Seq("k"), scdType = 1))) withClue(s"SCD${cfg.scdType}: ") {
      val path = tempPath("pin")
      ScdEngine.merge(spark, batch(history), path, cfg, numBuckets = Some(16))
      ScdEngine.merge(spark, batch(b1), path, cfg, numBuckets = Some(16)) // warm
      val (_, jobs, plans) = plansDuring {
        ScdEngine.merge(spark, batch(b2), path, cfg, numBuckets = Some(16))
      }
      assert(jobs <= 3, s"the merge ran $jobs jobs")
      val writes = plans.filter(find(_)(_.isInstanceOf[DataWritingCommandExec]).nonEmpty)
      assert(writes.size === 1, plans.mkString("\n"))
      val write = writes.head
      assert(collect(write) { case e: ShuffleExchangeLike => e }.size === 1, write)
      assert(collect(write) { case e: BroadcastExchangeLike => e }.isEmpty, write)
      // the slice's two (bucket, keys) sorts, one for the merge's windows
      // and the write's sort by bucket
      assert(collect(write) { case s: SortExec => s }.size <= 4, write)

      // type 1 lets the later batch win even with a back-dated row (keys 50
      // and 99) and keeps a key's first-seen _valid_from, neither of which a
      // single load of all the batches can know: its table is the
      // unbucketed operator's merges
      val got = spark.read.parquet(path).drop(ScdEngine.BucketCol)
      val full = (cfg.scdType match {
        case 2 => Scd2.initialLoad(batch(history ++ b1 ++ b2), cfg)
        case 0 => Scd01.initialLoad(batch(history ++ b1 ++ b2), cfg)
        case _ => Seq(b1, b2).foldLeft(Scd01.initialLoad(batch(history), cfg))(
                    (t, b) => Scd01.incremental(t, batch(b), cfg))
      }).select(got.columns.map(col).toSeq: _*)
      assert(got.exceptAll(full).count() === 0)
      assert(full.exceptAll(got).count() === 0)
    }
  }

  test("types 0/1 merge every stored row a batch key selects, and insert beside none") {
    // key k holds two stored rows: the first merge's predicate leaves the
    // stored 'a' out, so it passes through and the batch's 'b' lands beside
    // it; the next merge, without predicates, selects both
    def batch(k: Option[Int], v: String, day: Int): DataFrame =
      Seq((k, v, slot(day)), (Some(2), "x", slot(0))).toDF("k", "v", "_updated_at")
    for (scdType <- Seq(0, 1); k <- Seq(Some(1), None)) withClue(s"SCD$scdType, k = $k: ") {
      val cfg = ScdConfig(uniqueKey = Seq("k"), scdType = scdType)
      val excluding = cfg.copy(incrementalPredicates = Seq("v <> 'a'"))
      val (b0, b1, b2) = (batch(k, "a", 0), batch(k, "b", 1), batch(k, "c", 2))
      val path = tempPath(s"scd$scdType")
      for ((b, c) <- Seq(b0 -> cfg, b1 -> excluding, b2 -> cfg))
        ScdEngine.merge(spark, b, path, c, numBuckets = Some(4))
      val viaOperator = Scd01.incremental(
        Scd01.incremental(Scd01.initialLoad(b0, cfg), b1, excluding), b2, cfg)
      // (k, v, _updated_at, _valid_from); key 2 is re-sent unchanged
      val want =
        if (scdType == 1) Seq((k, "c", slot(2), slot(0)), (k, "c", slot(2), slot(1)),
                              (Some(2), "x", slot(0), slot(0)))
        else Seq((k, "a", slot(0), slot(0)), (k, "b", slot(1), slot(1)),
                 (Some(2), "x", slot(0), slot(0)))
      for ((name, got) <- Seq("Scd01.incremental" -> viaOperator,
                              "bucketed ScdEngine.merge" -> spark.read.parquet(path))) {
        val rows = got.select("k", "v", "_updated_at", "_valid_from")
          .as[(Option[Int], String, java.sql.Timestamp, java.sql.Timestamp)].collect().toSeq
        assert(rows.sortBy(r => (r._1.getOrElse(-1), r._4.getTime)) ===
                 want.sortBy(r => (r._1.getOrElse(-1), r._4.getTime)), name)
      }
    }
  }
}
