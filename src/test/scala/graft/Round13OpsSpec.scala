package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.Graph
import graft.streaming.RateLimitStream

/** Round-9 operators: change feed classification, exact betweenness vs a
  * plain-Scala Brandes reference, the streaming rate limiter vs a local
  * fold, and greedy-matching tie determinism across both planning paths.
  */
class Round13OpsSpec extends SparkTestBase {

  import spark.implicits._

  test("changeFeed: I/U/D classification, null-safe compare, unchanged dropped") {
    val root = java.nio.file.Files.createTempDirectory("cf").toString + "/t"
    VersionedTable.publish(spark,
      Seq((1L, Some("a"), 10L), (2L, None, 20L), (3L, Some("c"), 30L),
          (4L, Some("d"), 40L))
        .toDF("k", "v", "n"), root)
    VersionedTable.publish(spark,
      Seq((1L, Some("a"), 10L),          // unchanged -> dropped
          (2L, Some("b"), 20L),          // null -> value: U
          (3L, Some("c"), 31L),          // value change: U
          (5L, Some("e"), 50L))          // new: I  (4 deleted: D)
        .toDF("k", "v", "n"), root)
    val cf = VersionedTable.changeFeed(spark, root, 1L, 2L, Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cf === Map(2L -> "U", 3L -> "U", 4L -> "D", 5L -> "I"))
  }

  test("betweennessExact == plain-Scala Brandes on a random graph") {
    val rnd = new scala.util.Random(43)
    val edges0 = (0 until 40).map(_ =>
      (rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    val gotMap = Graph.betweennessExact(edges0.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap

    // reference: BFS σ from every root, then the same pinned sum
    val adj = (edges0 ++ edges0.map(_.swap))
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).distinct }
    val nodes = adj.keys.toSeq.sorted
    def bfs(root: Long): Map[Long, (Long, Long)] = { // node -> (d, sigma)
      var out = Map(root -> (0L, 1L))
      var frontier = Seq(root)
      var d = 0L
      while (frontier.nonEmpty) {
        d += 1
        val arrivals = frontier.flatMap(u =>
            adj.getOrElse(u, Seq.empty).map(v => v -> out(u)._2))
          .filterNot { case (v, _) => out.contains(v) }
          .groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2).sum }
        out ++= arrivals.map { case (v, sig) => v -> (d, sig) }
        frontier = arrivals.keys.toSeq
      }
      out
    }
    val sig = nodes.map(r => r -> bfs(r)).toMap
    val exp = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    for (sNode <- nodes; v <- nodes; t <- nodes
         if v != sNode && v != t && sNode != t) {
      (sig(sNode).get(v), sig(v).get(t), sig(sNode).get(t)) match {
        case (Some((d1, s1)), Some((d2, s2)), Some((d, st)))
            if d1 + d2 == d =>
          val (bc, np) = exp.getOrElse(v, (0L, 0L))
          exp(v) = (bc + s1 * s2 * 1000000L / st, np + 1L)
        case _ => ()
      }
    }
    assert(gotMap === exp.toMap)
  }

  test("RateLimitStream decisions == local fold over the same feed") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = session.sqlContext
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    // user 1: burst of 4 at t0 (2 accepted), one at +2h1min (1 refilled),
    // one at +2h2min (rejected); user 2: widely spaced, all accepted
    val feed = Seq(
      (1L, ts(0L), 1L), (1L, ts(1000L), 2L), (1L, ts(2000L), 3L),
      (1L, ts(3000L), 4L),
      (1L, ts(2L * 3600000L + 60000L), 5L),
      (1L, ts(2L * 3600000L + 120000L), 6L),
      (2L, ts(0L), 7L), (2L, ts(8L * 3600000L), 8L))
    val src = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val q = RateLimitStream.decisions(
        src.toDF().toDF("user_id", "ts", "event_id"))
      .writeStream.format("memory").queryName("rl_dec")
      .outputMode("append").start()
    try {
      Seq(feed.take(4), feed.slice(4, 6), feed.drop(6))
        .foreach { b => src.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    val got = spark.table("rl_dec").collect()
      .map(r => r.getLong(1) -> r.getBoolean(2)).toMap
    // local fold reference
    val exp = feed.groupBy(_._1).flatMap { case (_, evs) =>
      var p = -1L; var tk = 2000L
      evs.sortBy(e => (e._2.getTime, e._3)).map { e =>
        val micros = e._2.getTime * 1000L
        val refill = if (p < 0) 0L else (micros - p) / 7200000L
        val t = math.min(2000L, tk + refill)
        val acc = t >= 1000L
        tk = if (acc) t - 1000L else t
        p = micros
        e._3 -> acc
      }
    }.toMap
    assert(got === exp)
    assert(got(1L) && got(2L) && !got(3L) && !got(4L)) // burst capped at 2
    assert(got(5L) && !got(6L)) // one refill after 2h, not two
  }

  test("RateLimitStream: cross-batch out-of-order event cannot drain or rewind the bucket") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = session.sqlContext
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val H = 3600000L
    // batch 1: event at t=8h (accepted; clock -> 8h, 1000 milli left).
    // batch 2: LATE event at t=0 — before the clamp this minted a NEGATIVE
    // refill (-4000 milli: rejected with tokens drained) and rewound the
    // clock to 0, so batch 3's event at t=10h re-counted the whole 10h.
    // Clamped + monotone: the late event is charged at current state
    // (accepted, 0 left), clock stays 8h, and t=10h refills exactly 2h.
    val feed = Seq(
      Seq((1L, ts(8L * H), 1L)),
      Seq((1L, ts(0L), 2L)),
      Seq((1L, ts(10L * H), 3L), (1L, ts(10L * H + 60000L), 4L)))
    val src = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val q = RateLimitStream.decisions(
        src.toDF().toDF("user_id", "ts", "event_id"))
      .writeStream.format("memory").queryName("rl_ooo")
      .outputMode("append").start()
    try {
      feed.foreach { b => src.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    val got = spark.table("rl_ooo").collect()
      .map(r => r.getLong(1) -> r.getBoolean(2)).toMap
    assert(got === Map(1L -> true, 2L -> true, 3L -> true, 4L -> false))
  }

  test("greedyMatching: equal weights resolve by (x, y) in BOTH paths") {
    val g = Seq((1L, 2L, 5L), (1L, 3L, 5L), (2L, 3L, 5L), (4L, 5L, 5L))
      .toDF("x", "y", "w")
    def run(gate: Long) = Graph.greedyMatching(g, rounds = 4, gate)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // heaviest incident of 1 is (1,2) (tie -> smallest (x,y)); of 2 also
    // (1,2): matched. 3 left unmatched this round and stays (both
    // neighbors gone). (4,5) matches.
    val expected = Set((1L, 2L), (4L, 5L))
    assert(run(Long.MaxValue) === expected) // driver path
    assert(run(0L) === expected)            // distributed path
  }
}
