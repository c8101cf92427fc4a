package graft

import graft.operators.Graph

/** k-core peeling and integer HITS: distributed sweeps vs naive driver-side
  * reference implementations on seeded random graphs.
  */
class GraphCoreSpec extends SparkTestBase {

  import spark.implicits._

  test("Graph.kcore == naive fixpoint peel on random graphs") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val n = 40
      val edges = (1 to 160).map { _ =>
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(e => e._1 != e._2).distinct
      val k = 2 + trial
      // naive peel to fixpoint
      var alive = edges.flatMap(e => Seq(e._1, e._2)).toSet
      var changed = true
      var deg = Map.empty[Long, Int]
      while (changed) {
        val sub = edges.filter(e => alive(e._1) && alive(e._2))
        deg = sub.flatMap(e => Seq(e._1, e._2))
          .groupBy(identity).map { case (x, xs) => x -> xs.size }
        val next = deg.filter(_._2 >= k).keySet
        changed = next != alive
        alive = next
      }
      val got = Graph.kcore(edges.toDF("src", "dst"), k, sweeps = n)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.keySet === alive, s"trial $trial survivors")
      assert(got === alive.map(x => x -> deg(x).toLong).toMap,
             s"trial $trial degrees")
    }
  }

  test("Graph.kcore partial peel is the deterministic round-r set") {
    // path graph 1-2-3-4-5 plus a triangle 10-11-12: k=2 peels the path
    // one endpoint per sweep from each side; the triangle survives.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
                    (10L, 11L), (11L, 12L), (10L, 12L)).toDF("src", "dst")
    // sweep 1 drops 1 and 5; sweep 2 drops 2 and 4; sweep 3 drops 3
    val afterTwo = Graph.kcore(edges, k = 2, sweeps = 2)
      .select("node").as[Long].collect().toSet
    assert(afterTwo === Set(3L, 10L, 11L, 12L))
    val converged = Graph.kcore(edges, k = 2, sweeps = 4)
      .select("node").as[Long].collect().toSet
    assert(converged === Set(10L, 11L, 12L))
  }

  test("Graph.hits == naive iterate on a random bipartite-ish digraph") {
    val rnd = new scala.util.Random(23)
    val edges = (1 to 120).map { _ =>
      (rnd.nextInt(15).toLong, 100L + rnd.nextInt(25).toLong)
    }.distinct
    // naive unnormalized HITS, 2 iterations from h=1
    var h = edges.map(_._1).distinct.map(_ -> 1L).toMap
    var a = Map.empty[Long, Long]
    for (_ <- 1 to 2) {
      a = edges.groupBy(_._2).map { case (d, es) =>
        d -> es.map(e => h.getOrElse(e._1, 0L)).sum }
      h = edges.groupBy(_._1).map { case (s, es) =>
        s -> es.map(e => a.getOrElse(e._2, 0L)).sum }
    }
    val got = Graph.hits(edges.toDF("src", "dst"), iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val gotH = got.filter(_._2 > 0).map(t => t._1 -> t._2).toMap
    val gotA = got.filter(_._3 > 0).map(t => t._1 -> t._3).toMap
    assert(gotH === h)
    assert(gotA === a)
  }
}
