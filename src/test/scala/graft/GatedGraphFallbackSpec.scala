package graft

import org.apache.spark.sql.functions._

import graft.operators.Graph

/** The gated driver-loop graph operators must DEGRADE past their edge
  * gate, not throw (round-8 verdict ask): each operator's distributed
  * fallback is checked against the driver path on the same input — the
  * driver loop is the oracle, since the gate queries hash-match DuckDB
  * through it — including one synthetic graph ABOVE the 1e5-edge gate.
  */
class GatedGraphFallbackSpec extends SparkTestBase {

  // deterministic pseudo-random multigraph on `n` nodes with ~`m` distinct
  // edges (src < dst); a chain is mixed in so it is connected and has
  // cycles, articulation points, and a non-trivial matching
  private def synthetic(n: Long, m: Long) = {
    val rnd = spark.range(m).select(
      pmod(xxhash64(col("id")), lit(n)).as("a"),
      pmod(xxhash64(col("id"), lit(1L)), lit(n)).as("b"),
      (pmod(xxhash64(col("id"), lit(2L)), lit(1000L)) + 1L).as("n"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("src"),
              greatest(col("a"), col("b")).as("dst"), col("n"))
    val chain = spark.range(n - 1).select(
      col("id").as("src"), (col("id") + 1L).as("dst"),
      (pmod(col("id"), lit(1000L)) + 1L).as("n"))
    rnd.unionByName(chain)
      .groupBy("src", "dst").agg(max(col("n")).as("n"))
      .localCheckpoint(false)
  }

  private def asSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  test("greedyMatching degrades past the gate: >1e5-edge graph, distributed == driver") {
    val g = synthetic(2000L, 160000L)
      .select(col("src").as("x"), col("dst").as("y"), col("n").as("w"))
    val edges = g.count()
    assert(edges > 100000L, s"synthetic graph too small: $edges")
    // default gate (1e5) forces the distributed path; MaxValue forces the
    // driver loop — the gate queries' oracle-verified semantics
    val dist = Graph.greedyMatching(g, rounds = 6)
    val drv = Graph.greedyMatching(g, rounds = 6,
                                   gateEdges = Long.MaxValue)
    assert(asSet(dist) === asSet(drv))
    assert(dist.count() > 0L)
  }

  test("girthPerEdge: distributed fallback == driver BFS") {
    val g = synthetic(60L, 400L).select("src", "dst")
    val dist = Graph.girthPerEdge(g, gateEdges = 0L)
    val drv = Graph.girthPerEdge(g, gateEdges = Long.MaxValue)
    assert(asSet(dist) === asSet(drv))
  }

  test("articulationPoints: distributed fallback == driver BFS") {
    val g = synthetic(80L, 300L).select("src", "dst")
    val dist = Graph.articulationPoints(g, gateEdges = 0L)
    val drv = Graph.articulationPoints(g, gateEdges = Long.MaxValue)
    assert(asSet(dist) === asSet(drv))
    // the chain mixed into the synthetic graph guarantees at least one
    // cut vertex unless the random edges bridged every removal
    assert(drv.count() > 0L)
  }

  test("percolationSweep: distributed fallback == driver DFS") {
    val g = synthetic(80L, 500L)
    val ths = Seq(1L, 250L, 500L, 750L, 990L)
    val dist = Graph.percolationSweep(g, ths, gateEdges = 0L)
    val drv = Graph.percolationSweep(g, ths, gateEdges = Long.MaxValue)
    assert(asSet(dist) === asSet(drv))
  }
}
