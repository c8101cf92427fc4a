package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed graph statistics over edge lists derived from fact tables.
  *
  * The reference surface has no graph operator; this is the
  * beyond-reference tier (SURVEY §2.12) serving training-data curation:
  * co-occurrence graphs (parts bought together, docs sharing shingles)
  * are the substrate for community detection and leakage analysis, and
  * triangle/closure statistics are the standard graph-health numbers.
  *
  * Scale design: everything is an equi-join on edge endpoints — no
  * adjacency lists collected to the driver, no vertex-centric iteration.
  * Triangle counting uses the degree-ordered orientation (each edge is
  * directed from its lower-(degree, id) endpoint to the higher one), the
  * classic trick that bounds every vertex's out-degree by O(sqrt(|E|)) on
  * skewed graphs, so the wedge join never explodes on a hub vertex the
  * way naive id-ordering does. All outputs are integer-exact counts.
  */
object Graph {

  /** Edge-count gate under which the iterative operators run their round
    * folds on the DRIVER instead of as per-round Spark jobs (the
    * `Dedup.clusterPairs` / [[greedyMatching]] precedent, extended
    * library-wide in round 15): the dimension-grain graphs these queries
    * feed (nation trade ≤ 625 arcs, brand/part co-occurrence after
    * strong-edge filters) spend seconds on per-round scheduling where the
    * driver fold costs milliseconds — and the collected relation is
    * bounded by this gate, so driver memory stays bounded by
    * construction. Above the gate the distributed fold runs unchanged;
    * results are bit-identical across the gate (pinned in
    * GraphLocalGateSpec — every mirror reproduces the exact integer
    * arithmetic, node universe, edge multiplicity, and fixed-round
    * semantics of its distributed twin). [[LocalGate]] runs the gate;
    * operators that do not cast their endpoints guard them as LongType.
    */
  private[graft] val SmallGraphGate = 100000L

  /** Distinct undirected co-occurrence edges (src < dst) between items
    * sharing a group: one self-equi-join on the group key over the
    * DISTINCT (group, item) projection — dedup BEFORE the join so a group
    * containing an item k times contributes each pair once, and the join
    * input is as small as possible.
    */
  def coOccurrenceEdges(df: DataFrame, groupCol: String,
                        itemCol: String, minCount: Int = 1): DataFrame =
    // minCount > 1 keeps only REPEATED co-occurrences — on dense group
    // data (median co-purchase degree >100 at sf0.1) the raw graph's
    // Σdeg² makes wedge-enumerating consumers (link prediction, k-core)
    // quadratic; the strong-edge graph carries the signal at ~1/10⁴ the
    // wedge volume.
    coOccurrenceCounted(df, groupCol, itemCol)
      .filter(col("_n") >= minCount).select(col("src"), col("dst"))

  /** The counted pair relation behind [[coOccurrenceEdges]]:
    * (src, dst, _n) with src < dst.
    */
  def coOccurrenceCounted(df: DataFrame, groupCol: String,
                          itemCol: String): DataFrame = {
    val gi = df.select(col(groupCol).as("_g"), col(itemCol).as("_i")).distinct()
    gi.as("_l").join(gi.as("_r"), col("_l._g") === col("_r._g"))
      .filter(col("_l._i") < col("_r._i"))
      .groupBy(col("_l._i").as("src"), col("_r._i").as("dst"))
      .agg(count(lit(1)).as("_n"))
  }

  // Per-JVM disk cache for the counted pair relation.
  private lazy val edgeCacheDir: String =
    graft.plans.ResultCache.jvmDir("graft_edge_cache")

  /** [[coOccurrenceEdges]] through `plans.ResultCache` on a per-JVM temp
    * dir. Seven gate queries (triangles, degree distribution, neighbor
    * Jaccard, PageRank, k-core, label propagation, connected components)
    * derive from the SAME co-purchase pair build — the most expensive
    * shared subplan in the suite (~8 s at sf0.1). The counted relation is
    * materialized once per (plan fingerprint + input-file content token,
    * so an in-place source rewrite re-keys instead of serving stale rows)
    * and every variant — any
    * `minCount` — reads the files back; results are byte-identical to the
    * direct computation (the cache returns the same rows, and every
    * consumer aggregates). This is the materialized-view discipline a
    * 100 TB deployment would use for a shared derived table, expressed
    * with the library's own result cache.
    */
  def coOccurrenceEdgesCached(df: DataFrame, groupCol: String,
                              itemCol: String, minCount: Int = 1): DataFrame =
    coOccurrenceCountedCached(df, groupCol, itemCol)
      .filter(col("_n") >= minCount).select(col("src"), col("dst"))

  /** The COUNTED cached relation behind [[coOccurrenceEdgesCached]] —
    * (src, dst, _n) — for consumers that need the co-occurrence count
    * itself (e.g. edge weights), sharing the same materialization.
    */
  def coOccurrenceCountedCached(df: DataFrame, groupCol: String,
                                itemCol: String): DataFrame = {
    val (counted, _) = graft.plans.ResultCache.through(
      coOccurrenceCounted(df, groupCol, itemCol), edgeCacheDir)
    counted
  }

  /** One-row graph statistics: nodes, edges, wedges (open 2-paths),
    * triangles, and the global closure ratio 3*triangles/wedges in ppm.
    *
    * Triangles: orient each undirected edge from the endpoint with the
    * smaller (degree, id) to the larger, then count directed wedges
    * a→b→c whose closing edge a→c exists — each triangle is counted
    * exactly once because the orientation is a total order. Wedges use
    * the UNDIRECTED degree d: sum(d*(d-1)/2), making closure_ppm the
    * standard global clustering coefficient.
    */
  /** Max oriented-edge count for [[triangleStats]]' broadcast
    * adjacency-intersect path: the out-neighbor-array relation weighs
    * ~8 bytes per edge (plus one row per node), so 50M edges ≈ 400 MB
    * broadcast — inside a production executor budget and far under the
    * 8 GB broadcast hard cap. Past the cap the wedge join runs
    * unchanged (it never holds more than edge-sized relations in any
    * one task, at the cost of materializing the full wedge multiset
    * through an exchange).
    *
    * Retuned 10M → 50M on measurement (r16 Stress20, 16M-edge synthetic
    * co-purchase graph — 1.6× ABOVE the old cap): intersect 15.4 s vs
    * wedge 28.5 s warm at 32 cores, 25.0 vs 57.9 at 8 cores — the
    * intersect path still wins ~2× where the old cap had already
    * switched away from it. The r15 cap was sized by broadcast comfort
    * alone, not by a crossover measurement.
    */
  private[graft] val TriangleIntersectEdgeCap = 50000000L

  def triangleStats(edges0: DataFrame,
                    intersectEdgeCap: Long = TriangleIntersectEdgeCap): DataFrame = {
    // The edge list feeds the degree rollup AND the orientation join; the
    // oriented list feeds the triangle counter and (on the wedge-join
    // path) three self-join arms. Without pinning, Spark re-derives each
    // from the (often expensive) upstream co-occurrence join per
    // consumer — measured 2x end-to-end on the co-purchase graph. Both
    // relations are edge-sized, far smaller than what produced them.
    val edges = edges0.localCheckpoint()
    val deg = edges.select(col("src").as("_n"))
      .union(edges.select(col("dst").as("_n")))
      .groupBy(col("_n")).agg(count(lit(1)).as("_d"))
    // Orient by (degree, id): lower endpoint first.
    val oriented = edges
      .join(deg.withColumnRenamed("_n", "src").withColumnRenamed("_d", "_ds"),
            Seq("src"))
      .join(deg.withColumnRenamed("_n", "dst").withColumnRenamed("_d", "_dd"),
            Seq("dst"))
      .select(
        when(col("_ds") < col("_dd") ||
               (col("_ds") === col("_dd") && col("src") < col("dst")),
             struct(col("src").as("u"), col("dst").as("v")))
          .otherwise(struct(col("dst").as("u"), col("src").as("v")))
          .as("_e"))
      .select(col("_e.u").as("u"), col("_e.v").as("v"))
      .localCheckpoint()
    // r15: below [[TriangleIntersectEdgeCap]], count triangles as
    // Σ_{(u,v)∈E} |N⁺(u) ∩ N⁺(v)| over BROADCAST out-neighbor arrays —
    // each triangle is counted exactly once at its orientation-minimal
    // edge, identical to the wedge join (spec-pinned), but ZERO
    // exchanges touch the Σ indeg·outdeg wedge multiset that dominated
    // the co-purchase graph (measured 100M-row join → map-side sorted
    // array intersects; q224 12→? s). The operator's distinct-edge
    // precondition (scaladoc above) is what makes collect_list == the
    // wedge multiset here.
    val tri =
      if (oriented.count() <= intersectEdgeCap) {
        val nbrs = oriented.groupBy(col("u"))
          .agg(sort_array(collect_list(col("v"))).as("_ns"))
        oriented
          .join(broadcast(nbrs), Seq("u"), "left")
          .join(broadcast(nbrs.select(col("u").as("v"),
                                      col("_ns").as("_nsv"))),
                Seq("v"), "left")
          .select(size(array_intersect(
            coalesce(col("_ns"), expr("array()")),
            coalesce(col("_nsv"), expr("array()")))).cast("long").as("_t"))
          .agg(coalesce(sum(col("_t")), lit(0L)).as("n_triangles"))
      } else {
        oriented.as("_e1")
          .join(oriented.as("_e2"), col("_e1.v") === col("_e2.u"))
          .join(oriented.as("_e3"),
                col("_e1.u") === col("_e3.u") && col("_e2.v") === col("_e3.v"))
          .agg(count(lit(1)).as("n_triangles"))
      }
    val base = deg.agg(
      count(lit(1)).as("n_nodes"),
      expr("sum(_d) DIV 2").as("n_edges"),
      expr("sum(_d * (_d - 1) DIV 2)").as("n_wedges"))
    Seal(base.crossJoin(broadcast(tri))
      .withColumn(
        "closure_ppm",
        when(col("n_wedges") > 0,
             expr("n_triangles * 3 * 1000000L DIV n_wedges")).otherwise(0L)),
      ckpts = Seq(edges, oriented))
  }

  /** 4-clique census over an undirected edge list, one row:
    * (n_triangles, n_four_cliques, cliques_per_triangle_ppm).
    *
    * Same degree-ordered orientation as [[triangleStats]] (a DAG under the
    * (degree, id) total order, so out-degrees stay O(√E) on skewed
    * graphs): each triangle (a→b→c) is found once, and each 4-clique is
    * counted once by extending the triangle with a common out-neighbor d
    * of all three (a→d, b→d, c→d — d is the orientation-maximal member,
    * so no double counting). All joins are equi-joins on node ids; the
    * oriented relation builds once and is localCheckpoint-pinned across
    * its five consumers.
    */
  def fourCliqueStats(edges0: DataFrame): DataFrame = {
    val edges = edges0.localCheckpoint()
    val deg = edges.select(col("src").as("_n"))
      .union(edges.select(col("dst").as("_n")))
      .groupBy(col("_n")).agg(count(lit(1)).as("_d"))
    val oriented = edges
      .join(deg.withColumnRenamed("_n", "src").withColumnRenamed("_d", "_ds"),
            Seq("src"))
      .join(deg.withColumnRenamed("_n", "dst").withColumnRenamed("_d", "_dd"),
            Seq("dst"))
      .select(
        when(col("_ds") < col("_dd") ||
               (col("_ds") === col("_dd") && col("src") < col("dst")),
             struct(col("src").as("u"), col("dst").as("v")))
          .otherwise(struct(col("dst").as("u"), col("src").as("v")))
          .as("_e"))
      .select(col("_e.u").as("u"), col("_e.v").as("v"))
      .localCheckpoint()
    val tri = oriented.as("_e1")
      .join(oriented.as("_e2"), col("_e1.v") === col("_e2.u"))
      .join(oriented.as("_e3"),
            col("_e1.u") === col("_e3.u") && col("_e2.v") === col("_e3.v"))
      .select(col("_e1.u").as("a"), col("_e1.v").as("b"), col("_e2.v").as("c"))
      .localCheckpoint()
    val four = tri
      .join(oriented.as("_x"), col("a") === col("_x.u"))
      .join(oriented.as("_y"),
            col("b") === col("_y.u") && col("_x.v") === col("_y.v"))
      .join(oriented.as("_z"),
            col("c") === col("_z.u") && col("_x.v") === col("_z.v"))
      .agg(count(lit(1)).as("n_four_cliques"))
    Seal(tri.agg(count(lit(1)).as("n_triangles"))
      .crossJoin(broadcast(four))
      .withColumn("cliques_per_triangle_ppm",
        when(col("n_triangles") > 0,
             expr("n_four_cliques * 1000000L DIV n_triangles")).otherwise(0L)),
      ckpts = Seq(edges, oriented, tri))
  }

  /** Fixed-iteration integer Katz centrality over a directed edge list:
    * x⁰ = 10⁶ per node; x^{k+1}(v) = 10⁶ + α·Σ_{u→v} x^k(u) DIV 1000
    * (α in permille) — the attenuated path-count centrality (β = 1),
    * truncated at `iters` path lengths. All-integer DIV arithmetic, so
    * every engine and partitioning reproduces the scores bit-for-bit
    * (the [[pagerank]] discipline — float Katz never survives a hash
    * compare). One shuffle on dst per iteration over an edge-sized
    * relation; per-round localCheckpoint keeps the lineage flat.
    *
    * Overflow bound: the BINDING term is the pre-DIV intermediate
    * α·Σ_{u→v} x^k(u) — the sum is ≤ d_max·x^k and the α multiply happens
    * BEFORE the DIV 1000 — so callers must pick (α, iters) with
    * α·d_max·x^{iters−1} ≤ 2⁶³, i.e. roughly
    * 10⁶·α·d_max·(α·d_max/1000)^{iters−1} ≤ 2⁶³. For α = 50 and 4 rounds
    * that caps d_max ≈ 6·10³ (NOT 10⁵: the final-round α·sum intermediate
    * overflows two decades before the post-DIV score does). Larger d_max
    * needs fewer rounds, smaller α, or dividing the sum by 1000 before
    * the α multiply (at the cost of one ulp of truncation per round).
    *
    * Output: (node, katz_micro, indeg). Feed symmetric edges for an
    * undirected graph.
    */
  def katz(edges0: DataFrame, iters: Int,
           alphaPermille: Long = 50L,
           gateEdges: Long = SmallGraphGate): DataFrame = {
    require(iters >= 1 && alphaPermille >= 0)
    val spark = edges0.sparkSession
    import spark.implicits._
    val ck = new Seal.Tracker
    LocalGate(edges0.select(col("src"), col("dst")), gateEdges, ck,
              guard = Seq("src", "dst")) { (es: Array[(Long, Long)]) =>
      // Driver mirror of the distributed fold below: same node universe
      // (src ∪ dst), same edge MULTIPLICITY (no distinct — a multi-edge
      // contributes twice, exactly as the distributed join does), same
      // `1e6 + α·Σin DIV 1000` truncating arithmetic.
      val ns = (es.iterator.map(_._1) ++ es.iterator.map(_._2)).toArray.distinct
      var x = ns.iterator.map(_ -> 1000000L).toMap
      for (_ <- 1 to iters) {
        val in = scala.collection.mutable.HashMap.empty[Long, Long]
        es.foreach { case (u, v) => in.update(v, in.getOrElse(v, 0L) + x(u)) }
        x = ns.iterator.map(n =>
          n -> (1000000L + alphaPermille * in.getOrElse(n, 0L) / 1000L)).toMap
      }
      val indeg = es.groupBy(_._2).map { case (v, a) => v -> a.length.toLong }
      ck.seal(ns.toSeq.map(n => (n, x(n), indeg.getOrElse(n, 0L)))
        .toDF("node", "katz_micro", "indeg"))
    } { edges =>
      val nodes = ck.track(edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node")))
        .distinct().localCheckpoint())
      var x = nodes.withColumn("katz_micro", lit(1000000L))
      for (i <- 1 to iters) {
        val contrib = edges
          .join(x.withColumnRenamed("node", "src"), Seq("src"))
          .groupBy(col("dst").as("node"))
          .agg(sum(col("katz_micro")).as("_in"))
        // eager checkpoint: round i materializes here, so round i-1's x is
        // already dead — release as the loop walks (bounds in-call storage
        // to two rounds instead of iters)
        val prev = x
        x = nodes.join(contrib, Seq("node"), "left")
          .select(col("node"),
                  expr(s"1000000L + $alphaPermille * coalesce(_in, 0L)" +
                       " DIV 1000").as("katz_micro"))
          .localCheckpoint()
        if (i > 1) Seal.releaseCheckpoint(prev)
      }
      val indeg = edges.groupBy(col("dst").as("node"))
        .agg(count(lit(1)).as("indeg"))
      ck.track(x)
      ck.seal(x.join(indeg, Seq("node"), "left")
        .select(col("node"), col("katz_micro"),
                coalesce(col("indeg"), lit(0L)).as("indeg")))
    }
  }

  /** Fixed-point integer PageRank over a directed edge list (src → dst):
    * `iters` synchronous iterations in micro-scaled integer arithmetic —
    * per-node contribution is `pr DIV outdeg`, the update is
    * `(1e6 − dampingPpm) + dampingPpm·Σcontrib DIV 1e6`. No floats
    * anywhere, so every engine (and every partitioning) reproduces the
    * ranks bit-for-bit; float PageRank never survives a hash compare.
    *
    * Nodes are the edge SOURCES (feed symmetric edges for an undirected
    * graph, e.g. [[coOccurrenceEdges]] + its mirror); a node must appear
    * as both a source and a destination to retain rank, which symmetric
    * edges guarantee. One shuffle on dst per iteration; the edge list and
    * degree table build once and localCheckpoint.
    *
    * Output: (node, pr_micro, outdeg).
    */
  def pagerank(edges0: DataFrame, iters: Int = 3,
               dampingPpm: Long = 850000L,
               gateEdges: Long = SmallGraphGate): DataFrame = {
    require(iters >= 1 && dampingPpm >= 0 && dampingPpm <= 1000000L)
    val spark = edges0.sparkSession
    import spark.implicits._
    val ck = new Seal.Tracker
    LocalGate(edges0.select(col("src"), col("dst")), gateEdges, ck,
              guard = Seq("src", "dst")) { (es: Array[(Long, Long)]) =>
      // Driver mirror: node universe = edge SOURCES; after each round the
      // rank relation holds exactly the dsts that received ≥1 contribution
      // row (the distributed inner join's semantics — a zero contribution
      // still counts as a row), multiplicity preserved, `pr DIV outdeg`
      // then `(1e6−d) + d·Σ DIV 1e6` truncating.
      val outdeg = es.groupBy(_._1).map { case (u, a) => u -> a.length.toLong }
      val esD = es.filter { case (_, v) => outdeg.contains(v) }
      var pr: Map[Long, Long] = outdeg.map { case (u, _) => u -> 1000000L }
      for (_ <- 1 to iters) {
        val sc = scala.collection.mutable.HashMap.empty[Long, Long]
        esD.foreach { case (u, v) =>
          pr.get(u).foreach(p =>
            sc.update(v, sc.getOrElse(v, 0L) + p / outdeg(u)))
        }
        pr = sc.iterator.map { case (v, s) =>
          v -> ((1000000L - dampingPpm) + dampingPpm * s / 1000000L) }.toMap
      }
      ck.seal(pr.toSeq.map { case (n, p) => (n, p, outdeg(n)) }
        .toDF("node", "pr_micro", "outdeg"))
    } { edges =>
      val deg = ck.track(edges.groupBy(col("src"))
        .agg(count(lit(1)).as("outdeg")).localCheckpoint())
      // Attach the DESTINATION's out-degree to the edge list ONCE: each
      // iteration's rollup then carries the outdeg the next contrib needs,
      // so no per-iteration degree join exists — the plan is exactly one
      // (edges ⋈ contrib) shuffle + one rollup per iteration, and the
      // identical edge-side exchange is reused across iterations.
      val edgesD = ck.track(edges
        .join(deg.select(col("src").as("dst"),
                         col("outdeg").as("dst_outdeg")), Seq("dst"))
        .localCheckpoint())
      var pr = deg.select(col("src").as("node"), lit(1000000L).as("pr"),
                          col("outdeg"))
      for (_ <- 1 to iters) {
        val contrib = pr.select(col("node"), expr("pr DIV outdeg").as("c"))
        pr = edgesD.join(contrib, edgesD("src") === contrib("node"))
          .groupBy(col("dst"), col("dst_outdeg"))
          .agg(sum(col("c")).as("sc"))
          .select(col("dst").as("node"),
                  expr(s"${1000000L - dampingPpm}L" +
                       s" + ${dampingPpm}L * sc DIV 1000000L").as("pr"),
                  col("dst_outdeg").as("outdeg"))
      }
      ck.seal(pr.select(col("node"), col("pr").as("pr_micro"), col("outdeg")))
    }
  }

  /** Personalized PageRank in exact integer micro-units: identical loop
    * algebra to [[pagerank]] (damping in ppm, floor division, one edge⋈rank
    * shuffle per iteration) except the teleport mass lands ONLY on the
    * `seeds` set — rank init is 1e6 on seeds / 0 elsewhere and the
    * (1−d) restart term is gated on seed membership. The result ranks
    * nodes by proximity to the seeds (the standard recommendation /
    * related-items primitive) rather than by global centrality.
    *
    * Seeds are broadcast (a seed set is query-sized, never corpus-sized);
    * everything else scales exactly like [[pagerank]]. Seed nodes are
    * unioned back into every iteration's rollup with zero received mass,
    * so a seed with no in-edges (an isolated source, or a directed graph
    * without the symmetric-edge convention) keeps its (1−d) teleport term
    * instead of dropping out of the node set after one round. Like
    * [[pagerank]], the node universe is the edge SOURCES: a seed that is
    * not a source of any edge is outside the graph and gets no rank.
    *
    * Output: (node, ppr_micro, outdeg).
    */
  def personalizedPagerank(edges0: DataFrame, seeds0: DataFrame,
                           iters: Int = 3,
                           dampingPpm: Long = 850000L,
                           gateEdges: Long = SmallGraphGate): DataFrame = {
    require(iters >= 1 && dampingPpm >= 0 && dampingPpm <= 1000000L)
    val spark = edges0.sparkSession
    import spark.implicits._
    val ck = new Seal.Tracker
    LocalGate(edges0.select(col("src"), col("dst")), gateEdges, ck,
              guard = Seq("src", "dst")) { (es: Array[(Long, Long)]) =>
      // Driver mirror of the loop below: rank init s·1e6 on sources, the
      // seed∩sources zero-contribution anchor keeps in-edge-less seeds in
      // every round's rollup, and a zero contribution from a rank-0
      // source still counts as a rollup row (inner-join semantics).
      val seedSet = seeds0
        .select(col(seeds0.columns.head).cast("long")).distinct()
        .as[Long].collect().toSet
      val outdeg = es.groupBy(_._1).map { case (u, a) => u -> a.length.toLong }
      val esD = es.filter { case (_, v) => outdeg.contains(v) }
      def sOf(n: Long): Long = if (seedSet(n)) 1L else 0L
      var pr: Map[Long, Long] =
        outdeg.map { case (u, _) => u -> sOf(u) * 1000000L }
      val seedSources = outdeg.keysIterator.filter(seedSet).toArray
      for (_ <- 1 to iters) {
        val sc = scala.collection.mutable.HashMap.empty[Long, Long]
        seedSources.foreach(v => sc.getOrElseUpdate(v, 0L))
        esD.foreach { case (u, v) =>
          pr.get(u).foreach(p =>
            sc.update(v, sc.getOrElse(v, 0L) + p / outdeg(u)))
        }
        pr = sc.iterator.map { case (v, s) =>
          v -> ((1000000L - dampingPpm) * sOf(v) +
            dampingPpm * s / 1000000L) }.toMap
      }
      ck.seal(pr.toSeq.map { case (n, p) => (n, p, outdeg(n)) }
        .toDF("node", "ppr_micro", "outdeg"))
    } { edges =>
      val seeds = seeds0
        .select(col(seeds0.columns.head).cast("long").as("node")).distinct()
      val deg = ck.track(edges.groupBy(col("src"))
        .agg(count(lit(1)).as("outdeg")).localCheckpoint())
      val edgesD = ck.track(edges
        .join(deg.select(col("src").as("dst"),
                         col("outdeg").as("dst_outdeg")), Seq("dst"))
        .localCheckpoint())
      val isSeed = broadcast(seeds.withColumn("_seed", lit(1L)))
      def seedGate(df: DataFrame): DataFrame =
        df.join(isSeed, Seq("node"), "left")
          .withColumn("_s", coalesce(col("_seed"), lit(0L))).drop("_seed")
      var pr = seedGate(deg.select(col("src").as("node"), col("outdeg")))
        .select(col("node"), (col("_s") * lit(1000000L)).as("pr"),
                col("outdeg"))
      // Teleport anchor: seed ∩ sources as zero-contribution rows riding the
      // per-iteration rollup, so in-edge-less seeds survive each round.
      val seedZero = deg.join(broadcast(seeds), deg("src") === seeds("node"))
        .select(deg("src").as("dst"), deg("outdeg").as("dst_outdeg"),
                lit(0L).as("c"))
      for (_ <- 1 to iters) {
        val contrib = pr.select(col("node"), expr("pr DIV outdeg").as("c"))
        pr = seedGate(
          edgesD.join(contrib, edgesD("src") === contrib("node"))
            .select(col("dst"), col("dst_outdeg"), col("c"))
            .unionByName(seedZero)
            .groupBy(col("dst"), col("dst_outdeg"))
            .agg(sum(col("c")).as("sc"))
            .select(col("dst").as("node"), col("sc"),
                    col("dst_outdeg").as("outdeg")))
          .select(col("node"),
                  expr(s"${1000000L - dampingPpm}L * _s" +
                       s" + ${dampingPpm}L * sc DIV 1000000L").as("pr"),
                  col("outdeg"))
      }
      ck.seal(pr.select(col("node"), col("pr").as("ppr_micro"), col("outdeg")))
    }
  }

  /** Synchronous label-propagation community detection, fully
    * deterministic: labels start as node ids; each round every node takes
    * the MODE of its neighbors' labels, ties broken by the smallest label
    * (row_number over (count DESC, label ASC) — no RNG, no async update
    * order, so every engine and every partitioning converges to the same
    * labels). A fixed iteration budget keeps the cost model explicit:
    * each round is one (edges ⋈ labels) shuffle + one (node, label)
    * rollup + one per-node window — label-sized relations throughout,
    * `localCheckpoint` per round to stop lineage growth across rounds
    * (same rationale as [[pagerank]]).
    *
    * Communities differ from connected components (clusterPairs): LPA
    * splits a sparse bridge between two dense regions even though they
    * are one component. Feed symmetric edges for an undirected graph.
    *
    * Output: (node, community).
    */
  def labelPropagation(edges0: DataFrame, iters: Int = 3,
                       gateEdges: Long = SmallGraphGate): DataFrame = {
    require(iters >= 1)
    val spark = edges0.sparkSession
    import spark.implicits._
    val ck = new Seal.Tracker
    LocalGate(edges0.select(col("src"), col("dst")), gateEdges, ck,
              guard = Seq("src", "dst")) { (es: Array[(Long, Long)]) =>
      // Driver mirror: label universe = sources, neighbor labels read via
      // the edge's dst (multiplicity counts — a multi-edge votes twice),
      // mode with (count desc, label asc) tie-break; a node none of whose
      // dsts currently carry a label DROPS from the relation, exactly as
      // the distributed inner join does.
      var labels: Map[Long, Long] = es.iterator.map(_._1).toArray.distinct
        .iterator.map(n => n -> n).toMap
      for (_ <- 1 to iters) {
        val cnt = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
        es.foreach { case (u, v) =>
          labels.get(v).foreach(l =>
            cnt.update((u, l), cnt.getOrElse((u, l), 0L) + 1L))
        }
        labels = cnt.toSeq.groupBy(_._1._1).map { case (n, rows) =>
          n -> rows.map { case ((_, l), c) => (l, c) }
            .minBy { case (l, c) => (-c, l) }._1
        }
      }
      ck.seal(labels.toSeq.toDF("node", "community"))
    } { edges =>
      var labels = edges.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("lab"))
      for (i <- 1 to iters) {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("node"))
          .orderBy(col("c").desc, col("lab").asc)
        val prev = labels
        labels = edges
          .join(labels.select(col("node").as("dst"), col("lab")), Seq("dst"))
          .groupBy(col("src").as("node"), col("lab"))
          .agg(count(lit(1)).as("c"))
          .withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1)
          .select(col("node"), col("lab"))
          .localCheckpoint()
        // eager: round i materialized, round i-1's checkpoint is dead
        if (i > 1) Seal.releaseCheckpoint(prev)
      }
      ck.track(labels)
      ck.seal(labels.select(col("node"), col("lab").as("community")))
    }
  }

  /** Connected components by alternating large-star / small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * ACM SoCC 2014): every round contracts toward star graphs whose
    * centers are component minima, converging in O(log² n) rounds versus
    * the O(diameter) of plain min-label propagation
    * (`Dedup.clusterPairs`) — on a 100 TB chain-shaped dup graph that is
    * the difference between ~10 shuffle rounds and thousands. Each round
    * is two groupBy-min aggregations over the edge list; no driver-side
    * state at any size, no vertex-centric framework.
    *
    * large-star: every node's LARGER neighbors attach to the minimum of
    * its closed neighborhood; small-star: every node's smaller-or-equal
    * neighbors (and the node) attach to their minimum. Edges stay
    * canonical (hi > lo) throughout; the fixpoint is a star forest whose
    * edge (v, c) pairs each node with its component minimum.
    *
    * Output matches `Dedup.clusterPairs`: (doc_id, cluster_id,
    * cluster_size) with cluster_id = the component's minimum node id.
    */
  def connectedComponentsStar(pairs: DataFrame,
                              aCol: String = "src",
                              bCol: String = "dst",
                              maxRounds: Int = 30,
                              gateEdges: Long = SmallGraphGate): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val ck = new Seal.Tracker
    LocalGate(pairs
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("hi"),
              least(col("u"), col("v")).as("lo"))
      .distinct(), gateEdges, ck) { (es: Array[(Long, Long)]) =>
      // Driver union-find (already long-cast above): identical labels —
      // cluster_id = the component's minimum node id — and sizes; the
      // star-contraction fixpoint computes exactly this.
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) {
          val nx = parent(c); parent(c) = r; c = nx
        }
        r
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val ns = (es.iterator.map(_._1) ++ es.iterator.map(_._2)).toArray.distinct
      val lab = ns.iterator.map(n => n -> find(n)).toMap
      val size = lab.valuesIterator.toSeq.groupBy(identity)
        .map { case (c, xs) => c -> xs.size.toLong }
      ck.seal(ns.toSeq.map(n => (n, lab(n), size(lab(n))))
        .toDF("doc_id", "cluster_id", "cluster_size"))
    } { init =>
      val allNodes = ck.track(init.select(col("hi").as("node"))
        .union(init.select(col("lo").as("node")))
        .distinct().localCheckpoint(false))
      def signature(e: DataFrame): (Long, Long) = {
        // Two scalars per round decide convergence — the only driver data,
        // independent of graph size (same budget as clusterPairs' count()).
        // Hashes are masked to 32 bits before summing: ANSI mode makes a
        // full-width xxhash64 sum overflow long on a handful of edges.
        val r = e.agg(count(lit(1)),
                      coalesce(sum(xxhash64(col("hi"), col("lo"))
                                     .bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)))
          .head()
        (r.getLong(0), r.getLong(1))
      }
      var edges = init
      var sig = signature(edges)
      var rounds = 0
      var converged = false
      while (!converged && rounds < maxRounds) {
        val nbrs = edges.select(col("hi").as("u"), col("lo").as("v"))
          .union(edges.select(col("lo").as("u"), col("hi").as("v")))
        val mins = nbrs.groupBy(col("u")).agg(min(col("v")).as("_mn"))
          .select(col("u"), least(col("u"), col("_mn")).as("m"))
        val ls = nbrs.join(mins, "u")
          .filter(col("v") > col("u") && col("v") =!= col("m"))
          .select(col("v").as("hi"), col("m").as("lo"))
          .distinct()
        val sNbrs = ls.select(col("hi").as("u"), col("lo").as("v"))
        val sMins = sNbrs.groupBy(col("u")).agg(min(col("v")).as("m"))
        val ss = ck.track(sNbrs.join(sMins, "u")
          .filter(col("v") =!= col("m"))
          .select(col("v").as("hi"), col("m").as("lo"))
          .union(sMins.select(col("u").as("hi"), col("m").as("lo")))
          .distinct().localCheckpoint(false))
        val nextSig = signature(ss)
        converged = nextSig == sig
        sig = nextSig
        edges = ss
        rounds += 1
      }
      // Non-convergence must not masquerade as a result: intermediate star
      // labels are WRONG component ids. O(log² n) rounds suffice for any
      // realistic graph, so hitting the cap means the caller's budget is
      // too small (or the input is degenerate) — fail loudly.
      if (!converged)
        throw new IllegalStateException(
          s"connectedComponentsStar: no fixpoint after $maxRounds rounds; " +
            "raise maxRounds — intermediate labels are not component ids")
      val parents = edges.groupBy(col("hi").as("node"))
        .agg(min(col("lo")).as("_lab"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
      ck.seal(allNodes.join(parents, Seq("node"), "left")
        .select(col("node").as("doc_id"),
                coalesce(col("_lab"), col("node")).as("cluster_id"))
        .withColumn("cluster_size", count(lit(1)).over(w)))
    }
  }

  /** Multi-source BFS: minimum hop distance from any seed, bounded by
    * `maxHops`. One frontier⋈edges shuffle plus a visited anti-join per
    * level — level-synchronous, the standard distributed BFS; frontier
    * rows only (never the full reachable set) flow through each round's
    * join. Output: (node, hop) for every node within `maxHops`.
    */
  def bfsHops(edges0: DataFrame, seeds: DataFrame, maxHops: Int,
              gateEdges: Long = SmallGraphGate): DataFrame = {
    val spark = edges0.sparkSession
    import spark.implicits._
    val ck = new Seal.Tracker
    val e = edges0.select(col("src").cast("long").as("src"),
                          col("dst").cast("long").as("dst"))
    LocalGate(e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct(), gateEdges, ck) { (arcs: Array[(Long, Long)]) =>
      // Driver BFS (already long-cast): seeds at hop 0 — including seeds
      // with no edges, exactly as the distributed visited init keeps them.
      val adj = arcs.groupBy(_._1)
        .map { case (u, a) => u -> a.map(_._2) }
      val vis = scala.collection.mutable.LinkedHashMap.empty[Long, Int]
      seeds.select(col(seeds.columns.head).cast("long")).distinct()
        .as[Long].collect().foreach(n => vis.update(n, 0))
      var frontier = vis.keysIterator.toArray
      var h = 1
      while (h <= maxHops && frontier.nonEmpty) {
        frontier = frontier.flatMap(n => adj.getOrElse(n, Array.empty[Long]))
          .distinct.filterNot(vis.contains)
        frontier.foreach(n => vis.update(n, h))
        h += 1
      }
      ck.seal(vis.toSeq.toDF("node", "hop"))
    } { sym =>
      var visited = ck.track(seeds
        .select(col(seeds.columns.head).cast("long").as("node")).distinct()
        .withColumn("hop", lit(0)).localCheckpoint(false))
      var frontier = visited.select("node")
      var h = 1
      var exhausted = false
      while (h <= maxHops && !exhausted) {
        val next = ck.track(frontier.join(sym, frontier("node") === sym("src"))
          .select(sym("dst").as("node")).distinct()
          .join(visited, Seq("node"), "left_anti")
          .withColumn("hop", lit(h)).localCheckpoint(false))
        // One count per level: materializes the checkpoint and decides
        // whether the frontier died out before the hop budget.
        exhausted = next.count() == 0L
        visited = ck.track(visited.union(next).localCheckpoint(false))
        frontier = next.select("node")
        h += 1
      }
      ck.seal(visited)
    }
  }

  /** Bounded-hop single-source shortest paths by synchronous Bellman-Ford
    * relaxation (the Pregel pattern): `rounds` sweeps, each one
    * distance ⋈ edges shuffle join followed by a min-combine, exact for
    * every path of ≤ `rounds` edges. Unlike [[bfsHops]] there is no
    * early-exit count — the plan is a fixed composition of `rounds`
    * joins, so the whole computation is one job; lineage is truncated per
    * sweep so the DAG stays linear in `rounds`, not exponential.
    *
    * `edges`: directed (src, dst, cost: long ≥ 0). `seed`: (node) rows at
    * distance 0. Output: (node, cost) for every node reachable in ≤
    * `rounds` hops, cost = exact min path cost over those paths.
    */
  def ssspRelax(edges: DataFrame, seed: DataFrame, rounds: Int,
                gateEdges: Long = SmallGraphGate): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val ck = new Seal.Tracker
    LocalGate(edges.select(col("src").cast("long").as("src"),
                           col("dst").cast("long").as("dst"),
                           col("cost").cast("long").as("cost")),
              gateEdges, ck) { (es: Array[(Long, Long, Long)]) =>
      // Driver Bellman-Ford (already long-cast): exactly `rounds` sweeps,
      // each relaxing from the PREVIOUS sweep's distance snapshot (the
      // synchronous semantics of the union + min-combine below).
      var dist: Map[Long, Long] = seed
        .select(col(seed.columns.head).cast("long")).distinct()
        .as[Long].collect().iterator.map(_ -> 0L).toMap
      for (_ <- 1 to rounds) {
        val next = scala.collection.mutable.HashMap.empty[Long, Long]
        dist.foreach { case (n, c) => next.update(n, c) }
        es.foreach { case (u, v, c) =>
          dist.get(u).foreach { du =>
            val cand = du + c
            if (!next.contains(v) || cand < next(v)) next.update(v, cand)
          }
        }
        dist = next.toMap
      }
      ck.seal(dist.toSeq.toDF("node", "cost"))
    } { e =>
      var dist = seed.select(col(seed.columns.head).cast("long").as("node"))
        .distinct().withColumn("cost", lit(0L))
      for (_ <- 1 to rounds) {
        val d = dist.as("d")
        val relaxed = d.join(e.as("e"), col("d.node") === col("e.src"))
          .select(col("e.dst").as("node"),
                  (col("d.cost") + col("e.cost")).as("cost"))
        dist = ck.track(dist.unionAll(relaxed)
          .groupBy(col("node")).agg(min(col("cost")).as("cost"))
          .localCheckpoint(false))
      }
      ck.seal(dist)
    }
  }

  /** Longest-path levels of a DAG via `sweeps` relaxation rounds:
    * lvl(v) ← max(lvl(v), max over arcs (u,v) of lvl(u)+1) from lvl ≡ 0.
    * With sweeps ≥ the longest path length the fixpoint is the exact
    * topological LEVEL (the Kahn layer under longest-path ranking — v's
    * scheduling depth); fewer sweeps = the deterministic partial relax
    * (the kcore/ssspRelax fixed-sweep contract). One arcs⋈lvl join + one
    * max rollup per sweep — the relaxation never enumerates paths, which
    * a dense monotone DAG has exponentially many of; lineage is truncated
    * periodically. Acyclicity is the caller's contract (e.g. the
    * monotone src<dst trade orientation).
    */
  def longestPathLevels(edges0: DataFrame, sweeps: Int,
                        gateEdges: Long = SmallGraphGate): DataFrame = {
    val spark = edges0.sparkSession
    import spark.implicits._
    val ck = new Seal.Tracker
    LocalGate(edges0.select(col("src").cast("long").as("src"),
                            col("dst").cast("long").as("dst")).distinct(),
              gateEdges, ck) { (es: Array[(Long, Long)]) =>
      // Driver relaxation (already long-cast + distinct): `sweeps` max
      // sweeps from lvl ≡ 0 over the src ∪ dst universe, each from the
      // previous sweep's snapshot.
      val ns = (es.iterator.map(_._1) ++ es.iterator.map(_._2)).toArray.distinct
      var lvl: Map[Long, Long] = ns.iterator.map(_ -> 0L).toMap
      for (_ <- 1 to sweeps) {
        val next = scala.collection.mutable.HashMap.empty[Long, Long]
        lvl.foreach { case (n, l) => next.update(n, l) }
        es.foreach { case (u, v) =>
          val cand = lvl(u) + 1L
          if (cand > next(v)) next.update(v, cand)
        }
        lvl = next.toMap
      }
      ck.seal(lvl.toSeq.toDF("node", "lvl"))
    } { e =>
      var lvl = ck.track(e.select(col("src").as("node"))
        .unionAll(e.select(col("dst").as("node")))
        .distinct().withColumn("lvl", lit(0L)).localCheckpoint(false))
      for (i <- 1 to sweeps) {
        val relaxed = lvl.as("l").join(e.as("e"), col("l.node") === col("e.src"))
          .select(col("e.dst").as("node"), (col("l.lvl") + lit(1L)).as("lvl"))
        lvl = lvl.unionAll(relaxed)
          .groupBy(col("node")).agg(max(col("lvl")).as("lvl"))
        if (i % 6 == 0 || i == sweeps) lvl = ck.track(lvl.localCheckpoint(false))
      }
      ck.seal(lvl)
    }
  }

  /** Fixed-sweep k-core peeling: `sweeps` rounds of "drop every node whose
    * degree in the surviving induced subgraph is < k". Each sweep is two
    * semi-joins (restrict edges to surviving endpoints) + one count — the
    * same shuffle shape as one BFS level; lineage truncates per sweep.
    * The result is the exact k-core once the peel reaches its fixpoint
    * (node set stops shrinking — peeling is monotone decreasing, so with
    * sweeps ≥ the peel depth the output IS the k-core); with fewer sweeps
    * it is the deterministic partial peel, bit-reproducible in any engine
    * that unrolls the same rounds. Callers wanting a convergence proof run
    * one extra sweep and compare counts (cheap: node-set sized).
    *
    * Input: undirected distinct edges (src, dst). Output: (node, deg)
    * survivors with their degree at the LAST sweep's filter.
    */
  def kcore(edges0: DataFrame, k: Int, sweeps: Int,
            gateEdges: Long = SmallGraphGate): DataFrame = {
    val spark = edges0.sparkSession
    import spark.implicits._
    val ck = new Seal.Tracker
    val e = edges0.select(col("src").cast("long").as("src"),
                          col("dst").cast("long").as("dst")).distinct()
    LocalGate(e.union(e.select(col("dst").as("src"), col("src").as("dst"))),
              gateEdges, ck) { (arcs: Array[(Long, Long)]) =>
      // Driver peel (already long-cast): identical incremental-decrement
      // loop — full first degree count, then per sweep only the edges
      // incident to the just-removed set, ending early at the fixpoint or
      // at the sweep budget, whichever first. Note sym deliberately keeps
      // a (a,b)+(b,a) input pair as two arcs each way, exactly as the
      // union above does.
      val deg = scala.collection.mutable.HashMap.empty[Long, Long]
      arcs.foreach { case (u, _) => deg.update(u, deg.getOrElse(u, 0L) + 1L) }
      var removed = deg.iterator.filter(_._2 < k).map(_._1).toArray
      removed.foreach(deg.remove)
      var sweep = 2
      var done = false
      while (sweep <= sweeps && !done) {
        if (removed.isEmpty) done = true
        else {
          val rm = removed.toSet
          val lost = scala.collection.mutable.HashMap.empty[Long, Long]
          arcs.foreach { case (u, v) =>
            if (rm(v) && deg.contains(u))
              lost.update(u, lost.getOrElse(u, 0L) + 1L)
          }
          lost.foreach { case (n, l) => deg.update(n, deg(n) - l) }
          removed = deg.iterator.filter(_._2 < k).map(_._1).toArray
          removed.foreach(deg.remove)
          sweep += 1
        }
      }
      ck.seal(deg.toSeq.toDF("node", "deg"))
    } { sym =>
      // Incremental peel: after the full first count, each sweep only
      // touches edges INCIDENT TO newly-removed nodes (semi-join on the
      // removed set) and decrements survivors' degrees — total join work
      // across all sweeps is bounded by |E|, where recomputing the induced
      // degree per sweep costs |E| PER SWEEP (measured 85 s → the full
      // recompute at 16 M edges; the peel's deltas are a fraction of
      // that). An empty removal set ends the loop early — the fixpoint is
      // reached, and continuing would change nothing, so fixed-sweep
      // reproducibility is preserved.
      val first = ck.track(sym.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("deg")).localCheckpoint(false))
      var deg = ck.track(first.filter(col("deg") >= k).localCheckpoint(false))
      var removed = ck.track(first.filter(col("deg") < k).select("node")
        .localCheckpoint(false))
      var sweep = 2
      var done = false
      while (sweep <= sweeps && !done) {
        if (removed.isEmpty) done = true
        else {
          val lost = sym
            .join(removed.withColumnRenamed("node", "dst"),
                  Seq("dst"), "left_semi")
            .groupBy(col("src").as("node"))
            .agg(count(lit(1)).as("_lost"))
          val updated = ck.track(deg.join(lost, Seq("node"), "left")
            .select(col("node"),
                    (col("deg") - coalesce(col("_lost"), lit(0L))).as("deg"))
            .localCheckpoint(false))
          removed = ck.track(updated.filter(col("deg") < k).select("node")
            .localCheckpoint(false))
          deg = ck.track(updated.filter(col("deg") >= k).localCheckpoint(false))
          sweep += 1
        }
      }
      ck.seal(deg)
    }
  }

  /** HITS hubs/authorities, integer-exact: unnormalized mutual
    * reinforcement a←Σh, h←Σa over directed edges for a fixed `iters`
    * double-sweeps, starting from h=1. Per half-sweep one equi-join + one
    * combine-enabled sum — the pagerank shuffle shape. Skipping the usual
    * L2 normalization keeps every score an exact BIGINT (the RANKING is
    * identical — normalization is a positive scalar per iteration);
    * magnitudes grow like (Σdeg²)^iters, so iters stays small (2-3) and
    * hub-heavy graphs at extreme scale would move the columns to
    * DECIMAL(38,0) before overflow territory (~1e18).
    *
    * Output: (node, hub, auth) with 0 for nodes lacking a role.
    */
  def hits(edges0: DataFrame, iters: Int,
           gateEdges: Long = SmallGraphGate): DataFrame = {
    val spark = edges0.sparkSession
    import spark.implicits._
    val ck = new Seal.Tracker
    LocalGate(edges0.select(col("src").cast("long").as("src"),
                            col("dst").cast("long").as("dst")).distinct(),
              gateEdges, ck) { (es: Array[(Long, Long)]) =>
      // Driver mirror (already long-cast + distinct): per double-sweep,
      // a(v) = Σ h(u) over in-edges whose u currently holds a hub score,
      // then h(u) = Σ a(v) over out-edges into the fresh authority set —
      // inner-join semantics (nodes out of the frontier drop), final
      // full-outer with 0 fill.
      var hub: Map[Long, Long] = es.iterator.map(_._1).toArray.distinct
        .iterator.map(_ -> 1L).toMap
      var auth: Map[Long, Long] = es.iterator.map(_._2).toArray.distinct
        .iterator.map(_ -> 0L).toMap
      for (_ <- 1 to iters) {
        val a = scala.collection.mutable.HashMap.empty[Long, Long]
        es.foreach { case (u, v) =>
          hub.get(u).foreach(h => a.update(v, a.getOrElse(v, 0L) + h)) }
        auth = a.toMap
        val hNew = scala.collection.mutable.HashMap.empty[Long, Long]
        es.foreach { case (u, v) =>
          auth.get(v).foreach(av =>
            hNew.update(u, hNew.getOrElse(u, 0L) + av)) }
        hub = hNew.toMap
      }
      val ns = (hub.keysIterator ++ auth.keysIterator).toArray.distinct
      ck.seal(ns.toSeq.map(n =>
          (n, hub.getOrElse(n, 0L), auth.getOrElse(n, 0L)))
        .toDF("node", "hub", "auth"))
    } { e =>
      var hub = ck.track(e.select(col("src").as("node")).distinct()
        .withColumn("h", lit(1L)).localCheckpoint(false))
      var auth = e.select(col("dst").as("node")).distinct()
        .withColumn("a", lit(0L))
      for (_ <- 1 to iters) {
        auth = ck.track(e.join(hub.withColumnRenamed("node", "src"), Seq("src"))
          .groupBy(col("dst").as("node")).agg(sum(col("h")).as("a"))
          .localCheckpoint(false))
        hub = ck.track(e.join(auth.withColumnRenamed("node", "dst"), Seq("dst"))
          .groupBy(col("src").as("node")).agg(sum(col("a")).as("h"))
          .localCheckpoint(false))
      }
      ck.seal(hub.join(auth, Seq("node"), "full_outer")
        .select(col("node"),
                coalesce(col("h"), lit(0L)).as("hub"),
                coalesce(col("a"), lit(0L)).as("auth")))
    }
  }

  /** Per-source bounded BFS: like [[bfsHops]] but the frontier carries its
    * root, so each of the (few) seed roots gets its own exact hop
    * distances in ONE synchronized sweep — the landmark pattern for
    * closeness/distance estimation at scale (k landmarks, k·|V| state,
    * never all-pairs). Output: (root, node, hop) with hop = min #edges
    * from that root, hop ≤ maxHops.
    */
  def multiSourceHops(edges0: DataFrame, seeds: DataFrame,
                      maxHops: Int,
                      gateEdges: Long = SmallGraphGate): DataFrame = {
    val spark = edges0.sparkSession
    import spark.implicits._
    val ck = new Seal.Tracker
    val e = edges0.select(col("src").cast("long").as("src"),
                          col("dst").cast("long").as("dst"))
    LocalGate(e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct(), gateEdges, ck) { (arcs: Array[(Long, Long)]) =>
      // Driver per-root BFS (already long-cast): one synchronized sweep
      // over all roots, roots at hop 0 even when edge-less.
      val adj = arcs.groupBy(_._1)
        .map { case (u, a) => u -> a.map(_._2) }
      val vis = scala.collection.mutable.LinkedHashMap.empty[(Long, Long), Int]
      val roots = seeds.select(col(seeds.columns.head).cast("long"))
        .distinct().as[Long].collect()
      roots.foreach(r => vis.update((r, r), 0))
      var frontier: Array[(Long, Long)] = roots.map(r => (r, r))
      var h = 1
      while (h <= maxHops && frontier.nonEmpty) {
        frontier = frontier.flatMap { case (r, n) =>
          adj.getOrElse(n, Array.empty[Long]).map(r -> _) }
          .distinct.filterNot(vis.contains)
        frontier.foreach(p => vis.update(p, h))
        h += 1
      }
      ck.seal(vis.toSeq.map { case ((r, n), hp) => (r, n, hp) }
        .toDF("root", "node", "hop"))
    } { sym =>
      var visited = ck.track(seeds
        .select(col(seeds.columns.head).cast("long").as("root")).distinct()
        .select(col("root"), col("root").as("node"))
        .withColumn("hop", lit(0)).localCheckpoint(false))
      var frontier = visited.select("root", "node")
      var h = 1
      var exhausted = false
      while (h <= maxHops && !exhausted) {
        val next = ck.track(frontier.join(sym, frontier("node") === sym("src"))
          .select(frontier("root"), sym("dst").as("node")).distinct()
          .join(visited, Seq("root", "node"), "left_anti")
          .withColumn("hop", lit(h)).localCheckpoint(false))
        exhausted = next.count() == 0L
        visited = ck.track(visited.union(next).localCheckpoint(false))
        frontier = next.select("root", "node")
        h += 1
      }
      ck.seal(visited)
    }
  }

  /** Strongly connected components on a DIRECTED graph by mutual
    * reachability: closure via `doublingRounds` rounds of path doubling
    * (R ← R ∪ R∘R covers paths of 2^rounds edges), then
    * scc_id(v) = min(v, min{u : v⇝u ∧ u⇝v}).
    *
    * The closure is O(|V|·reach) pairs — exact and cheap on the
    * dimension-grain graphs it serves here (entity/category graphs whose
    * node set is dimension-sized even at 100 TB fact scale, e.g. the
    * nation-trade graph: facts aggregate to |V|² ≤ 625 edges BEFORE the
    * graph algorithm runs). For billion-node graphs the published scale
    * path is trim + forward-backward reach partitioning instead of
    * closure; this entry point documents that boundary rather than
    * pretending closure scales past dimension grain.
    *
    * Output: (node, scc_id, scc_size).
    */
  def sccMutualReach(edges0: DataFrame, doublingRounds: Int,
                     gateEdges: Long = SmallGraphGate): DataFrame = {
    val spark = edges0.sparkSession
    import spark.implicits._
    val ck = new Seal.Tracker
    val e = edges0.select(col("src").cast("long").as("src"),
                          col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    LocalGate(e, gateEdges, ck) { (es: Array[(Long, Long)]) =>
      // Driver mirror (already long-cast + distinct): the same
      // `doublingRounds` rounds of R ← R ∪ R∘R (bounded path length
      // 2^rounds — NOT a full transitive closure, so a longer-path-only
      // mutual pair is equally invisible on both sides of the gate), then
      // scc_id(v) = min(v, min mutual peer).
      var reach: Set[(Long, Long)] = es.toSet
      for (_ <- 1 to doublingRounds) {
        val bySrc = reach.groupBy(_._1)
        val comp = reach.flatMap { case (a, x) =>
          bySrc.getOrElse(x, Set.empty).map { case (_, b) => (a, b) } }
        reach = reach ++ comp
      }
      val peers = reach.iterator.filter(p => reach((p._2, p._1)))
        .toSeq.groupBy(_._1).map { case (n, ps) => n -> ps.map(_._2).min }
      val ns = (es.iterator.map(_._1) ++ es.iterator.map(_._2)).toArray.distinct
      val sccId = ns.iterator
        .map(n => n -> math.min(n, peers.getOrElse(n, n))).toMap
      val size = sccId.valuesIterator.toSeq.groupBy(identity)
        .map { case (c, xs) => c -> xs.size.toLong }
      ck.seal(ns.toSeq.map(n => (n, sccId(n), size(sccId(n))))
        .toDF("node", "scc_id", "scc_size"))
    } { pinned =>
      var r = pinned
      for (_ <- 1 to doublingRounds) {
        val a = r.as("a"); val b = r.as("b")
        r = ck.track(r.union(a.join(b, col("a.dst") === col("b.src"))
              .select(col("a.src").as("src"), col("b.dst").as("dst")))
          .distinct().localCheckpoint(false))
      }
      val mutual = r.as("f")
        .join(r.as("g"), col("f.src") === col("g.dst") &&
                         col("f.dst") === col("g.src"))
        .select(col("f.src").as("node"), col("f.dst").as("peer"))
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
      val sccId = nodes.join(mutual, Seq("node"), "left_outer")
        .groupBy(col("node"))
        .agg(least(min(col("peer")), first(col("node"))).as("scc_id"))
        .select(col("node"),
                coalesce(col("scc_id"), col("node")).as("scc_id"))
      val sizes = sccId.groupBy(col("scc_id"))
        .agg(count(lit(1)).as("scc_size"))
      ck.seal(sccId.join(sizes, Seq("scc_id"))
        .select(col("node"), col("scc_id"), col("scc_size")))
    }
  }

  /** Luby's maximal independent set with DETERMINISTIC md5 priorities
    * (60-bit, collision-free over item ids), extracted from the q585
    * inline loop (r16): each round every undecided node beating all
    * undecided neighbors joins the MIS and knocks its neighbors out —
    * `rounds` FIXED rounds (the fixed-sweep determinism contract).
    *
    * Input must be a SYMMETRIC arc relation (src, dst) — the node
    * universe is the distinct src endpoints, exactly the inline query's
    * definition. Output: (node, in_mis) with in_mis = 1 for MIS members
    * and 0 for nodes still UNDECIDED after the round budget; knocked-out
    * neighbors do not appear (the query's declared shape).
    *
    * Small-graph driver gate ([[SmallGraphGate]]): at or below the gate
    * the rounds fold on the driver with identical md5 priorities,
    * win/knock rule, and round budget; above it (or for non-long
    * endpoints) the distributed fold runs unchanged. Identity pinned in
    * GraphLocalGateSpec.
    */
  def lubyMis(symEdges0: DataFrame, rounds: Int = 4,
              gateEdges: Long = SmallGraphGate): DataFrame = {
    val spark = symEdges0.sparkSession
    import spark.implicits._
    val ck = new Seal.Tracker
    val prio = expr("CAST(conv(substring(md5(CAST(v AS STRING)), 1, " +
                    "15), 16, 10) AS BIGINT)")
    LocalGate(symEdges0.select(col("src"), col("dst")), gateEdges, ck,
              guard = Seq("src", "dst")) { (arcs: Array[(Long, Long)]) =>
      // Driver mirror: same 60-bit md5 priority (hex prefix of the
      // decimal node string — CAST(v AS STRING) of a long IS the decimal
      // rendering), same strict-beat rule, same round budget.
      def prioOf(v: Long): Long = {
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(v.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        java.lang.Long.parseLong(hex.substring(0, 15), 16)
      }
      val nodes = arcs.map(_._1).distinct
      val pr = nodes.iterator.map(v => v -> prioOf(v)).toMap
      val adj = scala.collection.mutable.HashMap
        .empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
      arcs.foreach { case (s, d) =>
        adj.getOrElseUpdate(
          s, scala.collection.mutable.ArrayBuffer.empty[Long]) += d
      }
      var u = nodes.toSet
      val mis = scala.collection.mutable.HashSet.empty[Long]
      for (_ <- 1 to rounds) {
        val win = u.iterator.filter { v =>
          var mx = Long.MinValue // max undecided-neighbor priority
          adj.get(v).foreach(_.foreach { d =>
            if (u.contains(d) && pr(d) > mx) mx = pr(d)
          })
          mx == Long.MinValue || pr(v) > mx // none, or beats the max
        }.toSet
        mis ++= win
        val knocked = arcs.iterator
          .collect { case (s, d) if win(d) => s }.toSet
        u = u -- win -- knocked
      }
      ck.seal(
        (mis.iterator.map(v => (v, 1L)) ++ u.iterator.map(v => (v, 0L)))
          .toSeq.toDF("node", "in_mis"))
    } { sym =>
      // Distributed fold — the q585 inline loop verbatim.
      var u = ck.track(sym.select(col("src").as("v")).distinct()
        .withColumn("pr", prio).localCheckpoint(false))
      var mis = u.filter(lit(false)).select(col("v"))
      for (_ <- 1 to rounds) {
        val nbmax = sym.join(u.select(col("v").as("dst"),
                                      col("pr").as("npr")), Seq("dst"))
          .join(u.select(col("v").as("src")), Seq("src"))
          .groupBy(col("src").as("v"))
          .agg(max(col("npr")).as("mx"))
        val win = ck.track(u.join(nbmax, Seq("v"), "left")
          .filter(col("mx").isNull || col("pr") > col("mx"))
          .select("v").localCheckpoint(false))
        mis = mis.unionByName(win).distinct()
        val knocked = sym.join(win.select(col("v").as("dst")), Seq("dst"))
          .select(col("src").as("v")).distinct()
        u = ck.track(u.join(win, Seq("v"), "left_anti")
          .join(knocked, Seq("v"), "left_anti")
          .localCheckpoint(false))
      }
      ck.seal(mis.select(col("v").cast("long").as("node"), lit(1L).as("in_mis"))
        .unionByName(u.select(col("v").cast("long").as("node"),
                              lit(0L).as("in_mis"))))
    }
  }

  /** Temporal earliest-arrival closure: from every node s, the earliest
    * month/time `arr` at which each node v is reachable along a path
    * whose edge times are non-decreasing (a journey) — `rounds`
    * relaxation sweeps of arr(s,v)·edge(v,d,m≥arr) → (s,d,m), min-folded
    * against the previous state. Input: (src, dst, m); output:
    * (s, v, arr) with arr = −1 for the self row (every node reaches
    * itself before any edge).
    *
    * r16 driver gate (q543's inline loop extracted): at ≤ `gateEdges`
    * LongType edge rows the sweeps fold on the driver — the relation is
    * nation²×months-bounded there, and each distributed sweep was a full
    * checkpointed join job at the scheduling floor; above the gate the
    * moved distributed loop runs verbatim. Identity across the gate is
    * pinned in `Round23OpsSpec`; min-folding makes edge multiplicity
    * irrelevant on both paths.
    */
  def earliestArrival(edges0: DataFrame, rounds: Int,
                      gateEdges: Long = SmallGraphGate): DataFrame = {
    val spark = edges0.sparkSession
    import spark.implicits._
    val ck = new Seal.Tracker
    LocalGate(edges0.select("src", "dst", "m"), gateEdges, ck,
              guard = Seq("src", "dst", "m")) { (es: Array[(Long, Long, Long)]) =>
      val bySrc = es.groupBy(_._1)
      val ns = (es.iterator.map(_._1) ++ es.iterator.map(_._2))
        .toArray.distinct
      var arr: Map[(Long, Long), Long] =
        ns.iterator.map(n => (n, n) -> -1L).toMap
      for (_ <- 1 to rounds) {
        // relax from the PREVIOUS round's snapshot, min-folded against
        // it — exactly union + groupBy(s, v).min(arr)
        val next = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
        next ++= arr
        arr.foreach { case ((s, v), a) =>
          bySrc.getOrElse(v, Array.empty).foreach { case (_, d, m) =>
            if (m >= a) {
              val k = (s, d)
              if (m < next.getOrElse(k, Long.MaxValue)) next.update(k, m)
            }
          }
        }
        arr = next.toMap
      }
      ck.seal(arr.toSeq.map { case ((s, v), a) => (s, v, a) }
        .toDF("s", "v", "arr"))
    } { em =>
      // Distributed sweeps — the q543 inline loop verbatim.
      var arr = ck.track(em.select(col("src").as("s"))
        .union(em.select(col("dst").as("s"))).distinct()
        .select(col("s"), col("s").as("v"))
        .withColumn("arr", lit(-1L)).localCheckpoint(false))
      for (_ <- 1 to rounds) {
        val relax = arr.join(em,
            arr("v") === em("src") && em("m") >= arr("arr"))
          .select(col("s"), em("dst").as("v"), em("m").as("arr"))
        arr = ck.track(arr.union(relax).groupBy(col("s"), col("v"))
          .agg(min(col("arr")).as("arr")).localCheckpoint(false))
      }
      ck.seal(arr)
    }
  }

  /** Minimax (bottleneck) path closure: for every ordered connected pair
    * (u,v), the minimum over u→v paths of the MAXIMUM edge rank on the
    * path — the (min, max) semiring closure, computed with the same
    * path-doubling recurrence as [[sccMutualReach]] (R ← min(R, R∘R with
    * max-combine), `rounds` rounds cover paths of 2^rounds edges).
    *
    * Input must be SYMMETRIC for undirected semantics: (src, dst, r).
    * Output: (src, dst, r = minimax rank), self-pairs excluded.
    */
  def minimaxClosure(rankedEdges: DataFrame, rounds: Int,
                     gateEdges: Long = SmallGraphGate): DataFrame = {
    val spark = rankedEdges.sparkSession
    import spark.implicits._
    val ck = new Seal.Tracker
    LocalGate(rankedEdges
      .select(col("src").cast("long").as("src"),
              col("dst").cast("long").as("dst"),
              col("r").cast("long").as("r"))
      .filter(col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst")).agg(min(col("r")).as("r")),
      gateEdges, ck) { (es: Array[(Long, Long, Long)]) =>
      // Driver (min, max)-semiring doubling (already long-cast +
      // min-combined): `rounds` rounds of R ← min(R, R∘R with
      // max-combine), self-pairs excluded, from the previous round's
      // snapshot each time.
      var reach: Map[(Long, Long), Long] =
        es.iterator.map { case (s, d, rk) => (s, d) -> rk }.toMap
      for (_ <- 1 to rounds) {
        val bySrc = reach.toSeq.groupBy(_._1._1)
        val next = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
        reach.foreach { case (k, v) => next.update(k, v) }
        reach.foreach { case ((a, x), ra) =>
          bySrc.getOrElse(x, Seq.empty).foreach { case ((_, b), rb) =>
            if (a != b) {
              val cand = math.max(ra, rb)
              val key = (a, b)
              if (!next.contains(key) || cand < next(key))
                next.update(key, cand)
            }
          }
        }
        reach = next.toMap
      }
      ck.seal(reach.toSeq.map { case ((s, d), rk) => (s, d, rk) }
        .toDF("src", "dst", "r"))
    } { pinned =>
      var r = pinned
      for (_ <- 1 to rounds) {
        val a = r.as("a"); val b = r.as("b")
        val comp = a.join(b, col("a.dst") === col("b.src"))
          .select(col("a.src").as("src"), col("b.dst").as("dst"),
                  greatest(col("a.r"), col("b.r")).as("r"))
          .filter(col("src") =!= col("dst"))
        r = ck.track(r.union(comp)
          .groupBy(col("src"), col("dst")).agg(min(col("r")).as("r"))
          .localCheckpoint(false))
      }
      ck.seal(r)
    }
  }

  /** Minimum spanning forest by the cycle property over a TOTAL edge
    * order: with ranks made distinct by tiebreak, edge e=(u,v, rank r)
    * is in the MSF iff no u→v path exists using only strictly smaller
    * ranks — equivalently iff the minimax closure rank of (u,v) equals
    * e's own rank (the closure includes e itself, so minimax ≤ r always,
    * with equality exactly when no better path exists). One closure + one
    * join replaces union-find's sequential merges — the same
    * dimension-grain contract as [[sccMutualReach]]: exact and cheap when
    * the graph is entity/category-grain (facts pre-aggregate to |V|²
    * edges before the algorithm); for billion-node graphs the published
    * scale path is Boruvka rounds with hash-min contraction instead of
    * closure.
    *
    * Input: UNDIRECTED canonical edges (src < dst) with a `w` column;
    * rank = row_number over (w, src, dst) — ascending w gives the
    * minimum spanning forest, pass negated weights for the maximum one.
    * Output: the forest's edges (src, dst, w).
    */
  def mstBottleneck(edges0: DataFrame, doublingRounds: Int): DataFrame = {
    val ranked = edges0
      .select(col("src").cast("long").as("src"),
              col("dst").cast("long").as("dst"),
              col("w").cast("long").as("w"))
      .filter(col("src") < col("dst"))
      .withColumn("r", row_number().over(
        Window.partitionBy(graft.functions.DimKey.one)
          .orderBy(col("w"), col("src"), col("dst"))).cast("long"))
      .localCheckpoint(false)
    val sym = ranked.select(col("src"), col("dst"), col("r"))
      .union(ranked.select(col("dst").as("src"), col("src").as("dst"),
                           col("r")))
    // minimaxClosure returns SEALED (its own checkpoint) — this operator
    // is its caller and owns that RDD, so it joins through and releases it
    val mm = minimaxClosure(sym, doublingRounds)
    Seal(ranked.as("e")
      .join(mm.as("c"), col("e.src") === col("c.src") &&
                        col("e.dst") === col("c.dst") &&
                        col("e.r") === col("c.r"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
              col("e.w").as("w")),
      ckpts = Seq(ranked, mm))
  }

  // -------------------------------------------------------------------
  // Gated driver loops with distributed fallbacks
  //
  // Schema-bounded graphs (the nation trade network: ≤ 25² edges whatever
  // the fact volume) are fastest on the driver after the one distributed
  // rollup — a DataFrame round fold spends seconds on scheduling alone.
  // But "schema-bounded" is an input property, not an operator guarantee:
  // each operator below COUNTS the edge list first and, past `gateEdges`,
  // degrades to a distributed fold with identical semantics (the
  // Dedup.clusterPairs precedent) instead of throwing.
  // -------------------------------------------------------------------

  /** Greedy locally-heaviest matching (the ½-approx distributed matching
    * primitive): each round an edge that is the heaviest incident edge of
    * BOTH endpoints (ties by (x, y)) enters the matching and its endpoints
    * leave. Input: (x, y, w). Output: (src, dst, weight).
    *
    * Below `gateEdges` the rounds run on the driver; above, each round is
    * one vertex-partitioned window (best incident edge per vertex) + two
    * joins + two anti-joins — O(rounds) shuffles, no driver state.
    */
  def greedyMatching(edges0: DataFrame, rounds: Int,
                     gateEdges: Long = SmallGraphGate): DataFrame = {
    val spark = edges0.sparkSession
    import spark.implicits._
    val ck = new Seal.Tracker
    LocalGate(edges0
      .select(col(edges0.columns(0)).cast("long").as("x"),
              col(edges0.columns(1)).cast("long").as("y"),
              col(edges0.columns(2)).cast("long").as("w")),
      gateEdges, ck) { (es: Array[(Long, Long, Long)]) =>
      var e = es.toSeq
      val m = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      for (_ <- 1 to rounds if e.nonEmpty) {
        val best = e.flatMap { case t @ (x, y, _) => Seq(x -> t, y -> t) }
          .groupBy(_._1)
          .map { case (v, inc) =>
            v -> inc.map(_._2).minBy { case (x, y, w) => (-w, x, y) }
          }
        val pick = e.filter { case t @ (x, y, _) =>
          best.get(x).contains(t) && best.get(y).contains(t)
        }
        m ++= pick
        val matched = pick.flatMap { case (x, y, _) => Seq(x, y) }.toSet
        e = e.filterNot { case (x, y, _) => matched(x) || matched(y) }
      }
      ck.seal(m.toSeq.toDF("src", "dst", "weight"))
    } { base =>
      var e = base
      var m = base.filter(lit(false)) // empty, same schema
      var live = true
      for (_ <- 1 to rounds if live) {
        val inc = e.select(col("x").as("v"), col("x"), col("y"), col("w"))
          .unionByName(e.select(col("y").as("v"), col("x"), col("y"),
                                col("w")))
        // best incident edge per vertex — same total order as the driver
        // path's minBy((-w, x, y))
        val best = ck.track(inc.withColumn("_rk", row_number().over(
            Window.partitionBy(col("v"))
              .orderBy(col("w").desc, col("x"), col("y"))))
          .filter(col("_rk") === 1)
          .select(col("v"), col("x").as("bx"), col("y").as("by"))
          .localCheckpoint(false))
        val pick = ck.track(e
          .join(best.as("l"), col("x") === col("l.v") &&
                  col("x") === col("l.bx") && col("y") === col("l.by"))
          .join(best.as("r"), col("y") === col("r.v") &&
                  col("x") === col("r.bx") && col("y") === col("r.by"))
          .select(col("x"), col("y"), col("w"))
          .localCheckpoint(false))
        val matched = pick.select(col("x").as("v"))
          .unionByName(pick.select(col("y").as("v"))).distinct()
        m = ck.track(m.unionByName(pick).localCheckpoint(false))
        e = ck.track(e
          .join(matched.withColumnRenamed("v", "x"), Seq("x"), "left_anti")
          .join(matched.withColumnRenamed("v", "y"), Seq("y"), "left_anti")
          .localCheckpoint(false))
        live = e.count() > 0L
      }
      ck.seal(m.toDF("src", "dst", "weight"))
    }
  }

  /** Per-edge girth audit: for each undirected edge (src, dst), the
    * shortest ALTERNATIVE path between its endpoints (BFS in G∖{e}); the
    * cycle length through the edge is 1 + that distance (0 = no cycle).
    * Output: (src, dst, alt_dist, cycle_len).
    *
    * Below `gateEdges`: per-edge driver BFS. Above: one level-synchronous
    * labeled BFS over ALL edges at once — frontier rows (eid, node) join
    * the shared adjacency, with only the removed edge's own hop filtered
    * per eid; O(diameter) shuffles, state ≤ |E|·|V| rows.
    */
  def girthPerEdge(edges0: DataFrame,
                   gateEdges: Long = SmallGraphGate): DataFrame = {
    val spark = edges0.sparkSession
    import spark.implicits._
    val ck = new Seal.Tracker
    LocalGate(edges0.select(col("src").cast("long").as("src"),
                            col("dst").cast("long").as("dst")).distinct(),
              gateEdges, ck) { (rows: Array[(Long, Long)]) =>
      val edges = rows.toSeq
      val adj = (edges ++ edges.map(_.swap))
        .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }
      def dist(src: Long, tgt: Long, skip: (Long, Long)): Long = {
        var frontier = Set(src)
        val seen = scala.collection.mutable.Set(src)
        var d = 0L
        while (frontier.nonEmpty && !seen(tgt)) {
          d += 1
          frontier = frontier.flatMap(u =>
            adj.getOrElse(u, Set.empty).filter(v =>
              !seen(v) &&
              (math.min(u, v), math.max(u, v)) != skip))
          seen ++= frontier
        }
        if (seen(tgt)) d else 0L
      }
      ck.seal(edges.map { case (x, y) =>
        val alt = dist(x, y, (math.min(x, y), math.max(x, y)))
        (x, y, alt, if (alt > 0) alt + 1 else 0L)
      }.toDF("src", "dst", "alt_dist", "cycle_len"))
    } { base =>
      val e = ck.track(base.withColumn("eid", monotonically_increasing_id())
        .localCheckpoint(false))
      val adj = ck.track(base.select(col("src").as("u"), col("dst").as("v"))
        .unionByName(base.select(col("dst").as("u"), col("src").as("v")))
        .distinct().localCheckpoint(false))
      var frontier = ck.track(e.select(col("eid"), col("src"), col("dst"),
                              col("src").as("node")).localCheckpoint(false))
      var seen = ck.track(frontier.select(col("eid"), col("node"))
        .localCheckpoint(false))
      var found = ck.track(e.select(col("eid")).filter(lit(false))
        .withColumn("alt_dist", lit(0L)).localCheckpoint(false))
      var d = 0L
      var live = frontier.count() > 0L
      while (live) {
        d += 1
        val nxt = ck.track(frontier.join(adj, col("node") === col("u"))
          .filter(!(col("node") === col("src") && col("v") === col("dst")) &&
                  !(col("node") === col("dst") && col("v") === col("src")))
          .select(col("eid"), col("src"), col("dst"), col("v").as("node"))
          .distinct()
          .join(seen, Seq("eid", "node"), "left_anti")
          .localCheckpoint(false))
        val hit = nxt.filter(col("node") === col("dst"))
          .select(col("eid")).distinct().withColumn("alt_dist", lit(d))
        found = ck.track(found.unionByName(hit).localCheckpoint(false))
        seen = ck.track(seen.unionByName(nxt.select(col("eid"), col("node")))
          .localCheckpoint(false))
        frontier = ck.track(nxt
          .join(found.select("eid"), Seq("eid"), "left_anti")
          .localCheckpoint(false))
        live = frontier.count() > 0L
      }
      ck.seal(e.join(found, Seq("eid"), "left")
        .select(col("src"), col("dst"),
                coalesce(col("alt_dist"), lit(0L)).as("alt_dist"),
                when(coalesce(col("alt_dist"), lit(0L)) > 0L,
                     col("alt_dist") + 1L).otherwise(0L).as("cycle_len")))
    }
  }

  /** Articulation (cut) vertices: for each node v, BFS the residual graph
    * G∖{v} from v's smallest neighbor; v is an articulation point iff some
    * neighbor of v is unreachable. Output: (node, degree, is_articulation).
    *
    * Below `gateEdges`: per-node driver BFS. Above: one labeled BFS over
    * all removals at once — state (rm, node), the removed node filtered
    * per label; O(diameter) shuffles, state ≤ |V|² rows.
    */
  def articulationPoints(edges0: DataFrame,
                         gateEdges: Long = SmallGraphGate): DataFrame = {
    val spark = edges0.sparkSession
    import spark.implicits._
    val ck = new Seal.Tracker
    LocalGate(edges0.select(col("src").cast("long").as("src"),
                            col("dst").cast("long").as("dst")).distinct(),
              gateEdges, ck) { (rows: Array[(Long, Long)]) =>
      val edges = rows.toSeq
      val adjAll = (edges ++ edges.map(_.swap))
        .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }
      def reach(src: Long, rm: Long): Set[Long] = {
        val seen = scala.collection.mutable.Set(src)
        val stack = scala.collection.mutable.Stack(src)
        while (stack.nonEmpty) {
          val u = stack.pop()
          for (v <- adjAll.getOrElse(u, Set.empty)
               if v != rm && !seen(v)) { seen += v; stack.push(v) }
        }
        seen.toSet
      }
      ck.seal(adjAll.toSeq.map { case (v, nbs) =>
        val r = reach(nbs.min, v)
        (v, nbs.size.toLong, if (nbs.exists(n => !r(n))) 1L else 0L)
      }.toDF("node", "degree", "is_articulation"))
    } { base =>
      val adj = ck.track(base.select(col("src").as("u"), col("dst").as("v"))
        .unionByName(base.select(col("dst").as("u"), col("src").as("v")))
        .distinct().localCheckpoint(false))
      val deg = ck.track(adj.groupBy(col("u").as("node"))
        .agg(count(lit(1)).as("degree"), min(col("v")).as("start"))
        .localCheckpoint(false))
      var frontier = ck.track(deg.select(col("node").as("rm"),
                                col("start").as("node"))
        .localCheckpoint(false))
      var seen = frontier
      var live = frontier.count() > 0L
      while (live) {
        val nxt = ck.track(frontier.join(adj, col("node") === col("u"))
          .select(col("rm"), col("v").as("node"))
          .filter(col("node") =!= col("rm"))
          .distinct()
          .join(seen, Seq("rm", "node"), "left_anti")
          .localCheckpoint(false))
        seen = ck.track(seen.unionByName(nxt).localCheckpoint(false))
        frontier = nxt
        live = frontier.count() > 0L
      }
      val unreachable = adj.select(col("u").as("rm"), col("v").as("node"))
        .join(seen, Seq("rm", "node"), "left_anti")
        .select(col("rm").as("node")).distinct()
        .withColumn("_cut", lit(1L))
      ck.seal(deg.join(unreachable, Seq("node"), "left")
        .select(col("node"), col("degree"),
                coalesce(col("_cut"), lit(0L)).as("is_articulation")))
    }
  }

  /** Exact betweenness centrality, pinned-integer form: bc_ppm(v) =
    * Σ over ordered pairs (s,t), s≠v≠t, of σ_st(v)·10⁶ DIV σ_st, with
    * σ_st(v) = σ_sv·σ_vt when d(s,v)+d(v,t) = d(s,t) (the Bellman
    * criterion). Fully distributed, no driver loop:
    *
    *  1. forward σ-BFS from ALL roots in one synchronized sweep — frontier
    *     rows (root, node, cnt) join the shared adjacency, arrivals at an
    *     unvisited (root, node) sum parent counts into σ (the Brandes
    *     forward pass, level-synchronous); state ≤ |V|² rows, O(diameter)
    *     shuffles;
    *  2. one triple self-join of the (root, node, d, σ) relation evaluates
    *     every (s, v, t) — the |V|³ cost exact betweenness genuinely has
    *     (sampled-root approximation is the scale path past that).
    *
    * Output: (node, bc_ppm, n_pairs_routed) for nodes on ≥1 shortest path.
    */
  /** Canonical undirected arc relation of `edges0` (both directions,
    * distinct), checkpointed for per-round reuse.
    */
  private def symArcs(edges0: DataFrame, ck: Seal.Tracker): DataFrame = {
    val base = edges0.select(col("src").cast("long").as("src"),
                             col("dst").cast("long").as("dst"))
      .distinct()
    ck.track(base
      .unionByName(base.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint(false))
  }

  /** Brandes forward pass from every root in `seeds` (column `root`) in one
    * level-synchronous sweep: (root, node, d, sigma) for every node reached
    * — σ summed over parents at first arrival. State ≤ |seeds|·|V| rows,
    * O(diameter) shuffles.
    */
  private def sigmaBfs(sym: DataFrame, seeds: DataFrame,
                       ck: Seal.Tracker,
                       gateEdges: Long): DataFrame = {
    val spark = sym.sparkSession
    import spark.implicits._
    // Small-graph driver gate (r16, the r15 mirror discipline): the
    // per-hop arrival/visited join jobs are pure scheduling floor on
    // dimension-grain graphs. Collect is DOUBLY bounded: arcs by the edge
    // gate, and the σ-state by |roots|·|nodes| ≤ the same gate (an
    // all-pivots caller on a 100k-edge graph would otherwise build |V|²
    // driver rows). Arithmetic is the identical integer BFS: first-arrival
    // level = d, σ summed over same-level parents with arc MULTIPLICITY
    // preserved (the join sums one term per duplicate arc). `sym` comes
    // from [[symArcs]] and `seeds` from its nodes, so both are long-cast.
    LocalGate.orElse(sym, gateEdges, ck) { (arcs: Array[(Long, Long)]) =>
      val roots = seeds.as[Long].collect()
      val nNodes = arcs.iterator.map(_._1).toSet.size.toLong
      Option.when(roots.length.toLong * math.max(nNodes, 1L) <= gateEdges) {
        val adj = scala.collection.mutable.HashMap
          .empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
        arcs.foreach { case (s, d) =>
          adj.getOrElseUpdate(
            s, scala.collection.mutable.ArrayBuffer.empty[Long]) += d
        }
        val out = scala.collection.mutable
          .ArrayBuffer.empty[(Long, Long, Long, Long)]
        roots.foreach { r =>
          val dist = scala.collection.mutable.HashMap[Long, Long](r -> 0L)
          out += ((r, r, 0L, 1L))
          var frontier: Seq[(Long, Long)] = Seq((r, 1L))
          var h = 0L
          while (frontier.nonEmpty) {
            h += 1
            val arr = scala.collection.mutable.HashMap.empty[Long, Long]
            frontier.foreach { case (n, sg) =>
              adj.getOrElse(n, Nil).foreach { d2 =>
                if (!dist.contains(d2))
                  arr.update(d2, arr.getOrElse(d2, 0L) + sg)
              }
            }
            arr.foreach { case (n, sg) =>
              dist.update(n, h); out += ((r, n, h, sg))
            }
            frontier = arr.toSeq
          }
        }
        ck.track(out.toSeq.toDF("root", "node", "d", "sigma")
          .localCheckpoint(false))
      }
    } { sym =>
      var visited = ck.track(seeds
        .select(col("root"), col("root").as("node"), lit(0L).as("d"),
                lit(1L).as("sigma")).localCheckpoint(false))
      var frontier = visited.select(col("root"), col("node"), col("sigma"))
      var h = 0L
      var live = frontier.count() > 0L
      while (live) {
        h += 1
        val arrivals = ck.track(frontier.join(sym, col("node") === col("src"))
          .groupBy(col("root"), col("dst").as("_n"))
          .agg(sum(col("sigma")).as("sigma"))
          .withColumnRenamed("_n", "node")
          .join(visited.select(col("root"), col("node")),
                Seq("root", "node"), "left_anti")
          .withColumn("d", lit(h))
          .select(col("root"), col("node"), col("d"), col("sigma"))
          .localCheckpoint(false))
        visited = ck.track(visited.unionByName(arrivals).localCheckpoint(false))
        frontier = arrivals.select(col("root"), col("node"), col("sigma"))
        live = arrivals.count() > 0L
      }
      visited
    }
  }

  /** Inject a LOUD runtime guard on the σ-BFS distance column: the DuckDB
    * oracle replays enumerate walks under a hard hop cap (a recursive-CTE
    * cost bound — walk count grows exponentially in the cap, so it cannot
    * simply be raised to |V|), which silently drops (root, node) sigma
    * rows whenever some pivot-to-node shortest distance exceeds the cap —
    * the gate would then fail as a mysterious hash mismatch while the
    * operator is correct. Asserted HERE, the same situation fails as an
    * explicit error naming the violated diameter assumption. `assert_true`
    * returns NULL on success (every row passes the isNull filter
    * untouched) and throws on the first violating row.
    */
  private def capChecked(sig: DataFrame, cap: Option[Int]): DataFrame =
    cap match {
      case Some(c) => sig
        .withColumn("_dchk", assert_true(col("d") <= c,
          concat(lit(s"pivot BFS distance exceeds the oracle walk cap $c" +
            " - regenerate the oracle hop bound for this graph; d="),
            col("d").cast("string"))))
        .filter(col("_dchk").isNull).drop("_dchk")
      case None => sig
    }

  def betweennessExact(edges0: DataFrame,
                       gateEdges: Long = SmallGraphGate): DataFrame = {
    val ck = new Seal.Tracker
    val sym = symArcs(edges0, ck)
    val seeds = sym.select(col("src").as("root")).distinct()
    val sig = sigmaBfs(sym, seeds, ck, gateEdges)
    ck.seal(sig.as("a")
      .join(sig.as("b"), col("b.root") === col("a.node"))
      .join(sig.as("st"), col("st.root") === col("a.root") &&
                          col("st.node") === col("b.node"))
      .filter(col("a.node") =!= col("a.root") &&
              col("a.node") =!= col("b.node") &&
              col("a.root") =!= col("b.node") &&
              col("a.d") + col("b.d") === col("st.d"))
      .groupBy(col("a.node").as("node"))
      // σ_sv·σ_vt grows combinatorially on graphs dense in equal-length
      // paths; in int64 the product wraps silently past ~9.2e18. Route the
      // numerator through DECIMAL(38,0) (the round-9 HUGEINT discipline —
      // q511/q513/q514) so the bound moves to ~1e38, and cast the per-pair
      // DIV result (≤ 1e6) back to BIGINT for the sum.
      .agg(sum(expr("CAST(CAST(a.sigma AS DECIMAL(38,0)) * b.sigma" +
                    " * 1000000 DIV st.sigma AS BIGINT)"))
             .as("bc_ppm"),
           count(lit(1)).as("n_pairs_routed")))
  }

  /** Sampled-pivot betweenness — the documented scale path past
    * [[betweennessExact]]'s |V|³ pair join (Brandes & Pich, "Centrality
    * Estimation in Large Networks", 2007: restrict the pair sum to a pivot
    * sample and rescale). Pivots are the `k` nodes ranking smallest by
    * md5("bc-root-" || node) — a deterministic pseudo-random draw both
    * engines can replay (the suite's md5-residue sampling discipline, q50).
    *
    * bc_est_ppm(v) = [Σ over ordered pivot pairs (s,t) ∈ S×S, s≠v≠t, of
    * σ_sv·σ_tv·10⁶ DIV σ_st when d(s,v)+d(v,t)=d(s,t)] · n(n−1) DIV k(k−1).
    * σ_vt is read as σ_tv from the t-rooted BFS (undirected symmetry), so
    * ONLY the k pivot BFS sweeps run: state k·|V| instead of |V|², pair
    * join k²·|V| instead of |V|³ — cost ∝ pivots, not |V|. With S = V the
    * estimator is IDENTICAL to the exact operator term-for-term (same
    * truncation points; scale = 1), which is what the oracle pins.
    */
  def betweennessSampled(edges0: DataFrame, k: Int,
                         oracleHopCap: Option[Int] = None,
                         gateEdges: Long = SmallGraphGate): DataFrame = {
    require(k >= 2, s"need at least 2 pivots for a pair sum, got $k")
    val ck = new Seal.Tracker
    val sym = symArcs(edges0, ck)
    val nodes = ck.track(sym.select(col("src").as("node")).distinct()
      .localCheckpoint(false))
    val roots = nodes
      .withColumn("_h", md5(concat(lit("bc-root-"),
                                   col("node").cast("string"))))
      .orderBy(col("_h"), col("node")).limit(k)
      .select(col("node").as("root"))
    val nTotal = nodes.count()
    val nPiv = math.min(k.toLong, nTotal)
    // degenerate graph (< 2 nodes): no pairs exist — empty result, same
    // shape as betweennessExact's on an empty edge set, never a throw
    if (nPiv < 2)
      return ck.seal(nodes.filter(lit(false))
        .select(col("node"), lit(0L).as("bc_est_ppm"),
                lit(0L).as("n_pairs_routed")))
    val sig = capChecked(sigmaBfs(sym, roots, ck, gateEdges), oracleHopCap)
    val pairScale = // n(n-1) / k(k-1), applied numerator-first in decimal
      s"CAST(CAST(_partial AS DECIMAL(38,0)) * ${nTotal * (nTotal - 1L)}" +
        s" DIV ${nPiv * (nPiv - 1L)} AS BIGINT)"
    ck.seal(sig.as("a") // s -> v, s ∈ S
      .join(sig.as("b"), col("b.node") === col("a.node") && // t -> v, t ∈ S
                         col("b.root") =!= col("a.root"))
      .join(sig.as("st"), col("st.root") === col("a.root") &&
                          col("st.node") === col("b.root"))
      .filter(col("a.node") =!= col("a.root") &&
              col("a.node") =!= col("b.root") &&
              col("a.d") + col("b.d") === col("st.d"))
      .groupBy(col("a.node").as("node"))
      .agg(sum(expr("CAST(CAST(a.sigma AS DECIMAL(38,0)) * b.sigma" +
                    " * 1000000 DIV st.sigma AS BIGINT)"))
             .as("_partial"),
           count(lit(1)).as("n_pairs_routed"))
      .withColumn("bc_est_ppm", expr(pairScale))
      .select("node", "bc_est_ppm", "n_pairs_routed"))
  }

  /** Sampled-pivot EDGE betweenness — the Girvan–Newman edge-removal
    * score, estimated with the same pivot machinery as
    * [[betweennessSampled]]: arc (u, v) lies on an s→t shortest path iff
    * d(s,u) + 1 + d(v,t) = d(s,t), weighted σ_su·σ_vt·10⁶ DIV σ_st; sum
    * over ordered pivot pairs (s, t) ∈ S×S, σ_vt read as σ_tv from the
    * t-rooted BFS (undirected symmetry), rescaled n(n−1) DIV k(k−1).
    * Both arc directions fold into the canonical (src < dst) edge. Cost:
    * k pivot BFS sweeps + one |E|·k² join — never |V|³.
    */
  def edgeBetweennessSampled(edges0: DataFrame, k: Int,
                             oracleHopCap: Option[Int] = None,
                             gateEdges: Long = SmallGraphGate): DataFrame = {
    require(k >= 2, s"need at least 2 pivots for a pair sum, got $k")
    val ck = new Seal.Tracker
    val sym = symArcs(edges0, ck)
    val nodes = ck.track(sym.select(col("src").as("node")).distinct()
      .localCheckpoint(false))
    val roots = nodes
      .withColumn("_h", md5(concat(lit("bc-root-"),
                                   col("node").cast("string"))))
      .orderBy(col("_h"), col("node")).limit(k)
      .select(col("node").as("root"))
    val nTotal = nodes.count()
    val nPiv = math.min(k.toLong, nTotal)
    if (nPiv < 2)
      return ck.seal(sym.filter(lit(false))
        .select(least(col("src"), col("dst")).as("src"),
                greatest(col("src"), col("dst")).as("dst"),
                lit(0L).as("eb_est_ppm"), lit(0L).as("n_pairs_routed")))
    val sig = capChecked(sigmaBfs(sym, roots, ck, gateEdges), oracleHopCap)
    val scale =
      s"CAST(CAST(_partial AS DECIMAL(38,0)) * ${nTotal * (nTotal - 1L)}" +
        s" DIV ${nPiv * (nPiv - 1L)} AS BIGINT)"
    ck.seal(sym.as("e")
      .join(sig.as("a"), col("a.node") === col("e.src")) // s -> u
      .join(sig.as("b"), col("b.node") === col("e.dst") && // t -> v
                         col("b.root") =!= col("a.root"))
      .join(sig.as("st"), col("st.root") === col("a.root") &&
                          col("st.node") === col("b.root"))
      .filter(col("a.d") + lit(1L) === col("st.d") - col("b.d"))
      .groupBy(least(col("e.src"), col("e.dst")).as("src"),
               greatest(col("e.src"), col("e.dst")).as("dst"))
      .agg(sum(expr("CAST(CAST(a.sigma AS DECIMAL(38,0)) * b.sigma" +
                    " * 1000000 DIV st.sigma AS BIGINT)"))
             .as("_partial"),
           count(lit(1)).as("n_pairs_routed"))
      .withColumn("eb_est_ppm", expr(scale))
      .select("src", "dst", "eb_est_ppm", "n_pairs_routed"))
  }

  /** Percolation / connectivity sweep: connected-component structure of a
    * weighted graph across a threshold ladder — (threshold, n_nodes,
    * n_edges, n_components, giant_size), skipping empty thresholds.
    * Input: (src, dst, n).
    *
    * Below `gateEdges`: one collect, per-threshold driver DFS. Above:
    * per-threshold [[graft.operators.Dedup.clusterPairs]] (which itself
    * degrades from driver union-find to distributed min-label rounds), so
    * an unexpectedly dense graph slows down instead of failing.
    */
  def percolationSweep(edges0: DataFrame, thresholds: Seq[Long],
                       gateEdges: Long = SmallGraphGate): DataFrame = {
    val spark = edges0.sparkSession
    import spark.implicits._
    val ck = new Seal.Tracker
    LocalGate(edges0.select(col("src").cast("long").as("src"),
                            col("dst").cast("long").as("dst"),
                            col("n").cast("long").as("n")),
              gateEdges, ck) { (all: Array[(Long, Long, Long)]) =>
      val rows = thresholds.flatMap { th =>
        val es = all.filter(_._3 >= th)
        val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
        val adj = (es.map(e => (e._1, e._2)) ++
                   es.map(e => (e._2, e._1)))
          .groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2).toSet }
        val seen = scala.collection.mutable.Set.empty[Long]
        var comps = 0L
        var giant = 0L
        for (n <- nodes.sorted if !seen(n)) {
          comps += 1
          var size = 0L
          val stack = scala.collection.mutable.Stack(n)
          seen += n
          while (stack.nonEmpty) {
            val u = stack.pop(); size += 1
            for (v <- adj.getOrElse(u, Set.empty) if !seen(v)) {
              seen += v; stack.push(v)
            }
          }
          giant = math.max(giant, size)
        }
        if (es.isEmpty) None
        else Some((th, nodes.size.toLong, es.size.toLong, comps, giant))
      }
      ck.seal(rows.toDF("threshold", "n_nodes", "n_edges", "n_components",
                "giant_size"))
    } { base =>
      val rows = thresholds.flatMap { th =>
        val es = ck.track(base.filter(col("n") >= th).select("src", "dst")
          .localCheckpoint(false))
        val nE = es.count()
        if (nE == 0L) None
        else {
          // clusterPairs returns SEALED — this operator owns (and here
          // fully consumes) its checkpoint, so it releases it per rung
          val cc = graft.operators.Dedup.clusterPairs(es, "src", "dst")
          val r = cc.agg(count(lit(1)).as("nodes"),
                         countDistinct(col("cluster_id")).as("comps"),
                         max(col("cluster_size")).as("giant")).head()
          Seal.releaseCheckpoint(cc)
          Some((th, r.getLong(0), nE, r.getLong(1), r.getLong(2)))
        }
      }
      ck.seal(rows.toDF("threshold", "n_nodes", "n_edges", "n_components",
                "giant_size"))
    }
  }
}
