package graft

import graft.operators.{Graph, MultiPattern}

/** Round-11 operators: Aho-Corasick multi-pattern scan (vs brute-force
  * position scan), per-source BFS hops, mutual-reachability SCC.
  */
class Round11OpsSpec extends SparkTestBase {

  import spark.implicits._

  private def bruteCount(text: String, pat: String): Long =
    (0 to text.length - pat.length)
      .count(i => text.regionMatches(i, pat, 0, pat.length)).toLong

  test("Automaton.countMatches == brute-force overlapping position scan") {
    val pats = Array("ab", "aba", "ba", "a", "bab", "abab", "c", "ca")
    val auto = new MultiPattern.Automaton(pats)
    val rnd = new scala.util.Random(41)
    for (_ <- 1 to 200) {
      val text = Array.fill(rnd.nextInt(40))(
        "abc".charAt(rnd.nextInt(3))).mkString
      val got = auto.countMatches(text)
      pats.zipWithIndex.foreach { case (p, i) =>
        assert(got(i) === bruteCount(text, p), s"pat=$p text=$text")
      }
    }
  }

  test("Automaton rejects duplicate and empty patterns at build") {
    intercept[IllegalArgumentException] {
      new MultiPattern.Automaton(Array("ab", "ba", "ab"))
    }
    intercept[IllegalArgumentException] {
      new MultiPattern.Automaton(Array("ab", ""))
    }
  }

  test("Automaton handles shared prefixes and overlapping ends") {
    // "abab" contains ab@0, ab@2, aba@0, bab@1, abab@0, a@0, a@2, ba@1
    val pats = Array("ab", "aba", "ba", "a", "bab", "abab")
    val got = new MultiPattern.Automaton(pats).countMatches("abab")
    assert(got.toSeq === Seq(2L, 1L, 1L, 2L, 1L, 1L))
  }

  test("matchCounts: per-pattern corpus totals include zero-match rows") {
    val docs = Seq("abab", "zzz", "aba c").toDF("text")
    val got = MultiPattern.matchCounts(spark, docs, "text",
        Seq("ab", "zz", "qq"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got("ab") === ((2L, 3L)))  // abab has 2, "aba c" has 1
    assert(got("zz") === ((1L, 2L)))  // overlapping zz@0, zz@1
    assert(got("qq") === ((0L, 0L)))
  }

  test("multiSourceHops: exact per-root hop distances on a path graph") {
    // path 1-2-3-4-5 plus 6-7 island; roots 1 and 6
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (6L, 7L))
      .toDF("src", "dst")
    val got = Graph.multiSourceHops(edges, Seq(1L, 6L).toDF("n"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2))
      .toMap
    assert(got((1L, 1L)) === 0 && got((1L, 2L)) === 1 &&
           got((1L, 3L)) === 2 && got((1L, 4L)) === 3)
    assert(!got.contains((1L, 5L))) // beyond maxHops
    assert(got((6L, 7L)) === 1 && got((6L, 6L)) === 0)
    assert(!got.contains((6L, 1L))) // islands don't mix
  }

  test("JaroWinkler: bit-exact against oracle-engine reference values") {
    import org.apache.spark.unsafe.types.UTF8String
    def jw(a: String, b: String): Double =
      graft.functions.JaroWinkler.jw(
        UTF8String.fromString(a), UTF8String.fromString(b))
    // values produced by the oracle engine's jaro_winkler_similarity
    assert(jw("martha", "marhta") === 0.9611111111111111)
    assert(jw("dwayne", "duane") === 0.8400000000000001)
    // below the 0.7 boost threshold: NO prefix boost despite "old " prefix
    assert(jw("old plate", "old ring") === 0.6481481481481481)
    assert(jw("abcdef", "abdcfe") === 0.9111111111111111)
    assert(jw("same", "same") === 1.0)
    assert(jw("", "x") === 0.0)
    graft.functions.GraftExtensions.register(spark)
    val viaSql = spark.sql(
      "SELECT jaro_winkler('martha', 'marhta') AS j").as[Double].head()
    assert(viaSql === 0.9611111111111111)
  }

  test("sccMutualReach: cycles collapse, DAG edges don't") {
    // SCCs: {1,2,3} (3-cycle), {4,5} (2-cycle), {6},{7} (DAG edge 6->7);
    // cross edge 3->4 must NOT merge the cycles.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 4L),
                    (3L, 4L), (6L, 7L)).toDF("src", "dst")
    val got = Graph.sccMutualReach(edges, doublingRounds = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got(1L) === ((1L, 3L)) && got(2L) === ((1L, 3L)) &&
           got(3L) === ((1L, 3L)))
    assert(got(4L) === ((4L, 2L)) && got(5L) === ((4L, 2L)))
    assert(got(6L) === ((6L, 1L)) && got(7L) === ((7L, 1L)))
  }
}
