package graft

import graft.operators.{Funnel, Rolling}

/** Round-10 operators: clamped running balances (closed-form identity vs
  * direct recurrence simulation), bounded-horizon Markov absorption.
  */
class Round10OpsSpec extends SparkTestBase {

  import spark.implicits._

  test("clampedRunningSum == direct max(0, S+d) simulation on random walks") {
    val rnd = new scala.util.Random(97)
    val rows = for (g <- 1 to 5; i <- 1 to 200) yield
      (g.toLong, i.toLong, (rnd.nextInt(21) - 11).toLong) // bias negative
    val got = Rolling.clampedRunningSum(
        rows.toDF("g", "i", "dq"), Seq("g"), Seq("i"), "dq")
      .select("g", "i", "bal")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    for (g <- 1 to 5) {
      var s = 0L
      for (i <- 1 to 200) {
        val dq = rows.find(r => r._1 == g && r._2 == i).get._3
        s = math.max(0L, s + dq)
        assert(got((g.toLong, i.toLong)) === s, s"g=$g i=$i")
      }
    }
  }

  test("markovAbsorption: hand-checked 2-state chain") {
    // a->buy 1/2, a->a 1/2; buy absorbing (its outgoing edges ignored by
    // pinning). horizon 2 from a: 1/2 + 1/2*1/2 = 3/4.
    val ev = Seq(
      (1L, 1L, "a"), (1L, 2L, "buy"),
      (2L, 1L, "a"), (2L, 2L, "a"), (2L, 3L, "buy"),
      (3L, 1L, "a"), (3L, 2L, "a")
    ).map { case (u, i, t) =>
      (u, java.sql.Timestamp.valueOf(s"2025-01-01 00:0$i:00"), i, t)
    }.toDF("user_id", "ts", "event_id", "event_type")
    // transitions: a->buy 2, a->a 2  => p(a->buy)=1/2, p(a->a)=1/2
    val got = Funnel.markovAbsorption(ev, "user_id", "ts", "event_id",
                                      "event_type", "buy", horizon = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("buy") === 1000000L)
    assert(got("a") === 750000L)
  }
}
