package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{LocalGate, Seal}

/** The driver-gate helper itself: which fold runs at the gate boundary,
  * the column-type guard, a declining driver fold, and that no pin the
  * helper creates outlives the call (beyond what the caller seals).
  */
class LocalGateSpec extends SparkTestBase {

  import spark.implicits._

  // spark.range plans stay distributed (never a LocalRelation), so the
  // helper really pins them
  private def rel(n: Long): DataFrame =
    spark.range(n).select(col("id").as("src"), (col("id") * 2).as("dst"))

  private def persisted = spark.sparkContext.getPersistentRDDs.keySet

  test("at exactly gate rows the driver fold runs") {
    val out = LocalGate(rel(5), 5L, new Seal.Tracker) {
      (rows: Array[(Long, Long)]) => s"local:${rows.map(_._2).sum}"
    } { _ => "distributed" }
    assert(out === "local:20")
  }

  test("at gate + 1 rows the distributed fold runs and nothing is collected") {
    // (Long, String) rows cannot be read as (Long, Long): a collect would throw
    val r = spark.range(6)
      .select(col("id").as("src"), col("id").cast("string").as("dst"))
    var localRan = false
    val out = LocalGate(r, 5L, new Seal.Tracker) { (_: Array[(Long, Long)]) =>
      localRan = true; -1L
    } { pin => pin.count() }
    assert(!localRan)
    assert(out === 6L)
  }

  test("a non-Long guarded column sends the call to the distributed fold") {
    val r = rel(3).select(col("src").cast("int").as("src"), col("dst"))
    def gate(accept: Set[org.apache.spark.sql.types.DataType]): String =
      LocalGate(r, 100L, new Seal.Tracker, Seq("src", "dst"), accept) {
        (_: Array[(Long, Long)]) => "local"
      } { _ => "distributed" }
    assert(gate(LocalGate.LongIds) === "distributed")
    assert(gate(LocalGate.IntegralIds) === "local")
  }

  test("a declining driver fold falls through to the distributed fold") {
    var offered = 0
    val out = LocalGate.orElse(rel(4), 100L, new Seal.Tracker) {
      (rows: Array[(Long, Long)]) => offered = rows.length; None
    } { pin => pin.agg(sum(col("dst"))).head().getLong(0) }
    assert(offered === 4)
    assert(out === 12L)
  }

  test("no checkpoint the helper pinned is left persisted") {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    // driver path: the pin is released as soon as the fold has its rows
    LocalGate(rel(4), 10L, new Seal.Tracker) {
      (rows: Array[(Long, Long)]) => rows.length
    } { _ => -1 }
    assert(persisted.isEmpty)
    // a driver-side LocalRelation is used as it is, never pinned
    LocalGate(Seq((1L, 2L)).toDF("src", "dst"), 10L, new Seal.Tracker) {
      (rows: Array[(Long, Long)]) => rows.length
    } { _ => -1 }
    assert(persisted.isEmpty)
    // distributed path and a declined driver fold: the caller's seal
    // releases the pin and leaves only the sealed result
    val ck = new Seal.Tracker
    val dist = LocalGate(rel(4), 0L, ck) { (_: Array[(Long, Long)]) =>
      spark.emptyDataFrame
    } { pin => ck.seal(pin.filter(col("src") > 1L)) }
    val ck2 = new Seal.Tracker
    val declined = LocalGate.orElse(rel(4), 10L, ck2) {
      (_: Array[(Long, Long)]) => Option.empty[DataFrame]
    } { pin => ck2.seal(pin.filter(col("src") > 1L)) }
    assert(persisted.size === 2)
    assert(dist.count() === 2L && declined.count() === 2L)
    Seal.releaseCheckpoint(dist)
    Seal.releaseCheckpoint(declined)
    assert(persisted.isEmpty)
  }
}
