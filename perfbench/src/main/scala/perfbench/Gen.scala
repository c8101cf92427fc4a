package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Seeded CDC input for the ingest workload.
  *
  * Every key's history and every batch row is a pure function of
  * (seed, sizes), so two runs with one seed feed the program identical
  * rows. Each batch holds distinct keys; every (id, updated_at) pair is
  * unique across the whole input, and every row carries a fresh `score`,
  * so each row is a real change of content.
  */
object Gen {

  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType),
    StructField("tier", StringType),
    StructField("score", LongType),
    StructField("updated_at", TimestampType),
    StructField("deleted_at", TimestampType)))

  /** Row kinds of a batch; their shares are the workload's change mix. */
  val Update = "update"
  val NewKey = "new"
  val Delete = "delete"
  val Backdated = "backdated"
  val Resurrect = "resurrect"

  /** Target shares of the non-update kinds (updates take the rest). */
  val Mix: Seq[(String, Double)] =
    Seq(NewKey -> 0.10, Delete -> 0.02, Backdated -> 0.08, Resurrect -> 0.02)

  /** Each kind of [[Mix]] with the upper end of its slice of [0, 1). */
  private val Cumulative: Seq[(String, Double)] =
    Mix.map(_._1).zip(Mix.map(_._2).scanLeft(0.0)(_ + _).tail)

  final case class Ingest(history: Array[Row],
                          batches: Array[Array[Row]],
                          kinds: Array[Array[String]])

  private val T0 = 1704067200L // 2024-01-01T00:00:00Z, seconds
  private val Day = 86400L
  private val Tiers = Array("bronze", "silver", "gold")

  private def ts(sec: Long, micros: Long): Timestamp = {
    val t = new Timestamp(sec * 1000L)
    t.setNanos((micros * 1000L).toInt)
    t
  }

  /** Initial history of `keys` keys plus `nBatches` batches of `batchRows`
    * rows. History: one version per key, a second version for a quarter of
    * the keys and a logical delete for 2% of them. Batches: forward
    * updates, new keys, logical deletes of live keys, back-dated versions
    * (strictly inside or before a key's known history) and resurrections
    * of deleted keys, in the shares of [[Mix]].
    */
  def ingest(seed: Long, keys: Int, batchRows: Int, nBatches: Int): Ingest = {
    require(batchRows <= Day && batchRows * 4 <= keys, "batch too large")
    val rnd = new SplittableRandom(seed)
    var seq = 0L
    // Back-dated rows are the only ones off whole seconds: their micro
    // part is a counter, so they can never collide with another version.
    var backdatedSeq = 0L
    val maxKeys = keys + (batchRows.toLong * nBatches).toInt
    val firstSec = new Array[Long](maxKeys)
    val lastSec = new Array[Long](maxKeys)
    val deleted = new Array[Boolean](maxKeys)
    // Deleted keys as an array-backed set: O(1) random pick and removal.
    val deletedKeys = mutable.ArrayBuffer.empty[Int]
    val deletedPos = mutable.HashMap.empty[Int, Int]
    def markDeleted(k: Int): Unit = {
      deleted(k) = true; deletedPos(k) = deletedKeys.size; deletedKeys += k
    }
    def unmarkDeleted(k: Int): Unit = {
      deleted(k) = false
      val i = deletedPos.remove(k).get
      val last = deletedKeys.remove(deletedKeys.size - 1)
      if (last != k) { deletedKeys(i) = last; deletedPos(last) = i }
    }
    def row(k: Int, t: Timestamp, del: Boolean): Row = {
      seq += 1
      val name = f"n${rnd.nextInt() & 0x7fffffff}%08x"
      Row(k.toLong, name, Tiers(rnd.nextInt(Tiers.length)), seq, t,
          if (del) t else null)
    }

    val history = mutable.ArrayBuffer.empty[Row]
    for (k <- 0 until keys) {
      val s0 = T0 + rnd.nextLong(30 * Day)
      history += row(k, ts(s0, 0), del = false)
      firstSec(k) = s0; lastSec(k) = s0
      val r = rnd.nextDouble()
      if (r < 0.25 || r >= 0.98) {
        val s1 = s0 + 1 + rnd.nextLong(5 * Day)
        val del = r >= 0.98
        history += row(k, ts(s1, 0), del)
        lastSec(k) = s1
        if (del) markDeleted(k)
      }
    }

    var nextKey = keys
    val batches = new Array[Array[Row]](nBatches)
    val kinds = new Array[Array[String]](nBatches)
    for (b <- 0 until nBatches) {
      // Forward rows of batch b sit strictly after everything before it.
      val batchSec = T0 + 60 * Day + b.toLong * Day
      val used = mutable.HashSet.empty[Int]
      val rows = new Array[Row](batchRows)
      val ks = new Array[String](batchRows)
      def pick(live: Boolean): Int = {
        var k = rnd.nextInt(nextKey)
        while (used(k) || (live && deleted(k))) k = rnd.nextInt(nextKey)
        k
      }
      for (i <- 0 until batchRows) {
        val fwd = batchSec + i
        val r = rnd.nextDouble()
        val kind = Cumulative.collectFirst { case (k, c) if r < c => k }.getOrElse(Update) match {
          case Resurrect if !deletedKeys.exists(k => !used(k)) => Backdated
          case k => k
        }
        val (k, t, del) = kind match {
          case NewKey =>
            val k = nextKey; nextKey += 1
            firstSec(k) = fwd
            (k, ts(fwd, 0), false)
          case Delete =>
            val k = pick(live = true)
            markDeleted(k)
            (k, ts(fwd, 0), true)
          case Resurrect =>
            var k = deletedKeys(rnd.nextInt(deletedKeys.size))
            while (used(k)) k = deletedKeys(rnd.nextInt(deletedKeys.size))
            unmarkDeleted(k)
            (k, ts(fwd, 0), false)
          case Backdated =>
            val k = pick(live = false)
            backdatedSeq += 1
            require(backdatedSeq < 1000000L, "too many back-dated rows")
            val sec =
              if (lastSec(k) > firstSec(k))
                firstSec(k) + rnd.nextLong(lastSec(k) - firstSec(k))
              else firstSec(k) - 1 - rnd.nextLong(Day)
            (k, ts(sec, backdatedSeq), false)
          case _ =>
            (pick(live = true), ts(fwd, 0), false)
        }
        used += k
        if (kind != Backdated) lastSec(k) = fwd
        rows(i) = row(k, t, del)
        ks(i) = kind
      }
      batches(b) = rows
      kinds(b) = ks
    }
    Ingest(history.toArray, batches, kinds)
  }

  /** Share of each kind over the given batches, in [[Mix]] order plus
    * updates.
    */
  def shares(kinds: Seq[Array[String]]): Seq[(String, Double)] = {
    val all = kinds.flatten
    (Mix.map(_._1) :+ Update).map(k =>
      k -> all.count(_ == k).toDouble / all.size.max(1))
  }
}
