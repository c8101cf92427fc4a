package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Scd2

/** Property-style checks (seeded, reproducible): the package's core design
  * guarantee — *incremental over any batch split ≡ one full refresh* when
  * `collapse_redundant_versions` is on (`/root/reference/README.md:178`,
  * `scd_plan.sql:172-175`) — plus invariant preservation under adversarial
  * duplicate/out-of-order batches.
  */
class Scd2PropertySpec extends SparkTestBase {

  import spark.implicits._

  private val cfg = ScdConfig(uniqueKey = Seq("k"))

  private def df(rows: Seq[(Int, String, java.sql.Timestamp)]): DataFrame =
    rows.toDF("k", "v", "_updated_at")

  private def slot(i: Int) = ts(f"2025-01-${i + 1}%02d 00:00:00")

  test("incremental over random batch splits == full refresh (distinct content)") {
    val rnd = new Random(42)
    for (trial <- 1 to 8) {
      // distinct content per (key, slot) => no redundant-version drops, the
      // equivalence is exact whatever the arrival order/split.
      val rows = for {
        k <- 1 to 6
        s <- rnd.shuffle((0 until 10).toList).take(3 + rnd.nextInt(6))
      } yield (k, s"v$k-$s", slot(s))
      val shuffled = rnd.shuffle(rows)
      val nBatches = 1 + rnd.nextInt(4)
      val batches = shuffled.grouped(
        math.max(1, (shuffled.size + nBatches - 1) / nBatches)).toSeq

      var table = Scd2.initialLoad(df(batches.head), cfg).localCheckpoint()
      var replayed = table
      for (b <- batches.tail) {
        val next = Scd2.incremental(table, df(b), cfg).localCheckpoint()
        // CDC round-trip property: changelog + previous state replays to the
        // next state exactly, for EVERY random split
        val delta = Scd2.snapshotDelta(table, next, cfg, includePayload = true)
        replayed = Scd2.applyDelta(replayed, delta, cfg).localCheckpoint()
        assert(replayed.exceptAll(next).count() === 0, s"trial $trial: replay extra")
        assert(next.exceptAll(replayed).count() === 0, s"trial $trial: replay missing")
        table = next
      }

      val full = Scd2.initialLoad(df(rows), cfg)
      assert(table.exceptAll(full).count() === 0, s"trial $trial: extra rows")
      assert(full.exceptAll(table).count() === 0, s"trial $trial: missing rows")
      assertInvariantsGreen(table, cfg)
    }
  }

  test("schema evolution at a random batch == full refresh over widened union") {
    // append_new_columns generalization of the core equivalence: batches
    // BEFORE the evolution point lack the new column; the full-refresh
    // equivalent is the union with typed NULLs for pre-evolution rows
    // (NULL -> value is a content change, so collapse sees the same runs).
    val rnd = new Random(1337)
    val cfgE = cfg.copy(onSchemaChange = "append_new_columns")
    for (trial <- 1 to 5) {
      val rows = for {
        k <- 1 to 5
        s <- rnd.shuffle((0 until 10).toList).take(3 + rnd.nextInt(5))
      } yield (k, s"v$k-$s", slot(s))
      val shuffled = rnd.shuffle(rows)
      val nBatches = 2 + rnd.nextInt(3)
      val batches = shuffled.grouped(
        math.max(1, (shuffled.size + nBatches - 1) / nBatches)).toSeq
      val evoAt = 1 + rnd.nextInt(batches.size - 1) // first widened batch

      def widened(b: Seq[(Int, String, java.sql.Timestamp)]): DataFrame =
        b.map { case (k, v, t) => (k, v, v.length + k, t) }
          .toDF("k", "v", "w", "_updated_at")

      var table = Scd2.initialLoad(df(batches.head), cfgE).localCheckpoint()
      for ((b, i) <- batches.tail.zipWithIndex) {
        val batchDf = if (i + 1 >= evoAt) widened(b) else df(b)
        val (t, bb) = ScdEngine.alignSchemas(table, batchDf, cfgE)
        table = Scd2.incremental(t, bb, cfgE).localCheckpoint()
      }

      val fullInput = batches.zipWithIndex.map { case (b, i) =>
        if (i >= evoAt) widened(b)
        else df(b).withColumn("w", lit(null).cast("int"))
      }.reduce(_ unionByName _)
      // alignSchemas appends the evolved column last; project the full-
      // refresh result into the same column order (exceptAll is positional)
      val full = Scd2.initialLoad(fullInput, cfgE)
        .select(table.columns.map(col).toSeq: _*)
      assert(table.exceptAll(full).count() === 0, s"trial $trial: extra rows")
      assert(full.exceptAll(table).count() === 0, s"trial $trial: missing rows")
      assertInvariantsGreen(table, cfgE)
    }
  }

  test("invariants hold under duplicate-heavy colliding batches") {
    val rnd = new Random(7)
    for (trial <- 1 to 4) {
      // collisions everywhere: repeated (key, slot) pairs, only 2 distinct
      // contents, duplicates across AND within batches.
      val rows = for {
        _ <- 1 to 60
        k = 1 + rnd.nextInt(3)
        s = rnd.nextInt(4)
      } yield (k, s"v${rnd.nextInt(2)}", slot(s))
      val batches = rnd.shuffle(rows).grouped(20).toSeq

      var table = Scd2.initialLoad(df(batches.head), cfg).localCheckpoint()
      for (b <- batches.tail)
        table = Scd2.incremental(table, df(b), cfg).localCheckpoint()

      assertInvariantsGreen(table, cfg)
      // one row per surviving (key, updated_at) version at most
      val dup = table.groupBy("k", "_updated_at").count().filter($"count" > 1)
      assert(dup.isEmpty, s"trial $trial: duplicate versions")
    }
  }

  test("initial load == the upserts of a merge into an empty target") {
    val rnd = new Random(2024)
    for (trial <- 1 to 3; collapse <- Seq(true, false)) {
      val c = cfg.copy(collapseRedundantVersions = collapse)
      // repeated (key, slot) pairs and repeated contents: the version dedup
      // and the change test both bite
      val rows = for {
        _ <- 1 to 30
        k = 1 + rnd.nextInt(4)
        s = rnd.nextInt(6)
      } yield (k, s"v${rnd.nextInt(3)}", slot(s))
      val d = df(rows)
      val full = Scd2.initialLoad(d, c)
      val upserts = Scd2.incremental(full.limit(0), d, c)
      val tag = s"trial $trial collapse=$collapse"
      assert(full.exceptAll(upserts).count() === 0, s"$tag: missing upserts")
      assert(upserts.exceptAll(full).count() === 0, s"$tag: extra upserts")
    }
  }
}
