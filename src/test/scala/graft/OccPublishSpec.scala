package graft

import org.apache.spark.sql.functions._

/** Optimistic concurrency: CAS publish detects both committed-first and
  * claimed-first racers; the OCC retry loop recomputes against the
  * winner's table instead of overwriting it.
  */
class OccPublishSpec extends SparkTestBase {

  import spark.implicits._

  test("publishIf: stale expected and stolen claims both conflict") {
    val root = java.nio.file.Files.createTempDirectory("occ1").toString + "/t"
    val df1 = Seq((1L, "a")).toDF("id", "x")
    assert(VersionedTable.publishIf(spark, df1, root, None) === Some(1L))
    // stale expected (None) after a commit exists
    assert(VersionedTable.publishIf(spark, df1, root, None) === None)
    // a racer has CLAIMED v=2 (dir exists, no marker yet): conflict, not theft
    new java.io.File(s"$root/v=2").mkdirs()
    assert(VersionedTable.publishIf(spark, df1, root, Some(1L)) === None)
    // reclaim via vacuum, then the CAS succeeds
    VersionedTable.vacuum(spark, root, keep = 5)
    assert(VersionedTable.publishIf(spark, df1, root, Some(1L)) === Some(2L))
  }

  test("commitRetrying recomputes against the race winner's commit") {
    val root = java.nio.file.Files.createTempDirectory("occ2").toString + "/t"
    VersionedTable.publish(spark, Seq((1L, 10L)).toDF("id", "v"), root)

    var injected = false
    val v = VersionedTable.commitRetrying(spark, root, { base =>
      val cur = base.get
      if (!injected) {
        injected = true
        // a concurrent writer lands between this writer's read and commit
        VersionedTable.publish(
          spark, cur.withColumn("v", col("v") + 100L), root)
      }
      cur.withColumn("v", col("v") + 1L)
    })
    // attempt 1 conflicts (derived from v1 while v2 committed); attempt 2
    // recomputes from the winner's v2 = 110 and commits 111 at v3
    assert(v === 3L)
    assert(VersionedTable.read(spark, root).select("v").as[Long].head() === 111L)
  }

  test("commitRetrying gives up after maxAttempts straight losses") {
    val root = java.nio.file.Files.createTempDirectory("occ3").toString + "/t"
    VersionedTable.publish(spark, Seq((1L, 10L)).toDF("id", "v"), root)
    intercept[IllegalStateException] {
      VersionedTable.commitRetrying(spark, root, { base =>
        VersionedTable.publish(spark, base.get, root) // always lose
        base.get
      }, maxAttempts = 2)
    }
  }
}
