package graft

import org.apache.spark.sql.functions._

/** Generic-test semantics mirror dbt's built-ins (not_null / unique /
  * accepted_values / relationships), including their NULL exemptions:
  * `unique` and `accepted_values` skip NULL keys; `relationships` skips
  * NULL foreign keys.
  */
class ExpectationsSpec extends SparkTestBase {

  private lazy val child = {
    import spark.implicits._
    Seq(
      (1, Some(10), Some("O")),
      (2, Some(10), Some("F")),
      (3, Some(99), Some("P")), // orphan fk + unaccepted status
      (4, None, None),          // NULL fk / NULL status: exempt everywhere
      (5, Some(20), Some("O"))
    ).toDF("id", "fk", "status")
  }

  private lazy val parent = {
    import spark.implicits._
    Seq(10, 20, 30).toDF("pk")
  }

  test("notNull surfaces only NULL rows") {
    assert(Expectations.notNull(child, "fk").select("id").as[Int](
      spark.implicits.newIntEncoder).collect().toSeq == Seq(4))
  }

  test("unique flags duplicated non-NULL keys only") {
    val dup = child.union(child.filter(col("id") === 1)) // id=1 twice
    val viol = Expectations.unique(dup, Seq("id")).collect()
    assert(viol.map(r => (r.getInt(0), r.getLong(1))).toSeq == Seq((1, 2L)))
    // NULL keys never count as duplicates
    assert(Expectations.unique(child.union(child), Seq("fk"))
      .filter(col("fk").isNull).count() == 0)
  }

  test("acceptedValues exempts NULL, flags out-of-list") {
    val viol = Expectations.acceptedValues(child, "status", Seq("O", "F"))
    assert(viol.select("id").collect().map(_.getInt(0)).toSeq == Seq(3))
  }

  test("relationships flags orphans, exempts NULL fks") {
    val viol = Expectations.relationships(child, "fk", parent, "pk")
    assert(viol.select("id").collect().map(_.getInt(0)).toSeq == Seq(3))
  }

  test("expressionIsTrue: NULL evaluations are violations") {
    val viol = Expectations.expressionIsTrue(child, "fk < 50")
    // id=3 has fk=99 (false); id=4 has fk NULL (null -> violation)
    assert(viol.select("id").collect().map(_.getInt(0)).toSet == Set(3, 4))
  }

  test("equalRowcount: empty when equal, one diagnostic row when not") {
    assert(Expectations.equalRowcount(child, child).count() == 0)
    val v = Expectations.equalRowcount(child, parent).collect()
    assert(v.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((5L, 3L)))
  }

  test("report unions one row per check") {
    val rep = Expectations.report(Seq(
      "fk_not_null" -> Expectations.notNull(child, "fk"),
      "status_ok" -> Expectations.acceptedValues(child, "status", Seq("O", "F")),
      "fk_parent" -> Expectations.relationships(child, "fk", parent, "pk")
    )).collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(rep == Map("fk_not_null" -> 1L, "status_ok" -> 1L, "fk_parent" -> 1L))
  }
}
