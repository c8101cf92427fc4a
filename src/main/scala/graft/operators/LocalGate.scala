package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, ShortType}

/** Size gate between a DRIVER fold and a DISTRIBUTED fold over one input
  * relation — the plumbing every gated operator shares (Graph's iterative
  * operators, `Dedup.clusterPairs`, `Trend.pairSlopeMedian`, q737's Markov
  * fixed point). Small dimension-grain inputs spend seconds on per-round
  * job scheduling where a driver fold costs milliseconds; the gate bounds
  * the collected rows, so driver memory stays bounded by construction.
  *
  * One call:
  *  1. pins `rel` with a LAZY `localCheckpoint(false)` tracked on the
  *     caller's [[Seal.Tracker]] — the `count()` below materializes it, so
  *     the input is computed once whichever path runs (a `rel` that is
  *     already a driver-side LocalRelation is used as it is);
  *  2. takes the driver path only when every `guard` column's type is in
  *     `accept` (a driver fold rebuilds LONG local relations, so an input
  *     the distributed fold would carry in another type must stay
  *     distributed to keep the output schema) AND `count() <= gate`;
  *  3. collects the pin as `T` and hands the rows to `local`;
  *  4. releases the pin once `local` has produced its result.
  *
  * `local` may decline (None) — e.g. when a derived driver state would
  * exceed the gate — and the call falls through to `distributed` over the
  * still-pinned relation. The pin is then released with the caller's
  * tracker. Result sealing stays with the caller.
  *
  * `count()` then `collect()` is deliberate: `limit(gate + 1).collect()`
  * scans partitions in growing rounds, so on wide relations it runs MORE
  * jobs than the two here, not fewer.
  */
private[graft] object LocalGate {

  val LongIds: Set[DataType] = Set(LongType)
  val IntegralIds: Set[DataType] = Set(LongType, IntegerType, ShortType)

  /** True when every `cols` column of `df` has a type in `accept`. */
  def typed(df: DataFrame, cols: Seq[String], accept: Set[DataType]): Boolean =
    cols.forall(c => accept(df.schema(c).dataType))

  def apply[T: Encoder, R](rel: DataFrame, gate: Long, ck: Seal.Tracker,
                           guard: Seq[String] = Nil,
                           accept: Set[DataType] = LongIds)
                          (local: Array[T] => R)
                          (distributed: DataFrame => R): R =
    orElse(rel, gate, ck, guard, accept)((rows: Array[T]) =>
      Some(local(rows)))(distributed)

  def orElse[T: Encoder, R](rel: DataFrame, gate: Long, ck: Seal.Tracker,
                            guard: Seq[String] = Nil,
                            accept: Set[DataType] = LongIds)
                           (local: Array[T] => Option[R])
                           (distributed: DataFrame => R): R = {
    // A relation that optimizes to a LocalRelation already lives on the
    // driver: pinning it would only turn its job-free collect into a job.
    val pin =
      if (rel.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]) rel
      else ck.track(rel.localCheckpoint(false))
    val folded =
      if (typed(pin, guard, accept) && pin.count() <= gate)
        local(pin.as[T].collect())
      else None
    folded match {
      case Some(r) => Seal.releaseCheckpoint(pin); r
      case None => distributed(pin)
    }
  }
}
