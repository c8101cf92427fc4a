package graft.operators

import org.apache.spark.sql.DataFrame

/** Incremental view maintenance for inner equi-joins: keep a materialized
  * join current by joining DELTAS, never re-running the full join.
  *
  * With both sides append-only (A ← A ∪ ΔA, B ← B ∪ ΔB) the new join state
  * expands to exactly three delta terms beyond the already-materialized M:
  *
  *   M' = M ∪ (ΔA ⋈ B) ∪ (A ⋈ ΔB) ∪ (ΔA ⋈ ΔB)
  *
  * Every term touches at most one full side, probed by a BATCH-sized build
  * side — at 100 TB that is the difference between shuffling two full fact
  * tables per refresh and broadcasting the day's deltas against them. This
  * is classic count-algebra IVM (semi-naive evaluation) restricted to
  * inserts, which is the shape of fact-table pipelines: facts append,
  * dimensions version through SCD (deletes/updates route through the SCD
  * engine's merge instead).
  *
  * The maintained state is bit-identical to the recomputed join (the spec
  * asserts it per round; the oracle re-derives the final state as one flat
  * join), so readers never know refreshes were incremental — the same
  * contract the reference's incremental materialization gives its rollups
  * (`/root/reference/macros/builtin_overrides/source.sql:33-58`).
  */
object Ivm {

  /** The three delta terms for one refresh: rows M gains when `dl` arrives
    * on the left and `dr` on the right of `leftOld ⋈ rightOld`.
    */
  def joinDelta(leftOld: DataFrame, dl: DataFrame,
                rightOld: DataFrame, dr: DataFrame,
                keys: Seq[String]): DataFrame =
    dl.join(rightOld, keys)
      .unionByName(leftOld.join(dr, keys))
      .unionByName(dl.join(dr, keys))

  /** Fold batches of (ΔA, ΔB) into the maintained join materialization,
    * starting from empty sides. Returns the final M; each intermediate M is
    * the union of all delta terms so far (no full join ever evaluated).
    */
  def maintain(batches: Seq[(DataFrame, DataFrame)], keys: Seq[String])
      : DataFrame = {
    require(batches.nonEmpty, "at least one batch")
    val (e0, f0) = batches.head
    val empty = (e0.limit(0), f0.limit(0), e0.join(f0, keys).limit(0))
    val (_, _, m) = batches.foldLeft(empty) {
      case ((aOld, bOld, mOld), (da, db)) =>
        (aOld.unionByName(da), bOld.unionByName(db),
         mOld.unionByName(joinDelta(aOld, da, bOld, db, keys)))
    }
    m
  }
}
