package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, ExprId}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Column-level lineage extraction from the analyzed logical plan: for
  * every output column, the set of (source table, source column) leaves it
  * was computed from — the governance primitive behind impact analysis
  * ("which reports break if I drop this column") and PII propagation
  * tracking, derived from the SAME plan the engine executes, so it can
  * never drift from reality the way hand-maintained lineage docs do.
  *
  * Mechanics: one bottom-up fold; relation leaves seed exprId → {(table,
  * column)}, every node's named expressions (projections, aggregates,
  * window expressions — anything producing a fresh exprId) map their
  * output to the union of their referenced attributes' entries, and
  * attributes that merely pass through keep theirs. Source tables are
  * named by the final path segment of the relation's root path (the
  * `<name>.parquet` convention of the test corpus).
  */
object ColumnLineage {

  /** (output column, source table, source column) triples, one per leaf
    * dependency, sorted.
    */
  def lineage(df: DataFrame): Seq[(String, String, String)] = {
    val resolved = collectLineage(df.queryExecution.analyzed)
    df.queryExecution.analyzed.output.flatMap { a =>
      resolved.getOrElse(a.exprId, Set.empty)
        .map { case (t, c) => (a.name, t, c) }
    }.distinct.sortBy(identity)
  }

  private def tableName(lr: LogicalRelation): String = lr.relation match {
    case fs: HadoopFsRelation =>
      fs.location.rootPaths.headOption
        .map(_.getName.replaceAll("\\.[A-Za-z0-9]+$", ""))
        .getOrElse("unknown")
    case _ => "unknown"
  }

  private def collectLineage(
      plan: LogicalPlan): Map[ExprId, Set[(String, String)]] = {
    val fromChildren = plan.children
      .map(collectLineage)
      .foldLeft(Map.empty[ExprId, Set[(String, String)]])(_ ++ _)
    plan match {
      case lr: LogicalRelation =>
        val t = tableName(lr)
        lr.output.map(a => a.exprId -> Set(t -> a.name)).toMap
      case _ =>
        // Any named expression with a fresh exprId (Alias over a computed
        // expression, aggregate, window function, generator output) maps
        // to the union of its references' lineage; bare attributes pass
        // through untouched.
        val produced = plan.expressions.flatMap { e =>
          e.collect {
            case al @ Alias(child, _) =>
              al.exprId -> child.references.toSeq
                .flatMap(r => fromChildren.getOrElse(r.exprId, Set.empty))
                .toSet
          }
        }.toMap
        // Generator outputs (explode etc.) derive from the generator input.
        val generated = plan match {
          case g: org.apache.spark.sql.catalyst.plans.logical.Generate =>
            val src = g.generator.references.toSeq
              .flatMap(r => fromChildren.getOrElse(r.exprId, Set.empty))
              .toSet
            g.generatorOutput.map(a => a.exprId -> src).toMap
          case _ => Map.empty[ExprId, Set[(String, String)]]
        }
        fromChildren ++ produced ++ generated
    }
  }

  /** The lineage as a DataFrame (out_col, src_table, src_col) — the shape
    * a catalog ingests.
    */
  def lineageDf(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    lineage(df).toDF("out_col", "src_table", "src_col")
  }
}
