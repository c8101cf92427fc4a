package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Coalesce, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}

/** Materialized-summary rewrite: an optimizer rule that answers matching
  * aggregates from a pre-published roll-up instead of the base table.
  *
  * The warehouse pattern: a 100 TB fact is aggregated nightly into a
  * (group-cols, cnt, m_sum, m_min, m_max) summary several orders of
  * magnitude smaller; every later `GROUP BY g ⊆ groupCols` with
  * count/sum/min/max over registered measures is algebraically answerable
  * from the summary (counts re-sum, sums re-sum, min/max re-min/max —
  * all four are self-decomposable aggregates). This rule performs that
  * rewrite inside Catalyst, so EVERY front end — DataFrame code, SQL text,
  * a BI tool — gets the speedup without knowing the summary exists:
  *
  *   Aggregate(G, [count(1), sum(m), min(m), max(m)], Scan(base))
  *     ==> Aggregate(G, [sum(cnt), sum(m_sum), min(m_min), max(m_max)],
  *                   Scan(summary))
  *
  * Sub-grouping (G a strict subset of the summary's keys) re-aggregates
  * the summary, which is exactly why only self-decomposable functions are
  * eligible — avg/count-distinct are NOT rewritten and fall through to
  * the base scan untouched. Output attribute ids/names are preserved
  * (fresh child attrs are re-aliased under the original exprIds), so
  * parent operators never see the substitution.
  *
  * Matching is conservative: the child must be the registered base path's
  * parquet relation (optionally under an attribute-only Project), grouping
  * keys must be plain columns of the summary's key set, and every
  * aggregate must be an undistinct, unfiltered count(1)/sum/min/max of a
  * registered measure column. Anything else leaves the plan untouched.
  */
final case class SummaryRewrite(
    basePath: String,
    summaryTemplate: LogicalPlan,
    groupCols: Set[String],
    measureCols: Set[String]) extends Rule[LogicalPlan] {

  private def isBase(p: LogicalPlan): Boolean = p match {
    case Project(projList, inner)
        if projList.forall(_.isInstanceOf[AttributeReference]) =>
      isBase(inner)
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation =>
        val want = basePath.stripSuffix("/")
        fs.location.rootPaths.exists { rp =>
          val got = rp.toUri.getPath.stripSuffix("/")
          got == want || got.endsWith("/" + want.dropWhile(_ == '/'))
        }
      case _ => false
    }
    case _ => false
  }

  /** Fresh summary scan (new exprIds per use) + its name→attr map. */
  private def freshSummary(): (LogicalPlan, Map[String, Attribute]) = {
    val fresh = summaryTemplate.transformUp {
      case lr: LogicalRelation => lr.newInstance()
    }
    (fresh, fresh.output.map(a => a.name.toLowerCase -> a).toMap)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case Aggregate(groupings, aggExprs, child, _) if isBase(child) &&
        groupings.forall {
          case a: AttributeReference => groupCols(a.name.toLowerCase)
          case _ => false
        } && aggExprs.forall(rewritable) =>
      val (summary, attr) = freshSummary()
      val newGroupings = groupings.map {
        case a: AttributeReference => attr(a.name.toLowerCase)
      }
      val newAggs: Seq[NamedExpression] = aggExprs.map {
        case a: AttributeReference =>
          Alias(attr(a.name.toLowerCase), a.name)(exprId = a.exprId)
        case al @ Alias(ae: AggregateExpression, name) =>
          val fn = ae.aggregateFunction match {
            case Sum(m: AttributeReference, _) =>
              Sum(attr(m.name.toLowerCase + "_sum"))
            case Min(m: AttributeReference) =>
              Min(attr(m.name.toLowerCase + "_min"))
            case Max(m: AttributeReference) =>
              Max(attr(m.name.toLowerCase + "_max"))
            case _: Count => Sum(attr("cnt"))
          }
          val rewritten: Expression = ae.aggregateFunction match {
            // count is non-nullable long; sum-of-counts must stay that way
            // on empty input, hence the coalesce.
            case _: Count =>
              Coalesce(Seq(ae.copy(aggregateFunction = fn), Literal(0L)))
            case _ => ae.copy(aggregateFunction = fn)
          }
          Alias(rewritten, name)(exprId = al.exprId)
      }
      Aggregate(newGroupings, newAggs, summary)
  }

  private def rewritable(ne: NamedExpression): Boolean = ne match {
    case a: AttributeReference => groupCols(a.name.toLowerCase)
    case Alias(ae: AggregateExpression, _)
        if !ae.isDistinct && ae.filter.isEmpty =>
      ae.aggregateFunction match {
        // Decimal sums are NOT rewritable: sum(decimal(p,s)) widens to
        // decimal(p+10,s), so re-summing the already-widened m_sum column
        // would produce a datatype differing from the original attribute
        // parents resolved against (under the reused exprId — an invalid
        // plan). Integral/floating sums are type-stable under re-summing.
        case Sum(m: AttributeReference, _) =>
          measureCols(m.name.toLowerCase) &&
            !m.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType]
        case Min(m: AttributeReference) => measureCols(m.name.toLowerCase)
        case Max(m: AttributeReference) => measureCols(m.name.toLowerCase)
        case Count(Seq(Literal(_, _))) => true
        case _ => false
      }
    case _ => false
  }
}

object SummaryRewrite {

  /** Build and publish the summary roll-up for `base`: one row per
    * distinct `groupCols` combination carrying cnt + per-measure
    * sum/min/max — the only scan of the fact this whole mechanism ever
    * pays again.
    */
  def publish(base: DataFrame, groupCols: Seq[String],
              measures: Seq[String], path: String): Unit = {
    val aggs = count(lit(1)).as("cnt") +: measures.flatMap(m => Seq(
      sum(col(m)).as(s"${m}_sum"),
      min(col(m)).as(s"${m}_min"),
      max(col(m)).as(s"${m}_max")))
    base.groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Register the rewrite for `basePath` → `summaryPath` on this session
    * (idempotent per basePath: a re-register replaces the prior rule, so
    * harness reruns never stack duplicates).
    */
  def register(spark: SparkSession, basePath: String, summaryPath: String,
               groupCols: Seq[String], measures: Seq[String]): Unit = {
    val template = spark.read.parquet(summaryPath).queryExecution.analyzed
    val rule = SummaryRewrite(basePath, template,
                              groupCols.map(_.toLowerCase).toSet,
                              measures.map(_.toLowerCase).toSet)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot {
        case SummaryRewrite(p, _, _, _) => p == basePath
        case _ => false
      } :+ rule
  }

  /** Remove the rewrite for `basePath` from this session. Callers that
    * register inside a query MUST deregister in a finally once the result
    * is materialized — the rule is session-global, and leaving it
    * installed silently redirects every later matching aggregate to a
    * summary whose backing files may no longer exist.
    */
  def deregister(spark: SparkSession, basePath: String): Unit = {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot {
        case SummaryRewrite(p, _, _, _) => p == basePath
        case _ => false
      }
  }
}
