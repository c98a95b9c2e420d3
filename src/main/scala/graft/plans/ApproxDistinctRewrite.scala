package graft.plans

import graft.functions.HllCardinality
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.{SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.expressions.{Cast, ConcatWs, Expression, If, IsNull, Literal, Or}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, StringType}

/** Opt-in optimizer rule: rewrites exact `COUNT(DISTINCT ...)` into the HLL
  * aggregate when `spark.graft.rewrite.approxDistinct=true` (k via
  * `spark.graft.rewrite.approxDistinct.k`, default 4096).
  *
  * Why as a Rule rather than a user-facing function: Catalyst plans exact
  * distinct aggregation with an Expand (the rows are duplicated per distinct
  * aggregate) plus a second shuffle keyed by the distinct value — at 100 TB
  * that second, row-cardinality shuffle dominates the query. The rewrite
  * swaps in the constant-buffer sketch plan (single exchange, O(groups x m)
  * network) for workloads that tolerate ~1.6% error, without touching query
  * code — flip the conf, rerun.
  *
  * Multi-arg `COUNT(DISTINCT a, b, ...)` rewrites too — the case where the
  * Expand hurts most: the tuple is canonicalized to NULL when any argument
  * is NULL (matching COUNT's skip-semantics), else the arguments joined on
  * a U+0001 separator. An argument VALUE containing U+0001 could conflate
  * two tuples; inside an estimate already carrying ~1.6% sketch error this
  * is an accepted (documented) approximation.
  *
  * Scope guards: isDistinct only, no FILTER clause (filtered aggregates
  * pass through untouched); result cast to LongType to preserve the
  * original column type.
  */
object ApproxDistinctRewrite extends Rule[LogicalPlan] {

  private def enabled: Boolean =
    SQLConf.get.getConfString("spark.graft.rewrite.approxDistinct", "false").toBoolean

  private def k: Int =
    SQLConf.get.getConfString("spark.graft.rewrite.approxDistinct.k", "4096").toInt

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transformUp {
      case agg: Aggregate =>
        agg.transformExpressions {
          case AggregateExpression(Count(children), _, true, None, _) if children.nonEmpty =>
            val key =
              if (children.length == 1) Cast(children.head, StringType)
              else {
                val anyNull = children.map(IsNull(_): Expression).reduce(Or)
                If(anyNull, Literal(null, StringType),
                  ConcatWs(Literal("\u0001") +: children.map(Cast(_, StringType))))
              }
            val hll = HllCardinality(key, k, 64)
            Cast(hll.toAggregateExpression(), LongType)
        }
    }
  }
}

/** The engine's session extensions: every graft SQL function, the opt-in
  * COUNT(DISTINCT) rewrite, and the hash aggregates for grouped sketch
  * builds ([[SketchAggregation]]). Registered as a
  * `SparkSessionExtensionsProvider` in `META-INF/services`, so every
  * session built with the engine on its classpath loads it; it also works
  * as `spark.sql.extensions=graft.plans.GraftExtensions` or through
  * `SparkSession.builder().withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends SparkSessionExtensionsProvider {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => ApproxDistinctRewrite)
    e.injectPlannerStrategy(_ => SketchAggregation)
    graft.functions.GraftFunctions.sqlFunctions.foreach { case (name, builder) =>
      e.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo("graft", name),
        builder))
    }
  }
}

object GraftExtensions {
  /** Attach the rule to a session whose builder did not load the
    * extensions: idempotently append it to the session's experimental
    * extra optimizations.
    */
  def install(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraOptimizations
    if (!cur.contains(ApproxDistinctRewrite)) {
      spark.experimental.extraOptimizations = cur :+ ApproxDistinctRewrite
    }
  }
}
