package graft.plans

import graft.sources.{GridPlanIndex, GridRelation, SeparableDimFilters}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Add, Alias, And, GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graftinterop.FilterInterop

/** Filtered COUNT(*) from chunk metadata (SURVEY §2A A9 extended to the
  * filtered case; the reference only metadata-answers the unfiltered
  * count, tests/test_stats.py:78-91).
  *
  * DSv2 complete-aggregate pushdown cannot fire under a residual filter,
  * so `COUNT(*) WHERE dim BETWEEN ...` reads every surviving partition
  * just to count it. But when the predicate region is provably aligned
  * with the chunk grid — every partition is either fully excluded or
  * fully included by the dimension-only predicate — the answer is a sum
  * of block row counts, already known at planning time. This rule
  * rewrites such an Aggregate(Filter(grid)) to a LocalRelation with the
  * precomputed count: zero partitions opened.
  *
  * Partial case: when only SOME blocks straddle the predicate boundary,
  * the fully-included blocks still contribute their metadata counts and
  * the scan is restricted to the straddling blocks alone
  * (`GridTable.restrictedTo`), rewritten as
  * `included_total + COUNT(*) over straddling blocks` — at 100 TB an
  * unaligned "how many rows in this time range" reads only the one or
  * two boundary chunks per dimension instead of the whole range. A
  * non-translatable predicate or a data-variable reference still bails
  * to the normal scan.
  */
case class MetadataCountRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case agg: Aggregate if agg.groupingExpressions.isEmpty &&
      agg.aggregateExpressions.length == 1 =>
      (agg.aggregateExpressions.head match {
        case a @ Alias(ae: AggregateExpression, _) if isCountStar(ae) =>
          rewrite(agg, a)
        case _ => None
      }).getOrElse(agg)
  }

  private def isCountStar(ae: AggregateExpression): Boolean =
    !ae.isDistinct && ae.filter.isEmpty && (ae.aggregateFunction match {
      case Count(Seq(l: Literal)) => l.value != null
      case _ => false
    })

  private def rewrite(agg: Aggregate, alias: Alias): Option[LogicalPlan] =
    agg.child match {
      case GridRelation(conds, rel, gt) if conds.nonEmpty =>
        val cond = conds.reduce(And)
        FilterInterop.translate(cond).flatMap { f =>
          val schema = gt.store.schema
          if (SeparableDimFilters.isSeparable(f, schema, gt.groupDims))
            // the scan's exact filtered meta-aggregate pushdown answers
            // separable counts with zero reads already — bail before
            // walking the (possibly 10^5+) blocks
            None
          else {
            // dim bounds + variable chunk stats: counts under variable
            // predicates become metadata-answerable when the store
            // records per-chunk min/max
            val pidx = new GridPlanIndex(gt.store, gt.groupDims, gt.chunks,
              schema.vars.filter(_.dims == gt.groupDims), Nil)
            val (inside, boundary) =
              pidx.metadataSplit(Some(f))(ci => Some(pidx.fullRows(ci)))
            val total = inside.sum
            if (boundary.isEmpty)
              // fully decidable: a pure-metadata constant
              Some(LocalRelation(Seq(alias.toAttribute),
                Seq(new GenericInternalRow(Array[Any](total)): InternalRow)))
            else if (total > 0L) {
              // partial: metadata count for included blocks + a real
              // COUNT over ONLY the straddling blocks.
              val restricted = rel.copy(table = gt.restrictedTo(boundary))
              val cnt = Alias(AggregateExpression(
                Count(Seq(Literal(1))), Complete, isDistinct = false),
                "boundary_cnt")()
              val inner = Aggregate(Nil, Seq(cnt), Filter(cond, restricted))
              Some(Project(Seq(Alias(
                Add(cnt.toAttribute, Literal(total)), alias.name)(
                exprId = alias.exprId)), inner))
            } else None // nothing saved: keep the normal scan
          }
        }
      case _ => None
    }
}
