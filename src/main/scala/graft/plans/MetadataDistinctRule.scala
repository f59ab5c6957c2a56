package graft.plans

import graft.sources.{GridRelation, MetaAggScan, SeparableDimFilters}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, GenericInternalRow}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graftinterop.FilterInterop

/** DISTINCT over dimension columns answered from the store's
  * coordinate arrays — zero partitions opened (SURVEY §2A A9 extended;
  * the reference reuses its registered coord arrays for exactly this,
  * ds.py:477-505, falling back to per-dim SELECT DISTINCT only when
  * the plan is not a pure table scan, ds.py:530-543).
  *
  * `SELECT DISTINCT dim[, dim2] FROM grid [WHERE separable-dim-preds]`
  * plans as an Aggregate whose output IS its grouping set with no
  * aggregate functions, which the DSv2 aggregate pushdown cannot take
  * (it requires at least one AggregateFunc) — so a coordinate-spine
  * lookup (nearest-neighbor tables, reindex targets, stack ordinals)
  * pays a full O(cells) scan + Exchange to learn the O(dim) values
  * already sitting in [[graft.grid.GridSchema]]'s coord arrays. At 10¹² cells
  * that cost class is wrong even with projection pushdown reading
  * zero data-variable bytes.
  *
  * The rewrite: a dims-only DISTINCT over an unrestricted grid
  * relation, under at most attribute-projections and separable-exact
  * dimension filters, becomes a [[LocalRelation]] holding the cross
  * product of the projected dims' SURVIVING coordinates — the rows of
  * a [[graft.sources.MetaAggScan]] grouped by them with no aggregates.
  * Density makes this exact: every coordinate combination is realized
  * by at least one cell unless ANY dimension's surviving set is empty
  * (then the table has no rows and the DISTINCT is empty). Dimension
  * coordinates are unique by the grid contract (duplicate coords are
  * a reverse-pivot error in the reference, ds.py:800-805) — the same
  * assumption the MetaAggScan GROUP BY path already bakes in.
  *
  * Bails (keeping the normal scan) on: restricted tables
  * (`onlyBlocks`), non-attribute projections, untranslatable or
  * non-separable predicates (e.g. on a data variable), outputs that
  * are not all dimension columns, grouping sets that differ from the
  * output set, and spines over 2^20 rows (the MetaAggScan cap — exact
  * but driver-built).
  */
case class MetadataDistinctRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case agg: Aggregate => rewrite(agg).getOrElse(agg)
  }

  private def rewrite(agg: Aggregate): Option[LogicalPlan] = {
    // DISTINCT shape: every output expression is a bare attribute and
    // the grouping set equals the output set (a grouping key DROPPED
    // from the output would legally duplicate the remaining columns)
    val outs = agg.aggregateExpressions.flatMap {
      case a: AttributeReference => Some(a)
      case _ => None
    }
    if (outs.isEmpty || outs.length != agg.aggregateExpressions.length)
      return None
    val groupIds = agg.groupingExpressions.flatMap {
      case a: AttributeReference => Some(a.exprId)
      case _ => None
    }
    if (groupIds.length != agg.groupingExpressions.length ||
      groupIds.toSet != outs.map(_.exprId).toSet) return None

    agg.child match {
      case GridRelation(conds, _, gt) =>
        val names = outs.map(_.name)
        if (!names.forall(gt.groupDims.contains)) return None
        // a repeated output column (select("lat", "lat").distinct())
        // would turn the cross product into size^2 rows — the duplicate
        // column carries the SAME value per row, not an independent
        // axis. Rare shape; keep the scan.
        if (names.distinct.length != names.length) return None
        val translated = conds.map(FilterInterop.translate)
        if (translated.exists(_.isEmpty)) return None
        val fs = translated.flatten
        if (!fs.forall(f => SeparableDimFilters.isSeparable(f,
          gt.store.schema, gt.groupDims))) return None
        // the grouped cross product of the surviving coordinates,
        // without aggregates: exactly the DISTINCT rows
        val spine = new MetaAggScan(gt.store, gt.chunks, gt.groupDims, Nil,
          fs.toArray, names)
        if (spine.groupCount > (1L << 20)) None
        else Some(LocalRelation(outs, spine.rows.toSeq.map(r =>
          new GenericInternalRow(r): InternalRow)))
      case _ => None
    }
  }
}
