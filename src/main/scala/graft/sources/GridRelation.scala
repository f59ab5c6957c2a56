package graft.sources

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** The one matcher that decides a logical plan reads an unrestricted
  * grid: aliases, attribute-only projections and filters over a
  * [[DataSourceV2Relation]] whose table is a [[GridTable]]
  * or a `format("zarr")` [[ZarrTable]] (resolved to its grid once per
  * table). Both read surfaces therefore get every metadata rewrite
  * (`graft.plans.Metadata*Rule`) and the lazy view's store fast path.
  *
  * Yields the stripped filter conditions (outermost first), the
  * relation, and its grid. Restricted grids (`onlyBlocks`, the boundary
  * scans the rewrites themselves emit) never match, so no rewrite fires
  * twice. A projection that computes a column stops the strip: the
  * rewrites resolve columns by name against the store.
  */
object GridRelation {
  def unapply(plan: LogicalPlan)
      : Option[(Seq[Expression], DataSourceV2Relation, GridTable)] = {
    val conds = Seq.newBuilder[Expression]
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case SubqueryAlias(_, c) => strip(c)
      case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        strip(c)
      case Filter(f, c) => conds += f; strip(c)
      case other => other
    }
    strip(plan) match {
      case rel: DataSourceV2Relation =>
        (rel.table match {
          case gt: GridTable => Some(gt)
          case zt: ZarrTable => Some(zt.grid)
          case _ => None
        }).filter(_.onlyBlocks.isEmpty).map((conds.result(), rel, _))
      case _ => None
    }
  }
}
