package graft.sources

import graft.grid.GridStore
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util.OptionalLong
import scala.jdk.CollectionConverters._

/** SQL-level multi-store concatenation: ONE catalog table over a fleet
  * of member stores (the `xr.open_mfdataset` analog of
  * [[graft.XarrayContext.concatDataFrame]], now resolvable in pure SQL
  * as `SELECT ... FROM <dataset>.<view>` — the reference registers
  * multiple datasets into one SQL context the same way,
  * xarray_sql/sql.py:105-125).
  *
  * Per-member pruning stays fully intact because nothing is merged at
  * plan time: the scan builder fans every pushdown (filters, column
  * pruning, metadata aggregates, limit, top-N) out to one ordinary
  * [[GridScanBuilder]] per member, and the scan unions the members'
  * input partitions — each planned against its member's OWN chunk grid
  * and zone maps, so a time predicate opens zero partitions of the
  * members it misses. Members may differ in chunking and codec; at
  * 100 TB this is the natural shape of an archive (one store per
  * day/model-run/shard) queried as one table.
  *
  * Metadata aggregates survive concatenation as PARTIALS: when every
  * member can answer COUNT/MIN/MAX from coordinate metadata, each
  * contributes its one metadata row and Spark's final aggregate
  * combines them (complete pushdown is deliberately NOT claimed — the
  * members' rows are per-member, not global).
  */
class ConcatGridTable(key: String,
    val members: Seq[(GridStore, Map[String, Int])],
    val groupDims: Seq[String]) extends Table with SupportsRead {

  require(members.nonEmpty, "concat of zero stores")

  private val memberSchemas = members.map { case (st, _) =>
    st.schema.tableSchema(groupDims,
      st.schema.vars.filter(_.dims == groupDims))
  }
  // same relational shape required; coordinate VALUES (and chunking,
  // codec, stats) are free to differ per member
  memberSchemas.tail.foreach { s =>
    require(s.fields.map(f => (f.name, f.dataType)).sameElements(
      memberSchemas.head.fields.map(f => (f.name, f.dataType))),
      s"concat members disagree on schema: $s vs ${memberSchemas.head}")
  }

  override def name(): String = s"grid-concat:$key [${members.size} stores]"
  override def schema(): StructType = memberSchemas.head
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = {
    val builders = members.map { case (st, ch) =>
      new GridScanBuilder(st, ch, groupDims,
        st.schema.vars.filter(_.dims == groupDims), schema())
    }
    new ConcatGridScanBuilder(builders)
  }
}

/** Fan every pushdown out to the per-member builders. Residual filters
  * are the UNION of member residuals (schema shapes match, so members
  * agree in practice; union keeps the conservative side if they ever
  * diverge — Spark just re-applies more).
  */
class ConcatGridScanBuilder(builders: Seq[GridScanBuilder])
  extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates
    with SupportsPushDownLimit {

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val residuals = builders.map(_.pushFilters(filters).toSet)
    filters.filter(f => residuals.exists(_.contains(f)))
  }
  override def pushedFilters(): Array[Filter] = builders.head.pushedFilters()

  override def pruneColumns(requiredSchema: StructType): Unit =
    builders.foreach(_.pruneColumns(requiredSchema))

  /** Complete pushdown is never claimed at the concat level: each
    * member's metadata row covers that member only, so Spark MUST keep
    * the final combine (SUM of counts, MIN of mins, MAX of maxes over
    * the unioned member rows — exactly the partial-aggregate contract).
    */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
    : Boolean = false

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
    : Boolean =
    // all-or-nothing: partial pushdown changes the scan output schema,
    // so every member must serve the aggregate from metadata
    builders.forall(_.supportCompletePushDown(agg)) &&
      builders.forall(_.pushAggregation(agg))

  override def pushLimit(l: Int): Boolean = {
    builders.foreach(_.pushLimit(l))
    true
  }
  override def isPartiallyPushed: Boolean = true

  override def build(): Scan = new ConcatGridScan(builders.map(_.build()))
}

/** Union of the member scans' partitions. Partitions are self-contained
  * (each carries its member store via broadcast), so one reader factory
  * serves them all; statistics sum; runtime filters forward so each
  * member re-prunes its own chunk grid.
  */
class ConcatGridScan(scans: Seq[Scan]) extends Scan with Batch
    with SupportsReportStatistics with SupportsRuntimeFiltering {

  override def readSchema(): StructType = scans.head.readSchema()
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    scans.flatMap(_.toBatch.planInputPartitions()).toArray

  // members are all grid scans or all metadata scans (`pushAggregation`
  // is all-or-nothing), so the head speaks for every member: its reader
  // factory serves every partition, in its read mode
  override def createReaderFactory(): PartitionReaderFactory =
    scans.head.toBatch.createReaderFactory()

  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    scans.head.columnarSupportMode()

  override def estimateStatistics(): Statistics = {
    val memberStats = scans.collect {
      case s: SupportsReportStatistics => s.estimateStatistics()
    }
    new Statistics {
      override def sizeInBytes(): OptionalLong =
        if (memberStats.forall(_.sizeInBytes().isPresent))
          OptionalLong.of(memberStats.map(_.sizeInBytes().getAsLong).sum)
        else OptionalLong.empty()
      override def numRows(): OptionalLong =
        if (memberStats.forall(_.numRows().isPresent))
          OptionalLong.of(memberStats.map(_.numRows().getAsLong).sum)
        else OptionalLong.empty()
    }
  }

  override def filterAttributes(): Array[
      org.apache.spark.sql.connector.expressions.NamedReference] =
    scans.collect { case s: SupportsRuntimeFiltering =>
      s.filterAttributes().map(_.describe()).toSet
    }.reduceOption(_ intersect _).getOrElse(Set.empty)
      .toArray.sorted
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)

  override def filter(fs: Array[Filter]): Unit =
    scans.foreach {
      case s: SupportsRuntimeFiltering => s.filter(fs)
      case _ => ()
    }

  override def description(): String =
    s"ConcatGridScan [${scans.size} members: " +
      scans.map(_.description()).mkString(" | ") + "]"
}
