package graft.sources

import java.util.OptionalLong
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import graft.grid._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** DataSource V2 connector that pivots a chunked N-D grid into a lazy,
  * partition-pruned relational table — the Spark re-expression of the
  * reference's custom TableProvider (SURVEY §2A A1-A9; reference
  * src/lib.rs:161-917 + xarray_sql/reader.py:192-337).
  *
  * Architecture (scale-first):
  *   - one `InputPartition` per chunk block, carrying only slice offsets,
  *     per-dim bounds and an exact row count — O(metadata) planning, zero
  *     data reads before execution (the reference's 4-stage laziness
  *     invariant, tests/test_reader.py:254-305);
  *   - zone-map pruning of partitions happens at `planInputPartitions`
  *     using the filters Spark pushed down (all filters stay residual, so
  *     pruning only needs soundness — the analogue of DataFusion Inexact);
  *   - projection pushdown reaches storage: the partition reader reads
  *     only requested variables from the store (A8), and a COUNT(*)-style
  *     empty projection reads no variable data at all (A9/lib.rs:609-614);
  *   - `estimateStatistics` reports exact post-pruning row counts so
  *     Catalyst/AQE picks broadcast joins from real cardinalities.
  */
object GridSource {
  /** Driver-side registry: datasets are handed to the provider by key
    * because DSv2 options are strings. Partitions serialize the store
    * itself, so executors never consult the registry.
    */
  private val registry = new ConcurrentHashMap[String, (GridStore, Map[String, Int], Seq[String])]()

  def register(key: String, store: GridStore, chunks: Map[String, Int],
      groupDims: Seq[String]): Unit =
    registry.put(key, (store, chunks, groupDims))

  /** Drop a registration. Safe once the DataFrame has been `load()`ed:
    * the provider resolves the table (capturing the store) eagerly at
    * load, and partitions serialize the store itself — nothing consults
    * the registry afterwards. Lets per-invocation scratch keys avoid
    * growing the registry for the life of the driver.
    */
  def unregister(key: String): Unit = {
    registry.remove(key)
    ()
  }

  def lookup(key: String): (GridStore, Map[String, Int], Seq[String]) = {
    val v = registry.get(key)
    require(v != null, s"no grid dataset registered under key '$key'")
    v
  }

  val FORMAT = "graft.sources.GridTableProvider"
}

/** Test/ops instrumentation: exact partition-open and variable-read counts
  * (the Spark analogue of the reference's `_iteration_callback` hook,
  * reader.py:198-200; works in local mode where executors share the JVM).
  */
object ReadCounters {
  val partitionsOpened = new LongAdder
  val rowsEmitted = new LongAdder // row-mode readers only (columnar skips)
  private val varReads = new ConcurrentHashMap[String, LongAdder]()
  def recordVarRead(name: String): Unit =
    varReads.computeIfAbsent(name, _ => new LongAdder).increment()
  def varReadCount(name: String): Long =
    Option(varReads.get(name)).map(_.sum()).getOrElse(0L)
  def reset(): Unit = {
    partitionsOpened.reset(); rowsEmitted.reset(); varReads.clear()
  }
}

class GridTableProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (store, _, groupDims) = GridSource.lookup(options.get("dataset"))
    val groupVars = store.schema.vars.filter(_.dims == groupDims)
    store.schema.tableSchema(groupDims, groupVars)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val key = properties.get("dataset")
    val (store, chunks, groupDims) = GridSource.lookup(key)
    new GridTable(key, store, chunks, groupDims)
  }

  override def supportsExternalMetadata(): Boolean = false
}

class GridTable(key: String, val store: GridStore,
    val chunks: Map[String, Int], val groupDims: Seq[String],
    val onlyBlocks: Option[Seq[Seq[(Int, Int)]]] = None)
  extends Table with SupportsRead {
  private val groupVars = store.schema.vars.filter(_.dims == groupDims)

  override def name(): String =
    s"grid:$key" + (if (onlyBlocks.isDefined)
      s" [restricted to ${onlyBlocks.get.size} blocks]" else "")
  override def schema(): StructType = store.schema.tableSchema(groupDims, groupVars)
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  /** Same table restricted to an explicit chunk-block whitelist — used
    * by the partial metadata-count rewrite to scan only the blocks that
    * straddle a predicate boundary.
    */
  def restrictedTo(blocks: Seq[Seq[(Int, Int)]]): GridTable =
    new GridTable(key, store, chunks, groupDims, Some(blocks))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GridScanBuilder(store, chunks, groupDims, groupVars, schema(),
      onlyBlocks)
}

class GridScanBuilder(store: GridStore, chunks: Map[String, Int],
    groupDims: Seq[String], groupVars: Seq[VarDef], fullSchema: StructType,
    onlyBlocks: Option[Seq[Seq[(Int, Int)]]] = None)
  extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates
    with SupportsPushDownLimit
    with SupportsPushDownTopN {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = fullSchema
  private var metaAggs: Option[Seq[MetaAgg]] = None
  private var metaGroupBy: Seq[String] = Nil
  private var limit: Int = -1
  private var topKeys: Seq[(String, Boolean)] = Nil

  /** Separable-exact dimension predicates (conjunctions of single-dim
    * compares — string dims included, in UTF-8 binary order, see
    * [[SeparableDimFilters]]) are claimed EXACT: the reader
    * enumerates only matching cells, so Spark drops its re-filter.
    * Everything else stays residual (Spark re-applies it row-level),
    * mirroring the reference's Inexact pushdown (lib.rs:548-565); the
    * pushed copies of those still drive zone-map partition pruning.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters.filterNot(f =>
      SeparableDimFilters.isSeparable(f, store.schema, groupDims))
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** COUNT(*) / MIN(dim) / MAX(dim) are answered entirely from
    * metadata — under no filter OR under separable-exact dim filters
    * (then the matching cell set is a cross product of per-dim surviving
    * coordinate lists: count = product of list sizes, extrema = list
    * extrema; chunk alignment is irrelevant). GROUP BY over dimension
    * columns pushes too: the grid is dense, so each group is itself a
    * cross product — per group, COUNT = product of the NON-grouped
    * dims' surviving counts and extrema restrict to the group's own
    * coordinate. The reference only metadata-answers the unfiltered
    * global count (tests/test_stats.py:78-91). Data-variable aggregates
    * are never pushed; neither are group sets larger than 2^20 rows
    * (the answer would still be exact, but shipping millions of
    * driver-built rows through one task loses to a scan).
    */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    val groups = agg.groupByExpressions().toSeq.map {
      case nr: NamedReference if nr.fieldNames().length == 1 &&
        groupDims.contains(nr.fieldNames()(0)) => Some(nr.fieldNames()(0))
      case _ => None
    }
    pushed.forall(f =>
      SeparableDimFilters.isSeparable(f, store.schema, groupDims)) &&
      groups.forall(_.isDefined) &&
      groups.flatten.map(d => store.schema.dim(d).size.toLong)
        .product <= (1L << 20) &&
      agg.aggregateExpressions().nonEmpty &&
      agg.aggregateExpressions().forall(e => toMetaAgg(e).isDefined)
  }

  private def toMetaAgg(
      e: org.apache.spark.sql.connector.expressions.aggregate.AggregateFunc): Option[MetaAgg] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    def dimOf(c: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      c match {
        // string dims included: extrema compare in UTF-8 binary order
        // (Utf8Order), matching Spark's UTF8_BINARY Min/Max
        case nr: NamedReference if nr.fieldNames().length == 1 &&
          groupDims.contains(nr.fieldNames()(0)) =>
          Some(nr.fieldNames()(0))
        case _ => None
      }
    e match {
      case _: CountStar => Some(MetaCountStar)
      case m: Min => dimOf(m.column()).map(MetaMinDim)
      case m: Max => dimOf(m.column()).map(MetaMaxDim)
      case _ => None
    }
  }

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    if (supportCompletePushDown(agg)) {
      metaAggs = Some(agg.aggregateExpressions().flatMap(toMetaAgg).toSeq)
      metaGroupBy = agg.groupByExpressions().toSeq.map(
        _.asInstanceOf[NamedReference].fieldNames()(0))
      true
    } else false
  }

  /** Advisory per-partition limit; Spark only pushes it when nothing but
    * projections sit between LIMIT and the scan, so residual filters
    * (which we always keep) make this safe.
    */
  override def pushLimit(l: Int): Boolean = { limit = l; true }
  override def isPartiallyPushed: Boolean = true

  /** Partial TopN pushdown: when every sort key is a dimension column,
    * each partition emits only its local top-N in sorted order — the
    * cell enumeration follows per-dim coordinate-sorted index
    * permutations instead of C-order, so an ORDER BY dim LIMIT k reads
    * k rows per partition instead of the whole block. Spark keeps the
    * final merge (TakeOrderedAndProject over partitions x k rows).
    */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      l: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection}
    val keys = orders.toSeq.map { so =>
      so.expression() match {
        // string dims included: the per-dim permutation sorts in UTF-8
        // binary order (Utf8Order), == Spark's UTF8_BINARY collation
        case nr: NamedReference if nr.fieldNames().length == 1 &&
          groupDims.contains(nr.fieldNames()(0)) =>
          Some((nr.fieldNames()(0),
            so.direction() == SortDirection.DESCENDING))
        case _ => None
      }
    }
    if (keys.nonEmpty && keys.forall(_.isDefined)) {
      // first ordering wins per dim (a dim repeated later can't change order)
      topKeys = keys.flatten.distinctBy(_._1)
      limit = l
      true
    } else false
  }

  override def build(): Scan = metaAggs match {
    case Some(aggs) if onlyBlocks.isEmpty =>
      new MetaAggScan(store, chunks, groupDims, aggs, pushed, metaGroupBy)
    case _ =>
      new GridScan(store, chunks, groupDims, groupVars, required, pushed,
        limit, topKeys, onlyBlocks)
  }
}

/** Per-block coordinate bounds — shared by scan-time pruning and the
  * logical-plan metadata-count rewrite.
  */
object GridBounds {
  def forBlock(schema: GridSchema, groupDims: Seq[String],
      block: Seq[(Int, Int)]): Map[String, DimBounds] =
    groupDims.zip(block).flatMap { case (dimName, (start, len)) =>
      schema.dim(dimName).coords match {
        case DoubleCoords(v) =>
          val s = v.slice(start, start + len)
          if (s.isEmpty) None else Some(dimName -> NumBounds(s.min, s.max))
        case FloatCoords(v) =>
          val s = v.slice(start, start + len).map(_.toDouble)
          if (s.isEmpty) None else Some(dimName -> NumBounds(s.min, s.max))
        case IntCoords(v) =>
          val s = v.slice(start, start + len).map(_.toDouble)
          if (s.isEmpty) None else Some(dimName -> NumBounds(s.min, s.max))
        case LongCoords(v) =>
          val s = v.slice(start, start + len)
          if (s.isEmpty) None else Some(dimName -> LongBounds(s.min, s.max))
        case TimeCoords(v) =>
          val s = v.slice(start, start + len)
          if (s.isEmpty) None else Some(dimName -> LongBounds(s.min, s.max))
        case DurationCoords(v) =>
          val s = v.slice(start, start + len)
          if (s.isEmpty) None else Some(dimName -> LongBounds(s.min, s.max))
        case StringCoords(v) =>
          if (len <= 0) None
          else Some(dimName -> StrBounds.of(v, start, len))
      }
    }.toMap

  /** Store-reported variable stats -> pruning bounds (Long-boxed stats
    * keep exact long/timestamp comparisons beyond 2^53).
    */
  def fromVarStats(s: (Any, Any)): DimBounds = s match {
    case (mn: java.lang.Long, mx: java.lang.Long) =>
      LongBounds(mn, mx)
    case (mn: java.lang.Number, mx: java.lang.Number) =>
      NumBounds(mn.doubleValue(), mx.doubleValue())
    case (mn: String, mx: String) => StrBounds(mn, mx)
    case other => throw new IllegalArgumentException(s"bad var stats $other")
  }

  /** Dim bounds + data-variable bounds (when the store has chunk stats)
    * for one block — the full zone map a predicate can prune against.
    */
  def forBlockWithVars(store: graft.grid.GridStore, groupDims: Seq[String],
      groupVars: Seq[VarDef], block: Seq[(Int, Int)]): Map[String, DimBounds] =
    forBlock(store.schema, groupDims, block) ++
      groupVars.flatMap(v =>
        store.varBounds(v.name, block).map(s => v.name -> fromVarStats(s)))
}

sealed trait MetaAgg extends Serializable
case object MetaCountStar extends MetaAgg
final case class MetaMinDim(dim: String) extends MetaAgg
final case class MetaMaxDim(dim: String) extends MetaAgg

/** Complete metadata-aggregate pushdown: one partition, zero data
  * access. Without filters, COUNT(*) is the product of dim sizes and
  * MIN/MAX of dims come from the coordinate arrays (actual extrema —
  * descending axes included). Under separable-exact dim filters the
  * matching cell set is the cross product of per-dim surviving
  * coordinate lists, so the same aggregates come from those lists
  * (empty product -> count 0 and SQL-null extrema; no groups at all
  * for a grouped aggregate). With GROUP BY over dimension columns, one
  * row per combination of the grouped dims' surviving coordinates:
  * density makes every group the same cross product, so COUNT = the
  * product of the non-grouped dims' surviving counts and a grouped
  * dim's extremum is its own coordinate value.
  */
class MetaAggScan(store: GridStore, chunks: Map[String, Int],
    groupDims: Seq[String], aggs: Seq[MetaAgg],
    filters: Array[Filter] = Array.empty,
    groupBy: Seq[String] = Nil) extends Scan with Batch {

  private lazy val surviving: Map[String, Array[Int]] =
    groupDims.map(d => d -> SeparableDimFilters.survivingIndices(
      filters.toSeq, store.schema, groupDims, d, 0,
      store.schema.dim(d).size)).toMap

  private lazy val totalCount: Long =
    groupDims.map(d => surviving(d).length.toLong).product

  // per-group count: the grouped dims contribute exactly one index each
  private lazy val groupCellCount: Long =
    groupDims.filterNot(groupBy.contains)
      .map(d => surviving(d).length.toLong).product

  private def coordExtreme(dim: String, wantMax: Boolean): Any = {
    val keep = surviving(dim)
    if (totalCount == 0L) return null // no matching rows -> SQL NULL
    val c = store.schema.dim(dim).coords
    c match {
      case DoubleCoords(v) =>
        val s = keep.map(v); if (wantMax) s.max else s.min
      case FloatCoords(v) =>
        val s = keep.map(v); if (wantMax) s.max else s.min
      case IntCoords(v) =>
        val s = keep.map(v); if (wantMax) s.max else s.min
      case LongCoords(v) =>
        val s = keep.map(v); if (wantMax) s.max else s.min
      case TimeCoords(v) =>
        val s = keep.map(v); if (wantMax) s.max else s.min
      case DurationCoords(v) =>
        val s = keep.map(v); if (wantMax) s.max else s.min
      case StringCoords(v) =>
        val s = keep.map(v)
        org.apache.spark.unsafe.types.UTF8String.fromString(
          s.reduce((a, b) =>
            if ((Utf8Order.compare(a, b) >= 0) == wantMax) a else b))
    }
  }

  /** Result row count: one per surviving group (none when no cell
    * matches), one for a global aggregate. A capped fold, not a raw
    * product: past 2^20 it stops multiplying, so enough huge axes
    * cannot overflow a Long back under a caller's cap.
    */
  private[graft] def groupCount: Long =
    if (groupBy.isEmpty) 1L
    else if (totalCount == 0L) 0L
    else groupBy.map(d => surviving(d).length.toLong).foldLeft(1L)(
      (acc, n) => if (acc > (1L << 20)) acc else acc * n)

  /** All result rows (group keys ++ aggregates), driver-computed from
    * coordinate metadata only. Global aggregate = the empty-group case.
    */
  private[graft] lazy val rows: Array[Array[Any]] = {
    def coord(d: String, i: Int): Any = store.schema.dim(d).coords.internal(i)
    def aggValues(groupIdx: Map[String, Int]): Array[Any] = aggs.map {
      case MetaCountStar =>
        (if (groupBy.isEmpty) totalCount else groupCellCount): java.lang.Long
      case MetaMinDim(d) => groupIdx.get(d)
        .map(coord(d, _)).getOrElse(coordExtreme(d, wantMax = false))
      case MetaMaxDim(d) => groupIdx.get(d)
        .map(coord(d, _)).getOrElse(coordExtreme(d, wantMax = true))
    }.toArray
    if (groupBy.isEmpty) Array(aggValues(Map.empty))
    else if (totalCount == 0L) Array.empty // no rows -> no groups
    else {
      // cross product of the grouped dims' surviving indices, C-order
      groupBy.map(d => surviving(d).toSeq)
        .foldLeft(Seq(Seq.empty[Int]))((acc, idxs) =>
          acc.flatMap(prefix => idxs.map(prefix :+ _)))
        .map { combo =>
          val gi = groupBy.zip(combo).toMap
          groupBy.zip(combo).map { case (d, i) => coord(d, i) }
            .toArray ++ aggValues(gi)
        }.toArray
    }
  }

  override def readSchema(): StructType = StructType(
    groupBy.map(d => org.apache.spark.sql.types.StructField(
      d, store.schema.dim(d).coords.gridType.sparkType)) ++
      aggs.map {
        case MetaCountStar => org.apache.spark.sql.types.StructField(
          "count(*)", org.apache.spark.sql.types.LongType, nullable = false)
        case MetaMinDim(d) => org.apache.spark.sql.types.StructField(
          s"min($d)", store.schema.dim(d).coords.gridType.sparkType)
        case MetaMaxDim(d) => org.apache.spark.sql.types.StructField(
          s"max($d)", store.schema.dim(d).coords.gridType.sparkType)
      })
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(MetaAggPartition(rows))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private val rs = p.asInstanceOf[MetaAggPartition].rows
          private var i = -1
          override def next(): Boolean = { i += 1; i < rs.length }
          override def get(): InternalRow = new GenericInternalRow(rs(i).clone())
          override def close(): Unit = {}
        }
    }
  override def description(): String = {
    val g = if (groupBy.isEmpty) "" else s" groupBy=[${groupBy.mkString(",")}]"
    s"GridMetaAggScan [${aggs.mkString(", ")}]$g (metadata only)"
  }
}

final case class MetaAggPartition(rows: Array[Array[Any]]) extends InputPartition

class GridScan(store: GridStore, chunks: Map[String, Int],
    groupDims: Seq[String], groupVars: Seq[VarDef],
    required: StructType, staticFilters: Array[Filter], limit: Int = -1,
    topKeys: Seq[(String, Boolean)] = Nil,
    onlyBlocks: Option[Seq[Seq[(Int, Int)]]] = None)
  extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering {

  /** Join-driven runtime pruning (the DSv2 analogue of dynamic partition
    * pruning): Spark hands over IN-sets of join keys collected from a
    * completed broadcast side, and partition planning re-prunes with
    * them — a grid×dim-table join reads only the chunks holding matching
    * coordinates. Runtime filters prune BLOCKS only (never the cells
    * within a surviving block), so the planned columnar/row mode and
    * statistics — both fixed before runtime filters exist — stay valid.
    */
  override def filterAttributes(): Array[
      org.apache.spark.sql.connector.expressions.NamedReference] =
    groupDims.filter(d =>
      // must be resolvable against the scan OUTPUT (pruned columns);
      // string dims included — runtime IN lists evaluate exactly and
      // StrBounds zone-map prune in UTF-8 binary order
      required.fieldNames.contains(d))
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray

  private var runtimeFilters: Array[Filter] = Array.empty
  override def filter(fs: Array[Filter]): Unit = runtimeFilters = fs

  private def filters: Array[Filter] = staticFilters ++ runtimeFilters

  // per-(dim, chunk) planning index — O(total coords) once per scan,
  // O(n_dims) per block afterwards. Explicit block whitelists
  // (metadata-count boundary scans; always few blocks) keep the direct
  // per-block walk instead of the cross-product enumeration.
  private lazy val planIndex: Option[GridPlanIndex] =
    if (onlyBlocks.isDefined) None
    else Some(new GridPlanIndex(store, groupDims, chunks, groupVars,
      staticFilters.toSeq))

  /** Whitelist path: per-block bounds + keep, exactly the legacy walk.
    * `pruneWith` decides exclusion (static + runtime filters); shipped
    * keep lists always come from the STATIC filters only.
    */
  private def plannedWhitelist(pruneWith: Array[Filter]): IndexedSeq[Planned] =
    onlyBlocks.get.iterator.map { b =>
      val bounds = GridBounds.forBlockWithVars(store, groupDims, groupVars, b)
      val pruneKeep = blockKeep(b, pruneWith)
      if (pruneWith.exists(f => ZoneMapPruning.excludes(f, bounds)) ||
        pruneKeep.exists(_.isEmpty)) None
      else {
        val keep = blockKeep(b, staticFilters)
        val full = keep.zip(b).forall { case (k, (_, l)) => k.length == l }
        Some(Planned(b, if (full) Nil else keep,
          keep.foldLeft(1L)(_ * _.length)))
      }
    }.flatten.toIndexedSeq

  // static view: what's known at planning time (stats, explain, the
  // columnar-vs-row decision); runtime filters only prune further
  private lazy val staticPlanned: IndexedSeq[Planned] = planIndex match {
    case Some(ix) => ix.surviving.map(i =>
      Planned(ix.slices(i), ix.relKeep(i), ix.blockRows(i)))
    case None => plannedWhitelist(staticFilters)
  }

  /** Per-dim surviving RELATIVE indices within a block under the
    * separable dim predicates (full range when none apply). An empty
    * list on any dim empties the whole block (dense cross product).
    * Whitelist path only — the index precomputes these per chunk.
    */
  private def blockKeep(block: Seq[(Int, Int)],
      fs: Array[Filter]): Seq[Array[Int]] =
    groupDims.zip(block).map { case (d, (start, len)) =>
      SeparableDimFilters.survivingIndices(fs.toSeq, store.schema,
        groupDims, d, start, len).map(_ - start)
    }

  private lazy val anyDimFilter: Boolean = staticPlanned.exists(_.keep.nonEmpty)

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  // the store (schema + FULL coordinate arrays) is broadcast once per
  // scan instead of serialized into every task — at reference scale
  // (~1.3M time steps) per-task coords would dominate task size
  private lazy val storeBc =
    org.apache.spark.sql.SparkSession.active.sparkContext.broadcast(store)

  override def planInputPartitions(): Array[InputPartition] = {
    // block pruning uses static + runtime filters; the shipped cell
    // lists use only the static ones so the planned columnar/row mode
    // still matches every partition (runtime pruning never changes rows
    // within a surviving chunk, only which chunks are read)
    val planned: IndexedSeq[Planned] =
      if (runtimeFilters.isEmpty) staticPlanned
      else planIndex match {
        case Some(stat) =>
          // runtime filters are arbitrary, so re-index with them included
          // (O(total coords), cheap) — surviving refs share the same
          // chunk grid, and shipped keep comes from the static index
          val rt = new GridPlanIndex(store, groupDims, chunks, groupVars,
            filters.toSeq)
          rt.surviving.map(i =>
            Planned(stat.slices(i), stat.relKeep(i), stat.blockRows(i)))
        case None => plannedWhitelist(filters)
      }
    planned.map(p =>
      GridInputPartition(storeBc, groupDims, p.block, required.fieldNames,
        limit,
        topKeys.map { case (d, desc) => (groupDims.indexOf(d), desc) },
        p.keep): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GridPartitionReaderFactory

  // top-N / dim-filtered partitions use the enumerating row reader
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    if (topKeys.nonEmpty || anyDimFilter) Scan.ColumnarSupportMode.UNSUPPORTED
    else Scan.ColumnarSupportMode.SUPPORTED

  /** Exact statistics from chunk metadata (A9): row count = sum of block
    * products after pruning; bytes = rows x fixed width of the pruned
    * schema. Feeds Catalyst's broadcast-join selection.
    */
  override def estimateStatistics(): Statistics = new Statistics {
    // exact even under dim filters: per block, the matching cell count
    // is the product of per-dim surviving list sizes
    private val rows = staticPlanned.iterator.map(_.rows).sum
    private val width = math.max(8,
      required.fieldNames.map(widthOf).sum)
    override def sizeInBytes(): OptionalLong = OptionalLong.of(rows * width)
    override def numRows(): OptionalLong = OptionalLong.of(rows)
  }

  private def widthOf(col: String): Int =
    groupVars.find(_.name == col).map(_.dtype.byteWidth)
      .orElse(groupDims.find(_ == col)
        .map(d => store.schema.dim(d).coords.gridType.byteWidth))
      .getOrElse(8)

  override def description(): String = {
    // arithmetic, not enumeration: the full grid may have 10^5+ blocks
    val total = ChunkGrid.resolve(
      GridSchema(groupDims.map(store.schema.dim), Seq.empty), chunks)
      .foldLeft(1L)(_ * _._2.length.toLong)
    val tn = if (topKeys.isEmpty) ""
    else s" pushedTopN=[${topKeys.map { case (d, desc) =>
      d + (if (desc) " DESC" else " ASC") }.mkString(",")} limit=$limit]"
    val ef = if (!anyDimFilter) ""
    else " exactDimFilters=" + staticFilters.filter(f =>
      SeparableDimFilters.isSeparable(f, store.schema, groupDims))
      .mkString("[", ",", "]")
    s"GridScan dims=[${groupDims.mkString(",")}] " +
      s"partitions=${staticPlanned.size}/$total cols=[${required.fieldNames.mkString(",")}]$tn$ef"
  }
}

/** One chunk block: slice offsets + a broadcast handle to the store
  * (coordinate arrays ship once per executor, not once per task).
  * Bounds/row counts are planning-time only and deliberately not
  * shipped. `topKeys` are (dim index, descending) sort keys of a pushed
  * partial TopN; `dimKeep` (when non-empty) holds per-dim surviving
  * RELATIVE indices of exactly-pushed separable dim filters.
  */
final case class GridInputPartition(
    storeBc: org.apache.spark.broadcast.Broadcast[GridStore],
    groupDims: Seq[String],
    block: Seq[(Int, Int)], requiredCols: Array[String],
    limit: Int = -1, topKeys: Seq[(Int, Boolean)] = Nil,
    dimKeep: Seq[Array[Int]] = Nil) extends InputPartition {
  def store: GridStore = storeBc.value
}

class GridPartitionReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GridPartitionReader(partition.asInstanceOf[GridInputPartition])

  /** The store is columnar already — emit `ColumnarBatch`es of at most
    * 65,536 rows (the reference's batch size, df.py:278-280): data
    * variables bulk-copy into vectors, coordinates fill by stride.
    */
  override def supportColumnarReads(partition: InputPartition): Boolean = {
    val p = partition.asInstanceOf[GridInputPartition]
    p.topKeys.isEmpty && p.dimKeep.isEmpty
  }

  override def createColumnarReader(
      partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new GridColumnarReader(partition.asInstanceOf[GridInputPartition])
}

/** Columnar pivot: per batch of <=64Ki cells, each coordinate column is
  * filled with its strided repeat pattern and each variable column is a
  * bulk copy out of the chunk's flat C-order array.
  */
class GridColumnarReader(part: GridInputPartition)
  extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {

  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.ColumnarBatch

  ReadCounters.partitionsOpened.increment()

  private val BatchRows = 65536
  private val schema = part.store.schema
  private val shape: Array[Int] = part.block.map(_._2).toArray
  private val starts: Array[Int] = part.block.map(_._1).toArray
  private val total: Long = {
    val t = shape.foldLeft(1L)(_ * _.toLong)
    if (part.limit >= 0) math.min(t, part.limit.toLong) else t
  }
  private val strides: Array[Long] = {
    val s = new Array[Long](shape.length)
    var acc = 1L
    var k = shape.length - 1
    while (k >= 0) { s(k) = acc; acc *= shape(k); k -= 1 }
    s
  }

  private sealed trait ColSrc
  private case class DimCol(dimIdx: Int, coords: CoordArray) extends ColSrc
  // natNull: time/duration variables surface the NaT sentinel
  // (Long.MinValue) as SQL NULL; for plain long variables the same bit
  // pattern is a legitimate value and copies through untouched
  private case class VarCol(data: AnyRef, natNull: Boolean) extends ColSrc

  private val cols: Array[(ColSrc, org.apache.spark.sql.types.DataType)] =
    part.requiredCols.map { c =>
      val di = part.groupDims.indexOf(c)
      if (di >= 0) {
        val coords = schema.dim(c).coords
        (DimCol(di, coords), coords.gridType.sparkType)
      } else {
        ReadCounters.recordVarRead(c)
        val v = schema.vars.find(_.name == c).get
        (VarCol(part.store.readVar(c, part.block),
          v.dtype == GTimestamp || v.dtype == GDuration), v.dtype.sparkType)
      }
    }

  private val vectors: Array[OnHeapColumnVector] =
    cols.map { case (_, dt) => new OnHeapColumnVector(BatchRows, dt) }
  private var batch: ColumnarBatch = _
  private var offset: Long = 0L

  override def next(): Boolean = {
    if (offset >= total) return false
    val m = math.min(BatchRows.toLong, total - offset).toInt
    var c = 0
    while (c < cols.length) {
      val vec = vectors(c)
      vec.reset()
      cols(c)._1 match {
        case DimCol(d, coords) =>
          val stride = strides(d)
          val size = shape(d)
          val start = starts(d)
          var r = 0
          coords match {
            case DoubleCoords(v) =>
              while (r < m) {
                vec.putDouble(r, v(start + (((offset + r) / stride) % size).toInt)); r += 1
              }
            case FloatCoords(v) =>
              while (r < m) {
                vec.putFloat(r, v(start + (((offset + r) / stride) % size).toInt)); r += 1
              }
            case IntCoords(v) =>
              while (r < m) {
                vec.putInt(r, v(start + (((offset + r) / stride) % size).toInt)); r += 1
              }
            case LongCoords(v) =>
              while (r < m) {
                vec.putLong(r, v(start + (((offset + r) / stride) % size).toInt)); r += 1
              }
            case TimeCoords(v) =>
              while (r < m) {
                vec.putLong(r, v(start + (((offset + r) / stride) % size).toInt)); r += 1
              }
            case DurationCoords(v) =>
              while (r < m) {
                vec.putLong(r, v(start + (((offset + r) / stride) % size).toInt)); r += 1
              }
            case StringCoords(v) =>
              while (r < m) {
                val b = v(start + (((offset + r) / stride) % size).toInt)
                  .getBytes("UTF-8")
                vec.putByteArray(r, b, 0, b.length); r += 1
              }
          }
        case VarCol(data, natNull) =>
          val off = offset.toInt
          data match {
            case a: Array[Double] => vec.putDoubles(0, m, a, off)
            case a: Array[Float] => vec.putFloats(0, m, a, off)
            case a: Array[Int] => vec.putInts(0, m, a, off)
            case a: Array[Long] if natNull =>
              // pre-scan for NaT: clean batches (the usual case) keep
              // the bulk copy; any sentinel takes the per-cell path
              var hasNat = false
              var r = 0
              while (r < m && !hasNat) {
                hasNat = a(off + r) == Long.MinValue; r += 1
              }
              if (!hasNat) vec.putLongs(0, m, a, off)
              else {
                r = 0
                while (r < m) {
                  val x = a(off + r)
                  if (x == Long.MinValue) vec.putNull(r)
                  else vec.putLong(r, x)
                  r += 1
                }
              }
            case a: Array[Long] => vec.putLongs(0, m, a, off)
            case a: Array[String] => // vlen string variables (zarr v3)
              var r = 0
              while (r < m) {
                val b = a(off + r).getBytes("UTF-8")
                vec.putByteArray(r, b, 0, b.length); r += 1
              }
          }
      }
      c += 1
    }
    batch = new ColumnarBatch(vectors.map(v =>
      v: org.apache.spark.sql.vectorized.ColumnVector), m)
    offset += m
    true
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = vectors.foreach(_.close())
}

/** Streams the pivoted rows of one chunk block: strided coordinate
  * arithmetic over the block shape (flat row i -> per-dim index
  * (i / stride_k) % shape_k; reference df.py:241-250,331-336), with data
  * variables read once per partition — only the requested ones (A8), and
  * none at all for an empty projection (COUNT(*), A9).
  */
class GridPartitionReader(part: GridInputPartition)
  extends PartitionReader[InternalRow] {

  ReadCounters.partitionsOpened.increment()

  private val schema = part.store.schema
  private val shape: Array[Int] = part.block.map(_._2).toArray
  private val starts: Array[Int] = part.block.map(_._1).toArray
  private val n: Long = {
    val t = shape.foldLeft(1L)(_ * _.toLong)
    if (part.limit >= 0) math.min(t, part.limit.toLong) else t
  }

  // C-order strides over the block shape (last dim fastest)
  private val strides: Array[Long] = {
    val s = new Array[Long](shape.length)
    var acc = 1L
    var k = shape.length - 1
    while (k >= 0) { s(k) = acc; acc *= shape(k); k -= 1 }
    s
  }

  // per required column: either a dim (coord lookup) or a var (flat array)
  private sealed trait ColSrc
  private case class DimCol(dimIdx: Int, coords: CoordArray) extends ColSrc
  // natNull: see GridColumnarReader — NaT sentinel -> SQL NULL, but
  // only for time/duration variables
  private case class VarCol(data: AnyRef, natNull: Boolean) extends ColSrc

  private val cols: Array[ColSrc] = part.requiredCols.map { c =>
    val di = part.groupDims.indexOf(c)
    if (di >= 0) DimCol(di, schema.dim(c).coords)
    else {
      ReadCounters.recordVarRead(c)
      val v = schema.vars.find(_.name == c).get
      VarCol(part.store.readVar(c, part.block),
        v.dtype == GTimestamp || v.dtype == GDuration)
    }
  }

  private var i: Long = -1L
  private val dimIdx = new Array[Int](shape.length)

  // --- enumerated cell iteration (pushed TopN and/or exact filters) --
  // Each dim iterates over an explicit RELATIVE index list: the
  // surviving indices of exactly-pushed dim filters (all indices when
  // none), sorted by coordinate for TopN sort-key dims. Sort-key dims
  // become the outermost loops (priority order); remaining dims stay
  // innermost in C-order, so plain filtered scans keep C-order and TopN
  // scans emit their local top-N first and stop at `limit`.
  private val enumMode = part.topKeys.nonEmpty || part.dimKeep.nonEmpty
  private val enumOrder: Array[Int] =
    if (!enumMode) Array.empty
    else (part.topKeys.map(_._1) ++
      shape.indices.filterNot(part.topKeys.map(_._1).toSet)).toArray
  private val perm: Array[Array[Int]] =
    if (!enumMode) Array.empty
    else enumOrder.map { d =>
      val base: Array[Int] =
        if (part.dimKeep.isEmpty) Array.range(0, shape(d))
        else part.dimKeep(d)
      part.topKeys.find(_._1 == d) match {
        case None => base // C-order within the surviving indices
        case Some((_, desc)) =>
          val st = starts(d)
          def sorted[T](v: Array[T])(implicit ord: Ordering[T]): Array[Int] =
            base.sortBy(j => v(st + j))(if (desc) ord.reverse else ord)
          schema.dim(part.groupDims(d)).coords match {
            case DoubleCoords(v) => sorted(v)
            case FloatCoords(v) => sorted(v)
            case IntCoords(v) => sorted(v)
            case LongCoords(v) => sorted(v)
            case TimeCoords(v) => sorted(v)
            case DurationCoords(v) => sorted(v)
            case StringCoords(v) =>
              // pre-encode once per index: comparator-side getBytes
              // would re-encode both strings O(n log n) times
              val enc = base.map(j => v(st + j)
                .getBytes(java.nio.charset.StandardCharsets.UTF_8))
              val byBytes = Ordering.fromLessThan[Int]((a, b) =>
                java.util.Arrays.compareUnsigned(enc(a), enc(b)) < 0)
              base.indices.sortBy(identity)(
                if (desc) byBytes.reverse else byBytes)
                .map(base).toArray
          }
      }
    }
  private val counts: Array[Int] = perm.map(_.length)
  private val counter = new Array[Int](enumOrder.length)
  private var flat: Long = 0L

  // cap n at the enumerated cell count (fewer cells when filters prune)
  private val nEnum: Long =
    if (!enumMode) n
    else {
      val cells = counts.foldLeft(1L)(_ * _.toLong)
      if (part.limit >= 0) math.min(cells, part.limit.toLong) else cells
    }

  override def next(): Boolean = {
    i += 1
    if (i >= (if (enumMode) nEnum else n)) return false
    ReadCounters.rowsEmitted.increment()
    if (enumMode) {
      if (i > 0) { // odometer step over the reordered dims
        var j = enumOrder.length - 1
        var carry = true
        while (carry && j >= 0) {
          counter(j) += 1
          if (counter(j) < counts(j)) carry = false
          else { counter(j) = 0; j -= 1 }
        }
      }
      var j = 0
      while (j < enumOrder.length) {
        val d = enumOrder(j)
        dimIdx(d) = perm(j)(counter(j))
        j += 1
      }
      var f = 0L
      var k = 0
      while (k < shape.length) { f += dimIdx(k).toLong * strides(k); k += 1 }
      flat = f
    }
    true
  }

  override def get(): InternalRow = {
    if (!enumMode) {
      var k = 0
      while (k < shape.length) {
        dimIdx(k) = ((i / strides(k)) % shape(k)).toInt
        k += 1
      }
      flat = i
    }
    val row = new GenericInternalRow(cols.length)
    var c = 0
    while (c < cols.length) {
      cols(c) match {
        case DimCol(d, coords) =>
          row.update(c, coords.internal(starts(d) + dimIdx(d)))
        case VarCol(data, natNull) =>
          val fi = flat.toInt // block row counts are bounded by chunk sizing
          data match {
            case a: Array[Double] => row.update(c, a(fi))
            case a: Array[Float] => row.update(c, a(fi))
            case a: Array[Int] => row.update(c, a(fi))
            case a: Array[Long] =>
              val x = a(fi)
              if (natNull && x == Long.MinValue) row.setNullAt(c)
              else row.update(c, x)
            case a: Array[String] => row.update(c,
              org.apache.spark.unsafe.types.UTF8String.fromString(a(fi)))
          }
      }
      c += 1
    }
    row
  }

  override def close(): Unit = {}
}

/** One planned (surviving) block of a grid scan: slices, shipped
  * RELATIVE surviving indices (Nil = every dim full), and its exact
  * matching-cell count. Top-level (not nested in the scan) so the
  * synthesized equality carries no outer-instance type test.
  */
private[sources] final case class Planned(block: Seq[(Int, Int)],
    keep: Seq[Array[Int]], rows: Long)
