package graft.sources

import java.util.OptionalLong
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import graft.grid._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

import scala.jdk.CollectionConverters._

/** Test/ops instrumentation: exact partition-open and variable-read counts
  * (the Spark analogue of the reference's `_iteration_callback` hook,
  * reader.py:198-200; works in local mode where executors share the JVM).
  */
object ReadCounters {
  val partitionsOpened = new LongAdder
  val rowsEmitted = new LongAdder // every row the grid reader emits
  private val varReads = new ConcurrentHashMap[String, LongAdder]()
  def recordVarRead(name: String): Unit =
    varReads.computeIfAbsent(name, _ => new LongAdder).increment()
  def varReadCount(name: String): Long =
    Option(varReads.get(name)).map(_.sum()).getOrElse(0L)
  def reset(): Unit = {
    partitionsOpened.reset(); rowsEmitted.reset(); varReads.clear()
  }
}

/** DataSource V2 table that pivots one dim group of a chunked N-D grid
  * into a lazy, partition-pruned relational table — the Spark
  * re-expression of the reference's custom TableProvider (SURVEY §2A
  * A1-A9; reference src/lib.rs:161-917 + xarray_sql/reader.py:192-337).
  * `XarrayContext.dataFrame` wraps one in a relation directly;
  * `format("zarr")` and the catalogs resolve to one too.
  *
  * Architecture (scale-first):
  *   - one plan walk, [[GridPlanIndex]]: the surviving chunk blocks,
  *     each carrying only slice offsets and the per-dim keep lists of
  *     exact dim filters, packed in plan order into byte-sized
  *     `InputPartition`s by Spark's file-split rule — O(metadata)
  *     planning, zero data reads before execution (the reference's
  *     4-stage laziness invariant, tests/test_reader.py:254-305). A
  *     restricted table and runtime filters only narrow that walk;
  *   - zone-map pruning of partitions happens at `planInputPartitions`
  *     using the filters Spark pushed down (non-separable filters stay
  *     residual, so pruning only needs soundness — the analogue of
  *     DataFusion Inexact);
  *   - one reader, [[GridColumnarReader]]: every partition, dense,
  *     dim-filtered, TopN or aggregating, streams `ColumnarBatch`es,
  *     one block in memory at a time;
  *   - SUM/COUNT/AVG over float variables, grouped by dims under exact
  *     dim filters, push down as a partial aggregate the reader folds
  *     per block ([[PartialAgg]]); Spark keeps the final combine;
  *   - projection pushdown reaches storage: the reader reads only
  *     requested variables from the store (A8), and a COUNT(*)-style
  *     empty projection reads no variable data at all (A9/lib.rs:609-614);
  *   - `estimateStatistics` reports exact post-pruning row counts so
  *     Catalyst/AQE picks broadcast joins from real cardinalities.
  */
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
  private var partialAgg: Option[PartialAgg] = None
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
    * never push completely (see `toPartialAgg`); neither do group sets
    * larger than 2^20 rows (the answer would still be exact, but
    * shipping millions of driver-built rows through one task loses to
    * a scan). A restricted table (`onlyBlocks`) never answers from
    * metadata: its rows are a subset of the grid's.
    */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    val groups = groupDimsOf(agg)
    onlyBlocks.isEmpty && exactFiltersOnly &&
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

  private def exactFiltersOnly: Boolean =
    pushed.forall(f => SeparableDimFilters.isSeparable(f, store.schema, groupDims))

  // per grouping expression: the dim it names, None for anything else
  private def groupDimsOf(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
    : Seq[Option[String]] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    agg.groupByExpressions().toSeq.map {
      case nr: NamedReference if nr.fieldNames().length == 1 &&
        groupDims.contains(nr.fieldNames()(0)) => Some(nr.fieldNames()(0))
      case _ => None
    }
  }

  /** The partial form (Spark keeps the final aggregate): SUM, COUNT(var)
    * and COUNT(*) over float/double variables — AVG arrives here already
    * split into SUM and COUNT — grouped by dims, under exact dim filters
    * only. Float sums accumulate in double like Spark's `Sum`; integer
    * SUM (ANSI overflow), DISTINCT, MIN/MAX and expressions decline.
    */
  private def toPartialAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
    : Option[PartialAgg] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Sum}
    def floatVar(c: org.apache.spark.sql.connector.expressions.Expression)
      : Option[String] = c match {
      case nr: NamedReference if nr.fieldNames().length == 1 =>
        groupVars.find(v => v.name == nr.fieldNames()(0) &&
          (v.dtype == GDouble || v.dtype == GFloat)).map(_.name)
      case _ => None
    }
    val fns = agg.aggregateExpressions().toSeq.map {
      case s: Sum if !s.isDistinct => floatVar(s.column()).map(PartialSum)
      case c: Count if !c.isDistinct => floatVar(c.column()).map(_ => PartialCount)
      case _: CountStar => Some(PartialCount)
      case _ => None
    }
    val groups = groupDimsOf(agg)
    if (exactFiltersOnly && fns.nonEmpty && fns.forall(_.isDefined) &&
      groups.forall(_.isDefined))
      Some(PartialAgg(groups.flatten, fns.flatten))
    else None
  }

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    if (supportCompletePushDown(agg)) {
      metaAggs = Some(agg.aggregateExpressions().flatMap(toMetaAgg).toSeq)
      metaGroupBy = groupDimsOf(agg).flatten
      true
    } else {
      partialAgg = toPartialAgg(agg)
      partialAgg.isDefined
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
    case Some(aggs) =>
      new MetaAggScan(store, chunks, groupDims, aggs, pushed, metaGroupBy)
    case None =>
      new GridScan(store, chunks, groupDims, groupVars, required, pushed,
        limit, topKeys, onlyBlocks, partialAgg)
  }
}

sealed trait MetaAgg extends Serializable
case object MetaCountStar extends MetaAgg
final case class MetaMinDim(dim: String) extends MetaAgg
final case class MetaMaxDim(dim: String) extends MetaAgg

/** A partial aggregate computed inside the grid scan: per block, one
  * row per group of `groupBy` dims holding the group's coordinates and
  * then one value per function — SUM as a double (NULL never occurs: a
  * group exists only where it has cells), COUNT as a long.
  */
final case class PartialAgg(groupBy: Seq[String], fns: Seq[PartialFn]) {
  def vars: Seq[String] = fns.collect { case PartialSum(v) => v }.distinct
  override def toString: String =
    fns.mkString("[", ",", "]") +
      (if (groupBy.isEmpty) "" else groupBy.mkString(" groupBy=[", ",", "]"))
}
sealed trait PartialFn extends Serializable
final case class PartialSum(v: String) extends PartialFn {
  override def toString: String = s"SUM($v)"
}
// COUNT(var) and COUNT(*) alike: float variables hold no NULLs
case object PartialCount extends PartialFn {
  override def toString: String = "COUNT"
}

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
    onlyBlocks: Option[Seq[Seq[(Int, Int)]]] = None,
    partialAgg: Option[PartialAgg] = None)
  extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering {

  /** Join-driven runtime pruning (the DSv2 analogue of dynamic partition
    * pruning): Spark hands over IN-sets of join keys collected from a
    * completed broadcast side, and partition planning re-prunes and
    * re-packs the blocks with them. Runtime filters prune BLOCKS only
    * (never the cells within a surviving block), so the statistics and
    * the shipped keep lists — both fixed before runtime filters exist —
    * stay valid. Only non-float dims prune this way: Spark wraps a float
    * join key in NaN/zero normalization, which translates to no source
    * filter, so a join on lat/lon hands over nothing.
    */
  override def filterAttributes(): Array[
      org.apache.spark.sql.connector.expressions.NamedReference] =
    // must be resolvable against the scan OUTPUT (the pruned columns, or
    // a pushed aggregate's group dims); string dims included — runtime
    // IN lists evaluate exactly and StrBounds zone-map prune in UTF-8
    // binary order
    groupDims.filter(d =>
      partialAgg.fold(required.fieldNames.contains(d))(_.groupBy.contains(d)))
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray

  private var runtimeFilters: Array[Filter] = Array.empty
  override def filter(fs: Array[Filter]): Unit = runtimeFilters = fs

  private def filters: Array[Filter] = staticFilters ++ runtimeFilters

  // per-(dim, chunk) planning index — O(total coords) once per scan,
  // O(n_dims) per block afterwards
  private lazy val planIndex =
    new GridPlanIndex(store, groupDims, chunks, groupVars, staticFilters.toSeq)

  private lazy val whitelist: Option[Set[Seq[(Int, Int)]]] =
    onlyBlocks.map(_.toSet)

  /** The blocks `ix` keeps that the restriction (when any) lists, each
    * shipped with the STATIC index's keep lists and row counts: `ix`
    * may carry runtime filters, which prune blocks but never the cells
    * within a surviving block.
    */
  private def planned(ix: GridPlanIndex): IndexedSeq[GridBlock] =
    ix.surviving.iterator
      .map(i => GridBlock(planIndex.slices(i), planIndex.relKeep(i),
        planIndex.blockRows(i)))
      .filter(b => whitelist.forall(_.contains(b.slices)))
      .toIndexedSeq

  // static view: what's known at planning time (stats, explain);
  // runtime filters only prune further
  private lazy val staticPlanned: IndexedSeq[GridBlock] = planned(planIndex)
  private lazy val staticPacked: IndexedSeq[Seq[GridBlock]] = pack(staticPlanned)

  private lazy val anyDimFilter: Boolean = staticPlanned.exists(_.keep.nonEmpty)

  // what each block reads: the projection, or the pushed aggregate's
  // group dims and summed variables
  private val readCols: Seq[String] =
    partialAgg.fold(required.fieldNames.toSeq)(a => a.groupBy ++ a.vars)

  // bytes per matching cell: the fixed width of what a block reads
  private lazy val cellWidth: Long = math.max(8, readCols.map(widthOf).sum)

  override def readSchema(): StructType = partialAgg.fold(required) { a =>
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField}
    StructType(a.groupBy.map(d =>
      StructField(d, store.schema.dim(d).coords.gridType.sparkType)) ++
      a.fns.map {
        case PartialSum(v) => StructField(s"sum($v)", DoubleType)
        case PartialCount => StructField("count", LongType, nullable = false)
      })
  }

  override def toBatch: Batch = this

  // the store (schema + FULL coordinate arrays) is broadcast once per
  // scan instead of serialized into every task — at reference scale
  // (~1.3M time steps) per-task coords would dominate task size
  private lazy val storeBc =
    org.apache.spark.sql.SparkSession.active.sparkContext.broadcast(store)

  /** Blocks in plan order, cut into partitions by Spark's file-split
    * rule (`FilePartition.maxSplitBytes`): the target is
    * `min(filesMaxPartitionBytes, max(filesOpenCostInBytes, total /
    * minPartitionNum))`, a block costs its matching cells times the
    * cell width plus one open cost, and a partition closes before the
    * block that would overflow it. Plan order is kept, so a partition's
    * blocks stay in C-order and per-block TopN/limit still hold.
    */
  private def pack(blocks: IndexedSeq[GridBlock]): IndexedSeq[Seq[GridBlock]] = {
    import org.apache.spark.sql.internal.SQLConf
    val conf = SQLConf.get
    val open = conf.filesOpenCostInBytes
    def bytes(b: GridBlock): Long = b.rows * cellWidth + open
    val minParts = conf.filesMinPartitionNum
      .orElse(conf.getConf(SQLConf.LEAF_NODE_DEFAULT_PARALLELISM))
      .getOrElse(
        org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism)
    val target = math.min(conf.filesMaxPartitionBytes,
      math.max(open, blocks.iterator.map(bytes).sum / minParts))
    val out = IndexedSeq.newBuilder[Seq[GridBlock]]
    var cur = Vector.empty[GridBlock]
    var size = 0L
    blocks.foreach { b =>
      if (cur.nonEmpty && size + bytes(b) > target) {
        out += cur; cur = Vector.empty; size = 0L
      }
      cur :+= b
      size += bytes(b)
    }
    if (cur.nonEmpty) out += cur
    out.result()
  }

  override def planInputPartitions(): Array[InputPartition] = {
    // runtime filters are arbitrary, so re-index with them included
    // (O(total coords), cheap) and re-pack the survivors; both indexes
    // share one chunk grid
    val packed =
      if (runtimeFilters.isEmpty) staticPacked
      else pack(planned(new GridPlanIndex(store, groupDims, chunks, groupVars,
        filters.toSeq)))
    packed.map(bs =>
      GridInputPartition(storeBc, groupDims, bs, readCols.toArray, limit,
        topKeys.map { case (d, desc) => (groupDims.indexOf(d), desc) },
        partialAgg): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GridReaderFactory

  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    Scan.ColumnarSupportMode.SUPPORTED

  /** Exact statistics from chunk metadata (A9): row count = sum of block
    * products after pruning; bytes = rows x fixed width of the pruned
    * schema. Under a pushed aggregate, the rows the scan emits: per
    * block, the product of the grouped dims' surviving counts (one for a
    * global aggregate). Feeds Catalyst's broadcast-join selection.
    */
  override def estimateStatistics(): Statistics = new Statistics {
    // exact even under dim filters: per block, the matching cell count
    // is the product of per-dim surviving list sizes
    private val (rows, width) = partialAgg match {
      case None => (staticPlanned.iterator.map(_.rows).sum, cellWidth)
      case Some(a) =>
        val gi = a.groupBy.map(groupDims.indexOf)
        (staticPlanned.iterator
          .map(b => gi.foldLeft(1L)((p, d) => p * b.len(d))).sum,
          math.max(8L, a.groupBy.map(widthOf).sum + 8L * a.fns.size))
    }
    override def sizeInBytes(): OptionalLong = OptionalLong.of(rows * width)
    override def numRows(): OptionalLong = OptionalLong.of(rows)
  }

  private def widthOf(col: String): Int =
    groupVars.find(_.name == col).map(_.dtype.byteWidth)
      .orElse(groupDims.find(_ == col)
        .map(d => store.schema.dim(d).coords.gridType.byteWidth))
      .getOrElse(8)

  override def description(): String = {
    val tn = if (topKeys.isEmpty) ""
    else s" pushedTopN=[${topKeys.map { case (d, desc) =>
      d + (if (desc) " DESC" else " ASC") }.mkString(",")} limit=$limit]"
    val ef = if (!anyDimFilter) ""
    else " exactDimFilters=" + staticFilters.filter(f =>
      SeparableDimFilters.isSeparable(f, store.schema, groupDims))
      .mkString("[", ",", "]")
    val pa = partialAgg.fold("")(a => s" pushedPartialAgg=$a")
    s"GridScan dims=[${groupDims.mkString(",")}] " +
      s"partitions=${staticPlanned.size}/${planIndex.totalBlocks} " +
      s"tasks=${staticPacked.size} cols=[${readCols.mkString(",")}]$tn$ef$pa"
  }
}

/** One planned (surviving) chunk block: its (start, len) slices, the
  * RELATIVE surviving indices of exactly-pushed dim filters (Nil = every
  * dim full), and its exact matching-cell count.
  */
final case class GridBlock(slices: Seq[(Int, Int)], keep: Seq[Array[Int]],
    rows: Long) {
  /** Surviving index count along dim `d`. */
  def len(d: Int): Int = if (keep.isEmpty) slices(d)._2 else keep(d).length
}

/** A run of surviving chunk blocks, in plan order, packed up to the
  * scan's byte target, plus a broadcast handle to the store (coordinate
  * arrays ship once per executor, not once per task). `topKeys` are
  * (dim index, descending) sort keys of a pushed partial TopN; it and
  * `limit` apply per block. `agg` is a pushed partial aggregate.
  */
final case class GridInputPartition(
    storeBc: org.apache.spark.broadcast.Broadcast[GridStore],
    groupDims: Seq[String],
    blocks: Seq[GridBlock], requiredCols: Array[String],
    limit: Int = -1, topKeys: Seq[(Int, Boolean)] = Nil,
    agg: Option[PartialAgg] = None) extends InputPartition {
  def store: GridStore = storeBc.value
}

/** Grid scans read columnar batches only ([[GridColumnarReader]]). */
object GridReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("grid scans read columnar batches")

  override def createColumnarReader(
      partition: InputPartition): PartitionReader[ColumnarBatch] =
    new GridColumnarReader(partition.asInstanceOf[GridInputPartition])
}

/** One block's matching cells as runs of flat C-order offsets into the
  * block. Each dim iterates over a RELATIVE index list: the surviving
  * indices of exactly-pushed dim filters (all indices when none), sorted
  * by coordinate for TopN sort-key dims. Sort-key dims are the outermost
  * loops (priority order) and the rest stay in C-order, so a TopN walk
  * yields its local top-N first and stops at `limit`. The trailing dims
  * that are walked whole and in storage order fold into one contiguous
  * run (a dense block is a single run); otherwise the innermost walked
  * dim splits into runs of consecutive indices. Without sort keys every
  * run is contiguous (`step` 1).
  */
private[sources] final class BlockWalk(schema: GridSchema,
    groupDims: Seq[String], block: GridBlock,
    topKeys: Seq[(Int, Boolean)], limit: Int) {

  val shape: Array[Int] = block.slices.map(_._2).toArray
  val starts: Array[Int] = block.slices.map(_._1).toArray
  private val nd = shape.length
  // C-order strides over the block shape (last dim fastest)
  val strides: Array[Long] = {
    val s = new Array[Long](nd)
    var acc = 1L
    var k = nd - 1
    while (k >= 0) { s(k) = acc; acc *= shape(k); k -= 1 }
    s
  }

  // --- sort-key dims first, then the rest in C-order -------------------
  private val order: Array[Int] = {
    val keys = topKeys.map(_._1)
    (keys ++ (0 until nd).filterNot(keys.contains)).toArray
  }
  private val lists: Array[Array[Int]] = order.map { d =>
    val base =
      if (block.keep.isEmpty) Array.range(0, shape(d)) else block.keep(d)
    topKeys.find(_._1 == d).fold(base)(k => sortedByCoord(d, base, k._2))
  }

  private def sortedByCoord(d: Int, base: Array[Int], desc: Boolean): Array[Int] = {
    val st = starts(d)
    def sorted[T](v: Array[T])(implicit ord: Ordering[T]): Array[Int] =
      base.sortBy(j => v(st + j))(if (desc) ord.reverse else ord)
    schema.dim(groupDims(d)).coords match {
      case DoubleCoords(v) => sorted(v)
      case FloatCoords(v) => sorted(v)
      case IntCoords(v) => sorted(v)
      case LongCoords(v) => sorted(v)
      case TimeCoords(v) => sorted(v)
      case DurationCoords(v) => sorted(v)
      case StringCoords(v) =>
        // pre-encode once per index: comparator-side getBytes would
        // re-encode both strings O(n log n) times
        val enc = base.map(j => v(st + j)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val byBytes = Ordering.fromLessThan[Int]((a, b) =>
          java.util.Arrays.compareUnsigned(enc(a), enc(b)) < 0)
        base.indices.sortBy(identity)(if (desc) byBytes.reverse else byBytes)
          .map(base).toArray
    }
  }

  // trailing walked dims that are the block's own trailing dims, whole
  // and in storage order: one contiguous run per outer position
  private val folded: Int = {
    var k = 0
    while (k < nd && order(nd - 1 - k) == nd - 1 - k &&
      lists(nd - 1 - k).sameElements(0 until shape(nd - 1 - k))) k += 1
    k
  }
  private val split = folded == 0 && nd > 0 // innermost dim splits into runs
  private val outer = if (split) nd - 1 else nd - folded
  // inner runs, relative to the outer position: flat start and length;
  // consecutive cells of a run are `step` apart
  private val (runStart, runLen, stepLen): (Array[Long], Array[Int], Long) =
    if (!split)
      (Array(0L), Array((nd - folded until nd).foldLeft(1)(_ * shape(_))), 1L)
    else {
      val l = lists(nd - 1)
      val cuts = (0 until l.length).filter(i => i == 0 || l(i) != l(i - 1) + 1)
      val st = strides(order(nd - 1))
      (cuts.map(l(_) * st).toArray,
        (cuts :+ l.length).sliding(2).map(p => p(1) - p(0)).toArray, st)
    }
  def step: Long = stepLen

  private val total: Long = {
    val cells = lists.take(outer).foldLeft(runLen.sum.toLong)(_ * _.length)
    if (limit >= 0) math.min(cells, limit.toLong) else cells
  }

  private val counter = new Array[Int](outer) // odometer over outer dims
  private var base = outerBase()
  private var run = 0
  private var pos = 0 // cells of `run` already walked
  private var walked = 0L

  private def outerBase(): Long = {
    var f = 0L
    var j = 0
    while (j < outer) { f += lists(j)(counter(j)) * strides(order(j)); j += 1 }
    f
  }

  private def advanceOuter(): Unit = {
    var j = outer - 1
    var carry = true
    while (carry && j >= 0) {
      counter(j) += 1
      if (counter(j) < lists(j).length) carry = false
      else { counter(j) = 0; j -= 1 }
    }
    base = outerBase()
  }

  /** Flat offset of the first cell of the run [[next]] returned last. */
  var start: Long = 0L

  /** The next run of at most `max` cells, `step` apart from `start`;
    * 0 once the walk is done.
    */
  def next(max: Int): Int = {
    if (walked >= total) return 0
    val len = math.min(math.min(runLen(run) - pos, max).toLong,
      total - walked).toInt
    start = base + runStart(run) + pos * stepLen
    pos += len
    walked += len
    if (pos == runLen(run)) {
      pos = 0
      run += 1
      if (run == runLen.length) { run = 0; advanceOuter() }
    }
    len
  }
}

/** The one reader over a [[GridInputPartition]]: it opens the
  * partition's blocks one at a time, walks each with a [[BlockWalk]]
  * and streams `ColumnarBatch`es of at most 65,536 rows (the
  * reference's batch size, df.py:280).
  *
  * Cell rows: data variables bulk-copy each unit-step run out of the
  * chunk's flat array, and coordinates fill from the flat offset by
  * stride (flat f -> per-dim index (f / stride_k) % shape_k; reference
  * df.py:241-250,331-336). Only the requested variables are read (A8),
  * none at all for an empty projection (COUNT(*), A9).
  *
  * Under a pushed [[PartialAgg]] the same runs feed per-block
  * accumulators instead: a group is a combination of the grouped dims'
  * surviving indices, its slot their C-order rank, so no hashing; each
  * run splits where a grouped index changes (multiples of the smallest
  * grouped stride), and each group sums its cells in walk order, the
  * order Spark's `Sum` would add them. A block then emits one row per
  * group (every group of a dense block has cells).
  */
class GridColumnarReader(part: GridInputPartition)
  extends PartitionReader[ColumnarBatch] {

  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

  private val schema = part.store.schema

  private sealed trait ColSrc
  private case class DimCol(dimIdx: Int, coords: CoordArray) extends ColSrc
  // natNull: time/duration variables surface the NaT sentinel
  // (Long.MinValue) as SQL NULL; for plain long variables the same bit
  // pattern is a legitimate value and copies through untouched. `k`
  // indexes the open block's variable arrays.
  private case class VarCol(k: Int, natNull: Boolean) extends ColSrc

  private def dimCol(d: String): (ColSrc, DataType) = {
    val coords = schema.dim(d).coords
    (DimCol(part.groupDims.indexOf(d), coords), coords.gridType.sparkType)
  }

  // the variables each block reads (a pushed aggregate's summed ones)
  private val vars: Array[String] =
    part.requiredCols.filterNot(part.groupDims.contains)
  // cell rows: the projection; pushed aggregate: the group dims
  private val cols: Array[(ColSrc, DataType)] = part.agg match {
    case Some(a) => a.groupBy.map(dimCol).toArray
    case None => part.requiredCols.map { c =>
      if (part.groupDims.contains(c)) dimCol(c)
      else {
        val v = schema.vars.find(_.name == c).get
        (VarCol(vars.indexOf(c), v.dtype == GTimestamp || v.dtype == GDuration),
          v.dtype.sparkType)
      }
    }
  }
  private val types: Array[DataType] = cols.map(_._2) ++
    part.agg.toSeq.flatMap(_.fns.map {
      case PartialSum(_) => DoubleType
      case PartialCount => LongType
    })

  // sized to the partition: a 3-row TopN partition needs 3-row vectors
  private val batchRows: Int = math.min(65536L, part.agg match {
    case Some(a) =>
      val gi = a.groupBy.map(part.groupDims.indexOf)
      part.blocks.map(b => gi.foldLeft(1L)((p, d) => p * b.len(d)))
        .foldLeft(1L)(math.max)
    case None => part.blocks.map(b =>
      if (part.limit >= 0) math.min(b.rows, part.limit.toLong) else b.rows).sum
  }).toInt
  private val vectors: Array[OnHeapColumnVector] =
    types.map(new OnHeapColumnVector(batchRows, _))
  private var batch: ColumnarBatch = _

  // --- one open block at a time ----------------------------------------
  private val pending = part.blocks.iterator
  private var block: GridBlock = _
  private var walk: BlockWalk = _
  private var data: Array[AnyRef] = _ // the open block's variables

  /** Opens the next block and reads its variables; false when none is
    * left. The previous block's arrays are dropped first.
    */
  private def open(): Boolean = {
    walk = null
    data = null
    pending.hasNext && {
      block = pending.next()
      ReadCounters.partitionsOpened.increment()
      walk = new BlockWalk(schema, part.groupDims, block, part.topKeys,
        part.limit)
      data = vars.map { v =>
        ReadCounters.recordVarRead(v)
        part.store.readVar(v, block.slices)
      }.toArray
      true
    }
  }

  override def next(): Boolean = {
    vectors.foreach(_.reset())
    val m = part.agg.fold(nextCells())(nextGroups)
    m > 0 && {
      ReadCounters.rowsEmitted.add(m)
      batch = new ColumnarBatch(vectors.map(v =>
        v: org.apache.spark.sql.vectorized.ColumnVector), m)
      true
    }
  }

  private def nextCells(): Int = {
    var m = 0
    while (m < batchRows && (walk != null || open())) {
      val len = walk.next(batchRows - m)
      if (len == 0) walk = null
      else { fill(m, walk.start, len); m += len }
    }
    m
  }

  /** Rows `row until row + len` <- the cells at flat offsets
    * `start + r * step` of the open block (block row counts are bounded
    * by chunk sizing).
    */
  private def fill(row: Int, start: Long, len: Int): Unit = {
    val step = walk.step
    def flat(r: Int): Int = (start + r * step).toInt
    var c = 0
    while (c < cols.length) {
      val vec = vectors(c)
      cols(c)._1 match {
        case DimCol(d, coords) =>
          val stride = walk.strides(d)
          val size = walk.shape(d)
          val st = walk.starts(d)
          putCoords(vec, row, len, coords,
            r => st + (((start + r * step) / stride) % size).toInt)
        case VarCol(k, natNull) =>
          val bulk = step == 1L
          val off = start.toInt
          var r = 0
          data(k) match {
            case a: Array[Double] =>
              if (bulk) vec.putDoubles(row, len, a, off)
              else while (r < len) { vec.putDouble(row + r, a(flat(r))); r += 1 }
            case a: Array[Float] =>
              if (bulk) vec.putFloats(row, len, a, off)
              else while (r < len) { vec.putFloat(row + r, a(flat(r))); r += 1 }
            case a: Array[Int] =>
              if (bulk) vec.putInts(row, len, a, off)
              else while (r < len) { vec.putInt(row + r, a(flat(r))); r += 1 }
            case a: Array[Long] =>
              // clean runs (the usual case) keep the bulk copy; a run
              // holding the NaT sentinel takes the per-cell path
              if (bulk && !(natNull &&
                (0 until len).exists(i => a(off + i) == Long.MinValue)))
                vec.putLongs(row, len, a, off)
              else while (r < len) {
                val x = a(flat(r))
                if (natNull && x == Long.MinValue) vec.putNull(row + r)
                else vec.putLong(row + r, x)
                r += 1
              }
            case a: Array[String] => // vlen string variables (zarr v3)
              while (r < len) {
                val b = a(flat(r)).getBytes("UTF-8")
                vec.putByteArray(row + r, b, 0, b.length); r += 1
              }
          }
      }
      c += 1
    }
  }

  /** Rows `row until row + len` <- the coordinates at indices `at(r)`. */
  private def putCoords(vec: OnHeapColumnVector, row: Int, len: Int,
      coords: CoordArray, at: Int => Int): Unit = {
    var r = 0
    coords match {
      case DoubleCoords(v) => while (r < len) { vec.putDouble(row + r, v(at(r))); r += 1 }
      case FloatCoords(v) => while (r < len) { vec.putFloat(row + r, v(at(r))); r += 1 }
      case IntCoords(v) => while (r < len) { vec.putInt(row + r, v(at(r))); r += 1 }
      case LongCoords(v) => while (r < len) { vec.putLong(row + r, v(at(r))); r += 1 }
      case TimeCoords(v) => while (r < len) { vec.putLong(row + r, v(at(r))); r += 1 }
      case DurationCoords(v) => while (r < len) { vec.putLong(row + r, v(at(r))); r += 1 }
      case StringCoords(v) =>
        while (r < len) {
          val b = v(at(r)).getBytes("UTF-8")
          vec.putByteArray(row + r, b, 0, b.length); r += 1
        }
    }
  }

  // --- pushed partial aggregate ----------------------------------------
  private var groups: Groups = _ // the open block's groups, being emitted
  private var slot = 0 // next group of `groups` to emit

  /** One block's groups: C-order slots over the grouped dims' surviving
    * indices, each with its cell count and per-variable sums.
    */
  private final class Groups(a: PartialAgg) {
    private val gi: Array[Int] = a.groupBy.map(part.groupDims.indexOf).toArray
    private val keep: Array[Array[Int]] = gi.map(d =>
      if (block.keep.isEmpty) Array.range(0, walk.shape(d)) else block.keep(d))
    private val coords: Array[CoordArray] =
      a.groupBy.map(schema.dim(_).coords).toArray
    private val n: Array[Int] = keep.map(_.length)
    val slots: Int = n.product
    // slot of group (p_0, .., p_k) = sum of p_j * mult(j)
    private val mult: Array[Int] = n.indices.map(j => n.drop(j + 1).product).toArray
    // per grouped dim: relative index -> position in its keep list
    private val rank: Array[Array[Int]] = gi.indices.map { j =>
      val r = new Array[Int](walk.shape(gi(j)))
      keep(j).indices.foreach(p => r(keep(j)(p)) = p)
      r
    }.toArray
    // grouped indices change only at multiples of the smallest grouped
    // stride (every larger stride is a multiple of it)
    private val seg: Long =
      if (gi.isEmpty) Long.MaxValue else gi.map(walk.strides).min
    private val counts = new Array[Long](slots)
    val sums: Array[Array[Double]] = Array.fill(data.length)(new Array[Double](slots))
    private val doubles = data.map { case x: Array[Double] => x; case _ => null }
    private val floats = data.map { case x: Array[Float] => x; case _ => null }
    // per function: the sums it reads, or -1 for a count
    private val sumOf: Array[Int] = a.fns.map {
      case PartialSum(v) => vars.indexOf(v)
      case PartialCount => -1
    }.toArray

    private def slotOf(f: Long): Int = {
      var s = 0
      var j = 0
      while (j < gi.length) {
        s += rank(j)(((f / walk.strides(gi(j))) % walk.shape(gi(j))).toInt) * mult(j)
        j += 1
      }
      s
    }

    /** Adds the contiguous cells `start until start + len`. */
    def add(start: Long, len: Int): Unit = {
      val end = start + len
      var f = start
      while (f < end) {
        val e = math.min(end, (f / seg + 1) * seg)
        val s = slotOf(f)
        counts(s) += e - f
        var v = 0
        while (v < sums.length) {
          var acc = sums(v)(s)
          var i = f.toInt
          val d = doubles(v)
          if (d != null) while (i < e) { acc += d(i); i += 1 }
          else {
            val x = floats(v)
            while (i < e) { acc += x(i).toDouble; i += 1 }
          }
          sums(v)(s) = acc
          v += 1
        }
        f = e
      }
    }

    /** Row `row` <- group `s`: its coordinates, then the aggregates. */
    def emit(row: Int, s: Int): Unit = {
      var j = 0
      while (j < gi.length) {
        val abs = walk.starts(gi(j)) + keep(j)((s / mult(j)) % n(j))
        putCoords(vectors(j), row, 1, coords(j), _ => abs)
        j += 1
      }
      var k = 0
      while (k < sumOf.length) {
        val vec = vectors(gi.length + k)
        if (sumOf(k) >= 0) vec.putDouble(row, sums(sumOf(k))(s))
        else vec.putLong(row, counts(s))
        k += 1
      }
    }
  }

  /** Accumulates the next block whole; false when none is left. */
  private def accumulate(a: PartialAgg): Boolean = open() && {
    require(walk.step == 1L, "an aggregating walk has no sort keys")
    groups = new Groups(a)
    var len = walk.next(Int.MaxValue)
    while (len > 0) { groups.add(walk.start, len); len = walk.next(Int.MaxValue) }
    data = null
    slot = 0
    true
  }

  private def nextGroups(a: PartialAgg): Int = {
    var m = 0
    while (m < batchRows && (groups != null || accumulate(a))) {
      while (m < batchRows && slot < groups.slots) {
        groups.emit(m, slot); m += 1; slot += 1
      }
      if (slot == groups.slots) groups = null
    }
    m
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = vectors.foreach(_.close())
}
