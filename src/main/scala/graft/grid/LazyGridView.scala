package graft.grid

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Lazy N-D view over a registered grid table — the reverse pivot's lazy
  * strategy (SURVEY §2A A12; reference ds.py:210-376 `SQLBackendArray`):
  * each indexer access derives a `filter(...).select(...)` DataFrame, so
  * the engine's zone-map pruning reads only the chunks the indexer
  * touches; materialization happens per access, never for the whole grid.
  *
  * Outer-indexing semantics as in the reference: int -> point, slice ->
  * contiguous range, int-array -> IN-list of coordinate values
  * (ds.py:293-376). Dims indexed at full extent emit no predicate at all
  * (ds.py's full-extent omission), keeping plans minimal.
  *
  * Coordinate extents come either from the registered store directly
  * (`fromStore` — the reference's pure-scan fast path, ds.py:435-505) or
  * from per-dim `SELECT DISTINCT d ORDER BY d` discovery queries
  * (`discoverCoords` — ds.py:530-543).
  */
final class LazyGridView(
    df: DataFrame,
    dims: Seq[(String, IndexedSeq[Any])],
    varCols: Seq[String]) {

  import LazyGridView._

  def dimNames: Seq[String] = dims.map(_._1)
  def shape: Seq[Int] = dims.map(_._2.size)

  /** Dense sub-grid for the given per-dim indexers (missing dims = full
    * extent). Triggers exactly one filtered scan.
    */
  def select(indexers: Map[String, Indexer]): GridResultData = {
    val selectedCoords: Seq[(String, IndexedSeq[Any])] = dims.map {
      case (name, coords) =>
        name -> (indexers.get(name) match {
          case None | Some(FullExtent) => coords
          case Some(Point(i)) => IndexedSeq(coords(i))
          case Some(Slice(from, until)) => coords.slice(from, until)
          case Some(Points(is)) => is.map(coords(_)).toIndexedSeq
        })
    }
    // IN-lists for every partial dim: correct for descending axes and
    // prunes identically to BETWEEN via the In zone-map rule
    val predicates: Seq[Column] = dims.zip(selectedCoords).flatMap {
      case ((name, full), (_, sel)) =>
        if (sel.size == full.size) None // full extent: no predicate
        else if (sel.size == 1) Some(col(name) === lit(sel.head))
        else Some(col(name).isin(sel: _*))
    }
    val filtered = predicates.foldLeft(df)((d, p) => d.filter(p))
      .select((dimNames ++ varCols).map(col): _*)
    GridResult.toGridWithTemplate(filtered, dimNames,
      selectedCoords.toMap, fillValue = Double.NaN)
  }

  /** Vectorized (pointwise) indexing fallback — the reference's
    * VectorizedIndexer path (ds.py:235-239 declares OUTER support and
    * routes vectorized keys through xarray's adapter to outer-then-
    * gather; exercised by tests/test_ds.py
    * test_vectorized_indexer_falls_back_via_xarray_adapter): the given
    * per-dim integer arrays advance TOGETHER along one new `points`
    * axis (zipped, not crossed). Arrays must share a length, except
    * length-1 arrays which broadcast (numpy semantics). Dims absent
    * from `pointIndexers` keep full extent as ordinary trailing axes.
    *
    * Execution = ONE outer [[select]] over each indexed dim's distinct
    * indices (a single zone-map-pruned scan reading only the touched
    * chunks) + a driver-side gather of the requested points from the
    * dense sub-grid — exactly the adapter's strategy, so cost is the
    * outer envelope of the points, never the full grid.
    */
  def selectVectorized(
      pointIndexers: Seq[(String, Seq[Int])]): GridResultData = {
    require(pointIndexers.nonEmpty, "no point indexers given")
    // unknown dim names must fail loudly — select() ignores indexers
    // for dims it doesn't have, which would silently return the full
    // grid replicated per point
    pointIndexers.foreach { case (d, _) =>
      require(dims.exists(_._1 == d),
        s"unknown dimension '$d'; view has ${dimNames.mkString(", ")}")
    }
    val lens = pointIndexers.map(_._2.length).distinct
    val nPoints = lens.max
    require(lens.forall(l => l == nPoints || l == 1),
      s"vectorized indexer lengths ${pointIndexers.map(_._2.length)} do " +
        "not broadcast (must share one length, or be 1)")
    val broadcasted: Map[String, IndexedSeq[Int]] = pointIndexers.map {
      case (d, is) =>
        d -> (if (is.length == nPoints) is.toIndexedSeq
        else IndexedSeq.fill(nPoints)(is.head))
    }.toMap
    // outer envelope: distinct indices per dim, in axis order, with a
    // map back from global dim index -> envelope position
    val envelope: Map[String, IndexedSeq[Int]] = broadcasted.map {
      case (d, is) => d -> is.distinct.sorted.toIndexedSeq
    }
    val posInEnvelope: Map[String, Map[Int, Int]] = envelope.map {
      case (d, is) => d -> is.zipWithIndex.toMap
    }
    val outer = select(envelope.map { case (d, is) =>
      (d, Points(is): Indexer)
    })
    // gather: result dims = points x (untouched dims in axis order)
    val restDims = outer.dims.filterNot(d => broadcasted.contains(d._1))
    val restShape = restDims.map(_._2.size)
    val restCells = restShape.product
    val outerShape = outer.dims.map(_._2.size).toArray
    val outerStride = {
      val s = new Array[Int](outerShape.length)
      var acc = 1
      var k = outerShape.length - 1
      while (k >= 0) { s(k) = acc; acc *= outerShape(k); k -= 1 }
      s
    }
    // rest dims enumerate C-order among themselves; map each onto its
    // outer-grid axis stride
    val restAxes = outer.dims.zipWithIndex.collect {
      case ((d, _), ax) if !broadcasted.contains(d) => ax
    }
    val gathered = outer.vars.map { case (name, data) =>
      val out = new Array[Double](nPoints * restCells)
      var p = 0
      while (p < nPoints) {
        // base offset of this point in the outer grid
        var base = 0
        outer.dims.zipWithIndex.foreach { case ((d, _), ax) =>
          broadcasted.get(d).foreach { is =>
            base += posInEnvelope(d)(is(p)) * outerStride(ax)
          }
        }
        // walk the untouched dims' cross product
        var r = 0
        while (r < restCells) {
          var off = base
          var rem = r
          var k = restAxes.length - 1
          while (k >= 0) {
            val ax = restAxes(k)
            off += (rem % outerShape(ax)) * outerStride(ax)
            rem /= outerShape(ax)
            k -= 1
          }
          out(p * restCells + r) = data(off)
          r += 1
        }
        p += 1
      }
      name -> out
    }
    val pointCoords: IndexedSeq[Any] = (0 until nPoints).map(i => i: Any)
    GridResultData(
      ("points" -> pointCoords) +: restDims,
      gathered)
  }

}

object LazyGridView {

  sealed trait Indexer
  case object FullExtent extends Indexer
  final case class Point(i: Int) extends Indexer
  final case class Slice(from: Int, until: Int) extends Indexer
  final case class Points(is: Seq[Int]) extends Indexer

  /** Fast path: coordinate extents straight from the registered store
    * (no discovery queries; preserves descending axis order).
    */
  def fromStore(df: DataFrame, store: GridStore, groupDims: Seq[String],
      varCols: Seq[String]): LazyGridView =
    new LazyGridView(df,
      groupDims.map { d =>
        val c = store.schema.dim(d).coords
        d -> (0 until c.size).map(externalCoord(c, _)).toIndexedSeq
      },
      varCols)

  /** Discovery path: per-dim DISTINCT queries against the DataFrame. */
  def discoverCoords(df: DataFrame, groupDims: Seq[String],
      varCols: Seq[String]): LazyGridView =
    new LazyGridView(df,
      groupDims.map { d =>
        d -> df.select(d).distinct().orderBy(d).collect()
          .map(_.get(0)).toIndexedSeq
      },
      varCols)

  /** The reference's strategy selection (ds.py:435-543): a plan that is
    * a PURE scan of one registered grid table takes the store fast path
    * — coordinate extents straight from metadata, zero discovery
    * queries, original (possibly descending) axis order preserved.
    * Anything else (filters, joins, computed columns) falls back to the
    * per-dim `SELECT DISTINCT d ORDER BY d` discovery queries, whose
    * extents reflect exactly the rows the plan produces (the
    * reference's sparsity='result' semantics).
    */
  def auto(df: DataFrame, groupDims: Seq[String],
      varCols: Seq[String]): LazyGridView =
    pureScanStore(df) match {
      case Some(store)
        if groupDims.forall(d => store.schema.dims.exists(_.name == d)) =>
        fromStore(df, store, groupDims, varCols)
      case _ => discoverCoords(df, groupDims, varCols)
    }

  /** The store behind `df` iff the analyzed plan is nothing but
    * (aliases / attribute-only projections over) one grid relation —
    * registered or `format("zarr")`.
    */
  private def pureScanStore(df: DataFrame): Option[GridStore] =
    df.queryExecution.analyzed match {
      case graft.sources.GridRelation(Seq(), _, gt) => Some(gt.store)
      case _ => None
    }

  /** External (Row-level) coordinate value at index i. */
  private[graft] def externalCoord(c: CoordArray, i: Int): Any = c match {
    case DoubleCoords(v) => v(i)
    case FloatCoords(v) => v(i)
    case IntCoords(v) => v(i)
    case LongCoords(v) => v(i)
    case TimeCoords(v) =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.toJavaTimestamp(v(i))
    case DurationCoords(v) => // micros -> external java.time.Duration
      java.time.Duration.ofSeconds(v(i) / 1000000L,
        (v(i) % 1000000L) * 1000L)
    case StringCoords(v) => v(i)
  }
}
