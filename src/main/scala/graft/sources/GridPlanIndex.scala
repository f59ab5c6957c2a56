package graft.sources

import graft.grid._
import org.apache.spark.sql.sources.Filter

/** Per-(dimension, chunk) planning metadata, computed once per scan in
  * O(total coordinates): chunk slices, coordinate bounds, and surviving
  * coordinate-index lists under the separable dimension predicates.
  *
  * This is the driver-side scale index (SURVEY §2A A4/A6 at 100 TB
  * shape): the naive plan walk recomputes coordinate slices and
  * re-evaluates predicates per block — O(n_blocks * chunk_len) serial
  * driver work per query, which is invisible at 10^3 chunks but becomes
  * seconds at the 10^5-10^6 chunks a 100 TB store implies at 64-256 MB
  * per chunk. With the index, per-dim work happens once per axis
  * (bounds in one pass, predicates evaluated per coordinate once), and
  * the block enumeration visits only the cross product of chunks that
  * survive per-dim pruning — O(n_surviving * n_dims) with no coordinate
  * access at all. The spirit of the reference's static-dim merge
  * (reader.py:308-335), taken to per-axis precomputation.
  */
final class GridPlanIndex(
    store: GridStore,
    groupDims: Seq[String],
    chunks: Map[String, Int],
    groupVars: Seq[VarDef],
    filters: Seq[Filter]) {

  private val schema = store.schema
  private val nd = groupDims.length
  private val dimArr: Array[String] = groupDims.toArray

  /** Per dim: (start, len) chunk slices in axis order. */
  val dimChunks: Array[Array[(Int, Int)]] = dimArr.map { d =>
    val size = schema.dim(d).size
    val sizes = ChunkGrid.chunkSizes(size,
      chunks.getOrElse(d, math.max(size, 1)))
    sizes.scanLeft(0)(_ + _).zip(sizes)
      .map { case (s, l) => (s, l) }.toArray
  }

  /** Blocks in the full (unpruned) grid. */
  def totalBlocks: Long = dimChunks.foldLeft(1L)(_ * _.length.toLong)

  /** Per dim per chunk: pruning bounds — string axes included, in
    * UTF-8 binary order (the reference skips string bounds entirely,
    * df.py:447-450). One pass per axis.
    */
  val chunkBounds: Array[Array[DimBounds]] =
    Array.tabulate(nd) { di =>
      val coords = schema.dim(dimArr(di)).coords
      dimChunks(di).map { case (s, l) => boundsOf(coords, s, l) }
    }

  private def boundsOf(coords: CoordArray, start: Int, len: Int): DimBounds =
    coords match {
      case DoubleCoords(v) => numBounds(i => v(start + i), len)
      case FloatCoords(v) => numBounds(i => v(start + i).toDouble, len)
      case IntCoords(v) => numBounds(i => v(start + i).toDouble, len)
      case LongCoords(v) => longBounds(v, start, len)
      case TimeCoords(v) => longBounds(v, start, len)
      case DurationCoords(v) => longBounds(v, start, len)
      case StringCoords(v) => StrBounds.of(v, start, len)
    }

  private def numBounds(at: Int => Double, len: Int): NumBounds = {
    var mn = at(0); var mx = mn
    var i = 1
    while (i < len) {
      val x = at(i)
      if (x < mn) mn = x
      if (x > mx) mx = x
      i += 1
    }
    NumBounds(mn, mx)
  }

  private def longBounds(v: Array[Long], start: Int, len: Int): LongBounds = {
    var mn = v(start); var mx = mn
    var i = 1
    while (i < len) {
      val x = v(start + i)
      if (x < mn) mn = x
      if (x > mx) mx = x
      i += 1
    }
    LongBounds(mn, mx)
  }

  private val predDims: Set[String] =
    SeparableDimFilters.predicatedDims(filters, schema, groupDims)

  /** Per dim: surviving ABSOLUTE coordinate indices per chunk under the
    * dim's separable conjuncts; null when the dim carries no predicate
    * (everything survives). Predicates are evaluated once per coordinate
    * per axis, then split into chunks by binary search.
    */
  val chunkKeep: Array[Array[Array[Int]]] =
    Array.tabulate(nd) { di =>
      val d = dimArr(di)
      if (!predDims.contains(d)) null
      else {
        val all = SeparableDimFilters.survivingIndices(filters, schema,
          groupDims, d, 0, schema.dim(d).size)
        dimChunks(di).map { case (s, l) =>
          java.util.Arrays.copyOfRange(all, lowerBound(all, s),
            lowerBound(all, s + l))
        }
      }
    }

  // first index with a(i) >= key (a is ascending)
  private def lowerBound(a: Array[Int], key: Int): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (a(mid) < key) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Surviving coordinate count of one chunk of one dim. */
  def keepLen(di: Int, ci: Int): Int =
    if (chunkKeep(di) == null) dimChunks(di)(ci)._2
    else chunkKeep(di)(ci).length

  /** (start, len) slices of the block at these per-dim chunk indices. */
  def slices(idx: Array[Int]): Seq[(Int, Int)] =
    (0 until nd).map(di => dimChunks(di)(idx(di)))

  /** Exact matching-cell count of the block (product of per-dim
    * surviving counts — the grid is dense).
    */
  def blockRows(idx: Array[Int]): Long = {
    var p = 1L
    var di = 0
    while (di < nd) { p *= keepLen(di, idx(di)); di += 1 }
    p
  }

  /** Full (unfiltered) row count of the block. */
  def fullRows(idx: Array[Int]): Long = {
    var p = 1L
    var di = 0
    while (di < nd) { p *= dimChunks(di)(idx(di))._2; di += 1 }
    p
  }

  private def anyPartial(idx: Array[Int]): Boolean = {
    var di = 0
    while (di < nd) {
      if (chunkKeep(di) != null &&
        chunkKeep(di)(idx(di)).length != dimChunks(di)(idx(di))._2) return true
      di += 1
    }
    false
  }

  /** Per-dim RELATIVE surviving indices for shipping to the reader;
    * Nil when every dim survives in full (the reader then copies the
    * block as one run).
    */
  def relKeep(idx: Array[Int]): Seq[Array[Int]] =
    if (!anyPartial(idx)) Nil
    else (0 until nd).map { di =>
      val (s, l) = dimChunks(di)(idx(di))
      if (chunkKeep(di) == null) Array.range(0, l)
      else chunkKeep(di)(idx(di)).map(_ - s)
    }

  /** Zone-map bounds of one block: per-dim chunk bounds from the cache
    * plus per-chunk variable statistics for `vars` — O(n_dims + |vars|),
    * no coordinate access.
    */
  private def boundsMap(idx: Array[Int],
      vars: Seq[VarDef]): Map[String, DimBounds] = {
    val b = Map.newBuilder[String, DimBounds]
    var di = 0
    while (di < nd) {
      val db = chunkBounds(di)(idx(di))
      if (db != null) b += dimArr(di) -> db
      di += 1
    }
    if (vars.nonEmpty) {
      val sl = slices(idx)
      vars.foreach(v => store.varBounds(v.name, sl)
        .foreach(s => b += v.name -> fromVarStats(s)))
    }
    b.result()
  }

  /** Store-reported variable stats -> pruning bounds (Long-boxed stats
    * keep exact long/timestamp comparisons beyond 2^53).
    */
  private def fromVarStats(s: (Any, Any)): DimBounds = s match {
    case (mn: java.lang.Long, mx: java.lang.Long) => LongBounds(mn, mx)
    case (mn: java.lang.Number, mx: java.lang.Number) =>
      NumBounds(mn.doubleValue(), mx.doubleValue())
    case (mn: String, mx: String) => StrBounds(mn, mx)
    case other => throw new IllegalArgumentException(s"bad var stats $other")
  }

  /** One walk that gives every block its zone-map verdict under `f`
    * (None: no predicate, so every block is inside) — the metadata
    * rewrites' chunk classification:
    *   - excluded: bounds prove no row passes; the block drops;
    *   - inside: bounds prove every row passes; `answer` serves it from
    *     metadata, its results come back first;
    *   - boundary: the rest, straddling blocks and inside blocks
    *     `answer` refuses, come back second as the slices a restricted
    *     scan (`GridTable.restrictedTo`) reads.
    */
  def metadataSplit[A](f: Option[Filter])(answer: Array[Int] => Option[A])
      : (Seq[A], Seq[Seq[(Int, Int)]]) = {
    val refVars =
      groupVars.filter(v => f.exists(_.references.contains(v.name)))
    val inside = Seq.newBuilder[A]
    val boundary = Seq.newBuilder[Seq[(Int, Int)]]
    // every block, unpruned, C-order; `ci` is reused between blocks
    val all = Array.tabulate(nd)(di => Array.range(0, dimChunks(di).length))
    odometer(all).foreach { ci =>
      val bounds = if (f.isEmpty) Map.empty[String, DimBounds]
        else boundsMap(ci, refVars)
      if (f.exists(ZoneMapPruning.excludes(_, bounds))) ()
      else if (f.forall(ZoneMapPruning.includes(_, bounds)))
        answer(ci) match {
          case Some(a) => inside += a
          case None => boundary += slices(ci)
        }
      else boundary += slices(ci)
    }
    (inside.result(), boundary.result())
  }

  /** Chunk-index tuples of the blocks that survive pruning, C-order.
    *
    * Two pruning layers:
    *   - per-dim EXACT pruning: a chunk whose surviving coordinate list
    *     is empty removes every block through it (cross-product
    *     structure), which subsumes the zone-map check for separable
    *     predicates (exact evaluation is at least as strong as bounds);
    *   - zone-map `excludes` of the NON-separable filters (cross-dim OR
    *     trees, data-variable predicates over chunk statistics) on the
    *     assembled bounds of each candidate.
    */
  lazy val surviving: IndexedSeq[Array[Int]] = {
    val live: Array[Array[Int]] = Array.tabulate(nd) { di =>
      val b = Array.newBuilder[Int]
      var ci = 0
      val n = dimChunks(di).length
      while (ci < n) { if (keepLen(di, ci) > 0) b += ci; ci += 1 }
      b.result()
    }
    if (live.exists(_.isEmpty)) IndexedSeq.empty
    else {
      val zone = filters.filterNot(f =>
        SeparableDimFilters.isSeparable(f, schema, groupDims))
      val zoneVars = groupVars.filter(v =>
        zone.exists(_.references.contains(v.name)))
      val out = IndexedSeq.newBuilder[Array[Int]]
      odometer(live).foreach { idx =>
        if (zone.isEmpty || {
          val bounds = boundsMap(idx, zoneVars)
          !zone.exists(f => ZoneMapPruning.excludes(f, bounds))
        }) out += idx.clone()
      }
      out.result()
    }
  }

  // C-order cross product of per-dim index lists; yields a REUSED array
  private def odometer(lists: Array[Array[Int]]): Iterator[Array[Int]] =
    new Iterator[Array[Int]] {
      private val k = lists.length
      private val counter = new Array[Int](k)
      private val cur = new Array[Int](k)
      private var more = lists.forall(_.nonEmpty)
      override def hasNext: Boolean = more
      override def next(): Array[Int] = {
        var j = 0
        while (j < k) { cur(j) = lists(j)(counter(j)); j += 1 }
        // advance, last dim fastest; k == 0 yields exactly one (empty) block
        j = k - 1
        var carry = true
        while (carry && j >= 0) {
          counter(j) += 1
          if (counter(j) < lists(j).length) carry = false
          else { counter(j) = 0; j -= 1 }
        }
        if (carry) more = false
        cur
      }
    }
}
