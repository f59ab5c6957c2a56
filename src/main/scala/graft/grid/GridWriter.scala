package graft.grid

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression,
  UnaryExpression, UnsafeArrayData, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftinterop.ColumnInterop.{toColumn, toExpr}
import org.apache.spark.sql.graftinterop.ShuffleInterop
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.AccumulatorV2

/** Distributed reverse pivot: scatter a relational result back into a
  * chunked dense grid WITHOUT materializing it on the driver.
  *
  * `GridResult` mirrors the reference's eager `to_dataset`
  * (collect + scatter, ds.py:150-207) — fine for plot-sized results,
  * impossible for a 100 TB grid. This writer is the scale path, one
  * scatter for fresh writes and appends alike:
  *
  *   1. map stage ([[GridWriter.scatter]]): generated code evaluates
  *      the slab; a Scala loop per task ([[GridWriter.Keys]]) turns each
  *      row's dim values into labels ([[Labels]]) and indices (a binary
  *      search over the axis' sorted primitive labels, [[LabelIndex]])
  *      and keys each cell by its chunk over every dim but the late one
  *      (the group), its offset in that chunk's part and, on an append,
  *      its raw late label. Consecutive cells of one group and label
  *      travel as one run, and one shuffle by group co-locates each
  *      group's runs. A set accumulator ([[CellsSeen]]) gathers the
  *      late labels, the indices seen and any NULL or unknown
  *      coordinate. It is merged by set union, so a retried or
  *      speculative task that adds its set again changes nothing.
  *   2. the driver runs that map stage alone (one job), reads what it
  *      saw and checks it before any chunk is assembled: a fresh write
  *      rejects NULL and unknown coordinates, an append also ranks the
  *      late labels and runs its overlap, NaN and coverage checks.
  *   3. reduce ([[Scattered.assemble]], the second job): each task
  *      reads its groups' runs, places every late label by its rank,
  *      copies the runs into dense chunks (NaN prefill for float kinds,
  *      duplicate cells rejected via a bitset) and hands each one to a
  *      [[GridWriter.ChunkSink]] that encodes and writes the Zarr chunk
  *      file directly from the executor.
  *
  * Shuffle volume = one run per stretch of consecutive cells a map task
  * reads: a chunk row of a slab in C order, a single cell of a shuffled
  * one. Reduce parallelism = min(groups, 2 x default parallelism),
  * groups dealt round-robin, each wholly in one task. A task holds its
  * groups' chunks: on a fresh write one chunk per group; on an append
  * the chunks of the slab's span along the late dim, at most
  * ceil(slab / chunk) + 1 per group. A map task holds one run.
  * The driver writes only metadata ([[ZarrGridStore.writeFromRows]] and
  * [[ZarrGridStore.appendFromRows]], for every [[ZarrLayout]]).
  * Executors write through the Hadoop FileSystem API ([[GridIO]]) with
  * the driver's Hadoop conf shipped in the task closure, so the same
  * code targets local disk, HDFS, S3A or GCS shared storage.
  */
object GridWriter {

  /** Where a scattered chunk lands: a Zarr tree's padded encoded
    * chunks. Executors call `write`; it must be Serializable and
    * thread-agnostic.
    */
  trait ChunkSink extends Serializable {
    /** Persist one dense chunk. `eff` is the per-dim effective
      * (boundary-clipped) lengths of this chunk. Returns the stats
      * entries the driver should commit, keyed by chunk key — one
      * `(ciDotted, (min,max), sum)` per stored chunk, or one per
      * INNER chunk (global inner-grid keys) for sharded v3, so the
      * sidecar granularity always matches what the scan plans on.
      */
    def write(varName: String, ciDotted: String, arr: AnyRef,
        eff: Array[Int],
        conf: org.apache.hadoop.conf.Configuration): Seq[StatsSource.Entry]
  }

  /** Zarr chunk (or whole SHARD) files: padded to the full chunk shape
    * per the spec, little-endian (vlen-utf8 for strings), compressed.
    * `innerSz` turns each scattered outer chunk into a v3
    * `sharding_indexed` shard (per-inner-chunk compression + index)
    * encoded entirely on the executor. `key` maps the dotted chunk
    * index to the file name under the variable's dir: the layout's key
    * for fresh writes, the dotted name itself for append staging.
    */
  private[grid] final case class ZarrSink(root: String, dtype: GridType,
      chunkSz: Seq[Int], innerSz: Option[Seq[Int]],
      comp: Option[(String, Int)], key: String => String) extends ChunkSink {
    def write(varName: String, ciDotted: String, arr: AnyRef,
        eff: Array[Int],
        conf: org.apache.hadoop.conf.Configuration): Seq[StatsSource.Entry] = {
      val padded = ZarrGridStore.padChunk(arr, eff, chunkSz.toArray, dtype)
      val payload =
        if (dtype == GString) innerSz match {
          case None =>
            ZarrGridStore.compress(
              ZarrGridStore.encodeVlen(padded.asInstanceOf[Array[String]]),
              comp, 1)
          case Some(inner) =>
            ZarrV3.encodeShardVlen(padded.asInstanceOf[Array[String]],
              chunkSz, inner, comp)
        }
        else {
          val le = ZarrGridStore.toLE(padded, dtype)
          innerSz match {
            case None =>
              ZarrGridStore.compress(le, comp, dtype.byteWidth)
            case Some(inner) =>
              ZarrV3.encodeShard(le, chunkSz, inner, dtype.byteWidth, comp)
          }
        }
      GridIO.write(s"$root/$varName/${key(ciDotted)}", payload, conf)
      innerSz match {
        // value stats on the EFFECTIVE cells (padding is storage, not
        // data) — feeds the .graft-stats.json sidecar
        case None => Seq((ciDotted,
          StatsSource.chunkStats(arr), StatsSource.chunkSum(arr)))
        case Some(inner) =>
          // per-INNER-chunk stats with GLOBAL inner-grid keys — the
          // granularity the scan plans (and prunes) sharded arrays on
          StatsSource.innerChunkStats(arr, eff,
            ciDotted.split('.').map(_.toInt), chunkSz, inner)
      }
    }
  }

  /** The scatter's map stage over one variable: `df`'s rows keyed by
    * chunk group and shuffled, the shuffle map stage already run.
    * `dims` are the variable's dims in its own order; `late` names the
    * dim whose indices are bound after the map stage (an append's
    * axis: its coordinates are the labels the stage learns). Every
    * other dim's coordinates are known up front and index its cells.
    */
  private[grid] def scatter(df: DataFrame, v: VarDef, dims: Seq[DimDef],
      chunkSz: Seq[Int], late: Option[String]): Scattered = {
    val lateK = late.map { dn =>
      val k = v.dims.indexOf(dn)
      require(k >= 0, s"${v.name} does not span append dim $dn")
      k
    }.getOrElse(-1)
    val sc = df.sparkSession.sparkContext
    val seen = new CellsSeen(dims.length)
    sc.register(seen, s"scatter ${v.name}")
    val keys = Keys(v, dims, chunkSz.toArray, lateK, seen)
    // generated code evaluates the slab and casts each dim to its label
    // domain; the keys are computed in the task's Scala loop, which
    // stays JIT-compiled when Spark's codegen cache evicts this stage
    val cols = dims.map(d => Labels.domain(df, d.name, d.coords.gridType)) :+
      col(v.name).cast(v.dtype.sparkType)
    val parts = math.max(1, math.min(keys.groups,
      sc.defaultParallelism * 2L).toInt)
    val runs = df.select(cols: _*).queryExecution.toRdd
      .mapPartitions(keys.runs(_, parts))
    new Scattered(v, dims, chunkSz, lateK,
      ShuffleInterop.shuffleRows(runs, parts, Keys.Fields), seen)
  }

  /** The map side's per-row work: each row `(dim values..., value)`
    * (dims cast to their [[Labels]] domain) becomes its group (the
    * C-order chunk id over every dim but the late one), its cell (the
    * C-order offset in that chunk's boundary-clipped part) and its late
    * label, recorded in `seen`; a known dim's label becomes its index by
    * [[LabelIndex]] (-1, and recorded, when NULL or no coordinate).
    * Consecutive cells of one group and label leave the task as one run,
    * an `UnsafeRow` `(g, l, cell, values)` keyed by its target partition:
    * rows arrive in source order, which for a slab read from a grid or
    * generated in C order makes runs as long as the chunk's innermost
    * extent; a shuffled slab degrades to runs of one cell, the size of a
    * per-cell row. A NULL value fails here, in the map stage, except for
    * time kinds, where it is NaT.
    */
  private[grid] final case class Keys(v: VarDef, dims: Seq[DimDef],
      chunkSz: Array[Int], lateK: Int, seen: CellsSeen) {
    private val nd = dims.length
    private val sizes = dims.map(_.size).toArray
    private val float = dims.map(d => Labels.isFloat(d.coords.gridType)).toArray
    private val index = dims.indices.map(k => if (k == lateK) null
      else new LabelIndex(Labels.of(dims(k).coords))).toArray
    private val nChunks =
      sizes.indices.map(k => (sizes(k) + chunkSz(k) - 1) / chunkSz(k)).toArray

    def groups: Long = nChunks.indices.filter(_ != lateK)
      .map(k => math.max(nChunks(k), 1).toLong).product

    def runs(rows: Iterator[InternalRow],
        parts: Int): Iterator[(Int, InternalRow)] =
      new Iterator[(Int, InternalRow)] {
        private val dtype = v.dtype
        private val toRow = UnsafeProjection.create(Array[DataType](LongType,
          LongType, IntegerType, ArrayType(Keys.element(dtype), false)))
        private val buf: AnyRef = dtype match {
          case GDouble => new Array[Double](Keys.MaxCells)
          case GFloat => new Array[Float](Keys.MaxCells)
          case GInt => new Array[Int](Keys.MaxCells)
          case GLong | GTimestamp | GDuration => new Array[Long](Keys.MaxCells)
          case GString => new Array[UTF8String](Keys.MaxCells)
        }
        private var g, l = 0L
        private var start, n = 0
        // the current row's key
        private var rg, rl = 0L
        private var rc = 0

        private def key(r: InternalRow): Unit = {
          rg = 0L; rl = 0L; rc = 0
          var k = 0
          while (k < nd) {
            val isNull = r.isNullAt(k)
            val label =
              if (isNull) 0L
              else if (float(k)) Labels.ofDouble(r.getDouble(k))
              else r.getLong(k)
            if (isNull) seen.nulls(k) = true
            else if (k == lateK) { seen.add(label); rl = label }
            if (k != lateK) {
              val i = if (isNull) -1 else index(k)(label)
              if (i >= 0) seen.indices(k).set(i)
              else if (!isNull && seen.unknown(k).size < 3)
                seen.unknown(k).add(label)
              // an unknown coordinate keys as index 0: the driver fails
              // the write before any reduce reads it
              val c = chunkSz(k)
              val q = math.max(i, 0) / c
              rg = rg * nChunks(k) + q
              rc = rc * math.min(c, sizes(k) - q * c) + (math.max(i, 0) - q * c)
            }
            k += 1
          }
        }
        private def put(r: InternalRow): Unit = {
          if (r.isNullAt(nd) && dtype != GTimestamp && dtype != GDuration)
            // NULL has a canonical stored form only for time kinds (NaT);
            // float missing is expressible as NaN in SQL, so stay strict
            throw new IllegalArgumentException(
              s"null value for cell ${start + n} of group $g of ${v.name}; " +
                "grid cells are primitive (filter nulls or fill before " +
                "writing)")
          buf match {
            case a: Array[Double] => a(n) = r.getDouble(nd)
            case a: Array[Float] => a(n) = r.getFloat(nd)
            case a: Array[Int] => a(n) = r.getInt(nd)
            case a: Array[Long] =>
              a(n) = if (r.isNullAt(nd)) Long.MinValue else r.getLong(nd)
            case a: Array[UTF8String] => a(n) = r.getUTF8String(nd).clone()
          }
          n += 1
        }
        private def take(): (Int, InternalRow) = {
          val values = buf match {
            case a: Array[Double] =>
              UnsafeArrayData.fromPrimitiveArray(a,
                Platform.DOUBLE_ARRAY_OFFSET, n, 8)
            case a: Array[Float] =>
              UnsafeArrayData.fromPrimitiveArray(a,
                Platform.FLOAT_ARRAY_OFFSET, n, 4)
            case a: Array[Int] =>
              UnsafeArrayData.fromPrimitiveArray(a,
                Platform.INT_ARRAY_OFFSET, n, 4)
            case a: Array[Long] =>
              UnsafeArrayData.fromPrimitiveArray(a,
                Platform.LONG_ARRAY_OFFSET, n, 8)
            case a: Array[UTF8String] =>
              new GenericArrayData(java.util.Arrays.copyOf[AnyRef](
                a.asInstanceOf[Array[AnyRef]], n))
          }
          val row = toRow(InternalRow(g, l, start, values)).copy()
          n = 0
          ((g % parts).toInt, row)
        }
        def hasNext: Boolean = n > 0 || rows.hasNext
        def next(): (Int, InternalRow) = {
          while (rows.hasNext) {
            val r = rows.next()
            key(r)
            if (n > 0 && (rg != g || rl != l || rc != start + n ||
                n == Keys.MaxCells)) {
              val done = take()
              g = rg; l = rl; start = rc
              put(r)
              return done
            }
            if (n == 0) { g = rg; l = rl; start = rc }
            put(r)
          }
          take()
        }
      }
  }

  private[grid] object Keys {
    /** Longest run one map task buffers. */
    val MaxCells = 4096
    val Fields = 4

    private def element(dtype: GridType): DataType = dtype match {
      case GTimestamp | GDuration => LongType
      case t => t.sparkType
    }

    /** A run's values as a Java array of the chunk's element type. */
    def values(run: InternalRow, dtype: GridType): AnyRef = {
      val a = run.getArray(3)
      dtype match {
        case GDouble => a.toDoubleArray()
        case GFloat => a.toFloatArray()
        case GInt => a.toIntArray()
        case GLong | GTimestamp | GDuration => a.toLongArray()
        case GString =>
          Array.tabulate(a.numElements())(a.getUTF8String(_).toString)
      }
    }
  }

  /** A variable whose map stage has run: what it saw, and the reduce. */
  private[grid] final class Scattered(val v: VarDef, dims: Seq[DimDef],
      chunkSz: Seq[Int], lateK: Int,
      rdd: org.apache.spark.rdd.RDD[InternalRow], val seen: CellsSeen) {

    /** Every non-late dim value was a coordinate of its dim. */
    def requireKnownCoords(): Unit =
      dims.indices.filter(_ != lateK).foreach { k =>
        val d = dims(k)
        require(!seen.nulls(k), s"dim '${d.name}' holds NULL values " +
          "(a coordinate cannot be NULL)")
        require(seen.unknown(k).isEmpty,
          s"value ${Labels.show(d.coords.gridType, seen.unknown(k).first())}" +
            s" is not a coordinate of ${d.name}")
      }

    /** The non-late dims whose coordinates the rows did not all cover. */
    def uncovered: Seq[(String, Int, Int)] =
      dims.indices.filter(_ != lateK).map(k =>
        (dims(k).name, seen.indices(k).cardinality(), dims(k).size))
        .filter(t => t._2 != t._3)

    /** The reduce: assemble and write every chunk. On an append,
      * `ranks` places each late label (its index among the slab's
      * sorted labels), `offset` is the late dim's extent before the
      * slab and `lateSize` its extent after.
      */
    def assemble(sink: ChunkSink, ranks: LabelIndex = null, offset: Int = 0,
        lateSize: Int = 0): Seq[StatsSource.Entry] = {
      val nd = dims.length
      val lk = lateK
      val csz = chunkSz.toArray
      val sizes = dims.map(_.size).toArray
      if (lk >= 0) sizes(lk) = lateSize
      val nChunks = sizes.indices.map(k =>
        (sizes(k) + csz(k) - 1) / csz(k)).toArray
      val dtype = v.dtype
      val varName = v.name
      val hconf = GridIO.shippable() // executor writes use the driver's conf
      rdd.mapPartitions { runs =>
        val open = new java.util.HashMap[Long, OpenChunk]()
        var lastG = -1L
        val q = new Array[Int](nd) // the group's chunk index per dim
        val eff = new Array[Int](nd)
        var inner = 1 // cells after the late dim in the group's part
        var pos = 0 // the run's index along the late dim in its chunk
        runs.foreach { run =>
          val g = run.getLong(0)
          if (g != lastG) {
            var rest = g
            var k = nd - 1
            inner = 1
            while (k >= 0) {
              if (k != lk) {
                q(k) = (rest % nChunks(k)).toInt
                rest /= nChunks(k)
                eff(k) = math.min(csz(k), sizes(k) - q(k) * csz(k))
                if (k > lk) inner *= eff(k)
              }
              k -= 1
            }
            lastG = g
          }
          if (lk >= 0) {
            val rank = ranks(run.getLong(1))
            if (rank < 0) throw new IllegalStateException(
              s"$varName: a late label the map stage did not report")
            val i = offset + rank
            q(lk) = i / csz(lk)
            pos = i - q(lk) * csz(lk)
            eff(lk) = math.min(csz(lk), sizes(lk) - q(lk) * csz(lk))
          }
          var id = 0L
          var k = 0
          while (k < nd) { id = id * nChunks(k) + q(k); k += 1 }
          var chunk = open.get(id)
          if (chunk == null) {
            chunk = OpenChunk(q.mkString("."), eff.clone(), dtype)
            open.put(id, chunk)
          }
          // copy the run in stretches contiguous in the chunk: a run
          // crosses to the next stretch where its cell passes the end
          // of an `inner` row (only on an append)
          val values = Keys.values(run, dtype)
          val first = run.getInt(2)
          val n = java.lang.reflect.Array.getLength(values)
          var j = 0
          while (j < n) {
            val cell = first + j
            var off = cell
            var len = n - j
            if (lk >= 0) {
              off = ((cell / inner) * eff(lk) + pos) * inner + cell % inner
              len = math.min(len, inner - cell % inner)
            }
            val dup = chunk.seen.nextSetBit(off)
            if (dup >= 0 && dup < off + len) throw new IllegalStateException(
              s"duplicate cell: chunk ${chunk.name} offset $dup of $varName")
            chunk.seen.set(off, off + len)
            System.arraycopy(values, j, chunk.arr, off, len)
            j += len
          }
        }
        // keep EMPTY entries too: a rewritten chunk whose stats vanish
        // (NaT/NaN introduced by a merge) must still reach the sidecar
        // merge so the stale pre-append entry is dropped
        val stats = Seq.newBuilder[StatsSource.Entry]
        open.values.forEach { c =>
          stats ++= sink.write(varName, c.name, c.arr, c.eff, hconf.value)
        }
        stats.result().iterator
      }.collect().toSeq.map { case (name, mm, sm) =>
        (s"$varName $name", mm, sm) }
    }
  }

  /** One chunk being assembled: its dense cells and which are set. */
  private final case class OpenChunk(name: String, eff: Array[Int],
      dtype: GridType) {
    val seen = new java.util.BitSet()
    val arr: AnyRef = {
      val cells = eff.product
      dtype match {
        case GDouble => Array.fill(cells)(Double.NaN)
        case GFloat => Array.fill(cells)(Float.NaN)
        case GInt => new Array[Int](cells)
        case GLong => new Array[Long](cells)
        // unset time cells are MISSING, not epoch-0: prefill NaT (the
        // time analogue of the float NaN prefill above)
        case GTimestamp | GDuration => Array.fill(cells)(Long.MinValue)
        // unset cells become the empty string (the declared vlen fill of
        // every tree this engine writes)
        case GString => Array.fill(cells)("")
      }
    }
  }
}

/** One normalization of a dim value to a `Long` label, shared by fresh
  * write inference (`graft.sources.ZarrWrite.inferGridSchema`) and the
  * scatter's keys: integral kinds are their value, time kinds their µs,
  * float kinds the bits of the value as a double with -0.0 folded into
  * 0.0 and every NaN into one — the grouping `distinct()` applies.
  */
private[graft] object Labels {

  def ofDouble(d: Double): Long =
    java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)

  def isFloat(kind: GridType): Boolean = kind == GDouble || kind == GFloat

  /** `df`'s dim column `name` cast to the label domain of a coordinate
    * kind: numeric kinds accept any numeric column (as a double for
    * float kinds, a long for integral ones), time kinds their own Spark
    * type only (µs internally).
    */
  def domain(df: DataFrame, name: String, kind: GridType): Column = {
    val dt = df.schema(name).dataType
    val to = kind match {
      case GDouble | GFloat if dt.isInstanceOf[NumericType] => DoubleType
      case GInt | GLong if dt.isInstanceOf[NumericType] => LongType
      case GTimestamp if dt == TimestampType => dt
      case GDuration if dt.isInstanceOf[DayTimeIntervalType] => dt
      case _ => throw new IllegalArgumentException(
        s"dim '$name': column type ${dt.simpleString} does not fit a " +
          s"$kind coordinate")
    }
    df.col(name).cast(to)
  }

  /** The label column of `df`'s dim column `name`, in generated code. */
  def column(df: DataFrame, name: String, kind: GridType): Column =
    toColumn(DimLabel(toExpr(domain(df, name, kind))))

  /** The labels of an axis' coordinates, by index. */
  def of(c: CoordArray): Array[Long] = c match {
    case DoubleCoords(v) => v.map(ofDouble)
    case FloatCoords(v) => v.map(x => ofDouble(x.toDouble))
    case IntCoords(v) => v.map(_.toLong)
    case LongCoords(v) => v
    case TimeCoords(v) => v
    case DurationCoords(v) => v
    case StringCoords(_) => throw new IllegalArgumentException(
      "string dims unsupported in GridWriter")
  }

  private def value(kind: GridType, l: Long): Double =
    if (isFloat(kind)) java.lang.Double.longBitsToDouble(l) else l.toDouble

  /** `labels` in ascending coordinate order (NaN last, as Spark sorts). */
  def sorted(kind: GridType, labels: Array[Long]): Array[Long] =
    if (isFloat(kind))
      labels.sortWith((a, b) =>
        java.lang.Double.compare(value(kind, a), value(kind, b)) < 0)
    else labels.sorted

  /** The coordinates of `labels` (already in the wanted order). */
  def coords(kind: GridType, labels: Array[Long]): CoordArray = kind match {
    case GDouble => DoubleCoords(labels.map(java.lang.Double.longBitsToDouble))
    case GFloat =>
      FloatCoords(labels.map(java.lang.Double.longBitsToDouble(_).toFloat))
    case GInt => IntCoords(labels.map(_.toInt))
    case GLong => LongCoords(labels)
    case GTimestamp => TimeCoords(labels)
    case GDuration => DurationCoords(labels)
    case GString => throw new IllegalArgumentException(
      "string dims unsupported in GridWriter")
  }

  def isNaN(kind: GridType, l: Long): Boolean =
    isFloat(kind) && value(kind, l).isNaN

  /** A label as its coordinate, for messages. */
  def show(kind: GridType, l: Long): String = kind match {
    case GDouble | GFloat => value(kind, l).toString
    case GTimestamp =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.microsToInstant(l)
        .toString
    case _ => l.toString
  }
}

/** Position of a label in an axis by binary search over the sorted
  * primitive labels; -1 when absent.
  */
private[grid] final class LabelIndex(labels: Array[Long]) extends Serializable {
  private val order = labels.indices.sortBy(labels(_)).toArray
  private val keys = order.map(labels(_))
  def apply(l: Long): Int = {
    val p = java.util.Arrays.binarySearch(keys, l)
    if (p < 0) -1 else order(p)
  }
}

/** A dim value's [[Labels]] label: the bits of a double with -0.0 and
  * NaN normalized, any other (long-valued) domain as is.
  */
private[grid] final case class DimLabel(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any = v match {
    case d: Double => Labels.ofDouble(d)
    case l: Long => l
  }
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      if (child.dataType == DoubleType) s"graft.grid.Labels.ofDouble($c)"
      else c)
  override protected def withNewChildInternal(c: Expression): DimLabel =
    copy(child = c)
}

/** What a scatter's map stage saw, per dim of the variable: the indices
  * of known coordinates, whether a NULL arrived, up to three labels
  * naming no coordinate, and the late dim's distinct labels. Tasks merge
  * by set union, which is idempotent: a retried or speculative task
  * adding its set again changes nothing.
  */
private[grid] final class CellsSeen(val nd: Int)
    extends AccumulatorV2[Long, CellsSeen] {
  val indices: Array[java.util.BitSet] = Array.fill(nd)(new java.util.BitSet)
  val nulls = new Array[Boolean](nd)
  val unknown: Array[java.util.TreeSet[Long]] =
    Array.fill(nd)(new java.util.TreeSet[Long])
  val labels = new java.util.HashSet[Long]
  // slabs arrive in runs of one label: skip the set while it repeats
  @transient private var last = 0L
  @transient private var hasLast = false

  override def isZero: Boolean = labels.isEmpty && !nulls.contains(true) &&
    indices.forall(_.isEmpty) && unknown.forall(_.isEmpty)
  override def copy(): CellsSeen = {
    val c = new CellsSeen(nd)
    c.merge(this)
    c
  }
  override def reset(): Unit = {
    indices.foreach(_.clear())
    java.util.Arrays.fill(nulls, false)
    unknown.foreach(_.clear())
    labels.clear()
    hasLast = false
  }
  override def add(label: Long): Unit =
    if (!hasLast || label != last) {
      labels.add(label)
      last = label
      hasLast = true
    }
  override def merge(other: AccumulatorV2[Long, CellsSeen]): Unit = {
    val o = other.asInstanceOf[CellsSeen]
    var k = 0
    while (k < nd) {
      indices(k).or(o.indices(k))
      nulls(k) |= o.nulls(k)
      unknown(k).addAll(o.unknown(k))
      k += 1
    }
    labels.addAll(o.labels)
  }
  override def value: CellsSeen = this
  override def toString: String = s"CellsSeen(${labels.size} labels)"
}
