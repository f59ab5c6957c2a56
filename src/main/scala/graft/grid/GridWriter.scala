package graft.grid

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed reverse pivot: scatter a relational result back into a
  * chunked dense grid WITHOUT materializing it on the driver.
  *
  * `GridResult` mirrors the reference's eager `to_dataset`
  * (collect + scatter, ds.py:150-207) — fine for plot-sized results,
  * impossible for a 100 TB grid. This writer is the scale path:
  *
  *   1. each row maps to (chunk id, cell offset, value) using broadcast
  *      coordinate->index tables — a narrow projection, no shuffle yet;
  *   2. one hash repartition on chunk id co-locates each chunk's cells;
  *   3. each task scatters its chunks into dense arrays (NaN prefill for
  *      float kinds, duplicate cells rejected via a bitset) and hands
  *      each one to a [[GridWriter.ChunkSink]] that encodes and writes
  *      the Zarr chunk file directly from the executor.
  *
  * Shuffle volume = one (long, long, value) triple per cell; peak task
  * memory = the chunks co-hashed into that task, not the grid. The
  * driver writes only metadata ([[ZarrGridStore.writeFromRows]] and
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

  /** Normalized dim column (what the coord->index maps are keyed on). */
  private def dimKeyCol(d: DimDef): org.apache.spark.sql.Column =
    d.coords match {
      case TimeCoords(_) => unix_micros(col(d.name))
      case DoubleCoords(_) | FloatCoords(_) => col(d.name).cast(DoubleType)
      case IntCoords(_) | LongCoords(_) => col(d.name).cast(LongType)
      case DurationCoords(_) => { // internal rep is already long micros
        import org.apache.spark.sql.graftinterop.ColumnInterop._
        toColumn(graft.functions.DurationMicros(toExpr(col(d.name))))
      }
      case StringCoords(_) => throw new IllegalArgumentException(
        "string dims unsupported in GridWriter")
    }

  private def coordIndex(d: DimDef): Map[Any, Int] = d.coords match {
    case TimeCoords(v) => v.zipWithIndex.map { case (x, i) => (x: Any) -> i }.toMap
    case DoubleCoords(v) => v.zipWithIndex.map { case (x, i) => (x: Any) -> i }.toMap
    case FloatCoords(v) =>
      v.zipWithIndex.map { case (x, i) => (x.toDouble: Any) -> i }.toMap
    case IntCoords(v) =>
      v.zipWithIndex.map { case (x, i) => (x.toLong: Any) -> i }.toMap
    case LongCoords(v) => v.zipWithIndex.map { case (x, i) => (x: Any) -> i }.toMap
    case DurationCoords(v) => // keyed on micros (DurationMicros column)
      v.zipWithIndex.map { case (x, i) => (x: Any) -> i }.toMap
    case StringCoords(_) => throw new IllegalArgumentException(
      "string dims unsupported in GridWriter")
  }

  private[grid] def writeVar(df: DataFrame, schema: GridSchema,
      chunks: Map[String, Int], sink: ChunkSink,
      v: VarDef,
      /** Append support: `Some((dim, offset, globalSize))` scatters the
        * slab into the STORE-GLOBAL chunk grid — `dim`'s coord→index
        * map stays slab-local (a row carrying a non-slab coordinate
        * still fails loudly) but every mapped index shifts by `offset`,
        * and chunk ids / effective shapes run over the grown
        * `globalSize` extent. Staged chunk keys then need no
        * post-scatter shifting, and the store's partial edge chunk is
        * addressed directly (see ZarrGridStore.EdgeMergeSink).
        */
      globalAlong: Option[(String, Int, Int)] = None)
      : Seq[StatsSource.Entry] = {
    val dims = v.dims.map(schema.dim)
    val nd = dims.length
    // planning-side chunk arithmetic, shipped to executors via closures
    val dimSizes = dims.map(_.size).toArray
    val alongK = globalAlong.map { case (dn, _, _) =>
      val k = v.dims.indexOf(dn)
      require(k >= 0, s"${v.name} does not span append dim $dn")
      k
    }.getOrElse(-1)
    val idxOffset = globalAlong.map(_._2).getOrElse(0)
    globalAlong.foreach { case (_, _, g) => dimSizes(alongK) = g }
    val chunkSz = dims.map(d =>
      chunks.getOrElse(d.name, math.max(d.size, 1))).toArray
    val nChunksPerDim = dimSizes.indices.map(i =>
      (dimSizes(i) + chunkSz(i) - 1) / chunkSz(i)).toArray
    val chunkStrides = { // C-order over the chunk grid
      val s = new Array[Long](nd)
      var acc = 1L
      var k = nd - 1
      while (k >= 0) { s(k) = acc; acc *= nChunksPerDim(k); k -= 1 }
      s
    }
    val nChunks = nChunksPerDim.foldLeft(1L)(_ * _.toLong)
    val idxMaps = dims.map(coordIndex).toArray
    val dimNames = dims.map(_.name).toArray // avoid shipping coord arrays
    val spark = df.sparkSession
    val bMaps = spark.sparkContext.broadcast(idxMaps)
    val hconf = GridIO.shippable() // executor writes use the driver's conf

    val valueType = v.dtype.sparkType
    val triSchema = StructType(Seq(
      StructField("chunk", LongType, nullable = false),
      StructField("off", LongType, nullable = false),
      StructField("v", valueType)))
    val prepared = df.select(
      dims.map(d => dimKeyCol(d).as(d.name)) :+
        col(v.name).cast(valueType).as(v.name): _*)
    val triples = prepared.mapPartitions { rows =>
      val maps = bMaps.value
      rows.map { r =>
        val idx = new Array[Int](nd)
        var k = 0
        while (k < nd) {
          idx(k) = maps(k).getOrElse(r.get(k), throw new
              IllegalArgumentException(
                s"value ${r.get(k)} is not a coordinate of ${dimNames(k)}"))
          k += 1
        }
        if (alongK >= 0) idx(alongK) += idxOffset
        var chunkId = 0L
        var k2 = 0
        while (k2 < nd) {
          chunkId += (idx(k2) / chunkSz(k2)).toLong * chunkStrides(k2)
          k2 += 1
        }
        // offset within the chunk's own (possibly short) shape
        var off = 0L
        var stride = 1L
        var k3 = nd - 1
        while (k3 >= 0) {
          val start = (idx(k3) / chunkSz(k3)) * chunkSz(k3)
          val len = math.min(chunkSz(k3), dimSizes(k3) - start)
          off += (idx(k3) - start).toLong * stride
          stride *= len
          k3 -= 1
        }
        if (r.isNullAt(nd) &&
            v.dtype != GTimestamp && v.dtype != GDuration)
          // NULL has a canonical stored form only for time kinds (NaT);
          // float missing is expressible as NaN in SQL, so stay strict
          throw new IllegalArgumentException(
            s"null value for cell [${idx.mkString(",")}]; grid cells are " +
              "primitive (filter nulls or fill before writing)")
        Row(chunkId, off, r.get(nd))
      }
    }(RowEncoder.encoderFor(triSchema))

    val parts = math.max(1, math.min(nChunks,
      spark.sparkContext.defaultParallelism * 2L).toInt)
    val varName = v.name
    val chunkKeyStats = triples.repartition(parts, col("chunk")).rdd
      .mapPartitions { (iter: Iterator[Row]) =>
        val open = scala.collection.mutable.Map.empty[Long,
          (AnyRef, java.util.BitSet)]
        def alloc(cells: Int): AnyRef = v.dtype match {
          case GDouble => Array.fill(cells)(Double.NaN)
          case GFloat => Array.fill(cells)(Float.NaN)
          case GInt => new Array[Int](cells)
          case GLong => new Array[Long](cells)
          // unset time cells are MISSING, not epoch-0: prefill NaT
          // (the time analogue of the float NaN prefill above)
          case GTimestamp | GDuration =>
            Array.fill(cells)(Long.MinValue)
          // unset cells become the empty string (the declared vlen
          // fill of every tree this engine writes)
          case GString => Array.fill(cells)("")
        }
        def effOf(chunkId: Long): Array[Int] = {
          val eff = new Array[Int](nd)
          var rest = chunkId
          var k = 0
          while (k < nd) {
            val ci = (rest / chunkStrides(k)).toInt
            rest %= chunkStrides(k)
            val start = ci * chunkSz(k)
            eff(k) = math.min(chunkSz(k), dimSizes(k) - start)
            k += 1
          }
          eff
        }
        def cellsOf(chunkId: Long): Int = effOf(chunkId).product
        iter.foreach { r =>
          val chunkId = r.getLong(0)
          val off = r.getLong(1).toInt
          val (arr, seen) = open.getOrElseUpdate(chunkId,
            (alloc(cellsOf(chunkId)), new java.util.BitSet()))
          if (seen.get(off)) throw new IllegalStateException(
            s"duplicate cell: chunk $chunkId offset $off of ${v.name}")
          seen.set(off)
          arr match {
            case a: Array[Double] => a(off) = r.getDouble(2)
            case a: Array[Float] => a(off) = r.getFloat(2)
            case a: Array[Int] => a(off) = r.getInt(2)
            case a: Array[Long] => a(off) = r.get(2) match {
              case null => Long.MinValue // NaT (time kinds only; the
              // triple builder rejects nulls for every other dtype)
              case l: Long => l
              case t: java.sql.Timestamp => // keep sub-ms precision
                org.apache.spark.sql.catalyst.util.DateTimeUtils
                  .fromJavaTimestamp(t)
              case i: java.time.Instant =>
                org.apache.spark.sql.catalyst.util.DateTimeUtils
                  .instantToMicros(i)
              case dur: java.time.Duration =>
                Math.addExact(Math.multiplyExact(dur.getSeconds, 1000000L),
                  dur.getNano / 1000L)
            }
            case a: Array[String] => a(off) = r.getString(2)
          }
        }
        val stats = Seq.newBuilder[StatsSource.Entry]
        open.foreach { case (chunkId, (arr, _)) =>
          val name = {
            val ci = new Array[Long](nd)
            var rest = chunkId
            var k = 0
            while (k < nd) {
              ci(k) = rest / chunkStrides(k); rest %= chunkStrides(k); k += 1
            }
            ci.mkString(".")
          }
          // keep EMPTY entries too: a rewritten chunk whose stats
          // vanish (NaT/NaN introduced by a merge) must still reach
          // the sidecar merge so the stale pre-append entry is dropped
          stats ++= sink.write(varName, name, arr, effOf(chunkId),
            hconf.value)
        }
        stats.result().iterator
    }.collect()
    chunkKeyStats.map { case (name, mm, sm) =>
      (s"$varName $name", mm, sm) }.toSeq
  }
}
