package graft.grid

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import scala.jdk.CollectionConverters._

/** Zarr v3 interop (zarr-specs v3, a public format) — the layout the
  * reference's README primary example opens (`.zarr-v3` tree,
  * reference README.md:76-77) and where the ecosystem is moving.
  * Parses `zarr.json` node metadata into the same [[ZarrArrayMeta]] the
  * v2 reader uses, so chunk assembly, pruning, projection pushdown and
  * stats all work unchanged; [[ZarrGridStore.open]] auto-detects the
  * version, so callers never care which they were handed.
  *
  * Layout understood:
  *
  * {{{
  * <root>/zarr.json            # {"zarr_format":3,"node_type":"group",
  *                             #  "attributes":{...},
  *                             #  "consolidated_metadata":{...}?}
  * <root>/<array>/zarr.json    # node_type "array": shape, data_type,
  *                             #  regular chunk_grid, chunk_key_encoding,
  *                             #  fill_value, codecs, dimension_names
  * <root>/<array>/c/<i>/<j>    # chunks ("default" key encoding; "v2"
  *                             #  keys `<i>.<j>` also understood)
  * }}}
  *
  * Supported: data_types float32/float64/int32/int64 (+ packed ints,
  * float16); codec pipelines `bytes` (either endian) followed by at
  * most one of `gzip`, `zstd`, `blosc` (via the pure-JVM [[Blosc]]
  * codec — all cnames incl. blosclz, byte- and bit-shuffle);
  * `sharding_indexed` with inner-chunk-granular ranged reads;
  * `transpose` (stored-axis permutation, inverted at decode);
  * vlen-utf8 string arrays; checksum codecs rejected; edge chunks
  * stored padded to the full chunk shape (same rule as v2); missing
  * chunk files read as `fill_value`; `dimension_names` required (the
  * v3-native spelling of the xarray `_ARRAY_DIMENSIONS` convention);
  * CF time attributes decode through the same calendar bridge.
  *
  * Opens cost ONE metadata read when the root `zarr.json` embeds
  * zarr-python's inline `consolidated_metadata`; otherwise a listing
  * plus one read per array.
  *
  * Writes go through [[ZarrGridStore]]'s one writer with the
  * [[ZarrLayout.V3]] layout value; this object keeps only what is v3's
  * own there: the metadata shell (consolidated metadata plus per-array
  * `zarr.json` files, so both this reader and standard v3 readers open
  * the output), the coordinate-array writer, the shard encoders and
  * the root re-consolidation after an append.
  */
object ZarrV3 {

  // ---- open ----------------------------------------------------------

  def open(root: String): ZarrGridStore = {
    val cleanRoot = root.stripSuffix("/")
    open(cleanRoot, new SerializableHadoopConf(GridIO.driverConf()),
      s"$cleanRoot/zarr.json")
  }

  /** `rootPath` is the root metadata document to read: `zarr.json`, or
    * its backup while an append's commit has moved it aside
    * ([[GridIO.liveOrBackup]]).
    */
  def open(root: String, hconf: SerializableHadoopConf,
      rootPath: String): ZarrGridStore = {
    val conf = hconf.value
    val cleanRoot = root.stripSuffix("/")
    val rootMeta = ZarrGridStore.parseJson(
      GridIO.readAllBytes(rootPath, conf))
    require(rootMeta.path("zarr_format").asInt(0) == 3,
      s"unsupported zarr_format ${rootMeta.path("zarr_format")} in " +
        s"$cleanRoot/zarr.json")
    require(rootMeta.path("node_type").asText("") == "group",
      s"$cleanRoot/zarr.json is not a group node")
    val consolidated = rootMeta.path("consolidated_metadata").path("metadata")
    val metas: Map[String, ZarrArrayMeta] =
      if (consolidated.isObject) {
        val arrayEntries = consolidated.properties().asScala.toSeq
          .filter(_.getValue.path("node_type").asText("") == "array")
        // nested keys belong to SUBGROUPS (each openable as its own
        // root, by path or the provider's `group` option); the root
        // dataset is the root-level arrays — xarray's open_zarr(root)
        val (nested, rootLevel) = arrayEntries.partition(
          _.getKey.contains("/"))
        if (rootLevel.isEmpty && nested.nonEmpty) {
          val groups = nested.map(_.getKey.takeWhile(_ != '/'))
            .distinct.sorted
          throw new IllegalArgumentException(
            s"no arrays at the root of $cleanRoot; tree has subgroups " +
              s"(${groups.mkString(", ")}) — open one via " +
              ".option(\"group\", <name>) or the subgroup path")
        }
        rootLevel.map(e =>
          e.getKey -> parseArrayNode(e.getKey, e.getValue)).toMap
      } else {
        // listing fallback: children with zarr.json are arrays OR
        // subgroups — parse arrays, collect group names for the error
        val children = GridIO.listNames(cleanRoot, conf)
          .filterNot(_.startsWith("."))
          .filter(n => GridIO.exists(s"$cleanRoot/$n/zarr.json", conf))
          .sorted.map { n =>
            n -> ZarrGridStore.parseJson(
              GridIO.readAllBytes(s"$cleanRoot/$n/zarr.json", conf))
          }
        val (groups, arrays) = children.partition(
          _._2.path("node_type").asText("") == "group")
        if (arrays.isEmpty && groups.nonEmpty)
          throw new IllegalArgumentException(
            s"no arrays at the root of $cleanRoot; tree has subgroups " +
              s"(${groups.map(_._1).mkString(", ")}) — open one via " +
              ".option(\"group\", <name>) or the subgroup path")
        arrays.map { case (n, node) => n -> parseArrayNode(n, node) }.toMap
      }
    require(metas.nonEmpty, s"no arrays under $cleanRoot")
    val dsAttrs = attrsOf(rootMeta)
    ZarrGridStore.assemble(cleanRoot, metas, dsAttrs, hconf)
  }

  private def attrsOf(node: JsonNode): Map[String, String] = {
    val a = node.path("attributes")
    if (a.isObject) ZarrGridStore.attrMap(a) else Map.empty
  }

  private def parseArrayNode(name: String, node: JsonNode): ZarrArrayMeta = {
    require(node.path("zarr_format").asInt(0) == 3,
      s"$name: unsupported zarr_format")
    require(node.path("node_type").asText("") == "array",
      s"$name: not an array node")
    val shape = node.path("shape").elements().asScala.map(_.asInt()).toSeq
    val cg = node.path("chunk_grid")
    require(cg.path("name").asText("") == "regular",
      s"$name: only regular chunk grids supported " +
        s"(got '${cg.path("name").asText("")}')")
    val chunkShape = cg.path("configuration").path("chunk_shape")
      .elements().asScala.map(_.asInt()).toSeq
    // shape [] = a 0-d SCALAR array (xarray scalar variables)
    require(chunkShape.length == shape.length,
      s"$name: bad shape/chunk_shape")
    require(chunkShape.forall(_ > 0) && shape.forall(_ >= 0),
      s"$name: non-positive chunk extent")
    val dtNode = node.path("data_type")
    // zarr-python 3 writes numpy time dtypes as EXTENSION objects:
    // {"name":"numpy.datetime64","configuration":{"unit":"ns",
    //  "scale_factor":1}}; the bare "datetime64[ns]" string spelling is
    // also accepted. Both decode to µs (GTimestamp/GDuration).
    def timeStored(unit: String, sf: Int): StoredElem = {
      require(sf == 1,
        s"$name: datetime64 scale_factor $sf unsupported (1 only)")
      val (num, den) = ZarrGridStore.m8Scale(unit)
      StoredTime64(num, den)
    }
    val m8Str = raw"(datetime64|timedelta64)\[(ns|us|ms|s|m|h|D|W)\]".r
    val (dtype, stored): (GridType, Option[StoredElem]) =
      if (dtNode.isObject) {
        val cfg = dtNode.path("configuration")
        val st = timeStored(cfg.path("unit").asText(""),
          cfg.path("scale_factor").asInt(1))
        dtNode.path("name").asText("") match {
          case "numpy.datetime64" => (GTimestamp, Some(st))
          case "numpy.timedelta64" => (GDuration, Some(st))
          case other => throw new IllegalArgumentException(
            s"$name: unsupported extension data_type '$other'")
        }
      } else dtNode.asText("") match {
        case "float64" => (GDouble, None)
        case "float32" => (GFloat, None)
        case "int32" => (GInt, None)
        case "int64" => (GLong, None)
        case "int8" => (GInt, Some(StoredInt(1, signed = true)))
        case "uint8" => (GInt, Some(StoredInt(1, signed = false)))
        // numpy bool (mask variables): one byte 0/1, uint8's layout
        case "bool" => (GInt, Some(StoredInt(1, signed = false)))
        case "int16" => (GInt, Some(StoredInt(2, signed = true)))
        case "uint16" => (GInt, Some(StoredInt(2, signed = false)))
        case "uint32" => (GLong, Some(StoredInt(4, signed = false)))
        // long-width with a loud per-value overflow check past Long.Max
        case "uint64" => (GLong, Some(StoredInt(8, signed = false)))
        case "float16" => (GFloat, Some(StoredHalf))
        // zarr-python 3's default for string arrays (vlen-utf8 chunks)
        case "string" => (GString, Some(StoredVlenStr))
        case m8Str(kind, unit) =>
          (if (kind == "datetime64") GTimestamp else GDuration,
            Some(timeStored(unit, 1)))
        case other => throw new IllegalArgumentException(
          s"$name: unsupported data_type '$other' (float16/float32/" +
            "float64/int32/int64/int8/int16/uint8/uint16/uint32/uint64/" +
            "bool/datetime64[..]/timedelta64[..]/string only)")
      }
    val (keyPrefix, sep) = {
      val cke = node.path("chunk_key_encoding")
      val enc = if (cke.isMissingNode || cke.isNull) "default"
        else cke.path("name").asText("default")
      val cfgSep = cke.path("configuration").path("separator")
      enc match {
        case "default" => ("c", if (cfgSep.isTextual) cfgSep.asText else "/")
        case "v2" => ("", if (cfgSep.isTextual) cfgSep.asText else ".")
        case other => throw new IllegalArgumentException(
          s"$name: unsupported chunk_key_encoding '$other'")
      }
    }
    require(sep == "." || sep == "/", s"$name: bad separator '$sep'")
    val isVlen = stored.contains(StoredVlenStr)
    val fill: Double = node.path("fill_value") match {
      case f if f == null || f.isNull || f.isMissingNode => Double.NaN
      case _ if isVlen => Double.NaN // string fills parse below
      case f if f.isNumber => f.asDouble()
      // zarr-python writes JSON true/false for bool arrays
      case f if f.isBoolean => if (f.asBoolean()) 1.0 else 0.0
      case f if f.isTextual => f.asText() match {
        case "NaN" => Double.NaN
        case "Infinity" => Double.PositiveInfinity
        case "-Infinity" => Double.NegativeInfinity
        case other => throw new IllegalArgumentException(
          s"$name: bad fill_value '$other'")
      }
      case f => throw new IllegalArgumentException(
        s"$name: bad fill_value $f")
    }
    val stringFill: String = node.path("fill_value") match {
      case f if isVlen && f.isTextual => f.asText()
      case _ => ""
    }
    // codecs: a simple bytes[+compressor] pipeline, a vlen-utf8
    // [+compressor] pipeline for string arrays, or a single
    // sharding_indexed codec wrapping an inner pipeline + chunk index
    val codecs = node.path("codecs")
    require(codecs.isArray && codecs.size() >= 1,
      s"$name: codecs pipeline required")
    val sharded = codecs.get(0).path("name").asText("") == "sharding_indexed"
    val (bigEndian, compressor, sharding, transpose) =
      if (isVlen && !sharded) {
        (false, parseVlenPipeline(name, codecs), None, None)
      } else if (!sharded) {
        val (be, comp, tr) = parsePipeline(name, codecs)
        (be, comp, None, tr)
      } else {
        require(codecs.size() == 1,
          s"$name: sharding_indexed must be the only codec")
        val cfg = codecs.get(0).path("configuration")
        val innerShape = cfg.path("chunk_shape")
          .elements().asScala.map(_.asInt()).toSeq
        require(innerShape.length == shape.length,
          s"$name: inner chunk_shape rank mismatch")
        (shape.indices).foreach { d =>
          require(innerShape(d) > 0 && chunkShape(d) % innerShape(d) == 0,
            s"$name: inner chunk shape ${innerShape.mkString("x")} must " +
              s"evenly divide the shard shape ${chunkShape.mkString("x")}")
        }
        // a sharded string array's inner pipeline is the vlen one —
        // variable-size inner frames are exactly what the shard's
        // (offset, nbytes) index was made for
        val (iBig, iComp) =
          if (isVlen) {
            val innerCodecs = cfg.path("codecs")
            require(innerCodecs.isArray && innerCodecs.size() >= 1,
              s"$name: inner codecs pipeline required")
            (false, parseVlenPipeline(s"$name (inner)", innerCodecs))
          } else {
            val (b, c, iTr) = parsePipeline(s"$name (inner)",
              cfg.path("codecs"))
            require(iTr.isEmpty,
              s"$name: transpose inside a shard pipeline unsupported")
            (b, c)
          }
        // index pipeline: bytes (little, the spec'd uint64 layout) with
        // optional crc32c framing — the zarr-python default
        var crc = false
        val idxCodecs = cfg.path("index_codecs")
        if (idxCodecs.isArray) idxCodecs.elements().asScala.foreach { c =>
          c.path("name").asText("") match {
            case "bytes" =>
              require(c.path("configuration").path("endian")
                .asText("little") == "little",
                s"$name: shard index must be little-endian")
            case "crc32c" => crc = true
            case other => throw new IllegalArgumentException(
              s"$name: unsupported index codec '$other'")
          }
        } else crc = true // spec default: [bytes, crc32c]
        val atEnd = cfg.path("index_location").asText("end") match {
          case "end" => true
          case "start" => false
          case other => throw new IllegalArgumentException(
            s"$name: bad index_location '$other'")
        }
        (false, None,
          Some(ShardMeta(innerShape, iBig, iComp, atEnd, crc)), None)
      }
    transpose.foreach { o =>
      require(o.sorted == (0 until shape.length),
        s"$name: transpose order ${o.mkString("[", ",", "]")} is not a " +
          s"permutation of 0..${shape.length - 1}")
    }
    val dims = node.path("dimension_names") match {
      case d if d.isArray => d.elements().asScala.map(_.asText()).toSeq
      case _ if shape.isEmpty => Seq.empty // 0-d scalar: no axes
      case _ => throw new IllegalArgumentException(
        s"$name: missing dimension_names; cannot infer axis names")
    }
    require(dims.length == shape.length,
      s"$name: ${dims.length} dim names for ${shape.length}-d array")
    ZarrArrayMeta(name, shape, chunkShape, dtype, bigEndian, compressor,
      fill, sep, dims, attrsOf(node), keyPrefix, sharding, stored,
      stringFill = stringFill,
      transposeOrder = transpose.filter(_ != (0 until shape.length)))
  }

  /** A string array's pipeline: the `vlen-utf8` codec first, then at
    * most one supported compressor (zarr-python appends its default
    * compressor after the vlen codec).
    */
  private def parseVlenPipeline(name: String,
      codecs: JsonNode): Option[(String, Int)] = {
    require(codecs.get(0).path("name").asText("") == "vlen-utf8",
      s"$name: string arrays must lead with the vlen-utf8 codec " +
        s"(got '${codecs.get(0).path("name").asText("")}')")
    var compressor: Option[(String, Int)] = None
    codecs.elements().asScala.drop(1).foreach { c =>
      val cfg = c.path("configuration")
      c.path("name").asText("") match {
        case "gzip" =>
          requireOneCompressor(name, compressor)
          compressor = Some(("gzip", cfg.path("level").asInt(5)))
        case "zstd" =>
          requireOneCompressor(name, compressor)
          compressor = Some(("zstd", cfg.path("level").asInt(0)))
        case "blosc" =>
          requireOneCompressor(name, compressor)
          compressor = Some(parseBloscCodec(name, cfg))
        case other => throw new IllegalArgumentException(
          s"$name: unsupported codec '$other' after vlen-utf8")
      }
    }
    compressor
  }

  /** A simple v3 pipeline: optional `transpose` (array->array, must
    * precede `bytes`), one `bytes` codec (endianness), at most one
    * supported compressor. Shared by top-level and shard-inner codecs
    * (the caller rejects transpose inside shards).
    */
  private def parsePipeline(name: String, codecs: JsonNode)
      : (Boolean, Option[(String, Int)], Option[Seq[Int]]) = {
    require(codecs.isArray && codecs.size() >= 1,
      s"$name: codecs pipeline required")
    var bigEndian = false
    var sawBytes = false
    var compressor: Option[(String, Int)] = None
    var transpose: Option[Seq[Int]] = None
    codecs.elements().asScala.foreach { c =>
      val cfg = c.path("configuration")
      c.path("name").asText("") match {
        case "transpose" =>
          require(!sawBytes && transpose.isEmpty && compressor.isEmpty,
            s"$name: transpose must be the first (array->array) codec")
          val o = cfg.path("order")
          require(o.isArray, s"$name: transpose needs an order array")
          transpose = Some(o.elements().asScala.map(_.asInt()).toSeq)
        case "bytes" =>
          require(!sawBytes, s"$name: duplicate bytes codec")
          sawBytes = true
          bigEndian = cfg.path("endian").asText("little") == "big"
        case "gzip" =>
          requireOneCompressor(name, compressor)
          compressor = Some(("gzip", cfg.path("level").asInt(5)))
        case "zstd" =>
          requireOneCompressor(name, compressor)
          compressor = Some(("zstd", cfg.path("level").asInt(0)))
        case "blosc" =>
          requireOneCompressor(name, compressor)
          compressor = Some(parseBloscCodec(name, cfg))
        case "sharding_indexed" => throw new IllegalArgumentException(
          s"$name: nested sharding unsupported")
        case other => throw new IllegalArgumentException(
          s"$name: unsupported codec '$other'")
      }
    }
    require(sawBytes, s"$name: codecs pipeline must include 'bytes'")
    (bigEndian, compressor, transpose)
  }

  private def requireOneCompressor(name: String,
      cur: Option[(String, Int)]): Unit =
    require(cur.isEmpty,
      s"$name: at most one compression codec supported in the pipeline")

  /** A v3 blosc codec config -> the `blosc/<cname>/<mode>` id form.
    * Decode needs none of this (the container self-describes codec and
    * shuffle filter), but carrying the declared config in the id lets
    * appends re-encode new chunks to match the tree instead of the
    * writer's defaults; the cname is validated to fail fast at open.
    */
  private def parseBloscCodec(name: String,
      cfg: JsonNode): (String, Int) = {
    val cname = cfg.path("cname").asText("lz4")
    require(
      Set("blosclz", "lz4", "lz4hc", "zstd", "zlib", "snappy")(cname),
      s"$name: blosc cname '$cname' has no JVM implementation")
    val mode = cfg.path("shuffle").asText("shuffle") match {
      case "noshuffle" => "none"
      case "bitshuffle" => "bit"
      case _ => "byte"
    }
    (s"blosc/$cname/$mode", cfg.path("clevel").asInt(5))
  }

  // ---- write ---------------------------------------------------------

  /** Every metadata file a v3 append replaces, (path relative to the
    * root, new bytes), in commit order: the grown coordinate array
    * (its `zarr.json` carries the grown shape, so every file of it
    * changes), each growing variable's `zarr.json` at its new shape,
    * and the root `zarr.json` last — group attributes preserved, its
    * inline consolidated metadata with these nodes swapped in, so no
    * live array metadata is re-read. A root without consolidated metadata
    * gets it, built from the per-array files in `order` (the
    * pre-append dataset's dims, then vars; unlisted arrays sorted
    * after).
    */
  private[grid] def appendMetadata(cleanRoot: String, order: Seq[String],
      grown: DimDef, shapes: Seq[(String, Seq[Int])],
      conf: org.apache.hadoop.conf.Configuration)
      : Seq[(String, Array[Byte])] = {
    val mapper = new ObjectMapper()
    val rootMeta = ZarrGridStore.parseJson(
      GridIO.readAllBytes(s"$cleanRoot/zarr.json", conf))
    val nodes = scala.collection.mutable.LinkedHashMap.empty[String, JsonNode]
    rootMeta.path("consolidated_metadata").path("metadata") match {
      case m if m.isObject =>
        m.properties().asScala.foreach(e => nodes(e.getKey) = e.getValue)
      case _ =>
        val listed = GridIO.listNames(cleanRoot, conf)
          .filterNot(_.startsWith("."))
          .filter(n => GridIO.exists(s"$cleanRoot/$n/zarr.json", conf))
        (order.filter(listed.contains) ++ listed.filterNot(order.contains)
          .sorted).foreach(n => nodes(n) = ZarrGridStore.parseJson(
            GridIO.readAllBytes(s"$cleanRoot/$n/zarr.json", conf)))
    }
    val (coordNode, coordFiles) = coordArrayFiles(grown, mapper)
    nodes(grown.name) = coordNode
    val files = coordFiles ++ shapes.map { case (v, shape) =>
      val node = nodes(v).asInstanceOf[ObjectNode]
      val sh = node.putArray("shape")
      shape.foreach(sh.add)
      s"$v/zarr.json" -> GridIO.utf8(mapper.writeValueAsString(node))
    }
    val top = mapper.createObjectNode()
    top.put("zarr_format", 3)
    top.put("node_type", "group")
    rootMeta.path("attributes") match {
      case a if a.isObject => top.set[JsonNode]("attributes", a)
      case _ => top.putObject("attributes"); ()
    }
    val consolidated = top.putObject("consolidated_metadata")
    consolidated.put("kind", "inline")
    consolidated.put("must_understand", false)
    val metaNode = consolidated.putObject("metadata")
    nodes.foreach { case (n, m) => metaNode.set[JsonNode](n, m) }
    files :+ ("zarr.json" -> GridIO.utf8(mapper.writeValueAsString(top)))
  }

  private[grid] def parseV3Compressor(
      compressor: String): Option[(String, Int)] = {
    val comp = ZarrGridStore.parseCompressor(compressor)
    require(!comp.exists(_._1 == "zlib"),
      "zarr v3 has no zlib codec; use gzip, zstd, blosc or none")
    comp
  }

  /** Driver-side metadata shell of a v3 write: coordinate arrays,
    * per-array `zarr.json`, and the consolidated root `zarr.json` —
    * everything except data chunks (which the caller writes, serially,
    * distributed store-to-store, or via the row scatter). 0-d (scalar)
    * variables get shape-[] metadata here; their single `c` chunk is
    * written driver-side by the caller.
    */
  private[grid] def writeMetadataShell(schema: GridSchema, cleanRoot: String,
      chunks: Map[String, Int], comp: Option[(String, Int)],
      layout: ZarrLayout.V3,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    val mapper = new ObjectMapper()
    val arrayMetaNodes = scala.collection.mutable.LinkedHashMap
      .empty[String, ObjectNode]

    // coordinate arrays: single chunk, uncompressed (metadata-sized);
    // string coordinates take zarr-python 3's native vlen-utf8 layout
    schema.dims.foreach { d =>
      val (meta, files) = coordArrayFiles(d, mapper)
      GridIO.mkdirs(s"$cleanRoot/${d.name}", conf)
      files.foreach { case (rel, bytes) =>
        GridIO.write(s"$cleanRoot/$rel", bytes, conf) }
      arrayMetaNodes += d.name -> meta
    }

    schema.vars.foreach { v =>
      val dir = s"$cleanRoot/${v.name}"
      GridIO.mkdirs(dir, conf)
      val dimSz = v.dims.map(d => schema.dim(d).size)
      val chunkSz = ZarrGridStore.chunkShape(schema, chunks, v)
      val innerSz = layout.innerShape(v, chunkSz)
      val meta = arrayJson(mapper, dimSz, chunkSz, v.dtype, comp,
        v.dims, v.attrs, innerSz)
      arrayMetaNodes += v.name -> meta
      GridIO.writeString(s"$dir/zarr.json",
        mapper.writeValueAsString(meta), conf)
    }
    // root group metadata with zarr-python-style inline consolidation:
    // later opens cost one read
    val top = mapper.createObjectNode()
    top.put("zarr_format", 3)
    top.put("node_type", "group")
    val attrs = top.putObject("attributes")
    schema.attrs.toSeq.sortBy(_._1).foreach { case (k, v2) =>
      attrs.put(k, v2) }
    val consolidated = top.putObject("consolidated_metadata")
    consolidated.put("kind", "inline")
    consolidated.put("must_understand", false)
    val metaNode = consolidated.putObject("metadata")
    arrayMetaNodes.foreach { case (n, m) => metaNode.set[JsonNode](n, m) }
    GridIO.writeString(s"$cleanRoot/zarr.json",
      mapper.writeValueAsString(top), conf)
  }

  /** One coordinate array: single chunk, uncompressed (vlen-utf8 for
    * string coords). Returns the array's metadata node for the
    * consolidated root and its files, (path relative to the root,
    * bytes).
    */
  private[grid] def coordArrayFiles(d: DimDef, mapper: ObjectMapper)
      : (ObjectNode, Seq[(String, Array[Byte])]) = {
    val n = d.size
    val (payload, dtype, extraAttrs) = d.coords match {
      case StringCoords(vs) =>
        (ZarrGridStore.encodeVlen(vs), GString, Map.empty[String, String])
      case _ =>
        val (data, dt, extra) = ZarrGridStore.coordPayload(d)
        (if (n > 0) ZarrGridStore.toLE(data, dt) else Array.emptyByteArray,
          dt, extra)
    }
    val meta = arrayJson(mapper, Seq(n), Seq(math.max(n, 1)), dtype,
      None, Seq(d.name), d.attrs ++ extraAttrs)
    (meta, Seq(s"${d.name}/zarr.json" ->
      GridIO.utf8(mapper.writeValueAsString(meta))) ++
      (if (n > 0) Seq(s"${d.name}/c/0" -> payload) else Nil))
  }

  /** One shard's bytes: per-inner-chunk compressed streams followed by
    * the little-endian uint64 (offset, nbytes) index + crc32c. Inverse
    * of [[ZarrGridStore.readShard]]'s layout.
    */
  private[grid] def encodeShard(leBytes: Array[Byte], outer: Seq[Int],
      inner: Seq[Int], w: Int, comp: Option[(String, Int)]): Array[Byte] = {
    val g = new InnerGrid(outer, inner)
    val run = g.rowLen * w
    val streams = new Array[Array[Byte]](g.nInner)
    var k = 0
    while (k < g.nInner) {
      val offs = g.rowOffsets(k)
      val block = new Array[Byte](g.innerN * w)
      var r = 0
      while (r < g.innerRows) {
        System.arraycopy(leBytes, offs(r) * w, block, r * run, run)
        r += 1
      }
      streams(k) = ZarrGridStore.compress(block, comp, w)
      k += 1
    }
    frameShard(streams)
  }

  /** Concatenate per-inner-chunk streams + the little-endian uint64
    * (offset, nbytes) index + crc32c — the shard container framing,
    * shared by the fixed-width and vlen encoders.
    */
  private def frameShard(streams: Array[Array[Byte]]): Array[Byte] = {
    val nInner = streams.length
    val body = streams.map(_.length).sum
    val out = java.nio.ByteBuffer.allocate(body + nInner * 16 + 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    streams.foreach(out.put)
    var off = 0L
    streams.foreach { s => out.putLong(off).putLong(s.length.toLong)
      off += s.length }
    val crc = new java.util.zip.CRC32C()
    crc.update(out.array(), body, nInner * 16)
    out.putInt(crc.getValue.toInt)
    out.array()
  }

  /** One SHARD of a vlen-utf8 string array: each inner chunk's strings
    * gather in C order, encode as a numcodecs VLenUTF8 frame,
    * compress, and the variable-size streams concatenate under the
    * same (offset, nbytes) index as numeric shards — which is exactly
    * why vlen arrays shard cleanly: readers never need a fixed stride,
    * only the index entry.
    */
  private[grid] def encodeShardVlen(values: Array[String], outer: Seq[Int],
      inner: Seq[Int], comp: Option[(String, Int)]): Array[Byte] = {
    val g = new InnerGrid(outer, inner)
    val streams = new Array[Array[Byte]](g.nInner)
    var k = 0
    while (k < g.nInner) {
      val offs = g.rowOffsets(k)
      val block = new Array[String](g.innerN)
      var r = 0
      while (r < g.innerRows) {
        System.arraycopy(values, offs(r), block, r * g.rowLen, g.rowLen)
        r += 1
      }
      streams(k) = ZarrGridStore.compress(
        ZarrGridStore.encodeVlen(block), comp, 1)
      k += 1
    }
    frameShard(streams)
  }

  private def arrayJson(mapper: ObjectMapper, shape: Seq[Int],
      chunkShape: Seq[Int], dtype: GridType, comp: Option[(String, Int)],
      dims: Seq[String], attrs: Map[String, String],
      shardInner: Option[Seq[Int]] = None): ObjectNode = {
    val node = mapper.createObjectNode()
    node.put("zarr_format", 3)
    node.put("node_type", "array")
    val sh = node.putArray("shape"); shape.foreach(sh.add)
    dtype match {
      case GDouble => node.put("data_type", "float64")
      case GFloat => node.put("data_type", "float32")
      case GInt => node.put("data_type", "int32")
      case GLong => node.put("data_type", "int64")
      // time kinds: the extension-object spelling zarr-python 3 emits
      // for numpy time dtypes (µs payload = the engine's unit)
      case GTimestamp | GDuration =>
        val dt = node.putObject("data_type")
        dt.put("name",
          if (dtype == GTimestamp) "numpy.datetime64"
          else "numpy.timedelta64")
        val cfg = dt.putObject("configuration")
        cfg.put("unit", "us")
        cfg.put("scale_factor", 1)
      case GString => // vlen-utf8 chunks, zarr-python 3 layout
        node.put("data_type", "string")
    }
    val cg = node.putObject("chunk_grid")
    cg.put("name", "regular")
    val cs = cg.putObject("configuration").putArray("chunk_shape")
    chunkShape.foreach(cs.add)
    val cke = node.putObject("chunk_key_encoding")
    cke.put("name", "default")
    cke.putObject("configuration").put("separator", "/")
    dtype match {
      case GDouble | GFloat => node.put("fill_value", "NaN")
      case GString => node.put("fill_value", "")
      // NaT: absent chunks of a time variable read all-NULL
      case GTimestamp | GDuration => node.put("fill_value", Long.MinValue)
      case _ => node.put("fill_value", 0)
    }
    def pipeline(into: com.fasterxml.jackson.databind.node.ArrayNode): Unit = {
      if (dtype == GString) into.addObject().put("name", "vlen-utf8")
      else {
        val bytesCodec = into.addObject()
        bytesCodec.put("name", "bytes")
        bytesCodec.putObject("configuration").put("endian", "little")
      }
      comp.foreach {
        case ("gzip", lvl) =>
          val c = into.addObject(); c.put("name", "gzip")
          c.putObject("configuration").put("level", lvl)
        case ("zstd", lvl) =>
          val c = into.addObject(); c.put("name", "zstd")
          val cfg = c.putObject("configuration")
          cfg.put("level", lvl); cfg.put("checksum", false)
        case (id, lvl) if id.startsWith("blosc") =>
          val (cname, mode) = ZarrGridStore.bloscConfig(id)
          val c = into.addObject(); c.put("name", "blosc")
          val cfg = c.putObject("configuration")
          cfg.put("cname", cname); cfg.put("clevel", lvl)
          cfg.put("shuffle", mode match {
            case Blosc.ShuffleBit => "bitshuffle"
            case Blosc.ShuffleNone => "noshuffle"
            case _ => "shuffle"
          })
          cfg.put("typesize",
            if (dtype == GString) 1 else dtype.byteWidth)
          cfg.put("blocksize", 0)
        case (other, _) =>
          throw new IllegalArgumentException(s"bad v3 compressor '$other'")
      }
    }
    val codecs = node.putArray("codecs")
    shardInner match {
      case None => pipeline(codecs)
      case Some(inner) =>
        val sc = codecs.addObject()
        sc.put("name", "sharding_indexed")
        val cfg = sc.putObject("configuration")
        val cs = cfg.putArray("chunk_shape"); inner.foreach(cs.add)
        pipeline(cfg.putArray("codecs"))
        val idx = cfg.putArray("index_codecs")
        val ib = idx.addObject(); ib.put("name", "bytes")
        ib.putObject("configuration").put("endian", "little")
        idx.addObject().put("name", "crc32c")
        cfg.put("index_location", "end")
    }
    val at = node.putObject("attributes")
    attrs.toSeq.sortBy(_._1).foreach { case (k, v) => at.put(k, v) }
    val dn = node.putArray("dimension_names")
    dims.foreach(dn.add)
    node
  }
}
