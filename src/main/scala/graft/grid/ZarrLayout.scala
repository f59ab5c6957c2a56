package graft.grid

import org.apache.hadoop.conf.Configuration

/** The Zarr format version a write targets: [[ZarrLayout.V2]] or
  * [[ZarrLayout.V3]] (optionally sharded). It owns the only decisions
  * that differ between the versions; every write operation
  * ([[ZarrGridStore.write]], `writeDistributed`, `writeFromRows`,
  * `appendFromRows`) runs one body for both and asks the layout for
  * these.
  */
sealed trait ZarrLayout extends Serializable {

  /** Compressor grammar of [[ZarrGridStore.parseCompressor]], narrowed
    * to the codecs the version defines.
    */
  def parseCompressor(compressor: String): Option[(String, Int)]

  /** Driver-side metadata of a fresh tree: group and per-array metadata
    * plus the coordinate arrays — everything except the data chunks.
    */
  def writeShell(schema: GridSchema, cleanRoot: String,
      chunks: Map[String, Int], comp: Option[(String, Int)],
      conf: Configuration): Unit

  /** Inner chunk shape of a sharded data variable, None when unsharded. */
  def innerShape(v: VarDef, chunkSz: Seq[Int]): Option[Seq[Int]]

  /** File name of a data chunk under its array dir, from its dotted
    * grid index (`0.1` vs `c/0/1`).
    */
  def chunkKey(ciDotted: String): String

  /** File name of a 0-d array's single chunk. */
  def scalarKey: String

  /** Chunk keys nest in directories, so a commit creates parents. */
  def nestedKeys: Boolean

  /** Per-array metadata file: an append's version stamp and the shape
    * it replaces.
    */
  def metaFile: String

  /** Reject an append onto a tree whose chunk keys this writer would
    * not reproduce.
    */
  def requireAppendKeys(existing: ZarrGridStore, growing: Seq[VarDef]): Unit

  /** Consolidated metadata after a fresh write's chunks landed. */
  def consolidateWritten(cleanRoot: String, conf: Configuration): Unit

  /** Every metadata file an append replaces, (path relative to the
    * root, new bytes), in commit order with the consolidated metadata
    * last: the coordinate array `grown`, each growing variable's
    * metadata at its new shape (`shapes`), and the consolidated
    * metadata built from these nodes in memory. `schema` is the
    * pre-append dataset. Nothing is written here: the append's staged
    * commit lands the files.
    */
  def appendedMetadata(cleanRoot: String, schema: GridSchema,
      grown: DimDef, shapes: Seq[(String, Seq[Int])],
      conf: Configuration): Seq[(String, Array[Byte])]
}

object ZarrLayout {

  /** Zarr v2: `.zarray` per array, `a.b` keys, `.zmetadata`. */
  case object V2 extends ZarrLayout {
    def parseCompressor(compressor: String): Option[(String, Int)] =
      ZarrGridStore.parseCompressor(compressor)
    def writeShell(schema: GridSchema, cleanRoot: String,
        chunks: Map[String, Int], comp: Option[(String, Int)],
        conf: Configuration): Unit =
      ZarrGridStore.writeShell(schema, cleanRoot, chunks, comp, conf)
    def innerShape(v: VarDef, chunkSz: Seq[Int]): Option[Seq[Int]] = None
    def chunkKey(ciDotted: String): String = ciDotted
    val scalarKey = "0"
    val nestedKeys = false
    val metaFile = ".zarray"
    def requireAppendKeys(existing: ZarrGridStore,
        growing: Seq[VarDef]): Unit =
      existing.arrays.values.foreach { a =>
        require(a.keyPrefix.isEmpty && a.dimSep == ".",
          s"appendFromRows supports this writer's layouts only " +
            s"(${a.name} uses keyPrefix='${a.keyPrefix}' sep='${a.dimSep}')")
      }
    def consolidateWritten(cleanRoot: String, conf: Configuration): Unit =
      ZarrGridStore.consolidate(cleanRoot, conf)
    def appendedMetadata(cleanRoot: String, schema: GridSchema,
        grown: DimDef, shapes: Seq[(String, Seq[Int])],
        conf: Configuration): Seq[(String, Array[Byte])] =
      ZarrGridStore.appendMetadata(cleanRoot, grown, shapes, conf)
  }

  /** Zarr v3: `zarr.json` per array, default `c/a/b` keys, the
    * consolidated metadata inline in the root `zarr.json`.
    * `shardInner` non-empty turns on `sharding_indexed` for the data
    * variables: the write's `chunks` grid becomes the SHARD
    * (stored-file) grid and `shardInner` the inner chunk sizes within
    * each shard (dims omitted there default to the full shard extent).
    * An append keeps each array's own declared sharding.
    */
  final case class V3(shardInner: Map[String, Int] = Map.empty)
      extends ZarrLayout {
    def parseCompressor(compressor: String): Option[(String, Int)] =
      ZarrV3.parseV3Compressor(compressor)
    def writeShell(schema: GridSchema, cleanRoot: String,
        chunks: Map[String, Int], comp: Option[(String, Int)],
        conf: Configuration): Unit =
      ZarrV3.writeMetadataShell(schema, cleanRoot, chunks, comp, this, conf)
    def innerShape(v: VarDef, chunkSz: Seq[Int]): Option[Seq[Int]] =
      if (shardInner.isEmpty || v.dims.isEmpty) None // scalars: no shards
      else Some(v.dims.zip(chunkSz).map { case (d, outer) =>
        val in = shardInner.getOrElse(d, outer)
        require(in > 0 && outer % in == 0,
          s"${v.name}: inner chunk $in must evenly divide shard $outer " +
            s"on dim $d")
        in
      })
    def chunkKey(ciDotted: String): String =
      "c/" + ciDotted.replace('.', '/')
    val scalarKey = "c"
    val nestedKeys = true
    val metaFile = "zarr.json"
    def requireAppendKeys(existing: ZarrGridStore,
        growing: Seq[VarDef]): Unit =
      growing.flatMap(v => existing.arrays.get(v.name)).foreach { a =>
        require(a.keyPrefix == "c" && a.dimSep == "/",
          s"${a.name}: append supports the default v3 chunk-key " +
            s"encoding only (keyPrefix='${a.keyPrefix}' sep='${a.dimSep}')")
      }
    def consolidateWritten(cleanRoot: String, conf: Configuration): Unit =
      () // the shell already wrote the inline consolidated root
    def appendedMetadata(cleanRoot: String, schema: GridSchema,
        grown: DimDef, shapes: Seq[(String, Seq[Int])],
        conf: Configuration): Seq[(String, Array[Byte])] =
      // the writer's metadata order (dims, then vars) keeps the rebuilt
      // root byte-identical to a one-shot write of the grown dataset
      ZarrV3.appendMetadata(cleanRoot,
        schema.dims.map(_.name) ++ schema.vars.map(_.name), grown, shapes,
        conf)
  }

  /** The layout of the existing tree at `cleanRoot`. */
  private[grid] def of(cleanRoot: String, conf: Configuration): ZarrLayout =
    if (GridIO.exists(s"$cleanRoot/zarr.json", conf)) V3() else V2
}
