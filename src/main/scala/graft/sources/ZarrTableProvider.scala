package graft.sources

import graft.grid._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.{DataSourceRegister, InsertableRelation}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** Standard-Spark entry point for Zarr trees:
  *
  * {{{
  * spark.read.format("zarr").load("/data/era5.zarr")          // v2 or v3
  * spark.read.format("zarr").option("dims", "time,lat,lon")
  *   .load(root)                                              // pick a dim group
  *
  * df.write.format("zarr")                                    // v2 tree
  *   .option("dims", "time,lat")          // which columns are dimensions
  *   .option("chunks", "time=24,lat=90")  // chunk grid (default: 1 chunk)
  *   .option("compressor", "zstd:3")      // ZarrGridStore grammar
  *   .mode("overwrite").save(root)
  *
  * slab.write.format("zarr").option("dims", "time,lat")
  *   .option("appendDim", "time")         // grow an existing tree
  *   .mode("append").save(root)
  * }}}
  *
  * No [[graft.XarrayContext]] needed — the provider opens the tree
  * (version auto-detected, consolidated metadata preferred), partitions
  * by the store's own chunk grid, and serves the same pruning /
  * projection / metadata-aggregate scan as the registered path
  * ([[GridTable]]); the metadata COUNT/SUM/AVG/DISTINCT rewrites fire
  * on both alike ([[GridRelation]] resolves either). By default the
  * table exposes the dimension group of the first (name-sorted) data
  * variable; `dims` selects another group on multi-group datasets. The reference's analog is its SQL-context
  * dataset registration (xarray_sql/sql.py:105-125) — this surface cuts
  * the context out entirely.
  *
  * Writes ride the DISTRIBUTED reverse pivot
  * ([[graft.grid.ZarrGridStore.writeFromRows]] — executors scatter and
  * encode the chunk files; byte-identical to the API path), so the
  * output is a plain tree any zarr reader opens: v2 by default,
  * `.option("format", "v3")` for v3 and `.option("shards", "time=6")`
  * for a sharded v3 tree (the [[graft.grid.ZarrLayout]] value the API
  * path takes). `chunks`/`shards` keys must name `dims` columns and
  * sizes must be positive integers. `mode("overwrite")`
  * replaces the tree; `mode("append")` creates it when absent and
  * otherwise grows it along `appendDim`
  * ([[graft.grid.ZarrGridStore.appendFromRows]]). Spark's DSv2 path
  * rejects ErrorIfExists/Ignore for path-based TableProviders, so
  * those modes are unavailable by construction. A new tree's dimension
  * coordinates are the sorted distinct values of the `dims` columns
  * (one distinct over every dim); an append takes the store's and
  * learns the slab's labels inside its scatter. Cells absent from the
  * DataFrame fill with NaN/0 and duplicate cells fail loudly.
  */
class ZarrTableProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "zarr"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (store, _, groupDims) = ZarrTableProvider.resolve(options)
    store.schema.tableSchema(groupDims,
      store.schema.vars.filter(_.dims == groupDims))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new ZarrTable(new CaseInsensitiveStringMap(properties), schema)

  /** True so writes hand the DataFrame's schema straight to
    * [[getTable]] (no inference against a possibly-not-yet-existing
    * tree). Reads without a user schema still arrive via
    * [[inferSchema]], so the schema parameter is correct either way.
    */
  override def supportsExternalMetadata(): Boolean = true
}

/** The provider's table: reads resolve the store lazily (so a write
  * target need not exist yet); writes bridge to the distributed
  * reverse-pivot writers through Spark's V1Write fallback — the insert
  * itself is fully distributed, the bridge only hands over the
  * DataFrame.
  */
class ZarrTable(options: CaseInsensitiveStringMap,
    providedSchema: StructType)
  extends Table with SupportsRead with SupportsWrite {

  /** The read side: this tree's dim group as a [[GridTable]], resolved
    * once per table — the scan and [[GridRelation]] share it.
    */
  private[sources] lazy val grid: GridTable = {
    val (store, chunks, groupDims) = ZarrTableProvider.resolve(options)
    new GridTable(name(), store, chunks, groupDims)
  }

  override def name(): String = s"zarr:${options.get("path")}"

  // reads receive the inferred schema, writes the DataFrame's — both
  // arrive through getTable's schema parameter
  override def schema(): StructType = providedSchema

  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE).asJava

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    grid.newScanBuilder(opts)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, o: Boolean): Unit =
              ZarrWrite.run(data, options, overwrite || o)
          }
      }
    }
}

/** The write side of `df.write.format("zarr")`: schema inference from
  * the DataFrame for a new tree (dims option -> coordinate discovery via
  * one DISTINCT over every dim) and dispatch to the distributed writers.
  */
private[sources] object ZarrWrite {

  /** A `d=n,...` size option (`chunks`, `shards`): every key must be one
    * of `dims` and every size a positive integer.
    */
  private def dimSizes(options: CaseInsensitiveStringMap, name: String,
      dims: Seq[String]): Map[String, Int] =
    Option(options.get(name)).map(_.split(",").map(_.trim)
      .filter(_.nonEmpty).map { kv =>
        kv.split("=").map(_.trim) match {
          case Array(k, _) if !dims.contains(k) =>
            throw new IllegalArgumentException(
              s"zarr write: $name entry '$kv' names no dim " +
                s"(dims: ${dims.mkString(",")})")
          case Array(k, n) if n.toIntOption.exists(_ > 0) => k -> n.toInt
          case _ => throw new IllegalArgumentException(
            s"zarr write: bad $name entry '$kv' (use d=n,... with n a " +
              "positive integer)")
        }
      }.toMap).getOrElse(Map.empty)

  def run(df: DataFrame, options: CaseInsensitiveStringMap,
      overwrite: Boolean): Unit = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("zarr write: no path"))
      .stripSuffix("/")
    // `group` writes into a subgroup of a hierarchical tree — same
    // resolution (and traversal validation) as the read surface
    val root = ZarrTableProvider.groupRoot(path, options)
    val dims = Option(options.get("dims")).getOrElse(
      throw new IllegalArgumentException(
        "zarr write: .option(\"dims\", \"<d1,d2,...>\") is required " +
          "(which columns are dimensions)"))
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(dims.nonEmpty, "zarr write: empty dims")
    dims.foreach(d => require(df.columns.contains(d),
      s"zarr write: dim column '$d' not in ${df.columns.mkString(", ")}"))
    val chunks = dimSizes(options, "chunks", dims)
    val compressor = Option(options.get("compressor")).getOrElse("zstd:3")
    // format v2 (default) | v3; "shards" turns on sharding_indexed for
    // v3: the chunks option becomes the SHARD (stored-file) grid and
    // shards the inner chunk sizes — one object per shard at 100 TB,
    // inner-chunk-granular ranged reads on the way back
    val format = Option(options.get("format")).getOrElse("v2")
    require(format == "v2" || format == "v3",
      s"zarr write: bad format '$format' (v2 | v3)")
    val shardInner = dimSizes(options, "shards", dims)
    require(shardInner.isEmpty || format == "v3",
      "zarr write: shards requires .option(\"format\", \"v3\")")
    val conf = GridIO.driverConf()
    // a root an append's commit has moved aside is still a tree
    val exists = GridIO.liveOrBackup(Seq(s"$root/.zmetadata",
      s"$root/.zgroup", s"$root/zarr.json"), conf).isDefined

    // 0-d (scalar) variables: listed columns carry one constant value
    // (rioxarray's `spatial_ref` pattern) and write as shape-[] arrays
    val scalarVars = Option(options.get("scalarVars")).map(_.split(",")
      .map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)
    scalarVars.foreach { c =>
      require(df.columns.contains(c),
        s"zarr write: scalarVars column '$c' not in " +
          df.columns.mkString(", "))
      require(!dims.contains(c),
        s"zarr write: '$c' cannot be both a dim and a scalar variable")
    }

    def create(): Unit = {
      ZarrGridStore.writeFromRows(df, inferGridSchema(df, dims, scalarVars),
        chunks, root, compressor,
        if (format == "v3") ZarrLayout.V3(shardInner) else ZarrLayout.V2)
      ()
    }
    if (overwrite) {
      GridIO.delete(root, conf)
      create()
    } else if (!exists) {
      create()
    } else {
      val along = Option(options.get("appendDim")).getOrElse(
        throw new IllegalArgumentException(
          "zarr write: appending to an existing tree needs " +
            ".option(\"appendDim\", <dim>); use mode(\"overwrite\") to " +
            "replace it"))
      // scalars don't span the append dim, so an append would silently
      // DROP them (neither written nor checked against the stored
      // value) — refuse instead: write scalars at create/overwrite time
      require(scalarVars.isEmpty,
        "zarr write: scalarVars cannot be appended (a 0-d variable " +
          "does not span the append dim); write scalars with " +
          "mode(\"overwrite\") or at tree creation")
      // no inference: the store declares the dims, the scatter learns
      // the slab's labels, so the slab is evaluated once
      ZarrGridStore.appendFromRows(df, root, along)
    }
    // a group write maintains the HIERARCHY: every ancestor between
    // the path root and the subgroup gets minimal group metadata (of
    // the leaf's format) if missing, so the tree stays openable and
    // its root error can enumerate subgroups
    if (root != path) {
      val leafIsV3 = GridIO.exists(s"$root/zarr.json", conf)
      val segs = root.stripPrefix(path + "/").split("/").toSeq
      segs.inits.toSeq.reverse.map(anc =>
        (path +: anc).mkString("/")).init.foreach { p =>
        if (leafIsV3) {
          if (!GridIO.exists(s"$p/zarr.json", conf))
            GridIO.writeString(s"$p/zarr.json",
              """{"zarr_format":3,"node_type":"group","attributes":{}}""",
              conf)
        } else if (!GridIO.exists(s"$p/.zgroup", conf))
          GridIO.writeString(s"$p/.zgroup", """{"zarr_format":2}""", conf)
      }
    }
    ()
  }

  /** GridSchema of the pivoted DataFrame: coordinates are the sorted
    * distinct values of each dim column (ascending, as
    * `distinct().orderBy()` gives them), variables are every remaining
    * column. One codegen'd distinct over (dim ordinal, label) finds
    * them, with the scatter's label normalization ([[Labels]]: -0.0
    * folds into 0.0 and every NaN into one, sorted last). A NULL dim
    * value fails.
    */
  private[sources] def inferGridSchema(df: DataFrame,
      dims: Seq[String], scalarVars: Seq[String] = Seq.empty): GridSchema = {
    import org.apache.spark.sql.functions._
    val fieldType = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val kinds = dims.map(d => fieldType(d) match {
      case DoubleType | FloatType | IntegerType | LongType | TimestampType =>
        GridType.of(fieldType(d)).get
      case other => throw new IllegalArgumentException(
        s"zarr write: dim '$d' has unsupported type $other " +
          "(double/float/int/long/timestamp)")
    })
    val pairs = dims.zip(kinds).zipWithIndex.map { case ((d, k), i) =>
      struct(lit(i).as("d"), Labels.column(df, d, k).as("l"))
    }
    val found = df.select(inline(array(pairs: _*))).distinct().collect()
      .groupBy(_.getInt(0))
    val dimDefs = dims.zip(kinds).zipWithIndex.map { case ((d, k), i) =>
      val rows = found.getOrElse(i, Array.empty)
      require(!rows.exists(_.isNullAt(1)),
        s"zarr write: dim '$d' holds NULL values (a coordinate cannot be " +
          "NULL)")
      DimDef(d, Labels.coords(k, Labels.sorted(k, rows.map(_.getLong(1)))))
    }
    val vars = df.columns.toSeq.filterNot(dims.contains).map { c =>
      val dt = GridType.of(fieldType(c)).getOrElse(
        throw new IllegalArgumentException(
          s"zarr write: variable '$c' has unsupported type ${fieldType(c)}"))
      VarDef(c, if (scalarVars.contains(c)) Seq.empty else dims, dt)
    }
    require(vars.exists(_.dims.nonEmpty),
      "zarr write: no variable columns besides dims and scalars")
    GridSchema(dimDefs, vars)
  }
}

object ZarrTableProvider {
  /** Opened stores per root; fingerprint: [[versionOf]]. */
  private val stores = new graft.Memo[String, (Long, Long), ZarrGridStore]

  /** The store at `root`, opened once per tree version. DSv2 calls
    * inferSchema and getTable with the same options in one load(), and
    * the staged grid queries re-open their trees on every build: both
    * share this open instead of re-reading the tree's metadata.
    */
  private[graft] def open(root: String): ZarrGridStore =
    stores.get(root, versionOf(root))(ZarrGridStore.open(root))

  /** Resolve the effective tree root: `group` selects a subgroup of a
    * hierarchical tree (xarray's open_zarr/to_zarr `group=` spelling) —
    * zarr nests groups as plain subdirectories with their own node
    * metadata, so the subgroup IS a root. One home for read AND write;
    * `.`/`..` segments are rejected (a traversal would escape the tree
    * — and `mode("overwrite")` recursively DELETES the resolved root).
    */
  private[sources] def groupRoot(path: String,
      options: CaseInsensitiveStringMap): String = {
    val base = path.stripSuffix("/")
    Option(options.get("group")).map { g =>
      val segs = g.split("/").map(_.trim).filter(_.nonEmpty).toSeq
      segs.foreach(s => require(s != "." && s != "..",
        s"zarr: bad group segment '$s' ('.'/'..' would escape the tree)"))
      if (segs.isEmpty) base else (base +: segs).mkString("/")
    }.getOrElse(base)
  }

  /** Content version of a tree: length + mtime of whichever root
    * metadata file the open path would read first. Any append or
    * rewrite rewrites that file.
    */
  private def versionOf(root: String): (Long, Long) = {
    val conf = graft.grid.GridIO.driverConf()
    graft.grid.GridIO.statusOf(s"$root/.zmetadata", conf)
      .orElse(graft.grid.GridIO.statusOf(s"$root/zarr.json", conf))
      .orElse(graft.grid.GridIO.statusOf(s"$root/.zgroup", conf))
      .getOrElse((-1L, -1L)) // open() will raise its own clear error
  }

  private[sources] def resolve(options: CaseInsensitiveStringMap)
      : (GridStore, Map[String, Int], Seq[String]) = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "zarr: no path given (use spark.read.format(\"zarr\").load(<root>))"))
    val root = groupRoot(path, options)
    val store = open(root)
    val groupDims = Option(options.get("dims")) match {
      case Some(ds) =>
        val dims = ds.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        dims.foreach(d => require(
          store.schema.dims.exists(_.name == d),
          s"zarr: unknown dim '$d' (tree has " +
            s"${store.schema.dimNames.mkString(", ")})"))
        require(store.schema.vars.exists(_.dims == dims),
          s"zarr: no variable has exactly dims (${dims.mkString(", ")})")
        dims
      case None =>
        store.schema.vars.headOption.map(_.dims).getOrElse(
          throw new IllegalArgumentException(
            s"zarr: no data variables under $root"))
    }
    (store, store.chunkMap, groupDims)
  }
}
