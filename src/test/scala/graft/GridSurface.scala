package graft

import graft.grid.{GridStore, ZarrGridStore}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The two read surfaces of a Zarr tree: a registered
  * [[XarrayContext]] DataFrame and `spark.read.format("zarr")`. Specs
  * run a case on both, so every rewrite and fast path is pinned on
  * each.
  */
sealed abstract class GridSurface(label: String) {
  override def toString: String = label
  def read(spark: SparkSession, store: ZarrGridStore,
      dims: Seq[String]): DataFrame
}

object GridSurface {
  case object Context extends GridSurface("XarrayContext") {
    def read(spark: SparkSession, store: ZarrGridStore,
        dims: Seq[String]): DataFrame =
      new XarrayContext(spark).dataFrame(s"surface${System.nanoTime()}",
        store, store.chunkMap, dims)
  }

  case object Format extends GridSurface("format(\"zarr\")") {
    def read(spark: SparkSession, store: ZarrGridStore,
        dims: Seq[String]): DataFrame =
      spark.read.format("zarr").option("dims", dims.mkString(","))
        .load(store.root)
  }

  val both: Seq[GridSurface] = Seq(Context, Format)

  /** `src` written as a fresh Zarr tree chunked by `chunks`, under
    * `dir` (the calling suite's [[TempDirs.tempDir]]). With
    * `stats = false` the value-stats sidecar is dropped, as on a tree
    * from another writer: data-variable predicates then decide nothing
    * from metadata.
    */
  def tree(dir: java.nio.file.Path, src: GridStore, chunks: Map[String, Int],
      stats: Boolean = true): ZarrGridStore = {
    val root = dir.resolve("z").toString
    val store = ZarrGridStore.write(src, root, chunks)
    if (stats) store
    else {
      java.nio.file.Files.delete(java.nio.file.Paths.get(root,
        ".graft-stats.json"))
      ZarrGridStore.open(root)
    }
  }
}
