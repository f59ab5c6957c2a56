package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The lifecycle both stored, bucket-partitioned indexes share: the
  * bloom point-lookup index ([[FileBloomIndex]], buckets `fbib=<b>`)
  * and the IVF vector index ([[graft.operators.SimilarityOps]],
  * buckets `bucket=<cid>`). Each index keeps only what differs — its
  * sidecar format and how it locates the buckets holding a key; this
  * object owns the rest:
  *
  *  - '''Tombstones.''' A delete appends keys to `<index>/_tombstones`
  *    (one metadata-sized file per delete batch). Reads mask them with
  *    a broadcast anti-join; the presence check is one `fs.exists`.
  *  - '''Bucket rewrite.''' A purge rewrites the buckets holding dead
  *    rows without them and reports the buckets that survive;
  *    [[compactBuckets]] rewrites buckets holding too many part files.
  *  - '''Swap and heal.''' A live directory is replaced only through
  *    its [[Slot]]: the complete replacement becomes `<live>.next` by
  *    ONE rename ([[stage]]), so a `.next` that exists is always
  *    complete; [[swap]] moves live to `.old`, `.next` to live, then
  *    drops `.old`. Readers run [[heal]]: live present is served as is;
  *    live missing adopts `.next`, or restores `.old` when no `.next`
  *    exists. A rename that lands INSIDE a live directory a concurrent
  *    step put in place first (Hadoop renames a directory into an
  *    existing one and returns true) is undone, on both sides.
  *  - '''Sidecar reads and fingerprints''' ([[readSidecar]],
  *    [[fingerprint]]).
  *
  * Single writer per index; any number of readers heal concurrently.
  */
object IndexLifecycle {

  /** The tombstone sidecar's directory name. */
  private val Tombstones = "_tombstones"

  // ---- tombstones ----

  /** Append `keys` (one column, already distinct) as one tombstone file. */
  def writeTombstones(keys: DataFrame, dir: String): Unit =
    keys.coalesce(1).write.mode("append").parquet(s"$dir/$Tombstones")

  /** The pending tombstones as a distinct `keyCol` set; None when the
    * index has none (one existence check).
    */
  def tombstones(spark: SparkSession, dir: String,
      keyCol: String): Option[DataFrame] = {
    val ts = new Path(dir, Tombstones)
    if (!fsFor(spark, dir).exists(ts)) None
    else Some(readSidecar(spark, ts.toString).select(keyCol).distinct())
  }

  /** `df` without the rows whose `key` is in the one-column set `ts`. */
  def mask(df: DataFrame, key: Column, ts: DataFrame): DataFrame =
    df.join(broadcast(ts.toDF("_ts_k")), key === col("_ts_k"), "left_anti")

  /** `df` masked against the index's pending tombstones, if any. */
  def masked(spark: SparkSession, dir: String, keyCol: String,
      df: DataFrame, key: Column): DataFrame =
    tombstones(spark, dir, keyCol).fold(df)(mask(df, key, _))

  /** Drop the tombstones — the LAST step of a purge, so every earlier
    * crash state still masks.
    */
  def clearTombstones(fs: FileSystem, dir: String): Unit =
    fs.delete(new Path(dir, Tombstones), true)

  // ---- bucket rewrites ----

  /** Rewrite `buckets` of the `partCol`-partitioned data under
    * `dataDir` without the rows whose `key` is in `ts`; returns the
    * buckets that still hold rows. A bucket the purge empties keeps its
    * stale dir (dynamic overwrite replaces only partitions it writes):
    * the caller drops it when its own sidecar no longer names it.
    */
  def rewriteBuckets(spark: SparkSession, dataDir: String, partCol: String,
      buckets: Seq[Int], key: Column, ts: DataFrame): Set[Int] = {
    val kept = mask(readBuckets(spark, dataDir, partCol, buckets), key, ts)
      .localCheckpoint() // materialize BEFORE overwriting the source
    val surviving = kept.select(col(partCol).cast("int")).distinct()
      .collect().map(_.getInt(0)).toSet
    if (surviving.nonEmpty)
      overwriteBuckets(kept, surviving.size, dataDir, partCol)
    surviving
  }

  /** Rewrite every bucket holding more than `maxFiles` part files as
    * one file. Content is preserved row-for-row; other buckets keep
    * their files byte-identical.
    */
  def compactBuckets(spark: SparkSession, fs: FileSystem, dataDir: String,
      partCol: String, maxFiles: Int): Unit = {
    val fat = fs.listStatus(new Path(dataDir)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$partCol="))
      .filter(s => parquetFiles(fs, s.getPath) > maxFiles)
      .map(_.getPath.getName.stripPrefix(s"$partCol=").toInt)
    // localCheckpoint: Spark refuses to overwrite a path it is still
    // reading; the spill footprint is exactly the data being rewritten
    if (fat.nonEmpty)
      overwriteBuckets(readBuckets(spark, dataDir, partCol, fat)
        .localCheckpoint(), fat.length, dataDir, partCol)
  }

  /** The number of parquet part files directly under `dir`. */
  def parquetFiles(fs: FileSystem, dir: Path): Int =
    fs.listStatus(dir).count(_.getPath.getName.endsWith(".parquet"))

  /** A read of just `buckets` (their dirs as paths: only they are listed). */
  private def readBuckets(spark: SparkSession, dataDir: String,
      partCol: String, buckets: Seq[Int]): DataFrame =
    spark.read.option("basePath", dataDir)
      .parquet(buckets.map(b => s"$dataDir/$partCol=$b"): _*)

  /** Replace exactly the buckets `df` holds (~one file each). */
  private def overwriteBuckets(df: DataFrame, n: Int, dataDir: String,
      partCol: String): Unit =
    df.repartition(n, col(partCol))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol).parquet(dataDir)

  // ---- swap and heal ----

  /** A live directory and the two names its replacement passes
    * through: the complete pending copy and the moved-aside old one.
    */
  final case class Slot(live: Path, next: Path, old: Path)

  object Slot {
    /** `<live>.next` / `<live>.old` — every slot but the IVF retrain's. */
    def apply(live: Path): Slot =
      Slot(live, new Path(s"$live.next"), new Path(s"$live.old"))
  }

  /** Make the complete copy at `staged` the slot's pending replacement
    * with ONE rename, replacing any stale `.next` an older crash left.
    */
  def stage(fs: FileSystem, staged: Path, s: Slot): Unit = {
    fs.delete(s.next, true)
    moveStaged(fs, staged, s.next)
  }

  /** Test seam: runs in [[swap]] between moving live aside and
    * adopting `.next` — the window a concurrent reader's heal can land
    * in.
    */
  @volatile private[graft] var betweenRenames: Path => Unit = _ => ()

  /** live -> `.old`, `.next` -> live, drop `.old`. A concurrent heal
    * may adopt `.next` first (the failed rename then finds live in
    * place); if a heal restored `.old` to live before the adopt, the
    * adopt lands inside it — undone, and the swap retried.
    */
  def swap(fs: FileSystem, s: Slot): Unit = {
    var attempts = 0
    var adopted = false
    while (!adopted) {
      attempts += 1
      require(attempts <= 16,
        s"swap of ${s.live} lost the heal race $attempts times")
      fs.delete(s.old, true) // stale residue
      if (fs.exists(s.live) && !tryRename(fs, s.live, s.old))
        require(!fs.exists(s.live), s"rename failed: ${s.live} -> ${s.old}")
      betweenRenames(s.live)
      adopted = adopt(fs, s.next, s.live)
    }
    fs.delete(s.old, true)
  }

  /** Resolve an interrupted swap of `s`; returns whether live exists.
    * Clean (live present), one existence check.
    */
  def heal(fs: FileSystem, s: Slot): Boolean =
    fs.exists(s.live) || {
      resolve(fs, s, fs.exists(s.next), fs.exists(s.old))
      fs.exists(s.live)
    }

  /** Heal every slot directly under `root` from ONE listing (the bloom
    * shard root); returns the children after healing.
    */
  def healChildren(fs: FileSystem, root: Path): Array[FileStatus] = {
    val listed = fs.listStatus(root)
    val names = listed.map(_.getPath.getName).toSet
    val broken = names.collect {
      case n if n.endsWith(".next") => n.stripSuffix(".next")
      case n if n.endsWith(".old") => n.stripSuffix(".old")
    }.filterNot(names)
    if (broken.isEmpty) listed
    else {
      broken.foreach(n => resolve(fs, Slot(new Path(root, n)),
        names(s"$n.next"), names(s"$n.old")))
      fs.listStatus(root)
    }
  }

  /** Live is missing: adopt `.next` (complete by construction) and drop
    * `.old`, or restore `.old` when there is no `.next`.
    */
  private def resolve(fs: FileSystem, s: Slot, hasNext: Boolean,
      hasOld: Boolean): Unit =
    if (hasNext) { if (adopt(fs, s.next, s.live)) fs.delete(s.old, true) }
    else if (hasOld) adopt(fs, s.old, s.live)

  /** Rename `from` to `to` where a concurrent step may race us. A
    * failed rename whose destination exists lost the race to an
    * identical adoption: success. A rename that landed INSIDE a `to`
    * placed first is moved back out: false.
    */
  private def adopt(fs: FileSystem, from: Path, to: Path): Boolean =
    if (tryRename(fs, from, to)) {
      val nested = new Path(to, from.getName)
      if (fs.exists(nested)) { moveStaged(fs, nested, from); false }
      else true
    } else {
      require(fs.exists(to), s"rename failed and destination missing: " +
        s"$from -> $to")
      true
    }

  /** Rename `from` to `to` unless a concurrent step (a heal applying
    * the same step) already moved it.
    */
  def moveIfPresent(fs: FileSystem, from: Path, to: Path): Unit =
    if (fs.exists(from) && !tryRename(fs, from, to))
      require(!fs.exists(from), s"rename failed: $from -> $to")

  /** `fs.rename`, false when `from` is gone: local filesystems throw
    * rather than return false when a racer moved the source first.
    */
  private def tryRename(fs: FileSystem, from: Path, to: Path): Boolean =
    try fs.rename(from, to)
    catch { case _: java.io.FileNotFoundException => false }

  /** An uncontended rename within staging space. A silently failed
    * rename would pass a half-applied replacement off as done, so it
    * is loud.
    */
  def moveStaged(fs: FileSystem, from: Path, to: Path): Unit =
    require(fs.rename(from, to), s"rename failed: $from -> $to")

  // ---- sidecar reads ----

  /** Read the parquet sidecar directory `dir` through its part files,
    * listed once: Spark ignores (with a WARN) a root path named `_…`,
    * as every sidecar is, and stats a lone glob path literally, logging
    * a stack trace. A missing `dir` throws `FileNotFoundException`.
    */
  def readSidecar(spark: SparkSession, dir: String): DataFrame = {
    val path = new Path(dir)
    val parts = fsFor(spark, dir).listStatus(path).toSeq.map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).sorted
    spark.read.parquet(parts.map(n => new Path(path, n).toString): _*)
  }

  /** A directory's fingerprint: (name, mtime, length) of every entry
    * from one listStatus — metadata only. The guard of every per-JVM
    * sidecar memo (the bloom filter memo, the IVF codebook memo).
    */
  def fingerprint(fs: FileSystem, dir: Path): Seq[(String, Long, Long)] =
    fs.listStatus(dir).toSeq
      .map(s => (s.getPath.getName, s.getModificationTime, s.getLen))
      .sortBy(_._1)

  /** The filesystem holding `path`. */
  def fsFor(spark: SparkSession, path: String): FileSystem =
    FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)
}
