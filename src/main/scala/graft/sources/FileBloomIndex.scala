package graft.sources

import graft.functions.BloomAgg
import graft.sources.IndexLifecycle.fsFor
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** File-level bloom index: per-bucket bloom filters over a
  * high-cardinality key column, for point lookups on a key the
  * physical LAYOUT is not organized by.
  *
  * Zone maps (ZoneMapPruning) and z-order boxes (ZOrder) skip files
  * via min/max ranges — useless for equality on a key whose values
  * span every file's range (uniformly distributed ids, content
  * hashes, URLs: every file's [min,max] contains every probe). The
  * bloom sidecar answers "can this file contain key k?" by hash
  * membership instead: at 100 TB a doc-id lookup reads the
  * metadata-sized sidecar plus the one or two data files whose bloom
  * matches, not the corpus. This is the Delta/Iceberg bloom-index
  * shape, with the sidecar as an explicit parquet table.
  *
  * Layout: `path/data/fbib=<b>/` parquet buckets (placement is the
  * CALLER's expression — typically ingest batch or content hash,
  * deliberately uncorrelated with the key) + a SHARDED sidecar
  * `path/_blooms.d/<lo>-<hi>/` — one parquet dir per contiguous
  * bucket range, rows (bucket, bloom, expected_items, fpp), built
  * with the mergeable [[BloomAgg]] (map-side partials, fixed-size
  * state).
  *
  * Why sharded (the stats-sidecar v3 lesson, round 13): a
  * single-file sidecar makes every APPEND an O(all buckets) rewrite
  * — at 10⁵ buckets × KB-scale filters that is GBs of sidecar IO
  * for an O(batch) ingest. Range shards bound the append to the
  * shards its batch touches; untouched shards are never read or
  * rewritten (byte-identical across appends, pinned in
  * FileBloomIndexSpec). `_blooms.d` is the only sidecar format: an
  * index root that holds a single-directory `path/_blooms` sidecar
  * (the format of earlier builds) is rejected by every verb, naming
  * [[write]], rather than served or extended.
  *
  * Read paths deserialize each shard once per JVM ([[shardFilters]]),
  * so repeated lookups read zero sidecar data bytes.
  *
  * The bloom law (no false negatives) makes pruning EXACT on the
  * miss side: a bucket the filter rejects provably lacks the key, so
  * lookup == full scan always (pinned in FileBloomIndexSpec along
  * with the pruning itself via `inputFiles`).
  *
  * Crash discipline (single-writer): [[write]] builds the sidecar
  * from the data files READ BACK, so the blooms cover exactly what
  * the files contain — even a non-deterministic layout expression
  * cannot divorce them. [[append]] updates the sidecar BEFORE
  * appending data: every crash window leaves either the old
  * consistent shards or shards that over-approximate (extra
  * candidates are false POSITIVES — harmless; the batch rows simply
  * are not in the index yet and the caller retries; partial
  * multi-shard application is safe for the same reason, since each
  * shard's merge is independently a superset of its current state).
  * Each shard swap, and a rebuild's swap of the whole `_blooms.d`
  * root, goes through the shared [[IndexLifecycle.swap]], which every
  * read heals ([[IndexLifecycle.heal]]) — no window where the index is
  * unreadable. Tombstones, the purge's bucket rewrite and the
  * fat-bucket compaction are [[IndexLifecycle]]'s too.
  */
object FileBloomIndex {

  /** Buckets per sidecar shard. Appends derive the live value from
    * the existing shard names, so it only matters at [[write]] time:
    * pick it so (typical batch's touched buckets) ≪ (total buckets /
    * bucketsPerShard) × bucketsPerShard — i.e. a daily batch touches
    * a few shards of many.
    */
  val DefaultBucketsPerShard = 8

  /** Write `df` bucketed by `layout` with a per-bucket bloom over
    * `keyCol` (rendered as string). `expectedPerBucket` sizes every
    * filter identically — a requirement of partial-merge
    * compatibility, not a nicety. The blooms are aggregated from the
    * written files read back: bloom/data consistency by construction.
    */
  def write(df: DataFrame, keyCol: String, layout: org.apache.spark.sql.Column,
      path: String, expectedPerBucket: Long, fpp: Double = 0.01,
      bucketsPerShard: Int = DefaultBucketsPerShard): Unit = {
    require(bucketsPerShard >= 1, s"bucketsPerShard=$bucketsPerShard")
    df.withColumn("fbib", layout)
      .repartition(col("fbib"))
      .write.partitionBy("fbib").mode("overwrite").parquet(s"$path/data")
    val blooms = df.sparkSession.read.parquet(s"$path/data")
      .groupBy(col("fbib").cast("int").as("bucket"))
      .agg(BloomAgg.bloom_agg(col(keyCol).cast("string"),
        expectedPerBucket, fpp).as("bloom"))
      // filter params AND the key column ride in the sidecar so
      // appends and the tombstone purge need no out-of-band knowledge
      .withColumn("expected_items", lit(expectedPerBucket))
      .withColumn("fpp", lit(fpp))
      .withColumn("key_col", lit(keyCol))
    val fs = fsFor(df.sparkSession, path)
    val staged = stageShards(blooms, path, bucketsPerShard)
    // fresh build: assemble the COMPLETE new root under _blooms.stage
    // and replace the previous root through the shared swap — readers
    // see the old sidecar or the complete new root, never a partial
    // shard set (a crash inside a per-shard adoption loop would
    // otherwise serve partial filters silently = false negatives)
    val rootSlot = IndexLifecycle.Slot(shardRoot(path))
    IndexLifecycle.stage(fs,
      assembleStage(fs, path, staged, bucketsPerShard), rootSlot)
    IndexLifecycle.swap(fs, rootSlot)
    // a rebuild may DROP shards whose stale cached filters would
    // otherwise linger forever (the fingerprint guard only covers
    // shards that still exist)
    shardFilters.dropWhere(_._1 == path)
  }

  /** Incremental ingest: MERGE the batch's blooms into the sidecar
    * shards its buckets land in, then append the batch into the
    * existing bucket dirs (new part files only — untouched bucket
    * files AND untouched sidecar shards stay byte-identical, both
    * pinned in FileBloomIndexSpec). Only the new batch is scanned
    * plus the touched shards' current rows; the merge is the bitwise
    * OR of bit-compatible filters, so each merged shard carries the
    * blooms a one-shot rebuild over the union would (bloom bits are a
    * deterministic function of the item SET — also pinned).
    * Shard-first ordering is the crash discipline: a crash anywhere
    * before the data append leaves every shard either old-consistent
    * or merged (over-approximating — false positives only; the
    * no-false-negative law cannot break), and the replayed batch
    * re-merges idempotently. `layout` must be DETERMINISTIC here — it
    * places the batch rows and keys the batch blooms in two separate
    * jobs.
    */
  def append(batch: DataFrame, keyCol: String,
      layout: org.apache.spark.sql.Column, path: String): Unit = {
    val spark = batch.sparkSession
    val fs = fsFor(spark, path)
    rejectLegacy(fs, path)
    val shards = listShards(fs, path)
    require(shards.nonEmpty, s"no bloom sidecar at $path — write() first")
    val bps = shards.head._2
    val params = spark.read.parquet(shards.head._3.toString)
      .select("expected_items", "fpp").head()
    val expected = params.getLong(0)
    val fppV = params.getDouble(1)
    val withB = batch.withColumn("fbib", layout)
    val fresh = withB
      .groupBy(col("fbib").cast("int").as("bucket"))
      .agg(BloomAgg.bloom_agg(col(keyCol).cast("string"),
        expected, fppV).as("bloom"))
      .collect().map(r =>
        r.getAs[Int]("bucket") -> r.getAs[Array[Byte]]("bloom")).toMap
    if (fresh.nonEmpty) {
      val touchedLos = fresh.keySet.map(b => loOf(b, bps))
      // current rows of the TOUCHED shards only — the whole point
      val existingTouched: Map[Int, Array[Byte]] = {
        val dirs = shards.collect {
          case (lo, _, p) if touchedLos(lo) => p.toString }
        if (dirs.isEmpty) Map.empty
        else spark.read.parquet(dirs: _*).collect()
          .map(r => r.getAs[Int]("bucket") ->
            r.getAs[Array[Byte]]("bloom")).toMap
      }
      val merged = (existingTouched.keySet ++ fresh.keySet).toSeq.map { b =>
        (b, (existingTouched.get(b), fresh.get(b)) match {
          case (Some(old), Some(nb)) =>
            val f = BloomFilter.readFrom(
              new java.io.ByteArrayInputStream(old))
            f.mergeInPlace(BloomFilter.readFrom(
              new java.io.ByteArrayInputStream(nb)))
            val bos = new java.io.ByteArrayOutputStream()
            f.writeTo(bos)
            bos.toByteArray
          case (Some(old), None) => old
          case (None, Some(nb)) => nb
          case (None, None) => sys.error("unreachable")
        })
      }
      import spark.implicits._
      replaceShards(fs, path, merged.toDF("bucket", "bloom")
        .withColumn("expected_items", lit(expected))
        .withColumn("fpp", lit(fppV))
        .withColumn("key_col", lit(keyCol)), bps)
    }
    afterSidecarSwap(path)
    // data LAST: see the crash-discipline note above
    withB.repartition(col("fbib"))
      .write.partitionBy("fbib").mode("append").parquet(s"$path/data")
    // a lookup between the swap and the data write may have memoized a
    // listing WITHOUT the batch's new bucket dirs under the post-swap
    // digest; no later digest change would evict it, so drop it here
    // (uncontended, the swap already rotated the digest: no extra list)
    bucketListings.drop(path)
  }

  /** Test seam: runs between an append's sidecar swap and its data
    * write — the window a concurrent lookup can land in.
    */
  @volatile private[graft] var afterSidecarSwap: String => Unit = _ => ()

  /** TOMBSTONE delete — the deletion-vector verb mirrored from the IVF
    * index ([[graft.operators.SimilarityOps.deleteFromIvfIndex]]):
    * bloom bits cannot be UNSET, so deleting appends the key strings
    * to a `_tombstones` sidecar (one metadata-sized file per delete
    * batch; no data or sidecar shard is read or rewritten — a delete
    * is O(batch) like an append). Every read path masks results
    * against the broadcast tombstone set, and [[compact]] physically
    * PURGES: only the buckets actually holding deleted keys rewrite,
    * their blooms REBUILD from the surviving rows (bit-compatible
    * params, so shard merges still equal a fresh build over the
    * survivors), only the touched shards swap, and the tombstones
    * clear. Tombstone growth is bounded by compaction cadence — what
    * keeps the mask broadcast small at any index size.
    *
    * Contract (the IVF ingest rule): delete WINS over a replayed or
    * re-appended insert — [[graft.streaming.BloomStreams]] drops
    * tombstoned keys from every batch, so re-ingesting a deleted key
    * requires purging first. Deleting an absent key is a harmless
    * no-op row.
    */
  def delete(spark: SparkSession, path: String, keys: Seq[String]): Unit = {
    require(keys.nonEmpty, "empty delete keys")
    require(!keys.contains(null), "null keys are never indexed — " +
      "nothing to delete")
    rejectLegacy(fsFor(spark, path), path)
    import spark.implicits._
    IndexLifecycle.writeTombstones(keys.distinct.toDF("k"), path)
  }

  /** Compact the small-file debt appends accrue — and physically PURGE
    * pending [[delete]] tombstones first: the buckets holding deleted
    * keys are located through the (memoized) blooms plus an exact
    * confirm read, rewritten without the dead rows (emptied bucket
    * dirs removed), their blooms REBUILT from the surviving rows, the
    * touched sidecar shards swapped, and `_tombstones` cleared — after
    * which the index is byte-equivalent to one never containing the
    * deleted rows and reads stop paying the mask. Crash ordering:
    * data rewrite, then sidecar shards, then the tombstone clear LAST
    * — every intermediate state either still masks or only
    * over-approximates.
    *
    * Then buckets holding more than `maxFilesPerBucket` part files
    * rewrite as one file each (localCheckpoint materializes them first
    * — Spark rightly refuses to overwrite a path it is still reading —
    * then dynamic partition overwrite replaces just the rewritten
    * buckets). Content is preserved row-for-row; untouched buckets and
    * sidecar shards stay byte-identical (bloom bits are a function of
    * the item set, which file compaction does not change) — all pinned
    * in FileBloomIndexSpec.
    */
  def compact(spark: SparkSession, path: String,
      maxFilesPerBucket: Int = 1): Unit = {
    require(maxFilesPerBucket >= 1, s"maxFilesPerBucket=$maxFilesPerBucket")
    val fs = fsFor(spark, path)
    rejectLegacy(fs, path)
    purgeTombstones(spark, fs, path)
    IndexLifecycle.compactBuckets(spark, fs, s"$path/data", "fbib",
      maxFilesPerBucket)
  }

  /** The purge half of [[compact]]; see its scaladoc. The key column
    * comes from the sidecar itself (`key_col` rides in every shard,
    * like expected_items/fpp — lifecycle verbs need no out-of-band
    * knowledge), so purge works from the stored state alone.
    */
  private def purgeTombstones(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String): Unit = {
    val ts = IndexLifecycle.tombstones(spark, path, "k") match {
      case Some(t) => t.localCheckpoint()
      case None => return
    }
    val shards = listShards(fs, path)
    if (shards.isEmpty)
      throw new IllegalArgumentException(
        s"no bloom sidecar at $path — write() first")
    val params = spark.read.parquet(shards.head._3.toString)
      .select("expected_items", "fpp", "key_col").head()
    val expected = params.getLong(0)
    val fppV = params.getDouble(1)
    val keyCol = params.getString(2)
    // this verb is about to delete data dirs: drop the listing memo
    // NOW so no same-JVM reader (or this method) can serve a stale
    // bucket set during the mutation window; the sidecar swap below
    // rotates the digest, so post-purge readers re-list exactly once
    bucketListings.drop(path)
    // locate: bloom-candidate buckets for the tombstoned keys
    // (executor-side, a superset), then an exact pruned confirm —
    // only buckets PROVABLY holding dead rows rewrite
    val (fpDigest0, filters0) = loadFiltersFp(spark, path)
    val cands = candidateBucketsFor(spark, filters0, ts)
    val candPaths = existingBucketPaths(fs, path, cands, fpDigest0)
    val touched: Array[Int] =
      if (candPaths.isEmpty) Array.empty
      else {
        val read = spark.read.option("basePath", s"$path/data")
          .parquet(candPaths: _*)
        read.join(broadcast(ts),
            read(keyCol).cast("string") === ts("k"))
          .select(col("fbib").cast("int")).distinct()
          .collect().map(_.getInt(0)).sorted
      }
    if (touched.nonEmpty) {
      // (1) DATA: rewrite only the touched buckets without the dead
      // rows; buckets the purge EMPTIES are deleted in step (3), AFTER
      // the sidecar swap — until then their stale files stay masked by
      // the tombstones, so every crash state is consistent
      val surviving = IndexLifecycle.rewriteBuckets(spark, s"$path/data",
        "fbib", touched.toSeq, col(keyCol).cast("string"), ts)
      // (2) SIDECAR: rebuild the touched buckets' blooms from the
      // REWRITTEN files read back (the write()-time consistency
      // discipline), replace them inside their shards, swap only
      // those shards; a shard left bucket-less is deleted outright
      // (with its .next/.old residues — a stale residue healed after
      // the delete would resurrect blooms for removed buckets)
      val freshBlooms: Map[Int, Array[Byte]] =
        if (surviving.isEmpty) Map.empty
        else spark.read.option("basePath", s"$path/data")
          .parquet(surviving.toSeq.sorted
            .map(b => s"$path/data/fbib=$b"): _*)
          .groupBy(col("fbib").cast("int").as("bucket"))
          .agg(BloomAgg.bloom_agg(col(keyCol).cast("string"),
            expected, fppV).as("bloom"))
          .collect().map(r =>
            r.getAs[Int]("bucket") -> r.getAs[Array[Byte]]("bloom")).toMap
      val bps = shards.head._2
      val touchedLos = touched.map(b => loOf(b, bps)).toSet
      val oldTouched: Map[Int, Array[Byte]] = {
        val dirs = shards.collect {
          case (lo, _, p) if touchedLos(lo) => p.toString }
        spark.read.parquet(dirs: _*).collect()
          .map(r => r.getAs[Int]("bucket") ->
            r.getAs[Array[Byte]]("bloom")).toMap
      }
      def dropShard(lo: Int): Unit = {
        val s = shardSlot(path, lo, bps)
        Seq(s.live, s.next, s.old).foreach(fs.delete(_, true))
        shardFilters.drop((path, shardName(lo, bps)))
      }
      val newRows = (oldTouched -- touched) ++ freshBlooms
      import spark.implicits._
      val swapped =
        if (newRows.isEmpty) Set.empty[Int]
        else replaceShards(fs, path, newRows.toSeq.toDF("bucket", "bloom")
          .withColumn("expected_items", lit(expected))
          .withColumn("fpp", lit(fppV))
          .withColumn("key_col", lit(keyCol)), bps)
      (touchedLos -- swapped).foreach(dropShard)
    }
    // (3) now that no bloom names them, drop the emptied bucket dirs —
    // and sweep any ORPHAN dir a crashed earlier purge left behind (a
    // data bucket without a bloom row is unreachable by construction:
    // appends write the sidecar first). UNCONDITIONAL — a replayed
    // compact whose new blooms no longer name the crashed run's
    // emptied bucket finds touched empty, and the sweep is then the
    // only path that heals the orphan. A whole-index purge legally
    // leaves ZERO shards (loadFilters serves an empty filter set off
    // the still-present _blooms.d root).
    val liveBuckets = loadFilters(spark, path).map(_._1).toSet
    fs.listStatus(hp(s"$path/data")).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("fbib="))
      .map(s => s.getPath.getName.stripPrefix("fbib=").toInt)
      .filterNot(liveBuckets)
      .foreach(b => fs.delete(hp(s"$path/data/fbib=$b"), true))
    // a reader may have re-listed (and memoized) between the sidecar
    // swap and the deletes above — drop the entry once more so the
    // post-purge state is re-listed exactly once
    bucketListings.drop(path)
    // (4) tombstones LAST: every earlier crash state still masks
    IndexLifecycle.clearTombstones(fs, path)
  }

  /** Candidate buckets for a one-column ("k") frame of key strings —
    * executor-side membership tests against the broadcast memoized
    * filters, shared by [[existingKeysDf]] and the tombstone purge.
    */
  private def candidateBucketsFor(spark: SparkSession,
      filters: Array[(Int, BloomFilter)], keysDf: DataFrame): Array[Int] = {
    val bc = spark.sparkContext.broadcast(filters)
    val candOf = udf((k: String) =>
      bc.value.collect { case (b, f) if f.mightContainString(k) => b })
    keysDf.select(explode(candOf(col("k"))).as("b"))
      .distinct().collect().map(_.getInt(0)).sorted
  }

  /** Data-root listings for [[existingBucketPaths]] per index path;
    * fingerprint: the sidecar digest of [[loadFiltersFp]]. The bucket
    * dir set only changes through verbs that also swap sidecar shard
    * dirs, and append and purge drop the entry around their data
    * writes and deletes.
    */
  private val bucketListings = new graft.Memo[String, String, Set[String]]

  /** Bucket dirs that actually EXIST, as read paths: a bloom may
    * transiently name a bucket whose dir a purge already removed (the
    * crash window between the data delete and the tombstone clear) —
    * a missing dir provably holds no rows, so skipping it preserves
    * exactness where a blind read would fail with PATH_NOT_FOUND.
    */
  private def existingBucketPaths(fs: org.apache.hadoop.fs.FileSystem,
      path: String, buckets: Seq[Int], fpDigest: String): Seq[String] = {
    if (buckets.isEmpty) return Seq.empty
    // ONE listStatus of the data root (not one exists() RPC per
    // candidate — on an object store that would charge every lookup a
    // metadata round-trip per bucket, forever, to guard a rare crash
    // window), then memoized until the sidecar fingerprints move
    val present = bucketListings.get(path, fpDigest)(
      fs.listStatus(hp(s"$path/data")).toSeq.map(_.getPath.getName).toSet)
    buckets.collect { case b if present(s"fbib=$b") =>
      s"$path/data/fbib=$b" }
  }

  // ---- sharded sidecar plumbing ----

  private def hp(s: String) = new org.apache.hadoop.fs.Path(s)
  private def shardRoot(path: String) = hp(s"$path/_blooms.d")
  private def tmpRoot(path: String) = s"$path/_blooms.tmp"
  private def loOf(bucket: Int, bps: Int): Int =
    Math.floorDiv(bucket, bps) * bps
  private def shardName(lo: Int, bps: Int) = s"$lo-${lo + bps - 1}"
  private def shardSlot(path: String, lo: Int, bps: Int) =
    IndexLifecycle.Slot(hp(s"$path/_blooms.d/${shardName(lo, bps)}"))

  /** Assemble staged shard dirs into a complete replacement root at
    * `_blooms.stage` (final shard names, ready for the one-rename
    * adoption) and clear the tmp root. Every rename here moves within
    * staging space: a crash leaves only inert `_blooms.tmp` /
    * `_blooms.stage` residue that the next attempt clears — the live
    * `_blooms.d` is never touched until the single adopting rename.
    */
  private def assembleStage(fs: org.apache.hadoop.fs.FileSystem,
      path: String, staged: Seq[(Int, org.apache.hadoop.fs.Path)],
      bps: Int): org.apache.hadoop.fs.Path = {
    val stage = hp(s"$path/_blooms.stage")
    fs.delete(stage, true) // residue from a crashed earlier attempt
    require(fs.mkdirs(stage), s"cannot create $stage")
    staged.foreach { case (lo, tmpDir) =>
      IndexLifecycle.moveStaged(fs, tmpDir,
        new org.apache.hadoop.fs.Path(stage, shardName(lo, bps)))
    }
    fs.delete(hp(tmpRoot(path)), true)
    stage
  }

  /** Write the blooms rows into one parquet dir per shard under the
    * tmp root; returns (shardLo, tmpShardDir) pairs. Distributed
    * (partitionBy) — nothing sidecar-sized crosses the driver.
    */
  private def stageShards(blooms: DataFrame, path: String,
      bps: Int): Seq[(Int, org.apache.hadoop.fs.Path)] = {
    val tmp = tmpRoot(path)
    blooms
      .withColumn("shard", (col("bucket") - pmod(col("bucket"), lit(bps))))
      .repartition(col("shard")).sortWithinPartitions("bucket")
      .write.mode("overwrite").partitionBy("shard").parquet(tmp)
    val fs = fsFor(blooms.sparkSession, path)
    fs.listStatus(hp(tmp)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("shard="))
      .map(s => (s.getPath.getName.stripPrefix("shard=").toInt, s.getPath))
      .sortBy(_._1)
  }

  /** Stage EVERY shard of the bloom rows `blooms` as its `<name>.next`
    * before swapping ANY — a `.next`, once present, is always complete
    * and always safe to adopt (a superset merge, or the purge's rebuilt
    * blooms) — then swap them in. Returns the swapped shards' lows.
    */
  private def replaceShards(fs: org.apache.hadoop.fs.FileSystem,
      path: String, blooms: DataFrame, bps: Int): Set[Int] = {
    val staged = stageShards(blooms, path, bps)
    staged.foreach { case (lo, tmpDir) =>
      IndexLifecycle.stage(fs, tmpDir, shardSlot(path, lo, bps)) }
    fs.delete(hp(tmpRoot(path)), true)
    staged.foreach { case (lo, _) =>
      IndexLifecycle.swap(fs, shardSlot(path, lo, bps)) }
    staged.map(_._1).toSet
  }

  /** Live shards as (lo, bucketsPerShard, dir), healed and sorted —
    * the root swap of a rebuild first, then every shard swap, from one
    * listing when clean. Empty when the index has no shard root.
    */
  private def listShards(fs: org.apache.hadoop.fs.FileSystem, path: String)
      : Seq[(Int, Int, org.apache.hadoop.fs.Path)] = {
    val root = shardRoot(path)
    if (!IndexLifecycle.heal(fs, IndexLifecycle.Slot(root))) return Seq.empty
    IndexLifecycle.healChildren(fs, root).toSeq
      .filter(s => s.isDirectory &&
        s.getPath.getName.matches("-?\\d+--?\\d+"))
      .map { s =>
        // lo may be negative: the separator is the first '-' past the
        // (possible) sign, never the last (hi can be negative too)
        val n = s.getPath.getName
        val cut = n.indexOf('-', 1)
        val lo = n.substring(0, cut).toInt
        val hi = n.substring(cut + 1).toInt
        (lo, hi - lo + 1, s.getPath)
      }
      .sortBy(_._1)
  }

  /** The one legacy check every verb makes (a single existence
    * check): a `_blooms` directory is the single-directory sidecar of
    * earlier builds, which no verb reads, upgrades or extends.
    */
  private def rejectLegacy(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Unit =
    require(!fs.exists(hp(s"$path/_blooms")),
      s"$path holds a legacy _blooms sidecar, a format this index no " +
        s"longer reads — delete $path and rebuild it with write()")

  /** All sidecar rows (bucket, bloom, expected_items, fpp, key_col) —
    * the inspection/test surface.
    */
  private[graft] def sidecarDf(spark: SparkSession, path: String): DataFrame = {
    val fs = fsFor(spark, path)
    rejectLegacy(fs, path)
    val shards = listShards(fs, path)
    require(shards.nonEmpty, s"no bloom sidecar shards at $path")
    spark.read.parquet(shards.map(_._3.toString): _*)
  }

  // ---- per-JVM filter memo ----

  /** Deserialized filters per (index path, shard); fingerprint: the
    * shard dir's file names, mtimes and lengths from one listStatus
    * (metadata only). A swap replaces the shard dir, so every facet
    * changes. BloomFilter reads are thread-safe (mightContain only
    * reads the bit array), so one instance serves every query.
    */
  private val shardFilters = new graft.Memo[(String, String),
    Seq[(String, Long, Long)], Array[(Int, BloomFilter)]]

  /** Every bucket's filter, memoized per shard (see [[shardFilters]]).
    * Loud when the index has no sidecar.
    */
  private[graft] def loadFilters(spark: SparkSession,
      path: String): Array[(Int, BloomFilter)] =
    loadFiltersFp(spark, path)._2

  /** [[loadFilters]] plus the sidecar FINGERPRINT DIGEST the filters
    * were validated against (every shard's name + file fingerprints,
    * already computed for the per-shard memo guard — no extra
    * metadata round-trip). The digest guards [[bucketListings]]: every
    * mutation that can change the data-bucket dir set (write, append,
    * tombstone purge) swaps or drops sidecar shard dirs in the same
    * operation, so an unchanged digest proves the bucket listing is
    * still current. Shards that MISS the filter memo are read in ONE
    * batched parquet job (a cold session used to pay one listing +
    * footer + collect job per shard dir).
    */
  private def loadFiltersFp(spark: SparkSession,
      path: String): (String, Array[(Int, BloomFilter)]) = {
    val fs = fsFor(spark, path)
    rejectLegacy(fs, path)
    val shards = listShards(fs, path)
    if (shards.nonEmpty) {
      val withFp = shards.map { case (lo, cnt, dir) =>
        (lo, cnt, dir, IndexLifecycle.fingerprint(fs, dir)) }
      val digest = withFp.map { case (_, _, dir, fp) =>
        dir.getName + fp.mkString("[", ",", "]") }.mkString(";")
      val loaded = scala.collection.mutable.Map
        .empty[String, Array[(Int, BloomFilter)]]
      val misses = withFp.filter { case (_, _, dir, fp) =>
        shardFilters.peek((path, dir.getName), fp) match {
          case Some(filters) => loaded(dir.getName) = filters; false
          case None => true
        }
      }
      if (misses.nonEmpty) {
        val rows = spark.read.parquet(misses.map(_._3.toString): _*)
          .select("bucket", "bloom").collect()
          .map(r => r.getAs[Int]("bucket") -> BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("bloom"))))
        misses.foreach { case (lo, cnt, dir, fp) =>
          val mine = rows.filter { case (b, _) => b >= lo && b < lo + cnt }
            .sortBy(_._1)
          shardFilters.put((path, dir.getName), fp, mine)
          loaded(dir.getName) = mine
        }
      }
      (digest, shards.toArray.flatMap { case (_, _, dir) =>
        loaded(dir.getName) })
    }
    // a present-but-empty shard root is the LEGAL all-purged state
    // (every key deleted, every shard dropped): zero filters, every
    // probe a provable miss — not a missing index
    else {
      require(fs.exists(shardRoot(path)),
        s"no bloom sidecar at $path — write() first")
      ("empty", Array.empty)
    }
  }

  // ---- read paths ----

  /** Buckets whose bloom might contain `key` — a driver-side test over
    * the memoized filters (one row per bucket; KBs per filter at
    * fpp=0.01). Sorted for deterministic downstream path lists.
    */
  def candidateBuckets(spark: SparkSession, path: String,
      key: String): Seq[Int] =
    loadFilters(spark, path)
      .filter { case (_, f) => f.mightContainString(key) }
      .map(_._1).sorted.toSeq

  /** Bulk membership as a DataFrame — the backfill shape with NO
    * driver key loop: the memoized filters broadcast once, membership
    * tests run EXECUTOR-side over the keys, and the confirm read is
    * pruned to the union of candidate buckets (the only driver-sized
    * artifact is that bucket list). Null keys are never indexed
    * ([[BloomAgg]] skips them at build), so membership is vacuously
    * false — they are dropped here deliberately. Returns the DISTINCT
    * key strings present in the index, as a one-column ("k") frame —
    * exact: the bloom screen admits no false negatives and the
    * confirm join weeds its false positives.
    */
  def existingKeysDf(spark: SparkSession, path: String, keyCol: String,
      keys: DataFrame, keysCol: String): DataFrame = {
    val kd = keys.select(col(keysCol).cast("string").as("k"))
      .filter(col("k").isNotNull).distinct()
    val (fpDigest, filters) = loadFiltersFp(spark, path)
    val buckets = candidateBucketsFor(spark, filters, kd)
    val paths = existingBucketPaths(fsFor(spark, path), path, buckets,
      fpDigest)
    if (paths.isEmpty) return kd.filter(lit(false))
    val pruned = spark.read.option("basePath", s"$path/data")
      .parquet(paths: _*)
      .select(col(keyCol).cast("string").as("k"))
    IndexLifecycle.masked(spark, path, "k",
      pruned.join(kd, "k").distinct(), col("k"))
  }

  /** Which of `keys` already exist in the index — the batch-bounded
    * driver-Set form of [[existingKeysDf]] streaming ingest dedups
    * with. Null keys are dropped (never indexed — see existingKeysDf).
    */
  def existingKeys(spark: SparkSession, path: String, keyCol: String,
      keys: Seq[String]): Set[String] = {
    val nn = keys.filter(_ != null)
    if (nn.isEmpty) return Set.empty
    import spark.implicits._
    existingKeysDf(spark, path, keyCol, nn.toDF("k"), "k")
      .collect().map(_.getString(0)).toSet
  }

  /** Exact point lookup: sidecar-pruned bucket dirs + the exact
    * residual filter. Reads ONLY candidate buckets — `df.inputFiles`
    * of the result is the pin. An all-buckets-rejected key costs the
    * (memoized) sidecar filters alone (the empty frame is planned
    * with a contradiction filter, which prunes every file at
    * planning). Both branches return the data schema WITHOUT the
    * internal fbib partition column.
    */
  def lookup(spark: SparkSession, path: String, keyCol: String,
      key: String): DataFrame =
    lookupKeys(spark, path, keyCol, Seq(key))

  /** Multi-key point lookup — the union of [[lookup]] results for a
    * set of DISTINCT keys, served by ONE pruned read instead of one
    * read (listing + footer + scan job) per key: candidate buckets are
    * the union over keys of the driver-side bloom tests, the data read
    * prunes to that union, and a single `isin` filter + tombstone mask
    * finishes. Exact for the same reason lookup is: every bucket
    * holding a key is a candidate (no false negatives), each row
    * matches at most one key, and false-positive buckets contribute
    * nothing past the filter.
    */
  def lookupMany(spark: SparkSession, path: String, keyCol: String,
      keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty && keys.distinct == keys,
      s"keys must be non-empty and distinct: $keys")
    lookupKeys(spark, path, keyCol, keys)
  }

  private def lookupKeys(spark: SparkSession, path: String,
      keyCol: String, keys: Seq[String]): DataFrame = {
    val (fpDigest, filters) = loadFiltersFp(spark, path)
    val cands = filters
      .filter { case (_, f) => keys.exists(f.mightContainString) }
      .map(_._1).sorted.toSeq
    val paths = existingBucketPaths(fsFor(spark, path), path, cands,
      fpDigest)
    val base =
      if (paths.isEmpty)
        // the all-rejected fast path still needs the DATA SCHEMA for
        // its typed empty frame; an all-purged index has no files left
        // to infer it from — loud and specific beats Spark's generic
        // inference error
        try spark.read.parquet(s"$path/data").filter(lit(false))
        catch { case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalStateException(
            s"$path holds no data files (every key purged?) — a typed " +
              "empty result is unrepresentable; rebuild with write()", e)
        }
      else
        spark.read.option("basePath", s"$path/data").parquet(paths: _*)
    IndexLifecycle.masked(spark, path, "k",
      base.drop("fbib").filter(col(keyCol).cast("string").isin(keys: _*)),
      col(keyCol).cast("string"))
  }
}
