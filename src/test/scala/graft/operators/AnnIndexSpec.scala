package graft.operators

import graft.SparkTestBase
import graft.sources.IndexLifecycle.readSidecar
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The bucketed IVF index's lifecycle properties:
  *
  *  - incremental append ([[SimilarityOps.appendToIvfIndex]]) touches
  *    only the new batch — every pre-append file stays byte-identical,
  *    and the appended index equals a full rebuild over the union both
  *    row-for-row and probe-for-probe;
  *  - the `_ids` sidecar makes probe-by-id metadata-sized: the id
  *    lookup reads the (id, bucket)-only sidecar and the vector fetch
  *    scans ONE bucket directory (partition pruning pinned via scan
  *    metrics), instead of filtering the whole index;
  *  - probe-by-vector needs no lookup at all and matches the by-id
  *    path modulo self-exclusion;
  *  - every writer leaves the one format (`_codebook` and an `_ids`
  *    that matches the stored rows), and every verb rejects an index
  *    lacking either sidecar before it reads or writes anything.
  */
class AnnIndexSpec extends SparkTestBase with IvfFixtures
    with AdaptiveSparkPlanHelper {

  import spark.implicits._

  test("append: pre-append files byte-identical; index == full rebuild") {
    val appended = tmp("ann_append")
    SimilarityOps.buildIvfIndex(vecs(0 until 120), "id", "v", 4, appended)
    val before = filesUnder(appended)
    SimilarityOps.appendToIvfIndex(vecs(120 until 200), "id", "v", appended)
    val after = filesUnder(appended)
    // every pre-append file survives with identical bytes (the
    // append's _SUCCESS markers are rewritten; exclude marker files)
    val markers = Set("_SUCCESS")
    before.filterNot { case (p, _) =>
      markers(Paths.get(p).getFileName.toString) }.foreach {
      case (path, bytes) =>
        assert(after.contains(path), s"pre-append file vanished: $path")
        assert(after(path) == bytes, s"pre-append file rewritten: $path")
    }
    val rebuilt = tmp("ann_rebuild")
    SimilarityOps.buildIvfIndex(vecs(0 until 200), "id", "v", 4, rebuilt)
    // row-for-row: same (id, bucket, v) content
    def content(d: String) =
      spark.read.parquet(d).select("id", "bucket", "v")
        .collect().map(r => (r.getLong(0), r.getInt(1),
          r.getSeq[Double](2))).sortBy(_._1).toSeq
    assert(content(appended) == content(rebuilt))
    // probe-for-probe, across probes and nprobe settings
    for (pid <- Seq(10L, 57L, 150L, 199L); np <- Seq(1, 3)) {
      val a = SimilarityOps
        .annIvfFromIndexMultiProbe(spark, appended, pid, 5, np).collect()
      val b = SimilarityOps
        .annIvfFromIndexMultiProbe(spark, rebuilt, pid, 5, np).collect()
      assert(a.toSeq == b.toSeq, s"probe $pid nprobe=$np diverged")
    }
  }

  test("_ids sidecar: correct bucket, pruned vector fetch, small lookup") {
    val dir = tmp("ann_ids")
    SimilarityOps.buildIvfIndex(vecs(0 until 160), "id", "v", 4, dir)
    val stored = spark.read.parquet(dir)
    val truth = stored.select("id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // sidecar agrees with the stored assignment for every id (one row
    // per id), and the point lookup answers from it
    val sidecar = readSidecar(spark, s"$dir/_ids").collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    assert(sidecar.length == truth.size && sidecar.toMap == truth)
    Seq(truth.keys.min, 80L, truth.keys.max).foreach(id =>
      assert(SimilarityOps.probeBucketLookup(spark, dir, id)
        .contains(truth(id))))
    assert(SimilarityOps.probeBucketLookup(spark, dir, 99999L).isEmpty)
    // the vector fetch is partition-pruned to ONE bucket directory:
    // scan metrics count only that directory's files
    val pid = truth.keys.min
    val fetch = stored
      .filter(col("bucket") === truth(pid) && col("id") === pid)
    assert(fetch.collect().length == 1)
    val scan = collectWithSubqueries(fetch.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }.head
    assert(scan.partitionFilters.exists(_.toString.contains("bucket")),
      s"no bucket partition filter in:\n${fetch.queryExecution.executedPlan}")
    val bucketFiles = {
      val d = Paths.get(dir, s"bucket=${truth(pid)}")
      val walk = Files.list(d)
      try walk.iterator().asScala.count(p =>
        p.getFileName.toString.endsWith(".parquet"))
      finally walk.close()
    }
    val allFiles = {
      val walk = Files.walk(Paths.get(dir))
      try walk.iterator().asScala.count(p =>
        p.toString.endsWith(".parquet") && !p.toString.contains("/_"))
      finally walk.close()
    }
    assert(scan.metrics("numFiles").value == bucketFiles,
      "vector fetch read more than the probe's bucket directory")
    assert(bucketFiles < allFiles, "pruning pin is vacuous")
    // the sidecar itself is (id, bucket)-only — a small fraction of
    // the index's vector payload even at this toy dim
    def bytesOf(p: Path): Long = {
      val walk = Files.walk(p)
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally walk.close()
    }
    assert(bytesOf(Paths.get(dir, "_ids")) <
      bytesOf(Paths.get(dir)) / 2)
  }

  test("from-index batch == one-shot batch; DPP prunes the candidate scan") {
    val rows = vecs(0 until 160)
    val dir = tmp("ann_batch")
    SimilarityOps.buildIvfIndex(rows, "id", "v", 4, dir)
    val probes = Seq(10L, 77L, 140L)
    val ((fromIndex, fromIndexRows), logged) = graft.LogCapture.lines {
      val df = SimilarityOps
        .annIvfFromIndexBatch(spark, dir, probes, k = 5, nprobe = 2)
      (df, df.collect())
    }
    // the pending-delete check is an existence check: no failed
    // parquet resolution and its WARNs on an index without deletes;
    // and sidecar reads name no underscore root Spark would ignore,
    // nor any sidecar path at all
    assert(!logged.exists(l => l.contains("_tombstones") ||
      l.contains("All paths were ignored") || l.contains(s"$dir/_")),
      logged.mkString("\n"))
    // GroupedTopK emits a group's rows in heap order (unordered set
    // semantics, like the driver's sorted-rows hash gate): compare as
    // sorted rows
    def sorted(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2)).toSeq
    val got = sorted(fromIndexRows)
    val expect = sorted(SimilarityOps
      .annIvfMultiProbeBatch(rows, "id", "v", 4, probes, k = 5,
        nprobe = 2).collect())
    assert(got == expect)
    // the candidate scan (bucket-partitioned, joined on bucket = cid
    // against a broadcast) must carry a dynamic partition pruning
    // filter — the runtime form of the one-shot path's literal IN
    val scans = collectWithSubqueries(
      fromIndex.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    assert(scans.exists(_.partitionFilters.exists(
      _.toString.contains("dynamicpruning"))),
      s"no DPP filter on the index scan:\n" +
        fromIndex.queryExecution.executedPlan)
  }

  test("compaction: fewer files, identical content, identical probes") {
    val dir = tmp("ann_compact")
    SimilarityOps.buildIvfIndex(vecs(0 until 60), "id", "v", 4, dir)
    // three daily batches -> O(3) file sets per touched bucket
    SimilarityOps.appendToIvfIndex(vecs(60 until 100), "id", "v", dir)
    SimilarityOps.appendToIvfIndex(vecs(100 until 140), "id", "v", dir)
    SimilarityOps.appendToIvfIndex(vecs(140 until 180), "id", "v", dir)
    def content() = spark.read.parquet(dir).select("id", "bucket", "v")
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Double](2))).sortBy(_._1).toSeq
    def bucketFiles(): Map[String, Int] = {
      val walk = Files.list(Paths.get(dir))
      try walk.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("bucket="))
        .map { p =>
          val l = Files.list(p)
          try p.getFileName.toString -> l.iterator().asScala.count(
            _.toString.endsWith(".parquet"))
          finally l.close()
        }.toMap
      finally walk.close()
    }
    val beforeContent = content()
    val beforeProbe = SimilarityOps
      .annIvfFromIndexMultiProbe(spark, dir, 20L, 5, 3).collect().toSeq
    assert(bucketFiles().values.max > 1, "fixture never fragmented")
    SimilarityOps.compactIvfIndex(spark, dir, maxFilesPerBucket = 1)
    assert(bucketFiles().values.forall(_ == 1),
      s"buckets still fragmented: ${bucketFiles()}")
    assert(content() == beforeContent)
    assert(SimilarityOps.annIvfFromIndexMultiProbe(spark, dir, 20L, 5, 3)
      .collect().toSeq == beforeProbe)
    // _ids still answers point lookups after its own rewrite
    val truth = spark.read.parquet(dir).select("id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    Seq(5L, 75L, 179L).foreach(id =>
      assert(SimilarityOps.probeBucketLookup(spark, dir, id)
        .contains(truth(id))))
    // idempotent: a second compaction finds nothing to do
    SimilarityOps.compactIvfIndex(spark, dir, maxFilesPerBucket = 1)
    assert(content() == beforeContent)
  }

  test("delete: tombstones mask rows; purge removes them physically") {
    val dir = tmp("ann_delete")
    SimilarityOps.buildIvfIndex(vecs(0 until 160), "id", "v", 4, dir)
    val pid = 42L
    val full = SimilarityOps
      .annIvfFromIndexMultiProbe(spark, dir, pid, 8, 3)
      .collect().map(_.getLong(0)).toSeq
    // delete the probe's top two neighbors (forces a changed answer)
    // plus an id outside the probed cells and one absent id (no-op)
    val dead = Seq(full(0), full(1), 150L, 9999L)
    SimilarityOps.deleteFromIvfIndex(spark, dir, dead)
    // data files untouched by the delete itself: tombstones are a
    // sidecar, not a rewrite
    val masked = SimilarityOps
      .annIvfFromIndexMultiProbe(spark, dir, pid, 8, 3)
      .collect().map(_.getLong(0)).toSeq
    assert(masked.intersect(dead).isEmpty)
    val survivors = full.filterNot(dead.contains)
    assert(masked.take(survivors.length) == survivors,
      "surviving prefix must keep its order")
    assert(masked.length == full.length, "k refills from the live set")
    // deleted ids vanish from batch output as candidates AND probes —
    // including 9999L, which the _ids sidecar never had: all-missing-
    // ids-tombstoned keeps the sidecar bucket route (no full-scan
    // degradation for a stale probe list)
    val batch = SimilarityOps
      .annIvfFromIndexBatch(spark, dir, Seq(pid, full(0), 9999L), 5, 2)
      .collect()
    assert(batch.map(_.getLong(0)).distinct.toSeq == Seq(pid))
    assert(!batch.map(_.getLong(1)).contains(full(0)))
    // a tombstoned single-probe id errors loudly
    val e = intercept[IllegalArgumentException](
      SimilarityOps.annIvfFromIndexMultiProbe(spark, dir, full(0), 5, 1))
    assert(e.getMessage.contains("absent or deleted"))
    // PURGE: physically gone, tombstones cleared, answers unchanged
    SimilarityOps.compactIvfIndex(spark, dir)
    assert(!Files.exists(Paths.get(s"$dir/_tombstones")))
    val storedIds = spark.read.parquet(dir).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(dead.take(3).forall(id => !storedIds.contains(id)))
    assert(SimilarityOps
      .annIvfFromIndexMultiProbe(spark, dir, pid, 8, 3)
      .collect().map(_.getLong(0)).toSeq == masked)
    // the rewritten _ids sidecar dropped the deleted ids
    val sidecarIds = readSidecar(spark, s"$dir/_ids").select("id")
      .collect().map(_.getLong(0)).toSet
    assert(dead.take(3).forall(id => !sidecarIds.contains(id)))
    assert(sidecarIds == storedIds)
  }

  test("append crash window: probes fall back, purge removes rows, " +
      "heals _ids") {
    val dir = tmp("ann_crash_window")
    SimilarityOps.buildIvfIndex(vecs(0 until 80), "id", "v", 4, dir)
    // an append that died between its data write and its _ids write:
    // append, then remove exactly the _ids files the append created
    def idsFiles() = {
      val l = Files.list(Paths.get(s"$dir/_ids"))
      try l.iterator().asScala.toSet finally l.close()
    }
    def single() = SimilarityOps
      .annIvfFromIndexMultiProbe(spark, dir, 90L, 5, 2).collect().toSeq
    def batch() = SimilarityOps
      .annIvfFromIndexBatch(spark, dir, Seq(10L, 90L), 5, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val before = idsFiles()
    SimilarityOps.appendToIvfIndex(vecs(80 until 100), "id", "v", dir)
    val want = (single(), batch())
    (idsFiles() -- before).foreach(Files.delete)
    assert(SimilarityOps.probeBucketLookup(spark, dir, 90L).isEmpty)
    // both absent-id fallbacks answer as the sidecar route did
    assert((single(), batch()) == want)
    // delete a crash-window row (absent from the incomplete sidecar) —
    // trusting the sidecar to locate its bucket would skip the purge
    // and silently resurrect it once the tombstones clear
    SimilarityOps.deleteFromIvfIndex(spark, dir, Seq(90L))
    SimilarityOps.compactIvfIndex(spark, dir)
    val storedIds = spark.read.parquet(dir).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(!storedIds.contains(90L), "deleted row resurrected")
    assert(!Files.exists(Paths.get(s"$dir/_tombstones")))
    // ...and the purge rebuilt the sidecar to full coverage
    val sidecarIds = readSidecar(spark, s"$dir/_ids").select("id")
      .collect().map(_.getLong(0)).toSet
    assert(sidecarIds == storedIds)
  }

  test("purge removes a bucket directory it empties") {
    val dir = tmp("ann_emptied")
    SimilarityOps.buildIvfIndex(vecs(0 until 80), "id", "v", 4, dir)
    // empty one whole bucket: delete every id assigned to it
    val byBucket = spark.read.parquet(dir).select("id", "bucket")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
      .groupBy(_._2).view.mapValues(_.map(_._1).toSeq).toMap
    val (victim, victims) = byBucket.minBy(_._2.length)
    SimilarityOps.deleteFromIvfIndex(spark, dir, victims)
    SimilarityOps.compactIvfIndex(spark, dir)
    assert(!Files.exists(Paths.get(s"$dir/bucket=$victim")),
      s"emptied bucket=$victim directory must be removed")
    val left = spark.read.parquet(dir).select("bucket").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(left == byBucket.keySet - victim)
  }

  test("retrain: re-bucketed at the trained codebook, rows preserved, " +
      "tombstones purged, memo invalidated") {
    val dir = tmp("ann_retrain")
    SimilarityOps.buildIvfIndex(vecs(0 until 160), "id", "v", 4, dir)
    // warm the codebook memo with a pre-retrain probe (8 cells would
    // be wrong below if the memo survived the rewrite)
    SimilarityOps.annIvfFromIndexMultiProbe(spark, dir, 42L, 5, 4).collect()
    SimilarityOps.deleteFromIvfIndex(spark, dir, Seq(10L, 11L))
    SimilarityOps.retrainIvfIndex(spark, dir, k = 3, iters = 2)
    // tombstoned rows are physically gone and the sidecar cleared
    assert(!Files.exists(Paths.get(s"$dir/_tombstones")))
    val stored = spark.read.parquet(dir)
      .select("id", "bucket", "v").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2).toArray))
    assert(stored.map(_._1).toSet == (4L until 160L).toSet - 10L - 11L,
      "retrain must keep exactly the live rows (ids 0..3 were the " +
        "original stand-in codebook, never data)")
    // every row sits in its argmax cell of the NEW codebook under the
    // shared IVF scoring rule (dot(v,c)/|c|, ties to the lowest cid)
    val cb = readSidecar(spark, s"$dir/_codebook")
      .select("id", "v").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    assert(cb.length == 3, s"expected 3 trained centroids, got ${cb.length}")
    def dot(a: Array[Double], b: Array[Double]) =
      a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))
    stored.foreach { case (id, bucket, v) =>
      val want = cb.map { case (cid, cv) =>
        (cid, dot(v, cv) / math.sqrt(dot(cv, cv)))
      }.minBy { case (cid, s) => (-s, cid) }._1
      assert(bucket == want, s"id=$id bucket=$bucket want=$want")
    }
    // _ids agrees with the re-bucketed assignment
    stored.take(20).foreach { case (id, b, _) =>
      assert(SimilarityOps.probeBucketLookup(spark, dir, id).contains(b))
    }
    // the per-JVM codebook memo reloaded: nprobe=4 must now fail
    // loudly against the 3-centroid codebook (a stale memo would
    // happily rank the old 8)
    val e = intercept[IllegalArgumentException](
      SimilarityOps.annIvfFromIndexMultiProbe(spark, dir, 42L, 5, 4))
    assert(e.getMessage.contains("3 centroids < nprobe=4"))
    // ...and probes answer from the new cells
    val probe = SimilarityOps
      .annIvfFromIndexMultiProbe(spark, dir, 42L, 5, 3).collect()
    assert(probe.length == 5)
    assert(!probe.map(_.getLong(0)).contains(10L))
  }

  test("a retrain crash between its renames heals on the next READ") {
    val dir = tmp("ann_retrain_crash")
    SimilarityOps.buildIvfIndex(vecs(0 until 80), "id", "v", 4, dir)
    val want = SimilarityOps
      .annIvfFromIndexMultiProbe(spark, dir, 20L, 5, 2).collect().toSeq
    // the crash window: dir renamed aside, staging never adopted
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(s"$dir.retrain.old")))
    // every verb heals via the shared rollback, not just retrain:
    // the probe below must answer identically with no manual step
    val got = SimilarityOps
      .annIvfFromIndexMultiProbe(spark, dir, 20L, 5, 2).collect().toSeq
    assert(got == want, "read-side rollback must restore the index")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir.retrain.old")) ||
      fs.exists(new org.apache.hadoop.fs.Path(dir)))
    // ...and the ingest path heals too
    fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(s"$dir.retrain.old"))
    SimilarityOps.appendToIvfIndex(vecs(80 until 90), "id", "v", dir)
    assert(spark.read.parquet(dir).filter(col("id") === 85L).count() == 1)
  }

  test("hot-cell split: parent replaced by trained children; " +
      "untouched buckets byte-identical; ids exactly once") {
    val dir = tmp("ann_split")
    SimilarityOps.buildIvfIndex(vecs(0 until 160), "id", "v", 4, dir)
    val counts = spark.read.parquet(dir).groupBy("bucket").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val m = counts.values.max
    val hotExpect = counts.filter(_._2 == m).keys.toSeq.sorted
    val before = filesUnder(dir)
    val mapping = SimilarityOps.splitHotCells(spark, dir, m - 1,
      subK = 2, iters = 1)
    assert(mapping.map(_._1) == hotExpect, s"split $mapping")
    val hotSet = mapping.map(_._1).toSet
    val kidSet = mapping.flatMap(_._2).toSet
    // deterministic child renumbering: maxCid + 1 + i*subK + j
    assert(mapping.zipWithIndex.forall { case ((_, kids), i) =>
      kids == Seq(4 + i * 2, 5 + i * 2) }, s"renumbering: $mapping")
    // parent dirs gone, child dirs present, marker cleared
    mapping.foreach { case (b, kids) =>
      assert(!Files.exists(Paths.get(s"$dir/bucket=$b")), s"parent $b")
      kids.foreach(c =>
        assert(Files.exists(Paths.get(s"$dir/bucket=$c")), s"child $c"))
    }
    assert(!Files.exists(Paths.get(s"$dir/_split.next")))
    assert(!Files.exists(Paths.get(s"$dir/_split.tmp")))
    // untouched bucket files byte-identical
    val after = filesUnder(dir)
    val bucketOf = "bucket=(\\d+)/".r
    before.foreach { case (p0, bytes) =>
      bucketOf.findFirstMatchIn(p0).map(_.group(1).toInt) match {
        case Some(b) if !hotSet(b) =>
          assert(after.get(p0).contains(bytes), s"untouched changed: $p0")
        case _ => ()
      }
    }
    // rows preserved exactly once across the split
    val stored = spark.read.parquet(dir)
      .select("id", "bucket", "v").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2).toArray))
    assert(stored.map(_._1).sorted.toSeq == (4L until 160L).toSeq,
      "split must preserve every id exactly once")
    // the codebook swapped: parents out, children in
    val cb = readSidecar(spark, s"$dir/_codebook")
      .select("id", "v").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    assert(cb.map(_._1).toSet ==
      ((0L until 4L).toSet -- hotSet.map(_.toLong)) ++
        kidSet.map(_.toLong))
    // every moved row sits in its argmax CHILD cell under the shared
    // scoring rule, and _ids agrees
    def dot(a: Array[Double], b: Array[Double]) =
      a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))
    val kidCb = cb.filter(c => kidSet(c._1.toInt))
    stored.filter(r => kidSet(r._2)).foreach { case (id, bucket, v) =>
      val want = kidCb.map { case (cid, cv) =>
        (cid, dot(v, cv) / math.sqrt(dot(cv, cv)))
      }.minBy { case (cid, sc) => (-sc, cid) }._1
      assert(bucket == want, s"id=$id bucket=$bucket want=$want")
      assert(SimilarityOps.probeBucketLookup(spark, dir, id)
        .contains(bucket), s"_ids stale for $id")
    }
    // probes answer against the post-split codebook (memo reloaded)
    val probe = SimilarityOps
      .annIvfFromIndexMultiProbe(spark, dir, 42L, 5, 3).collect()
    assert(probe.length == 5)
  }

  test("append after split quantizes against the post-split codebook; " +
      "a second split renumbers past the first") {
    val dir = tmp("ann_split_append")
    SimilarityOps.buildIvfIndex(vecs(0 until 160), "id", "v", 4, dir)
    def maxCell(): Long = spark.read.parquet(dir).groupBy("bucket")
      .count().agg(max("count")).collect().head.getLong(0)
    val mapping1 = SimilarityOps.splitHotCells(spark, dir, maxCell() - 1,
      subK = 2, iters = 1)
    assert(mapping1.nonEmpty)
    val kids1 = mapping1.flatMap(_._2)
    SimilarityOps.appendToIvfIndex(vecs(160 until 200), "id", "v", dir)
    val cb = readSidecar(spark, s"$dir/_codebook")
      .select("id", "v").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    assert(kids1.forall(k => cb.exists(_._1 == k.toLong)),
      "children must be in the live codebook the append quantizes against")
    def dot(a: Array[Double], b: Array[Double]) =
      a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))
    val appended = spark.read.parquet(dir).filter(col("id") >= 160L)
      .select("id", "bucket", "v").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2).toArray))
    assert(appended.length == 40)
    appended.foreach { case (id, bucket, v) =>
      val want = cb.map { case (cid, cv) =>
        (cid, dot(v, cv) / math.sqrt(dot(cv, cv)))
      }.minBy { case (cid, sc) => (-sc, cid) }._1
      assert(bucket == want,
        s"appended id=$id landed in $bucket, post-split argmax is $want")
      assert(SimilarityOps.probeBucketLookup(spark, dir, id)
        .contains(bucket))
    }
    // a second split's children renumber strictly past the first's
    val mapping2 = SimilarityOps.splitHotCells(spark, dir, maxCell() - 1,
      subK = 2, iters = 1)
    assert(mapping2.nonEmpty)
    assert(mapping2.flatMap(_._2).min > kids1.max,
      s"second split $mapping2 must renumber past the first $mapping1")
    // the composed lifecycle still answers: ids present exactly once
    val ids = spark.read.parquet(dir).select("id").collect()
      .map(_.getLong(0))
    assert(ids.sorted.toSeq == (4L until 200L).toSeq)
  }

  test("a split crash after data-apply heals on the next READ") {
    val dir = tmp("ann_split_crash")
    SimilarityOps.buildIvfIndex(vecs(0 until 160), "id", "v", 4, dir)
    val preSplit = filesUnder(dir)
    val mapping = splitLargest(dir)
    val want = SimilarityOps
      .annIvfFromIndexMultiProbe(spark, dir, 42L, 5, 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    rewindSplit(dir, preSplit, mapping)
    // a fresh probe must heal the whole window and answer identically
    val got = SimilarityOps
      .annIvfFromIndexMultiProbe(spark, dir, 42L, 5, 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want, "read-side split heal must complete the apply")
    assert(!Files.exists(Paths.get(s"$dir/_split.next")))
    mapping.foreach { case (b, _) =>
      assert(!Files.exists(Paths.get(s"$dir/bucket=$b")),
        s"healed apply must drop parent $b")
    }
  }

  test("probe-by-vector == probe-by-id modulo self-exclusion") {
    val dir = tmp("ann_vec")
    SimilarityOps.buildIvfIndex(vecs(0 until 160), "id", "v", 4, dir)
    val pid = 42L
    val pv = spark.read.parquet(dir).filter(col("id") === pid)
      .select("v").collect()(0).getSeq[Double](0).toArray
    val byVec = SimilarityOps
      .annIvfFromIndexVector(spark, dir, pv, 6, nprobe = 3).collect()
    val byId = SimilarityOps
      .annIvfFromIndexMultiProbe(spark, dir, pid, 5, nprobe = 3).collect()
    // the stored self tops the vector-probe list...
    assert(byVec.head.getLong(0) == pid)
    assert(math.abs(byVec.head.getDouble(1) - 1.0) < 1e-12)
    // ...and the rest is exactly the by-id answer
    assert(byVec.tail.toSeq == byId.toSeq)
  }

  test("writer-format invariant: every verb leaves _codebook and an " +
      "_ids equal to the stored (id, bucket) set") {
    val dir = tmp("ann_format")
    def pairs(df: DataFrame) = df.select("id", "bucket")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    def stored = pairs(spark.read.parquet(dir))
    def assertFormat(after: String): Unit = {
      assert(Files.exists(Paths.get(s"$dir/_codebook")), s"$after: _codebook")
      assert(pairs(readSidecar(spark, s"$dir/_ids")) == stored,
        s"$after: _ids != stored")
      Seq("_ids.old", "_ids.next", "_ids.tmp", "_codebook.old",
        "_codebook.next", "_split.next")
        .foreach(n => assert(!Files.exists(Paths.get(s"$dir/$n")),
          s"$after left $n"))
    }
    SimilarityOps.buildIvfIndex(vecs(0 until 100), "id", "v", 4, dir)
    assertFormat("build")
    SimilarityOps.appendToIvfIndex(vecs(100 until 140), "id", "v", dir)
    assertFormat("append")
    SimilarityOps.compactIvfIndex(spark, dir, maxFilesPerBucket = 1)
    assertFormat("compact")
    // the re-sort ran: _ids is one file again
    assert(filesUnder(s"$dir/_ids").keys.count(_.endsWith(".parquet")) == 1)
    SimilarityOps.deleteFromIvfIndex(spark, dir, Seq(5L, 120L))
    assertFormat("delete")
    SimilarityOps.compactIvfIndex(spark, dir)
    assertFormat("purge")
    assert(!stored.exists(r => r._1 == 5L || r._1 == 120L))
    splitLargest(dir)
    assertFormat("split")
    SimilarityOps.retrainIvfIndex(spark, dir, k = 3, iters = 1)
    assertFormat("retrain")
  }

  test("a legacy index (no _codebook, or no _ids) is rejected by every " +
      "verb naming buildIvfIndex, and nothing is written") {
    val dir = tmp("ann_legacy")
    SimilarityOps.buildIvfIndex(vecs(0 until 80), "id", "v", 4, dir)
    def tree(p: Path): Set[String] = {
      val walk = Files.walk(p)
      try walk.iterator().asScala.map(_.toString).toSet finally walk.close()
    }
    val pv = Array.fill(dim)(0.5)
    val verbs = Seq[(String, () => Any)](
      "append" -> (() =>
        SimilarityOps.appendToIvfIndex(vecs(80 until 90), "id", "v", dir)),
      "delete" -> (() =>
        SimilarityOps.deleteFromIvfIndex(spark, dir, Seq(10L))),
      "compact" -> (() => SimilarityOps.compactIvfIndex(spark, dir)),
      "split" -> (() => SimilarityOps.splitHotCells(spark, dir, 1L)),
      "retrain" -> (() => SimilarityOps.retrainIvfIndex(spark, dir, 3, 1)),
      "probe" -> (() => SimilarityOps.annIvfFromIndex(spark, dir, 10L, 5)),
      "multi-probe" -> (() =>
        SimilarityOps.annIvfFromIndexMultiProbe(spark, dir, 10L, 5, 2)),
      "vector probe" -> (() =>
        SimilarityOps.annIvfFromIndexVector(spark, dir, pv, 5, 2)),
      "batch probe" -> (() =>
        SimilarityOps.annIvfFromIndexBatch(spark, dir, Seq(10L), 5, 2)),
      "stream ingest" -> (() =>
        graft.streaming.AnnStreams.ingestBatch(vecs(80 until 90), dir)),
      "stream probe" -> (() => graft.streaming.AnnStreams.probeStream(
        Seq((1L, pv.toSeq)).toDF("pid", "pv"), dir, 5, 2)))
    for (sidecar <- Seq("_codebook", "_ids")) {
      // moved OUT of the index: a `<sidecar>.old` inside it would be a
      // swap residue, which the open rolls back
      val aside = Paths.get(s"$dir.$sidecar")
      Files.move(Paths.get(s"$dir/$sidecar"), aside)
      val before = (filesUnder(dir), tree(Paths.get(dir).getParent))
      verbs.foreach { case (name, verb) =>
        val e = intercept[IllegalArgumentException](verb())
        assert(e.getMessage.contains("buildIvfIndex"),
          s"without $sidecar, $name: ${e.getMessage}")
        assert((filesUnder(dir), tree(Paths.get(dir).getParent)) == before,
          s"without $sidecar, $name wrote")
      }
      Files.move(aside, Paths.get(s"$dir/$sidecar"))
    }
  }

  test("delete after a crashed retrain heals first; no data is lost") {
    val dir = tmp("ann_delete_crash")
    SimilarityOps.buildIvfIndex(vecs(0 until 80), "id", "v", 4, dir)
    def probe() = SimilarityOps
      .annIvfFromIndexMultiProbe(spark, dir, 20L, 8, 2)
      .collect().map(_.getLong(0)).toSeq
    val full = probe()
    // the retrain crash window: dir renamed aside, staging never adopted
    assert(new java.io.File(dir).renameTo(new java.io.File(s"$dir.retrain.old")))
    SimilarityOps.deleteFromIvfIndex(spark, dir, Seq(full.head))
    assert(!Files.exists(Paths.get(s"$dir.retrain.old")))
    val masked = probe()
    assert(masked.take(full.length - 1) == full.tail && masked.length == 8,
      s"delete not applied: $full -> $masked")
    // every row is back in `dir`, so no later retrain can drop it with
    // the `.retrain.old` copy
    assert(spark.read.parquet(dir).select("id").collect()
      .map(_.getLong(0)).toSet == (4L until 80L).toSet)
  }

  test("a reader shown either residue of compact's _ids swap answers " +
      "as before the compaction") {
    val dir = tmp("ann_ids_swap")
    SimilarityOps.buildIvfIndex(vecs(0 until 100), "id", "v", 4, dir)
    SimilarityOps.deleteFromIvfIndex(spark, dir, Seq(30L))
    def answers() = SimilarityOps
      .annIvfFromIndexBatch(spark, dir, Seq(20L, 90L), 5, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sorted.toSeq
    val want = answers()
    for (staged <- Seq(true, false)) {
      // crash between the aside-move and the rename; the staged copy
      // `_ids.next` is the purge's (the live ids minus the dead one),
      // adopted by the heal, or absent, and `.old` restored
      Files.move(Paths.get(s"$dir/_ids"), Paths.get(s"$dir/_ids.old"))
      if (staged)
        readSidecar(spark, s"$dir/_ids.old").filter(col("id") =!= 30L)
          .write.parquet(s"$dir/_ids.next")
      assert(answers() == want, s"staged copy present: $staged")
      Seq("_ids.old", "_ids.next").foreach(n =>
        assert(!Files.exists(Paths.get(s"$dir/$n")), s"$n, staged=$staged"))
      assert(Files.exists(Paths.get(s"$dir/_ids")))
    }
    SimilarityOps.compactIvfIndex(spark, dir)
    assert(answers() == want)
    assert(!Files.exists(Paths.get(s"$dir/_ids.next")))
  }

  test("a reader opening inside compact's _ids swap leaves one _ids") {
    val dir = tmp("ann_ids_race")
    SimilarityOps.buildIvfIndex(vecs(0 until 100), "id", "v", 4, dir)
    SimilarityOps.deleteFromIvfIndex(spark, dir, Seq(30L, 60L))
    val want = SimilarityOps
      .annIvfFromIndexBatch(spark, dir, Seq(20L, 90L), 5, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sorted.toSeq
    // the reader's open lands between the writer's aside-move of `_ids`
    // and its adoption of `_ids.next`
    var opened = 0
    graft.sources.IndexLifecycle.betweenRenames = live =>
      if (live.getName == "_ids" && opened == 0) {
        opened += 1
        SimilarityOps.openIndex(spark, dir)
      }
    try SimilarityOps.compactIvfIndex(spark, dir)
    finally graft.sources.IndexLifecycle.betweenRenames = _ => ()
    assert(opened == 1, "the seam never ran")
    def pairs(df: DataFrame) = df.select("id", "bucket")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    def stored = pairs(spark.read.parquet(dir))
    assert(pairs(readSidecar(spark, s"$dir/_ids")) == stored)
    assert(!stored.exists(r => r._1 == 30L || r._1 == 60L))
    val nested = Files.list(Paths.get(s"$dir/_ids"))
    try assert(nested.iterator().asScala.forall(p => !Files.isDirectory(p)),
      "a directory nested inside _ids")
    finally nested.close()
    Seq("_ids.old", "_ids.next", "_ids.tmp").foreach(n =>
      assert(!Files.exists(Paths.get(s"$dir/$n")), n))
    assert(SimilarityOps
      .annIvfFromIndexBatch(spark, dir, Seq(20L, 90L), 5, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sorted.toSeq == want)
  }
}
