package graft.sources

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._

/** Pins for the file-level bloom index.
  *
  * The two halves of the contract: (1) correctness — lookup equals
  * the full-scan point filter for present keys AND the no-false-
  * negative law holds for every key in the corpus (each key's own
  * bucket is always a candidate); (2) pruning — the lookup's
  * `inputFiles` stay inside the candidate bucket dirs, and candidates
  * are a strict subset of the 16 buckets (the layout is content-hash
  * placed, so min/max zone maps could never prune here: every
  * bucket's doc_id range spans the probe).
  *
  * Round 13 adds the SHARDED sidecar laws: appends rewrite only the
  * shards their batch touches (untouched shards byte-identical),
  * merge == one-shot rebuild per bucket, shard swaps heal from either
  * residue, a legacy `_blooms` sidecar is rejected, and the per-JVM
  * filter memo serves repeated lookups without re-reading a
  * byte of sidecar data.
  */
class FileBloomIndexSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.01"

  private lazy val idx: String = {
    val p = graft.queries.QueryTmp.dir("fbloomspec") + "/idx"
    val docs = Tables.documents(spark, sf)
    FileBloomIndex.write(docs, "doc_id",
      pmod(hash(col("text")), lit(16)), p, 64L)
    p
  }

  test("lookup equals the full-scan point filter") {
    val keys = Seq("7", "137", "499")
    val (gots, logged) = graft.LogCapture.lines(keys.map(key =>
      FileBloomIndex.lookup(spark, idx, "doc_id", key)
        .select("doc_id").collect().map(_.getLong(0)).toSeq))
    // the pending-delete check is an existence check: no failed
    // parquet resolution and its WARNs on an index without deletes;
    // and sidecar reads name no underscore root Spark would ignore,
    // nor any sidecar path at all
    assert(!logged.exists(l => l.contains("_tombstones") ||
      l.contains("All paths were ignored") || l.contains(s"$idx/_")),
      logged.mkString("\n"))
    for ((key, got) <- keys.zip(gots)) {
      val want = Tables.documents(spark, sf)
        .filter(col("doc_id") === key.toLong)
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      assert(got == want, s"key=$key: got $got want $want")
    }
  }

  test("absent key returns zero rows (and survives the empty-candidate path)") {
    val got = FileBloomIndex.lookup(spark, idx, "doc_id", "-1")
    assert(got.count() == 0)
  }

  test("no false negatives: every doc's own bucket is a candidate") {
    val byBucket = Tables.documents(spark, sf)
      .select(col("doc_id"), pmod(hash(col("text")), lit(16)).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1))
    // every 10th key keeps the spec fast; determinism makes the sample
    // as binding as the full set on this fixed corpus
    byBucket.filter(_._1 % 10 == 0).foreach { case (id, b) =>
      val cands = FileBloomIndex.candidateBuckets(spark, idx, id.toString)
      assert(cands.contains(b),
        s"doc_id=$id lives in bucket $b but the bloom rejected it")
    }
  }

  private def fileHashes(root: java.io.File): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(root).filter(_.getName.endsWith(".parquet")).map { f =>
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      f.getAbsolutePath -> java.util.Arrays.hashCode(bytes).toLong
    }.toMap
  }

  /** The writers leave `_blooms.d` as the only sidecar. */
  private def onlyShardRoot(p: String): Unit =
    Seq("_blooms", "_blooms.next", "_blooms.old").foreach(n =>
      assert(!new java.io.File(s"$p/$n").exists(), n))

  private def bloomsOf(d: String): Map[Int, Seq[Byte]] =
    FileBloomIndex.sidecarDf(spark, d)
      .collect().map(r => r.getAs[Int]("bucket") ->
        r.getAs[Array[Byte]]("bloom").toSeq).toMap

  test("append: untouched files byte-identical, merge == one-shot rebuild") {
    val base = graft.queries.QueryTmp.dir("fbloomappend")
    val docs = Tables.documents(spark, sf)
    val layout = pmod(hash(col("text")), lit(16))
    // incremental: first half, then append the rest
    val inc = s"$base/inc"
    FileBloomIndex.write(docs.filter(col("doc_id") < 250),
      "doc_id", layout, inc, 64L)
    onlyShardRoot(inc)
    val before = fileHashes(new java.io.File(s"$inc/data"))
    FileBloomIndex.append(docs.filter(col("doc_id") >= 250),
      "doc_id", layout, inc)
    onlyShardRoot(inc)
    val after = fileHashes(new java.io.File(s"$inc/data"))
    before.foreach { case (p, h) =>
      assert(after.get(p).contains(h),
        s"append touched a pre-existing data file: $p")
    }
    assert(after.size > before.size, "append must add new part files")
    // one-shot over the union, same filter params
    val full = s"$base/full"
    FileBloomIndex.write(docs, "doc_id", layout, full, 64L)
    assert(bloomsOf(inc) == bloomsOf(full),
      "merged sidecar must be byte-identical to the one-shot rebuild " +
        "(bloom bits are a function of the item SET)")
    // and the lookup over the appended index is exact
    for (key <- Seq("7", "300")) {
      val got = FileBloomIndex.lookup(spark, inc, "doc_id", key)
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      assert(got == Seq(key.toLong), s"key=$key: got $got")
    }
  }

  test("append rewrites ONLY the shards its batch touches") {
    val sqlc = spark
    import sqlc.implicits._
    val base = graft.queries.QueryTmp.dir("fbloomshard")
    val p = s"$base/idx"
    def rows(r: Range, b: Int) = r.map(i => (i.toLong, b)).toDF("id", "b")
    // 8 buckets over 4 shards of 2; the append lands in bucket 2 only
    FileBloomIndex.write(
      (0 until 8).map(b => rows(b * 10 until b * 10 + 4, b))
        .reduce(_ union _),
      "id", col("b"), p, 64L, bucketsPerShard = 2)
    val before = fileHashes(new java.io.File(s"$p/_blooms.d"))
    val shardsBefore = new java.io.File(s"$p/_blooms.d").listFiles()
      .map(_.getName).sorted.toSeq
    assert(shardsBefore == Seq("0-1", "2-3", "4-5", "6-7"),
      s"unexpected shard layout: $shardsBefore")
    FileBloomIndex.append(rows(100 until 104, 2), "id", col("b"), p)
    val after = fileHashes(new java.io.File(s"$p/_blooms.d"))
    val untouched = before.keys.filterNot(_.contains("/2-3/"))
    untouched.foreach { f =>
      assert(after.get(f).contains(before(f)),
        s"append rewrote an untouched shard file: $f")
    }
    assert(!after.keySet.exists(k =>
        k.contains("/2-3/") && before.contains(k) &&
          after(k) == before(k)),
      "the touched shard must have been swapped for new files")
    // merged == rebuild, bucket for bucket
    val full = s"$base/full"
    FileBloomIndex.write(
      ((0 until 8).map(b => rows(b * 10 until b * 10 + 4, b)) :+
        rows(100 until 104, 2)).reduce(_ union _),
      "id", col("b"), full, 64L, bucketsPerShard = 2)
    assert(bloomsOf(p) == bloomsOf(full))
    // and the appended keys are searchable
    assert(FileBloomIndex.lookup(spark, p, "id", "101")
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(101L))
  }

  test("both lookup branches return the data schema (no fbib, hit or miss)") {
    val hit = FileBloomIndex.lookup(spark, idx, "doc_id", "7")
    val miss = FileBloomIndex.lookup(spark, idx, "doc_id", "-1")
    assert(hit.columns.toSeq == miss.columns.toSeq,
      s"branch schemas differ: ${hit.columns.toSeq} vs ${miss.columns.toSeq}")
    assert(!hit.columns.contains("fbib"),
      "the internal partition column must not leak")
  }

  test("an interrupted shard swap heals from either side") {
    val base = graft.queries.QueryTmp.dir("fbloomheal")
    val docs = Tables.documents(spark, sf)
    val layout = pmod(hash(col("text")), lit(16))
    val p = s"$base/idx"
    FileBloomIndex.write(docs, "doc_id", layout, p, 64L)
    val want = FileBloomIndex.candidateBuckets(spark, p, "7")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(p), spark.sparkContext.hadoopConfiguration)
    def hp(s: String) = new org.apache.hadoop.fs.Path(s)
    val shard = s"$p/_blooms.d/0-7"
    // crash between "cur -> old" and "next -> cur": only .old exists
    fs.rename(hp(shard), hp(s"$shard.old"))
    assert(FileBloomIndex.candidateBuckets(spark, p, "7") == want,
      "roll-back from <shard>.old must restore the shard")
    // crash after writing .next but before any rename: cur AND next —
    // the read side keeps serving cur (heal is a no-op)
    fs.mkdirs(hp(s"$shard.next"))
    assert(FileBloomIndex.candidateBuckets(spark, p, "7") == want)
    fs.delete(hp(s"$shard.next"), true)
    // crash between the two renames with next fully written: adopt it
    fs.rename(hp(shard), hp(s"$shard.next"))
    assert(FileBloomIndex.candidateBuckets(spark, p, "7") == want,
      "roll-forward from <shard>.next must adopt the new shard")
    assert(!fs.exists(hp(s"$shard.next")) && fs.exists(hp(shard)),
      "the forward roll must leave only the live shard")
  }

  test("heal with BOTH residues rolls forward and clears the old copy") {
    val base = graft.queries.QueryTmp.dir("fbloomboth")
    val p = s"$base/idx"
    FileBloomIndex.write(Tables.documents(spark, sf), "doc_id",
      pmod(hash(col("text")), lit(16)), p, 64L)
    val want = FileBloomIndex.candidateBuckets(spark, p, "7")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(p), spark.sparkContext.hadoopConfiguration)
    def hp(s: String) = new org.apache.hadoop.fs.Path(s)
    val shard = s"$p/_blooms.d/8-15"
    // crash after cur -> old with next fully written: both residues,
    // no cur — the forward roll must win and drop the old copy
    fs.rename(hp(shard), hp(s"$shard.next"))
    fs.mkdirs(hp(s"$shard.old")) // a stale (empty) old copy
    assert(FileBloomIndex.candidateBuckets(spark, p, "7") == want,
      "forward roll must adopt <shard>.next when both residues exist")
    assert(!fs.exists(hp(s"$shard.old")),
      "the forward roll must clear the stale old copy")
  }

  test("a legacy _blooms sidecar is rejected by every verb, naming write()") {
    val docs = Tables.documents(spark, sf)
    val layout = pmod(hash(col("text")), lit(16))
    val p = graft.queries.QueryTmp.dir("fbloomv1") + "/idx"
    FileBloomIndex.write(docs.filter(col("doc_id") < 250),
      "doc_id", layout, p, 64L)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(p), spark.sparkContext.hadoopConfiguration)
    // coexistence first (`_blooms` beside the shard root), then v1 only
    FileBloomIndex.sidecarDf(spark, p).write.parquet(s"$p/_blooms")
    for (v1Only <- Seq(false, true)) {
      if (v1Only) fs.delete(new org.apache.hadoop.fs.Path(s"$p/_blooms.d"),
        true)
      Seq[() => Any](
        () => FileBloomIndex.lookup(spark, p, "doc_id", "7"),
        () => FileBloomIndex.append(docs.filter(col("doc_id") >= 250),
          "doc_id", layout, p),
        () => FileBloomIndex.delete(spark, p, Seq("7")),
        () => FileBloomIndex.compact(spark, p)).foreach { verb =>
        val ex = intercept[IllegalArgumentException](verb())
        assert(ex.getMessage.contains("write()"), ex.getMessage)
      }
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p/_tombstones")))
    }
  }

  test("filter memo: a repeat lookup reads zero sidecar data bytes") {
    val base = graft.queries.QueryTmp.dir("fbloommemo")
    val p = s"$base/idx"
    FileBloomIndex.write(Tables.documents(spark, sf), "doc_id",
      pmod(hash(col("text")), lit(16)), p, 64L)
    val want = FileBloomIndex.candidateBuckets(spark, p, "137")
    // replace every sidecar parquet's CONTENT with same-length garbage
    // and restore its mtime: the fingerprint (name, mtime, length) is
    // unchanged, so a second lookup must answer from the memo — any
    // re-read would explode on the garbage
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(s"$p/_blooms.d"))
      .filter(_.getName.endsWith(".parquet")).foreach { f =>
        val mtime = f.lastModified()
        val garbage = Array.fill[Byte](f.length().toInt)('x')
        java.nio.file.Files.write(f.toPath, garbage)
        assert(f.setLastModified(mtime))
      }
    assert(FileBloomIndex.candidateBuckets(spark, p, "137") == want,
      "second lookup must serve from the per-JVM memo")
  }

  test("bulk membership: executor-side, exact, null keys dropped") {
    val sqlc = spark
    import sqlc.implicits._
    val docs = Tables.documents(spark, sf)
    val present = docs.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id").cast("string").as("k"))
      .collect().map(_.getString(0)).toSet
    val probes = (docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id").cast("string").as("k"))
      .union(docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000).cast("string").as("k")))
      .union(Seq(Option.empty[String]).toDF("k")))
    val got = FileBloomIndex.existingKeysDf(spark, idx, "doc_id",
      probes, "k").collect().map(_.getString(0)).toSet
    assert(got == present,
      s"bulk membership mismatch: ${got.size} vs ${present.size}")
    // the driver-Set form agrees (it IS the bulk form collected)
    val setForm = FileBloomIndex.existingKeys(spark, idx, "doc_id",
      Seq("7", "14", "1000007", null))
    assert(setForm == Set("7", "14"))
  }

  test("compact: one file per fat bucket, same answers, sidecar untouched") {
    val base = graft.queries.QueryTmp.dir("fbloomcmp")
    val docs = Tables.documents(spark, sf)
    val layout = pmod(hash(col("text")), lit(16))
    val p = s"$base/idx"
    FileBloomIndex.write(docs.filter(col("doc_id") < 250),
      "doc_id", layout, p, 64L)
    FileBloomIndex.append(docs.filter(col("doc_id") >= 250),
      "doc_id", layout, p)
    val sidecarBefore = fileHashes(new java.io.File(s"$p/_blooms.d"))
    val before = FileBloomIndex.lookup(spark, p, "doc_id", "300")
      .collect().map(_.toSeq).toSeq
    def filesPerBucket: Map[String, Int] = {
      val root = new java.io.File(s"$p/data")
      root.listFiles().filter(f => f.isDirectory &&
          f.getName.startsWith("fbib=")).map { d =>
        d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))
      }.toMap
    }
    assert(filesPerBucket.values.max > 1,
      "the append must have fragmented at least one bucket")
    FileBloomIndex.compact(spark, p)
    assert(filesPerBucket.values.max == 1,
      s"compaction must leave one file per bucket: $filesPerBucket")
    val after = FileBloomIndex.lookup(spark, p, "doc_id", "300")
      .collect().map(_.toSeq).toSeq
    assert(after == before, "compaction must not change lookup answers")
    assert(fileHashes(new java.io.File(s"$p/_blooms.d")) == sidecarBefore,
      "compaction must leave the sidecar byte-identical")
  }

  test("append introducing a brand-new bucket is searchable and merge == rebuild") {
    val sqlc = spark
    import sqlc.implicits._
    val base = graft.queries.QueryTmp.dir("fbloomnewb")
    val p = s"$base/idx"
    def rows(r: Range, b: Int) =
      r.map(i => (i.toLong, b)).toDF("id", "b")
    // buckets 0/1 at write time; the append lands entirely in a NEW
    // bucket 20 whose SHARD is absent from the original sidecar
    FileBloomIndex.write(rows(0 until 8, 0).union(rows(8 until 16, 1)),
      "id", col("b"), p, 64L)
    FileBloomIndex.append(rows(16 until 24, 20), "id", col("b"), p)
    val hit = FileBloomIndex.lookup(spark, p, "id", "20")
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(hit == Seq(20L), s"new-bucket key must be found, got $hit")
    // merge == rebuild across the new-bucket/new-shard path too
    val full = s"$base/full"
    FileBloomIndex.write(
      rows(0 until 8, 0).union(rows(8 until 16, 1))
        .union(rows(16 until 24, 20)), "id", col("b"), full, 64L)
    assert(bloomsOf(p) == bloomsOf(full))
  }

  test("a lookup racing append's swap-to-data window keeps new buckets") {
    val sqlc = spark
    import sqlc.implicits._
    val p = graft.queries.QueryTmp.dir("fbloomrace") + "/idx"
    def rows(r: Range, b: Int) =
      r.map(i => (i.toLong, b)).toDF("id", "b")
    FileBloomIndex.write(rows(0 until 8, 0).union(rows(8 until 16, 1)),
      "id", col("b"), p, 64L)
    // the racing reader: the swapped sidecar already names bucket 20,
    // but its data dir does not exist yet, so the listing it memoizes
    // under the post-swap digest lacks fbib=20
    FileBloomIndex.afterSidecarSwap = _ =>
      assert(FileBloomIndex.lookup(spark, p, "id", "20").count() == 0)
    try FileBloomIndex.append(rows(16 until 24, 20), "id", col("b"), p)
    finally FileBloomIndex.afterSidecarSwap = _ => ()
    val hit = FileBloomIndex.lookup(spark, p, "id", "20")
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(hit == Seq(20L), s"new-bucket key hidden after append: $hit")
    assert(FileBloomIndex.existingKeys(spark, p, "id", Seq("17", "3")) ==
      Set("17", "3"))
  }

  test("delete masks every read path; purge removes rows physically " +
      "and rebuilds only the touched blooms") {
    val base = graft.queries.QueryTmp.dir("fbloomdel")
    val docs = Tables.documents(spark, sf)
    val layout = pmod(hash(col("text")), lit(16))
    val p = s"$base/idx"
    FileBloomIndex.write(docs, "doc_id", layout, p, 64L,
      bucketsPerShard = 4)
    val dataBefore = fileHashes(new java.io.File(s"$p/data"))
    val dead = Seq("7", "300", "999999") // the last is absent: no-op
    FileBloomIndex.delete(spark, p, dead)
    onlyShardRoot(p)
    // the delete itself rewrites nothing
    assert(fileHashes(new java.io.File(s"$p/data")) == dataBefore,
      "delete must be a sidecar append, not a data rewrite")
    // masked: lookups and membership stop seeing the keys, live keys
    // unaffected
    assert(FileBloomIndex.lookup(spark, p, "doc_id", "7").count() == 0)
    assert(FileBloomIndex.lookup(spark, p, "doc_id", "300").count() == 0)
    assert(FileBloomIndex.lookup(spark, p, "doc_id", "8").count() == 1)
    assert(FileBloomIndex.existingKeys(spark, p, "doc_id",
      Seq("7", "8", "300")) == Set("8"))
    // PURGE: rows physically gone, tombstones cleared, blooms of the
    // touched buckets equal a fresh build over the survivors
    val sidecarBefore = fileHashes(new java.io.File(s"$p/_blooms.d"))
    val touched = Seq("7", "300")
      .map(k => FileBloomIndex.candidateBuckets(spark, p, k))
    FileBloomIndex.compact(spark, p)
    onlyShardRoot(p)
    assert(!new java.io.File(s"$p/_tombstones").exists(),
      "purge must clear the tombstone sidecar")
    val ids = spark.read.parquet(s"$p/data").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(!ids.contains(7L) && !ids.contains(300L) && ids.contains(8L))
    // answers identical to the masked reads
    assert(FileBloomIndex.lookup(spark, p, "doc_id", "7").count() == 0)
    assert(FileBloomIndex.lookup(spark, p, "doc_id", "8").count() == 1)
    // bloom parity: purged sidecar == one-shot build over survivors
    val full = s"$base/full"
    FileBloomIndex.write(
      docs.filter(!col("doc_id").isin(7L, 300L)),
      "doc_id", layout, full, 64L, bucketsPerShard = 4)
    assert(bloomsOf(p) == bloomsOf(full),
      "purged blooms must equal a fresh build over the survivors")
    // only the shards holding the dead keys' buckets were swapped
    val sidecarAfter = fileHashes(new java.io.File(s"$p/_blooms.d"))
    val touchedShards = touched.flatten.map(b => (b / 4) * 4)
      .map(lo => s"/${lo}-${lo + 3}/").toSet
    sidecarBefore.filterNot { case (f, _) =>
      touchedShards.exists(f.contains) }.foreach { case (f, h) =>
      assert(sidecarAfter.get(f).contains(h),
        s"purge rewrote a shard outside the touched set: $f")
    }
    // a second compact is a no-op (no tombstones, no fat buckets)
    val after = fileHashes(new java.io.File(s"$p/data"))
    FileBloomIndex.compact(spark, p)
    assert(fileHashes(new java.io.File(s"$p/data")) == after)
  }

  test("purge that empties a bucket removes its dir and bloom row") {
    val sqlc = spark
    import sqlc.implicits._
    val base = graft.queries.QueryTmp.dir("fbloomempt")
    val p = s"$base/idx"
    def rows(r: Range, b: Int) = r.map(i => (i.toLong, b)).toDF("id", "b")
    FileBloomIndex.write(
      rows(0 until 4, 0).union(rows(10 until 14, 1))
        .union(rows(20 until 24, 8)),
      "id", col("b"), p, 64L, bucketsPerShard = 4)
    // kill bucket 1 entirely (its shard 0-3 keeps bucket 0) and
    // bucket 8 entirely (emptying shard 8-11 outright)
    FileBloomIndex.delete(spark, p,
      (10L until 14L).map(_.toString) ++ (20L until 24L).map(_.toString))
    FileBloomIndex.compact(spark, p)
    assert(!new java.io.File(s"$p/data/fbib=1").exists(),
      "emptied bucket dir must be removed")
    assert(!new java.io.File(s"$p/data/fbib=8").exists())
    assert(!new java.io.File(s"$p/_blooms.d/8-11").exists(),
      "a shard left bucket-less must be deleted")
    assert(bloomsOf(p).keySet == Set(0),
      s"sidecar must keep only bucket 0, got ${bloomsOf(p).keySet}")
    assert(FileBloomIndex.lookup(spark, p, "id", "2")
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(FileBloomIndex.lookup(spark, p, "id", "11").count() == 0)
  }

  test("delete wins over re-ingest until purged (the streaming contract)") {
    val sqlc = spark
    import sqlc.implicits._
    val base = graft.queries.QueryTmp.dir("fbloomdelwin")
    val p = s"$base/idx"
    val rows = (0L until 16L).map(i => (i, (i % 4).toInt)).toDF("id", "b")
    FileBloomIndex.write(rows, "id", col("b"), p, 64L)
    FileBloomIndex.delete(spark, p, Seq("5"))
    // a replayed/re-appended batch containing the tombstoned key must
    // drop it (otherwise the next purge silently destroys the new row)
    graft.streaming.BloomStreams.ingestBatch(
      Seq((5L, 1), (99L, 3)).toDF("id", "b"), "id", col("b"), p)
    assert(FileBloomIndex.lookup(spark, p, "id", "99").count() == 1,
      "the live part of the batch must ingest")
    assert(FileBloomIndex.lookup(spark, p, "id", "5").count() == 0)
    FileBloomIndex.compact(spark, p)
    assert(spark.read.parquet(s"$p/data").filter(col("id") === 5L)
      .count() == 0, "no masked row may survive the purge")
    // after the purge the key can re-ingest
    graft.streaming.BloomStreams.ingestBatch(
      Seq((5L, 1)).toDF("id", "b"), "id", col("b"), p)
    assert(FileBloomIndex.lookup(spark, p, "id", "5").count() == 1)
  }

  test("reads survive a bloom naming a bucket whose dir a crashed " +
      "purge removed") {
    val sqlc = spark
    import sqlc.implicits._
    val base = graft.queries.QueryTmp.dir("fbloomcrash")
    val p = s"$base/idx"
    val rows = (0L until 16L).map(i => (i, (i % 4).toInt)).toDF("id", "b")
    FileBloomIndex.write(rows, "id", col("b"), p, 64L)
    // simulate the purge crash window: bucket 2's data dir is gone but
    // the (old) sidecar still names it, and the tombstones still mask
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(p), spark.sparkContext.hadoopConfiguration)
    FileBloomIndex.delete(spark, p, Seq("2", "6", "10", "14"))
    fs.delete(new org.apache.hadoop.fs.Path(s"$p/data/fbib=2"), true)
    // every read path answers instead of throwing PATH_NOT_FOUND
    assert(FileBloomIndex.lookup(spark, p, "id", "2").count() == 0)
    assert(FileBloomIndex.lookup(spark, p, "id", "1").count() == 1)
    assert(FileBloomIndex.existingKeys(spark, p, "id",
      Seq("1", "2", "5")) == Set("1", "5"))
    // ...and the REPLAYED compact completes the purge cleanly
    FileBloomIndex.compact(spark, p)
    assert(!new java.io.File(s"$p/_tombstones").exists())
    assert(FileBloomIndex.lookup(spark, p, "id", "1").count() == 1)
    assert(FileBloomIndex.lookup(spark, p, "id", "6").count() == 0)
  }

  test("purging EVERY key completes and leaves a readable empty index") {
    val sqlc = spark
    import sqlc.implicits._
    val base = graft.queries.QueryTmp.dir("fbloomall")
    val p = s"$base/idx"
    val rows = (0L until 12L).map(i => (i, (i % 3).toInt)).toDF("id", "b")
    FileBloomIndex.write(rows, "id", col("b"), p, 64L)
    FileBloomIndex.delete(spark, p, (0L until 12L).map(_.toString))
    FileBloomIndex.compact(spark, p) // must not wedge on zero shards
    assert(!new java.io.File(s"$p/_tombstones").exists(),
      "the whole-index purge must still clear the tombstones")
    assert(FileBloomIndex.candidateBuckets(spark, p, "3").isEmpty,
      "an all-purged index answers every probe with zero candidates")
    assert(FileBloomIndex.existingKeys(spark, p, "id", Seq("3")).isEmpty)
    assert(!new java.io.File(s"$p/data/fbib=0").exists(),
      "emptied bucket dirs must be swept")
    // a second compact stays a no-op
    FileBloomIndex.compact(spark, p)
  }

  test("the orphan sweep heals a crashed purge on REPLAY (touched empty)") {
    val sqlc = spark
    import sqlc.implicits._
    val base = graft.queries.QueryTmp.dir("fbloomorph")
    val p = s"$base/idx"
    def rows(r: Range, b: Int) = r.map(i => (i.toLong, b)).toDF("id", "b")
    FileBloomIndex.write(rows(0 until 4, 0).union(rows(10 until 14, 1)),
      "id", col("b"), p, 64L)
    // crash state AFTER run 1's sidecar swap but BEFORE its dir
    // delete: bucket 1's bloom row is gone, its dir lingers with
    // dead-only rows, tombstones still pending
    FileBloomIndex.delete(spark, p, (10L until 14L).map(_.toString))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(p), spark.sparkContext.hadoopConfiguration)
    // simulate by rebuilding the sidecar over bucket 0 only, keeping
    // bucket 1's dir on disk
    val keep = FileBloomIndex.sidecarDf(spark, p)
      .filter(col("bucket") === 0).localCheckpoint()
    fs.delete(new org.apache.hadoop.fs.Path(s"$p/_blooms.d"), true)
    val shard0 = s"$p/_blooms.d/0-7"
    keep.coalesce(1).write.parquet(shard0)
    assert(new java.io.File(s"$p/data/fbib=1").exists())
    // the REPLAYED compact finds no touched buckets (blooms no longer
    // name bucket 1) — the unconditional sweep must still remove the
    // orphan and clear the tombstones
    FileBloomIndex.compact(spark, p)
    assert(!new java.io.File(s"$p/data/fbib=1").exists(),
      "replayed compact must sweep the orphaned bucket dir")
    assert(!new java.io.File(s"$p/_tombstones").exists())
    assert(FileBloomIndex.lookup(spark, p, "id", "2")
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("pruning: candidates are a strict subset and inputFiles stay inside") {
    val cands = FileBloomIndex.candidateBuckets(spark, idx, "7")
    assert(cands.nonEmpty && cands.size < 16,
      s"expected real pruning, got ${cands.size}/16 buckets")
    info(s"doc_id=7 candidates: ${cands.size}/16 buckets")
    val files = FileBloomIndex.lookup(spark, idx, "doc_id", "7").inputFiles
    val allowed = cands.map(b => s"/data/fbib=$b/")
    assert(files.nonEmpty)
    files.foreach { f =>
      assert(allowed.exists(f.contains),
        s"read outside the candidate buckets: $f")
    }
  }
}
