package graft.streaming

import graft.SparkTestBase
import graft.operators.{IvfFixtures, SimilarityOps}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming retrieval over the stored IVF index: every streamed
  * probe's rows must equal the batch probe-by-vector answer over the
  * same index, across micro-batches, with zero retained state.
  */
class AnnStreamsSpec extends SparkTestBase with IvfFixtures {

  import spark.implicits._

  private def probeVec(seed: Int): Seq[Double] = {
    val r = new scala.util.Random(seed * 7919L + 13)
    Seq.fill(dim)(r.nextDouble() * 2 - 1)
  }

  /** Per-probe (id, cosine) rows of a memory-sink table. */
  private def streamed(table: String): Map[Long, Seq[(Long, Double)]] =
    spark.table(table).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).map { case (pid, rs) =>
        pid -> rs.map(r => (r._2, r._3)).toSeq.sortBy(t => (-t._2, t._1))
      }

  private def batchAnswer(dir: String, seed: Int): Seq[(Long, Double)] =
    SimilarityOps.annIvfFromIndexVector(spark, dir, probeVec(seed).toArray,
        5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      .sortBy(t => (-t._2, t._1))

  test("streamed probes answer identically to batch probe-by-vector") {
    val dir = tmp("ann_stream")
    SimilarityOps.buildIvfIndex(vecs(0 until 120), "id", "v", 4, dir)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Seq[Double])]
    val out = AnnStreams.probeStream(
      input.toDF().toDF("pid", "pv"), dir, k = 5, nprobe = 2)
    val q = out.writeStream.format("memory").queryName("ann_probe_out")
      .outputMode("append").start()
    try {
      // two micro-batches; probe 200/201/202 are request-time vectors
      // (200 coincides with stored row 200? ids stop at 119 — no
      // stored self anywhere)
      input.addData((200L, probeVec(200)), (201L, probeVec(201)))
      q.processAllAvailable()
      input.addData((202L, probeVec(202)))
      q.processAllAvailable()
      val got = streamed("ann_probe_out")
      assert(got.keySet == Set(200L, 201L, 202L))
      Seq(200, 201, 202).foreach { s =>
        assert(got(s.toLong) == batchAnswer(dir, s),
          s"probe $s diverged from batch answer")
      }
      // stateless by construction: the group function never stores
      // anything, so the state store holds zero rows after both batches
      val progress = q.lastProgress
      val stateRows = Option(progress).toSeq
        .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal).sum
      assert(stateRows == 0L, s"retrieval retained $stateRows state rows")
    } finally q.stop()
  }

  test("streamed ingest: replays and tombstoned ids drop; index == rebuild") {
    val dir = tmp("ann_ingest")
    SimilarityOps.buildIvfIndex(vecs(0 until 120), "id", "v", 4, dir)
    implicit val sqlCtx = spark.sqlContext
    def pairs(ids: Seq[Int]): Seq[(Long, Seq[Double])] = ids.map { i =>
      val r = new scala.util.Random(i * 7919L + 13)
      (i.toLong, Seq.fill(dim)(r.nextDouble() * 2 - 1))
    }
    val input = MemoryStream[(Long, Seq[Double])]
    val q = AnnStreams.ingestSink(input.toDF().toDF("id", "v"), dir).start()
    try {
      // 135 arrives twice WITHIN the first batch: one arbitrary row
      // survives (the dedup contract) — with identical payloads here,
      // so content stays deterministic
      input.addData(pairs((120 until 140) :+ 135): _*)
      q.processAllAvailable()
      // a delete lands mid-stream...
      SimilarityOps.deleteFromIvfIndex(spark, dir, Seq(125L))
      // ...then the next batch replays 130..139, attempts to resurrect
      // the tombstoned 125, and brings genuinely new rows 140..149
      input.addData(pairs((130 until 150) :+ 125): _*)
      q.processAllAvailable()
    } finally q.stop()
    // no id appears twice (the replay was dropped, not re-appended)
    assert(spark.read.parquet(dir).groupBy("id").count()
      .filter(col("count") > 1).count() == 0L)
    // content equals a one-shot rebuild over the whole union — the
    // shared assignToCodebook scoring rule makes this row-for-row, and
    // the tombstoned 125 was NOT resurrected (only its original,
    // pre-delete row remains, still masked by the tombstone)
    val rebuilt = tmp("ann_ingest_rebuild")
    SimilarityOps.buildIvfIndex(vecs(0 until 150), "id", "v", 4, rebuilt)
    def rows(d: String) = spark.read.parquet(d)
      .select("id", "bucket", "v").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2)))
      .sortBy(_._1).toSeq
    assert(rows(dir) == rows(rebuilt))
    // probes see the live set: 125 masked, the streamed rows present
    val got = SimilarityOps
      .annIvfFromIndexMultiProbe(spark, dir, 60L, 200, 4)
      .collect().map(_.getLong(0)).toSet
    assert(!got.contains(125L))
    assert(got.contains(145L) && got.contains(130L))
  }

  test("ingest heals the data-committed/sidecar-lost crash window") {
    val dir = tmp("ann_crash")
    SimilarityOps.buildIvfIndex(vecs(0 until 120), "id", "v", 4, dir)
    // simulate a crash between appendToIvfIndex's data write and its
    // _ids extension: append, then remove exactly the sidecar files
    // the append created
    import scala.jdk.CollectionConverters._
    def idsFiles() = {
      val l = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/_ids"))
      try l.iterator().asScala.map(_.toString).toSet
      finally l.close()
    }
    val before = idsFiles()
    SimilarityOps.appendToIvfIndex(vecs(150 until 160), "id", "v", dir)
    (idsFiles() -- before).foreach(f =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(f)))
    // the replayed batch re-carries 150..159 (data present, sidecar
    // lost) plus genuinely new 160..169
    def pairs(ids: Seq[Int]): Seq[(Long, Seq[Double])] = ids.map { i =>
      val r = new scala.util.Random(i * 7919L + 13)
      (i.toLong, Seq.fill(dim)(r.nextDouble() * 2 - 1))
    }
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Seq[Double])]
    val q = AnnStreams.ingestSink(input.toDF().toDF("id", "v"), dir).start()
    try {
      input.addData(pairs(150 until 170): _*)
      q.processAllAvailable()
    } finally q.stop()
    // no duplicates: the crash-window rows were detected in their
    // predicted buckets and NOT re-appended
    assert(spark.read.parquet(dir).groupBy("id").count()
      .filter(col("count") > 1).count() == 0L)
    // ...and their sidecar entries were repaired from the stored data
    val sidecar = graft.sources.IndexLifecycle.readSidecar(spark,
      s"$dir/_ids")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val truth = spark.read.parquet(dir).select("id", "bucket")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(sidecar == truth)
    assert((150L until 170L).forall(sidecar.contains))
  }

  test("streamed probes rank cells against the healed codebook across " +
      "a pending split") {
    val dir = tmp("ann_stream_split")
    SimilarityOps.buildIvfIndex(vecs(0 until 160), "id", "v", 4, dir)
    val preSplit = filesUnder(dir)
    // the crash state "a split crash after data-apply heals on the next
    // READ" pins: the pre-split codebook is live, the split pending
    rewindSplit(dir, preSplit, splitLargest(dir))
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Seq[Double])]
    val q = AnnStreams.probeStream(
        input.toDF().toDF("pid", "pv"), dir, k = 5, nprobe = 2)
      .writeStream.format("memory").queryName("ann_probe_split")
      .outputMode("append").start()
    try {
      val seeds = 1000 until 1016
      input.addData(seeds.map(s => (s.toLong, probeVec(s))): _*)
      q.processAllAvailable()
      val got = streamed("ann_probe_split")
      val differing = seeds.filter(s =>
        got.getOrElse(s.toLong, Seq.empty) != batchAnswer(dir, s))
      assert(differing.isEmpty,
        s"${differing.size} of ${seeds.size} streamed probes diverged")
    } finally q.stop()
  }
}
