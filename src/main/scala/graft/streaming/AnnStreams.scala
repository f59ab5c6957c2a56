package graft.streaming

import graft.functions.GraftFunctions
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}

/** STREAMING head and tail of the stored IVF index — the shapes that
  * close the lifecycle end to end: build (`buildIvfIndex`) → ingest a
  * CONTINUOUS vector stream ([[ingestSink]], each micro-batch an
  * O(batch) `appendToIvfIndex`) → delete (`deleteFromIvfIndex`) →
  * maintain (`compactIvfIndex`) → serve a CONTINUOUS probe stream
  * ([[probeStream]]), answers flowing to any streaming sink.
  */
object AnnStreams {

  /** A foreachBatch writer quantizing each micro-batch of (id: long,
    * v: array<double>) rows against the index's immutable `_codebook`
    * and appending it to the bucket directories — the streaming head
    * of daily ANN ingest. Call `.start()` (+ checkpointLocation for
    * restart semantics).
    *
    * Replay-safe: foreachBatch is at-least-once, so ids the index
    * already carries are dropped before appending (a replayed batch
    * becomes a no-op instead of duplicated rows — effectively-once
    * without checkpoint coupling), and a batch repeating an id
    * INTERNALLY keeps one arbitrary row (the dedup contract, as with
    * `dedup_incremental`). The membership check is batch-bounded: the
    * batch's distinct ids collect driver-side (≤ batch rows), bounded
    * lists filter the `_ids` sidecar with a literal isin — which
    * pushes into its sorted per-file min/max stats, a metadata-sized
    * lookup — and larger batches fall back to a broadcast semi-join
    * (one sidecar scan of 2 longs/row, amortized across the batch).
    * TOMBSTONED ids are dropped the same way — a replayed insert must
    * not resurrect a delete (delete wins), matching the batch-append
    * contract that re-adding a tombstoned id before the next compact
    * is unsupported. The crash window between appendToIvfIndex's data
    * write and its `_ids` extension is ALSO covered: surviving
    * candidates are quantized first and their predicted buckets
    * checked for the ids directly (assignment is deterministic, so a
    * data-committed-but-sidecar-lost row is exactly there) — such rows
    * are not re-appended, and their missing sidecar entries are
    * repaired from the stored data, so the replay heals the index
    * instead of duplicating into it.
    */
  def ingestSink(vecs: DataFrame, indexDir: String): DataStreamWriter[Row] =
    vecs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, _: Long) => ingestBatch(batch, indexDir)
    }

  /** One ingest micro-batch; see [[ingestSink]]. */
  def ingestBatch(batch: DataFrame, indexDir: String): Unit = {
    import graft.operators.SimilarityOps
    import graft.sources.IndexLifecycle
    val spark = batch.sparkSession
    val cb = SimilarityOps.openIndex(spark, indexDir)
    if (batch.isEmpty) return
    import spark.implicits._
    val known = IndexLifecycle.readSidecar(spark, s"$indexDir/_ids")
      .select("id")
    // batch-bounded driver-side id list; one row kept per id
    val deduped = batch.dropDuplicates("id").localCheckpoint()
    val batchIdSeq = deduped.select("id").collect().map(_.getLong(0)).toSeq
    val candidates =
      IndexLifecycle.tombstones(spark, indexDir, "id").fold(known)(known.union)
    val drop = (if (batchIdSeq.length <= 1000)
      candidates.filter(col("id").isin(batchIdSeq: _*))
    else candidates.join(broadcast(batchIdSeq.toDF("id")), "id"))
      .collect().map(_.getLong(0)).toSet
    val fresh0 = batchIdSeq.filterNot(drop)
    if (fresh0.isEmpty) return
    val freshDf = fresh0.toDF("id")
    val assigned = SimilarityOps.assignForIndex(
      deduped.join(broadcast(freshDf), "id").select(col("id"), col("v")),
      cb).localCheckpoint()
    // crash-window check: ids whose DATA landed but whose sidecar
    // extension did not — look only in the predicted buckets
    // (partition-pruned; assignment is deterministic, so that is the
    // only place a prior attempt can have put them)
    val buckets = assigned.select("bucket").distinct()
      .collect().map(_.getInt(0)).toSeq
    val committed = spark.read.parquet(indexDir)
      .filter(col("bucket").isin(buckets: _*))
      .join(broadcast(freshDf), "id")
      .select(col("id"), col("bucket"))
      .localCheckpoint()
    val committedIds = committed.select("id")
      .collect().map(_.getLong(0)).toSet
    if (committedIds.nonEmpty) {
      // repair the lost sidecar entries from the stored truth
      SimilarityOps.extendIdsSidecar(committed, indexDir)
    }
    val toAppend =
      if (committedIds.isEmpty) assigned
      else assigned.join(
        broadcast(committedIds.toSeq.toDF("id")), Seq("id"), "left_anti")
    if (!toAppend.isEmpty)
      SimilarityOps.appendAssigned(toAppend, indexDir)
  }

  /** Answer a stream of (pid, pv) probe vectors with each probe's
    * exact top-k over its `nprobe` nearest index cells.
    *
    * Scale shape: the codebook is collected once at plan time
    * (nCentroids rows — metadata-sized by construction) and broadcast
    * into a per-row cell-assignment function whose fold order matches
    * the batch paths' (`dot(pv,c)/|c|`, ties to the lowest cid), so a
    * streamed probe's answer is bit-identical to
    * [[graft.operators.SimilarityOps.annIvfFromIndexVector]] over the
    * same index. Candidates form through a STREAM-STATIC equi-join on
    * the assigned cell — stateless, re-planned per micro-batch against
    * the bucket-partitioned static scan — and per-probe top-k runs in
    * a heap-bounded flatMapGroupsWithState that keeps NO state at all:
    * a stream-static join never splits one probe's candidates across
    * micro-batches, so each group is complete when seen. No watermark
    * needed, Append output, state size zero.
    *
    * In: streaming (pid: long, pv: array<double>). Out: streaming
    * (pid, id, cosine), ≤ k rows per probe, no self-exclusion (the
    * probe is a request-time vector, not a stored row).
    */
  def probeStream(probes: DataFrame, indexDir: String, k: Int,
      nprobe: Int): DataFrame = {
    require(k >= 1, s"k=$k")
    require(nprobe >= 1, s"nprobe=$nprobe")
    val spark = probes.sparkSession
    import spark.implicits._
    // the open heals first, so cells rank against the codebook the
    // healed index actually serves
    val cb = graft.operators.SimilarityOps.openIndex(spark, indexDir)
    val cents = cb.map { case (cid, cv) => (cid.toInt, cv) }
    require(cents.length >= nprobe,
      s"codebook has ${cents.length} centroids < nprobe=$nprobe")
    val bc = spark.sparkContext.broadcast(cents)
    // sequential fold — the same accumulation order as dot_f64 and the
    // driver-side codebookCells fold, so cell ranking is bit-identical
    val cellsOf = udf((v: Seq[Double]) => {
      val pv = v.toArray
      def d(a: Array[Double], b: Array[Double]): Double = {
        var s = 0.0; var i = 0
        while (i < a.length) { s += a(i) * b(i); i += 1 }
        s
      }
      bc.value.map { case (cid, cv) =>
        (cid, d(cv, pv) / math.sqrt(d(cv, cv)))
      }.sortBy { case (cid, s) => (-s, cid) }.take(nprobe).map(_._1)
    })
    val dot = GraftFunctions.dot_f64 _
    // tombstone-masked (deleted rows never surface as candidates);
    // note the mask is resolved at PLAN time like the static scan
    // itself — deletes landing mid-stream apply from the next (re)start
    val stored = graft.operators.SimilarityOps.liveIndex(spark, indexDir, cb)
    val cand = probes
      .select(col("pid"), col("pv"))
      .withColumn("pn", sqrt(dot(col("pv"), col("pv"))))
      .withColumn("cid", explode(cellsOf(col("pv"))))
      .join(stored, col("bucket") === col("cid")) // stream-static
      .select(col("pid"), col("id"),
        (dot(col("v"), col("pv")) /
          (sqrt(dot(col("v"), col("v"))) * col("pn"))).as("cosine"))
    cand.as[(Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(
        (pid: Long, rows: Iterator[(Long, Long, Double)],
         state: GroupState[Boolean]) => {
          // min-heap of the k best, worst on top; ties (cosine desc,
          // id asc) match every batch ANN path
          val worstFirst = Ordering.by[(Long, Long, Double), (Double, Long)](
            r => (r._3, -r._2)).reverse
          val heap = scala.collection.mutable.PriorityQueue
            .empty[(Long, Long, Double)](worstFirst)
          rows.foreach { r =>
            heap.enqueue(r)
            if (heap.size > k) heap.dequeue()
          }
          heap.dequeueAll.reverseIterator
            .map((r: (Long, Long, Double)) => (pid, r._2, r._3))
        })
      .toDF("pid", "id", "cosine")
  }
}
