package graft.streaming

import graft.sources.{FileBloomIndex, IndexLifecycle}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming ingest into a [[graft.sources.FileBloomIndex]] — the
  * third member of the streaming-ingest trio (zarr append sink, IVF
  * index ingest, and now the bloom point-lookup index), so a
  * continuously-arriving corpus stays point-searchable without batch
  * rebuilds.
  *
  * Replay-safe: foreachBatch is at-least-once, so keys the index
  * already carries are dropped before appending (a replayed batch is
  * a no-op instead of duplicated rows), and a batch repeating a key
  * INTERNALLY keeps one arbitrary row — the dedup contract, as with
  * the IVF ingest sink. The membership test is executor-side and
  * batch-bounded ([[FileBloomIndex.existingKeysDf]]: memoized sidecar
  * filters broadcast + one pruned read of candidate buckets; the
  * replay drop is an anti-join, so a fully-replayed batch never
  * builds a key-sized literal list). The sidecar-first crash
  * discipline of
  * [[FileBloomIndex.append]] composes with replay: a crash between
  * the sidecar swap and the data write leaves keys whose blooms
  * match but whose rows are absent — the exact membership check
  * correctly reports them missing, so the replayed batch re-appends
  * them (self-healing), while the bloom re-merge is a bitwise no-op.
  *
  * `layout` must be deterministic (the [[FileBloomIndex.append]]
  * requirement).
  */
object BloomStreams {

  def ingestSink(rows: DataFrame, keyCol: String, layout: Column,
      indexDir: String): DataStreamWriter[Row] =
    rows.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, _: Long) =>
        ingestBatch(batch, keyCol, layout, indexDir)
    }

  /** One ingest micro-batch; see [[ingestSink]]. */
  def ingestBatch(batch: DataFrame, keyCol: String, layout: Column,
      indexDir: String): Unit = {
    val spark = batch.sparkSession
    val b = batch.dropDuplicates(keyCol).localCheckpoint(true)
    if (b.isEmpty) return
    // a null-keyed row would be appended but never indexed (BloomAgg
    // skips nulls at build), i.e. silently unfindable AND re-appended
    // on every replay (the membership check can never see it) — reject
    // loudly instead of either silent failure
    require(b.filter(col(keyCol).isNull).isEmpty,
      s"null $keyCol keys cannot be bloom-indexed — drop or key them " +
        "upstream")
    // tombstoned keys drop FIRST — delete wins over a replayed (or
    // fresh) insert, exactly the AnnStreams ingest rule: without this
    // a deleted key's re-arrival would append a masked row that the
    // next purge silently destroys
    val live = IndexLifecycle.masked(spark, indexDir, "k", b,
      b(keyCol).cast("string"))
    // replayed keys drop via a relational anti-join against the bulk
    // membership frame — never an isin literal (a fully-replayed batch
    // would put EVERY key in the list and explode the plan)
    val existing = FileBloomIndex.existingKeysDf(spark, indexDir, keyCol,
      live.select(col(keyCol).cast("string").as("k")), "k")
    // batch-sized checkpoint: append executes its input TWICE (bloom
    // groupBy + data write) and isEmpty adds a third run — without the
    // pin each would replay the pruned confirm read and both
    // anti-joins (the appendAssigned lesson)
    val fresh = live.join(existing,
      live(keyCol).cast("string") === existing("k"), "left_anti")
      .localCheckpoint(true)
    if (!fresh.isEmpty)
      FileBloomIndex.append(fresh, keyCol, layout, indexDir)
  }
}
