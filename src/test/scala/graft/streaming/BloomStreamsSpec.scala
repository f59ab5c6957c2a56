package graft.streaming

import graft.{SparkTestBase, TempDirs}
import graft.sources.FileBloomIndex
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming ingest into the bloom index: across micro-batches —
  * including a REPLAYED batch — the index must end byte-equivalent in
  * answers to a one-shot build over the distinct union, with no
  * duplicated rows.
  */
class BloomStreamsSpec extends SparkTestBase with TempDirs {

  import spark.implicits._

  private def layout = pmod(hash(col("txt")), lit(4))

  private def docs(ids: Range) =
    ids.map(i => (i.toLong, s"payload $i ${"x" * (i % 5)}"))
      .toDF("id", "txt")

  test("streamed batches + replay == one-shot build, no duplicate rows") {
    val dir = {
      val p = tempDir("bloom_stream")
      s"$p/idx"
    }
    FileBloomIndex.write(docs(0 until 40), "id", layout, dir, 64L)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = BloomStreams.ingestSink(
        input.toDF().toDF("id", "txt"), "id", layout, dir)
      .start()
    try {
      input.addData((40L, "payload 40 "), (41L, "payload 41 x"))
      q.processAllAvailable()
      // replay batch 1 PLUS new keys — the replayed keys must no-op
      input.addData((40L, "payload 40 "), (42L, "payload 42 xx"))
      q.processAllAvailable()
      // a batch repeating a key internally keeps one row
      input.addData((43L, "payload 43 xxx"), (43L, "payload 43 xxx"))
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.read.parquet(s"$dir/data")
    assert(got.count() == 44, s"expected 44 rows, got ${got.count()}")
    assert(got.groupBy("id").count().filter(col("count") > 1).count() == 0,
      "replay must not duplicate rows")
    for (k <- Seq("0", "40", "42", "43")) {
      val hit = FileBloomIndex.lookup(spark, dir, "id", k)
        .select("id").collect().map(_.getLong(0)).toSeq
      assert(hit == Seq(k.toLong), s"key $k: got $hit")
    }
    assert(FileBloomIndex.lookup(spark, dir, "id", "99").count() == 0)
  }
}
