package graftbench

import graft.SparkEntry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** text_pipeline: training-data queries from `SparkEntry.queries` over a
  * corpus derived from the benchmark's base sample by a seeded,
  * structure-preserving remap (see `corpus.py`). Each op is fully
  * materialized through an xxhash64 fold over every output column, so
  * column pruning cannot skip work. The cold pass writes every result for
  * the DuckDB oracle check (run after the JVM exits) and records its fold;
  * each timed op must reproduce that fold.
  */
object TextPipeline {
  /** 8 of 24 candidate training-data queries. All 24 cost about 80 s per
    * run on 4 cores (a 50 s cold pass, then 20 s per warm pass), and a
    * steady median needs three warm passes, which a run short enough to
    * sit next to the grid workloads cannot hold. Kept: the
    * optimization targets named in ROADMAP (ngram_dup_spans,
    * approx_stats, bpe_train), every index read (bloom, IVF), an
    * iterative operator with a native expression (perceptron_train) and
    * a native hash self-join (simhash_pairs).
    */
  val Ops = Seq("ngram_dup_spans", "approx_stats", "bpe_train",
    "perceptron_train", "bloom_bulk_membership", "dedup_incremental_bloom",
    "ann_ivf_index_batch", "simhash_pairs")

  val MinPasses = 3

  /** xor of xxhash64 over every column of every row, and the row count. */
  def fold(d: DataFrame): DataFrame = {
    val cols = d.columns.toSeq.map(n => col("`" + n.replace("`", "``") + "`"))
    d.select(xxhash64(cols: _*).as("h"))
      .agg(expr("bit_xor(h)"), count(lit(1)))
  }

  /** `dir` holds the corpus `run.py` derived from the seed, which took
    * `inputsSeconds`; it counts as this run's input set-up.
    */
  def run(h: Harness, dir: String, inputsSeconds: Double): Unit = {
    val rng = new scala.util.Random(h.args.seed)
    val results = s"${h.args.work}/text/results"
    val ref = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
    h.setup(
      session = h.startSession(),
      inputs = (),
      cold = rng.shuffle(Ops).foreach { name =>
        h.op(name, "query") { c =>
          val path = s"$results/$name"
          val d = c.build(SparkEntry.queries(name)(h.spark, dir))
          c.action(d.write.mode("overwrite").parquet(path))
          val r = fold(h.spark.read.parquet(path)).head()
          ref(name) = (r.getLong(0), r.getLong(1))
        }
      })
    h.amendSetup(_.copy(inputs = inputsSeconds))
    def rows(t: String): Long = h.spark.read.parquet(s"$dir/$t.parquet").count()
    val nDocs = rows("documents")
    h.context ++= Seq("corpus_docs" -> nDocs,
      "corpus_vectors" -> rows("embeddings"),
      "corpus_bytes" -> Files.treeBytes(dir))
    h.context("oracle") = Map("corpus" -> dir, "results" -> results,
      "sql" -> Ops.map(n => n -> SparkEntry.oracleSql(n)).toMap)

    def runOp(name: String, expect: Option[(Long, Long)]): Unit =
      h.op(name, "query") { c =>
        c.items = nDocs.toDouble / Ops.size
        val d = c.build(SparkEntry.queries(name)(h.spark, dir))
        val r = c.action(c.plan(fold(d)).collect())(0)
        val got = (r.getLong(0), r.getLong(1))
        c.check(expect.contains(got), s"fold $got != $expect")
      }
    h.timed(MinPasses)(_ =>
      rng.shuffle(Ops).foreach(n => runOp(n, ref.get(n))))
    val probe = h.probe(runOp("simhash_pairs",
      ref.get("simhash_pairs").map { case (x, n) => (x ^ 1L, n) }))
    h.selfChecks("corrupted_expectation_detected") =
      probe.nonEmpty && probe.forall(!_._2)
  }
}
