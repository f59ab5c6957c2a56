package graft.queries

import graft.{SparkEntry, SparkTestBase}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._

/** Plan-shape pins for the pipeline queries whose 100 TB viability
  * depends on a specific physical plan, not just a correct answer.
  */
class PipelinePlanSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private val sf = "/root/testdata/sf0.001"

  /** Plans `name` with size-based broadcast disabled and returns the
    * pre-AQE physical plan string. A `broadcast()` HINT survives
    * `autoBroadcastJoinThreshold = -1`; a stats-driven broadcast does
    * not — so asserting "no BroadcastHashJoin on key X" here proves the
    * query carries no corpus-scale broadcast hint while still letting
    * stats/AQE broadcast genuinely small sides in normal runs.
    */
  private def planNoAutoBroadcast(name: String): String = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      SparkEntry.queries(name)(spark, sf).queryExecution.sparkPlan.toString
    } finally spark.conf.set(key, prev)
  }

  test("lsh_candidate_pairs: banded self-join reuses the signature exchange") {
    // the staged read hides the build shape, so pin the build plan
    // itself: the banded (sigs-table) subplan must be computed ONCE and
    // its shuffle reused on the other side of the self-join — reuse
    // shows up as ReusedExchangeExec both with and without AQE
    val df = graft.queries.PipelineQueries.candPairsBuild(spark, sf)
    df.collect() // AQE finalizes stages (incl. reuse) at execution
    val plan = df.queryExecution.executedPlan
    val reused = collectWithSubqueries(plan) { case r: ReusedExchangeExec => r }
    assert(reused.nonEmpty,
      s"signature exchange not reused (banding would run twice):\n$plan")
  }

  test("doc_chunk: pure map-side explode — no exchange at all") {
    val df = SparkEntry.queries("doc_chunk")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"chunking must not shuffle:\n$plan")
  }

  test("global_shuffle: window partitioned by shard, never a global sort") {
    val df = SparkEntry.queries("global_shuffle")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // an unpartitioned Window would plan Exchange SinglePartition
    assert(!plan.contains("SinglePartition"),
      s"global window (single-partition sort) in shuffle plan:\n$plan")
  }

  test("decontam_embed: eval side broadcast; corpus side never shuffles pairs") {
    val plan = planNoAutoBroadcast("decontam_embed")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      s"eval embeddings not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"shuffle cartesian against the corpus:\n$plan")
  }

  test("ann_ivf_bucketed: probe cell is a partition filter at the scan") {
    val df = SparkEntry.queries("ann_ivf_bucketed")(spark, sf)
    val expect = SparkEntry.queries("ann_ivf")(spark, sf).collect()
    assert(df.collect().toSeq == expect.toSeq,
      "bucketed IVF must return exactly the one-shot IVF answer")
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    // the cell predicate prunes directories, it is not a data filter
    assert(scans.exists(_.partitionFilters.exists(
      _.toString.contains("bucket"))),
      s"no bucket partition filter in:\n${df.queryExecution.executedPlan}")
  }

  test("ann_ivf_bucketed_multiprobe: 3-cell IN filter prunes partitions") {
    val df = SparkEntry.queries("ann_ivf_bucketed_multiprobe")(spark, sf)
    val expect = SparkEntry.queries("ann_ivf_multiprobe")(spark, sf)
      .collect()
    assert(df.collect().toSeq == expect.toSeq,
      "bucketed multi-probe must return the one-shot multi-probe answer")
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.exists(_.partitionFilters.exists(
      _.toString.contains("bucket"))),
      s"no bucket partition filter in:\n${df.queryExecution.executedPlan}")
  }

  test("token_encode: no vocab-wide single task, no vocab broadcast hint") {
    val df = SparkEntry.queries("token_encode")(spark, sf)
    df.collect()
    // (1) every unpartitioned window runs over the O(parallelism)
    // per-range count relation (grouped by pid), never the vocabulary
    val windows = collectWithSubqueries(df.queryExecution.executedPlan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    val unpartitioned = windows.filter(_.partitionSpec.isEmpty)
    assert(unpartitioned.nonEmpty, "expected the tiny pid-base window")
    unpartitioned.foreach { w =>
      assert(w.child.toString.contains("pid"),
        s"unpartitioned window not over the pid-count relation:\n$w")
    }
    // (2) the range-partitioned vocab is MATERIALIZED (localCheckpoint
    // -> ExistingRDD scan) before fan-out: both rank phases must read
    // the SAME physical partitioning — sample-based range boundaries
    // recomputed per consumer could differ and compose wrong ids, so
    // neither consumer may re-run the range exchange
    val planStr = df.queryExecution.executedPlan.toString
    assert(planStr.contains("ExistingRDD") ||
      planStr.contains("Scan ExistingRDD"),
      s"range-partitioned vocab not materialized:\n$planStr")
    assert(!planStr.contains("rangepartitioning"),
      s"a consumer re-runs the sample-based range exchange:\n$planStr")
    // (3) the encode join carries no broadcast hint: with size-based
    // broadcast disabled it plans as a shuffled join (stats/AQE may
    // still broadcast in normal runs — that's the point)
    val pre = planNoAutoBroadcast("token_encode")
    assert(!pre.contains("BroadcastHashJoin [tok#"),
      s"vocab broadcast-hinted onto the corpus join:\n$pre")
    assert(pre.contains("SortMergeJoin [tok#") ||
      pre.contains("ShuffledHashJoin [tok#"),
      s"no shuffled encode join on tok in:\n$pre")
  }

  test("vocab_coverage: window input is count-value bands, not the vocab") {
    val df = SparkEntry.queries("vocab_coverage")(spark, sf)
    df.collect()
    // the only window runs over the (cnt, nrows, mass) band relation —
    // its child subtree must contain the cnt-grouping aggregate, so
    // the single-partition sort is over O(sqrt(corpus mass)) rows, not
    // the vocabulary
    val windows = collectWithSubqueries(df.queryExecution.executedPlan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "expected the band running-sum window")
    windows.foreach { w =>
      // helper collect: traverses AQE query-stage boundaries
      val bandAgg = collect(w.child) {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          if a.groupingExpressions.exists(_.toString.startsWith("cnt#")) =>
            a
      }
      assert(bandAgg.nonEmpty,
        s"window not downstream of the cnt-band aggregate:\n$w")
      // the window itself orders by cnt, never token
      assert(!w.orderSpec.exists(_.toString.contains("token#")),
        s"token-level ordering in the window:\n$w")
    }
  }

  test("oov_rate: top-k vocab is TakeOrdered, not a full-vocab rank") {
    val df = SparkEntry.queries("oov_rate")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(collectWithSubqueries(plan) {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.nonEmpty, s"expected TakeOrderedAndProject in:\n$plan")
    val unpartitioned = collectWithSubqueries(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w
    }
    assert(unpartitioned.isEmpty,
      s"full-vocab unpartitioned window survives in:\n$plan")
  }

  test("seq_pack: offset relation O(cores); corpus windows keyed by bkt") {
    val df = SparkEntry.queries("seq_pack")(spark, sf)
    df.collect()
    // the only unpartitioned window runs over the bucket-total
    // relation, never the corpus
    val windows = collectWithSubqueries(df.queryExecution.executedPlan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    val unpartitioned = windows.filter(_.partitionSpec.isEmpty)
    assert(unpartitioned.nonEmpty, "expected the tiny bucket-total window")
    unpartitioned.foreach { w =>
      assert(w.child.toString.contains("bkt"),
        s"unpartitioned window not over the bucket totals:\n$w")
    }
    // and that relation is bounded by the parallelism-derived target at
    // ANY corpus size — re-derive the bucket width the query uses and
    // count the buckets it can produce
    val target = PipelineQueries.seqPackTargetBuckets(spark)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val b = docs.agg(min("doc_id"), max("doc_id")).collect()(0)
    val span = b.getLong(1) - b.getLong(0) + 1
    val width = math.max(1L, math.ceil(span.toDouble / target).toLong)
    val nBuckets = docs
      .select(floor((col("doc_id") - b.getLong(0)) / width).as("bkt"))
      .distinct().count()
    assert(nBuckets <= target,
      s"$nBuckets buckets exceeds the O(cores) target $target")
  }

  test("regrid: axis maps stay broadcast under -1 threshold; one agg shuffle") {
    // the target-axis maps carry explicit broadcast() hints (they are
    // axis-sized, never grid-sized) — with size-based broadcast OFF
    // they must STILL plan as broadcast joins, and the only exchange
    // is the final target-cell aggregate
    val pre = planNoAutoBroadcast("pivot_grid_regrid")
    assert("BroadcastHashJoin".r.findAllIn(pre).size == 2,
      s"expected exactly 2 hinted broadcast joins in:\n$pre")
    assert(!pre.contains("SortMergeJoin") &&
      !pre.contains("ShuffledHashJoin"),
      s"axis-map join shuffled the grid:\n$pre")
    // pre-AQE sparkPlan shows no Exchange nodes; the partial+final
    // HashAggregate pair IS the single shuffle boundary
    assert("HashAggregate".r.findAllIn(pre).size == 2,
      s"expected one partial+final agg pair in:\n$pre")
  }

  test("bigram_commonness: one explode, no join, two shuffles") {
    // round-14 shape: repartition(b) once; the per-(b, doc) counts and
    // the global-count window share that clustering, the per-doc fold
    // is the only other exchange — the former global-count + bg-join
    // shape exploded the corpus twice and shuffled it three times
    val pre = planNoAutoBroadcast("bigram_commonness")
    assert(!pre.contains("Join"), s"frequency join reappeared:\n$pre")
    assert(pre.contains("Window"), s"global-count window missing:\n$pre")
    val n = "Exchange hashpartitioning".r.findAllMatchIn(pre).length
    assert(n <= 2, s"expected <= 2 shuffles, found $n:\n$pre")
    // single corpus explode: one Generate node in the whole plan
    val g = "Generate explode".r.findAllMatchIn(pre).length
    assert(g == 1, s"expected 1 corpus explode, found $g:\n$pre")
  }

  test("decontam_ngram: eval-set grams broadcast onto the corpus side") {
    val df = SparkEntry.queries("decontam_ngram")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-wide shuffle join in decontam_ngram:\n$plan")
  }

  test("tfidf_top_terms: staged tf, no corpus explode, unhinted df join") {
    // round-15 shape — the round-14 window-df form (df as a window
    // count over one term repartition) was reverted after the driver
    // measured it 0.82x of this join shape in both its runs: the
    // posting-stream sort the window pays costs more than the saved
    // scan + exchange, locally and (SMJ sorts spill the same stream)
    // at scale. What must HOLD: tf stays a staged table (no corpus
    // explode inside the query plan) and the Heaps-law-sized df table
    // is never broadcast by HINT (AQE/stats may still pick the build
    // side at runtime — that is a stats decision, not a hint).
    val pre = planNoAutoBroadcast("tfidf_top_terms")
    assert(!pre.contains("BroadcastHashJoin [term#"),
      s"Heaps-law df table broadcast-hinted:\n$pre")
    assert(!pre.contains("Generate explode"),
      s"corpus re-exploded in the query plan:\n$pre")
    // the staged tf table is scanned for tf and for df (+1 documents
    // scan feeding the broadcast n_docs count) — never the corpus
    val scans = "Scan parquet".r.findAllMatchIn(pre).length
    assert(scans <= 3, s"expected <= 3 staged-table scans, found $scans:\n$pre")
  }

  test("kmeans training: codebook is broadcast; no cartesian product") {
    // kmeans_embed itself now reads the staged assignment table, so
    // the pin targets the TRAINING pipeline that produces it (the plan
    // that runs in the staging job and at every retrain)
    val e = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"),
        transform(col("embedding"), _.cast("double")).as("v"))
    val df = graft.operators.KMeans.assign(e,
      graft.operators.KMeans.centroids(e, "id", "v", 4, 1))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"),
      s"centroids not broadcast in kmeans plan:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"cartesian in kmeans plan:\n$plan")
    // and the staged-table consumer stays a bare scan + project
    val q = SparkEntry.queries("kmeans_embed")(spark, sf)
    q.collect()
    assert(!q.queryExecution.executedPlan.toString.contains("CartesianProduct"))
  }

  test("embed_neardup: no cartesian/nested-loop join at any SF") {
    val df = SparkEntry.queries("embed_neardup")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"nested loop in embed_neardup plan:\n$plan")
  }

  test("simhash_pairs: signature exchange reused; pairs join is equi") {
    val df = SparkEntry.queries("simhash_pairs")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan
    // one simhash computation, reused on the other self-join side
    val reused = collectWithSubqueries(plan) { case r: ReusedExchangeExec => r }
    assert(reused.nonEmpty,
      s"simhash exchange not reused (signatures computed twice):\n$plan")
    val s = plan.toString
    assert(!s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in simhash_pairs plan:\n$s")
  }

  test("semdedup: pair search is an equi-join on the cluster id") {
    val df = SparkEntry.queries("semdedup")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val s = plan.toString
    // the quadratic-risk pair join must KEY on the cluster id (hash or
    // merge equi-join, cosine+id as residual condition) — the only
    // nested loops allowed are the k-row broadcast codebook legs
    // inside KMeans.assign, never a row-level pair loop
    assert(!s.contains("CartesianProduct"), s"cartesian in semdedup:\n$s")
    // the pair search goes through boundedBlockPairs keyed on the
    // cluster id (renamed blk) + sub-block cell — an equi-join whose
    // leading key is the cluster, never a row-level pair loop
    val pairJoinKeyed = s.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin [blk") ||
        l.contains("SortMergeJoin [blk") ||
        l.contains("ShuffledHashJoin [blk"))
    assert(pairJoinKeyed,
      s"within-cluster pair join not keyed on cluster id:\n$s")
  }
  test("approx_stats: banded-oracle output schema stays pinned") {
    // since round 10 the query emits band booleans + exact anchors
    // (engine-neutral, so DuckDB hash-gates it); the schema contract
    // is still pinned here so a drift fails the build before the
    // driver round does
    val df = SparkEntry.queries("approx_stats")(spark, sf)
    val expected = org.apache.spark.sql.types.StructType.fromDDL(
      "lang STRING,n_docs BIGINT,distinct_texts BIGINT," +
        "ndv_ok BOOLEAN,p50_ok BOOLEAN,p95_ok BOOLEAN")
    val norm = (t: org.apache.spark.sql.types.StructType) =>
      org.apache.spark.sql.types.StructType(t.map(f => f.copy(
        metadata = org.apache.spark.sql.types.Metadata.empty,
        nullable = true)))
    assert(norm(df.schema) == norm(expected),
      s"schema drift: ${df.schema.toDDL} vs pinned ${expected.toDDL}")
  }

  test("approx_stats: every aggregate buffer fits codegen maxFields") {
    // HLL++ at rsd 0.01 carries 1,639 LongType buffer attributes, and
    // its partial aggregate's output schema then exceeds maxFields
    // (no whole-stage codegen). The NDV sketch must keep a narrow
    // (DataSketches: one binary) buffer.
    val df = SparkEntry.queries("approx_stats")(spark, sf)
    df.collect()
    val maxFields = spark.conf.get("spark.sql.codegen.maxFields").toInt
    val aggs = collectWithSubqueries(df.queryExecution.executedPlan) {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
    }
    assert(aggs.nonEmpty, s"no aggregate in:\n${df.queryExecution.executedPlan}")
    aggs.foreach { a =>
      val width = a.aggregateExpressions
        .flatMap(_.aggregateFunction.aggBufferAttributes).length
      assert(width <= maxFields,
        s"aggregate buffer of $width attributes > maxFields $maxFields:\n" +
          a.simpleString(200))
    }
  }

  test("ngram_dup_spans: one posting shuffle, windowed df, no join") {
    // round-14 shape: per-doc-distinct CharWindows -> ONE
    // hashpartitioning(gram) exchange -> count-only window (bounded
    // state at any gram frequency) -> ubiquity filter df in [2,8] ->
    // list window + row_number over the SAME sort (filter preserves
    // ordering/partitioning, so no second exchange) -> map-side pair
    // expansion (<= C(8,2) = 28 per gram) -> pair aggregate. Exactly
    // 2 shuffles, no join of any kind, both windows gram-partitioned.
    val pre = planNoAutoBroadcast("ngram_dup_spans")
    assert(!pre.contains("Join"), s"posting join reappeared:\n$pre")
    assert(!pre.contains("CartesianProduct"), s"pair loop:\n$pre")
    assert(pre.contains("Window"), s"df window missing:\n$pre")
    val n = "Exchange hashpartitioning".r.findAllMatchIn(pre).length
    assert(n <= 2, s"expected <= 2 shuffles, found $n:\n$pre")
    // one sort feeds both windows: a second sort means the filter
    // stopped preserving the gram clustering
    val sorts = "Sort \\[gram".r.findAllMatchIn(pre).length
    assert(sorts <= 1, s"expected one gram sort, found $sorts:\n$pre")
  }

  test("bm25_topk: corpus joins shuffled; top-k via TakeOrdered only") {
    // doc-length join is corpus x corpus: no broadcast hint on doc_id
    val pre = planNoAutoBroadcast("bm25_topk")
    assert(!pre.contains("BroadcastHashJoin [doc_id#"),
      s"corpus-sized doc-length side broadcast-hinted:\n$pre")
    val df = SparkEntry.queries("bm25_topk")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(collectWithSubqueries(plan) {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.nonEmpty, s"expected TakeOrdered top-k in:\n$plan")
    // the only single-partition window ranks the k survivors — its
    // child subtree must contain the TakeOrdered, never the corpus
    val unpartitioned = collectWithSubqueries(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w
    }
    unpartitioned.foreach { w =>
      assert(w.child.toString.contains("TakeOrdered"),
        s"unpartitioned window not over the top-k rows:\n$w")
    }
  }

  test("ngram_dup_spans: hashed-gram scale variant agrees with raw grams") {
    // the xxhash64-keyed posting shuffle (the 100 TB shuffle-byte
    // saver) must produce the identical pair set on the fixture corpus
    // — collisions are the only divergence mode and are 2^-64 per pair
    val docs = graft.Tables.documents(spark, sf)
    def collectPairs(hashed: Boolean) =
      graft.queries.PipelineQueries.ngramDupSpans(docs, hashed)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(identity).toSeq
    val raw = collectPairs(false)
    val hashed = collectPairs(true)
    assert(raw.nonEmpty, "fixture corpus should contain duplicate spans")
    assert(raw == hashed)
  }

}
