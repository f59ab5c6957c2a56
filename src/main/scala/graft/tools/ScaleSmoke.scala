package graft.tools

import org.apache.spark.sql.functions._

/** sf1 scale smoke for the heavy-tail pipeline queries: builds a 10x
  * `documents` table from sf0.1 (replica 0 is the original corpus
  * verbatim; replicas 1..9 remap doc ids and suffix every word with the
  * replica tag, so intra-replica duplicate/similarity structure is
  * PRESERVED while cross-replica shingles stay disjoint — pure
  * replication would make every doc a near-dup of its 9 siblings and
  * manufacture a quadratic pair blowup that says nothing about the
  * engine), then times each heavy query once at sf0.1 and once at sf1.
  * A healthy plan keeps the sf1/sf0.1 wall-clock ratio near the 10x
  * row ratio; superlinear blowups sf0.1 cannot see show up here.
  * Output: one JSON line per query + a summary line (consumed into
  * SCALE.md).
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val sf1Dir = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR",
      "/root/repo/tmp-scale/sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Bench.session(cpus)

    val docs1 = s"$sf1Dir/documents.parquet"
    if (!new java.io.File(docs1).exists()) {
      val d = spark.read.parquet(s"$base/documents.parquet")
      val n = d.agg(max("doc_id")).collect().head.getLong(0) + 1
      val replicas = (0 until 10).map { k =>
        if (k == 0) d
        else d.select(
          (col("doc_id") + lit(k * n)).as("doc_id"),
          array_join(transform(split(col("text"), " "),
            w => concat(w, lit(s"_$k"))), " ").as("text"),
          col("lang"), col("source"),
          length(array_join(transform(split(col("text"), " "),
            w => concat(w, lit(s"_$k"))), " ")).as("n_chars"))
      }
      replicas.reduce(_ unionByName _)
        .repartition(32).write.mode("overwrite").parquet(docs1)
      System.err.println(s"[scale] built $docs1")
    }

    // embeddings at sf1: replicas flip each coordinate's SIGN by a
    // deterministic per-replica pattern — norms and intra-replica
    // cosines are preserved exactly (the dup/cluster structure scales
    // with the corpus) while cross-replica cosines decorrelate, so no
    // artificial near-dup blowup (the embedding analogue of the
    // word-suffix trick above)
    val emb1 = s"$sf1Dir/embeddings.parquet"
    if (!new java.io.File(emb1).exists()) {
      val e = spark.read.parquet(s"$base/embeddings.parquet")
      val n = e.agg(max("vec_id")).collect().head.getLong(0) + 1
      val replicas = (0 until 10).map { k =>
        if (k == 0) e
        else e.select(
          (col("vec_id") + lit(k * n)).as("vec_id"),
          // per-replica sign pattern with an ODD multiplier mod 16:
          // distinct for every k in 1..9 ((i*31+k)%2 would collapse to
          // parity of k and make half the replicas byte-identical)
          transform(col("embedding"), (x, i) =>
            when((i * lit(2 * k + 1) + lit(5 * k)) % 16 < 8, x)
              .otherwise(-x))
            .as("embedding"),
          col("label"))
      }
      replicas.reduce(_ unionByName _)
        .repartition(32).write.mode("overwrite").parquet(emb1)
      System.err.println(s"[scale] built $emb1")
    }

    val heavy = Seq("ngram_dup_spans", "bm25_topk", "simhash_pairs",
      "dedup_incremental_bloom", "token_encode",
      // round-10 continuation additions: one BPE merge iteration
      // (vocab-sized pair stage) and staged-unigram collocations
      "bpe_merge_pairs", "colloc_lift",
      // round-11 additions: the remaining bench heavy tail —
      // Misra-Gries candidates + exact verify, and the broadcast-df
      // tf-idf ranking
      "heavy_hitters", "tfidf_top_terms",
      // round-11 new operators: coverage-cutoff vocab sizing (vocab-
      // bounded window), DSIR importance weights (64-bucket broadcast),
      // per-doc near-dup neighbors (banded candidates + GroupedTopK)
      "vocab_coverage", "dsir_weights", "neardup_topk",
      // embedding operators over the sign-flipped sf1 table: IVF
      // probes touch ~1/nCentroids of a 10x corpus; batch multi-probe
      // shares one pipeline across probes; k-means pays 10x map-side
      // per Lloyd iteration
      "ann_ivf", "ann_ivf_multiprobe", "ann_ivf_batch", "kmeans_embed",
      // round-12 additions: incremental index ingest (build slice +
      // append slice + probe — the cost is the index WRITE, which must
      // track corpus size, while the probe stays pruned; measured
      // BUILD-INCLUSIVE on both sides, see below) and the three read
      // shapes over the bucketed index (probe-by-vector, from-index
      // batch: codebook ranking + pruned directories only)
      "ann_ivf_incremental", "ann_ivf_vector", "ann_ivf_index_batch",
      // round-12 continuation: tombstone delete (gate = build + the
      // sidecar-append delete; probe pays the broadcast anti-join)
      // and physical purge (gate additionally rewrites the touched
      // buckets and the _ids sidecar)
      "ann_ivf_deleted", "ann_ivf_purged",
      // round-12 late addition: hashed-feature linear classifier
      // inference — per-doc pre-aggregation then a 1024-row broadcast
      // weight join; should track the token count linearly
      "domain_classify",
      // round-12 second continuation: paragraph-level exact dedup —
      // one min_by shuffle on block hashes + one reassembly shuffle —
      // and the zero-shuffle within-doc variant; both should track
      // total block count linearly
      "para_dedup", "dedup_within_doc",
      // product quantization: corpus-wide encode (one broadcast-argmin
      // pass — should track rows) and the codes-only ADC
      // shortlist + 50-vector exact rerank probe (should stay flat:
      // cost is codes bytes + a broadcast LUT, not vectors)
      "embed_pq", "ann_pq_rerank",
      // round-12 third continuation: per-dim trained SQ8 — train+encode
      // should track rows (one min/max pass + map-side encode), the
      // codes-only ADC probe pays a linear codes scan (no shortlist
      // here — the near-exact probe IS the product)
      "embed_sq8", "ann_sq8",
      // file-level bloom index: the lookup should stay FLAT — sidecar
      // rows grow with file count but the data read is the candidate
      // bucket(s) only, at any corpus size. The incremental variant's
      // gate INCLUDES the build+append writes (the ingest cost, which
      // must track the batch), like ann_ivf_incremental.
      "bloom_point_lookup", "bloom_lookup_incremental",
      // round-12 fourth continuation: graph ops ride the staged
      // candidate tables (cost tracks the near-dup graph, not the
      // corpus); quantiles is one histogram aggregate; audio is a
      // zero-shuffle per-row fold
      "pagerank_neardup", "label_propagation", "quantiles_by_lang",
      "audio_zcr_segments",
      // lifecycle gate (build+append+compact+lookup, cold via
      // buildGated) and the one-pass constraint validation
      "bloom_lookup_compacted", "quality_checks",
      // the session's remaining corpus-shaped additions: resample
      // explode (output <= 4n), per-image decode+hash (map-side), and
      // JSON path extraction (one scan)
      "dsir_resample", "image_dhash", "json_extract",
      // round-13 additions: bulk bloom membership (executor-side
      // screen over corpus-sized probes + pruned confirm), the full
      // build+retrain lifecycle (cold via buildGated — the gate IS
      // train+rewrite, which must track corpus size), real-resolution
      // dHash (map-side decode+resample), and the 5-round BPE loop
      // (one corpus scan, then vocabulary-sized rounds)
      "bloom_bulk_membership", "ann_ivf_retrained",
      "image_dhash_scaled", "bpe_train",
      // round-13 continuation: bloom tombstone delete (build + the
      // O(batch) sidecar append; reads pay the broadcast mask) and
      // physical purge (additionally rewrites touched buckets and
      // rebuilds their blooms) — both cold via buildGated, the
      // ann_ivf_deleted/purged pattern
      "bloom_lookup_deleted", "bloom_lookup_purged",
      // perceptron training: one corpus scan for the feature matrix,
      // then one matrix-sized RDD aggregate per round, the 16 weights
      // in its closure — should track the matrix linearly; the
      // confusion gate adds one more matrix-sized scoring pass
      "perceptron_train", "perceptron_confusion",
      // kNN labeling: the DPP-pruned batch probe + a neighbor-sized
      // label join and vote — should stay flat like the other probes
      "ann_knn_label",
      // round-14 additions: banded hamming self-join over per-image
      // 64-bit dHashes (shuffles signature tuples only — must track
      // the image count, never the pair space) and the end-to-end
      // dedup composite (staged edges + min-label components + one
      // keep-best window over fingerprint-sized rows)
      "image_dhash_pairs", "image_dedup_pipeline",
      // hot-cell split lifecycle (cold via buildGated — the gate IS
      // build + hot detection + the split rewrite, which must track
      // the hot cell's size, not the corpus)
      "ann_ivf_split",
      // batched BPE: 3 rounds x up to 8 disjoint merges — one corpus
      // scan then vocabulary-sized rounds, like bpe_train but with
      // round count << merge count — and its application half
      "bpe_train_batched", "bpe_encode_batched",
      // multiclass OVR: K binary trainings over the shared matrix +
      // one argmax scoring pass — should track the matrix linearly
      // like perceptron_confusion
      "perceptron_ovr_confusion",
      // snapshot diff: digest projections + one co-partitioned
      // full-outer join — should track the corpus linearly
      "corpus_diff")
      // local iteration aid, mirroring Verify's SPARK_GRAFT_ONLY:
      // smoke only the named queries (comma-separated)
      .filter { n =>
        sys.env.get("SPARK_GRAFT_ONLY")
          .map(_.split(",").map(_.trim).toSet)
          .forall(_.contains(n))
      }
    // warm passes at BOTH scales: amortizes codegen/JIT out of the
    // ratio AND commits every staged fixture (the "ivfidx" index,
    // signature tables) on both sides, so each timed number is the
    // steady-state read cost at its scale — warming only sf0.1 made
    // the sf1 number the FIRST staged-build consumer and the ratio
    // build-included-vs-excluded (apples to oranges). The exceptions
    // are warmed on NEITHER side — their gate IS a staged build
    // (index ingest write; Lloyd training), so both timed numbers
    // include it and the ratio measures that build's scaling.
    val buildGated = Set("ann_ivf_incremental", "kmeans_embed",
      "ann_ivf_deleted", "ann_ivf_purged", "bloom_lookup_incremental",
      "bloom_lookup_compacted", "ann_ivf_retrained",
      "bloom_lookup_deleted", "bloom_lookup_purged", "ann_ivf_split")
    for (n <- heavy if !buildGated(n); d <- Seq(base, sf1Dir))
      graft.SparkEntry.queries(n)(spark, d).count()
    // build-gated queries stay cold by design (their gate IS the
    // build), but codegen/JIT must not land in the sf0.1 number,
    // which times first: warm the same OPERATOR paths on a throwaway
    // corpus + directory — stagedPath keys on the corpus dir, so
    // nothing the timed runs consume gets pre-built
    locally {
      import org.apache.spark.sql.functions.col
      import spark.implicits._
      val tiny = (0L until 64L).map(i =>
        (i, Array.fill(8)(((i * 31 + 7) % 13).toDouble - 6.0)))
        .toDF("id", "v")
      val d = java.nio.file.Files.createTempDirectory("scalewarm")
      d.toFile.deleteOnExit()
      val idx = s"$d/idx"
      graft.operators.SimilarityOps.buildIvfIndex(tiny, "id", "v", 4, idx)
      graft.operators.SimilarityOps.appendToIvfIndex(
        tiny.select((col("id") + 64).as("id"), col("v")), "id", "v", idx)
      graft.operators.SimilarityOps
        .annIvfFromIndexMultiProbe(spark, idx, 70L, 3, 2).count()
      graft.operators.SimilarityOps.deleteFromIvfIndex(
        spark, idx, Seq(5L, 6L))
      graft.operators.SimilarityOps.compactIvfIndex(spark, idx)
      graft.operators.SimilarityOps
        .annIvfFromIndexMultiProbe(spark, idx, 70L, 3, 2).count()
      graft.operators.KMeans.assign(tiny,
        graft.operators.KMeans.centroids(tiny, "id", "v", 4, 1)).count()
      // warm the bloom-index build/append/lookup operator paths
      val tb = tiny.select(col("id").as("doc_id"),
        (col("id") % 7).cast("string").as("text"))
      val bidx = s"$d/bloom"
      graft.sources.FileBloomIndex.write(
        tb.filter(col("doc_id") < 32), "doc_id",
        org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.hash(col("text")),
          org.apache.spark.sql.functions.lit(4)), bidx, 64L)
      graft.sources.FileBloomIndex.append(
        tb.filter(col("doc_id") >= 32), "doc_id",
        org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.hash(col("text")),
          org.apache.spark.sql.functions.lit(4)), bidx)
      graft.sources.FileBloomIndex
        .lookup(spark, bidx, "doc_id", "40").count()
      // warm the retrain path (JIT/codegen) on the throwaway index so
      // the build-gated sf0.1 number is not the first-ever retrain
      graft.operators.SimilarityOps.retrainIvfIndex(spark, idx, 3, 1)
      graft.operators.SimilarityOps
        .annIvfFromIndexMultiProbe(spark, idx, 70L, 3, 2).count()
    }
    def time(name: String, dir: String): (Double, Long) = {
      val t0 = System.nanoTime()
      val c = graft.SparkEntry.queries(name)(spark, dir).count()
      ((System.nanoTime() - t0) / 1e9, c)
    }
    val rowRatio = 10.0
    val results = heavy.map { name =>
      val (t01, c01) = time(name, base)
      val (t1, c1) = time(name, sf1Dir)
      val ratio = t1 / t01
      println(s"""{"query":"$name","sf01_sec":$t01,"sf1_sec":$t1,""" +
        s""""ratio":$ratio,"rows_sf01":$c01,"rows_sf1":$c1}""")
      (name, t01, t1, ratio, c01, c1)
    }
    val worst = results.maxBy(_._4)
    println(s"""{"summary":"sf1 smoke","row_ratio":$rowRatio,""" +
      s""""worst_query":"${worst._1}","worst_ratio":${worst._4}}""")

    // zarr GROUP scan smoke — pivot_grid_group's SCAN with the write
    // fixture excluded (the bench number for that query is mostly
    // fixture I/O; this isolates what a reader pays). Two grouped
    // trees, 10x apart in cells, built once outside the timed region:
    // a full-scan aggregate should track the cell ratio; a tail
    // filter should stay near-flat (zone-map chunk pruning).
    def tree(nt: Int): String = {
      val dir = s"$sf1Dir/zarr_group_$nt"
      if (!new java.io.File(s"$dir/cube/.zmetadata").exists()) {
        graft.grid.ZarrGridStore.writeDistributed(
          graft.grid.Fixtures.linearGridSlice(0, nt), s"$dir/cube",
          Map("t" -> 600), "zstd:3")
        System.err.println(s"[scale] built $dir")
      }
      dir
    }
    val small = tree(24000) // 2.88M cells
    val big = tree(240000) // 28.8M cells
    def scanAgg(dir: String): Double = {
      val t0 = System.nanoTime()
      spark.read.format("zarr").option("group", "cube").load(dir)
        .agg(sum("air"), count(lit(1))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    def scanTail(dir: String, nt: Int): Double = {
      val t0 = System.nanoTime()
      spark.read.format("zarr").option("group", "cube").load(dir)
        .filter(col("t") >= nt - 24)
        .agg(sum("air"), count(lit(1))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    scanAgg(small) // warm the zarr scan path once
    val fullS = scanAgg(small)
    val fullB = scanAgg(big)
    println(s"""{"query":"zarr_group_scan_full","sf01_sec":$fullS,""" +
      s""""sf1_sec":$fullB,"ratio":${fullB / fullS},"cells_ratio":10}""")
    val tailS = scanTail(small, 24000)
    val tailB = scanTail(big, 240000)
    println(s"""{"query":"zarr_group_scan_tail","sf01_sec":$tailS,""" +
      s""""sf1_sec":$tailB,"ratio":${tailB / tailS},""" +
      """"note":"pruned to the last chunks on both sizes"}""")
    spark.stop()
  }
}
