package graft.operators

import graft.functions.{GraftFunctions, ScaleHashes}
import graft.sources.IndexLifecycle
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Composable similarity-search / dedup operators for the scale path.
  *
  * Shapes chosen for 1000-executor clusters:
  *   - candidate generation is always an equi-join on a small key
  *     (band hash or LSH bucket) — shuffled data is (id, key) tuples,
  *     never the O(n^2) pair space;
  *   - exact verification (cosine via the codegen'd dot product, or
  *     Jaccard) runs only on candidates;
  *   - multi-table LSH trades recall for cost explicitly: per-bit
  *     collision prob is 1 - angle/pi, so `tables` copies with `bits`
  *     bits give recall ~= 1 - (1 - p^bits)^tables.
  */
object SimilarityOps {

  /** All pairs with cosine >= threshold, brute force (small-side
    * baseline; O(n^2) — correct at any threshold, use under ~100k rows).
    */
  def nearDupPairsBrute(vecs: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val dot = GraftFunctions.dot_f64 _
    val n = vecs.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    n.as("a").join(n.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** EXACT all pairs with cosine >= threshold via block-partitioned
    * all-pairs (the matrix-blocking shape of distributed similarity
    * join): ids hash into `blocks` blocks, the small block-pair relation
    * (bi <= bj) broadcast-joins onto both sides, and the candidate join
    * is a hash equi-join on the composite (bi, bj) key — never a
    * cartesian nested loop over rows.
    *
    * Scale math: shuffle volume = n * (blocks+1)/2 vector copies, task
    * memory = 2 blocks of n/blocks vectors, parallelism =
    * blocks*(blocks+1)/2 independent tasks — pick blocks ~ sqrt(2 *
    * cluster cores) and exact all-pairs runs at whatever n the n^2/2
    * dot products themselves afford. This is the exact-answer
    * complement of [[nearDupPairsLSH]]: hyperplane LSH only pays off
    * when the threshold is tight (cos >= ~0.9, collision prob ~0.86 per
    * bit); at loose thresholds like 0.45 on near-random embeddings its
    * candidate set exceeds the full pair space (measured 3-11M
    * candidates vs 2M brute pairs at sf0.1) while still missing pairs,
    * so the exact blocked form is both faster and correct.
    */
  def nearDupPairsBlocked(vecs: DataFrame, idCol: String, vecCol: String,
      threshold: Double, blocks: Int): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val dot = GraftFunctions.dot_f64 _
    val base = vecs.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .withColumn("blk", pmod(hash(col("id")), lit(blocks)))
    val blockPairs = (for (i <- 0 until blocks; j <- i until blocks)
      yield (i, j)).toDF("bi", "bj")
    // every unordered vector pair lands in exactly one (bi, bj) task:
    // cross-block pairs via bi < bj, same-block pairs via the id order
    val a = base.join(broadcast(blockPairs), col("blk") === col("bi"))
      .select(col("bi"), col("bj"), col("id").as("id_a"),
        col("v").as("va"), col("nrm").as("na"))
    val b = base.join(broadcast(blockPairs), col("blk") === col("bj"))
      .select(col("bi"), col("bj"), col("id").as("id_b"),
        col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("bi", "bj"))
      .filter(col("bi") =!= col("bj") || col("id_a") < col("id_b"))
      // cross-block pairs may arrive id_a > id_b; canonicalize ascending
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** All unordered within-block pairs (`a.<idCol> < b.<idCol>`) with
    * task size bounded regardless of block skew — the guard that keeps
    * blocking-based fuzzy dedup from going quadratic in ONE task when a
    * hot block appears (every doc sharing a boilerplate prefix, a null
    * key, ...).
    *
    * A one-scalar pre-check (max block count vs cap) short-circuits the
    * whole mechanism when the input is unskewed: if no block exceeds
    * the cap, the result is a plain (blk) equi-join — no split
    * relation, no explode, no replication — with every pair in cell
    * (0, 0). Otherwise blocks with m <= cap members still join with
    * g = 1 (no replication) while a block with m > cap splits
    * into g = ceil(m/cap) hash sub-blocks and its pair space becomes
    * the g*(g+1)/2 sub-block-pair cells, keyed (blk, i, j): a row with
    * sub-block s enters side A of cells (s, j >= s) and side B of
    * cells (i <= s, s), so each unordered pair meets in EXACTLY one
    * cell (proof: x:sx, y:sy, sx < sy meet only at (sx, sy); same-sub
    * pairs meet at (s, s) where the id-order residual keeps one side).
    * Task memory is <= 2*cap rows and <= cap^2 comparisons per cell;
    * the O(m^2/cap) row replication is the pair space itself spread
    * across tasks, not new work. Semantics are EXACTLY the naive
    * within-block self-join — callers' oracles need no change.
    *
    * Out: (blk, i, j, a, b) where (i, j) is the sub-block cell the pair
    * was produced in (one task's unit of work — exposed so callers and
    * tests can assert the per-cell bound), a/b are structs of the
    * non-block columns, and a.<idCol> < b.<idCol>.
    */
  def boundedBlockPairs(rows: DataFrame, blkCol: String, idCol: String,
      cap: Int): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    val others = rows.columns.toSeq.filterNot(_ == blkCol)
    val packed = rows.select(col(blkCol).as("blk"),
      struct(others.map(col): _*).as("p"))
    val counts = packed.groupBy("blk").agg(count(lit(1)).as("m"))
    // one-scalar pre-check: when no block exceeds the cap (the common,
    // unskewed case) the guard is a no-op, so skip its plumbing — the
    // pair join becomes a plain blk equi-join with zero replication,
    // no sequence/explode, no split join. Every pair lands in the
    // single cell (0, 0); semantics identical.
    val maxM = counts.agg(max(col("m"))).collect()(0) match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    if (maxM <= cap) {
      return packed.select(col("blk"), col("p").as("pa"))
        .join(packed.select(col("blk"), col("p").as("pb")), Seq("blk"))
        .filter(col(s"pa.$idCol") < col(s"pb.$idCol"))
        .select(col("blk"), lit(0).as("i"), lit(0).as("j"),
          col("pa").as("a"), col("pb").as("b"))
    }
    // per-block sub-split factor; the counts relation shares the blk
    // shuffle key with the pair join, so its exchange is reused
    val splits = counts
      .select(col("blk"),
        greatest(lit(1L), ceil(col("m").cast("double") / cap))
          .cast("int").as("g"))
    val sub = packed.join(splits, "blk")
      .withColumn("s",
        pmod(xxhash64(col(s"p.$idCol")), col("g").cast("long")).cast("int"))
    val aSide = sub.select(col("blk"), col("s").as("i"),
      explode(sequence(col("s"), col("g") - 1)).as("j"), col("p").as("pa"))
    val bSide = sub.select(col("blk"),
      explode(sequence(lit(0), col("s"))).as("i"), col("s").as("j"),
      col("p").as("pb"))
    val ida = col(s"pa.$idCol")
    val idb = col(s"pb.$idCol")
    aSide.join(bSide, Seq("blk", "i", "j"))
      // same-sub cells see both orders: keep one; cross-sub cells see
      // exactly one order: canonicalize below
      .filter(col("i") =!= col("j") || ida < idb)
      .filter(ida =!= idb)
      .select(col("blk"), col("i"), col("j"),
        when(ida < idb, col("pa")).otherwise(col("pb")).as("a"),
        when(ida < idb, col("pb")).otherwise(col("pa")).as("b"))
  }

  /** All pairs with cosine >= threshold via multi-table hyperplane LSH
    * candidate generation + exact verification. Approximate: recall
    * depends on (bits, tables) vs the threshold's angle.
    */
  def nearDupPairsLSH(vecs: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bits: Int, tables: Int, seed: Long): DataFrame = {
    val dot = GraftFunctions.dot_f64 _
    val base = vecs.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    // one bucket id per (row, table); explode keeps this a narrow map
    val buckets = base.select(col("id"), col("v"), col("nrm"),
      posexplode(array((0 until tables).map(t =>
        ScaleHashes.hyperplaneBucket(col("v"), bits,
          seed + t * 0x51ab2f9d3L)): _*)).as(Seq("table", "bucket")))
    val cand = buckets.as("a")
      .join(buckets.as("b"), Seq("table", "bucket"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand
      .join(base.select(col("id").as("id_a"), col("v").as("va"),
        col("nrm").as("na")), "id_a")
      .join(base.select(col("id").as("id_b"), col("v").as("vb"),
        col("nrm").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embeddings with k-means, then look
    * for near-duplicate pairs ONLY within each cluster and keep, per
    * duplicate relation, the member whose id is smallest (a vector is
    * dropped iff some same-cluster vector with a smaller id sits within
    * `threshold` cosine of it). Out: (id, cluster) of the kept vectors.
    *
    * Scale shape — this is the trick that makes corpus-scale semantic
    * dedup tractable at all: the quadratic pair search collapses from
    * O(n^2) to O(sum c_i^2) ~ O(n^2/k). The within-cluster pair join
    * runs through [[boundedBlockPairs]] keyed on the cluster id, so it
    * is a hash equi-join (shuffles vectors once, by cluster) AND a
    * pathologically hot cluster sub-splits into `pairCap`-bounded
    * cells instead of landing on one quadratic task — same pair
    * semantics, no oracle change. Assignment is [[KMeans]]'s
    * broadcast-codebook map-side argmin, and the final keep-set is a
    * left-anti join — no windows, no driver collection. At 100 TB pick
    * k so n/k is a few thousand (the paper's regime) and `pairCap`
    * near that size, so the guard only engages on outlier clusters.
    */
  def semDedupKept(vecs: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, threshold: Double,
      pairCap: Int = 4096): DataFrame =
    semDedupFromAssigned(
      KMeans.assign(
        vecs.select(col(idCol).as("id"), col(vecCol).as("v")),
        KMeans.centroids(vecs, idCol, vecCol, k, iters)),
      threshold, pairCap)

  /** [[semDedupKept]] over a PRE-computed cluster assignment
    * (id, v, cluster) — the production shape where the codebook
    * labelling is a staged table shared by several consumers instead
    * of retrained per query.
    */
  def semDedupFromAssigned(assignment: DataFrame, threshold: Double,
      pairCap: Int = 4096): DataFrame = {
    val dot = GraftFunctions.dot_f64 _
    // materialize the assignment ONCE (lineage-truncating local
    // checkpoint, as in GraphOps): three consumers follow — both pair
    // sides and the final keep-set anti-join — and each would otherwise
    // re-run the whole upstream assignment pipeline
    val assigned = assignment
      .select(col("id"), col("v"), col("cluster"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .localCheckpoint()
    val dropped = boundedBlockPairs(
      assigned.select(col("cluster"), col("id"), col("v"), col("nrm")),
      "cluster", "id", pairCap)
      .filter((dot(col("a.v"), col("b.v")) /
        (col("a.nrm") * col("b.nrm"))) >= threshold)
      .select(col("b.id").as("id"))
      .distinct()
    assigned.join(dropped, Seq("id"), "left_anti")
      .select(col("id"), col("cluster"))
  }

  /** IVF-style two-stage ANN: coarse-quantize every vector to its nearest
    * of `nCentroids` centroid vectors (here: the first `nCentroids` rows,
    * standing in for a trained codebook), then score the probe exactly
    * against only the vectors in the probe's cell.
    *
    * Scale shape: the codebook is broadcast (a few KB even at 65k
    * centroids x 1k dims), assignment is a map-side argmax with a partial
    * aggregate (max over a (score, -cid) struct -- no sort, no window
    * shuffle), and the exact top-k runs over ~1/nCentroids of the data.
    * On a real deployment the table would be written bucketed by `bucket`
    * so the probe-cell filter becomes partition pruning at the scan.
    * Assignment uses dot(v,c)/|c| (the row's own norm is constant under
    * the argmax, so this equals the cosine argmax but skips one sqrt).
    */
  /** Coarse quantization: every non-centroid vector labelled with its
    * nearest centroid's id (`bucket`). Broadcast codebook, map-side
    * argmax via a partial aggregate — no window, no sort.
    */
  def ivfAssign(vecs: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int): DataFrame = {
    val e = vecs.select(col(idCol).as("id"), col(vecCol).as("v"))
    assignToCodebook(e.filter(col("id") >= nCentroids),
      e.filter(col("id") < nCentroids)
        .select(col("id").as("cid"), col("v").as("cv")))
  }

  /** Coarse-quantize (id, v) rows against an explicit (cid, cv)
    * codebook: broadcast codebook, map-side argmax over
    * dot(v,c)/|c| with ties to the lowest cid — the one scoring rule
    * every IVF path in this file shares, so assignments computed at
    * build time, append time, and probe time always agree.
    */
  private def assignToCodebook(e: DataFrame, cents: DataFrame): DataFrame = {
    val dot = GraftFunctions.dot_f64 _
    e.crossJoin(broadcast(cents))
      .select(col("id"), col("v"), col("cid"),
        (dot(col("v"), col("cv")) / sqrt(dot(col("cv"), col("cv"))))
          .as("score"))
      // argmax centroid, ties to the lowest cid: max over (score, -cid)
      .groupBy(col("id"))
      .agg(max(struct(col("score").as("s"), (-col("cid")).as("nc"))).as("m"),
        first(col("v")).as("v")) // v is constant per id
      .select(col("id"), col("v"), (-col("m.nc")).as("bucket"))
  }

  /** IVF-style two-stage ANN: coarse-quantize ([[ivfAssign]], with the
    * first `nCentroids` rows standing in for a trained codebook), then
    * score the probe exactly against only the vectors in the probe's
    * cell. One-shot form — assignment recomputed per query; see
    * [[annIvfPartitioned]] for the materialized repeated-query form.
    */
  def annIvf(vecs: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, probeId: Long, k: Int): DataFrame = {
    val dot = GraftFunctions.dot_f64 _
    val assigned = ivfAssign(vecs, idCol, vecCol, nCentroids)
    val probe = assigned.filter(col("id") === probeId)
      .select(col("bucket").as("pb"), col("v").as("pv"),
        sqrt(dot(col("v"), col("v"))).as("pn"))
    assigned.filter(col("id") =!= probeId)
      .join(broadcast(probe), col("bucket") === col("pb"))
      .select(col("id"),
        (dot(col("v"), col("pv")) /
          (sqrt(dot(col("v"), col("v"))) * col("pn"))).as("cosine"))
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)
  }

  /** MULTI-PROBE IVF: exact scoring over the UNION of the probe's
    * `nprobe` nearest cells instead of only its own — the standard
    * recall dial for neighbors that fell just across a cell boundary
    * (single-probe recall is fragile exactly there; see the recall
    * measurements in AnnRecallSpec). Cell selection is an argtop over
    * the broadcast codebook with the SAME score ivfAssign uses
    * (dot(v,c)/|c|, ties to the lowest cid), so `nprobe=1` reproduces
    * [[annIvf]] bit for bit. Probed rows stay a ~nprobe/nCentroids
    * fraction of the data, reached through one bucket equi-join
    * against the broadcast cell list — on a bucketed materialization
    * the same list is a partition-pruning IN filter.
    */
  def annIvfMultiProbe(vecs: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, probeId: Long, k: Int, nprobe: Int): DataFrame = {
    require(nprobe >= 1, s"nprobe=$nprobe")
    val dot = GraftFunctions.dot_f64 _
    val assigned = ivfAssign(vecs, idCol, vecCol, nCentroids)
    val e = vecs.select(col(idCol).as("id"), col(vecCol).as("v"))
    val cents = e.filter(col("id") < nCentroids)
      .select(col("id").as("cid"), col("v").as("cv"))
    val probe = e.filter(col("id") === probeId)
      .select(col("v").as("pv"), sqrt(dot(col("v"), col("v"))).as("pn"))
    // nprobe nearest cells to the probe VECTOR — codebook-sized work
    val cells = cents.crossJoin(broadcast(probe))
      .select(col("cid"), col("pv"), col("pn"),
        (dot(col("cv"), col("pv")) / sqrt(dot(col("cv"), col("cv"))))
          .as("score"))
      .orderBy(col("score").desc, col("cid"))
      .limit(nprobe)
      .select(col("cid"), col("pv"), col("pn"))
    assigned.filter(col("id") =!= probeId)
      .join(broadcast(cells), col("bucket") === col("cid"))
      .select(col("id"),
        (dot(col("v"), col("pv")) /
          (sqrt(dot(col("v"), col("v"))) * col("pn"))).as("cosine"))
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)
  }

  /** BATCH multi-probe IVF — the production shape for a WORKLOAD of
    * probes (nightly retrieval batch, dedup-against-index) rather than
    * one: every probe's `nprobe` nearest cells rank in one pass
    * against the broadcast codebook (argtop per probe via the
    * heap-bounded GroupedTopK — no window sort), the candidate set
    * forms through ONE bucket equi-join against the broadcast
    * (probe, cell) list, and per-probe exact top-k again rides
    * GroupedTopK, so the shuffle is k-bounded per probe. No per-probe
    * driver loop anywhere: 10⁶ probes cost one extra broadcast, not
    * 10⁶ jobs. Tie-breaks match [[annIvfMultiProbe]], so each probe's
    * rows equal its one-shot answer.
    */
  def annIvfMultiProbeBatch(vecs: DataFrame, idCol: String,
      vecCol: String, nCentroids: Int, probeIds: Seq[Long], k: Int,
      nprobe: Int): DataFrame = {
    require(nprobe >= 1, s"nprobe=$nprobe")
    require(probeIds.nonEmpty, "empty probeIds")
    val dot = GraftFunctions.dot_f64 _
    val assigned = ivfAssign(vecs, idCol, vecCol, nCentroids)
    val e = vecs.select(col(idCol).as("id"), col(vecCol).as("v"))
    val cents = e.filter(col("id") < nCentroids)
      .select(col("id").as("cid"), col("v").as("cv"))
    // probe selection as a broadcast equi-join, NOT isin: a literal
    // In list is one expression per probe — fine at 3, pathological at
    // the 10^6-probe workload this operator exists for. DISTINCT ids:
    // a duplicated probe would duplicate its probe row and fill its
    // top-k with repeated candidates
    val pidDf = {
      import vecs.sparkSession.implicits._
      probeIds.distinct.toDF("id")
    }
    val probes = e.join(broadcast(pidDf), "id")
      .select(col("id").as("pid"), col("v").as("pv"),
        sqrt(dot(col("v"), col("v"))).as("pn"))
    val cellScores = probes.crossJoin(broadcast(cents))
      .select(col("pid"), col("cid"),
        (dot(col("cv"), col("pv")) / sqrt(dot(col("cv"), col("cv"))))
          .as("score"))
    val probeCells = TopKOps.topKPerGroup(cellScores, Seq("pid"),
      Seq("score" -> false, "cid" -> true), nprobe)
      .select(col("pid"), col("cid"))
    assigned
      .join(broadcast(probeCells), col("bucket") === col("cid"))
      .join(broadcast(probes), "pid")
      .filter(col("id") =!= col("pid"))
      .select(col("pid"), col("id"),
        (dot(col("v"), col("pv")) /
          (sqrt(dot(col("v"), col("v"))) * col("pn"))).as("cosine"))
      .transform(d => TopKOps.topKPerGroup(d, Seq("pid"),
        Seq("cosine" -> false, "id" -> true), k))
  }

  /** IVF ANN with a TRAINED codebook: centroids come from
    * [[KMeans.centroids]] (Lloyd iterations, deterministic seed)
    * instead of the first-k-rows stand-in, vectors coarse-quantize to
    * their nearest trained centroid (euclidean argmin, matching the
    * training objective), and the probe scores exactly against its
    * cell only. Same scale shape as [[annIvf]] — the codebook is k
    * rows broadcast everywhere, assignment is map-side — plus the
    * recall improvement a real codebook brings: cells follow the data
    * distribution instead of whatever the first k vectors happened to
    * be.
    */
  def annIvfKMeans(vecs: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, probeId: Long, topK: Int): DataFrame =
    annIvfFromAssigned(
      KMeans.assign(
        vecs.select(col(idCol).as("id"), col(vecCol).as("v")),
        KMeans.centroids(vecs, idCol, vecCol, k, iters)),
      probeId, topK)

  /** [[annIvfKMeans]] over a PRE-computed cluster assignment
    * (id, v, cluster) — probe-cell-only exact scoring against a staged
    * labelling shared with other codebook consumers.
    */
  def annIvfFromAssigned(assigned: DataFrame, probeId: Long,
      topK: Int): DataFrame = {
    val dot = GraftFunctions.dot_f64 _
    val probe = assigned.filter(col("id") === probeId)
      .select(col("cluster").as("pb"), col("v").as("pv"),
        sqrt(dot(col("v"), col("v"))).as("pn"))
    assigned.filter(col("id") =!= probeId)
      .join(broadcast(probe), col("cluster") === col("pb"))
      .select(col("id"),
        (dot(col("v"), col("pv")) /
          (sqrt(dot(col("v"), col("v"))) * col("pn"))).as("cosine"))
      .orderBy(col("cosine").desc, col("id"))
      .limit(topK)
  }

  /** IVF ANN over a cell-partitioned materialization — the production
    * shape for REPEATED similarity queries: the assignment is written
    * once with `partitionBy(bucket)`, so a probe's cell filter becomes
    * directory-level partition pruning at the parquet scan
    * (`PartitionFilters: [bucket = <cell>]`, pinned in
    * PipelinePlanSpec) and per-query I/O is data/nCentroids no matter
    * the table size. The probe row itself is a driver-side point
    * lookup (one row); its norm is a driver-side sequential fold —
    * identical order, hence bit-identical, to the executor fold.
    */
  def annIvfPartitioned(vecs: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, probeId: Long, k: Int, dir: String): DataFrame = {
    buildIvfIndex(vecs, idCol, vecCol, nCentroids, dir)
    annIvfFromIndex(vecs.sparkSession, dir, probeId, k)
  }

  /** Write the IVF index once: the assignment materialized
    * `partitionBy(bucket)`. Separated from [[annIvfFromIndex]] so a
    * session can build per corpus and probe many times — the
    * repeated-query economics the index exists for.
    */
  def buildIvfIndex(vecs: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, dir: String): Unit = {
    ivfAssign(vecs, idCol, vecCol, nCentroids)
      .withColumn("bucket", col("bucket").cast("int"))
      .write.mode("overwrite").partitionBy("bucket").parquet(dir)
    // the codebook rides along under an underscore dir (invisible to
    // parquet readers of `dir`): multi-probe needs it to rank cells
    vecs.select(col(idCol).as("id"), col(vecCol).as("v"))
      .filter(col("id") < nCentroids)
      .write.mode("overwrite").parquet(s"$dir/_codebook")
    // _ids derives from the JUST-WRITTEN index — a column-pruned read
    // of (id, partition-column) only, never a re-quantization and
    // never a checkpoint of the corpus-sized assignment (vectors
    // included) just to reuse two small columns
    writeIdsSidecar(vecs.sparkSession.read.parquet(dir)
      .select("id", "bucket"), s"$dir/_ids", overwrite = true)
  }

  /** Append (id, bucket) rows to the `_ids` sidecar without touching
    * data files — the ingest sink's crash-window repair (see
    * [[graft.streaming.AnnStreams.ingestBatch]]).
    */
  private[graft] def extendIdsSidecar(entries: DataFrame,
      dir: String): Unit =
    writeIdsSidecar(entries, s"$dir/_ids", overwrite = false)

  /** Write the id→bucket lookup sidecar at `ids`: (id, bucket)
    * range-partitioned and sorted by id, so every parquet file/row-group
    * carries tight min/max id stats BY CONSTRUCTION (not layout luck)
    * and a probe's `id = ?` lookup is footer-metadata plus one row
    * group — a metadata-sized read no matter the index size. Appends
    * add files covering only the new batch's id range; per-file pruning
    * is unaffected by how many appends landed.
    */
  private def writeIdsSidecar(assigned: DataFrame, ids: String,
      overwrite: Boolean): Unit =
    assigned.select(col("id"), col("bucket"))
      .repartitionByRange(col("id")).sortWithinPartitions(col("id"))
      .write.mode(if (overwrite) "overwrite" else "append")
      .parquet(ids)

  /** INCREMENTAL index append — the daily-ingest shape
    * (dedup_incremental's ANN counterpart): quantize ONLY the new
    * batch against the index's own immutable `_codebook`, append the
    * labelled rows into the bucket directories, extend the `_ids`
    * sidecar. Untouched bucket files are never read or rewritten
    * (parquet append adds files), so the cost is O(new batch), not
    * O(index). Because the scoring rule is [[assignToCodebook]] —
    * identical to build-time assignment — the appended index is
    * row-for-row the index a full rebuild over the unioned corpus
    * would produce, and every probe answers identically (pinned in
    * AnnIndexSpec). New ids are the caller's contract: re-appending an
    * id does not replace the old row (dedup upstream, as with
    * dedup_incremental).
    */
  def appendToIvfIndex(newVecs: DataFrame, idCol: String, vecCol: String,
      dir: String): Unit = {
    val cb = openIndex(newVecs.sparkSession, dir)
    appendAssigned(assignForIndex(
      newVecs.select(col(idCol).as("id"), col(vecCol).as("v")), cb), dir)
  }

  /** Quantize (id, v) rows against an opened index's codebook — the
    * shared assignment step of every append path.
    */
  private[graft] def assignForIndex(e: DataFrame,
      cb: Codebook): DataFrame =
    assignToCodebook(e, centroidsDf(e.sparkSession, cb))
      .withColumn("bucket", col("bucket").cast("int"))

  /** An opened codebook as the (cid, cv) frame [[assignToCodebook]]
    * and the batch probe broadcast.
    */
  private def centroidsDf(spark: org.apache.spark.sql.SparkSession,
      cb: Codebook): DataFrame = {
    import spark.implicits._
    cb.toSeq.map { case (cid, cv) => (cid, cv.toSeq) }.toDF("cid", "cv")
  }

  /** Append pre-assigned (id, v, bucket) rows: data files, then the
    * `_ids` extension. BATCH-sized checkpoint (not index-sized): the
    * appended rows cannot be told apart from the rest of `dir` after
    * the write, so the assignment is pinned once and shared by the
    * data append and the `_ids` append instead of quantizing twice.
    */
  private[graft] def appendAssigned(assigned0: DataFrame,
      dir: String): Unit = {
    val assigned = assigned0.localCheckpoint()
    assigned.write.mode("append").partitionBy("bucket").parquet(dir)
    writeIdsSidecar(assigned.select("id", "bucket"), s"$dir/_ids",
      overwrite = false)
  }

  /** TOMBSTONE delete — the deletion-vector pattern (the third verb of
    * the index lifecycle, after build/append and before compact):
    * deleting appends the ids to the shared `_tombstones` sidecar
    * ([[graft.sources.IndexLifecycle]]; one metadata-sized file per
    * delete batch; no index data is read or rewritten, so a delete is
    * O(batch) like an append), every probe path anti-joins candidates
    * against the broadcast tombstone set, and [[compactIvfIndex]]
    * physically purges the rows — rewriting
    * only the buckets that actually hold deleted ids (located through
    * the `_ids` sidecar, a metadata-sized lookup) — then clears the
    * tombstones. Tombstone growth is therefore bounded by compaction
    * cadence, which is what keeps the broadcast side small at any
    * index size. Re-deleting an absent id is a harmless no-op row.
    */
  def deleteFromIvfIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, deleteIds: Seq[Long]): Unit = {
    require(deleteIds.nonEmpty, "empty deleteIds")
    openIndex(spark, dir)
    import spark.implicits._
    IndexLifecycle.writeTombstones(deleteIds.distinct.toDF("id"), dir)
  }

  /** The one entry of every IVF verb. It heals — completes or rolls
    * back an interrupted retrain, applies a pending split
    * ([[applySplit]]) and resolves interrupted `_codebook`/`_ids` swaps
    * ([[IndexLifecycle.heal]]), so a crashed writer never takes traffic
    * down — then rejects an index still lacking `_codebook` or `_ids`
    * ([[rejectLegacy]]), and returns the codebook every verb uses for
    * both the [[liveIndex]] bucket filter and its cell ranking. Clean,
    * it costs four existence checks and a listing; the codebook is
    * memoized per index dir under the `_codebook` fingerprint
    * ([[IndexLifecycle.fingerprint]]), which every retrain, split or
    * rebuild flips.
    */
  private[graft] def openIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): Codebook = {
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val fs = p(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    IndexLifecycle.heal(fs, retrainSlot(dir))
    if (fs.exists(p(s"$dir/_split.next"))) applySplit(spark, fs, dir)
    val cbPath = p(s"$dir/_codebook")
    // `&`, not `&&`: both sidecars heal
    if (!(IndexLifecycle.heal(fs, IndexLifecycle.Slot(cbPath)) &
        IndexLifecycle.heal(fs, IndexLifecycle.Slot(p(s"$dir/_ids")))))
      rejectLegacy(dir)
    codebooks.get(dir, IndexLifecycle.fingerprint(fs, cbPath))(
      IndexLifecycle.readSidecar(spark, cbPath.toString)
        .select(col("id"), col("v")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1))
  }

  private val codebooks =
    new graft.Memo[String, Seq[(String, Long, Long)], Codebook]

  /** An opened codebook: (cid, centroid) rows sorted by cid. */
  private[graft] type Codebook = Array[(Long, Array[Double])]

  /** The one legacy-index rejection: an index lacking the `_codebook`
    * or `_ids` sidecar (or no index at all) is a format no verb reads,
    * upgrades or extends.
    */
  private def rejectLegacy(dir: String): Nothing =
    throw new IllegalArgumentException(
      s"$dir is not an IVF index in the current format (it lacks the " +
        "_codebook or _ids sidecar) — delete it and rebuild it with " +
        "buildIvfIndex")

  /** The slot [[retrainIvfIndex]] replaces the whole index through:
    * siblings `<dir>.retrain.next` / `<dir>.retrain.old`.
    */
  private def retrainSlot(dir: String): IndexLifecycle.Slot =
    IndexLifecycle.Slot(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(s"$dir.retrain.next"),
      new org.apache.hadoop.fs.Path(s"$dir.retrain.old"))

  /** The stored index minus tombstoned rows — what every probe path
    * scans. The anti-join side is the tombstone set (compaction-
    * bounded), broadcast so candidate scans stay partition-pruned
    * single-pass reads. Rows whose bucket the codebook `cb` does not
    * name are hidden: a hot-cell split renames child dirs in BEFORE its
    * codebook swap and drops parent dirs AFTER it, so this filter makes
    * every crash/race window show each id exactly once (children
    * invisible before the swap, orphaned parents invisible after). The
    * cid list is partition-prunable.
    */
  private[graft] def liveIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, cb: Codebook): DataFrame = {
    IndexLifecycle.masked(spark, dir, "id", spark.read.parquet(dir)
      .filter(col("bucket").isin(cb.map(_._1.toInt).toSeq: _*)), col("id"))
  }

  /** Probe a [[buildIvfIndex]] materialization: the probe row is a
    * driver-side point lookup (one row; its norm a driver-side
    * sequential fold — identical order, hence bit-identical, to the
    * executor fold), and the cell filter prunes at directory level.
    */
  def annIvfFromIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, probeId: Long, k: Int): DataFrame =
    annIvfFromIndexMultiProbe(spark, dir, probeId, k, nprobe = 1)

  /** Multi-probe over the bucketed materialization — the production
    * repeated-query form of [[annIvfMultiProbe]]: the probe's `nprobe`
    * nearest cells are computed DRIVER-SIDE against the index's own
    * `_codebook` sidecar (for nprobe=1 the probe row's stored bucket
    * is reused), and the scan filter is
    * `bucket IN (<cells>)` — still directory-level partition pruning,
    * now over nprobe directories. Cell scoring matches [[ivfAssign]]
    * (dot(pv,c)/|c|, ties to the lowest cid), so results equal the
    * one-shot multi-probe exactly.
    */
  def annIvfFromIndexMultiProbe(spark: org.apache.spark.sql.SparkSession,
      dir: String, probeId: Long, k: Int, nprobe: Int): DataFrame = {
    require(nprobe >= 1, s"nprobe=$nprobe")
    val cb = openIndex(spark, dir)
    val stored = liveIndex(spark, dir, cb)
    // probe row: a metadata-sized `_ids` lookup, then ONE
    // partition-pruned bucket directory read for the vector — a probe
    // is O(row group), not O(index). An id the sidecar lacks (an append
    // that died between its data and `_ids` writes) falls back to an
    // index-wide id filter. A tombstoned probe id fails loudly here —
    // the live scan has no row for it even when the (unrewritten)
    // sidecar still lists its bucket.
    val probe = probeBucketLookup(spark, dir, probeId)
      .fold(stored)(b => stored.filter(col("bucket") === b))
      .filter(col("id") === probeId)
      .select(col("bucket"), col("v")).collect()
      .headOption.getOrElse(throw new IllegalArgumentException(
        s"probe id $probeId not in index $dir (absent or deleted)"))
    val pv = probe.getSeq[Double](1).toArray
    val pn = math.sqrt(pv.map(x => x * x).sum)
    val cells: Seq[Int] =
      if (nprobe == 1) Seq(probe.getInt(0))
      else codebookCells(cb, pv, nprobe)
    scoreCells(stored, cells, pv, pn, k, excludeId = Some(probeId))
  }

  /** Probe the bucketed index with an EXPLICIT query vector — the
    * retrieval shape (the query embedded at request time, not a stored
    * row): no id lookup happens at all, the `nprobe` nearest cells
    * rank driver-side against the `_codebook` sidecar, and the scan is
    * partition-pruned to those cell directories. No self-exclusion
    * (there is no stored self); otherwise identical scoring and
    * tie-breaks to [[annIvfFromIndexMultiProbe]].
    */
  def annIvfFromIndexVector(spark: org.apache.spark.sql.SparkSession,
      dir: String, probeVec: Array[Double], k: Int,
      nprobe: Int): DataFrame = {
    require(nprobe >= 1, s"nprobe=$nprobe")
    val cb = openIndex(spark, dir)
    val pn = math.sqrt(probeVec.map(x => x * x).sum)
    scoreCells(liveIndex(spark, dir, cb), codebookCells(cb, probeVec, nprobe),
      probeVec, pn, k, excludeId = None)
  }

  /** BATCH multi-probe over a [[buildIvfIndex]] materialization — the
    * nightly-retrieval workload against a STORED index (the from-index
    * form of [[annIvfMultiProbeBatch]], bit-identical tie-breaks).
    * Probe rows are located through the `_ids` sidecar (P driver-side
    * (id, bucket) pairs, then ONE scan pruned to the probes' own
    * bucket directories — never an index-wide id filter while the
    * sidecar covers every probe). Cell ranking and per-probe
    * exact top-k run entirely executor-side through GroupedTopK, and
    * the candidate scan joins `bucket === cid` against the broadcast
    * (probe, cell) list — on the bucket-partitioned layout Spark's
    * dynamic partition pruning turns that broadcast into a runtime
    * directory filter (pinned in AnnIndexSpec), so candidate I/O is
    * the union of probed cells no matter the index size.
    */
  def annIvfFromIndexBatch(spark: org.apache.spark.sql.SparkSession,
      dir: String, probeIds: Seq[Long], k: Int, nprobe: Int): DataFrame = {
    require(nprobe >= 1, s"nprobe=$nprobe")
    require(probeIds.nonEmpty, "empty probeIds")
    val dot = GraftFunctions.dot_f64 _
    // the memoized codebook (nCentroids rows by construction) serves
    // the nprobe guard, the bucket filter and the broadcast side — no
    // count() job, and repeat batches read no codebook parquet at all
    val cb = openIndex(spark, dir)
    require(cb.length >= nprobe,
      s"codebook has ${cb.length} centroids < nprobe=$nprobe")
    // tombstone-masked: deleted rows never appear as candidates, and a
    // tombstoned PROBE id contributes no probe row — its pid is simply
    // absent from the output (the batch contract; the single-probe
    // path errors loudly instead)
    val stored = liveIndex(spark, dir, cb)
    // DISTINCT ids throughout — a duplicated probe id would otherwise
    // duplicate its probe row and fill that probe's top-k with
    // repeated (pid, id) candidates
    val distinctPids = probeIds.distinct
    val pidDf = {
      import spark.implicits._
      distinctPids.toDF("id")
    }
    // probe vectors: sidecar lookup -> scan only the probes' buckets.
    // Bounded probe lists filter the sidecar with a literal isin —
    // that pushes into parquet min/max stats, so the sorted layout
    // prunes to the touched row groups; past the literal-list
    // threshold (the 10^6-probe workload) a broadcast join scans the
    // sidecar once, which at that probe count IS the lookup's amortized
    // cost (2 longs/row — a sliver of the vector payload it replaces).
    val probeRows = {
      val ids = IndexLifecycle.readSidecar(spark, s"$dir/_ids")
      val matched =
        (if (distinctPids.length <= 1000)
          ids.filter(col("id").isin(distinctPids: _*))
        else ids.join(broadcast(pidDf), "id")).collect()
      val missing = distinctPids.toSet -- matched.map(_.getLong(0))
      // ids the sidecar lacks: if every one is TOMBSTONED the matched
      // buckets are still exactly right (a deleted probe contributes
      // no rows anyway) — don't degrade the whole batch to the
      // index-wide fallback for a stale probe list. An id a crashed
      // append left out of `_ids` falls back conservatively. The
      // missing set broadcasts rather than an isin literal: at the
      // 10^6-probe workload a large stale fraction would otherwise
      // build a planning-killing In list.
      val allDead = missing.isEmpty ||
        IndexLifecycle.tombstones(spark, dir, "id").exists { ts =>
          val missingDf = {
            import spark.implicits._
            missing.toSeq.toDF("id")
          }
          ts.join(broadcast(missingDf), "id").count() == missing.size
        }
      (if (allDead) stored.filter(col("bucket")
        .isin(matched.map(_.getInt(1)).distinct.toSeq: _*))
      else stored).join(broadcast(pidDf), "id")
    }
    val probes = probeRows.select(col("id").as("pid"), col("v").as("pv"),
      sqrt(dot(col("v"), col("v"))).as("pn"))
    val cellScores = probes.crossJoin(broadcast(centroidsDf(spark, cb)))
      .select(col("pid"), col("cid"),
        (dot(col("cv"), col("pv")) / sqrt(dot(col("cv"), col("cv"))))
          .as("score"))
    val probeCells = TopKOps.topKPerGroup(cellScores, Seq("pid"),
      Seq("score" -> false, "cid" -> true), nprobe)
      .select(col("pid"), col("cid"))
    stored
      .join(broadcast(probeCells), col("bucket") === col("cid"))
      .join(broadcast(probes), "pid")
      .filter(col("id") =!= col("pid"))
      .select(col("pid"), col("id"),
        (dot(col("v"), col("pv")) /
          (sqrt(dot(col("v"), col("v"))) * col("pn"))).as("cosine"))
      .transform(d => TopKOps.topKPerGroup(d, Seq("pid"),
        Seq("cosine" -> false, "id" -> true), k))
  }

  /** COMPACT an appended index: every [[appendToIvfIndex]] batch adds
    * one file set per touched bucket, so N daily ingests leave O(N)
    * small files per directory and probes pay O(N) opens. Buckets
    * whose file count exceeds `maxFilesPerBucket` are rewritten as
    * one file each through Spark's DYNAMIC partition overwrite —
    * only the compacted bucket directories are replaced (a
    * partition-pruned read of exactly those buckets, one shuffle
    * keyed by bucket, standard Spark commit semantics), untouched
    * buckets and the `_codebook` keep their files byte-identical.
    * Content is preserved row-for-row and the id→bucket map is
    * unchanged, so the `_ids` sidecar stays valid as-is; it is
    * re-sorted/rewritten only when its own file count passed the
    * threshold. Probe answers are identical before and after (pinned
    * in AnnIndexSpec). Pending [[deleteFromIvfIndex]] tombstones are
    * physically PURGED first — only the buckets holding deleted ids
    * are rewritten ([[IndexLifecycle.rewriteBuckets]]), emptied bucket
    * directories are removed, and the tombstone sidecar is cleared.
    * Both `_ids` rewrites go through [[replaceIds]], never an in-place
    * overwrite.
    */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, maxFilesPerBucket: Int = 4): Unit = {
    require(maxFilesPerBucket >= 1, s"maxFilesPerBucket=$maxFilesPerBucket")
    // the open applies any crashed retrain rollback / pending split
    // first: compact reads the data dirs and `_ids` directly, and a
    // half-applied split (children renamed in, parents not yet dropped)
    // would otherwise double-count the split rows
    openIndex(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val idsDir = s"$dir/_ids"
    // PURGE pending tombstones first: rewrite ONLY the buckets that
    // hold deleted ids (located through the `_ids` sidecar — a
    // metadata-sized lookup), remove bucket directories the purge
    // emptied, rewrite `_ids` without the deleted ids, and clear
    // `_tombstones`. After this block the index is byte-equivalent to
    // one never containing the deleted rows, and probes stop paying
    // the anti-join.
    IndexLifecycle.tombstones(spark, dir, "id").foreach { pending =>
      val ts = pending.localCheckpoint()
      // the sidecar locate is only sound when the sidecar is COMPLETE
      // — an append that died between its data and `_ids` writes
      // leaves rows `_ids` lacks, and trusting it would SKIP their
      // buckets, leave deleted rows in place, and still clear the
      // tombstones (silent resurrection). Completeness is a
      // metadata-sized check: both counts answer from parquet footers.
      val ids = IndexLifecycle.readSidecar(spark, idsDir)
      val complete = ids.count() == spark.read.parquet(dir).count()
      val touched = (if (complete) ids else spark.read.parquet(dir))
        .join(broadcast(ts), "id")
        .select("bucket").distinct().collect().map(_.getInt(0)).toSeq
      if (touched.nonEmpty)
        (touched.toSet -- IndexLifecycle.rewriteBuckets(spark, dir, "bucket",
          touched, col("id"), ts)).foreach(b =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$dir/bucket=$b"), true))
      // complete sidecar: drop the dead ids; incomplete: REBUILD it
      // from the post-purge data (same column-pruned read
      // buildIvfIndex uses), which also repairs the crash window
      if (touched.nonEmpty || !complete)
        replaceIds(fs, dir,
          if (complete) IndexLifecycle.mask(ids, col("id"), ts)
          else spark.read.parquet(dir).select("id", "bucket"))
      IndexLifecycle.clearTombstones(fs, dir)
    }
    IndexLifecycle.compactBuckets(spark, fs, dir, "bucket", maxFilesPerBucket)
    // content unchanged by bucket compaction; rewrite only to restore
    // the sorted few-files layout the point lookup relies on
    if (IndexLifecycle.parquetFiles(fs, new org.apache.hadoop.fs.Path(idsDir))
        > maxFilesPerBucket)
      replaceIds(fs, dir, IndexLifecycle.readSidecar(spark, idsDir))
  }

  /** Replace the live `_ids` with `entries`: the complete copy is
    * written to `_ids.tmp`, staged as `_ids.next` and swapped in
    * ([[IndexLifecycle.swap]]), so `_ids` is never partly written. A
    * crash mid-swap heals on the next open by adopting `_ids.next`,
    * which answers as the compaction would (a purge's ids stay
    * tombstoned until the tombstones clear).
    */
  private def replaceIds(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      entries: DataFrame): Unit = {
    val staged = s"$dir/_ids.tmp"
    writeIdsSidecar(entries, staged, overwrite = true)
    val slot = IndexLifecycle.Slot(new org.apache.hadoop.fs.Path(s"$dir/_ids"))
    IndexLifecycle.stage(fs, new org.apache.hadoop.fs.Path(staged), slot)
    IndexLifecycle.swap(fs, slot)
  }

  /** SPLIT hot cells in place — the incremental lever between
    * [[retrainIvfIndex]] runs: [[appendToIvfIndex]] deliberately
    * freezes the codebook, so under skewed inserts one cell grows
    * without bound and every probe ranking it pays the whole
    * directory. Splitting re-k-means ONLY the offending bucket's rows
    * (a local [[KMeans.centroids]] with k = `subK`, deterministic
    * seeds = the subK lowest ids IN that bucket), re-assigns those
    * rows to the sub-centroids by the shared [[assignToCodebook]]
    * rule, and replaces the parent cell with the children — in the
    * data layout, the `_codebook`, and the `_ids` sidecar. Untouched
    * buckets are never read or rewritten (byte-identical, pinned in
    * AnnIndexSpec).
    *
    * Child centroid ids are deterministic arithmetic — hot buckets
    * ascending, child j of the i-th hot bucket gets
    * `maxCid + 1 + i*subK + j` with children ordered by seed id — so
    * the whole verb is relationally replayable (the `ann_ivf_split`
    * gate hash-matches a generated SQL replay).
    *
    * Crash discipline (single-writer, readers heal): the COMPLETE
    * artifact set — child bucket dirs, post-split `_codebook` and
    * `_ids`, and a (parent, child) `_manifest` — stages under
    * `_split.tmp` (underscore: invisible to data reads), commits by
    * ONE rename to `_split.next`, and [[applySplit]] applies it
    * idempotently: child dirs rename in, `_codebook` swaps, `_ids`
    * swaps, parent dirs drop, marker clears LAST. Every index verb
    * heals a pending `_split.next` first (via [[openIndex]]),
    * and [[liveIndex]] hides rows whose bucket is absent from the
    * codebook — so every window shows each id EXACTLY once: before
    * the codebook swap the parent rows are live and the renamed-in
    * children codebook-invisible; after it, the children are live and
    * the not-yet-dropped parents invisible.
    *
    * Pending tombstones carry through: dead rows move to their child
    * cell and stay masked; the purge's `_ids` locate sees the updated
    * buckets. Returns the (parent -> children) mapping actually
    * split; empty when no bucket exceeds `maxRowsPerBucket`.
    */
  def splitHotCells(spark: org.apache.spark.sql.SparkSession,
      dir: String, maxRowsPerBucket: Long, subK: Int = 2,
      iters: Int = 1): Seq[(Int, Seq[Int])] = {
    require(maxRowsPerBucket >= 1, s"maxRowsPerBucket=$maxRowsPerBucket")
    require(subK >= 2 && subK <= 64, s"subK=$subK")
    require(iters >= 1 && iters <= 50, s"iters out of range: $iters")
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val fs = p(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cb = openIndex(spark, dir) // also applies any pending split
    // per-bucket row counts: a scan pruned to the partition column
    val hot = spark.read.parquet(dir)
      .groupBy(col("bucket").cast("int").as("bucket"))
      .agg(count(lit(1)).as("n")).collect()
      .collect { case r if r.getLong(1) > maxRowsPerBucket &&
        r.getLong(1) >= subK => r.getInt(0) }
      .sorted
    if (hot.isEmpty) return Seq.empty
    val maxCid = cb.map(_._1).max
    val tmp = s"$dir/_split.tmp"
    val next = s"$dir/_split.next"
    fs.delete(p(tmp), true) // stale staging from a crashed run
    import spark.implicits._
    // stage each hot bucket's re-assignment under _split.tmp/data,
    // carrying the trained sub-centroids for the codebook rewrite
    val mapping = hot.toSeq.zipWithIndex.map { case (b, i) =>
      val rows = spark.read.option("basePath", dir)
        .parquet(s"$dir/bucket=$b").select("id", "v")
      val cents = KMeans.centroids(rows, "id", "v", subK, iters)
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
        .sortBy(_._1) // children ordered by their seed id
      val childCids = cents.indices
        .map(j => maxCid + 1 + i.toLong * subK + j)
      val renumbered = childCids.zip(cents.map(_._2)).toDF("cid", "cv")
      assignToCodebook(rows, renumbered)
        .withColumn("bucket", col("bucket").cast("int"))
        .write.mode("append").partitionBy("bucket")
        .parquet(s"$tmp/data")
      (b, childCids, cents.map(_._2))
    }
    // post-split codebook: parents out, trained children in. It and
    // the `_ids` below are written against the LIVE sidecars (nothing
    // live is overwritten until applySplit, so no checkpoint is needed)
    (cb.toSeq.collect { case (cid, cv) if !hot.contains(cid.toInt) =>
      (cid, cv.toSeq) } ++
      mapping.flatMap { case (_, kids, cvs) => kids.zip(cvs) })
      .toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/_codebook")
    // post-split _ids: hot rows re-pointed at their child cell (stale
    // rows impossible by construction — every row of a hot bucket is
    // re-assigned from the data itself)
    val newAssign = spark.read.parquet(s"$tmp/data").select("id", "bucket")
    writeIdsSidecar(
      IndexLifecycle.readSidecar(spark, s"$dir/_ids")
        .filter(!col("bucket").isin(hot.toSeq: _*))
        .unionByName(newAssign),
      s"$tmp/_ids", overwrite = true)
    mapping.flatMap { case (b, kids, _) => kids.map(k => (b, k.toInt)) }
      .toDF("parent", "child").coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/_manifest")
    // COMMIT: one rename makes the complete staged set authoritative;
    // the apply below (idempotent, also run by every reader that finds
    // the marker) swaps it into the live layout
    require(!fs.exists(p(next)),
      s"$next still pending after heal — concurrent writer?")
    // the apply publishes the staged sidecars as `<name>.next`: clear
    // any a crashed compaction left, so the publish cannot nest
    Seq("_codebook", "_ids").foreach(sc =>
      fs.delete(IndexLifecycle.Slot(p(s"$dir/$sc")).next, true))
    IndexLifecycle.moveStaged(fs, p(tmp), p(next))
    applySplit(spark, fs, dir)
    mapping.map { case (b, kids, _) => b -> kids.map(_.toInt) }
  }

  /** Apply a committed `_split.next` idempotently — run by the writer
    * right after its commit rename and by every verb that finds the
    * marker (the heal, via [[openIndex]]): child bucket dirs rename
    * in, `_codebook` and `_ids` swap, parent dirs drop once the
    * codebook no longer names them, and the marker clears LAST so any
    * crash resumes from here. Each staged sidecar is published as its
    * `<name>.next` and swapped in ([[IndexLifecycle.swap]]); a
    * `<name>.next` an interrupted apply already published swaps as is.
    */
  private def applySplit(spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, dir: String): Unit = {
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val next = p(s"$dir/_split.next")
    // a concurrent healer may finish the whole apply (marker deleted)
    // between our exists check and this read — a healthy state, not an
    // error. The race can surface at ANALYSIS time (AnalysisException)
    // or at EXECUTION time (FileNotFound wrapped in SparkException
    // once the tasks open the deleted files), so the guard is
    // NonFatal + a marker re-check: marker gone = healed elsewhere,
    // marker still present = a real failure, rethrown loud.
    val man =
      try IndexLifecycle.readSidecar(spark, s"$dir/_split.next/_manifest")
        .collect().map(r => (r.getInt(0), r.getInt(1)))
      catch { case scala.util.control.NonFatal(e) =>
        if (!fs.exists(next)) return else throw e
      }
    // (1) child data dirs in — absent source means already applied;
    // children are codebook-invisible until step (2), so this is safe
    // in any order
    man.map(_._2).distinct.foreach(c => IndexLifecycle.moveIfPresent(fs,
      p(s"$dir/_split.next/data/bucket=$c"), p(s"$dir/bucket=$c")))
    // (2) sidecar swaps; the codebook swap is the COMMIT POINT for
    // visibility
    for (sc <- Seq("_codebook", "_ids")) {
      val slot = IndexLifecycle.Slot(p(s"$dir/$sc"))
      IndexLifecycle.moveIfPresent(fs, p(s"$dir/_split.next/$sc"), slot.next)
      if (fs.exists(slot.next)) IndexLifecycle.swap(fs, slot)
    }
    // (3) parent dirs out — unreachable since the codebook swap
    // (cell probes rank codebook cids; liveIndex hides
    // codebook-absent buckets)
    man.map(_._1).distinct.foreach(b =>
      fs.delete(p(s"$dir/bucket=$b"), true))
    // (4) the marker clears LAST: any earlier crash resumes here
    fs.delete(next, true)
  }

  /** RETRAIN the coarse quantizer in place — the codebook-drift verb
    * completing the index lifecycle (build → append → delete → purge →
    * compact → RETRAIN): [[appendToIvfIndex]] deliberately freezes the
    * codebook (that is what makes append == rebuild provable), so
    * under distribution drift recall decays and hot cells grow without
    * bound. Retraining runs [[KMeans.centroids]] over the LIVE index
    * (k trained centroids, deterministic seed = the k lowest live
    * ids), re-quantizes every live vector with the shared
    * [[assignToCodebook]] rule, and rewrites data + `_codebook` +
    * `_ids`. Pending tombstones are physically purged by construction
    * (the retrain input is the live set) and the sidecar cleared.
    *
    * Scale shape: training is KMeans' broadcast-codebook map-side
    * argmin (the shuffle per Lloyd round is k·dims rows);
    * re-quantization is one map-side pass; the rewrite stages to a
    * sibling `<dir>.retrain.tmp` parquet (disk, not a block-manager
    * checkpoint of the index), which replaces `dir` through the shared
    * swap ([[IndexLifecycle.swap]] of `<dir>.retrain.next`), so the
    * peak footprint is the data being rewritten — which a full
    * re-bucket inherently rewrites. Single-writer, like every
    * lifecycle verb.
    *
    * The result is row-for-row the index [[buildIvfIndex]] would
    * produce at the new codebook (pinned in AnnIndexSpec; the
    * `ann_ivf_retrained` gate hash-checks a probe against the
    * fresh-build oracle), and probe paths pick the new codebook up
    * automatically — the `_codebook` rewrite flips the per-JVM memo's
    * fingerprint.
    */
  def retrainIvfIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, k: Int, iters: Int): Unit = {
    require(k >= 1, s"k=$k")
    require(iters >= 1 && iters <= 50, s"iters out of range: $iters")
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val fs = p(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // heal a crashed earlier retrain (the shared read-side heal); the
    // staging is rebuilt from scratch
    val cb = openIndex(spark, dir)
    val tmp = s"$dir.retrain.tmp"
    fs.delete(p(tmp), true) // stale staging from a crashed run
    val live = liveIndex(spark, dir, cb).select(col("id"), col("v"))
    val cents = KMeans.centroids(live, "id", "v", k, iters)
      .select(col("cid").as("id"), col("cv").as("v"))
      .localCheckpoint() // k rows — pinned before the source dir moves
    val assigned = assignToCodebook(live,
      cents.select(col("id").as("cid"), col("v").as("cv")))
      .withColumn("bucket", col("bucket").cast("int"))
    // the COMPLETE new index builds in the sibling staging dir — data,
    // codebook, and the _ids sidecar (derived from the just-written
    // staging via a column-pruned read-back, the buildIvfIndex
    // discipline; underscore dirs stay invisible to the data read)
    assigned.write.mode("overwrite").partitionBy("bucket").parquet(tmp)
    cents.write.mode("overwrite").parquet(s"$tmp/_codebook")
    writeIdsSidecar(spark.read.parquet(tmp).select("id", "bucket"),
      s"$tmp/_ids", overwrite = true)
    // the index is written ONCE and replaces `dir` through two metadata
    // renames; the old dir (pending _tombstones included: the retrain
    // input was the live set, so dropping them IS the purge) retires
    // wholesale
    IndexLifecycle.stage(fs, p(tmp), retrainSlot(dir))
    IndexLifecycle.swap(fs, retrainSlot(dir))
  }

  /** id→bucket point lookup against the `_ids` sidecar; None when the
    * id is absent. The sidecar is sorted/range-partitioned by id, so
    * the filter prunes to one row group via parquet min/max stats.
    */
  private[graft] def probeBucketLookup(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      probeId: Long): Option[Int] = {
    val ids = new org.apache.hadoop.fs.Path(s"$dir/_ids")
    try IndexLifecycle.readSidecar(spark, ids.toString)
      .filter(col("id") === probeId)
      .collect().headOption.map(_.getInt(1))
    catch { case scala.util.control.NonFatal(e) =>
      // a concurrent sidecar SWAP (split/compact) can rename _ids away
      // between the open and this read, surfacing at analysis OR
      // execution time (FileNotFound inside a SparkException). Sidecar
      // verifiably mid-swap (gone) = the safe index-wide fallback;
      // sidecar present but unreadable = real corruption, rethrown.
      if (!ids.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .exists(ids)) None
      else throw e
    }
  }

  /** The probe vector's `nprobe` nearest cells, ranked driver-side
    * against an opened codebook. The sequential fold order matches the
    * executor fold, so the ranking equals ivfAssign's (dot(pv,c)/|c|,
    * ties to the lowest cid).
    */
  private def codebookCells(cb: Codebook,
      pv: Array[Double], nprobe: Int): Seq[Int] = {
    def d(a: Array[Double], b: Array[Double]) =
      a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))
    require(cb.length >= nprobe,
      s"codebook has ${cb.length} centroids < nprobe=$nprobe")
    cb.map { case (cid, cv) =>
      (cid, d(cv, pv) / math.sqrt(d(cv, cv)))
    }.sortBy { case (cid, s) => (-s, cid) }.take(nprobe)
      .map(_._1.toInt).toSeq
  }

  /** Exact top-k over the union of `cells` (a partition-pruned IN
    * filter on the bucketed scan) against a literal probe vector.
    */
  private def scoreCells(stored: DataFrame, cells: Seq[Int],
      pv: Array[Double], pn: Double, k: Int,
      excludeId: Option[Long]): DataFrame = {
    val dot = GraftFunctions.dot_f64 _
    val pruned = stored.filter(col("bucket").isin(cells: _*))
    excludeId.fold(pruned)(id => pruned.filter(col("id") =!= id))
      .select(col("id"),
        (dot(col("v"), lit(pv)) /
          (sqrt(dot(col("v"), col("v"))) * lit(pn))).as("cosine"))
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)
  }

  /** PRODUCT QUANTIZATION (PQ): compress each vector into `m` small
    * codes — one per contiguous subspace — against per-subspace
    * codebooks, then answer similarity probes from the CODES alone
    * (asymmetric distance, ADC). The standard ANN compression at
    * archive scale (FAISS IVF-PQ's fine quantizer): a 64-dim float32
    * vector becomes m bytes, so a 10⁹-row index fits in memory where
    * raw vectors never would, and a probe scans code bytes + an
    * (m × k)-entry lookup table instead of touching any vector.
    *
    * Scale shape: ONE pass explodes vectors to (id, sub, subvector)
    * map-side; training is the [[KMeans]] discipline fused across
    * subspaces (broadcast m·k codebook, map-side argmin, fixed-point
    * Lloyd update whose shuffle is m·k·dims rows regardless of input);
    * encoding is the same broadcast argmin; ADC retrieval never reads
    * vectors — the probe's lookup table is m·k rows, broadcast.
    *
    * Determinism (hash-gate parity, same laws as [[KMeans]]): seed
    * codebook = the first k ids' subvectors; dist² is the three
    * sequential dot folds (|v|² − 2⟨v,c⟩) + |c|²; argmin ties to the
    * lowest cid; Lloyd means accumulate in 2^20 fixed point; the ADC
    * sum of m=2 terms is a single commutative double addition.
    */
  def pqSubVecs(vecs: DataFrame, idCol: String, vecCol: String,
      m: Int, dim: Int): DataFrame = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m")
    val h = dim / m
    val dv = transform(col(vecCol), x => x.cast("double"))
    vecs.select(col(idCol).as("id"),
      posexplode(transform(sequence(lit(0), lit(m - 1)),
        s => slice(dv, s * h + 1, lit(h)))).as(Seq("sub", "sv")))
  }

  /** Nearest code per (id, sub) against a (sub, cid, cv) codebook:
    * broadcast join on sub, map-side argmin, ties to the lowest cid.
    * Out: (id, sub, sv, code, dist2).
    */
  private def pqAssign(es: DataFrame, cb: DataFrame): DataFrame = {
    val dot = GraftFunctions.dot_f64 _
    es.join(broadcast(cb), "sub")
      .select(col("id"), col("sub"), col("sv"), col("cid"),
        ((dot(col("sv"), col("sv")) -
          lit(2.0) * dot(col("sv"), col("cv"))) +
          dot(col("cv"), col("cv"))).as("dist2"))
      .groupBy("id", "sub")
      .agg(min(struct(col("dist2").as("d"), col("cid").as("c"))).as("m"),
        first(col("sv")).as("sv"))
      .select(col("id"), col("sub"), col("sv"),
        col("m.c").as("code"), col("m.d").as("dist2"))
  }

  /** Per-subspace codebooks: seed = subvectors of the k lowest ids,
    * one fused fixed-point Lloyd step. Out: (sub, cid, cv).
    */
  def pqTrain(vecs: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, dim: Int): DataFrame = {
    val es = pqSubVecs(vecs, idCol, vecCol, m, dim)
    val c0 = es.filter(col("id") < k)
      .select(col("sub"), col("id").as("cid"), col("sv").as("cv"))
    pqAssign(es, c0)
      .select(col("sub"), col("code").as("cid"),
        posexplode(col("sv")).as(Seq("pos", "x")))
      .groupBy("sub", "cid", "pos")
      .agg((sum(floor(col("x") * lit(1048576.0) + lit(0.5))) /
        (count(lit(1)) * lit(1048576.0))).as("c"))
      .groupBy("sub", "cid")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        _.getField("c")).as("cv"))
  }

  /** Encode every vector against a trained codebook.
    * Out: (id, sub, code) — m rows per vector, the persisted form.
    */
  def pqEncode(vecs: DataFrame, idCol: String, vecCol: String,
      cb: DataFrame, m: Int, dim: Int): DataFrame =
    pqAssign(pqSubVecs(vecs, idCol, vecCol, m, dim), cb)
      .select(col("id"), col("sub"), col("code"))

  /** ADC top-k: distance(probe, x) ≈ Σ_sub lut(sub, code_sub(x)) with
    * lut = exact dist²(probe subvector, centroid). Touches only the
    * codes table and the broadcast m·k lookup table — never a stored
    * vector. The probe's own row is excluded.
    */
  def pqAdcTopK(codes: DataFrame, cb: DataFrame, probeSubVecs: DataFrame,
      probeId: Long, topK: Int): DataFrame = {
    val dot = GraftFunctions.dot_f64 _
    val lut = cb.join(broadcast(probeSubVecs.select(col("sub"),
        col("sv").as("pv"))), "sub")
      .select(col("sub"), col("cid"),
        ((dot(col("pv"), col("pv")) -
          lit(2.0) * dot(col("pv"), col("cv"))) +
          dot(col("cv"), col("cv"))).as("d"))
    codes.filter(col("id") =!= probeId)
      .join(broadcast(lut),
        codes("sub") === lut("sub") && codes("code") === lut("cid"))
      .groupBy(col("id"))
      .agg(sum(col("d")).as("adist"))
      .orderBy(col("adist"), col("id"))
      .limit(topK)
  }

  /** The full PQ probe path: ADC SHORTLIST from codes alone, then an
    * EXACT re-rank that reads only the shortlist's vectors — how PQ
    * ships in production (the ADC@k set alone is tie-dominated when
    * neighborhoods are tight; the shortlist+rerank recovers exact-rank
    * quality while still touching `shortlist` vectors instead of the
    * corpus). Out: exact top-k (id, d2) over the shortlist.
    */
  def pqAdcRerank(vecs: DataFrame, idCol: String, vecCol: String,
      m: Int, dim: Int, codes: DataFrame, cb: DataFrame,
      probeId: Long, shortlist: Int, k: Int): DataFrame = {
    val dot = GraftFunctions.dot_f64 _
    val probe = pqSubVecs(vecs.filter(col(idCol) === probeId),
      idCol, vecCol, m, dim)
    val sl = pqAdcTopK(codes, cb, probe, probeId, shortlist).select("id")
    val e = vecs.select(col(idCol).as("id"),
      transform(col(vecCol), x => x.cast("double")).as("v"))
    val pv = e.filter(col("id") === probeId).select(col("v").as("pv"))
    e.join(broadcast(sl), "id")
      .crossJoin(broadcast(pv))
      .select(col("id"),
        ((dot(col("v"), col("v")) - lit(2.0) * dot(col("v"), col("pv"))) +
          dot(col("pv"), col("pv"))).as("d2"))
      .orderBy(col("d2"), col("id"))
      .limit(k)
  }

  /** Per-dimension scalar-quantizer training (the FAISS SQ8 shape,
    * faiss IndexScalarQuantizer QT_8bit): one corpus pass computes
    * each dimension's [lo, hi] range; the quantizer is the pair of
    * dim-length arrays (lo, s) with step s = (hi − lo) / 255.
    * Out: ONE row (lo: array<double>, s: array<double>) — metadata-
    * sized (dim values, not corpus values), broadcast by every
    * consumer.
    *
    * Scale shape: posexplode is map-side; the groupBy("pos") shuffle
    * carries at most dims × partitions partial rows (min/max are
    * map-side combinable); the final collect_list runs over `dims`
    * rows. Nothing corpus-sized moves.
    *
    * Determinism (hash-gate parity with DuckDB): lo/hi are min/max of
    * exact float32→double casts — order-free; s is one IEEE divide on
    * those; both engines evaluate the identical op chain.
    */
  def sq8Train(vecs: DataFrame, vecCol: String): DataFrame = {
    val dv = transform(col(vecCol), x => x.cast("double"))
    vecs.select(posexplode(dv).as(Seq("pos", "x")))
      .groupBy("pos").agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      .groupBy()
      .agg(
        transform(array_sort(collect_list(struct(col("pos"), col("lo")))),
          _.getField("lo")).as("lo"),
        transform(array_sort(collect_list(struct(col("pos"), col("hi")))),
          _.getField("hi")).as("hi"))
      .select(col("lo"),
        zip_with(col("lo"), col("hi"),
          (l, h) => (h - l) / lit(255.0)).as("s"))
  }

  /** Encode every vector against a trained per-dim quantizer:
    * code_i = floor((x_i − lo_i) / s_i + 0.5) ∈ [0, 255] (0 where the
    * dimension is constant, s_i = 0). 64 float32 dims become 64 bytes
    * — 4× smaller than raw vectors and, unlike PQ, decodable per-dim
    * without a codebook. Out: (id, v: array<double>, codes:
    * array<int>) — v rides along so reconstruction-error consumers
    * need no corpus-wide join back (a persisting index drops it);
    * map-side only (the 1-row stats broadcast-cross-joins onto the
    * corpus).
    *
    * codes stay in [0,255]: x ∈ [lo,hi] puts (x−lo)/s in [0, ~255] —
    * the upper end can exceed 255 only by float ulps (< 0.5), so the
    * +0.5-floor never rounds past 255.
    */
  def sq8Encode(vecs: DataFrame, idCol: String, vecCol: String,
      stats: DataFrame): DataFrame = {
    val dv = transform(col(vecCol), x => x.cast("double"))
    vecs.select(col(idCol).as("id"), dv.as("v"))
      .crossJoin(broadcast(stats))
      .select(col("id"), col("v"),
        zip_with(col("v"), arrays_zip(col("lo"), col("s")), (x, t) =>
          when(t.getField("s") === lit(0.0), lit(0))
            .otherwise(floor((x - t.getField("lo")) / t.getField("s")
              + lit(0.5)).cast("int"))).as("codes"))
  }

  /** SQ8 asymmetric-distance top-k: the probe stays EXACT, every
    * candidate is reconstructed from its codes per-dim
    * (r_i = lo_i + code_i·s_i) and d² = Σ (p_i − r_i)². Touches only
    * the codes table plus two broadcast 1-row frames (quantizer stats,
    * probe) — never a stored vector; at 10⁹ rows the scan is code
    * bytes, not float32s. Unlike PQ's ADC the reconstruction is
    * per-dimension, so recall approaches exact (max per-dim error
    * s_i/2; Sq8Spec measures 0.9 recall@10 on this corpus vs 0.2 for
    * PQ-ADC).
    *
    * Determinism: the fold over dims is Spark's sequential array
    * `aggregate` in index order — bit-identical to DuckDB's
    * list_aggregate('sum') over the same zip (the ann_topk law).
    */
  def sq8AdcTopK(codes: DataFrame, stats: DataFrame, probe: DataFrame,
      probeId: Long, k: Int): DataFrame =
    codes.filter(col("id") =!= probeId)
      .crossJoin(broadcast(stats))
      .crossJoin(broadcast(probe))
      .select(col("id"),
        aggregate(
          zip_with(col("codes"), arrays_zip(col("pe"), col("lo"), col("s")),
            (c, t) => {
              val r = t.getField("lo") + c.cast("double") * t.getField("s")
              (t.getField("pe") - r) * (t.getField("pe") - r)
            }),
          lit(0.0), (acc, u) => acc + u).as("adist"))
      .orderBy(col("adist"), col("id"))
      .limit(k)

  /** MinHash-banding candidate pairs over a token-array column: one-pass
    * k-hash signatures, split into `bands` bands, equi-join per band.
    */
  def minHashCandidatePairs(docs: DataFrame, idCol: String,
      tokensCol: String, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, s"k=$k not divisible by bands=$bands")
    val rowsPerBand = k / bands
    val sig = docs.select(col(idCol).as("id"),
      ScaleHashes.minhash64(col(tokensCol), k).as("sig"))
    val banded = sig.select(col("id"),
      posexplode(array((0 until bands).map(b =>
        hash(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))): _*))
        .as(Seq("band", "key")))
    banded.as("a").join(banded.as("b"), Seq("band", "key"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }
}
