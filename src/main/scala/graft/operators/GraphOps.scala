package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph primitives for dedup pipelines.
  *
  * Near-dup detection yields PAIRS; a training-data job needs GROUPS
  * (keep one canonical document per duplicate cluster). The bridge is
  * connected components over the pair graph.
  */
object GraphOps {

  /** Connected components by iterative min-label propagation: every
    * node starts labelled with its own id; each round, a node adopts
    * the minimum label among itself and its neighbours; at fixpoint the
    * label is the component-wide minimum id — a deterministic canonical
    * representative.
    *
    * Scale shape: one shuffle per round (edge join + groupBy on node
    * id), rounds bounded by the graph diameter — near-dup graphs are
    * overwhelmingly small cliques and short chains, so a handful of
    * rounds closes them. The driver loop is control only: per round it
    * reads ONE scalar (the changed-label count); node/edge data never
    * leaves the executors. `localCheckpoint` truncates the iterative
    * lineage (the standard Spark idiom for loop algorithms — swap in
    * reliable `checkpoint` against a cluster checkpoint dir for
    * fault-tolerant multi-hour runs).
    *
    * Returns (id, cluster) for every node incident to an edge.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 25): DataFrame = {
    val sc = edges.sparkSession.sparkContext
    // undirected: materialize both directions once. LAZY checkpoints
    // for the fixture tables (plan truncation now, persist-on-first-
    // compute): round 1's materialization computes them — an eager
    // count here was one extra driver-loop job each per build.
    val sym = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .union(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
      .distinct()
      .localCheckpoint(false)
    var labels = sym.select(col("a").as("id")).distinct()
      .withColumn("cluster", col("id"))
      .localCheckpoint(false)
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      // the convergence scalar rides the checkpoint's own
      // materialization as an accumulator (bumped by a row-local
      // nondeterministic-marked UDF on the chg column), so each round
      // is ONE driver-loop job — the former separate
      // filter(chg).limit(1).count() probe was a second scheduled job
      // per round for a bit the materializing pass already computed.
      // Accumulator semantics are safe here: only zero-vs-nonzero is
      // read, a retried task can only inflate a NONZERO count, and a
      // zero count cannot be fabricated (no row ever adds).
      val acc = sc.longAccumulator("cc_changed")
      val bump = udf((chg: Boolean) => { if (chg) acc.add(1L); chg })
        .asNondeterministic()
      // min label over each node's neighbourhood (one shuffle)
      val nbrMin = sym
        .join(labels.select(col("id").as("b"), col("cluster").as("nl")), "b")
        .groupBy(col("a").as("id")).agg(min("nl").as("nbr"))
      val next = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster"), coalesce(col("nbr"), col("cluster")))
            .as("cluster"),
          bump(coalesce(col("nbr"), col("cluster")) < col("cluster"))
            .as("chg"))
        // EAGER: the accumulator is read on the next line, so this
        // checkpoint must run the round before it (a lazy one would
        // read 0 and stop after one round with wrong labels — pinned
        // by GraphOpsSpec's multi-hop round-count test)
        .localCheckpoint(true)
      converged = acc.value == 0L
      labels = next.select("id", "cluster")
      it += 1
    }
    // a diameter > maxIter graph must FAIL, not return silently wrong
    // labels (propagation is linear in the diameter; raise maxIter, or
    // switch to pointer-jumping, for pathologically chained inputs)
    if (!converged) throw new IllegalStateException(
      s"connected components did not converge in $maxIter rounds — " +
        "graph diameter exceeds maxIter")
    labels
  }

  /** Connected components in O(log diameter) rounds: min-label
    * propagation PLUS pointer jumping. Each round a node takes the
    * minimum of (a) its neighbours' labels — the hooking step that
    * merges adjacent label trees — and (b) its label's own label
    * (l(l(v)) — pointer doubling, which halves the depth of every
    * label chain). Label values are always node ids (minima over ids),
    * so the jump is a self-join of the label table on `cluster = id`.
    *
    * Same contract, determinism, and per-round cost shape as
    * [[connectedComponents]] (two shuffles per round instead of one,
    * one driver-read scalar per round, `localCheckpoint` lineage
    * truncation, throws past `maxIter`) — but a chain-of-duplicates
    * graph that min-propagation crosses in `diameter` rounds closes in
    * ~log2(diameter) + 2: a 10^4-node path needs ~15 rounds instead of
    * 10^4. Use this when near-dup relations can chain (A~B~C~... web
    * boilerplate gradients at corpus scale); plain propagation stays
    * the default for the clique-and-short-chain graphs LSH verify
    * emits, where its single shuffle per round wins.
    */
  def pointerJump(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 25): DataFrame = {
    val sc = edges.sparkSession.sparkContext
    val sym = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .union(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
      .distinct()
      .localCheckpoint(false)
    var labels = sym.select(col("a").as("id")).distinct()
      .withColumn("cluster", col("id"))
      .localCheckpoint(false)
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      // accumulator-fused convergence probe — see connectedComponents
      val acc = sc.longAccumulator("pj_changed")
      val bump = udf((chg: Boolean) => { if (chg) acc.add(1L); chg })
        .asNondeterministic()
      val nbrMin = sym
        .join(labels.select(col("id").as("b"), col("cluster").as("nl")), "b")
        .groupBy(col("a").as("id")).agg(min("nl").as("nbr"))
      // l(l(v)): follow the label pointer one hop — label values are
      // node ids, so they resolve against the label table itself
      val jumped = labels
        .join(labels.select(col("id").as("cluster"), col("cluster").as("jl")),
          Seq("cluster"), "left")
        .select(col("id"), col("cluster"), coalesce(col("jl"), col("cluster")).as("jl"))
      val next = jumped.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster"), col("jl"),
            coalesce(col("nbr"), col("cluster"))).as("cluster"),
          bump(least(col("jl"), coalesce(col("nbr"), col("cluster")))
            < col("cluster")).as("chg"))
        .localCheckpoint(true)
      converged = acc.value == 0L
      labels = next.select("id", "cluster")
      it += 1
    }
    if (!converged) throw new IllegalStateException(
      s"pointer-jumping components did not converge in $maxIter rounds")
    labels
  }

  /** Majority-vote label propagation: seeded nodes keep their label
    * forever; unlabeled nodes adopt, each round, the most common label
    * among their LABELED neighbours (ties break to the
    * lexicographically smallest label — a total order, so the result
    * is exact and engine-replayable; no randomized update schedule).
    * The semi-supervised step of data curation: quality/domain labels
    * assigned to a reviewed slice spread to their near-duplicates.
    *
    * Determinism: votes are integer counts; the winner per node is
    * min over (−count, label) struct order — no floating point, no
    * arrival-order dependence. Scale shape: one edge join + one
    * (node, label) aggregate per round; vote state is bounded by
    * (nodes × distinct labels), the winner pick is a partial-agg
    * argmin, never a corpus window. Fixed `iters` (the gate unrolls
    * the same rounds relationally).
    *
    * `seeds`: (idCol, labelCol) — nodes absent from it start
    * unlabeled. Returns (id, label) for every node incident to an
    * edge; label NULL where no labeled neighbourhood reached the node.
    */
  def labelPropagate(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, idCol: String, labelCol: String,
      iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters out of range: $iters")
    // a FIXED-iteration loop reads no per-round scalar, so every
    // checkpoint is LAZY (plan truncation at once, persist on first
    // compute): the former eager per-round counts were iters + 2
    // driver-loop jobs per build whose output nothing read — the
    // consumer's one action now drives the whole chain, each round's
    // blocks persisting as the next round computes over them.
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint(false)
    // BOTH endpoints: a dst-only node of a non-symmetrized edge list
    // is still "incident to an edge" (the scaladoc contract) and can
    // receive votes — src-only would silently drop it
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    var labels = nodes.join(
        seeds.select(col(idCol).as("id"), col(labelCol).as("label")),
        Seq("id"), "left")
      .localCheckpoint(false)
    for (_ <- 0 until iters) {
      val winners = e
        .join(labels.select(col("id").as("src"), col("label")), "src")
        .filter(col("label").isNotNull)
        .groupBy(col("dst").as("id"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy("id")
        .agg(min(struct((-col("cnt")).as("nc"), col("label").as("l")))
          .as("w"))
        .select(col("id"), col("w.l").as("wl"))
      labels = labels.join(winners, Seq("id"), "left")
        .select(col("id"), coalesce(col("label"), col("wl")).as("label"))
        .localCheckpoint(false)
    }
    labels
  }

  /** Fixed-iteration PageRank in exact integer micro-units — graph
    * centrality for dedup review ("which document anchors this
    * near-dup neighbourhood") and link-ish corpus analytics.
    *
    * pr_0 = 10^6 per node; each round
    * pr' = ((dden−num)·10^6 + num·Σ_in (pr div deg)) div den
    * with num/den the damping rational (default 85/100). Every
    * operation is on longs: contributions use integer `div`, the
    * in-sum is a sum of longs (order-free — no floating-point
    * summation-order hazard between engines), and damping is one
    * multiply + one integer divide. The rank mass lost to `div`
    * truncation is bounded by in-degree per node per round — the
    * usual dangling/rounding slack, deterministic here.
    *
    * Scale shape: one shuffle per round (edge join + groupBy on dst),
    * the classic power-iteration plan; `iters` is fixed (the gate
    * unrolls the same rounds relationally), `localCheckpoint`
    * truncates the loop lineage. Input edges are DIRECTED — pass both
    * directions for an undirected graph. Returns (id, pr) for every
    * node with an out-edge.
    */
  def pageRankInt(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters out of range: $iters")
    require(dampNum >= 0 && dampNum <= dampDen, "damping must be in [0,1]")
    // fixed iterations -> every checkpoint LAZY (see labelPropagate):
    // the consumer's action drives the chain, no per-round count jobs.
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint(false)
    // deg and pr are keyed by the SAME node set (nodes with an
    // out-edge), so the rank table CARRIES its degree: one equi-join
    // per round (e |x| prd) instead of two (e |x| pr |x| deg) — the
    // contribution `pr div deg` is row-local once deg rides along.
    // Arithmetic and row sets are identical: the former pr |x| deg was
    // an inner join of two tables with equal key sets.
    val base = (dampDen - dampNum) * 1000000L
    var prd = e.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("id"), lit(1000000L).as("pr"), col("deg"))
      .localCheckpoint(false)
    for (_ <- 0 until iters) {
      val contrib = e
        .join(prd.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), expr("pr div deg").as("c"))
      prd = prd
        .join(contrib.groupBy("id").agg(sum(col("c")).as("s")),
          Seq("id"), "left")
        .select(col("id"), expr(
          s"($base + $dampNum * coalesce(s, 0L)) div $dampDen").as("pr"),
          col("deg"))
        .localCheckpoint(false)
    }
    prd.select("id", "pr")
  }
}
