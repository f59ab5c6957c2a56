package graft.grid

/** Chunk-spec arithmetic: a `chunks = Map(dim -> size)` spec is normalized
  * to per-dim chunk-size tuples, and the cross product of per-dim chunk
  * indices yields block slices — one scan partition per block.
  *
  * Pure arithmetic port of the semantics in the reference
  * (xarray_sql/df.py:29-113 `compute_chunks` / `block_slices`): even divide
  * plus remainder; dims absent from the spec stay single-chunk; a scalar
  * (0-dim) schema yields exactly one empty block.
  */
object ChunkGrid {

  /** Per-dim chunk sizes, e.g. size 10 chunked by 4 -> [4, 4, 2]. */
  def chunkSizes(dimSize: Int, chunk: Int): Seq[Int] = {
    require(chunk > 0, s"chunk size must be positive, got $chunk")
    if (dimSize == 0) Seq.empty
    else (0 until dimSize by chunk).map(s => math.min(chunk, dimSize - s))
  }

  /** Normalize a spec to every dim: missing dims span the whole axis. */
  def resolve(schema: GridSchema, chunks: Map[String, Int]): Seq[(String, Seq[Int])] =
    schema.dims.map { d =>
      d.name -> chunkSizes(d.size, chunks.getOrElse(d.name, math.max(d.size, 1)))
    }

  /** One block = (start, length) per dim, in schema dim order. The cross
    * product of per-dim chunk indices, C-order (last dim fastest).
    */
  def blocks(schema: GridSchema, chunks: Map[String, Int]): Seq[Seq[(Int, Int)]] = {
    val perDim: Seq[Seq[(Int, Int)]] = resolve(schema, chunks).map {
      case (_, sizes) =>
        sizes.scanLeft(0)(_ + _).zip(sizes).map { case (start, len) => (start, len) }
    }
    perDim.foldLeft(Seq(Seq.empty[(Int, Int)])) { (acc, dimBlocks) =>
      for (prefix <- acc; b <- dimBlocks) yield prefix :+ b
    }
  }

  def rowCount(block: Seq[(Int, Int)]): Long =
    block.foldLeft(1L)((acc, b) => acc * b._2)

  /** Default `chunks = "auto"` byte budget (the reference's 128 MiB,
    * ds.py:566-625).
    */
  val AutoBudgetBytes: Long = 128L << 20

  /** `chunks = "auto"`: derive a chunk spec whose largest block stays
    * within `budgetBytes`, mirroring the reference's byte-budget snapping
    * (ds.py:566-625). Splitting starts at the OUTERMOST dim and keeps
    * inner dims whole, preserving C-order read locality; bytes per cell
    * is the sum of the variables' widths (one block serves every
    * variable of the group). When the store already has on-disk chunks
    * (`existing`), computed sizes snap DOWN to whole multiples of them —
    * an existing chunk is the atomic I/O unit and is never split, even
    * if one chunk alone exceeds the budget.
    */
  def autoChunks(schema: GridSchema,
      budgetBytes: Long = AutoBudgetBytes,
      existing: Map[String, Int] = Map.empty): Map[String, Int] = {
    require(budgetBytes > 0, s"budget must be positive: $budgetBytes")
    val bytesPerCell = math.max(1, schema.vars.map(_.dtype.byteWidth).sum)
    // innerBytes(i): bytes of one full slice over dims strictly after i
    val sizes = schema.dims.map(_.size.toLong)
    val innerBytes = sizes.indices.map(i =>
      sizes.drop(i + 1).product * bytesPerCell)
    var spec = Map.empty[String, Int]
    var i = 0
    var done = schema.dims.isEmpty
    while (!done && i < sizes.length) {
      val d = schema.dims(i)
      if (sizes(i) * innerBytes(i) <= budgetBytes) done = true // fits whole
      else {
        val raw = math.max(1L, budgetBytes / math.max(innerBytes(i), 1L))
        val snapped = existing.get(d.name) match {
          case Some(e) if e > 0 => math.max(e.toLong, (raw / e) * e)
          case _ => raw
        }
        if (snapped < sizes(i)) spec += d.name -> snapped.toInt
        // if even one inner slice exceeds the budget, keep splitting inward
        done = innerBytes(i) <= budgetBytes
        i += 1
      }
    }
    spec
  }
}
