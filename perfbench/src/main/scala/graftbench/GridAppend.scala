package graftbench

import graft.grid.ZarrGridStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** grid_append: writes beside reads on one Zarr store. Each pass appends
  * a seeded time slab through `df.write.format("zarr")` with `appendDim`,
  * then reads back the newest window (checked against the slab's exact
  * sum) and counts the store (checked against the new extent), so a stale
  * open-store or statistics memo shows as a wrong answer.
  */
object GridAppend {
  val NLAT = 100
  val NLON = 120
  val InitialSteps = 40
  val ChunkT = 24
  val Chunks = Map("time" -> ChunkT, "lat" -> 50, "lon" -> 60)
  val SpatialChunks = 2 * 2
  val Cells: Long = NLAT.toLong * NLON
  val Ops = Seq("append_slab", "newest_window", "count_extent")
  val SetupRepeats = 2
  val MinPasses = 3

  final class State(val root: String) {
    var nt = InitialSteps
    var lastT0 = 0
    var lastN = 0
    var lastSum = 0L // exact sum of the last slab, in 1/64 units
  }

  def run(h: Harness): Unit = {
    val law = GridLaw(h.args.seed, NLAT, NLON)
    var st: State = null
    for (k <- 1 to SetupRepeats) h.setup(
      session = h.startSession(),
      inputs = {
        if (st != null) Files.deleteTree(st.root)
        st = new State(s"${h.args.work}/grid_append/store-$k")
        ZarrGridStore.writeDistributed(law.store(0, InitialSteps, Seq("air")),
          st.root, Chunks, "zstd:3")
      },
      cold = pass(h, law, st))
    val ntStart = st.nt
    h.timed(MinPasses)(_ => pass(h, law, st))
    h.context ++= Seq("initial_cells" -> InitialSteps * Cells,
      "cells_per_step" -> Cells, "timed_start_cells" -> ntStart * Cells,
      "final_cells" -> st.nt * Cells,
      "final_disk_bytes" -> Files.treeBytes(st.root))
    if (h.args.trace) h.decodeProbe(st.root)
    val probe = h.probe(reads(h, st, corrupt = true))
    h.selfChecks("corrupted_expectation_detected") =
      probe.nonEmpty && probe.forall(!_._2)
  }

  /** The slab's rows. `t0` reaches the rows only through the UDF
    * closures, so every pass runs the same generated code.
    */
  private def slab(spark: SparkSession, law: GridLaw, t0: Int, n: Int)
      : DataFrame = {
    val time = udf((id: Long) => t0 + (id / Cells).toInt)
    val value = udf((id: Long) =>
      law.air(t0 + (id / Cells).toInt, ((id / NLON) % NLAT).toInt,
        (id % NLON).toInt))
    spark.range(n * Cells).select(time(col("id")).as("time"),
      (lit(-90.0) + ((col("id") / NLON).cast("long") % NLAT)
        .cast("double") * lit(0.75)).as("lat"),
      ((col("id") % NLON).cast("double") * lit(0.5)).as("lon"),
      value(col("id")).as("air"))
  }

  private def chunkCount(nt: Int): Long =
    ((nt + ChunkT - 1) / ChunkT).toLong * SpatialChunks

  def pass(h: Harness, law: GridLaw, st: State): Unit = {
    val spark = h.spark
    // 20 steps against 24-step chunks: appends start at every offset
    // inside a chunk, so edge-chunk merges come and go as in real ingest
    val n = 20
    val t0 = st.nt
    var slabSum = 0L
    for (t <- t0 until t0 + n; i <- 0 until NLAT; j <- 0 until NLON)
      slabSum += law.airU(t, i, j)
    val before = if (h.tracer.enabled) Files.treeStats(st.root) else (0L, 0L)
    h.op("append_slab", "write") { c =>
      c.items = (n * Cells).toDouble
      val df = c.build(slab(spark, law, t0, n))
      c.action(c.grid("grid.append")(
        df.write.format("zarr").option("dims", "time,lat,lon")
          .option("appendDim", "time").mode("append").save(st.root)))
    }
    if (h.tracer.enabled) {
      val after = Files.treeStats(st.root)
      h.amendLast(_.copy(writtenBytes = after._1 - before._1,
        writtenFiles = after._2 - before._2))
    }
    st.nt = t0 + n
    st.lastT0 = t0
    st.lastN = n
    st.lastSum = slabSum
    reads(h, st, corrupt = false)
  }

  /** Reads back the newest slab and the whole extent. With `corrupt`
    * every expectation is off by one unit, which the checks must reject.
    */
  def reads(h: Harness, st: State, corrupt: Boolean): Unit = {
    val off = if (corrupt) 1L else 0L
    def load(c: OpCtx): DataFrame =
      c.grid("grid.open")(h.spark.read.format("zarr").load(st.root))

    h.op("newest_window", "read") { c =>
      c.cells = (st.lastN * Cells).toDouble
      c.chunksTotal = chunkCount(st.nt)
      val g = load(c)
      val df = c.plan(c.build(g.where(col("time") >= st.lastT0)
        .agg(sum("air"), count(lit(1)))))
      val r = c.action(df.collect())(0)
      c.check(r.getDouble(0) == (st.lastSum + off) / 64.0,
        s"slab sum ${r.get(0)}")
      c.check(r.getLong(1) == st.lastN * Cells + off, s"slab cells ${r.get(1)}")
    }

    h.op("count_extent", "read") { c =>
      c.cells = (st.nt * Cells).toDouble
      c.chunksTotal = chunkCount(st.nt)
      c.metaEligible = true
      val g = load(c)
      val df = c.plan(c.build(g.agg(count(lit(1)))))
      val r = c.action(df.collect())(0)
      c.check(r.getLong(0) == st.nt * Cells + off, s"extent ${r.get(0)}")
    }
  }
}
