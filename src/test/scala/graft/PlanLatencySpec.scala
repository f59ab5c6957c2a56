package graft

import graft.grid._
import graft.sources.ReadCounters
import org.apache.spark.sql.functions._

/** Driver-side planning latency at 10^5 chunk partitions — the scale a
  * 100 TB store implies at 64-256 MB/chunk. Planning (partition
  * enumeration + pruning + statistics) must stay sub-second: it runs on
  * the driver for every query, so an O(n_chunks * chunk_len) walk that is
  * invisible at 10^3 chunks becomes seconds of serial latency at 10^5.
  */
class PlanLatencySpec extends SparkTestBase {

  // time=1000 (chunk 1) x lat=100 (chunk 10) x lon=100 (chunk 10)
  // -> 1000*10*10 = 100,000 blocks, 10^7 cells
  private def store100k: SyntheticGridStore = {
    val time = TimeCoords((0 until 1000).map(k =>
      (18262L + k) * 86400000000L).toArray)
    val lat = DoubleCoords((0 until 100).map(i => -90.0 + 1.8 * i).toArray)
    val lon = DoubleCoords((0 until 100).map(j => -180.0 + 3.6 * j).toArray)
    SyntheticGridStore(
      GridSchema(
        Seq(DimDef("time", time), DimDef("lat", lat), DimDef("lon", lon)),
        Seq(VarDef("temperature", Seq("time", "lat", "lon"), GDouble))),
      Map("temperature" -> ScaleSmokeSpec.IntLaw()))
  }

  private def planMillis(df: org.apache.spark.sql.DataFrame): (Long, Double) = {
    val t0 = System.nanoTime()
    val plan = df.queryExecution.executedPlan
    val parts = plan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        // blocks, not tasks: the scan packs many blocks per partition
        b.inputPartitions.map {
          case g: graft.sources.GridInputPartition => g.blocks.size.toLong
        }.sum
    }.getOrElse(sys.error("no BatchScanExec in plan"))
    (parts, (System.nanoTime() - t0) / 1e6)
  }

  test("1e5 chunks: planning latency stays under budget; pruning exact") {
    val ctx = new XarrayContext(spark)
    val df = ctx.dataFrame("plan100k", store100k,
      Map("time" -> 1, "lat" -> 10, "lon" -> 10), Seq("time", "lat", "lon"))

    // warm (JIT, session state) on a small probe, not timed
    df.limit(1).queryExecution.executedPlan

    // selective: one timestamp + lat band -> 1 x 5 x 10 = 50 blocks
    val ts = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(18262L * 86400L))
    val sel = df.filter(col("time") === ts && col("lat") >= 0.0)
    val (selParts, selMs) = planMillis(sel)
    info(f"selective planning over 1e5 chunks: $selMs%.0f ms, $selParts blocks")
    assert(selParts == 50L)

    // unfiltered: all 1e5 partitions enumerated
    val (allParts, allMs) = planMillis(df.select("temperature"))
    info(f"full planning over 1e5 chunks: $allMs%.0f ms, $allParts blocks")
    assert(allParts == 100000L)

    // hard budgets (driver-side, per query; local[4] CI machine —
    // measured ~150 ms selective / ~110 ms full with the plan index,
    // vs 450 / 1100 ms for the per-block coordinate walk it replaced)
    assert(selMs < 500.0, f"selective planning too slow: $selMs%.0f ms")
    assert(allMs < 1000.0, f"full planning too slow: $allMs%.0f ms")

    // pruning is not just fast but right: execute the selective query
    // (SUM forces a real scan — COUNT would be metadata-answered)
    ReadCounters.reset()
    val s = sel.agg(sum("temperature")).collect()(0).getDouble(0)
    // law t%17 + 3i + j at t=0, i in 50..99, j in 0..99
    assert(s == 100.0 * 3 * (50 to 99).sum + 50.0 * (0 to 99).sum)
    assert(ReadCounters.partitionsOpened.sum() == 50L)
  }

  test("1e6 chunks: selective planning stays under budget") {
    // 10x the chunk count along time: 10^6 blocks. Only the SELECTIVE
    // path is pinned here — an unpruned 10^6-partition materialization
    // is O(n_chunks) by definition and a real deployment sizes chunks
    // so full scans stay ~10^5 tasks; what must NOT degrade is planning
    // a pruned query, which walks the O(total coords) index and only
    // materializes surviving blocks.
    val time = TimeCoords((0 until 10000).map(k =>
      (18262L + k) * 86400000000L).toArray)
    val lat = DoubleCoords((0 until 100).map(i => -90.0 + 1.8 * i).toArray)
    val lon = DoubleCoords((0 until 100).map(j => -180.0 + 3.6 * j).toArray)
    val store = SyntheticGridStore(
      GridSchema(
        Seq(DimDef("time", time), DimDef("lat", lat), DimDef("lon", lon)),
        Seq(VarDef("temperature", Seq("time", "lat", "lon"), GDouble))),
      Map("temperature" -> ScaleSmokeSpec.IntLaw()))
    val ctx = new XarrayContext(spark)
    val df = ctx.dataFrame("plan1m", store,
      Map("time" -> 1, "lat" -> 10, "lon" -> 10), Seq("time", "lat", "lon"))
    df.limit(1).queryExecution.executedPlan // warm, not timed

    val ts = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(18262L * 86400L))
    val sel = df.filter(col("time") === ts && col("lat") >= 0.0)
    val (selParts, selMs) = planMillis(sel)
    info(f"selective planning over 1e6 chunks: $selMs%.0f ms, $selParts blocks")
    assert(selParts == 50L)
    assert(selMs < 1500.0, f"selective planning too slow: $selMs%.0f ms")
  }
}
