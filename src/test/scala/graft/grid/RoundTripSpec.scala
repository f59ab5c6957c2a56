package graft.grid

import graft.{SparkTestBase, TempDirs, XarrayContext}
import org.apache.spark.sql.functions._

/** Full-circle: Zarr tree -> SQL -> reverse pivot (template + fill) ->
  * array store -> Zarr tree. The "sinks" surface of SURVEY §2B.
  */
class RoundTripSpec extends SparkTestBase with TempDirs {

  test("template reverse pivot fills uncovered cells and keeps template order") {
    val ctx = new XarrayContext(spark)
    val df = ctx.dataFrame("rt_tpl", Fixtures.linearGrid, Map("t" -> 6),
      Seq("t", "lat", "lon"))
    val template = Map(
      "t" -> (0 until 24).map(i => i: Any).toIndexedSeq,
      "lat" -> (0 until 12).map(i => 75.0 - 2.5 * i: Any).toIndexedSeq,
      "lon" -> (0 until 10).map(j => 200.0 + 2.5 * j: Any).toIndexedSeq)
    // filter away t >= 2; template grid stays full-size with fill
    val res = GridResult.toGridWithTemplate(
      df.filter(col("t") < 2).select("t", "lat", "lon", "air"),
      Seq("t", "lat", "lon"), template, fillValue = -999.0)
    assert(res.shape == Seq(24, 12, 10))
    assert(res("air", 0, 0, 0) == 200.0)
    assert(res("air", 5, 0, 0) == -999.0) // filtered away -> fill
    // template order preserved even though 75.0 rows appear later
    assert(res.dims(1)._2.head == 75.0)
    // off-grid rows are rejected
    val bad = intercept[IllegalArgumentException] {
      GridResult.toGridWithTemplate(
        df.select((col("t") + 100).as("t"), col("lat"), col("lon"), col("air")),
        Seq("t", "lat", "lon"), template)
    }
    assert(bad.getMessage.contains("not on the template grid"))
  }

  /** Chunk-file names of a v2 variable dir (metadata files excluded). */
  private def chunkFiles(dir: String): Set[String] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten.map(_.getName)
      .filter(_.matches("\\d+(\\.\\d+)*")).toSet

  test("distributed reverse pivot: executors write the grid, driver only metadata") {
    val ctx = new XarrayContext(spark)
    val df = ctx.dataFrame("gw_src", Fixtures.linearGrid, Map("t" -> 6),
      Seq("t", "lat", "lon"))
    // SQL transform: double the variable, then scatter back to a NEW
    // chunked Zarr tree without collecting it
    val out = tempDir("graft-gw").toString
    val schema = GridSchema(
      Fixtures.linearGrid.schema.dims,
      Seq(VarDef("air2", Seq("t", "lat", "lon"), GDouble)))
    ZarrGridStore.writeFromRows(
      df.select(col("t"), col("lat"), col("lon"),
        (col("air") * 2.0).as("air2")),
      schema, Map("t" -> 6, "lat" -> 7), out, "none")
    // every chunk file exists (4 t-chunks x 2 lat-chunks) and the
    // reopened store serves exact values through the DSv2 scan
    assert(chunkFiles(s"$out/air2").size == 8)
    val reopened = ZarrGridStore.open(out)
    assert(reopened.arrays("air2").compressor.isEmpty &&
      reopened.chunkMap == Map("t" -> 6, "lat" -> 7, "lon" -> 10))
    val law = Fixtures.linearGrid.laws("air")
    val df2 = ctx.dataFrame("gw_out", reopened, reopened.chunkMap,
      Seq("t", "lat", "lon"))
    val got = df2.filter(col("t") === 7 && col("lat") === 70.0 &&
      col("lon") === 205.0).select("air2").collect()(0).getDouble(0)
    assert(got == law(Array(7, 2, 2)) * 2.0)
    assert(df2.agg(org.apache.spark.sql.functions.count(lit(1)))
      .collect()(0).getLong(0) == 24L * 12 * 10)
    // unaligned multi-chunk read straight off the written store
    val slab = reopened.readVar("air2", Seq((5, 8), (3, 6), (1, 8)))
      .asInstanceOf[Array[Double]]
    for (a <- 0 until 8; b <- 0 until 6; c <- 0 until 8)
      assert(slab(a * 48 + b * 8 + c) == law(Array(5 + a, 3 + b, 1 + c)) * 2.0)

    // missing cells prefill NaN; duplicate cells reject
    val sparseOut = tempDir("graft-gw2").toString
    val sparse = ZarrGridStore.writeFromRows(
      df.filter(col("t") < 2).select(col("t"), col("lat"), col("lon"),
        col("air").as("air2")),
      schema, Map("t" -> 6), sparseOut)
    val chunk0 = sparse.readVar("air2", Seq((0, 6), (0, 12), (0, 10)))
      .asInstanceOf[Array[Double]]
    assert(chunk0(0) == law(Array(0, 0, 0)))
    assert(chunk0(2 * 120).isNaN) // t=2 filtered away
    val dup = intercept[org.apache.spark.SparkException] {
      ZarrGridStore.writeFromRows(
        df.select(col("t"), col("lat"), col("lon"), col("air").as("air2"))
          .union(df.select(col("t"), col("lat"), col("lon"),
            col("air").as("air2"))),
        schema, Map("t" -> 6), tempDir("graft-gw3").toString)
    }
    assert(dup.getMessage.contains("duplicate cell") ||
      dup.getCause != null)
  }

  test("distributed append: staged chunks rename past the extent") {
    val ctx = new XarrayContext(spark)
    val root = tempDir("graft-gwappend").toString + "/store"
    ZarrGridStore.write(Fixtures.linearGridSlice(0, 12), root,
      Map("t" -> 6), "zstd")
    val airDir = new java.io.File(root, "air")
    def chunkMtimes = airDir.listFiles()
      .filter(f => chunkFiles(airDir.getPath)(f.getName))
      .map(f => f.getName -> f.lastModified).toMap
    val before = chunkMtimes
    assert(before.keySet == Set("0.0.0", "1.0.0"))
    // the backfill slab arrives as a DataFrame — executors scatter and
    // write it, the driver renames + commits metadata
    def slabDf(lo: Int, hi: Int) = ctx.dataFrame(s"gw_slab$lo",
      Fixtures.linearGridSlice(lo, hi), Map("t" -> 6),
      Seq("t", "lat", "lon"))
    val appended = ZarrGridStore.appendFromRows(slabDf(12, 24), root, "t")
    assert(appended.schema.dim("t").size == 24)
    // old chunk files untouched (same mtime), two new ones
    val after = chunkMtimes
    before.foreach { case (n, m) => assert(after(n) == m, s"$n rewritten") }
    assert(after.keySet == Set("0.0.0", "1.0.0", "2.0.0", "3.0.0"))
    // no staging residue (unique .staging-* suffix per invocation)
    val parent = new java.io.File(root).getParentFile
    assert(!parent.listFiles().exists(_.getName.contains(".staging")),
      parent.listFiles().map(_.getName).mkString(","))
    // reopened store serves the seamless grid with the appended stats
    val store = ZarrGridStore.open(root)
    val law = Fixtures.linearGrid.laws("air")
    val got = store.readVar("air", Seq((6, 12), (0, 12), (0, 10)))
      .asInstanceOf[Array[Double]]
    for (t <- 0 until 12; i <- 0 until 12; j <- 0 until 10)
      assert(got(t * 120 + i * 10 + j) == law(Array(6 + t, i, j)))
    assert(store.varBounds("air", Seq((18, 6), (0, 12), (0, 10)))
      .contains((218.0, 272.0)))
  }

  test("distributed write of a duration-dim grid round-trips with stats") {
    val ctx = new XarrayContext(spark)
    val df = ctx.dataFrame("fc_gw_src", Fixtures.forecastGrid,
      Map("lead" -> 2), Seq("time", "lead"))
    val out = tempDir("graft-gw-dur").toString
    // executors encode with the declared compressor; open() recovers it
    ZarrGridStore.writeFromRows(df.select(col("time"), col("lead"), col("fc")),
      Fixtures.forecastGrid.schema, Map("lead" -> 2), out, "zstd")
    val reopened = ZarrGridStore.open(out)
    assert(reopened.arrays("fc").compressor.exists(_._1 == "zstd"))
    // the distributed writer records per-chunk variable stats too
    assert(reopened.stats.nonEmpty)
    assert(reopened.varBounds("fc", Seq((0, 4), (0, 2))).isDefined)
    val df2 = ctx.dataFrame("fc_gw_rt", reopened, reopened.chunkMap,
      Seq("time", "lead"))
    assert(df2.count() == 4L * 6)
    // law fc = 10 + t + 0.25*l at (t=1 -> 06:00, l=3 -> 18h)
    val got = df2.filter(
      col("lead") === expr("INTERVAL '18' HOUR") &&
        col("time") === to_timestamp(lit("2021-01-01 06:00:00")))
      .select("fc").collect()(0).getDouble(0)
    assert(got == 10.0 + 1.0 + 0.25 * 3)
  }

  test("disk -> SQL -> grid -> store -> disk round trip") {
    val ctx = new XarrayContext(spark)
    val dir1 = tempDir("graft-rt1").toString
    val disk = ZarrGridStore.write(Fixtures.linearGrid, dir1, Map("t" -> 6))
    val df = ctx.dataFrame("rt_disk", disk, disk.chunkMap,
      Seq("t", "lat", "lon"))

    // SQL: halve the grid along t, keep values
    val res = GridResult.toGrid(
      df.filter(col("t") < 12).select("t", "lat", "lon", "air"),
      Seq("t", "lat", "lon"))
    val mem = ArrayGridStore.fromResult(res)
    assert(mem.schema.dimNames == Seq("t", "lat", "lon"))
    assert(mem.schema.dim("t").size == 12)

    // the lifted store is queryable again
    val df2 = ctx.dataFrame("rt_mem", mem, Map("t" -> 4), Seq("t", "lat", "lon"))
    assert(df2.count() == 12L * 12 * 10)
    val law = Fixtures.linearGrid.laws("air")
    val got = df2.filter(col("t") === 7 && col("lat") === 70.0 &&
      col("lon") === 205.0).select("air").collect()(0).getDouble(0)
    assert(got == law(Array(7, 2, 2)))

    // and it persists back to disk losslessly
    val dir2 = tempDir("graft-rt2").toString
    val disk2 = ZarrGridStore.write(mem, dir2, Map("t" -> 4))
    val a = mem.readVar("air", Seq((4, 4), (0, 12), (0, 10)))
      .asInstanceOf[Array[Double]]
    val b = disk2.readVar("air", Seq((4, 4), (0, 12), (0, 10)))
      .asInstanceOf[Array[Double]]
    assert(a.sameElements(b))
  }

  test("rechunk compacts a fragmented store; values, stats, pruning survive") {
    val ctx = new XarrayContext(spark)
    val base = tempDir("graft-rechunk").toString
    // fragmented: 24 t-steps in 8 chunks of 3 (the post-append shape)
    val frag = ZarrGridStore.writeFromRows(
      ctx.dataFrame("rc_src", Fixtures.linearGrid, Map("t" -> 6),
        Seq("t", "lat", "lon")),
      Fixtures.linearGrid.schema, Map("t" -> 3), s"$base/frag", "zstd")
    val compact = ctx.rechunk(frag, Map("t" -> 12), s"$base/compact")
    // 8 chunk files per var became 2
    assert(compact.chunkMap == Map("t" -> 12, "lat" -> 12, "lon" -> 10))
    val files = chunkFiles(s"$base/compact/air")
    assert(files.size == 2, s"expected 2 chunk files, got $files")
    // values identical across the rewrite
    val a = ctx.dataFrame("rc_frag", frag, frag.chunkMap,
      Seq("t", "lat", "lon")).orderBy("t", "lat", "lon").collect()
    val b = ctx.dataFrame("rc_comp", compact, compact.chunkMap,
      Seq("t", "lat", "lon")).orderBy("t", "lat", "lon").collect()
    assert(a.sameElements(b), "rechunk changed cell values")
    // recomputed zone maps still prune: t >= 12 opens 1 of 2 partitions
    graft.sources.ReadCounters.reset()
    val n = ctx.dataFrame("rc_prune", compact, compact.chunkMap,
      Seq("t", "lat", "lon")).filter(col("t") >= 12).collect().length
    assert(n == 12 * 12 * 10)
    assert(graft.sources.ReadCounters.partitionsOpened.sum() == 1L,
      "rechunked store lost its pruning stats")
    assert(compact.varBounds("air", Seq((12, 12), (0, 12), (0, 10)))
      .isDefined, "rechunked store lost its value stats")
  }

  test("rechunk round-trips values for randomized chunk specs") {
    val ctx = new XarrayContext(spark)
    val rnd = new scala.util.Random(1234)
    val base = tempDir("graft-rechunk-rand").toString
    for (case_ <- 0 until 6) {
      // random 2-D shape, random source and destination chunkings
      // (including unchunked dims and non-divisible chunk sizes)
      val (nT, nX) = (2 + rnd.nextInt(9), 1 + rnd.nextInt(6))
      def spec(): Map[String, Int] = Seq(
        "t" -> (1 + rnd.nextInt(nT)), "x" -> (1 + rnd.nextInt(nX)))
        .filter(_ => rnd.nextBoolean()).toMap
      val schema = GridSchema(
        Seq(DimDef("t", IntCoords(Array.range(0, nT))),
          DimDef("x", IntCoords(Array.range(0, nX)))),
        Seq(VarDef("v", Seq("t", "x"), GDouble)))
      val src = SyntheticGridStore(schema,
        Map("v" -> Fixtures.AffineLaw(7.0 + case_, Seq(3.0, 11.0))))
      val s0 = ZarrGridStore.write(src, s"$base/s$case_", spec(),
        if (rnd.nextBoolean()) "zstd" else "none")
      val s1 = ctx.rechunk(s0, spec(), s"$base/d$case_")
      assert(s1.arrays("v").compressor == s0.arrays("v").compressor,
        s"case $case_: compressor drift")
      val block = Seq((0, nT), (0, nX))
      assert(s1.readVar("v", block).asInstanceOf[Array[Double]].toSeq ==
        s0.readVar("v", block).asInstanceOf[Array[Double]].toSeq,
        s"case $case_: values drifted (shape ($nT,$nX))")
    }
  }

  test("rechunk handles multi-dim-group stores and inherits the codec") {
    val ctx = new XarrayContext(spark)
    val base = tempDir("graft-rechunk-mixed").toString
    // t2m over (time, lat), pressure over (time, lat, level) — two
    // pivot tables, one store
    val src = ZarrGridStore.write(Fixtures.mixedDims, s"$base/src",
      Map("time" -> 1), "blosc:zstd:3:bit")
    val compact = ctx.rechunk(src, Map("time" -> 4), s"$base/dst")
    for (v <- Seq("t2m", "pressure")) {
      assert(compact.arrays(v).compressor == src.arrays(v).compressor,
        s"$v: compaction must not re-encode")
      val dims = src.schema.vars.find(_.name == v).get.dims
      val block = dims.map(d => (0, src.schema.dim(d).size))
      assert(compact.readVar(v, block).asInstanceOf[Array[Double]].toSeq ==
        src.readVar(v, block).asInstanceOf[Array[Double]].toSeq, v)
    }
  }
}
