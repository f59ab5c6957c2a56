package graftbench

import graft.grid.{GridResult, ZarrGridStore}
import org.apache.spark.sql.Row

/** grid_scan: a read mix of array SQL over a seeded 3-D Zarr v2 store
  * (time x lat x lon, two float64 variables, zstd, chunked along every
  * dim so time windows and lat/lon boxes prune). Every answer is checked
  * against exact sums recomputed from [[GridLaw]].
  */
object GridScan {
  val NT = 128
  val NLAT = 200
  val NLON = 200
  val Chunks = Map("time" -> 32, "lat" -> 50, "lon" -> 50)
  val Cells: Long = NT.toLong * NLAT * NLON
  val ChunkCount: Long = Chunks.map { case (d, c) =>
    val n = d match { case "time" => NT; case "lat" => NLAT; case _ => NLON }
    (n + c - 1) / c
  }.product.toLong
  val Ops = Seq("full_agg", "time_window", "box_to_grid", "lat_climatology",
    "anomaly_join", "count_star", "var_sum")
  // One set-up costs 13-20 s, so a run sets up once and spends the time
  // on passes instead: the first passes are still warming up the JIT.
  val SetupRepeats = 1
  val MinPasses = 5

  /** Whole-store aggregates, recomputed with the store (input set-up). */
  final class Expected(law: GridLaw) {
    val rowAir = new Array[Long](NT)
    val rowPr = new Array[Long](NT)
    val latAir = new Array[Long](NLAT)
    var airPr = 0L // sum of airU * prU, in 1/8192 units
    var maxDiff = Long.MinValue // max of 2 airU - prU, in 1/128 units
    for (t <- 0 until NT; i <- 0 until NLAT; j <- 0 until NLON) {
      val a = law.airU(t, i, j)
      val p = law.prU(t, i, j)
      rowAir(t) += a; rowPr(t) += p; latAir(i) += a
      airPr += a * p
      maxDiff = math.max(maxDiff, 2 * a - p)
    }
  }

  /** The seeded positions of the range ops. Drawn once per run, so every
    * pass issues the same SQL: Spark inlines literals into generated
    * code, and fresh literals every pass would recompile it every pass.
    */
  final case class Ranges(t0: Int, bt0: Int, bi0: Int, bj0: Int, at0: Int)

  object Ranges {
    def draw(rng: scala.util.Random): Ranges = Ranges(
      rng.nextInt(NT - Window), rng.nextInt(NT - Box._1),
      rng.nextInt(NLAT - Box._2), rng.nextInt(NLON - Box._3),
      rng.nextInt(NT - AnomalySteps))
  }

  val Window = 16
  val Box = (8, 24, 24)
  val AnomalySteps = 16 // a power of two keeps the window mean exact

  private def d(v: Double): String = s"${v}D"

  def run(h: Harness): Unit = {
    val law = GridLaw(h.args.seed, NLAT, NLON)
    val rs = Ranges.draw(new scala.util.Random(h.args.seed))
    var exp: Expected = null
    var root = ""
    for (k <- 1 to SetupRepeats) h.setup(
      session = h.startSession(),
      inputs = {
        if (root.nonEmpty) Files.deleteTree(root)
        root = s"${h.args.work}/grid_scan/store-$k"
        exp = new Expected(law)
        ZarrGridStore.writeDistributed(law.store(0, NT, Seq("air", "pr")),
          root, Chunks, "zstd:3")
        h.spark.read.format("zarr").load(root).createOrReplaceTempView("g")
      },
      cold = pass(h, law, exp, rs))
    h.context ++= Seq("store_cells" -> Cells, "store_chunks" -> ChunkCount,
      "store_vars" -> 2, "store_dense_bytes" -> Cells * 2 * 8,
      "store_disk_bytes" -> Files.treeBytes(root))
    h.timed(MinPasses)(_ => pass(h, law, exp, rs))
    if (h.args.trace) h.decodeProbe(root)
    val probeOps: String => Boolean =
      if (h.args.trace) _ => true
      else Set("time_window", "count_star", "var_sum")
    val probe = h.probe(pass(h, law, exp, rs, probeOps, off = 1L))
    h.selfChecks("corrupted_expectation_detected") =
      probe.nonEmpty && probe.forall(!_._2)
  }

  /** One pass: every op once. `off` shifts every expectation by that many
    * units: a nonzero `off` is the self-check that wrong answers are
    * caught.
    */
  def pass(h: Harness, law: GridLaw, e: Expected, rs: Ranges,
      only: String => Boolean = _ => true, off: Long = 0L): Unit = {
    val spark = h.spark
    def sql(c: OpCtx, text: String): Array[Row] = {
      val df = c.plan(c.build(spark.sql(text)))
      c.action(df.collect())
    }
    def scanOp(name: String, cells: Long)(body: OpCtx => Unit): Unit =
      if (only(name)) h.op(name, "read") { c =>
        c.chunksTotal = ChunkCount
        c.cells = cells.toDouble
        c.items = cells.toDouble
        body(c)
      }

    scanOp("full_agg", Cells) { c =>
      val r = sql(c, "SELECT sum(air * pr), max(air - pr), count(*) FROM g")(0)
      c.check(r.getDouble(0) == (e.airPr + off) / 8192.0,
        s"sum(air*pr) ${r.get(0)}")
      c.check(r.getDouble(1) == (e.maxDiff + off) / 128.0, s"max ${r.get(1)}")
      c.check(r.getLong(2) == Cells + off, s"count ${r.get(2)}")
    }

    val (w, t0) = (Window, rs.t0)
    scanOp("time_window", w.toLong * NLAT * NLON) { c =>
      val r = sql(c, s"SELECT sum(air), sum(pr), count(*) FROM g " +
        s"WHERE time BETWEEN $t0 AND ${t0 + w - 1}")(0)
      val (a, p) = (t0 until t0 + w).map(t => (e.rowAir(t), e.rowPr(t)))
        .foldLeft((0L, 0L))((s, x) => (s._1 + x._1, s._2 + x._2))
      c.check(r.getDouble(0) == (a + off) / 64.0,
        s"window sum(air) ${r.get(0)}")
      c.check(r.getDouble(1) == (p + off) / 128.0,
        s"window sum(pr) ${r.get(1)}")
      c.check(r.getLong(2) == c.cells.toLong + off,
        s"window count ${r.get(2)}")
    }

    val (bt, bi, bj) = Box
    val (bt0, bi0, bj0) = (rs.bt0, rs.bi0, rs.bj0)
    scanOp("box_to_grid", bt.toLong * bi * bj) { c =>
      val (lat0, lat1) = (d(law.lat(bi0)), d(law.lat(bi0 + bi - 1)))
      val (lon0, lon1) = (d(law.lon(bj0)), d(law.lon(bj0 + bj - 1)))
      val df = c.plan(c.build(spark.sql(
        s"SELECT time, lat, lon, air FROM g " +
          s"WHERE time BETWEEN $bt0 AND ${bt0 + bt - 1} " +
          s"AND lat BETWEEN $lat0 AND $lat1 AND lon BETWEEN $lon0 AND $lon1")))
      val g = c.action(c.grid("grid.to_grid")(
        GridResult.toGrid(df, Seq("time", "lat", "lon"))))
      c.check(g.shape == Seq(bt, bi, bj), s"box shape ${g.shape}")
      if (c.ok) {
        val Seq(ts, las, los) = g.dims.map(_._2)
        val vals = g.vars("air")
        var bad = 0
        var k = 0
        for (a <- ts; b <- las; cc <- los) {
          val want = (law.airU(a.asInstanceOf[Int],
            law.latIndex(b.asInstanceOf[Double]),
            law.lonIndex(cc.asInstanceOf[Double])) + off) / 64.0
          if (vals(k) != want) bad += 1
          k += 1
        }
        c.check(bad == 0, s"box: $bad wrong cells")
      }
    }

    scanOp("lat_climatology", Cells) { c =>
      val rows = sql(c, "SELECT lat, avg(air) FROM g GROUP BY lat")
      c.check(rows.length == NLAT, s"climatology rows ${rows.length}")
      val bad = rows.count { r =>
        val i = law.latIndex(r.getDouble(0))
        r.getDouble(1) != ((e.latAir(i) + off) / 64.0) / (NT.toDouble * NLON)
      }
      c.check(bad == 0, s"climatology: $bad wrong latitudes")
    }

    val at0 = rs.at0
    scanOp("anomaly_join", AnomalySteps.toLong * NLAT * NLON) { c =>
      val r = sql(c,
        s"""WITH w AS (SELECT time, lat, lon, air FROM g
           |  WHERE time >= $at0 AND time < ${at0 + AnomalySteps}),
           |c AS (SELECT lat, lon, avg(air) AS m FROM w GROUP BY lat, lon)
           |SELECT sum(CASE WHEN w.air > c.m THEN 1 ELSE 0 END),
           |  sum(abs(w.air - c.m)), count(*)
           |FROM w JOIN c ON w.lat = c.lat AND w.lon = c.lon""".stripMargin)(0)
      var above = 0L
      var dev = 0L // in 1/(64 * AnomalySteps) units
      val col = new Array[Long](AnomalySteps)
      for (i <- 0 until NLAT; j <- 0 until NLON) {
        var s = 0L
        var t = 0
        while (t < AnomalySteps) {
          col(t) = law.airU(at0 + t, i, j); s += col(t); t += 1
        }
        t = 0
        while (t < AnomalySteps) {
          val dd = AnomalySteps * col(t) - s
          if (dd > 0) above += 1
          dev += math.abs(dd)
          t += 1
        }
      }
      c.check(r.getLong(0) == above + off, s"anomaly above ${r.get(0)}")
      c.check(r.getDouble(1) == (dev + off) / (64.0 * AnomalySteps),
        s"anomaly dev ${r.get(1)}")
      c.check(r.getLong(2) == c.cells.toLong + off,
        s"anomaly count ${r.get(2)}")
    }

    scanOp("count_star", Cells) { c =>
      c.metaEligible = true
      val r = sql(c, "SELECT count(*) FROM g")(0)
      c.check(r.getLong(0) == Cells + off, s"count(*) ${r.get(0)}")
    }

    scanOp("var_sum", Cells) { c =>
      c.metaEligible = true
      val r = sql(c, "SELECT sum(pr) FROM g")(0)
      c.check(r.getDouble(0) == (e.rowPr.sum + off) / 128.0,
        s"sum(pr) ${r.get(0)}")
    }
  }
}
