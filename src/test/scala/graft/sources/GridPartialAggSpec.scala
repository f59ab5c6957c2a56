package graft.sources

import graft.{SparkTestBase, XarrayContext}
import graft.grid._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** SUM / COUNT / AVG computed inside the grid scan as a partial
  * aggregate (Spark keeps the final combine), checked against brute
  * force over the fixture's own cells, and the shapes the scan must
  * decline.
  */
class GridPartialAggSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private lazy val ctx = new XarrayContext(spark)

  private val t0 = 1609459200L * 1000000L
  private def timeAt(t: Int): Long = t0 + t * 3600000000L
  private val nt = 8
  private val ns = 5
  private val nl = 6

  // time(8) x station(5) x lat(6, descending), chunked 3 x 2 x 4: 18
  // uneven blocks; air is dyadic (exact sums in any order) apart from a
  // NaN and a +Inf/-Inf pair, pr is float32, n is int
  private lazy val store = SyntheticGridStore(
    GridSchema(
      Seq(DimDef("time", TimeCoords(Array.tabulate(nt)(timeAt))),
        DimDef("station", StringCoords(Array.tabulate(ns)(s => s"st_$s"))),
        DimDef("lat", DoubleCoords(Array.tabulate(nl)(i => 60.0 - 7.5 * i)))),
      Seq(VarDef("air", Seq("time", "station", "lat"), GDouble),
        VarDef("pr", Seq("time", "station", "lat"), GFloat),
        VarDef("n", Seq("time", "station", "lat"), GInt))),
    Map("air" -> AirLaw(), "pr" -> PrLaw(), "n" -> CountLaw()))

  private lazy val grid: DataFrame = {
    val df = ctx.dataFrame("pagg", store,
      Map("time" -> 3, "station" -> 2, "lat" -> 4), Seq("time", "station", "lat"))
    df.createOrReplaceTempView("pagg")
    df
  }

  /** Every cell: (time micros, station, lat, air, pr, n). */
  private case class Cell(time: Long, station: String, lat: Double,
      air: Double, pr: Float, n: Int) {
    def dim(d: String): Any = d match {
      case "time" => time
      case "station" => station
      case "lat" => lat
    }
  }
  private lazy val cells: Seq[Cell] =
    for (t <- 0 until nt; s <- 0 until ns; i <- 0 until nl) yield {
      val idx = Array(t, s, i)
      Cell(timeAt(t), s"st_$s", 60.0 - 7.5 * i, AirLaw()(idx),
        PrLaw()(idx).toFloat, CountLaw()(idx).toInt)
    }

  private val dims = Seq("time", "station", "lat")

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => x == y || (x.isNaN && y.isNaN)
    case _ => java.util.Objects.equals(a, b) // type-strict: 1L is not 1.0
  }

  private def norm(r: Row): Seq[Any] = r.toSeq.map {
    case t: java.sql.Timestamp => DateTimeUtils.fromJavaTimestamp(t)
    case v => v
  }

  /** Rows of `q` against `want`, both keyed by their first `k` columns. */
  private def assertRows(q: DataFrame, k: Int, want: Seq[Seq[Any]]): Unit = {
    val got = q.collect().toSeq.map(norm)
    assert(got.size == want.size, s"rows: got ${got.size}, want ${want.size}")
    val byKey = got.map(r => r.take(k) -> r).toMap
    want.foreach { w =>
      val g = byKey.getOrElse(w.take(k), fail(s"missing group ${w.take(k)}"))
      assert(g.zip(w).forall { case (a, b) => same(a, b) }, s"got $g, want $w")
    }
  }

  private def sumOf(xs: Seq[Double]): Double = xs.foldLeft(0.0)(_ + _)

  test("partial aggregate: SUM/COUNT/AVG by every subset of dims match brute force") {
    grid
    val filters = Seq(
      ("no filter", "", (_: Cell) => true),
      ("exact dim filter",
        s"WHERE lat < 50.0 AND station <> 'st_2' AND time > " +
          s"timestamp_micros(${timeAt(1)})",
        (c: Cell) => c.lat < 50.0 && c.station != "st_2" && c.time > timeAt(1)))
    val subsets = (0 to dims.size).flatMap(dims.combinations)
    for ((fname, where, keep) <- filters; g <- subsets) withClue(s"[$fname, $g] ") {
      val keys = g.mkString(", ")
      val sel = if (g.isEmpty) "" else keys + ", "
      val grp = if (g.isEmpty) "" else s" GROUP BY $keys"
      val q = spark.sql(s"SELECT ${sel}sum(air), count(air), count(*), " +
        s"avg(pr), sum(pr) FROM pagg $where$grp")
      assert(plan(q).contains("pushedPartialAgg"), plan(q))
      val want = cells.filter(keep).groupBy(c => g.map(c.dim)).toSeq.map {
        case (key, cs) =>
          val pr = cs.map(_.pr.toDouble)
          key ++ Seq[Any](sumOf(cs.map(_.air)), cs.size.toLong, cs.size.toLong,
            sumOf(pr) / cs.size, sumOf(pr))
      }
      assertRows(q, g.size, want)
    }
  }

  test("partial aggregate: an exact filter matching no cell") {
    grid
    val none = "FROM pagg WHERE lat > 1000.0"
    val global = spark.sql(s"SELECT sum(air), count(*), avg(pr) $none")
    assert(plan(global).contains("pushedPartialAgg"), plan(global))
    val Array(r) = global.collect()
    assert(r.isNullAt(0) && r.getLong(1) == 0L && r.isNullAt(2), r)
    // a group with zero cells emits no partial row, so no group appears
    val grouped = spark.sql(s"SELECT station, sum(air), count(*) $none GROUP BY station")
    assert(plan(grouped).contains("pushedPartialAgg"), plan(grouped))
    assert(grouped.collect().isEmpty)
  }

  test("partial aggregate: declined shapes plan without it and agree") {
    grid
    val all = cells
    val declined = Seq(
      // integer SUM: ANSI overflow checks stay with Spark
      "SELECT sum(n) FROM pagg" -> Seq(Seq(all.map(_.n.toLong).sum)),
      "SELECT count(DISTINCT pr), sum(DISTINCT pr) FROM pagg" -> {
        val d = all.map(_.pr.toDouble).distinct
        Seq(Seq[Any](d.size.toLong, sumOf(d.sorted)))
      },
      "SELECT min(pr), max(pr) FROM pagg" ->
        Seq(Seq(all.map(_.pr).min, all.map(_.pr).max)),
      // a residual filter keeps its Filter between the scan and the
      // aggregate (NaN compares above every number in Spark)
      "SELECT sum(pr), count(*) FROM pagg WHERE air > 3.0" -> {
        val k = all.filter(c => c.air.isNaN || c.air > 3.0)
        Seq(Seq[Any](sumOf(k.map(_.pr.toDouble)), k.size.toLong))
      },
      "SELECT sum(air * pr) FROM pagg" -> Seq(Seq(Double.NaN)))
    declined.foreach { case (sql, want) => withClue(s"[$sql] ") {
      val q = spark.sql(sql)
      assert(!plan(q).contains("pushedPartialAgg"), plan(q))
      assertRows(q, 0, want)
    }}
  }

  test("partial aggregate: a window joined to its own mean broadcasts the mean") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    // time(64) x lat(20) x lon(20), time chunks of 16: the window is one
    // block of 6,400 cells (~200 KB at 32 B a row) and its per-(lat,
    // lon) partial is 400 rows (~13 KB); a 64 KB threshold broadcasts
    // the mean only when the scan reports the partial's size
    val law = Fixtures.AffineLaw(0.0, Seq(0.5, 0.25, 0.125))
    val st = SyntheticGridStore(
      GridSchema(
        Seq(DimDef("time", IntCoords(Array.range(0, 64))),
          DimDef("lat", DoubleCoords(Array.tabulate(20)(i => -90.0 + 0.75 * i))),
          DimDef("lon", DoubleCoords(Array.tabulate(20)(j => 0.5 * j)))),
        Seq(VarDef("air", Seq("time", "lat", "lon"), GDouble))),
      Map("air" -> law))
    ctx.dataFrame("pagg_join", st, Map("time" -> 16), Seq("time", "lat", "lon"))
      .createOrReplaceTempView("pagg_join")
    val conf = Map("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "65536")
    val saved = conf.keys.map(k => k -> spark.conf.getOption(k))
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val q = spark.sql(
        """WITH w AS (SELECT time, lat, lon, air FROM pagg_join
          |  WHERE time >= 16 AND time < 32),
          |c AS (SELECT lat, lon, avg(air) AS m FROM w GROUP BY lat, lon)
          |SELECT sum(CASE WHEN w.air > c.m THEN 1 ELSE 0 END), count(*)
          |FROM w JOIN c ON w.lat = c.lat AND w.lon = c.lon""".stripMargin)
      val p = q.queryExecution.executedPlan
      val joins = collect(p) { case j: BroadcastHashJoinExec => j }
      assert(joins.size == 1, p)
      val j = joins.head
      val probe =
        if (j.buildSide == org.apache.spark.sql.catalyst.optimizer.BuildRight) j.left
        else j.right
      assert(collect(probe) {
        case e: ShuffleExchangeExec => e }.isEmpty, p)
      assert(p.toString.contains("pushedPartialAgg"), p)
      // air grows with time, so the cells above their (lat, lon) mean
      // over 16 steps are the later 8 of each column
      val Array(r) = q.collect()
      assert(r.getLong(0) == 8L * 400 && r.getLong(1) == 16L * 400, r)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

private final case class AirLaw() extends GridFun {
  def apply(i: Array[Int]): Double = (i(0), i(1), i(2)) match {
    case (2, 1, 3) => Double.NaN
    case (5, 3, 0) => Double.PositiveInfinity
    case (5, 3, 1) => Double.NegativeInfinity
    case (t, s, l) => 0.25 * t + 8.0 * s + 0.5 * l - 3.0
  }
}

private final case class PrLaw() extends GridFun {
  def apply(i: Array[Int]): Double = 0.125 * (i(0) + 2 * i(1) + 3 * i(2))
}

private final case class CountLaw() extends GridFun {
  def apply(i: Array[Int]): Double = i(0) + 10 * i(1) + 100 * i(2)
}
