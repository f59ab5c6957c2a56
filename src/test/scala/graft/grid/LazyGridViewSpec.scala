package graft.grid

import graft.{GridSurface, SparkTestBase, TempDirs, XarrayContext}
import graft.functions.RollingFingerprint
import graft.operators.SkewOps
import graft.sources.ReadCounters
import org.apache.spark.sql.functions._

class LazyGridViewSpec extends SparkTestBase with TempDirs {

  private lazy val ctx = new XarrayContext(spark)

  test("lazy view: slice access reads only the covering chunks") {
    val store = Fixtures.pruneGrid // time 100 (chunks of 25), lat 5
    val df = ctx.dataFrame("lazy1", store, Map("time" -> 25), Seq("time", "lat"))
    val view = LazyGridView.fromStore(df, store, Seq("time", "lat"),
      Seq("temperature"))
    assert(view.shape == Seq(100, 5))

    ReadCounters.reset()
    // days 80..89 live entirely in the last chunk
    val res = view.select(Map("time" -> LazyGridView.Slice(80, 90)))
    assert(ReadCounters.partitionsOpened.sum() == 1L)
    assert(res.shape == Seq(10, 5))
    val law = store.laws("temperature")
    for (t <- 0 until 10; i <- 0 until 5)
      assert(res("temperature", t, i) == law(Array(80 + t, i)))

    // point + point-set indexers
    ReadCounters.reset()
    val res2 = view.select(Map(
      "time" -> LazyGridView.Point(3),
      "lat" -> LazyGridView.Points(Seq(0, 4))))
    assert(ReadCounters.partitionsOpened.sum() == 1L)
    assert(res2.shape == Seq(1, 2))
    assert(res2("temperature", 0, 1) == law(Array(3, 4)))
  }

  test("lazy view: full-extent dims emit no predicate; discovery path works") {
    val store = Fixtures.pruneGrid
    val df = ctx.dataFrame("lazy2", store, Map("time" -> 25), Seq("time", "lat"))
    val view = LazyGridView.discoverCoords(df, Seq("time", "lat"),
      Seq("temperature"))
    // discovery orders lat ascending (it is ascending in the fixture)
    assert(view.shape == Seq(100, 5))
    val res = view.select(Map.empty)
    assert(res.shape == Seq(100, 5))
    assert(res.cellCount == 500)
  }

  test("lazy view: vectorized indexer gathers points via one outer read") {
    // mirrors reference tests/test_ds.py
    // test_vectorized_indexer_falls_back_via_xarray_adapter: paired
    // integer arrays zip along a new points axis; untouched dims stay
    val store = Fixtures.pruneGrid // time 100 (chunks of 25), lat 5
    val df = ctx.dataFrame("lazyv", store, Map("time" -> 25), Seq("time", "lat"))
    val view = LazyGridView.fromStore(df, store, Seq("time", "lat"),
      Seq("temperature"))
    val law = store.laws("temperature")
    // time=[0,30,7] zipped with lat=[2,0,4] -> 3 points
    ReadCounters.reset()
    val res = view.selectVectorized(Seq(
      "time" -> Seq(0, 30, 7), "lat" -> Seq(2, 0, 4)))
    // outer envelope: time {0,7,30} spans chunks 0 and 1 -> 2 opens
    assert(ReadCounters.partitionsOpened.sum() == 2L)
    assert(res.dims.map(_._1) == Seq("points"))
    assert(res.shape == Seq(3))
    assert(res("temperature", 0) == law(Array(0, 2)))
    assert(res("temperature", 1) == law(Array(30, 0)))
    assert(res("temperature", 2) == law(Array(7, 4)))
    // partial vectorization: time points, lat untouched -> (points, lat)
    val res2 = view.selectVectorized(Seq("time" -> Seq(5, 99)))
    assert(res2.dims.map(_._1) == Seq("points", "lat"))
    assert(res2.shape == Seq(2, 5))
    for (p <- Seq(0, 1); i <- 0 until 5)
      assert(res2("temperature", p, i) == law(Array(Seq(5, 99)(p), i)))
    // numpy-style length-1 broadcast
    val res3 = view.selectVectorized(Seq(
      "time" -> Seq(4), "lat" -> Seq(1, 3, 3)))
    assert(res3.shape == Seq(3))
    assert(res3("temperature", 2) == law(Array(4, 3)))
    // non-broadcastable lengths are rejected
    intercept[IllegalArgumentException](view.selectVectorized(Seq(
      "time" -> Seq(1, 2), "lat" -> Seq(0, 1, 2))))
  }

  test("vectorized indexer: randomized point sets match the value law") {
    val store = Fixtures.pruneGrid // time 100 (chunks of 25), lat 5
    val df = ctx.dataFrame("lazyvr", store, Map("time" -> 25), Seq("time", "lat"))
    val view = LazyGridView.fromStore(df, store, Seq("time", "lat"),
      Seq("temperature"))
    val law = store.laws("temperature")
    val rnd = new scala.util.Random(42)
    for (round <- 0 until 3) {
      val n = 1 + rnd.nextInt(8)
      val ts = Seq.fill(n)(rnd.nextInt(100))
      val ls = Seq.fill(n)(rnd.nextInt(5))
      val res = view.selectVectorized(Seq("time" -> ts, "lat" -> ls))
      assert(res.shape == Seq(n), s"round $round")
      for (p <- 0 until n)
        assert(res("temperature", p) == law(Array(ts(p), ls(p))),
          s"round $round point $p (${ts(p)}, ${ls(p)})")
    }
  }

  test("lazy view auto: pure scan takes store coords, filtered plans discover") {
    // airSmall's lat axis DESCENDS (75 -> 50): the store fast path
    // preserves that order, discovery sorts ascending — an observable
    // discriminator for which strategy auto picked
    val tree = GridSurface.tree(tempDir("surface"), Fixtures.airSmall,
      Map("time" -> 6))
    onBothSurfaces { s =>
      val df = s.read(spark, tree, Seq("time", "lat", "lon"))
      val pure = LazyGridView.auto(df, Seq("time", "lat", "lon"), Seq("air"))
      assert(pure.shape == Seq(12, 11, 10))
      val latsPure = pure.select(Map("time" -> LazyGridView.Point(0)))
        .dims.find(_._1 == "lat").get._2.map(_.asInstanceOf[Double])
      assert(latsPure.head == 75.0 && latsPure.last == 50.0,
        s"store order not preserved: $latsPure")
      // an attribute-only projection is still a pure scan
      val projected = LazyGridView.auto(
        df.select("time", "lat", "lon", "air"), Seq("time", "lat", "lon"),
        Seq("air"))
      assert(projected.shape == Seq(12, 11, 10))
      // a filter is NOT: discovery reflects the filtered extents
      // (sparsity='result') and sorts ascending
      val filtered = LazyGridView.auto(df.filter(col("lat") > 60.0),
        Seq("time", "lat", "lon"), Seq("air"))
      val lats = filtered.select(Map("time" -> LazyGridView.Point(0)))
        .dims.find(_._1 == "lat").get._2.map(_.asInstanceOf[Double])
      assert(lats.forall(_ > 60.0) && lats == lats.sorted,
        s"discovery extents wrong: $lats")
      assert(filtered.shape(1) == lats.size && lats.size < 11)
    }
  }

  test("salted aggregation equals direct groupBy on a skewed key") {
    import spark.implicits._
    // 90% of rows share one key — the salted plan spreads them
    val rows = (0 until 20000).map { i =>
      val k = if (i % 10 != 0) "hot" else s"k${i % 50}"
      (k, (i % 97) / 4.0)
    }
    val df = rows.toDF("k", "v").repartition(8)
    val direct = df.groupBy("k")
      .agg(count(lit(1)).as("cnt"),
        sum(col("v").cast(org.apache.spark.sql.types.DecimalType(28, 6)))
          .cast(org.apache.spark.sql.types.DecimalType(38, 6)).as("sum_v"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDecimal(2))).toMap
    val salted = SkewOps.saltedCountSum(df, "k", "v", salts = 16)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDecimal(2))).toMap
    assert(salted == direct)
  }

  test("rolling fingerprint: deterministic, shared substrings overlap") {
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = "completely different text with the quick brown fox jumps inside"
    val c = "nothing in common here at all zzz qqq www eee rrr ttt yyy"
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("id", "t")
    val fp = df.select(col("id"),
      RollingFingerprint.rolling_fingerprint(col("t"), 5, 4).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    // determinism
    val again = df.select(RollingFingerprint
      .rolling_fingerprint(col("t"), 5, 4).as("fp"))
      .collect().map(_.getSeq[Long](0).toSet)
    assert(again(0) == fp(1L))
    // a and b share "the quick brown fox jumps" (>= k + w - 1 chars)
    assert((fp(1L) & fp(2L)).nonEmpty)
    // containment score separates related from unrelated pairs
    def sim(x: Set[Long], y: Set[Long]) =
      (x & y).size.toDouble / math.min(x.size, y.size)
    assert(sim(fp(1L), fp(2L)) > sim(fp(1L), fp(3L)))
  }
}
