package graft

import graft.grid._
import graft.sources.ReadCounters
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** Scale smoke over a 10^7-cell grid (the reference's `large_ds` scale,
  * tests/conftest.py:33-50 / tests/test_df.py:380-476): full-scan grouped
  * aggregation through the columnar reader completes in bounded time with
  * the exact expected values, and registration stays O(metadata).
  */
class ScaleSmokeSpec extends SparkTestBase {

  test("10^7-cell grid: registration is metadata-only; full agg is exact and fast") {
    // time=1000 x lat=100 x lon=100, chunks time=25 -> 40 partitions
    val time = TimeCoords((0 until 1000).map(k =>
      (18262L + k) * 86400000000L).toArray)
    val lat = DoubleCoords((0 until 100).map(i => -90.0 + 1.8 * i).toArray)
    val lon = DoubleCoords((0 until 100).map(j => -180.0 + 3.6 * j).toArray)
    val store = SyntheticGridStore(
      GridSchema(
        Seq(DimDef("time", time), DimDef("lat", lat), DimDef("lon", lon)),
        Seq(VarDef("temperature", Seq("time", "lat", "lon"), GDouble))),
      Map("temperature" -> ScaleSmokeSpec.IntLaw()))
    val ctx = new XarrayContext(spark)

    ReadCounters.reset()
    val df = ctx.dataFrame("large", store, Map("time" -> 25),
      Seq("time", "lat", "lon"))
    assert(ReadCounters.partitionsOpened.sum() == 0L) // registration reads nothing

    val t0 = System.nanoTime()
    val got = df.groupBy("lat").agg(avg("temperature").as("m"))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"10M-cell grouped aggregation: $secs%.2f s on local[4]")

    // law = t%17 + 3*i + j (integers): the group sum is an exact integer
    // (< 2^53) so avg = one double division — match it bit-for-bit
    val sT = (0 until 1000).map(_ % 17).sum.toLong
    val sJ = (0 until 100).sum.toLong
    for (i <- 0 until 100) {
      val groupSum = 100L * sT + 1000L * sJ + 100000L * 3 * i
      assert(got(-90.0 + 1.8 * i) == groupSum / 100000.0, s"lat $i")
    }
    assert(ReadCounters.partitionsOpened.sum() == 40L)
    assert(secs < 60.0, s"aggregation too slow: $secs s")
  }

  test("memory envelope: aggregation memory does not scale with the dataset") {
    // the reference pins full-table aggregation peak < 2x dataset bytes
    // (tests/test_df.py:459-474). On Spark the reader is an iterator per
    // chunk, so the analogue is: per-task peak EXECUTION memory is a
    // constant page allocation for the agg hash map — growing the
    // dataset 10x must not grow it (rows stream through, never resident).
    def gridStore(nTime: Int): SyntheticGridStore = {
      val time = TimeCoords((0 until nTime).map(k =>
        (18262L + k) * 86400000000L).toArray)
      val lat = DoubleCoords((0 until 100).map(i => -90.0 + 1.8 * i).toArray)
      val lon = DoubleCoords((0 until 100).map(j => -180.0 + 3.6 * j).toArray)
      SyntheticGridStore(
        GridSchema(
          Seq(DimDef("time", time), DimDef("lat", lat), DimDef("lon", lon)),
          Seq(VarDef("temperature", Seq("time", "lat", "lon"), GDouble))),
        Map("temperature" -> ScaleSmokeSpec.IntLaw()))
    }
    val listener = new SparkListener {
      @volatile var peak = 0L
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          peak = math.max(peak, t.taskMetrics.peakExecutionMemory)
    }
    def peakFor(name: String, nTime: Int): Long = {
      val ctx = new XarrayContext(spark)
      val df = ctx.dataFrame(name, gridStore(nTime), Map("time" -> 25),
        Seq("time", "lat", "lon"))
      listener.peak = 0L
      spark.sparkContext.addSparkListener(listener)
      try {
        assert(df.groupBy("lat").agg(sum("temperature"))
          .collect().length == 100)
        Thread.sleep(2000) // listener events are async
        listener.peak
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val small = peakFor("memenv_s", 50) //  0.5M cells,  4 MB
    val large = peakFor("memenv_l", 500) //   5M cells, 40 MB
    assert(large <= small * 2,
      s"execution memory scaled with data: $small -> $large")
  }

  test("GraftExtensions registers SQL-callable native functions") {
    // a second session picks up the extensions; the shared context is reused
    val s2 = SparkTestBase.withExtensions
    val dot = s2.sql(
      "SELECT dot_f64(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .collect()(0).getDouble(0)
    assert(dot == 11.0)
    val mh = s2.sql(
      "SELECT minhash_md5(array('a','b','c'), '2') AS sig")
      .collect()(0).getSeq[String](0)
    assert(mh.length == 2 && mh.forall(_.length == 8))
    val ct = s2.sql(
      "SELECT cftime('2000-07-01', 'days since 2000-01-01', '360_day') AS o")
      .collect()(0).getLong(0)
    assert(ct == 180L)
    val ws = s2.sql(
      "SELECT word_shingles(array('a','b','c','d'), '3') AS sh")
      .collect()(0).getSeq[String](0)
    assert(ws == Seq("a b c", "b c d"))
    // non-literal / NULL parameter args fail with messages that name
    // the argument and say what IS accepted
    val eNull = intercept[Exception](
      s2.sql("SELECT minhash_md5(array('a'), NULL)").collect())
    assert(eNull.getMessage.contains("'k'") &&
      eNull.getMessage.contains("non-NULL literal"), eNull.getMessage)
    val eCol = intercept[Exception](s2.sql(
      "SELECT word_shingles(array(w), id + 1) FROM " +
        "(SELECT 'x' AS w, 2 AS id)").collect())
    assert(eCol.getMessage.contains("'n'") &&
      eCol.getMessage.contains("literal constant"), eCol.getMessage)
    val sh64 = s2.sql(
      "SELECT simhash64(array('a', 'b')) AS h").collect()(0).getLong(0)
    val sh64Native = {
      import org.apache.spark.sql.functions.{array, lit => slit}
      s2.range(1).select(graft.functions.SimHash64
        .simhash64(array(slit("a"), slit("b"))).as("h"))
        .collect()(0).getLong(0)
    }
    assert(sh64 == sh64Native, "SQL simhash64 != native column form")
    val cd = s2.sql(
      """SELECT k, capped_distinct_longs(v, '2') AS ids
        |FROM VALUES ('a', 1L), ('a', 2L), ('a', 1L),
        |            ('b', 1L), ('b', 2L), ('b', 3L) AS t(k, v)
        |GROUP BY k ORDER BY k""".stripMargin).collect()
    assert(cd(0).getSeq[Long](1) == Seq(1L, 2L))
    assert(cd(1).isNullAt(1), "3 distinct past cap 2 must be NULL")
    val mg = s2.sql(
      """SELECT misra_gries(t, '4') AS mg
        |FROM VALUES ('x'), ('x'), ('x'), ('y') AS v(t)""".stripMargin)
      .collect()(0).getSeq[String](0)
    assert(mg.toSet == Set("x", "y"), s"SQL misra_gries: $mg")
  }
}

object ScaleSmokeSpec {
  final case class IntLaw() extends GridFun {
    def apply(idx: Array[Int]): Double =
      (idx(0) % 17 + 3 * idx(1) + idx(2)).toDouble
  }
}
