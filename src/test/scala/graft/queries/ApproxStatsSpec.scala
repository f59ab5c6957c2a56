package graft.queries

import graft.{SparkEntry, SparkTestBase}
import org.apache.spark.sql.functions._

/** approx_stats ships a TOLERANCE-BANDED oracle (each engine computes
  * its own sketches + exact anchors and emits band booleans), so the
  * driver hash-gates it like every other query. This spec keeps the
  * sharper IN-ENGINE trust gates: the raw sketch estimates must respect
  * their configured error bounds against exact answers in the same
  * session — the query's own NDV sketch (`PipelineQueries.ndvSketch`,
  * DataSketches HLL at lgConfigK 14) within 1% relative standard
  * deviation, percentile_approx within its rank-error guarantee — and
  * the banded query itself must come back all-green.
  */
class ApproxStatsSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.01"

  private def sketches = graft.Tables.documents(spark, sf)
    .groupBy("lang")
    .agg(
      PipelineQueries.ndvSketch(col("text")).as("andv"),
      percentile_approx(col("n_chars").cast("double"), lit(0.5),
        lit(10000)).as("p50"),
      percentile_approx(col("n_chars").cast("double"), lit(0.95),
        lit(10000)).as("p95"))
    .collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap

  test("the banded query reports every sketch within tolerance") {
    val rows = SparkEntry.queries("approx_stats")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val lang = r.getString(r.fieldIndex("lang"))
      assert(r.getBoolean(r.fieldIndex("ndv_ok")), s"$lang ndv out of band")
      assert(r.getBoolean(r.fieldIndex("p50_ok")), s"$lang p50 out of band")
      assert(r.getBoolean(r.fieldIndex("p95_ok")), s"$lang p95 out of band")
      assert(r.getLong(r.fieldIndex("n_docs")) > 0)
    }
  }

  test("DataSketches HLL distinct estimates stay within the configured rsd") {
    val got = sketches
    assert(got.nonEmpty)
    val exact = graft.Tables.documents(spark, sf)
      .groupBy("lang").agg(countDistinct(col("text")).as("nd"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet == exact.keySet)
    exact.foreach { case (lang, nd) =>
      val est = got(lang)._1
      // rsd 0.01 gated (lgConfigK 14 is nominally 0.0081); 5 sigma of
      // slack keeps the gate meaningful (a broken sketch is off by far
      // more) and never flaky
      val tol = math.max(5.0 * 0.01 * nd, 1.0)
      assert(math.abs(est - nd) <= tol,
        s"$lang: HLL estimate $est vs exact $nd (tol $tol)")
    }
  }

  test("GK percentiles stay within the configured rank error") {
    val got = sketches
    val perLang = graft.Tables.documents(spark, sf)
      .select(col("lang"), col("n_chars").cast("double").as("c"))
      .collect().groupBy(_.getString(0))
      .view.mapValues(_.map(_.getDouble(1)).sorted).toMap
    assert(got.keySet == perLang.keySet)
    for ((lang, sorted) <- perLang; (q, est) <- Seq(
        (0.5, got(lang)._2), (0.95, got(lang)._3))) {
      val n = sorted.length
      // percentile_approx(accuracy = 10000): rank error <= n/10000
      // (+1 index slack for the discrete rank convention)
      val target = math.ceil(q * n).toInt
      val err = math.max(n / 10000, 0) + 1
      val lo = sorted(math.max(target - err - 1, 0))
      val hi = sorted(math.min(target + err - 1, n - 1))
      assert(est >= lo && est <= hi,
        s"$lang p$q: estimate $est outside rank window [$lo, $hi] (n=$n)")
    }
  }
}
