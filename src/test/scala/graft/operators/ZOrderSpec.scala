package graft.operators

import graft.{SparkTestBase, TempDirs}
import org.apache.spark.sql.functions._

/** Pins for the z-order write layout.
  *
  * The whole point of z-ordering is what parquet footer stats look
  * like afterwards, so the pins are measured on the staged files
  * themselves: every output file's (user_id, value) min/max box must
  * be SMALL ON BOTH DIMS (a 1-D sort gives ~1/nFiles on the sorted
  * dim and ~the full range on the other), and the gate query's 2-D
  * rectangle must intersect only a minority of file boxes — the
  * file-skipping a footer-stats reader performs.
  */
class ZOrderSpec extends SparkTestBase with TempDirs {

  private val sf = "/root/testdata/sf0.01"

  test("morton16 interleaves bits (known values)") {
    import spark.implicits._
    val df = Seq((0L, 0L), (3L, 5L), (65535L, 0L), (0L, 65535L))
      .toDF("a", "b")
      .select(ZOrder.morton16(col("a"), col("b")).as("z"))
    assert(df.collect().map(_.getLong(0)).toSeq ==
      Seq(0L, 39L, 0x55555555L, 0xAAAAAAAAL))
  }

  test("morton16 inverse law: even bits are a, odd bits are b") {
    import spark.implicits._
    // deterministic splitmix walk over the 16-bit × 16-bit domain
    var x = 0x9E3779B97F4A7C15L
    val pairs = (0 until 512).map { _ =>
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      ((x >>> 5) & 0xFFFFL, (x >>> 27) & 0xFFFFL)
    }
    val got = pairs.toDF("a", "b")
      .select(col("a"), col("b"), ZOrder.morton16(col("a"), col("b")).as("z"))
      .collect()
    got.foreach { r =>
      val (a, b, z) = (r.getLong(0), r.getLong(1), r.getLong(2))
      var (ra, rb) = (0L, 0L)
      for (i <- 0 until 16) {
        ra |= ((z >>> (2 * i)) & 1L) << i
        rb |= ((z >>> (2 * i + 1)) & 1L) << i
      }
      assert((ra, rb) == (a, b), s"morton16($a, $b) = $z deinterleaves to ($ra, $rb)")
    }
  }

  private lazy val fileBoxes: Seq[(Long, Long, Double, Double)] = {
    val files = graft.queries.PipelineQueries
      .stagedZOrderEvents(spark, sf).inputFiles.toSeq
    assert(files.size > 8, s"expected ~16 z-ordered files, got $files")
    files.map { f =>
      val r = spark.read.parquet(f).agg(
        min("user_id"), max("user_id"), min("value"), max("value")).head()
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))
    }
  }

  test("every file's stat box is small on BOTH dimensions") {
    val gu = fileBoxes.map(_._2).max - fileBoxes.map(_._1).min
    val gv = fileBoxes.map(_._4).max - fileBoxes.map(_._3).min
    val meanU = fileBoxes.map(b => (b._2 - b._1).toDouble).sum / fileBoxes.size
    val meanV = fileBoxes.map(b => b._4 - b._3).sum / fileBoxes.size
    assert(meanU < 0.6 * gu,
      s"mean user_id spread $meanU vs global $gu — no locality on dim 1")
    assert(meanV < 0.6 * gv,
      s"mean value spread $meanV vs global $gv — no locality on dim 2")
  }

  test("the gate query's rectangle intersects a minority of file boxes") {
    val maxU = fileBoxes.map(_._2).max
    val (lo, hi) = (maxU * 2 / 10, maxU * 4 / 10)
    val touched = fileBoxes.count(b =>
      b._1 <= hi && b._2 >= lo && b._3 <= 250.0 && b._4 >= 100.0)
    assert(touched < fileBoxes.size / 2,
      s"$touched of ${fileBoxes.size} file boxes intersect the rectangle " +
        "— footer stats would not skip anything")
  }

  test("equiDepthCode counts sorted boundaries <= x") {
    import spark.implicits._
    val got = Seq(5.0, 10.0, 25.0, 99.0).toDF("x")
      .select(ZOrder.equiDepthCode(col("x"),
        Array(10.0, 20.0, 30.0)).as("c"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(0L, 1L, 2L, 3L))
  }

  test("equi-depth keeps pruning where min-max collapses under skew") {
    import spark.implicits._
    // 95% of the mass sits in value-range [0, 1) while outliers reach
    // ~5e5: min-max codes the whole dense region to ~0, so every file
    // spans it and a dense-region value query prunes NOTHING; the
    // equi-depth codes spread the dense mass over most of the 256
    // buckets and the same query touches a minority of file boxes
    val rows = (0 until 10000).map { i =>
      val y = if (i % 20 == 0) (i + 1) * 1000.0 else (i % 997) / 1000.0
      (i.toLong, (i % 100).toLong, y)
    }.toDF("id", "x", "y")
    val base = tempDir("zskew")
    ZOrder.writeZOrdered(rows, "x", "y", s"$base/minmax", 16)
    ZOrder.writeZOrderedEquiDepth(rows, "x", "y", s"$base/eq", 16)
    def boxes(p: String): Seq[(Long, Long, Double, Double)] =
      spark.read.parquet(p).inputFiles.toSeq.map { f =>
        val r = spark.read.parquet(f)
          .agg(min("x"), max("x"), min("y"), max("y")).head()
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))
      }
    // a value-only query inside the dense region (span chosen within
    // one y-quadrant of the 16-file z-grid: a range crossing the
    // quadrant boundary legitimately touches both sides)
    def touched(bs: Seq[(Long, Long, Double, Double)]): Int =
      bs.count(b => b._3 <= 0.24 && b._4 >= 0.2)
    val mm = boxes(s"$base/minmax")
    val eq = boxes(s"$base/eq")
    assert(touched(mm) > mm.size * 3 / 4,
      s"skew fixture too weak: min-max already prunes " +
        s"(${touched(mm)}/${mm.size})")
    assert(touched(eq) < eq.size / 2,
      s"equi-depth must prune the dense-region query: " +
        s"${touched(eq)}/${eq.size} boxes intersect")
    // layout only: both tables hold identical rows
    assert(spark.read.parquet(s"$base/eq").collect().map(_.toSeq).sortBy(
        _.head.asInstanceOf[Long]).toSeq ==
      rows.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq)
  }

  test("gate query equals the same aggregate over the plain table") {
    val z = graft.SparkEntry.queries("zorder_prune")(spark, sf).collect()
    val ev = graft.Tables.events(spark, sf)
    val b = ev.agg(floor((max(col("user_id")) * 2) / 10.0).as("lo"),
      floor((max(col("user_id")) * 4) / 10.0).as("hi"))
    val plain = ev.crossJoin(broadcast(b))
      .filter(col("user_id").between(col("lo"), col("hi")) &&
        col("value").between(100.0, 250.0))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,6)"))
          .cast("string").cast("double").as("sum_value"),
        min("user_id").as("min_uid"), max("user_id").as("max_uid"))
      .collect()
    assert(z.toSeq == plain.toSeq)
  }
}
