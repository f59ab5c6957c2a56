package graft.plans

import graft.{GridSurface, SparkTestBase, TempDirs}
import graft.grid._
import graft.sources.ReadCounters
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The injected optimizer rule answers global SUM(var) from per-chunk
  * value sums — zero chunk files opened when every chunk is provably
  * inside/outside the predicate region, boundary chunks alone scanned
  * otherwise, NaN chunks always scanned so IEEE semantics survive.
  */
class MetadataSumRuleSpec extends SparkTestBase with TempDirs {

  private lazy val session: SparkSession = SparkTestBase.withExtensions

  // linearGrid written as a Zarr tree: t 0..23 (4 chunks of 6), lat 12,
  // lon 10; air = 200 + t + 2*iLat + 3*jLon (exact integer-valued doubles)
  private lazy val diskStore: ZarrGridStore =
    GridSurface.tree(tempDir("surface"), Fixtures.linearGrid, Map("t" -> 6))

  private def airSum(ts: Range): Double =
    (for (t <- ts; i <- 0 until 12; j <- 0 until 10)
      yield 200.0 + t + 2 * i + 3 * j).sum

  private def df(s: GridSurface, store: ZarrGridStore = diskStore) =
    s.read(session, store, Seq("t", "lat", "lon"))

  test("chunk-aligned filtered SUM opens zero partitions") {
    onBothSurfaces { s =>
      ReadCounters.reset()
      val got = df(s).filter(col("t").between(6, 17))
        .agg(sum("air")).collect()(0).getDouble(0)
      assert(got == airSum(6 until 18))
      assert(ReadCounters.partitionsOpened.sum() == 0L,
        s"opened ${ReadCounters.partitionsOpened.sum()}")
    }
  }

  test("unfiltered SUM is pure metadata") {
    onBothSurfaces { s =>
      ReadCounters.reset()
      val got = df(s).agg(sum("air")).collect()(0).getDouble(0)
      assert(got == airSum(0 until 24))
      assert(ReadCounters.partitionsOpened.sum() == 0L)
    }
  }

  test("straddling SUM scans only the boundary chunks") {
    onBothSurfaces { s =>
      // t in [3, 20]: chunks 1,2 fully included (metadata), 0 and 3
      // straddle -> exactly 2 of 4 partitions opened
      ReadCounters.reset()
      val got = df(s).filter(col("t").between(3, 20))
        .agg(sum("air")).collect()(0).getDouble(0)
      assert(got == airSum(3 until 21))
      assert(ReadCounters.partitionsOpened.sum() == 2L,
        s"opened ${ReadCounters.partitionsOpened.sum()}")
    }
  }

  test("filter excluding every chunk yields NULL, not 0") {
    onBothSurfaces { s =>
      val row = df(s).filter(col("t") > 1000).agg(sum("air")).collect()(0)
      assert(row.isNullAt(0))
    }
  }

  test("NaN chunks carry no metadata sum and reach the scan") {
    // linearGrid law but NaN throughout the last t-chunk (t >= 18)
    val nanLaw = new GridFun {
      def apply(idx: Array[Int]): Double =
        if (idx(0) >= 18) Double.NaN
        else 200.0 + idx(0) + 2.0 * idx(1) + 3.0 * idx(2)
    }
    val g = Fixtures.linearGrid
    val src = SyntheticGridStore(g.schema, Map("air" -> nanLaw))
    val store = GridSurface.tree(tempDir("surface"), src, Map("t" -> 6))
    assert(store.sums.size == 3) // chunk 3 refused (non-finite)
    onBothSurfaces { s =>
      val ndf = df(s, store)
      // unfiltered: 3 chunks from metadata + the NaN chunk scanned
      ReadCounters.reset()
      val got = ndf.agg(sum("air")).collect()(0).getDouble(0)
      assert(got.isNaN)
      assert(ReadCounters.partitionsOpened.sum() == 1L,
        s"opened ${ReadCounters.partitionsOpened.sum()}")
      // excluding the NaN chunk: pure metadata again
      ReadCounters.reset()
      val fin = ndf.filter(col("t") < 18).agg(sum("air")).collect()(0)
        .getDouble(0)
      assert(fin == airSum(0 until 18))
      assert(ReadCounters.partitionsOpened.sum() == 0L)
    }
  }

  test("AVG: metadata sums over metadata row counts") {
    onBothSurfaces { s =>
      // unfiltered AVG: pure metadata, one final double division
      ReadCounters.reset()
      val a = df(s).agg(org.apache.spark.sql.functions.avg("air"))
        .collect()(0).getDouble(0)
      assert(a == airSum(0 until 24) / (24 * 12 * 10))
      assert(ReadCounters.partitionsOpened.sum() == 0L)
      // straddling AVG: boundary (sum, count) partials + metadata partials
      // combined by one division — only the 2 boundary chunks open
      ReadCounters.reset()
      val b = df(s).filter(col("t").between(3, 20))
        .agg(org.apache.spark.sql.functions.avg("air"))
        .collect()(0).getDouble(0)
      assert(b == airSum(3 until 21) / (18 * 12 * 10))
      assert(ReadCounters.partitionsOpened.sum() == 2L,
        s"opened ${ReadCounters.partitionsOpened.sum()}")
      // AVG over an all-excluded range is NULL
      assert(df(s).filter(col("t") > 1000)
        .agg(org.apache.spark.sql.functions.avg("air")).collect()(0)
        .isNullAt(0))
    }
  }

  test("data-variable predicates answer from var stats") {
    onBothSurfaces { s =>
      // SUM under a var predicate: per-chunk VALUE stats decide inclusion
      // — air >= 203 fully includes t-chunks 1..3 (their min is 206) and
      // straddles only chunk 0, so one partition opens
      ReadCounters.reset()
      val got = df(s).filter(col("air") >= 203.0).agg(sum("air"))
        .collect()(0).getDouble(0)
      val expected = (for (t <- 0 until 24; i <- 0 until 12; j <- 0 until 10;
        v = 200.0 + t + 2 * i + 3 * j; if v >= 203.0) yield v).sum
      assert(got == expected)
      assert(ReadCounters.partitionsOpened.sum() == 1L,
        s"opened ${ReadCounters.partitionsOpened.sum()}")
    }
  }

  test("STRING-variable predicate: SUM of a numeric var is pure metadata") {
    // grade constant per chunk fully classifies every chunk, so
    // SUM(reading) WHERE grade = 'g1' folds the included chunk's
    // recorded sum — zero partitions opened, exact integer value
    val store = GridSurface.tree(tempDir("surface"), Fixtures.gradeGrid,
      Map("time" -> 25))
    onBothSurfaces { s =>
      val gdf = s.read(session, store, Seq("time", "lat"))
      ReadCounters.reset()
      val got = gdf.filter(col("grade") === "g1").agg(sum("reading"))
        .collect()(0).getDouble(0)
      val expected = (for (t <- 25 until 50; i <- 0 until 5)
        yield t + 10.0 * i).sum
      assert(got == expected)
      assert(ReadCounters.partitionsOpened.sum() == 0L,
        s"opened ${ReadCounters.partitionsOpened.sum()}")
    }
  }
}
