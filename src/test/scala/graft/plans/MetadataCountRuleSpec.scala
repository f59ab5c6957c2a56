package graft.plans

import graft.{GridSurface, SparkTestBase, TempDirs}
import graft.grid.{Fixtures, ZarrGridStore}
import graft.sources.ReadCounters
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The injected optimizer rule answers filtered COUNT(*) from chunk
  * metadata when every partition falls provably inside or outside the
  * predicate region, and bails to the normal pruned scan otherwise.
  */
class MetadataCountRuleSpec extends SparkTestBase with TempDirs {

  private lazy val session: SparkSession = SparkTestBase.withExtensions

  // pruneGrid: 100 days x 5 lats, 4 time chunks of 25 days; the second
  // tree carries no value stats
  private lazy val pruneTree = GridSurface.tree(tempDir("surface"),
    Fixtures.pruneGrid, Map("time" -> 25))
  private lazy val pruneTreeNoStats = GridSurface.tree(tempDir("surface"),
    Fixtures.pruneGrid, Map("time" -> 25), stats = false)

  private def df(s: GridSurface, store: ZarrGridStore = pruneTree) =
    s.read(session, store, Seq("time", "lat"))

  test("chunk-aligned filtered COUNT(*) opens zero partitions") {
    onBothSurfaces { s =>
      ReadCounters.reset()
      // >= day 75: last chunk fully included, first three fully excluded
      val n = df(s)
        .filter(col("time") >= to_timestamp(lit("2020-03-16 00:00:00")))
        .count()
      assert(n == 25L * 5)
      assert(ReadCounters.partitionsOpened.sum() == 0L,
        s"opened ${ReadCounters.partitionsOpened.sum()}")
      // BETWEEN spanning chunks 1..2 exactly (days 25..74)
      ReadCounters.reset()
      val m = df(s).filter(col("time").between(
        to_timestamp(lit("2020-01-26 00:00:00")),
        to_timestamp(lit("2020-03-15 00:00:00")))).count()
      assert(m == 50L * 5)
      assert(ReadCounters.partitionsOpened.sum() == 0L)
    }
  }

  test("cross-dim OR counts come from the rule; data-var filters scan") {
    onBothSurfaces { s =>
      val df = this.df(s, pruneTreeNoStats)
      // day 79 straddles the last chunk: the RULE bails, but the scan's
      // separable-exact filtered meta-aggregate still answers it — either
      // way the count is pure metadata now
      ReadCounters.reset()
      val n = df.filter(col("time") >= to_timestamp(lit("2020-03-20 00:00:00")))
        .count()
      assert(n == 21L * 5)
      assert(ReadCounters.partitionsOpened.sum() == 0L)
      // cross-dim OR is NOT separable (scan pushdown can't take it), but
      // the rule's includes/excludes containment still decides every
      // chunk: last chunk included via the time arm, rest excluded by both
      ReadCounters.reset()
      val m = df.filter(
        col("time") >= to_timestamp(lit("2020-03-16 00:00:00")) ||
          col("lat") > 1000.0).count()
      assert(m == 25L * 5)
      assert(ReadCounters.partitionsOpened.sum() == 0L)
      // predicate on a data variable of a tree without value stats can
      // never be metadata-answered
      ReadCounters.reset()
      val k = df.filter(col("temperature") >= 0.0).count()
      assert(k >= 0L)
      assert(ReadCounters.partitionsOpened.sum() == 4L)
    }
  }

  test("partial case: included chunks count from metadata, boundary scans") {
    onBothSurfaces { s =>
      // non-separable OR with an unaligned time cutoff (day 40): chunk 0
      // excluded, chunk 1 straddles, chunks 2+3 fully included -> the rule
      // emits included_total + COUNT over ONLY the straddling chunk
      ReadCounters.reset()
      val n = df(s).filter(
        col("time") >= to_timestamp(lit("2020-02-10 00:00:00")) ||
          col("lat") > 1000.0).count()
      assert(n == 60L * 5) // days 40..99
      assert(ReadCounters.partitionsOpened.sum() == 1L,
        s"opened ${ReadCounters.partitionsOpened.sum()}")
    }
  }

  test("variable-predicate counts answer from per-chunk stats") {
    onBothSurfaces { s =>
      // temperature = t*10 + lat_idx; chunk [min,max]: [0,244] [250,494]
      // [500,744] [750,994]. >= 500: chunks 2+3 fully included, 0+1
      // excluded -> pure metadata, zero chunk files opened
      ReadCounters.reset()
      assert(df(s).filter(col("temperature") >= 500.0).count() == 250L)
      assert(ReadCounters.partitionsOpened.sum() == 0L,
        s"opened ${ReadCounters.partitionsOpened.sum()}")
      // >= 800 straddles chunk 3 with nothing fully included: the count
      // falls back to a scan, but var zone maps still prune chunks 0-2
      ReadCounters.reset()
      assert(df(s).filter(col("temperature") >= 800.0).count() == 100L)
      assert(ReadCounters.partitionsOpened.sum() == 1L)
    }
  }

  test("STRING-variable-predicate counts answer from per-chunk stats") {
    // grade constant per time chunk ("g0".."g3"): equality and range
    // predicates fully classify every chunk, so the COUNT is pure
    // metadata — the includes() dual works for StrBounds too
    val store = GridSurface.tree(tempDir("surface"), Fixtures.gradeGrid,
      Map("time" -> 25))
    onBothSurfaces { s =>
      val df = this.df(s, store)
      ReadCounters.reset()
      assert(df.filter(col("grade") === "g1").count() == 125L)
      assert(ReadCounters.partitionsOpened.sum() == 0L,
        s"opened ${ReadCounters.partitionsOpened.sum()}")
      ReadCounters.reset()
      assert(df.filter(col("grade") >= "g2").count() == 250L)
      assert(ReadCounters.partitionsOpened.sum() == 0L)
      ReadCounters.reset()
      assert(df.filter(col("grade").startsWith("g")).count() == 500L)
      assert(ReadCounters.partitionsOpened.sum() == 0L)
    }
  }
}
