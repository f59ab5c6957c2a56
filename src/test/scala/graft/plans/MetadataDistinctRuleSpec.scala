package graft.plans

import graft.{GridSurface, SparkTestBase, TempDirs}
import graft.grid.Fixtures
import graft.sources.ReadCounters
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The injected optimizer rule answers DISTINCT-over-dims from the
  * store's coordinate arrays: a coordinate-spine query (nearest
  * tables, reindex targets, stack ordinals) becomes a LocalRelation —
  * no Exchange, no grid scan, zero partitions opened — while DISTINCT
  * under non-separable predicates or over data variables bails to the
  * normal scan.
  */
class MetadataDistinctRuleSpec extends SparkTestBase with TempDirs {

  private lazy val session: SparkSession = SparkTestBase.withExtensions

  // pruneGrid: 100 days x 5 lats (-90, -45, 0, 45, 90), 4 time chunks
  private lazy val pruneTree = GridSurface.tree(tempDir("surface"),
    Fixtures.pruneGrid, Map("time" -> 25))

  private def df(s: GridSurface): DataFrame =
    s.read(session, pruneTree, Seq("time", "lat"))

  private def scanless(q: DataFrame): Boolean =
    q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
    }.isEmpty

  test("DISTINCT dim is a LocalRelation: no scan, no Exchange, zero partitions") {
    onBothSurfaces { s =>
      ReadCounters.reset()
      val q = df(s).select("lat").distinct()
      assert(scanless(q),
        s"expected no scan:\n${q.queryExecution.optimizedPlan}")
      // the whole spine subtree is a LocalRelation: no Exchange either
      val exchanges = q.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }
      assert(exchanges.isEmpty,
        s"spine must not shuffle:\n${q.queryExecution.executedPlan}")
      val got = q.collect().map(_.getDouble(0)).sorted.toSeq
      assert(got == Seq(-90.0, -45.0, 0.0, 45.0, 90.0))
      assert(ReadCounters.partitionsOpened.sum() == 0L,
        s"opened ${ReadCounters.partitionsOpened.sum()}")
    }
  }

  test("two-dim DISTINCT is the coordinate cross product, still scanless") {
    onBothSurfaces { s =>
      ReadCounters.reset()
      val q = df(s).select("time", "lat").distinct()
      assert(scanless(q))
      // collect() keeps the rewritten plan (a count() would re-plan the
      // shape as count(DISTINCT ...) over the scan, which the rule
      // rightly leaves alone)
      val rows = q.collect().map(r => (r.getTimestamp(0), r.getDouble(1)))
      assert(rows.length == 500 && rows.distinct.length == 500)
      assert(rows.count(_._2 == 45.0) == 100)
      assert(ReadCounters.partitionsOpened.sum() == 0L)
    }
  }

  test("separable dim filter restricts the spine; emptying filter empties it") {
    onBothSurfaces { s =>
      ReadCounters.reset()
      val got = df(s).filter(col("lat") > 0.0).select("lat").distinct()
        .collect().map(_.getDouble(0)).sorted.toSeq
      assert(got == Seq(45.0, 90.0))
      // a filter on ANOTHER dim that empties the table empties the spine
      val none = df(s).filter(col("time") > to_timestamp(lit("2099-01-01")))
        .select("lat").distinct()
      assert(scanless(none) && none.count() == 0L)
      assert(ReadCounters.partitionsOpened.sum() == 0L)
    }
  }

  test("data-variable filter or projection bails to the scan, stays exact") {
    onBothSurfaces { s =>
      // predicate on a data variable: not metadata-answerable
      ReadCounters.reset()
      val got = df(s).filter(col("temperature") >= 800.0).select("lat")
        .distinct().collect().map(_.getDouble(0)).toSet
      assert(got.nonEmpty)
      assert(ReadCounters.partitionsOpened.sum() > 0L,
        "a data-variable predicate must scan")
      // DISTINCT over a data variable: never rewritten
      ReadCounters.reset()
      assert(df(s).select("temperature").distinct().count() > 0L)
      assert(ReadCounters.partitionsOpened.sum() > 0L)
    }
  }

  test("the selnearest spine shape plans without any grid scan") {
    onBothSurfaces { s =>
      import session.implicits._
      ReadCounters.reset()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q").orderBy("dist", "lat")
      val nearest = Seq(-50.0, 10.0).toDF("q")
        .crossJoin(df(s).select("lat").distinct())
        .select(col("q"), col("lat"), abs(col("lat") - col("q")).as("dist"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).select("q", "lat")
      assert(scanless(nearest),
        "spine subtree must not scan:\n" +
          nearest.queryExecution.optimizedPlan)
      val got = nearest.collect()
        .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
      assert(got == Map(-50.0 -> -45.0, 10.0 -> 0.0))
      assert(ReadCounters.partitionsOpened.sum() == 0L)
    }
  }

  test("repeated output column bails (the value repeats, the axis does not)") {
    onBothSurfaces { s =>
      val q = df(s).select(col("lat"), col("lat").as("lat"))
      val dd = q.distinct()
      // 5 rows, never 25: either the rule bailed (scan) or — if a future
      // change rewrites it — the cross product must not square
      assert(dd.count() == 5L)
    }
  }

  test("STRING-dim DISTINCT: UTF8String coords, filtered, scanless") {
    // stationGrid: 8 string stations x 10 timestamps
    val store = GridSurface.tree(tempDir("surface"), Fixtures.stationGrid,
      Map("time" -> 5))
    onBothSurfaces { s =>
      val sg = s.read(session, store, Seq("station", "time"))
      ReadCounters.reset()
      val q = sg.select("station").distinct()
      assert(scanless(q),
        s"expected no scan:\n${q.queryExecution.optimizedPlan}")
      val got = q.collect().map(_.getString(0)).sorted.toSeq
      assert(got == (0 until 8).map(i => s"st_$i"))
      // separable string predicate restricts the spine (UTF-8 binary
      // order, the Utf8Order contract)
      val f = sg.filter(col("station") >= "st_5").select("station")
        .distinct().collect().map(_.getString(0)).sorted.toSeq
      assert(f == Seq("st_5", "st_6", "st_7"))
      assert(ReadCounters.partitionsOpened.sum() == 0L,
        s"opened ${ReadCounters.partitionsOpened.sum()}")
    }
  }
}
