package graft.sources

import graft.{GridSurface, SparkTestBase, TempDirs}
import graft.grid.Fixtures
import org.apache.spark.sql.functions._

/** [[GridRelation]] sees the grid behind both read surfaces, so the
  * metadata rewrites open the same chunks through `format("zarr")` as
  * through a registered [[graft.XarrayContext]] DataFrame.
  */
class GridRelationSpec extends SparkTestBase with TempDirs {

  private lazy val session = SparkTestBase.withExtensions

  // linearGrid: t 0..23 in 4 chunks of 6, lat 12, lon 10
  private lazy val tree = GridSurface.tree(tempDir("surface"),
    Fixtures.linearGrid, Map("t" -> 6))

  test("metadata probe opens the same chunks on both surfaces") {
    val probe = Seq(
      "SELECT sum(air) FROM g" -> 0L,
      "SELECT avg(air) FROM g WHERE t BETWEEN 6 AND 17" -> 0L,
      "SELECT sum(air) FROM g WHERE t BETWEEN 3 AND 20" -> 2L,
      "SELECT DISTINCT lat FROM g" -> 0L)
    val answers = GridSurface.both.map { s =>
      s.read(session, tree, Seq("t", "lat", "lon"))
        .createOrReplaceTempView("g")
      probe.map { case (sql, opened) =>
        ReadCounters.reset()
        val rows = session.sql(sql).collect().map(_.toString).sorted.toSeq
        assert(ReadCounters.partitionsOpened.sum() == opened,
          s"[$s] $sql opened ${ReadCounters.partitionsOpened.sum()}")
        rows
      }
    }
    assert(answers.distinct.size == 1, s"surfaces disagree: $answers")
  }

  test("the matcher strips aliases, attribute projections and filters") {
    onBothSurfaces { s =>
      val df = s.read(session, tree, Seq("t", "lat", "lon"))
      val plan = df.alias("m").select("t", "air")
        .filter(col("t") > 3).filter(col("air") < 250.0)
        .queryExecution.analyzed
      val GridRelation(conds, rel, gt) = plan
      assert(conds.size == 2)
      assert(gt.store.schema.dimNames == Seq("t", "lat", "lon"))
      // a computed column stops the strip
      assert(GridRelation.unapply(df.select((col("air") * 2).as("air"))
        .queryExecution.analyzed).isEmpty)
      // a restricted grid (a rewrite's boundary scan) never matches, so
      // no rewrite fires twice
      assert(GridRelation.unapply(rel.copy(table =
        gt.restrictedTo(Seq(Seq((0, 6), (0, 12), (0, 10)))))).isEmpty)
    }
  }
}
