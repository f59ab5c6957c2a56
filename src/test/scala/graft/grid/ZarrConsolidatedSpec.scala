package graft.grid

import graft.TempDirs
import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

/** Consolidated-metadata (`.zmetadata`) open path: one metadata read
  * instead of a listing walk, identical results to the unconsolidated
  * open, and the writer/retrofit that produces it.
  */
class ZarrConsolidatedSpec extends AnyFunSuite with TempDirs {

  private def tmp(): Path = tempDir("zarr_consol")

  private def freshTree(): String = {
    val root = tmp().resolve("store").toString
    ZarrGridStore.write(Fixtures.linearGrid, root,
      Map("t" -> 6, "lat" -> 5), "zlib")
    root
  }

  test("open on a consolidated tree costs exactly one metadata read") {
    val root = freshTree() // write() consolidates
    val conf = GridIO.driverConf()
    GridIO.Counters.reset()
    val store = ZarrGridStore.open(root)
    // 1 exists(.zmetadata); 3 extra reads are the eager coordinate
    // DATA chunks (t, lat, lon) + 1 the stats manifest (its per-var
    // fingerprints need no HEAD). No directory listing, no per-array
    // metadata round trips.
    assert(GridIO.Counters.existChecks.sum() == 1L)
    assert(GridIO.Counters.reads.sum() == 1L + 3L + 1L)
    assert(GridIO.Counters.lists.sum() == 0L)
    assert(store.schema.dimNames == Seq("t", "lat", "lon"))
    assert(store.schema.vars.map(_.name) == Seq("air"))
  }

  test("consolidated and listed opens produce identical stores") {
    val root = freshTree()
    val consolidated = ZarrGridStore.open(root)
    // strip .zmetadata -> the listing fallback path
    Files.delete(java.nio.file.Paths.get(root, ".zmetadata"))
    GridIO.Counters.reset()
    val listed = ZarrGridStore.open(root)
    assert(GridIO.Counters.lists.sum() >= 1L) // proves fallback ran
    // coords hold Arrays (reference equality) -> compare structurally
    def coordSeq(c: CoordArray): Seq[Any] = c match {
      case IntCoords(v) => v.toSeq
      case LongCoords(v) => v.toSeq
      case DoubleCoords(v) => v.toSeq
      case FloatCoords(v) => v.toSeq
      case TimeCoords(v) => v.toSeq
      case DurationCoords(v) => v.toSeq
      case StringCoords(v) => v.toSeq
    }
    assert(listed.schema.dimNames == consolidated.schema.dimNames)
    listed.schema.dims.zip(consolidated.schema.dims).foreach {
      case (l, c) =>
        assert(coordSeq(l.coords) == coordSeq(c.coords), l.name)
        assert(l.calendar == c.calendar && l.units == c.units &&
          l.attrs == c.attrs, l.name)
    }
    assert(listed.schema.vars == consolidated.schema.vars)
    assert(listed.schema.attrs == consolidated.schema.attrs)
    // NaN fill_value defeats case-class == (unboxed NaN != NaN)
    assert(listed.arrays.keySet == consolidated.arrays.keySet)
    listed.arrays.foreach { case (k, l) =>
      val c = consolidated.arrays(k)
      assert(l.copy(fillValue = 0) == c.copy(fillValue = 0), k)
      assert(l.fillValue.equals(c.fillValue), k)
    }
    val full = Seq((0, 24), (0, 12), (0, 10))
    assert(consolidated.readVar("air", full).asInstanceOf[Array[Double]]
      .sameElements(listed.readVar("air", full).asInstanceOf[Array[Double]]))
  }

  test("consolidate() retrofits a tree missing .zmetadata") {
    val root = freshTree()
    Files.delete(java.nio.file.Paths.get(root, ".zmetadata"))
    ZarrGridStore.consolidate(root)
    val json = Files.readString(java.nio.file.Paths.get(root, ".zmetadata"))
    assert(json.contains("\"zarr_consolidated_format\":1"))
    assert(json.contains("air/.zarray"))
    GridIO.Counters.reset()
    val store = ZarrGridStore.open(root)
    assert(GridIO.Counters.lists.sum() == 0L)
    val full = Seq((0, 24), (0, 12), (0, 10))
    assert(store.readVar("air", full).asInstanceOf[Array[Double]]
      .sameElements(Fixtures.linearGrid.readVar("air", full)
        .asInstanceOf[Array[Double]]))
  }

  test("malformed consolidated metadata raises clear errors") {
    val root = freshTree()
    val zm = java.nio.file.Paths.get(root, ".zmetadata")
    Files.writeString(zm, """{"zarr_consolidated_format":9,"metadata":{}}""")
    assert(intercept[IllegalArgumentException](ZarrGridStore.open(root))
      .getMessage.contains("zarr_consolidated_format"))
    // only nested (subgroup) arrays at the root: the error names the
    // subgroups and points at the group-opening surface
    Files.writeString(zm,
      """{"zarr_consolidated_format":1,
        |"metadata":{".zgroup":{"zarr_format":2},
        |"g/sub/.zarray":{"zarr_format":2}}}""".stripMargin)
    val e = intercept[IllegalArgumentException](ZarrGridStore.open(root))
    assert(e.getMessage.contains("subgroups (g)"), e.getMessage)
  }
}
