package graft.grid

import graft.{SparkTestBase, TempDirs}
import graft.grid.ZarrLayout.V3
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}

/** Hierarchical (nested-group) zarr trees: each subgroup is a full
  * zarr root of its own, openable by path or via the read surface's
  * `group` option (xarray's `open_zarr(group=...)`); opening the ROOT
  * of a grouped tree serves the root-level dataset when one exists and
  * otherwise fails with the subgroup names instead of a blind
  * "nested groups unsupported".
  */
class ZarrNestedGroupSpec extends SparkTestBase with TempDirs {

  private def tmp(): Path = tempDir("zarr_nested")

  private def subDf(base: Double) = {
    import spark.implicits._
    (0 until 6).map(t => (t, base + t)).toDF("t", "x")
  }

  private def subSchema = GridSchema(
    Seq(DimDef("t", IntCoords((0 until 6).toArray))),
    Seq(VarDef("x", Seq("t"), GDouble)))

  test("v2: subgroups open by path and via the group option") {
    val root = tmp().resolve("h2").toString
    val conf = GridIO.driverConf()
    ZarrGridStore.writeFromRows(subDf(100.0), subSchema, Map("t" -> 3),
      s"$root/obs", "zstd:3")
    ZarrGridStore.writeFromRows(subDf(200.0), subSchema, Map("t" -> 3),
      s"$root/fcst", "zstd:3")
    GridIO.writeString(s"$root/.zgroup", """{"zarr_format":2}""", conf)
    // root-level consolidated metadata with NESTED keys, as zarr-python
    // consolidates a hierarchical tree
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val top = mapper.createObjectNode()
    top.put("zarr_consolidated_format", 1)
    val meta = top.putObject("metadata")
    meta.putObject(".zgroup").put("zarr_format", 2)
    for (g <- Seq("obs", "fcst"); a <- Seq("t", "x");
        f <- Seq(".zarray", ".zattrs")) {
      val p = s"$root/$g/$a/$f"
      if (GridIO.exists(p, conf))
        meta.set[com.fasterxml.jackson.databind.JsonNode](s"$g/$a/$f",
          ZarrGridStore.parseJson(GridIO.readAllBytes(p, conf)))
    }
    GridIO.writeString(s"$root/.zmetadata",
      mapper.writeValueAsString(top), conf)

    // opening the grouped root names the subgroups
    val e = intercept[IllegalArgumentException](ZarrGridStore.open(root))
    assert(e.getMessage.contains("fcst, obs"), e.getMessage)
    // subgroup by path
    val obs = ZarrGridStore.open(s"$root/obs")
    assert(obs.readVar("x", Seq((0, 6))).asInstanceOf[Array[Double]]
      .sameElements(Array.tabulate(6)(100.0 + _)))
    // and through the plain-Spark surface with the group option
    val back = spark.read.format("zarr").option("group", "fcst").load(root)
    assert(back.count() == 6)
    assert(back.agg(sum("x")).collect().head.getDouble(0) ==
      (0 until 6).map(200.0 + _).sum)
  }

  test("v3: grouped root errors helpfully; group option opens the subgroup") {
    val root = tmp().resolve("h3").toString
    val conf = GridIO.driverConf()
    ZarrGridStore.writeFromRows(subDf(300.0), subSchema, Map("t" -> 3),
      s"$root/obs", "zstd:3", V3())
    // root group node whose inline consolidated metadata holds only
    // NESTED array entries
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val top = mapper.createObjectNode()
    top.put("zarr_format", 3)
    top.put("node_type", "group")
    top.putObject("attributes")
    val cons = top.putObject("consolidated_metadata")
    cons.put("kind", "inline")
    cons.put("must_understand", false)
    val meta = cons.putObject("metadata")
    for (a <- Seq("t", "x"))
      meta.set[com.fasterxml.jackson.databind.JsonNode](s"obs/$a",
        ZarrGridStore.parseJson(
          GridIO.readAllBytes(s"$root/obs/$a/zarr.json", conf)))
    GridIO.writeString(s"$root/zarr.json",
      mapper.writeValueAsString(top), conf)

    val e = intercept[IllegalArgumentException](ZarrGridStore.open(root))
    assert(e.getMessage.contains("obs"), e.getMessage)
    val back = spark.read.format("zarr").option("group", "obs").load(root)
    assert(back.agg(sum("x")).collect().head.getDouble(0) ==
      (0 until 6).map(300.0 + _).sum)
  }

  test("fromZarrTree registers every dataset of a hierarchy") {
    val root = tmp().resolve("reg").toString
    val conf = GridIO.driverConf()
    // root-level dataset + two subgroups, one of them nested two deep
    ZarrGridStore.writeFromRows(subDf(1.0), subSchema, Map("t" -> 3),
      root, "zstd:3")
    ZarrGridStore.writeFromRows(subDf(10.0), subSchema, Map("t" -> 3),
      s"$root/a", "zstd:3")
    ZarrGridStore.writeFromRows(subDf(20.0), subSchema, Map("t" -> 3),
      s"$root/b/c", "zstd:3", V3())
    GridIO.writeString(s"$root/b/.zgroup", """{"zarr_format":2}""", conf)
    val views = new graft.XarrayContext(spark).fromZarrTree("reg9", root)
    assert(views.toSet == Set("reg9", "reg9_a", "reg9_b_c"), views)
    val got = spark.sql(
      """SELECT (SELECT SUM(x) FROM reg9) AS s0,
        |(SELECT SUM(x) FROM reg9_a) AS sa,
        |(SELECT SUM(x) FROM reg9_b_c) AS sc""".stripMargin)
      .collect().head
    assert(got.getDouble(0) == (0 until 6).map(1.0 + _).sum)
    assert(got.getDouble(1) == (0 until 6).map(10.0 + _).sum)
    assert(got.getDouble(2) == (0 until 6).map(20.0 + _).sum)
  }

  test("group writes create ancestor group metadata") {
    val root = tmp().resolve("w").toString
    subDf(40.0).write.format("zarr")
      .option("dims", "t").option("chunks", "t=3")
      .option("group", "x/y").mode("overwrite").save(root)
    // ancestors got minimal v2 group metadata, so the root opens far
    // enough to enumerate its subgroups
    assert(Files.exists(java.nio.file.Paths.get(root, ".zgroup")))
    assert(Files.exists(java.nio.file.Paths.get(root, "x", ".zgroup")))
    val e = intercept[IllegalArgumentException](ZarrGridStore.open(root))
    assert(e.getMessage.contains("subgroups (x)"), e.getMessage)
    // and the leaf reads back through the group option
    val back = spark.read.format("zarr").option("group", "x/y").load(root)
    assert(back.agg(sum("x")).collect().head.getDouble(0) ==
      (0 until 6).map(40.0 + _).sum)
    // v3 leaf: ancestors get v3 group nodes
    val root3 = tmp().resolve("w3").toString
    subDf(50.0).write.format("zarr")
      .option("dims", "t").option("format", "v3")
      .option("group", "g1").mode("overwrite").save(root3)
    assert(Files.exists(java.nio.file.Paths.get(root3, "zarr.json")))
    val e3 = intercept[IllegalArgumentException](ZarrGridStore.open(root3))
    assert(e3.getMessage.contains("subgroups (g1)"), e3.getMessage)
  }

  test("v2: a root-level dataset coexisting with subgroups still serves") {
    val root = tmp().resolve("mix").toString
    val conf = GridIO.driverConf()
    ZarrGridStore.writeFromRows(subDf(5.0), subSchema, Map("t" -> 3),
      root, "zstd:3") // root-level dataset (consolidates itself)
    ZarrGridStore.writeFromRows(subDf(700.0), subSchema, Map("t" -> 3),
      s"$root/aux", "zstd:3") // subgroup beside it
    // re-consolidate the root INCLUDING the nested keys
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = ZarrGridStore.parseJson(
      GridIO.readAllBytes(s"$root/.zmetadata", conf))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val meta = node.path("metadata")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    for (a <- Seq("t", "x"); f <- Seq(".zarray", ".zattrs")) {
      val p = s"$root/aux/$a/$f"
      if (GridIO.exists(p, conf))
        meta.set[com.fasterxml.jackson.databind.JsonNode](s"aux/$a/$f",
          ZarrGridStore.parseJson(GridIO.readAllBytes(p, conf)))
    }
    GridIO.writeString(s"$root/.zmetadata",
      mapper.writeValueAsString(node), conf)
    // the root dataset is served (nested keys ignored, xarray-style)
    val store = ZarrGridStore.open(root)
    assert(store.schema.vars.map(_.name) == Seq("x"))
    assert(store.readVar("x", Seq((0, 6))).asInstanceOf[Array[Double]]
      .sameElements(Array.tabulate(6)(5.0 + _)))
    // and the subgroup remains independently openable
    assert(ZarrGridStore.open(s"$root/aux")
      .readVar("x", Seq((0, 6))).asInstanceOf[Array[Double]]
      .sameElements(Array.tabulate(6)(700.0 + _)))
  }
}
