package graft.grid

import graft.{SparkTestBase, TempDirs}
import graft.grid.ZarrLayout.V3
import graft.XarrayContext
import graft.sources.ReadCounters
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}

/** Per-chunk VALUE stats on ZARR trees (`.graft-stats.json` sidecar):
  * recorded by every writer path, merged by append, served through the
  * same `varBounds`/`varSums` contract as the binary store — so
  * data-variable zone maps and metadata SUM/AVG now work on the
  * reference's PRIMARY format, not just the engine's own binary one.
  */
class ZarrVarStatsSpec extends SparkTestBase with TempDirs {

  private def tmp(): Path = tempDir("zarr_vstats")

  test("v2 + v3 writes record stats; scan prunes on a var predicate") {
    for ((root, store) <- Seq(
      { val r = tmp().resolve("v2").toString
        (r, ZarrGridStore.write(Fixtures.pruneGrid, r,
          Map("time" -> 25), "zlib")) },
      { val r = tmp().resolve("v3").toString
        (r, ZarrGridStore.write(Fixtures.pruneGrid, r,
          Map("time" -> 25), "zstd:3", V3())) })) {
      assert(Files.exists(Paths.get(root, ".graft-stats.json")), root)
      // temperature = t*10 + lat_idx -> chunk maxima 244 / ... / 994
      assert(store.varBounds("temperature", Seq((0, 25), (0, 5)))
        .contains((0.0, 244.0)), root)
      assert(store.varBounds("temperature", Seq((75, 25), (0, 5)))
        .contains((750.0, 994.0)), root)
      // unaligned block -> no stats (sound: unknown)
      assert(store.varBounds("temperature",
        Seq((10, 25), (0, 5))).isEmpty, root)
      val df = new XarrayContext(spark).dataFrame(s"zvs@$root", store,
        Map("time" -> 25), Seq("time", "lat"))
      ReadCounters.reset()
      assert(df.filter(col("temperature") >= 750.0)
        .collect().length == 125, root)
      assert(ReadCounters.partitionsOpened.sum() == 1L, root)
    }
  }

  test("STRING variable stats: recorded, round-tripped, pruning scans") {
    // grade is constant per 25-step time chunk ("g0".."g3") — exact
    // (gk, gk) bounds per chunk, so string predicates prune in UTF-8
    // binary order through the same sidecar zone maps numerics use
    val store0 = Fixtures.gradeGrid
    for ((root, store) <- Seq(
      { val r = tmp().resolve("v2s").toString
        (r, ZarrGridStore.write(store0, r, Map("time" -> 25), "zlib")) },
      { val r = tmp().resolve("v3s").toString
        (r, ZarrGridStore.write(store0, r, Map("time" -> 25), "zstd:3",
          V3())) })) {
      assert(store.varBounds("grade", Seq((0, 25), (0, 5)))
        .contains(("g0", "g0")), root)
      assert(store.varBounds("grade", Seq((75, 25), (0, 5)))
        .contains(("g3", "g3")), root)
      val df = new XarrayContext(spark).dataFrame(s"zvss@$root", store,
        Map("time" -> 25), Seq("time", "lat"))
      ReadCounters.reset()
      assert(df.filter(col("grade") === "g2").collect().length == 125, root)
      assert(ReadCounters.partitionsOpened.sum() == 1L, root)
      ReadCounters.reset()
      assert(df.filter(col("grade") >= "g2").collect().length == 250, root)
      assert(ReadCounters.partitionsOpened.sum() == 2L, root)
      // prefix region with no matching chunk opens nothing
      ReadCounters.reset()
      assert(df.filter(col("grade").startsWith("h")).count() == 0L, root)
      assert(ReadCounters.partitionsOpened.sum() == 0L, root)
      // (the metadata-COUNT form of the string predicate is pinned in
      // MetadataCountRuleSpec — the rewrite is an injected optimizer
      // rule the shared test session does not carry)
    }
  }

  test("metadata SUM/AVG answered from the sidecar (zero var reads)") {
    val root = tmp().resolve("sum").toString
    val store = ZarrGridStore.write(Fixtures.pruneGrid, root,
      Map("time" -> 25), "zlib")
    assert(store.varSums("temperature", Seq((0, 25), (0, 5))).nonEmpty)
    // the SUM rewrite is an injected optimizer rule — needs a session
    // built with GraftExtensions (the shared test session has none)
    val df = new XarrayContext(SparkTestBase.withExtensions).dataFrame(
      s"zvsum@$root", store, Map("time" -> 25), Seq("time", "lat"))
    ReadCounters.reset()
    val s = df.agg(sum("temperature")).collect().head.getDouble(0)
    val expect = (for (t <- 0 until 100; i <- 0 until 5)
      yield t * 10.0 + i).sum
    assert(s == expect)
    assert(ReadCounters.varReadCount("temperature") == 0L)
    assert(ReadCounters.partitionsOpened.sum() == 0L)
  }

  test("row-scatter writes record stats; append merges the edge entry") {
    import spark.implicits._
    val df = (0 until 10).map(t => (t, t * 2.0)).toDF("t", "x")
    val root = tmp().resolve("ap").toString
    val s7 = GridSchema(
      Seq(DimDef("t", IntCoords((0 until 7).toArray))),
      Seq(VarDef("x", Seq("t"), GDouble)))
    val first = ZarrGridStore.writeFromRows(df.filter(col("t") < 7), s7,
      Map("t" -> 4), root, "zstd:3")
    // edge chunk 1 holds t=4..6 before the append
    assert(first.varBounds("x", Seq((4, 3))).contains((8.0, 12.0)))
    val grown = ZarrGridStore.appendFromRows(
      df.filter(col("t") >= 7), root, "t")
    // merged edge chunk t=4..7, new chunk t=8..9 — stats recomputed
    assert(grown.varBounds("x", Seq((4, 4))).contains((8.0, 14.0)))
    assert(grown.varBounds("x", Seq((8, 2))).contains((16.0, 18.0)))
    // untouched chunk keeps its entry
    assert(grown.varBounds("x", Seq((0, 4))).contains((0.0, 6.0)))
  }

  test("append that voids a merged edge chunk's stats DROPS the entry") {
    // time variable: the slab writes a NULL (NaT) into the row that
    // merges into the existing edge chunk — the merged chunk has no
    // valid bounds, and the PRE-append entry must not survive (stale
    // [o4,o6] bounds would prune `obs IS NULL` away from this chunk)
    val root = tmp().resolve("void").toString
    def obsDf(lo: Int, hi: Int, natAt: Int) =
      spark.range(lo, hi).toDF("t")
        .select(col("t").cast("int").as("t"),
          when(col("t") === natAt, lit(null))
            .otherwise(timestamp_seconds(lit(1609459200L) + col("t")))
            .as("obs"))
    val s7 = GridSchema(
      Seq(DimDef("t", IntCoords((0 until 7).toArray))),
      Seq(VarDef("obs", Seq("t"), GTimestamp)))
    val first = ZarrGridStore.writeFromRows(obsDf(0, 7, -1), s7,
      Map("t" -> 4), root, "zstd:3")
    assert(first.varBounds("obs", Seq((4, 3))).nonEmpty) // edge has stats
    val grown = ZarrGridStore.appendFromRows(obsDf(7, 10, 7),
      root, "t") // t=7 is NaT and lands in the merged edge chunk 1
    assert(grown.varBounds("obs", Seq((4, 4))).isEmpty,
      "stale pre-append bounds survived a NaT-voided edge merge")
    // the NULL row is actually served (would vanish under stale bounds)
    val df = new XarrayContext(spark).dataFrame(s"void@$root", grown,
      grown.chunkMap, Seq("t"))
    assert(df.filter(col("obs").isNull).select("t").collect()
      .map(_.getInt(0)).toSeq == Seq(7))
  }

  test("format v2: manifest + per-var files, loaded lazily per var") {
    val root = tmp().resolve("lazy").toString
    // two data variables -> two per-var stats files
    val store2 = ZarrGridStore.write(Fixtures.twoVarGrid, root,
      Map("time" -> 5), "zlib")
    val manifest = new String(Files.readAllBytes(
      Paths.get(root, ".graft-stats.json")))
    assert(manifest.contains("\"version\":2"), manifest)
    val vnames = store2.schema.vars.map(_.name)
    vnames.foreach(v => assert(
      Files.exists(Paths.get(root, v, ".graft-stats.json")), v))
    // a FRESH open reads the manifest only; each variable's file loads
    // on first touch and memoizes — the 100 TB property: stats I/O is
    // O(touched vars), not O(tree)
    val reopened = ZarrGridStore.open(root)
    val Seq(va, vb) = vnames.take(2)
    GridIO.Counters.reset()
    assert(reopened.varBounds(va, Seq((0, 5), (0, 5))).nonEmpty)
    assert(GridIO.Counters.reads.sum() == 1L, "first touch = one read")
    assert(reopened.varBounds(va, Seq((5, 5), (0, 5))).nonEmpty)
    assert(GridIO.Counters.reads.sum() == 1L, "memoized, no re-read")
    assert(reopened.varBounds(vb, Seq((0, 5), (0, 5))).nonEmpty)
    assert(GridIO.Counters.reads.sum() == 2L, "second var = one more")
  }

  test("corrupt or future-versioned sidecars degrade to no stats") {
    val conf = GridIO.driverConf()
    def freshTree(name: String): String = {
      val root = tmp().resolve(name).toString
      ZarrGridStore.write(Fixtures.pruneGrid, root, Map("time" -> 25),
        "zlib")
      root
    }
    // garbage manifest: open succeeds, no bounds
    val r1 = freshTree("garbage")
    Files.write(Paths.get(r1, ".graft-stats.json"),
      "not json{{{".getBytes("UTF-8"))
    val s1 = ZarrGridStore.open(r1)
    assert(s1.varBounds("temperature", Seq((0, 25), (0, 5))).isEmpty)
    assert(s1.readVar("temperature", Seq((0, 1), (0, 1))) != null)
    // future version, the old single-file v1 body, an fp-less v2
    // manifest: each opens, and no bounds are served
    for (body <- Seq("""{"version":99,"opaque":true}""",
      """{"version":1,"vars":{"temperature":{"kind":"double",
        |"stats":{"0.0":[0.0,244.0]},"sums":{"0.0":1.0}}}}""".stripMargin,
      """{"version":2,"vars":["temperature"]}""")) {
      val r2 = freshTree("old")
      Files.write(Paths.get(r2, ".graft-stats.json"), body.getBytes("UTF-8"))
      val s2 = ZarrGridStore.open(r2)
      assert(s2.varBounds("temperature", Seq((0, 25), (0, 5))).isEmpty, body)
      assert(s2.varSums("temperature", Seq((0, 25), (0, 5))).isEmpty, body)
    }
    // valid manifest, corrupt PER-VAR file: open succeeds, that var
    // serves no bounds (and the read is attempted once, not fatal)
    val r3 = freshTree("varcorrupt")
    Files.write(Paths.get(r3, "temperature", ".graft-stats.json"),
      "}{".getBytes("UTF-8"))
    val s3 = ZarrGridStore.open(r3)
    assert(s3.varBounds("temperature", Seq((0, 25), (0, 5))).isEmpty)
  }

  test("append rewrites ONLY the growing variable's stats file") {
    import spark.implicits._
    val root = tmp().resolve("apv2").toString
    // x spans the growing axis t; y spans only s (untouched by append)
    val s7 = GridSchema(
      Seq(DimDef("t", IntCoords((0 until 7).toArray)),
        DimDef("s", IntCoords((0 until 3).toArray))),
      Seq(VarDef("x", Seq("t"), GDouble), VarDef("y", Seq("s"), GDouble)))
    ZarrGridStore.write(
      SyntheticGridStore(s7, Map(
        "x" -> Fixtures.AffineLaw(0.0, Seq(2.0)),
        "y" -> Fixtures.AffineLaw(0.0, Seq(5.0)))),
      root, Map("t" -> 4), "zlib")
    val yStats = Paths.get(root, "y", ".graft-stats.json")
    val xStats = Paths.get(root, "x", ".graft-stats.json")
    val yBefore = Files.readAllBytes(yStats)
    val yMtime = Files.getLastModifiedTime(yStats)
    val xBefore = Files.readAllBytes(xStats)
    val slabDf = (7 until 10).map(t => (t, t * 2.0)).toDF("t", "x")
    val grown = ZarrGridStore.appendFromRows(slabDf, root, "t")
    // y's file: byte-identical AND not rewritten (mtime unchanged) —
    // the append was O(slab vars), not O(tree vars)
    assert(Files.readAllBytes(yStats).sameElements(yBefore))
    assert(Files.getLastModifiedTime(yStats) == yMtime,
      "untouched variable's stats file was rewritten by append")
    // x's file: updated (merged edge chunk + new chunk)
    assert(!Files.readAllBytes(xStats).sameElements(xBefore))
    assert(grown.varBounds("x", Seq((8, 2))).contains((16.0, 18.0)))
    assert(grown.varBounds("y", Seq((0, 3))).contains((0.0, 10.0)))
    // manifest still lists both
    val manifest = new String(Files.readAllBytes(
      Paths.get(root, ".graft-stats.json")))
    assert(manifest.contains("\"x\"") && manifest.contains("\"y\""),
      manifest)
  }

  test("pre-append handle never serves post-append stats (fp guard)") {
    import spark.implicits._
    val root = tmp().resolve("stale").toString
    val s7 = GridSchema(
      Seq(DimDef("t", IntCoords((0 until 7).toArray)),
        DimDef("s", IntCoords((0 until 3).toArray))),
      Seq(VarDef("x", Seq("t"), GDouble), VarDef("y", Seq("s"), GDouble)))
    ZarrGridStore.write(
      SyntheticGridStore(s7, Map(
        "x" -> Fixtures.AffineLaw(0.0, Seq(2.0)),
        "y" -> Fixtures.AffineLaw(0.0, Seq(5.0)))),
      root, Map("t" -> 4), "zlib")
    // handle opened BEFORE the append; its lazy stats must belong to
    // the pre-append extent forever. The content-fingerprint guard
    // compares the very bytes served, so no filesystem timing (an
    // append within the same mtime tick) can fool it.
    val before = ZarrGridStore.open(root)
    ZarrGridStore.appendFromRows(
      (7 until 10).map(t => (t, t * 2.0)).toDF("t", "x"), root, "t")
    GridIO.Counters.reset()
    // x's stats file changed under the handle: degrade, loudly not
    // wrongly — a merged edge-chunk SUM would overcount its extent
    assert(before.varBounds("x", Seq((4, 3))).isEmpty,
      "pre-append handle served post-append stats")
    // ...and the guard is content-based: no statusOf HEAD happened
    assert(GridIO.Counters.existChecks.sum() == 0, "fp guard made a HEAD")
    // untouched y keeps serving — only the changed variable degrades
    assert(before.varBounds("y", Seq((0, 3))).contains((0.0, 10.0)))
    // a FRESH open serves the merged stats (chunk 1 now spans t=4..7)
    assert(ZarrGridStore.open(root).varBounds("x", Seq((4, 4)))
      .contains((8.0, 14.0)))
  }

  test("sharded per-var stats (v3) serve a zarr tree end-to-end") {
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.setInt(StatsSource.ShardEntriesKey, 2)
    val root = tmp().resolve("sharded").toString
    try {
      // 8 chunks along t -> 8 stats entries for x, forced into 4
      // leading-index range shards
      val s16 = GridSchema(
        Seq(DimDef("t", IntCoords((0 until 16).toArray))),
        Seq(VarDef("x", Seq("t"), GDouble)))
      ZarrGridStore.write(
        SyntheticGridStore(s16,
          Map("x" -> Fixtures.AffineLaw(0.0, Seq(3.0)))),
        root, Map("t" -> 2), "zlib")
      val varFile = new String(Files.readAllBytes(
        Paths.get(root, "x", ".graft-stats.json")))
      assert(varFile.contains("\"version\":3"), varFile)
      assert(Files.list(Paths.get(root, "x")).filter { p =>
        val n = p.getFileName.toString
        n.startsWith(".graft-stats.") && n != ".graft-stats.json"
      }.count() == 4L)
      val store = ZarrGridStore.open(root)
      assert(store.varBounds("x", Seq((14, 2))).contains((42.0, 45.0)))
      assert(store.varBounds("x", Seq((0, 2))).contains((0.0, 3.0)))
      // append merges through the sharded format too — and pays only
      // the TOUCHED suffix: packing is a pure function of the entry
      // set, so prefix shards repack byte-identically and their
      // rewrite is skipped (mtime pin below)
      import spark.implicits._
      import scala.jdk.CollectionConverters._
      def shardMtimes: Map[String, java.nio.file.attribute.FileTime] = {
        val l = Files.list(Paths.get(root, "x"))
        try l.iterator().asScala.filter { p =>
          val n = p.getFileName.toString
          n.startsWith(".graft-stats.") && n != ".graft-stats.json"
        }.map(p => p.getFileName.toString ->
          Files.getLastModifiedTime(p)).toMap
        finally l.close()
      }
      val before = shardMtimes
      val grown = ZarrGridStore.appendFromRows(
        (16 until 18).map(t => (t, t * 3.0)).toDF("t", "x"),
        root, "t")
      assert(grown.varBounds("x", Seq((16, 2))).contains((48.0, 51.0)))
      assert(grown.varBounds("x", Seq((0, 2))).contains((0.0, 3.0)))
      val after = shardMtimes
      assert(after.size == before.size + 1, "expected one new shard")
      before.foreach { case (f, t) =>
        assert(after(f) == t, s"prefix shard $f rewritten by append")
      }
    } finally hconf.unset(StatsSource.ShardEntriesKey)
  }

  test("foreign trees (no sidecar) serve no bounds") {
    val root = tmp().resolve("foreign").toString
    Fixtures.writeM8Tree(root)
    val store = ZarrGridStore.open(root)
    assert(store.varBounds("temp", Seq((0, 6))).isEmpty)
  }

  test("SHARDED arrays record per-INNER-chunk stats on the global grid") {
    // air = 200 + t + 2*i + 3*j over t 0..23, lat 12, lon 10;
    // shards of 6 t-steps, inner chunks of 2 -> the scan plans (and
    // the sidecar keys) 12 inner chunks along t
    val shRoot = tmp().resolve("sh").toString
    val sh = ZarrGridStore.write(Fixtures.linearGrid, shRoot,
      Map("t" -> 6), "zstd:3", V3(Map("t" -> 2)))
    // inner chunk t=22..23 (global inner index 11): min at (22,0,0),
    // max at (23,11,9)
    assert(sh.varBounds("air", Seq((22, 2), (0, 12), (0, 10)))
      .contains((222.0, 200.0 + 23 + 22 + 27)))
    // inner-grid-unaligned block -> None
    assert(sh.varBounds("air", Seq((21, 2), (0, 12), (0, 10))).isEmpty)
    // a var predicate prunes to the inner chunks whose bounds survive
    val df = new XarrayContext(spark).dataFrame(s"shvs@$shRoot", sh,
      sh.chunkMap, Seq("t", "lat", "lon"))
    ReadCounters.reset()
    // air >= 272 -> only rows with t+2i+3j >= 72; max(2i+3j)=49, so
    // t-inner-chunks with 23+49 < 72 ... bounds max = 200+t_max+49
    // -> chunks with t_max >= 23 survive: only the last inner chunk
    assert(df.filter(col("air") >= 272.0).collect()
      .forall(_.getDouble(3) >= 272.0))
    assert(ReadCounters.partitionsOpened.sum() == 1L)
    // row-scatter sharded writes record the same inner entries
    val rsRoot = tmp().resolve("rs").toString
    import spark.implicits._
    val rdf = (0 until 12).map(t => (t, t * 2.0)).toDF("t", "x")
    val rs = ZarrGridStore.writeFromRows(rdf,
      GridSchema(Seq(DimDef("t", IntCoords((0 until 12).toArray))),
        Seq(VarDef("x", Seq("t"), GDouble))),
      Map("t" -> 6), rsRoot, "zstd:3", V3(Map("t" -> 2)))
    assert(rs.varBounds("x", Seq((10, 2))).contains((20.0, 22.0)))
  }
}
