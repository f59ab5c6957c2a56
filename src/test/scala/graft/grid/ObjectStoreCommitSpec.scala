package graft.grid

import graft.{SparkTestBase, TempDirs}
import graft.grid.ZarrLayout.V3
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path => JPath}

/** The append commit protocol on OBJECT STORES. The rename+backup
  * protocol assumes rename is an atomic metadata op — true on
  * local/HDFS, false on S3A-style connectors where rename is an
  * emulated copy+delete (non-atomic, O(bytes), torn-able mid-copy).
  * There [[GridIO.commitStaged]] auto-switches to direct whole-object
  * PUTs, the store's own atomic primitive. These specs drive the real
  * append paths against [[MockS3FileSystem]] registered as the `s3a`
  * scheme, so the detection and the protocol under test are the
  * production code paths end to end.
  */
class ObjectStoreCommitSpec extends SparkTestBase with TempDirs {

  private def tmp(): JPath = tempDir("mock_s3")

  private def withMockS3[T](body: => T): T = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3a.impl", classOf[MockS3FileSystem].getName)
    MockS3FileSystem.reset()
    try body
    finally {
      MockS3FileSystem.reset()
      ZarrGridStore.appendTestHook = _ => ()
    }
  }

  private def schema(lo: Int, hi: Int) = GridSchema(
    Seq(DimDef("t", IntCoords((lo until hi).toArray))),
    Seq(VarDef("x", Seq("t"), GDouble)))

  private def rows(lo: Int, hi: Int) = {
    import spark.implicits._
    (lo until hi).map(t => (t, t * 2.0)).toDF("t", "x")
  }

  test("protocol selection: object-store schemes take the put path") {
    val conf = new Configuration(false)
    assert(GridIO.usePutCommit("s3a:/bucket/tree", conf))
    assert(GridIO.usePutCommit("gs:/bucket/tree", conf))
    assert(!GridIO.usePutCommit("/tmp/tree", conf))
    assert(!GridIO.usePutCommit("file:/tmp/tree", conf))
    assert(!GridIO.usePutCommit("hdfs:/nn/tree", conf))
    // explicit override beats detection, bad values fail loudly
    conf.set("graft.zarr.commit", "put")
    assert(GridIO.usePutCommit("/tmp/tree", conf))
    conf.set("graft.zarr.commit", "rename")
    assert(!GridIO.usePutCommit("s3a:/bucket/tree", conf))
    conf.set("graft.zarr.commit", "bogus")
    intercept[IllegalArgumentException](
      GridIO.usePutCommit("/tmp/tree", conf))
  }

  test("unaligned append on s3a: atomic PUT commit, ZERO renames") {
    withMockS3 {
      val dir = tmp()
      val root = "s3a:" + dir.toString + "/store"
      // old extent t 0..6 with chunk 4: the append is UNALIGNED (edge
      // chunk read-modify-write) — the hardest commit case
      ZarrGridStore.writeFromRows(rows(0, 7), schema(0, 7),
        Map("t" -> 4), root, "zstd:3")
      MockS3FileSystem.reset() // count the APPEND only
      val grown = ZarrGridStore.appendFromRows(rows(7, 10), root, "t")
      assert(MockS3FileSystem.renameCalls.get() == 0,
        "append used rename on an object store (copy+delete emulation)")
      assert(grown.schema.dim("t").size == 10)
      assert(grown.readVar("x", Seq((0, 10))).asInstanceOf[Array[Double]]
        .toSeq == (0 until 10).map(_ * 2.0))
      // byte identity with a one-shot write of the grown dataset, both
      // written through the mock (same guarantee the rename path pins)
      val root2 = "s3a:" + dir.toString + "/oneshot"
      ZarrGridStore.writeFromRows(rows(0, 10), schema(0, 10),
        Map("t" -> 4), root2, "zstd:3")
      val a = dir.resolve("store")
      val b = dir.resolve("oneshot")
      def filesOf(p: JPath): Map[String, Seq[Byte]] = {
        import scala.jdk.CollectionConverters._
        Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
          .map(f => p.relativize(f).toString ->
            Files.readAllBytes(f).toSeq).toMap
      }
      assert(filesOf(a) == filesOf(b), "append != one-shot bytes")
    }
  }

  test("a PUT dying mid-commit leaves no torn state; retry lands") {
    withMockS3 {
      val dir = tmp()
      val root = "s3a:" + dir.toString + "/store"
      ZarrGridStore.writeFromRows(rows(0, 7), schema(0, 7),
        Map("t" -> 4), root, "zstd:3")
      // kill the FIRST commit PUT (after staging completed): the mock
      // drops the upload and keeps the old object — S3 semantics
      ZarrGridStore.appendTestHook =
        _ => MockS3FileSystem.failNextPutClose.set(true)
      intercept[Exception] {
        ZarrGridStore.appendFromRows(rows(7, 10), root, "t")
      }
      ZarrGridStore.appendTestHook = _ => ()
      // the store still opens on the OLD extent with the OLD values —
      // nothing torn, nothing lost (only the stats sidecar may be gone,
      // which serves no stale bounds by design)
      val st = ZarrGridStore.open(root)
      assert(st.schema.dim("t").size == 7)
      assert(st.readVar("x", Seq((0, 7))).asInstanceOf[Array[Double]]
        .toSeq == (0 until 7).map(_ * 2.0))
      // the retried append sweeps the staging residue and lands exactly
      MockS3FileSystem.reset()
      val grown = ZarrGridStore.appendFromRows(rows(7, 10), root, "t")
      assert(MockS3FileSystem.renameCalls.get() == 0)
      assert(grown.schema.dim("t").size == 10)
      assert(grown.readVar("x", Seq((0, 10))).asInstanceOf[Array[Double]]
        .toSeq == (0 until 10).map(_ * 2.0))
      assert(grown.varBounds("x", Seq((8, 2))).contains((16.0, 18.0)),
        "stats missing after recovered append")
    }
  }

  test("v3 append on s3a also takes the put path") {
    withMockS3 {
      val dir = tmp()
      val root = "s3a:" + dir.toString + "/storev3"
      ZarrGridStore.writeFromRows(rows(0, 7), schema(0, 7), Map("t" -> 4),
        root, "zstd:3", V3())
      MockS3FileSystem.reset()
      // the tree's v3 layout is detected
      val grown = ZarrGridStore.appendFromRows(rows(7, 10), root, "t")
      assert(MockS3FileSystem.renameCalls.get() == 0)
      assert(grown.readVar("x", Seq((0, 10))).asInstanceOf[Array[Double]]
        .toSeq == (0 until 10).map(_ * 2.0))
    }
  }

  test("the mock's rename really is the hazard the protocol avoids") {
    // sanity of the fixture itself: a mid-copy crash through the mock's
    // rename leaves a TORN destination — the failure mode the put
    // protocol exists to rule out
    withMockS3 {
      val dir = tmp()
      val conf = spark.sparkContext.hadoopConfiguration
      val src = "s3a:" + dir.toString + "/big"
      GridIO.write(src, Array.fill[Byte](64 * 1024)(7), conf)
      MockS3FileSystem.failRenameAfterBytes.set(10000)
      val dst = "s3a:" + dir.toString + "/dst"
      intercept[java.io.IOException](GridIO.rename(src, dst, conf))
      MockS3FileSystem.failRenameAfterBytes.set(-1)
      val torn = Files.readAllBytes(dir.resolve("dst"))
      assert(torn.length < 64 * 1024 && torn.length > 0, torn.length)
    }
  }
}
