package graft.grid

import graft.TempDirs
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

/** Packed small-int dtypes (i1/i2/u1/u2/u4, both byte orders) and CF
  * mask_and_scale decoding — the storage convention most public climate
  * archives use for scaled variables (int16 + scale_factor/add_offset +
  * _FillValue), which the reference reads via xarray's decode_cf.
  */
class ZarrPackedSpec extends AnyFunSuite with TempDirs {

  private def tmp(): Path = tempDir("zarr_packed")

  private def put(root: Path, rel: String, content: String): Unit = {
    val p = root.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.write(p, content.getBytes(UTF_8))
  }

  private def putBytes(root: Path, rel: String, bytes: Array[Byte]): Unit = {
    val p = root.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.write(p, bytes)
  }

  private def v2Array(root: Path, name: String, dtype: String,
      shape: Int, chunks: Int, fill: String, attrs: String = "",
      dim: String = "x"): Unit = {
    put(root, s"$name/.zarray",
      s"""{"zarr_format":2,"shape":[$shape],"chunks":[$chunks],
         |"dtype":"$dtype","compressor":null,"fill_value":$fill,
         |"order":"C","filters":null}""".stripMargin)
    put(root, s"$name/.zattrs",
      s"""{"_ARRAY_DIMENSIONS":["$dim"]$attrs}""")
  }

  test("v2 <i2 with scale/offset/_FillValue: masked doubles, typed schema") {
    val root = tmp()
    put(root, ".zgroup", """{"zarr_format":2}""")
    v2Array(root, "v", "<i2", 6, 3, "-32767",
      ""","scale_factor":0.01,"add_offset":100.0,"_FillValue":-32767""")
    putBytes(root, "v/0", {
      val bb = java.nio.ByteBuffer.allocate(6)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putShort(100).putShort(200).putShort(-32767)
      bb.array()
    })
    // chunk 1 missing entirely -> stored fill -32767 -> masked NaN
    val store = ZarrGridStore.open(root.toString)
    val v = store.schema.vars.head
    assert(v.dtype == GDouble) // mask_and_scale surfaces as double
    assert(!v.attrs.contains("scale_factor") &&
      !v.attrs.contains("_FillValue")) // applied attrs stripped
    val got = store.readVar("v", Seq((0, 6))).asInstanceOf[Array[Double]]
    assert(got(0) == 101.0 && got(1) == 102.0)
    assert((2 until 6).forall(i => got(i).isNaN), got.toSeq)
  }

  test("float32 fill compares in the stored dtype domain") {
    // hand-authored metadata whose _FillValue decimal is NOT the exact
    // shortest repr of the widened float (a truncated 9.96921e+36 —
    // the netCDF float default fill's common spelling): masking must
    // cast the fill to float like xarray does, or fills escape and
    // scale into garbage
    val root = tmp()
    put(root, ".zgroup", """{"zarr_format":2}""")
    v2Array(root, "v", "<f4", 3, 3, "null",
      ""","scale_factor":2.0,"add_offset":1.0,"_FillValue":9.96921e+36""")
    putBytes(root, "v/0", {
      val bb = java.nio.ByteBuffer.allocate(12)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putFloat(3.0f).putFloat(9.96921e+36f).putFloat(5.0f)
      bb.array()
    })
    // the widened stored value differs from the attr's double parse
    assert(9.96921e+36f.toDouble != 9.96921e+36)
    val got = ZarrGridStore.open(root.toString)
      .readVar("v", Seq((0, 3))).asInstanceOf[Array[Double]]
    assert(got(0) == 7.0 && got(1).isNaN && got(2) == 11.0, got.toSeq)
  }

  test("scaled coordinate arrays decode like xarray; scaled time rejected") {
    val root = tmp()
    put(root, ".zgroup", """{"zarr_format":2}""")
    // coordinate array x stored packed i2 with scale/offset
    v2Array(root, "x", "<i2", 3, 3, "null",
      ""","scale_factor":0.5,"add_offset":10.0""")
    putBytes(root, "x/0", {
      val bb = java.nio.ByteBuffer.allocate(6)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putShort(0).putShort(1).putShort(2)
      bb.array()
    })
    v2Array(root, "v", "<f8", 3, 3, "null")
    putBytes(root, "v/0", {
      val bb = java.nio.ByteBuffer.allocate(24)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putDouble(1.0).putDouble(2.0).putDouble(3.0)
      bb.array()
    })
    val store = ZarrGridStore.open(root.toString)
    val x = store.schema.dim("x")
    assert(x.coords.asInstanceOf[DoubleCoords].values
      .sameElements(Array(10.0, 10.5, 11.0)))
    assert(!x.attrs.contains("scale_factor")) // applied attrs stripped
    // a scaled CF TIME coordinate is rejected loudly, never mis-decoded
    val root2 = tmp()
    put(root2, ".zgroup", """{"zarr_format":2}""")
    v2Array(root2, "t", "<i8", 2, 2, "null",
      ""","units":"days since 2000-01-01","scale_factor":2.0""",
      dim = "t")
    putBytes(root2, "t/0", new Array[Byte](16))
    v2Array(root2, "w", "<f8", 2, 2, "null", dim = "t")
    putBytes(root2, "w/0", new Array[Byte](16))
    val e = intercept[IllegalArgumentException](
      ZarrGridStore.open(root2.toString))
    assert(e.getMessage.contains("scaled"), e.getMessage)
  }

  test("v2 Fortran-order arrays decode via the stored-axis permutation") {
    // 2x3 chunk stored column-major: flat stored order walks the FIRST
    // axis fastest -> [ (0,0) (1,0) (0,1) (1,1) (0,2) (1,2) ]
    val root = tmp()
    put(root, ".zgroup", """{"zarr_format":2}""")
    put(root, "v/.zarray",
      """{"zarr_format":2,"shape":[2,3],"chunks":[2,3],"dtype":"<f8",
        |"compressor":null,"fill_value":null,"order":"F",
        |"filters":null}""".stripMargin)
    put(root, "v/.zattrs", """{"_ARRAY_DIMENSIONS":["x","y"]}""")
    putBytes(root, "v/0.0", {
      val bb = java.nio.ByteBuffer.allocate(48)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      // value law v(x, y) = 10x + y, written in F order
      Seq((0, 0), (1, 0), (0, 1), (1, 1), (0, 2), (1, 2))
        .foreach { case (x, y) => bb.putDouble(10.0 * x + y) }
      bb.array()
    })
    val store = ZarrGridStore.open(root.toString)
    val got = store.readVar("v", Seq((0, 2), (0, 3)))
      .asInstanceOf[Array[Double]]
    // logical C order: rows of y for each x
    assert(got.sameElements(Array(0.0, 1.0, 2.0, 10.0, 11.0, 12.0)),
      got.toSeq)
    // unaligned slice through the gather path
    val sl = store.readVar("v", Seq((1, 1), (1, 2)))
      .asInstanceOf[Array[Double]]
    assert(sl.sameElements(Array(11.0, 12.0)), sl.toSeq)
  }

  test("v2 object dtype (|O + vlen-utf8 filter): strings read and write") {
    // zarr-python 2's string-array layout: dtype |O, VLenUTF8 filter,
    // ordinary compressor after it. Hand-authored foreign tree with a
    // zlib-compressed present chunk and a MISSING chunk -> string fill
    val root = tmp()
    put(root, ".zgroup", """{"zarr_format":2}""")
    put(root, "q/.zarray",
      """{"zarr_format":2,"shape":[3],"chunks":[2],"dtype":"|O",
        |"compressor":{"id":"zlib","level":6},"fill_value":"?",
        |"order":"C","filters":[{"id":"vlen-utf8"}]}""".stripMargin)
    put(root, "q/.zattrs", """{"_ARRAY_DIMENSIONS":["x"]}""")
    putBytes(root, "q/0", {
      val plain = ZarrGridStore.encodeVlen(Array("ab", "cße"))
      val d = new java.util.zip.Deflater(6)
      d.setInput(plain); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](256)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end()
      out.toByteArray
    })
    val store = ZarrGridStore.open(root.toString)
    assert(store.schema.vars.map(v => (v.name, v.dtype)) ==
      Seq(("q", GString)))
    assert(store.readVar("q", Seq((0, 3))).asInstanceOf[Array[String]]
      .sameElements(Array("ab", "cße", "?")))
    // the v2 WRITER emits the same layout for string data variables
    val rt = ZarrGridStore.write(Fixtures.stationQualityGrid,
      tmp().resolve("rt").toString, Map("station" -> 4, "time" -> 5),
      "zstd:3")
    val za = java.nio.file.Files.readString(java.nio.file.Paths.get(
      rt.root, "quality", ".zarray"))
    assert(za.contains("\"|O\"") && za.contains("vlen-utf8"), za)
    val q = rt.readVar("quality", Seq((0, 8), (0, 10)))
      .asInstanceOf[Array[String]]
    val expect = Fixtures.stationQualityGrid
      .readVar("quality", Seq((0, 8), (0, 10))).asInstanceOf[Array[String]]
    assert(q.sameElements(expect))
    // unaligned slice through the gather path (padded edge chunks)
    val sl = rt.readVar("quality", Seq((3, 4), (7, 3)))
      .asInstanceOf[Array[String]]
    val expSl = Fixtures.stationQualityGrid
      .readVar("quality", Seq((3, 4), (7, 3))).asInstanceOf[Array[String]]
    assert(sl.sameElements(expSl))
    // a |O array WITHOUT the vlen filter is rejected loudly
    val bad = tmp()
    put(bad, ".zgroup", """{"zarr_format":2}""")
    put(bad, "b/.zarray",
      """{"zarr_format":2,"shape":[2],"chunks":[2],"dtype":"|O",
        |"compressor":null,"fill_value":null,"order":"C",
        |"filters":null}""".stripMargin)
    put(bad, "b/.zattrs", """{"_ARRAY_DIMENSIONS":["x"]}""")
    assert(intercept[IllegalArgumentException](
      ZarrGridStore.open(bad.toString))
      .getMessage.contains("vlen-utf8"))
  }

  test("unsigned and big-endian packed widths widen exactly") {
    val root = tmp()
    put(root, ".zgroup", """{"zarr_format":2}""")
    v2Array(root, "a", "|u1", 4, 4, "0", dim = "xa")
    putBytes(root, "a/0", Array[Byte](0, 127, -128, -1)) // 0 127 128 255
    v2Array(root, "b", ">i2", 2, 2, "0", dim = "xb")
    putBytes(root, "b/0", {
      val bb = java.nio.ByteBuffer.allocate(4)
        .order(java.nio.ByteOrder.BIG_ENDIAN)
      bb.putShort(-5).putShort(300)
      bb.array()
    })
    v2Array(root, "c", "<u2", 2, 2, "0", dim = "xc")
    putBytes(root, "c/0", {
      val bb = java.nio.ByteBuffer.allocate(4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putShort(-1).putShort(1) // 0xffff -> 65535
      bb.array()
    })
    v2Array(root, "d", "<u4", 2, 2, "0", dim = "xd")
    putBytes(root, "d/0", {
      val bb = java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(-1).putInt(7) // 0xffffffff -> 4294967295L
      bb.array()
    })
    val store = ZarrGridStore.open(root.toString)
    assert(store.readVar("a", Seq((0, 4))).asInstanceOf[Array[Int]]
      .sameElements(Array(0, 127, 128, 255)))
    assert(store.readVar("b", Seq((0, 2))).asInstanceOf[Array[Int]]
      .sameElements(Array(-5, 300)))
    assert(store.readVar("c", Seq((0, 2))).asInstanceOf[Array[Int]]
      .sameElements(Array(65535, 1)))
    assert(store.readVar("d", Seq((0, 2))).asInstanceOf[Array[Long]]
      .sameElements(Array(4294967295L, 7L)))
    // unscaled packed ints keep their integer schema type
    assert(store.schema.vars.find(_.name == "a").get.dtype == GInt)
    assert(store.schema.vars.find(_.name == "d").get.dtype == GLong)
  }

  test("v3 int16 + scale decodes the same way") {
    val root = tmp()
    put(root, "zarr.json",
      """{"zarr_format":3,"node_type":"group","attributes":{}}""")
    put(root, "v/zarr.json",
      """{"zarr_format":3,"node_type":"array","shape":[3],
        |"data_type":"int16",
        |"chunk_grid":{"name":"regular","configuration":{"chunk_shape":[3]}},
        |"fill_value":-9,
        |"codecs":[{"name":"bytes","configuration":{"endian":"little"}}],
        |"attributes":{"scale_factor":0.5,"add_offset":1.0,
        |              "_FillValue":-9},
        |"dimension_names":["x"]}""".stripMargin)
    putBytes(root, "v/c/0", {
      val bb = java.nio.ByteBuffer.allocate(6)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putShort(4).putShort(-9).putShort(-2)
      bb.array()
    })
    val store = ZarrGridStore.open(root.toString)
    assert(store.schema.vars.head.dtype == GDouble)
    val got = store.readVar("v", Seq((0, 3))).asInstanceOf[Array[Double]]
    assert(got(0) == 3.0 && got(1).isNaN && got(2) == 0.0, got.toSeq)
  }

  test("numcodecs delta filter: wrapping cumsum decode per dtype") {
    val root = tmp()
    put(root, ".zgroup", """{"zarr_format":2}""")
    // i2 with wrap-around: stored deltas reconstruct 32760, 32766,
    // -32765 (32766 + 5 wraps past Short.MaxValue)
    put(root, "v/.zarray",
      """{"zarr_format":2,"shape":[3],"chunks":[3],"dtype":"<i2",
        |"compressor":null,"fill_value":0,"order":"C",
        |"filters":[{"id":"delta","dtype":"<i2"}]}""".stripMargin)
    put(root, "v/.zattrs", """{"_ARRAY_DIMENSIONS":["xv"]}""")
    putBytes(root, "v/0", {
      val bb = java.nio.ByteBuffer.allocate(6)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putShort(32760).putShort(6).putShort(5)
      bb.array()
    })
    // f8 delta: plain IEEE cumsum
    put(root, "w/.zarray",
      """{"zarr_format":2,"shape":[4],"chunks":[4],"dtype":"<f8",
        |"compressor":null,"fill_value":null,"order":"C",
        |"filters":[{"id":"delta","dtype":"<f8"}]}""".stripMargin)
    put(root, "w/.zattrs", """{"_ARRAY_DIMENSIONS":["xw"]}""")
    putBytes(root, "w/0", {
      val bb = java.nio.ByteBuffer.allocate(32)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      Seq(1.5, 0.25, -2.0, 10.0).foreach(bb.putDouble)
      bb.array()
    })
    val store = ZarrGridStore.open(root.toString)
    assert(store.readVar("v", Seq((0, 3))).asInstanceOf[Array[Int]]
      .sameElements(Array(32760, 32766, -32765)))
    assert(store.readVar("w", Seq((0, 4))).asInstanceOf[Array[Double]]
      .sameElements(Array(1.5, 1.75, -0.25, 9.75)))
  }

  test("numcodecs shuffle filter and delta+shuffle composition") {
    val root = tmp()
    put(root, ".zgroup", """{"zarr_format":2}""")
    // shuffle-only over f8: byte lanes grouped, zlib-compressed
    val plain = {
      val bb = java.nio.ByteBuffer.allocate(24)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      Seq(3.25, -1.5, 1e300).foreach(bb.putDouble)
      bb.array()
    }
    val shuffled = new Array[Byte](24)
    Blosc.shuffleBytes(8, plain, 0, 24, shuffled)
    val zl = {
      val d = new java.util.zip.Deflater()
      d.setInput(shuffled); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](256)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end(); out.toByteArray
    }
    put(root, "s/.zarray",
      """{"zarr_format":2,"shape":[3],"chunks":[3],"dtype":"<f8",
        |"compressor":{"id":"zlib","level":1},"fill_value":null,
        |"order":"C","filters":[{"id":"shuffle","elementsize":8}]}"""
        .stripMargin)
    put(root, "s/.zattrs", """{"_ARRAY_DIMENSIONS":["xs"]}""")
    putBytes(root, "s/0", zl)
    // [delta, shuffle] composition on i4 (write order: delta then
    // shuffle; decode must unshuffle then cumsum)
    val values = Array(1000, 1010, 990, 1025)
    val deltas = Array(values(0), values(1) - values(0),
      values(2) - values(1), values(3) - values(2))
    val dBytes = {
      val bb = java.nio.ByteBuffer.allocate(16)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      deltas.foreach(bb.putInt)
      bb.array()
    }
    val dShuffled = new Array[Byte](16)
    Blosc.shuffleBytes(4, dBytes, 0, 16, dShuffled)
    put(root, "c/.zarray",
      """{"zarr_format":2,"shape":[4],"chunks":[4],"dtype":"<i4",
        |"compressor":null,"fill_value":0,"order":"C",
        |"filters":[{"id":"delta","dtype":"<i4"},
        |           {"id":"shuffle","elementsize":4}]}""".stripMargin)
    put(root, "c/.zattrs", """{"_ARRAY_DIMENSIONS":["xc"]}""")
    putBytes(root, "c/0", dShuffled)
    val store = ZarrGridStore.open(root.toString)
    assert(store.readVar("s", Seq((0, 3))).asInstanceOf[Array[Double]]
      .sameElements(Array(3.25, -1.5, 1e300)))
    assert(store.readVar("c", Seq((0, 4))).asInstanceOf[Array[Int]]
      .sameElements(values))
  }

  test("f2 half floats decode exactly, including specials") {
    val root = tmp()
    put(root, ".zgroup", """{"zarr_format":2}""")
    v2Array(root, "h", "<f2", 8, 8, "\"NaN\"")
    putBytes(root, "h/0", {
      val bb = java.nio.ByteBuffer.allocate(16)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      // 1.0, -2.5, 65504 (max), 2^-14 (min normal), smallest subnormal,
      // +inf, NaN, -0.0
      Seq(0x3c00, 0xc100, 0x7bff, 0x0400, 0x0001, 0x7c00, 0x7e01, 0x8000)
        .foreach(v => bb.putShort(v.toShort))
      bb.array()
    })
    val store = ZarrGridStore.open(root.toString)
    assert(store.schema.vars.head.dtype == GFloat)
    val got = store.readVar("h", Seq((0, 8))).asInstanceOf[Array[Float]]
    assert(got(0) == 1.0f && got(1) == -2.5f && got(2) == 65504.0f)
    assert(got(3) == 6.103515625e-5f && got(4) == 5.9604645e-8f)
    assert(got(5).isPosInfinity && got(6).isNaN)
    assert(got(7) == 0.0f &&
      java.lang.Float.floatToIntBits(got(7)) == 0x80000000)
  }

  test("floatToHalf round trips representative values") {
    val vals = Seq(0.0f, 1.0f, -2.5f, 65504.0f, 6.103515625e-5f,
      5.9604645e-8f, 0.1f, -1e-7f, Float.PositiveInfinity, 1e6f)
    vals.foreach { v =>
      val rt = ZarrGridStore.halfToFloat(ZarrGridStore.floatToHalf(v))
      if (v.isInfinite || math.abs(v) >= 65520.0f)
        assert(rt.isInfinite && (rt > 0) == (v > 0), v)
      else // round-to-nearest: within half an ulp of the half grid
        assert(math.abs(rt - v) <= math.max(math.abs(v) / 1024f,
          5.9604645e-8f / 2 + 1e-12f), s"$v -> $rt")
    }
    assert(ZarrGridStore.halfToFloat(
      ZarrGridStore.floatToHalf(Float.NaN)).isNaN)
  }

  test("fixed-width string coordinates: |S bytes and <U UTF-32 decode") {
    val root = tmp()
    put(root, ".zgroup", """{"zarr_format":2}""")
    // |S6 byte-string coord named after its own dim -> coordinate array
    put(root, "site/.zarray",
      """{"zarr_format":2,"shape":[3],"chunks":[3],"dtype":"|S6",
        |"compressor":null,"fill_value":null,"order":"C",
        |"filters":null}""".stripMargin)
    put(root, "site/.zattrs", """{"_ARRAY_DIMENSIONS":["site"]}""")
    putBytes(root, "site/0",
      "alpha bee   gamma "
        .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    // data var over the string dim
    put(root, "v/.zarray",
      """{"zarr_format":2,"shape":[3],"chunks":[3],"dtype":"<f8",
        |"compressor":null,"fill_value":null,"order":"C",
        |"filters":null}""".stripMargin)
    put(root, "v/.zattrs", """{"_ARRAY_DIMENSIONS":["site"]}""")
    putBytes(root, "v/0", {
      val bb = java.nio.ByteBuffer.allocate(24)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      Seq(1.0, 2.0, 3.0).foreach(bb.putDouble)
      bb.array()
    })
    val store = ZarrGridStore.open(root.toString)
    assert(store.schema.dim("site").coords.asInstanceOf[StringCoords]
      .values.toSeq == Seq("alpha", "bee", "gamma"))

    // <U4 UTF-32 coord incl. a non-BMP code point
    val root2 = tmp()
    put(root2, ".zgroup", """{"zarr_format":2}""")
    put(root2, "tag/.zarray",
      """{"zarr_format":2,"shape":[2],"chunks":[2],"dtype":"<U4",
        |"compressor":null,"fill_value":null,"order":"C",
        |"filters":null}""".stripMargin)
    put(root2, "tag/.zattrs", """{"_ARRAY_DIMENSIONS":["tag"]}""")
    putBytes(root2, "tag/0", {
      val bb = java.nio.ByteBuffer.allocate(32)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      Seq(0x61, 0x62, 0, 0).foreach(bb.putInt)       // "ab"
      Seq(0x1F600, 0x7A, 0, 0).foreach(bb.putInt)    // emoji + "z"
      bb.array()
    })
    put(root2, "w/.zarray",
      """{"zarr_format":2,"shape":[2],"chunks":[2],"dtype":"<f8",
        |"compressor":null,"fill_value":null,"order":"C",
        |"filters":null}""".stripMargin)
    put(root2, "w/.zattrs", """{"_ARRAY_DIMENSIONS":["tag"]}""")
    putBytes(root2, "w/0", new Array[Byte](16))
    val store2 = ZarrGridStore.open(root2.toString)
    assert(store2.schema.dim("tag").coords.asInstanceOf[StringCoords]
      .values.toSeq == Seq("ab", new String(Character.toChars(0x1F600)) + "z"))
  }

  test("string coordinates round trip through the zarr writer") {
    val root = tmp().resolve("st").toString
    val store = ZarrGridStore.write(Fixtures.stationGrid, root,
      Map("station" -> 4), "zlib")
    assert(store.schema.dim("station").coords.asInstanceOf[StringCoords]
      .values.toSeq == (0 until 8).map(i => s"st_$i"))
    // time axis still decodes through the CF bridge
    assert(store.schema.dim("time").coords.isInstanceOf[TimeCoords])
    val full = Seq((0, 8), (0, 10))
    assert(store.readVar("reading", full).asInstanceOf[Array[Double]]
      .sameElements(Fixtures.stationGrid.readVar("reading", full)
        .asInstanceOf[Array[Double]]))
  }

  test("numpy bool (|b1) mask variables widen to 0/1 ints") {
    val root = tmp()
    put(root, ".zgroup", """{"zarr_format":2}""")
    v2Array(root, "x", "<i4", 6, 6, "0")
    putBytes(root, "x/0", {
      val bb = java.nio.ByteBuffer.allocate(6 * 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (0 until 6).foreach(bb.putInt)
      bb.array()
    })
    v2Array(root, "mask", "|b1", 6, 3, "0")
    putBytes(root, "mask/0", Array[Byte](1, 0, 1))
    putBytes(root, "mask/1", Array[Byte](0, 1, 1))
    val store = ZarrGridStore.open(root.toString)
    assert(store.schema.vars.find(_.name == "mask").get.dtype == GInt)
    assert(store.readVar("mask", Seq((0, 6))).asInstanceOf[Array[Int]]
      .toSeq == Seq(1, 0, 1, 0, 1, 1))
  }

  test("unsupported dtypes still fail clearly") {
    val root = tmp()
    put(root, ".zgroup", """{"zarr_format":2}""")
    v2Array(root, "z", "<c16", 2, 2, "0") // complex128: no SQL mapping
    putBytes(root, "z/0", new Array[Byte](32))
    assert(intercept[IllegalArgumentException](
      ZarrGridStore.open(root.toString)).getMessage.contains("dtype"))
  }
}
