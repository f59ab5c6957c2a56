package graft.grid

import graft.TempDirs
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Pure-JVM Blosc1 codec: round trips across inner codecs, the split
  * container layout zarr-python's defaults actually produce (hand-encoded
  * here byte by byte, independent of [[Blosc.compress]]), memcpy mode,
  * the byte-shuffle filter, and the end-to-end ZarrGridStore blosc
  * write/open path.
  */
class BloscSpec extends AnyFunSuite with TempDirs {

  private def doubles(n: Int): Array[Byte] = {
    val bb = ByteBuffer.allocate(n * 8).order(ByteOrder.LITTLE_ENDIAN)
    (0 until n).foreach(i => bb.putDouble(i * 0.5 - 3.0))
    bb.array()
  }

  test("compress/decompress round trips: codecs x shuffle x sizes") {
    val sizes = Seq(0, 1, 7, 8, 64, 1000) // empty, sub-element, leftover
    for {
      codec <- Seq("lz4", "lz4hc", "zstd", "zlib", "snappy", "blosclz")
      mode <- Seq(Blosc.ShuffleNone, Blosc.ShuffleByte, Blosc.ShuffleBit)
      n <- sizes
    } {
      val data = doubles(n)
      val enc = Blosc.compressMode(data, typesize = 8, codec = codec,
        shuffleMode = mode, blocksize = 128) // force multi-block at n>=17
      val dec = Blosc.decompress(enc, data.length)
      assert(dec.sameElements(data), s"$codec mode=$mode n=$n")
    }
  }

  test("incompressible input falls back to valid memcpy mode") {
    val rnd = new scala.util.Random(42)
    val data = new Array[Byte](4096)
    rnd.nextBytes(data)
    val enc = Blosc.compress(data, typesize = 8)
    assert(enc.length == 16 + data.length) // memcpy container
    assert((enc(2) & 0x02) != 0)           // memcpy flag
    assert(Blosc.decompress(enc, data.length).sameElements(data))
  }

  test("byte shuffle groups lanes and inverts exactly") {
    val src = Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9) // 2 els of 4 + 1 left
    val sh = new Array[Byte](9)
    Blosc.shuffleBytes(4, src, 0, 9, sh)
    assert(sh.sameElements(Array[Byte](1, 5, 2, 6, 3, 7, 4, 8, 9)))
    val back = new Array[Byte](9)
    Blosc.unshuffle(4, sh, 9, back, 0)
    assert(back.sameElements(src))
  }

  test("hand-encoded split container (numcodecs default layout) decodes") {
    // One full block, typesize 8, shuffle on, NO dont-split flag: the
    // layout c-blosc emits for its lz4 default. 64 doubles = 512 bytes,
    // blocksize 512 -> 8 splits of 64 bytes, each [int32 csize][payload].
    val n = 64
    val data = doubles(n)
    val shuffled = new Array[Byte](512)
    Blosc.shuffleBytes(8, data, 0, 512, shuffled)
    val lz4 = net.jpountz.lz4.LZ4Factory.fastestInstance().fastCompressor()
    val splits = (0 until 8).map { k =>
      val lane = java.util.Arrays.copyOfRange(shuffled, k * 64, (k + 1) * 64)
      val buf = new Array[Byte](lz4.maxCompressedLength(64))
      val c = lz4.compress(lane, 0, 64, buf, 0, buf.length)
      // csize == neblock marks a stored split; exercise both paths
      if (c < 64) java.util.Arrays.copyOf(buf, c) else lane
    }
    val body = splits.map(s => 4 + s.length).sum
    val total = 16 + 4 + body // header + one bstart + split streams
    val bb = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(2.toByte).put(1.toByte)
      .put(((1 << 5) | 0x01).toByte) // codec lz4, byte-shuffle, SPLIT
      .put(8.toByte)
      .putInt(512).putInt(512).putInt(total)
    bb.putInt(20) // bstart: right after the offsets array
    splits.foreach { s => bb.putInt(s.length); bb.put(s) }
    val dec = Blosc.decompress(bb.array(), 512)
    assert(dec.sameElements(data))
    // sanity: at least one split actually compressed (monotone ramp)
    assert(splits.exists(_.length < 64))
  }

  test("hand-encoded memcpy container decodes") {
    val data = doubles(5)
    val bb = ByteBuffer.allocate(16 + 40).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(2.toByte).put(1.toByte).put(((1 << 5) | 0x02).toByte).put(8.toByte)
    bb.putInt(40).putInt(40).putInt(56)
    bb.put(data)
    assert(Blosc.decompress(bb.array(), 40).sameElements(data))
  }

  test("clear rejections: bad sizes, offsets inside the offset table") {
    val ok = Blosc.compress(doubles(8), 8)
    val e3 = intercept[IllegalArgumentException](Blosc.decompress(ok, 63))
    assert(e3.getMessage.contains("expected 63"))
    // claiming BOTH shuffle filters is corruption, not a config
    val both = ok.clone(); both(2) = (both(2) | 0x04 | 0x01).toByte
    val e4 = intercept[IllegalArgumentException](Blosc.decompress(both, 64))
    assert(e4.getMessage.contains("both"))
    // a block offset pointing INSIDE the offset table must fail loudly
    // instead of decoding the table itself as payload
    val data = doubles(64)
    val enc = Blosc.compress(data, 8, blocksize = 128) // multi-block
    assert((enc(2) & 0x02) == 0, "fixture must not be memcpy mode")
    val bb = ByteBuffer.wrap(enc).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(16, 17) // block 0 offset -> inside the table
    val e5 = intercept[IllegalArgumentException](
      Blosc.decompress(enc, data.length))
    assert(e5.getMessage.contains("out of range"), e5.getMessage)
  }

  test("hand-encoded blosclz token stream decodes (format pin)") {
    // literal run + near match: "abcd" literally, then len-8 dist-4
    // match -> "abcdabcdabcd"
    val s1 = Array[Byte](3, 'a', 'b', 'c', 'd', (6 << 5).toByte, 3)
    val d1 = new Array[Byte](12)
    BloscLz.decompress(s1, 0, s1.length, d1, 0, 12)
    assert(new String(d1, "ASCII") == "abcdabcdabcd")
    // RLE overlap: one 'x', then len-19 dist-1 match (extended length:
    // field 7, one extension byte 19-9=10) -> 20 x's
    val s2 = Array[Byte](0, 'x', (7 << 5).toByte, 10, 0)
    val d2 = new Array[Byte](20)
    BloscLz.decompress(s2, 0, s2.length, d2, 0, 20)
    assert(d2.forall(_ == 'x'))
    // far distance: 8200 literal bytes, then a len-3 match at distance
    // 8192 (the 13-bit field maxed to 8191 + low byte 255 switches to
    // the far form; extra 16-bit offset 0) copying bytes [8, 11)
    val lits = Array.tabulate(8200)(i => (i % 251).toByte)
    val out3 = new java.io.ByteArrayOutputStream()
    var a = 0
    while (a < lits.length) {
      val run = math.min(32, lits.length - a)
      out3.write(run - 1); out3.write(lits, a, run)
      a += run
    }
    out3.write((1 << 5) | 31); out3.write(255); out3.write(0); out3.write(0)
    val s3 = out3.toByteArray
    val d3 = new Array[Byte](8203)
    BloscLz.decompress(s3, 0, s3.length, d3, 0, 8203)
    assert(java.util.Arrays.equals(d3, 0, 8200, lits, 0, 8200))
    assert(d3(8200) == lits(8) && d3(8201) == lits(9) && d3(8202) == lits(10))
    // truncation fails loudly
    intercept[IllegalArgumentException](
      BloscLz.decompress(s1, 0, s1.length - 1, new Array[Byte](12), 0, 12))
  }

  test("hand-encoded bit-shuffle image inverts (format pin)") {
    // 8 elements of 1 byte: bit b of the output row b gathers bit b of
    // every element, element j at bit position j (LSB first both ways)
    val src = Array.tabulate[Byte](8)(i => (1 << i).toByte) // identity bits
    val sh = new Array[Byte](8)
    Blosc.bitShuffle(1, src, 0, 8, sh)
    // element j contributes only bit j -> row b has exactly bit b set
    assert(sh.sameElements(Array.tabulate[Byte](8)(b => (1 << b).toByte)))
    val back = new Array[Byte](8)
    Blosc.bitUnshuffle(1, sh, 8, back, 0)
    assert(back.sameElements(src))
    // typesize 2, 8 elements + 3 leftover bytes copied raw
    val src2 = Array.tabulate[Byte](19)(i => (i * 37 + 11).toByte)
    val sh2 = new Array[Byte](19)
    Blosc.bitShuffle(2, src2, 0, 19, sh2)
    assert(java.util.Arrays.equals(sh2, 16, 19, src2, 16, 19)) // leftovers
    val back2 = new Array[Byte](19)
    Blosc.bitUnshuffle(2, sh2, 19, back2, 0)
    assert(back2.sameElements(src2))
  }

  test("blosclz property round trip over structured + random buffers") {
    val rnd = new scala.util.Random(7)
    val cases = Seq.newBuilder[Array[Byte]]
    cases += Array.emptyByteArray
    cases += Array.fill[Byte](10000)(42) // pure RLE
    cases += doubles(3000)               // shuffled-numeric-like ramp
    cases += Array.tabulate[Byte](20000)(i => (i % 7).toByte)
    for (n <- Seq(1, 2, 3, 255, 256, 8191, 8192, 8193, 70000)) {
      val b = new Array[Byte](n); rnd.nextBytes(b); cases += b
      // compressible long-range repeats straddling the far boundary
      cases += Array.tabulate[Byte](n)(i => ((i / 97) % 13).toByte)
    }
    cases.result().foreach { data =>
      val enc = BloscLz.compress(data, 0, data.length)
      val dec = new Array[Byte](data.length)
      if (data.length > 0) BloscLz.decompress(enc, 0, enc.length, dec, 0,
        data.length)
      assert(dec.sameElements(data), s"n=${data.length}")
    }
  }

  test("ZarrGridStore writes and reopens a blosc tree") {
    val root = tempDir("zarr_blosc")
    val path = root.resolve("store").toString
    val store = ZarrGridStore.write(Fixtures.linearGrid, path,
      Map("t" -> 6, "lat" -> 5), "blosc")
    // .zarray carries the numcodecs-compatible compressor spelling
    val za = Files.readString(
      java.nio.file.Paths.get(path, "air", ".zarray"))
    assert(za.contains("\"id\":\"blosc\"") && za.contains("\"cname\":\"lz4\"")
      && za.contains("\"shuffle\":1"))
    val full = Seq((0, 24), (0, 12), (0, 10))
    assert(store.readVar("air", full).asInstanceOf[Array[Double]]
      .sameElements(Fixtures.linearGrid.readVar("air", full)
        .asInstanceOf[Array[Double]]))
    // ragged edge chunk (padded stored shape) decodes through blosc too
    val edge = Seq((20, 4), (10, 2), (0, 10))
    assert(store.readVar("air", edge).asInstanceOf[Array[Double]]
      .sameElements(Fixtures.linearGrid.readVar("air", edge)
        .asInstanceOf[Array[Double]]))
  }
}
