package graft.sources

import graft.{SparkTestBase, TempDirs}
import graft.grid.{Fixtures, GridIO, ZarrGridStore, ZarrLayout}
import graft.grid.TreeBytes.assertTreesEqual
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.nio.file.Path

/** The plain-Spark WRITE surface: `df.write.format("zarr")` — output
  * byte-identical to the `writeFromRows` API path, overwrite/append
  * mode semantics, coordinate inference, and clear errors.
  */
class ZarrWriteFormatSpec extends SparkTestBase with TempDirs {

  private def tmp(): Path = tempDir("zarr_wfmt")

  private def gridDf = new graft.XarrayContext(spark).dataFrame(
    "wfmt_grid", Fixtures.linearGrid, Map("t" -> 6), Seq("t", "lat", "lon"))

  test("df.write.format(\"zarr\") output is byte-identical to writeFromRows") {
    val apiRoot = tmp().resolve("api").toString
    val fmtRoot = tmp().resolve("fmt").toString
    val df = gridDf
    // the API path, with the SAME schema the format path infers
    val schema = ZarrWrite.inferGridSchema(df, Seq("t", "lat", "lon"))
    ZarrGridStore.writeFromRows(df, schema,
      Map("t" -> 6, "lat" -> 5), apiRoot, "zstd:3")
    df.write.format("zarr")
      .option("dims", "t,lat,lon")
      .option("chunks", "t=6,lat=5")
      .option("compressor", "zstd:3")
      .mode("overwrite").save(fmtRoot)
    assertTreesEqual(apiRoot, fmtRoot)
    // read-back: every cell of the original pivot survives
    val back = spark.read.format("zarr").load(fmtRoot)
    assert(back.count() == 24L * 12 * 10)
    val r = back.filter(col("t") >= 12).agg(sum("air")).collect().head
    val expect = (for (t <- 12 until 24; i <- 0 until 12; j <- 0 until 10)
      yield 200.0 + t + 2.0 * i + 3.0 * j).sum
    assert(r.getDouble(0) == expect)
  }

  test("overwrite replaces; append grows along appendDim") {
    val root = tmp().resolve("grow").toString
    val df = gridDf
    def slab(t0: Int, t1: Int) = df.filter(col("t") >= t0 && col("t") < t1)
    slab(0, 12).write.format("zarr")
      .option("dims", "t,lat,lon").option("chunks", "t=6,lat=5")
      .mode("append").save(root) // append to nothing = create
    assert(spark.read.format("zarr").load(root).count() == 12L * 12 * 10)
    slab(12, 24).write.format("zarr")
      .option("dims", "t,lat,lon").option("appendDim", "t")
      .mode("append").save(root)
    val back = spark.read.format("zarr").load(root)
    assert(back.count() == 24L * 12 * 10)
    // the appended tree equals a one-shot write, file by file
    val oneShot = tmp().resolve("oneshot").toString
    df.write.format("zarr")
      .option("dims", "t,lat,lon").option("chunks", "t=6,lat=5")
      .mode("overwrite").save(oneShot)
    assertTreesEqual(oneShot, root)
    // a straddling filter scans seamlessly across the append boundary
    val r = back.filter(col("t").between(8, 15))
      .agg(count(lit(1)), sum("air")).collect().head
    assert(r.getLong(0) == 8L * 12 * 10)
  }

  test("format v3 with shards writes sharding_indexed from rows") {
    val apiRoot = tmp().resolve("v3api").toString
    val fmtRoot = tmp().resolve("v3fmt").toString
    val df = gridDf
    val schema = ZarrWrite.inferGridSchema(df, Seq("t", "lat", "lon"))
    ZarrGridStore.writeFromRows(df, schema,
      Map("t" -> 6, "lat" -> 5), apiRoot, "zstd:3",
      ZarrLayout.V3(Map("t" -> 2)))
    df.write.format("zarr")
      .option("dims", "t,lat,lon")
      .option("chunks", "t=6,lat=5")
      .option("format", "v3")
      .option("shards", "t=2")
      .option("compressor", "zstd:3")
      .mode("overwrite").save(fmtRoot)
    assertTreesEqual(apiRoot, fmtRoot)
    // stored files are shards; the reader partitions on inner chunks
    val store = ZarrGridStore.open(fmtRoot)
    assert(store.arrays("air").sharding.exists(_.innerShape.head == 2))
    assert(store.chunkMap("t") == 2)
    val back = spark.read.format("zarr").load(fmtRoot)
    assert(back.count() == 24L * 12 * 10)
    val r = back.filter(col("t") >= 12).agg(sum("air")).collect().head
    val expect = (for (t <- 12 until 24; i <- 0 until 12; j <- 0 until 10)
      yield 200.0 + t + 2.0 * i + 3.0 * j).sum
    assert(r.getDouble(0) == expect)
    // shards option without v3 is rejected loudly
    val e = intercept[Exception](
      df.write.format("zarr").option("dims", "t,lat,lon")
        .option("shards", "t=2")
        .mode("overwrite").save(tmp().resolve("bad").toString))
    assert(e.getMessage.contains("v3"), e.getMessage)
  }

  test("append grows a v3 SHARDED tree shard-by-shard") {
    val root = tmp().resolve("v3grow").toString
    val df = gridDf
    def slab(t0: Int, t1: Int) = df.filter(col("t") >= t0 && col("t") < t1)
    slab(0, 12).write.format("zarr")
      .option("dims", "t,lat,lon").option("chunks", "t=6,lat=5")
      .option("format", "v3").option("shards", "t=2")
      .mode("append").save(root)
    slab(12, 24).write.format("zarr")
      .option("dims", "t,lat,lon").option("appendDim", "t")
      .mode("append").save(root)
    // byte-identical to a one-shot v3 sharded write
    val oneShot = tmp().resolve("v3oneshot").toString
    df.write.format("zarr")
      .option("dims", "t,lat,lon").option("chunks", "t=6,lat=5")
      .option("format", "v3").option("shards", "t=2")
      .mode("overwrite").save(oneShot)
    assertTreesEqual(oneShot, root)
    // straddling filter reads seamlessly, on inner-chunk partitions
    val back = spark.read.format("zarr").load(root)
    ReadCounters.reset()
    val r = back.filter(col("t").between(8, 15))
      .agg(count(lit(1)), sum("air")).collect().head
    assert(r.getLong(0) == 8L * 12 * 10)
    val expect = (for (t <- 8 to 15; i <- 0 until 12; j <- 0 until 10)
      yield 200.0 + t + 2.0 * i + 3.0 * j).sum
    assert(r.getDouble(1) == expect)
    // 4 of 12 t-inner-chunks survive x 3 lat-shards
    assert(ReadCounters.partitionsOpened.sum() == 12L)
  }

  test("clear errors: missing dims, append without appendDim, bad modes") {
    val root = tmp().resolve("err").toString
    val df = gridDf.limit(10)
    val e1 = intercept[Exception](
      df.write.format("zarr").mode("overwrite").save(root))
    assert(e1.getMessage.contains("dims"), e1.getMessage)
    gridDf.write.format("zarr").option("dims", "t,lat,lon")
      .mode("overwrite").save(root)
    val e2 = intercept[Exception](
      gridDf.write.format("zarr").option("dims", "t,lat,lon")
        .mode("append").save(root))
    assert(e2.getMessage.contains("appendDim"), e2.getMessage)
    // Spark itself rejects ErrorIfExists for path-based DSv2 providers
    val e3 = intercept[Exception](
      gridDf.write.format("zarr").option("dims", "t,lat,lon").save(root))
    assert(e3.getMessage.toLowerCase.contains("errorifexists"),
      e3.getMessage)
    // chunks/shards: a key that names no dim, or a size that is not a
    // positive integer, fails with the option named
    for ((opt, spec) <- Seq("chunks" -> "time=6", "chunks" -> "t=x",
        "chunks" -> "t=0", "shards" -> "lev=2", "shards" -> "t=-2")) {
      val e = intercept[Exception](
        gridDf.write.format("zarr").option("dims", "t,lat,lon")
          .option("format", "v3").option(opt, spec)
          .mode("overwrite").save(tmp().resolve("opt").toString))
      assert(e.getMessage.contains(s"$opt entry '$spec'"), e.getMessage)
    }
    // duplicate cells fail loudly, not last-write-wins
    val dup = gridDf.union(gridDf.limit(1))
    val e4 = intercept[Exception](
      dup.write.format("zarr").option("dims", "t,lat,lon")
        .mode("overwrite").save(tmp().resolve("dup").toString))
    assert(String.valueOf(e4.getMessage).contains("duplicate") ||
      Option(e4.getCause).exists(_.getMessage.contains("duplicate")),
      e4.toString)
  }

  test("pure-SQL flow: CREATE TABLE USING zarr, SELECT, INSERT INTO appends") {
    val root = tmp().resolve("sqlt").toString
    def slab(t0: Int, t1: Int) =
      gridDf.filter(col("t") >= t0 && col("t") < t1)
    slab(0, 12).write.format("zarr")
      .option("dims", "t,lat,lon").option("chunks", "t=6,lat=5")
      .mode("overwrite").save(root)
    val tbl = "zt_" + java.util.UUID.randomUUID().toString.take(8)
    spark.sql(s"""CREATE TABLE $tbl USING zarr
      |OPTIONS (path '$root', dims 't,lat,lon', appendDim 't')"""
      .stripMargin)
    try {
      assert(spark.sql(s"SELECT count(*) FROM $tbl").collect()
        .head.getLong(0) == 12L * 12 * 10)
      // SQL-native incremental ingest: INSERT INTO appends along t
      slab(12, 24).createOrReplaceTempView("slab2")
      spark.sql(s"INSERT INTO $tbl SELECT * FROM slab2")
      val r = spark.sql(
        s"SELECT count(*) c, sum(air) s FROM $tbl WHERE t >= 12")
        .collect().head
      assert(r.getLong(0) == 12L * 12 * 10)
      val expect = (for (t <- 12 until 24; i <- 0 until 12; j <- 0 until 10)
        yield 200.0 + t + 2.0 * i + 3.0 * j).sum
      assert(r.getDouble(1) == expect)
    } finally spark.sql(s"DROP TABLE $tbl")
  }

  test("timestamp dims and mixed variable types round trip") {
    import spark.implicits._
    val df = (for (k <- 0 until 6; i <- 0 until 3) yield (
      java.sql.Timestamp.from(java.time.Instant.parse(
        f"2021-02-0${k + 1}T00:00:00Z")),
      i * 10.0, (k * 3 + i).toLong, (k + i).toFloat))
      .toDF("time", "lat", "hits", "score")
    val root = tmp().resolve("ts").toString
    df.write.format("zarr").option("dims", "time,lat")
      .option("chunks", "time=2")
      .mode("overwrite").save(root)
    val back = spark.read.format("zarr").load(root)
    assert(back.schema.fieldNames.toSeq ==
      Seq("time", "lat", "hits", "score"))
    assert(back.count() == 18L)
    val r = back.filter(col("time") >= lit("2021-02-04").cast("timestamp"))
      .agg(sum("hits"), sum("score")).collect().head
    val keep = for (k <- 3 until 6; i <- 0 until 3) yield (k * 3 + i, k + i)
    assert(r.getLong(0) == keep.map(_._1.toLong).sum)
    assert(r.getDouble(1) == keep.map(_._2.toDouble).sum)
  }

  test("timestamp VARIABLE round-trips through the format (NULL = NaT)") {
    val root = tmp().resolve("tsvar").toString
    val df = spark.range(0, 10).toDF("t")
      .select(col("t").cast("int").as("t"),
        when(col("t") === 4, lit(null))
          .otherwise(timestamp_seconds(lit(1609459200L) + col("t") * 60))
          .as("seen"),
        col("t").cast("double").as("x"))
    df.write.format("zarr").option("dims", "t")
      .option("chunks", "t=4").mode("overwrite").save(root)
    val back = spark.read.format("zarr").load(root)
    // schema keeps TIMESTAMP (previously degraded to BIGINT micros)
    assert(back.schema("seen").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(back.filter(col("seen").isNull).select("t")
      .collect().map(_.getInt(0)).toSeq == Seq(4))
    assert(back.filter(col("t") === 7).select("seen").collect()
      .head.getTimestamp(0).getTime == (1609459200L + 7 * 60) * 1000L)
  }

  test("inferred coordinates equal distinct().orderBy(): -0.0, NaN, timestamps") {
    import spark.implicits._
    val nan = Double.NaN
    val inf = Double.PositiveInfinity
    val ds = Seq(3.0, -0.0, 0.0, nan, -inf, inf, 3.0, -1.5, nan, -0.0)
    val df = ds.zipWithIndex.map { case (d, k) =>
      (d, d.toFloat, k % 4 - 2, (k % 3).toLong * -7L,
        // pre-epoch, epoch and post-epoch instants, each repeated
        new java.sql.Timestamp((k % 3 - 1) * 3155760000000L + k % 2 * 1000L),
        k.toDouble)
    }.toDF("d", "f", "i", "l", "ts", "v")
    // -0.0 alone (no +0.0 beside it) must fold to 0.0 as well
    val negZero = Seq((-0.0, -0.0f, 1.0), (2.0, 2.0f, 2.0)).toDF("d", "f", "v")
    def bits(c: graft.grid.CoordArray): Seq[Long] = c match {
      case graft.grid.DoubleCoords(v) => v.toSeq.map(java.lang.Double.doubleToLongBits)
      case graft.grid.FloatCoords(v) =>
        v.toSeq.map(x => java.lang.Float.floatToIntBits(x).toLong)
      case graft.grid.IntCoords(v) => v.toSeq.map(_.toLong)
      case graft.grid.LongCoords(v) => v.toSeq
      case graft.grid.TimeCoords(v) => v.toSeq
      case other => fail(s"unexpected coords $other")
    }
    def reference(df: org.apache.spark.sql.DataFrame, d: String): Seq[Long] = {
      val c = df.select(col(d)).distinct().orderBy(col(d))
      df.schema(d).dataType match {
        case org.apache.spark.sql.types.DoubleType => c.as[Double].collect()
          .toSeq.map(java.lang.Double.doubleToLongBits)
        case org.apache.spark.sql.types.FloatType => c.as[Float].collect()
          .toSeq.map(x => java.lang.Float.floatToIntBits(x).toLong)
        case org.apache.spark.sql.types.IntegerType =>
          c.as[Int].collect().toSeq.map(_.toLong)
        case org.apache.spark.sql.types.LongType => c.as[Long].collect().toSeq
        case _ => df.select(unix_micros(col(d)).as(d)).distinct()
          .orderBy(col(d)).as[Long].collect().toSeq
      }
    }
    Seq(df -> Seq("d", "f", "i", "l", "ts"), negZero -> Seq("d", "f"))
      .foreach { case (frame, dims) =>
        val schema = ZarrWrite.inferGridSchema(frame, dims)
        dims.foreach(d => assert(bits(schema.dim(d).coords) ==
          reference(frame, d), d))
      }
  }

  test("a NULL dim value fails naming the dim") {
    val df = spark.range(0, 6).select(
      when(col("id") === 3, lit(null)).otherwise(col("id").cast("double"))
        .as("lat"), col("id").cast("int").as("t"), col("id").as("x"))
    val e = intercept[IllegalArgumentException](
      ZarrWrite.inferGridSchema(df, Seq("t", "lat")))
    assert(e.getMessage.contains("'lat'") && e.getMessage.contains("NULL"),
      e.getMessage)
  }
}
