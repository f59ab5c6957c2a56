package graft.grid

import graft.{SparkTestBase, TempDirs}
import graft.grid.ZarrLayout.V3
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}

/** Timestamp/duration DATA variables through the write surface: the
  * row scatter writes numpy time dtypes (`<M8[us]` v2, the
  * `numpy.datetime64` extension object v3), NULL cells become NaT and
  * round-trip back to SQL NULL, absent chunks of a time variable read
  * all-NULL (NaT fill), and appends onto the µs time layout work.
  * Before this, time vars degraded to plain int64 on write (timestamps
  * came back as raw micros longs).
  */
class ZarrTimeVarWriteSpec extends SparkTestBase with TempDirs {

  private def tmp(): Path = tempDir("zarr_m8w")

  private val epoch = 1609459200L // 2021-01-01 UTC, seconds

  /** t=0..11; obs = 2021-01-01 + t h (NULL at t % 5 == 2); x = 10+t. */
  private def df = {
    spark.range(0, 12).toDF("t")
      .select(col("t").cast("int").as("t"),
        when(col("t") % 5 === 2, lit(null))
          .otherwise(timestamp_seconds(lit(epoch) + col("t") * 3600))
          .as("obs"),
        (col("t").cast("double") + 10.0).as("x"))
  }

  private val schema = GridSchema(
    Seq(DimDef("t", IntCoords((0 until 12).toArray))),
    Seq(VarDef("obs", Seq("t"), GTimestamp),
      VarDef("x", Seq("t"), GDouble)))

  private def checkStore(store: GridStore): Unit = {
    val obs = store.readVar("obs", Seq((0, 12))).asInstanceOf[Array[Long]]
    (0 until 12).foreach { t =>
      if (t % 5 == 2) assert(obs(t) == Long.MinValue, s"t=$t not NaT")
      else assert(obs(t) == (epoch + t * 3600L) * 1000000L, s"t=$t")
    }
    // the registered scan surfaces NaT as NULL
    val rows = new graft.XarrayContext(spark)
      .dataFrame(s"m8w@${store.hashCode}", store,
        Map("t" -> 5), Seq("t"))
      .orderBy("t").select("obs").collect()
    (0 until 12).foreach { t =>
      if (t % 5 == 2) assert(rows(t).isNullAt(0), s"t=$t not null")
      else assert(rows(t).getTimestamp(0).getTime ==
        (epoch + t * 3600L) * 1000L, s"t=$t value")
    }
  }

  test("v2 row scatter: M8 dtype, NaT round trip, NaT fill") {
    val root = tmp().resolve("v2").toString
    val store = ZarrGridStore.writeFromRows(df, schema, Map("t" -> 5),
      root, "zstd:3")
    val a = store.arrays("obs")
    assert(a.dtype == GTimestamp)
    assert(a.stored.contains(StoredTime64(1L, 1L)))
    // declared dtype is numpy's, so zarr-python reads timestamps back
    val zarray = new String(Files.readAllBytes(
      java.nio.file.Paths.get(root, "obs", ".zarray")), "UTF-8")
    assert(zarray.contains("<M8[us]"), zarray)
    checkStore(store)
    // absent chunk = all-NaT: drop the chunk holding t=10..11
    Files.delete(java.nio.file.Paths.get(root, "obs", "2"))
    val reopened = ZarrGridStore.open(root)
    val tail = reopened.readVar("obs", Seq((10, 2)))
      .asInstanceOf[Array[Long]]
    assert(tail.forall(_ == Long.MinValue))
  }

  test("v3 and sharded v3 row scatter round-trip time variables") {
    val v3 = ZarrGridStore.writeFromRows(df, schema, Map("t" -> 5),
      tmp().resolve("v3").toString, "zstd:3", V3())
    assert(v3.arrays("obs").dtype == GTimestamp)
    assert(v3.arrays("obs").stored.contains(StoredTime64(1L, 1L)))
    checkStore(v3)

    val sh = ZarrGridStore.writeFromRows(df, schema, Map("t" -> 6),
      tmp().resolve("v3sh").toString, "zstd:3",
      V3(Map("t" -> 2)))
    assert(sh.arrays("obs").sharding.exists(_.innerShape == Seq(2)))
    checkStore(sh)
  }

  test("append extends a time variable (v2, unaligned edge)") {
    val root = tmp().resolve("ap").toString
    val first = df.filter(col("t") < 7)
    val rest = df.filter(col("t") >= 7)
    val s7 = GridSchema(
      Seq(DimDef("t", IntCoords((0 until 7).toArray))),
      schema.vars)
    ZarrGridStore.writeFromRows(first, s7, Map("t" -> 5), root, "zstd:3")
    val grown = ZarrGridStore.appendFromRows(rest, root, "t")
    assert(grown.schema.dim("t").size == 12)
    checkStore(grown)
  }

  test("duration variables write and round-trip (v2)") {
    import org.apache.spark.sql.types._
    val ddf = spark.range(0, 6).toDF("t")
      .select(col("t").cast("int").as("t"),
        when(col("t") === 4, lit(null).cast(DayTimeIntervalType()))
          .otherwise(expr("make_dt_interval(0, 0, 0, t * 90)"))
          .as("lag"))
    val dschema = GridSchema(
      Seq(DimDef("t", IntCoords((0 until 6).toArray))),
      Seq(VarDef("lag", Seq("t"), GDuration)))
    val store = ZarrGridStore.writeFromRows(ddf, dschema, Map("t" -> 4),
      tmp().resolve("dur").toString, "zstd:3")
    assert(store.arrays("lag").dtype == GDuration)
    val lag = store.readVar("lag", Seq((0, 6))).asInstanceOf[Array[Long]]
    (0 until 6).foreach { t =>
      if (t == 4) assert(lag(t) == Long.MinValue)
      else assert(lag(t) == t * 90L * 1000000L)
    }
  }
}
