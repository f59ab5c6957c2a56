package graft.sources

import graft.{SparkTestBase, TempDirs, XarrayContext}
import graft.grid.{Fixtures, GridResult}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** End-to-end behavior of the grid DSv2 source: pivot correctness, exact
  * partition pruning (reference tests/test_reader.py:948-1271), projection
  * pushdown to storage (:1274-1415), COUNT(*) without data reads
  * (:1395-1415), stats-driven broadcast joins (tests/test_stats.py:94-124).
  */
class GridSourceSpec extends SparkTestBase with AdaptiveSparkPlanHelper
    with TempDirs {

  private lazy val ctx = new XarrayContext(spark)

  private def counted[T](body: => T): T = {
    ReadCounters.reset()
    body
  }

  private def withConf[T](conf: Map[String, String])(body: => T): T = {
    val saved = conf.keys.map(k => k -> spark.conf.getOption(k))
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // (name, session conf, tasks expected for n blocks): the default
  // split (anywhere from one task to one per block), one block per
  // partition, every block in one partition
  private val packings: Seq[(String, Map[String, String], Int => Range)] = Seq(
    ("default packing", Map.empty, n => 1 to n),
    ("one block per task",
      Map("spark.sql.files.maxPartitionBytes" -> "1"), n => n to n),
    ("one task", Map("spark.sql.files.minPartitionNum" -> "1"), _ => 1 to 1))

  /** (planned blocks, packed tasks) from the scan description. */
  private def packedCounts(df: DataFrame): (Int, Int) = {
    val m = "partitions=(\\d+)/\\d+ tasks=(\\d+)".r
      .findFirstMatchIn(df.queryExecution.executedPlan.toString)
      .getOrElse(fail(df.queryExecution.executedPlan.toString))
    (m.group(1).toInt, m.group(2).toInt)
  }

  test("pivot: row count = product of dims; cell values match the law") {
    val store = Fixtures.airSmall
    val df = ctx.dataFrame("air_pivot", store, Map("time" -> 6),
      Seq("time", "lat", "lon"))
    val rows = df.collect()
    assert(rows.length == 12 * 11 * 10)
    val law = store.laws("air")
    // spot-check cells incl. first/last and a descending-lat cell
    val byKey = rows.map(r => (r.getTimestamp(0).getTime, r.getDouble(1),
      r.getDouble(2)) -> r.getDouble(3)).toMap
    for (t <- Seq(0, 5, 11); i <- Seq(0, 4, 10); j <- Seq(0, 9)) {
      val key = (Fixtures.hourlyMicros(15706, t, 6) / 1000,
        75.0 - 2.5 * i, 200.0 + 2.5 * j)
      assert(byKey(key) == law(Array(t, i, j)), s"cell ($t,$i,$j)")
    }
  }

  test("laziness: planning and schema access read no variable data") {
    counted {
      val df = ctx.dataFrame("air_lazy", Fixtures.airSmall, Map("time" -> 6),
        Seq("time", "lat", "lon"))
      df.schema // schema access
      df.filter(col("lat") > 60).queryExecution.executedPlan // full planning
      assert(ReadCounters.varReadCount("air") == 0L)
      assert(ReadCounters.partitionsOpened.sum() == 0L)
    }
  }

  test("pruning: time predicates open exactly the surviving partitions") {
    val store = Fixtures.pruneGrid // 4 time chunks of 25 days
    val df = ctx.dataFrame("prune1", store, Map("time" -> 25), Seq("time", "lat"))
    // collect, not count(): filtered COUNT(*) is metadata-answered and
    // would open zero partitions — this test pins the SCAN's pruning
    def runCount(d: DataFrame): Long = d.collect().length.toLong

    // time >= day 75 -> only last chunk
    counted {
      assert(runCount(df.filter(col("time") >= to_timestamp(lit("2020-03-16 00:00:00")))) == 25L * 5)
      assert(ReadCounters.partitionsOpened.sum() == 1L)
    }
    // BETWEEN spanning chunks 1..2 -> 2 of 4
    counted {
      assert(runCount(df.filter(col("time").between(
        to_timestamp(lit("2020-02-01 00:00:00")),
        to_timestamp(lit("2020-03-01 00:00:00"))))) == 30L * 5)
      assert(ReadCounters.partitionsOpened.sum() == 2L)
    }
    // impossible filter -> 0 of 4
    counted {
      assert(runCount(df.filter(col("time") < to_timestamp(lit("2019-01-01 00:00:00")))) == 0L)
      assert(ReadCounters.partitionsOpened.sum() == 0L)
    }
    // static-dim (unchunked lat) bounds prune everything too
    counted {
      assert(runCount(df.filter(col("lat") > 100.0)) == 0L)
      assert(ReadCounters.partitionsOpened.sum() == 0L)
    }
    // OR of two time windows -> chunks 0 and 3
    counted {
      assert(runCount(df.filter(
        col("time") < to_timestamp(lit("2020-01-10 00:00:00")) ||
          col("time") > to_timestamp(lit("2020-04-01 00:00:00")))) == (9L + 8L) * 5)
      assert(ReadCounters.partitionsOpened.sum() == 2L)
    }
  }

  test("concat view prunes each member independently") {
    // two t-slabs as separate stores (the open_mfdataset shape), 2
    // chunks each; a predicate inside one slab opens only that slab's
    // surviving chunk — the other member's scan prunes to zero
    val df = ctx.concatDataFrame("concat_prune", Seq(
      (Fixtures.linearGridSlice(0, 12), Map("t" -> 6)),
      (Fixtures.linearGridSlice(12, 24), Map("t" -> 6))),
      Seq("t", "lat", "lon"))
    ReadCounters.reset()
    assert(df.filter(col("t") >= 18).collect().length == 6 * 12 * 10)
    assert(ReadCounters.partitionsOpened.sum() == 1L,
      "boundary filter must open exactly one member chunk")
    ReadCounters.reset()
    assert(df.filter(col("t").between(8, 15)).collect().length == 8 * 12 * 10)
    assert(ReadCounters.partitionsOpened.sum() == 2L,
      "spanning filter opens one chunk per member")
  }

  test("projection pushdown: only requested variables are read") {
    val df = ctx.dataFrame("proj1", Fixtures.twoVarGrid, Map("time" -> 5),
      Seq("time", "lat"))
    counted {
      df.select("time", "temperature").collect()
      assert(ReadCounters.varReadCount("temperature") == 2L) // 2 partitions
      assert(ReadCounters.varReadCount("precipitation") == 0L)
    }
    counted { // dim-only projection reads no variables at all
      df.select("lat").distinct().collect()
      assert(ReadCounters.varReadCount("temperature") == 0L)
      assert(ReadCounters.varReadCount("precipitation") == 0L)
    }
  }

  test("COUNT(*) answers from metadata shape without variable reads") {
    val df = ctx.dataFrame("count1", Fixtures.twoVarGrid, Map("time" -> 5),
      Seq("time", "lat"))
    counted {
      assert(df.count() == 50L)
      assert(ReadCounters.varReadCount("temperature") == 0L)
      assert(ReadCounters.varReadCount("precipitation") == 0L)
      // complete COUNT(*) pushdown: no grid partition is even opened
      assert(ReadCounters.partitionsOpened.sum() == 0L)
    }
    // a separable dim filter is exactly pushed, so even the FILTERED
    // count comes from coordinate metadata — zero partitions opened,
    // chunk alignment irrelevant
    counted {
      assert(df.filter(col("lat") > 0.0).count() == 20L)
      assert(ReadCounters.partitionsOpened.sum() == 0L)
    }
    // a data-variable filter stays residual -> the aggregate is NOT
    // pushed and the scan must read (pruning still bounds the work)
    counted {
      assert(df.filter(col("temperature") >= 0.0).count() >= 0L)
      assert(ReadCounters.partitionsOpened.sum() == 2L)
    }
  }

  test("NOT and string-equality dim predicates are exactly pushed") {
    val df = ctx.dataFrame("notpush", Fixtures.pruneGrid, Map("time" -> 25),
      Seq("time", "lat"))
    // != arrives as Not(EqualTo): exact complement on coordinate values,
    // so even the filtered COUNT stays metadata-only
    counted {
      assert(df.filter(col("lat") =!= 0.0).count() == 400L)
      assert(ReadCounters.partitionsOpened.sum() == 0L)
    }
    // NOT BETWEEN arrives as Not(And(>=, <=)): same story
    counted {
      assert(df.filter(!col("time").between(
        to_timestamp(lit("2020-01-11")),
        to_timestamp(lit("2020-01-20")))).count() == 450L)
      assert(ReadCounters.partitionsOpened.sum() == 0L)
    }
    // string dims join the exact-pushdown family for equality shapes
    // (the reference cannot prune strings at all, df.py:447-450); an IN
    // list confined to the first station chunk opens only that chunk
    val st = ctx.dataFrame("stpush", Fixtures.stationGrid,
      Map("station" -> 4), Seq("station", "time"))
    counted {
      val rows = st.filter(col("station").isin("st_1", "st_2")).collect()
      assert(rows.length == 2 * 10)
      assert(rows.forall(r => Set("st_1", "st_2")(r.getString(0))))
      assert(ReadCounters.partitionsOpened.sum() == 1L)
    }
    // ...and a string-equality COUNT(*) is answered from metadata
    counted {
      assert(st.filter(col("station") === "st_5").count() == 10L)
      assert(ReadCounters.partitionsOpened.sum() == 0L)
    }
    // string ORDERING is exact too (UTF-8 binary order == Spark's
    // UTF8_BINARY collation): the COUNT answers from metadata
    counted {
      assert(st.filter(col("station") > "st_5").count() == 20L)
      assert(ReadCounters.partitionsOpened.sum() == 0L)
    }
    // ...and a range collect opens only the chunk holding survivors
    counted {
      val rows = st.filter(col("station") >= "st_6").collect()
      assert(rows.length == 2 * 10)
      assert(rows.forall(r => Set("st_6", "st_7")(r.getString(0))))
      assert(ReadCounters.partitionsOpened.sum() == 1L)
    }
    // LIKE 'p%' prefixes prune exactly (byte-prefix semantics); a
    // prefix matching nothing opens nothing
    counted {
      assert(st.filter(col("station").startsWith("st_")).count() == 80L)
      assert(ReadCounters.partitionsOpened.sum() == 0L)
      assert(st.filter(col("station").startsWith("zz")).count() == 0L)
      assert(ReadCounters.partitionsOpened.sum() == 0L)
    }
  }

  test("MIN/MAX of dims answer from coordinate metadata, no partitions opened") {
    val df = ctx.dataFrame("metaagg", Fixtures.pruneGrid, Map("time" -> 25),
      Seq("time", "lat"))
    counted {
      val r = df.agg(min("time").as("t0"), max("time").as("t1"),
        min("lat").as("la"), max("lat").as("lb"), count(lit(1)).as("n"))
        .collect()(0)
      assert(r.getTimestamp(0).getTime == 18262L * 86400000L)
      assert(r.getTimestamp(1).getTime == (18262L + 99) * 86400000L)
      assert(r.getDouble(2) == -90.0 && r.getDouble(3) == 90.0)
      assert(r.getLong(4) == 500L)
      assert(ReadCounters.partitionsOpened.sum() == 0L)
    }
    // aggregating a data VARIABLE cannot be metadata-answered
    counted {
      df.agg(min("temperature")).collect()
      assert(ReadCounters.partitionsOpened.sum() == 4L)
    }
  }

  test("GROUP BY dim: grouped aggregates answer from metadata") {
    val df = ctx.dataFrame("metagrp", Fixtures.pruneGrid, Map("time" -> 25),
      Seq("time", "lat"))
    // density: every lat group spans all 100 days
    counted {
      val rows = df.groupBy("lat")
        .agg(count(lit(1)).as("n"), max("time").as("mx")).collect()
      assert(rows.length == 5)
      rows.foreach { r =>
        assert(r.getLong(1) == 100L)
        assert(r.getTimestamp(2).getTime == (18262L + 99) * 86400000L)
      }
      assert(ReadCounters.partitionsOpened.sum() == 0L)
    }
    // separable filter composes: each group counts only surviving days
    counted {
      val rows = df.filter(
        col("time") >= to_timestamp(lit("2020-03-20 00:00:00")))
        .groupBy("lat").agg(count(lit(1)).as("n")).collect()
      assert(rows.length == 5 && rows.forall(_.getLong(1) == 21L))
      assert(ReadCounters.partitionsOpened.sum() == 0L)
    }
    // a filter emptying a NON-grouped dim empties the group set too
    counted {
      assert(df.filter(col("time") < to_timestamp(lit("2019-01-01")))
        .groupBy("lat").count().collect().isEmpty)
      assert(ReadCounters.partitionsOpened.sum() == 0L)
    }
    // grouping by a data VARIABLE is never metadata-answered
    counted {
      df.groupBy("temperature").count().collect()
      assert(ReadCounters.partitionsOpened.sum() == 4L)
    }
    // string dims group fine (grouping needs values, not collation)
    val st = ctx.dataFrame("metagrpstr", Fixtures.stationGrid,
      Map("station" -> 4), Seq("station", "time"))
    counted {
      val rows = st.groupBy("station").agg(count(lit(1)).as("n")).collect()
      assert(rows.length == 8 && rows.forall(_.getLong(1) == 10L))
      assert(rows.map(_.getString(0)).toSet ==
        (0 until 8).map(i => s"st_$i").toSet)
      assert(ReadCounters.partitionsOpened.sum() == 0L)
    }
  }

  test("TopN pushdown: ORDER BY dim LIMIT k reads k rows per partition") {
    val df = ctx.dataFrame("topn1", Fixtures.pruneGrid, Map("time" -> 25),
      Seq("time", "lat"))
    val q = df.orderBy(col("time").desc, col("lat"))
      .select("time", "lat", "temperature").limit(3)
    counted {
      val rows = q.collect()
      // top 3 by (time desc, lat asc): the max day with the 3 lowest lats
      assert(rows.map(r => (r.getTimestamp(0).getTime, r.getDouble(1))).toSeq
        == Seq(((18262L + 99) * 86400000L, -90.0),
          ((18262L + 99) * 86400000L, -45.0),
          ((18262L + 99) * 86400000L, 0.0)))
      // every partition emits exactly its local top-3 (4 chunks x 3),
      // not its full 125-row block
      assert(ReadCounters.partitionsOpened.sum() == 4L)
      assert(ReadCounters.rowsEmitted.sum() == 12L,
        s"emitted ${ReadCounters.rowsEmitted.sum()}")
    }
    assert(q.queryExecution.executedPlan.toString.contains("pushedTopN"),
      q.queryExecution.executedPlan.toString)
    // a non-dim sort key is NOT pushed: full blocks are read
    counted {
      df.orderBy(col("temperature").desc).limit(3).collect()
      assert(ReadCounters.rowsEmitted.sum() == 500L) // 4 blocks x 125 cells
    }
  }

  test("scan emits columnar batches (ColumnarToRow present in plan)") {
    val df = ctx.dataFrame("colbatch", Fixtures.linearGrid, Map("t" -> 6),
      Seq("t", "lat", "lon"))
    // plain projection: bulk columnar path
    val q = df.select("t", "lat", "air")
    q.collect()
    assert(q.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      q.queryExecution.executedPlan.toString)
    // a dim filter stays columnar: only matching cells are pivoted and
    // the filter is exact at the scan, so no Filter re-applies it
    val f = df.filter(col("lat") > 60.0).select("t", "lat", "air")
    val rows = f.collect()
    assert(rows.nonEmpty && rows.forall(_.getDouble(1) > 60.0))
    val plan = f.queryExecution.executedPlan.toString
    assert(plan.contains("exactDimFilters"), plan)
    assert(plan.contains("ColumnarToRow"), plan)
    assert(collect(f.queryExecution.executedPlan) {
      case x: org.apache.spark.sql.execution.FilterExec => x
    }.isEmpty, plan)
  }

  test("tables are re-queryable: fresh scan per query, same results") {
    val ctx2 = new XarrayContext(spark)
    ctx2.fromDataset("requery", Fixtures.linearGrid, Map("t" -> 6))
    val q = "SELECT CAST(SUM(air) AS BIGINT) s FROM requery WHERE t < 12"
    val first = spark.sql(q).collect()(0).getLong(0)
    val second = spark.sql(q).collect()(0).getLong(0)
    assert(first == second)
    // and a different query over the same registration still works
    assert(spark.sql("SELECT COUNT(*) FROM requery").collect()(0).getLong(0)
      == 24L * 12 * 10)
  }

  test("error paths: unknown table and unknown column fail cleanly") {
    val e1 = intercept[Exception](spark.sql("SELECT * FROM no_such_grid").collect())
    assert(e1.getMessage.toLowerCase.contains("table"))
    val ctx2 = new XarrayContext(spark)
    ctx2.fromDataset("errgrid", Fixtures.linearGrid, Map("t" -> 6))
    val e2 = intercept[Exception](
      spark.sql("SELECT nope FROM errgrid").collect())
    assert(e2.getMessage.contains("nope"))
  }

  test("EXPLAIN exposes pruning counts and exact statistics") {
    val df = ctx.dataFrame("explstat", Fixtures.pruneGrid, Map("time" -> 25),
      Seq("time", "lat"))
    val filtered = df.filter(
      col("time") >= to_timestamp(lit("2020-03-16 00:00:00")))
    // the scan description reports surviving/total partitions (the
    // reference pins EXPLAIN statistics the same way, tests/test_stats.py)
    val expl = filtered.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(expl.contains("partitions=1/4"), expl)
    // exact post-pruning row count reaches the optimizer's statistics
    val stats = filtered.queryExecution.optimizedPlan.collectLeaves()
      .head.stats
    assert(stats.rowCount.contains(BigInt(125)), stats)
  }

  test("exact statistics drive broadcast-join selection") {
    val big = ctx.dataFrame("stats_big", Fixtures.pruneGrid, Map("time" -> 25),
      Seq("time", "lat"))
    val small = ctx.dataFrame("stats_small", Fixtures.twoVarGrid, Map.empty,
      Seq("time", "lat"))
    val joined = big.join(small.select(col("lat"),
      col("temperature").as("small_temp")), Seq("lat"))
    joined.collect()
    val plan = joined.queryExecution.executedPlan
    val hasBroadcast = collectWithSubqueries(plan) {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }.nonEmpty
    assert(hasBroadcast, s"expected broadcast hash join, got:\n$plan")
  }

  test("mixed-dims dataset registers one table per dim group") {
    val views = ctx.fromDataset("era5x", Fixtures.mixedDims,
      Map("time" -> 1))
    assert(views.toSet == Set("era5x_time_lat", "era5x_time_lat_level"))
    assert(spark.table("era5x_time_lat").count() == 2L * 3)
    assert(spark.table("era5x_time_lat_level").count() == 2L * 3 * 2)
    assert(spark.table("era5x_time_lat").columns.toSeq ==
      Seq("time", "lat", "t2m"))
  }

  test("aggregate over chunked grid matches the directly computed value") {
    val store = Fixtures.linearGrid
    val df = ctx.dataFrame("agg1", store, Map("t" -> 6), Seq("t", "lat", "lon"))
    val got = df.groupBy("lat").agg(avg("air").as("a"))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    for (i <- 0 until 12) {
      // mean over t (0..23) and j (0..9) of 200 + t + 2 i + 3 j
      val expected = 200.0 + 23.0 / 2 + 2.0 * i + 3.0 * 4.5
      assert(got(75.0 - 2.5 * i) == expected, s"lat index $i")
    }
  }

  test("TopN composes with exact dim filters: sorted walk over surviving cells") {
    val df = ctx.dataFrame("topnf", Fixtures.pruneGrid, Map("time" -> 25),
      Seq("time", "lat"))
    // lat > 0 keeps 2 of 5 lats (45, 90); top-3 by (time desc, lat asc)
    // over the filtered cells: max day with lat 45 and 90, then day-1
    val q = df.filter(col("lat") > 0.0)
      .orderBy(col("time").desc, col("lat"))
      .select("time", "lat", "temperature").limit(3)
    counted {
      val rows = q.collect()
      assert(rows.map(r => (r.getTimestamp(0).getTime, r.getDouble(1))).toSeq
        == Seq(((18262L + 99) * 86400000L, 45.0),
          ((18262L + 99) * 86400000L, 90.0),
          ((18262L + 98) * 86400000L, 45.0)))
      // each of the 4 partitions emits its local filtered top-3 only
      assert(ReadCounters.rowsEmitted.sum() == 12L,
        s"emitted ${ReadCounters.rowsEmitted.sum()}")
    }
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("pushedTopN") && plan.contains("exactDimFilters"),
      plan)
  }

  test("runtime filtering: a broadcast join prunes grid chunks at runtime") {
    import graft.SparkTestBase.spark.implicits._
    // pruneGrid: 4 time chunks of 25 days x 5 lats
    val df = ctx.dataFrame("rtf1", Fixtures.pruneGrid, Map("time" -> 25),
      Seq("time", "lat"))
    // two probe days, both inside the LAST chunk (days 80 and 90); the
    // build side carries a selective predicate — DPP only considers
    // filtering joins whose build side filters something — and is built
    // over range() so constant folding can't erase that Filter
    val probe = graft.SparkTestBase.spark.range(0, 2)
      .select(expr("timestamp_seconds((18262 + 80 + id * 10) * 86400)")
        .as("t"))
      .filter(col("t") > to_timestamp(lit("1990-01-01 00:00:00")))
    val joined = df.join(broadcast(probe), col("time") === col("t"))
    counted {
      assert(joined.collect().length == 2 * 5)
      // without runtime filtering all 4 chunks would be read: no static
      // predicate mentions `time`, so only the join's runtime IN-set of
      // probe keys can prune chunks 0-2
      assert(ReadCounters.partitionsOpened.sum() == 1L,
        s"opened ${ReadCounters.partitionsOpened.sum()}\n" +
          joined.queryExecution.executedPlan.toString)
    }
  }

  test("from_map: chunk keys in, queryable rows out (A17 parity)") {
    import graft.SparkTestBase.spark.implicits._
    // generator shaped like the reference's from_map docs: one item per
    // chunk key, each yielding that chunk's rows
    val ds = ctx.fromMap(Seq(0, 1, 2), (k: Int) =>
      (0 until 4).map(i => (k.toLong * 4 + i, s"chunk$k")))
    ds.createOrReplaceTempView("from_map_t")
    assert(ds.rdd.getNumPartitions <= 3 && ds.rdd.getNumPartitions >= 1)
    val got = ctx.sql(
      "SELECT _2 AS c, CAST(COUNT(*) AS BIGINT) n, CAST(SUM(_1) AS BIGINT) s " +
        "FROM from_map_t GROUP BY _2 ORDER BY c").collect()
    assert(got.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      == Seq(("chunk0", 4L, 6L), ("chunk1", 4L, 22L), ("chunk2", 4L, 38L)))
  }

  test("reverse pivot: SQL result scatters back to a dense grid") {
    val store = Fixtures.linearGrid
    val df = ctx.dataFrame("rev1", store, Map("t" -> 6), Seq("t", "lat", "lon"))
    val res = GridResult.toGrid(
      df.filter(col("t") < 2).select("t", "lat", "lon", "air"),
      Seq("t", "lat", "lon"))
    assert(res.shape == Seq(2, 12, 10))
    val law = store.laws("air")
    assert(res("air", 1, 2, 3) == law(Array(1, 2, 3)))
    // descending lat order preserved (first-appearance = storage order)
    assert(res.dims(1)._2.head == 75.0)
    assert(res.dims(1)._2.last == 75.0 - 2.5 * 11)
  }

  test("reverse pivot: uncovered cells prefill NaN, duplicates reject") {
    val store = Fixtures.linearGrid
    val df = ctx.dataFrame("rev2", store, Map("t" -> 6), Seq("t", "lat", "lon"))
    // drop one cell -> that position must be NaN
    val res = GridResult.toGrid(
      df.filter(col("t") < 2 && !(col("t") === 0 && col("lat") === 75.0 &&
        col("lon") === 200.0)).select("t", "lat", "lon", "air"),
      Seq("t", "lat", "lon"))
    // first-appearance order: the removed cell's lon (200.0) now appears
    // AFTER 202.5 on the lon axis — find the removed cell by value
    val ti = res.dims(0)._2.indexOf(0)
    val li = res.dims(1)._2.indexOf(75.0)
    val oi = res.dims(2)._2.indexOf(200.0)
    assert(res.dims(2)._2.head == 202.5) // 200.0 no longer first
    assert(res("air", ti, li, oi).isNaN)
    assert(!res("air", ti, li, 0).isNaN)
    // collapsing lon away without aggregating -> duplicate cells -> error
    val dup = intercept[IllegalArgumentException] {
      GridResult.toGrid(
        df.filter(col("t") < 2).select("t", "lat", "air"), Seq("t", "lat"))
    }
    assert(dup.getMessage.contains("duplicate cell"))
  }

  test("one reader: dense, dim-filtered, TopN and limit scans match brute force") {
    import java.sql.Timestamp
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    import graft.grid._

    // time x x grid whose timestamp variable holds NaT; t-chunk 0 is
    // 36 x 2000 = 72,000 cells, so a 65,536-row batch ends inside it
    val t0 = 1609459200L * 1000000L
    val timeGrid = SyntheticGridStore(
      GridSchema(
        Seq(DimDef("time", TimeCoords(Array.tabulate(40)(k => t0 + k * 3600000000L))),
          DimDef("x", IntCoords(Array.range(0, 2000)))),
        Seq(VarDef("obs", Seq("time", "x"), GTimestamp))),
      Map("obs" -> NatTimeLaw(t0)))
    val day2 = (18262L + 2) * 86400000000L // stationGrid's third day

    // per grid: chunks, an exact dim filter (as a Column and as the same
    // predicate over brute-force cells) and the TopN / scan limit
    case class G(name: String, store: GridStore, chunks: Map[String, Int],
        filter: Column, keep: Seq[Any] => Boolean, k: Int)
    val grids = Seq(
      G("linearGrid", Fixtures.linearGrid, Map("t" -> 6, "lat" -> 5),
        col("t") =!= 2 && col("lat") < 70.0 && col("lon") =!= 205.0,
        c => c(0) != 2 && c(1).asInstanceOf[Double] < 70.0 && c(2) != 205.0,
        7),
      G("stationGrid", Fixtures.stationGrid, Map("station" -> 3),
        col("station") =!= "st_4" && col("time") > lit(new Timestamp(day2 / 1000)),
        c => c(0) != "st_4" && c(1).asInstanceOf[Long] > day2, 5),
      G("timeGrid", timeGrid, Map("time" -> 36),
        col("time") =!= lit(new Timestamp((t0 + 3 * 3600000000L) / 1000)) &&
          col("x") =!= 500,
        c => c(0) != t0 + 3 * 3600000000L && c(1) != 500, 66000))

    def compare(a: Any, b: Any): Int = (a, b) match {
      case (x: Int, y: Int) => x.compare(y)
      case (x: Double, y: Double) => x.compare(y)
      case (x: Long, y: Long) => x.compare(y)
      case (x: String, y: String) => x.compareTo(y)
      case _ => fail(s"unexpected key types $a, $b")
    }

    grids.foreach { g =>
      val dims = g.store.schema.dimNames
      val vars = g.store.schema.vars.map(_.name)
      // brute force: every cell of the full extent, C-order
      val full = dims.map(d => (0, g.store.schema.dim(d).size))
      val data = vars.map(g.store.readVar(_, full))
      val cells: Seq[Seq[Any]] = full.map(r => 0 until r._2)
        .foldLeft(Seq(Seq.empty[Int]))((acc, r) => acc.flatMap(p => r.map(p :+ _)))
        .zipWithIndex.map { case (idx, flat) =>
          dims.zip(idx).map { case (d, i) =>
            g.store.schema.dim(d).coords match {
              case IntCoords(v) => v(i)
              case DoubleCoords(v) => v(i)
              case StringCoords(v) => v(i)
              case TimeCoords(v) => v(i)
              case other => fail(s"unexpected coords $other")
            }
          } ++ data.map {
            case a: Array[Double] => a(flat)
            case a: Array[Long] => if (a(flat) == Long.MinValue) null else a(flat)
            case other => fail(s"unexpected var $other")
          }
        }
      def got(q: DataFrame): Seq[Seq[Any]] = q.collect().toSeq.map(_.toSeq.map {
        case t: Timestamp => DateTimeUtils.fromJavaTimestamp(t)
        case v => v
      })
      // TopN keyed on every dim (a total order), all ascending or all
      // descending
      def topN(q: DataFrame, keys: Seq[String], desc: Boolean) = {
        val t = q.orderBy(keys.map(k =>
          if (desc) col(k).desc else col(k).asc): _*).limit(g.k)
        assert(t.queryExecution.executedPlan.toString.contains("pushedTopN"))
        got(t)
      }
      def sorted(rows: Seq[Seq[Any]], keys: Seq[String], desc: Boolean) = {
        val ix = keys.map(dims.indexOf)
        rows.sortWith { (a, b) =>
          val c = ix.iterator.map(i => compare(a(i), b(i))).find(_ != 0)
            .getOrElse(0)
          if (desc) c > 0 else c < 0
        }.take(g.k)
      }
      def byString(rows: Seq[Seq[Any]]) = rows.map(_.mkString("|")).sorted
      // every case under three packings: the session default, one block
      // per partition, and every block in one partition
      packings.foreach { case (pk, conf, tasks) =>
        withConf(conf) {
          val df = ctx.dataFrame(s"reader_${g.name}", g.store, g.chunks, dims)
          withClue(s"[${g.name}, $pk] ") {
            val (blocks, planned) = packedCounts(df)
            assert(tasks(blocks).contains(planned), s"$planned tasks")
            assert(byString(got(df)) == byString(cells), "dense")
            val f = df.filter(g.filter)
            assert(f.queryExecution.executedPlan.toString
              .contains("exactDimFilters"))
            assert(byString(got(f)) == byString(cells.filter(g.keep)), "filter")
            assert(topN(df, dims, desc = false) ==
              sorted(cells, dims, desc = false), "TopN asc")
            assert(topN(df, dims, desc = true) ==
              sorted(cells, dims, desc = true), "TopN desc")
            // the last dim leading: the walk's innermost dim is then strided
            // (and, filtered, split into runs)
            assert(topN(df, dims.reverse, desc = false) ==
              sorted(cells, dims.reverse, desc = false), "TopN last dim first")
            assert(topN(f, dims.reverse, desc = true) ==
              sorted(cells.filter(g.keep), dims.reverse, desc = true),
              "TopN + filter")
            val lim = got(df.limit(g.k))
            assert(lim.size == math.min(g.k, cells.size), "limit")
            assert(byString(lim).toSet.subsetOf(byString(cells).toSet), "limit")
          }
        }
      }
    }
  }

  // 64 time chunks of one step over 8 x: 64 equal blocks, v = 8 t + x
  private lazy val grid64 = graft.grid.SyntheticGridStore(
    graft.grid.GridSchema(
      Seq(graft.grid.DimDef("t", graft.grid.IntCoords(Array.range(0, 64))),
        graft.grid.DimDef("x", graft.grid.IntCoords(Array.range(0, 8)))),
      Seq(graft.grid.VarDef("v", Seq("t", "x"), graft.grid.GDouble))),
    Map("v" -> Fixtures.AffineLaw(0.0, Seq(8.0, 1.0))))

  private def gridParts(df: DataFrame): Seq[Seq[GridInputPartition]] =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.partitions.map(_.map(_.asInstanceOf[GridInputPartition]))
    }.flatten

  test("packing: 64 equal blocks plan into N to N+1 tasks, in block order") {
    val df = ctx.dataFrame("pack64", grid64, Map("t" -> 1), Seq("t", "x"))
    val n = spark.sparkContext.defaultParallelism
    val parts = gridParts(df).flatten
    assert(parts.size == n || parts.size == n + 1, s"${parts.size} tasks")
    // each partition holds a run of consecutive blocks, in order
    assert(parts.flatMap(_.blocks.map(_.slices.head._1)) == (0 until 64))
    counted {
      assert(df.collect().map(_.getDouble(2)).toSeq ==
        (0 until 512).map(_.toDouble))
      assert(ReadCounters.partitionsOpened.sum() == 64L)
    }
  }

  test("packing: a runtime-filtered scan re-packs only the surviving blocks") {
    val df = ctx.dataFrame("packrt", grid64, Map("t" -> 1), Seq("t", "x"))
    // probe keys t = 10 and t = 50; the build side filters something so
    // DPP considers the join (see the runtime filtering test above)
    val probe = graft.SparkTestBase.spark.range(0, 2)
      .select(expr("CAST(10 + id * 40 AS INT)").as("k"))
      .filter(col("k") > -1)
    val joined = df.join(broadcast(probe), col("t") === col("k"))
    counted {
      assert(joined.collect().length == 2 * 8)
      assert(ReadCounters.partitionsOpened.sum() == 2L,
        joined.queryExecution.executedPlan.toString)
    }
    val blocks = gridParts(joined).flatten.flatMap(_.blocks.map(_.slices.head._1))
    assert(blocks == Seq(10, 50), joined.queryExecution.executedPlan.toString)
  }

  test("restricted scan under a variable predicate plans like the full walk") {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    // linearGrid t-chunks of 6 with value stats: air = 200 + t + 2i + 3j,
    // so chunk c spans [200 + 6c, 254 + 6c] and air < 215 excludes c = 3
    val store = graft.GridSurface.tree(tempDir("surface"),
      Fixtures.linearGrid, Map("t" -> 6))
    val gt = new GridTable("restricted", store, store.chunkMap,
      Seq("t", "lat", "lon"))
    val blocks = (1 to 3).map(c => Seq((6 * c, 6), (0, 12), (0, 10)))
    val df = org.apache.spark.sql.graftinterop.PlanInterop.ofRows(spark,
      DataSourceV2Relation.create(gt.restrictedTo(blocks), None, None,
        CaseInsensitiveStringMap.empty)).filter(col("air") < 215.0)
    counted {
      val n = df.collect().length
      val law = Fixtures.linearGrid.laws("air")
      assert(n == (for (t <- 6 until 24; i <- 0 until 12; j <- 0 until 10
        if law(Array(t, i, j)) < 215.0) yield 1).size)
      assert(ReadCounters.partitionsOpened.sum() == 2L)
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partitions=2/4"), plan)
  }
}

/** Timestamp observations, hourly in t and by the second in x from
  * `t0`, with NaT wherever (7t + x) % 11 == 3.
  */
private final case class NatTimeLaw(t0: Long) extends graft.grid.GridFun {
  def apply(i: Array[Int]): Double =
    if ((i(0) * 7 + i(1)) % 11 == 3) Long.MinValue.toDouble
    else (t0 + i(0) * 3600000000L + i(1) * 1000000L).toDouble
}
