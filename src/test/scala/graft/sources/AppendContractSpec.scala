package graft.sources

import graft.{SparkTestBase, TempDirs, XarrayContext}
import graft.grid.{Fixtures, TreeBytes, ZarrGridStore}
import org.apache.spark.graftspec.JobLog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** The append contract on both entry points, `df.write.format("zarr")`
  * with `appendDim` and [[ZarrGridStore.appendFromRows]]: the slab is
  * evaluated once, in two jobs (the scatter's map stage and its
  * reduce), and every rejected slab leaves the tree byte-identical.
  * Rejections the map stage can see fail before the reduce runs, so
  * before any chunk is staged.
  */
class AppendContractSpec extends SparkTestBase with TempDirs {

  private def gridDf = new XarrayContext(spark).dataFrame("contract_grid",
    Fixtures.linearGrid, Map("t" -> 6), Seq("t", "lat", "lon"))

  private def slab(t0: Int, t1: Int): DataFrame =
    gridDf.filter(col("t") >= t0 && col("t") < t1)

  /** A fresh store holding t 0..11 in t=6, lat=5 chunks. */
  private def store(): String = {
    val root = tempDir("contract").resolve("store").toString
    slab(0, 12).write.format("zarr").option("dims", "t,lat,lon")
      .option("chunks", "t=6,lat=5").mode("overwrite").save(root)
    root
  }

  private val entryPoints: Seq[(String, (DataFrame, String) => Unit)] = Seq(
    "format" -> ((df, root) => df.write.format("zarr")
      .option("dims", "t,lat,lon").option("appendDim", "t")
      .mode("append").save(root)),
    "appendFromRows" -> ((df, root) => {
      ZarrGridStore.appendFromRows(df, root, "t"); ()
    }))

  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage)).mkString(" | ")

  private def siblings(root: String): Seq[String] =
    Files.list(Path.of(root).getParent).iterator().asScala
      .map(_.getFileName.toString).toSeq.sorted

  /** `bad` fails on both entry points with a message holding every one
    * of `expect`, in `jobs` Spark jobs, and leaves the tree and its
    * directory as they were.
    */
  private def rejected(bad: DataFrame, jobs: Int, expect: String*): Unit =
    entryPoints.foreach { case (entry, append) =>
      withClue(s"[$entry] ") {
        val root = store()
        val before = TreeBytes.walk(root)
        val besides = siblings(root)
        val (log, e) = JobLog(spark.sparkContext)(
          intercept[Exception](append(bad, root)))
        expect.foreach(m => assert(messages(e).contains(m), messages(e)))
        assert(log.jobs == jobs, log.scopes)
        assert(TreeBytes.walk(root) == before, "the tree changed")
        assert(siblings(root) == besides, "staging left behind")
      }
    }

  test("a non-append coordinate the store lacks fails before staging") {
    rejected(slab(12, 18).withColumn("lat", col("lat") + 1.0), 1,
      "is not a coordinate of lat")
  }

  test("a slab missing one store coordinate fails before commit") {
    rejected(slab(12, 18).filter(col("lon") =!= 200.0), 1,
      "dim lon of the slab differs from the store", "9 of its 10")
  }

  test("labels that overlap the store fail before any chunk is staged") {
    rejected(slab(10, 14), 1, "overlap the store (10, 11)")
  }

  test("a NULL append label fails and names the dim") {
    rejected(slab(12, 14).withColumn("t",
      when(col("t") === 13, lit(null)).otherwise(col("t"))), 1,
      "slab t holds NULL")
  }

  test("a duplicate cell fails and stages nothing") {
    val once = slab(13, 14).filter(col("lat") === 75.0 && col("lon") === 200.0)
    rejected(slab(12, 14).union(once), 2, "duplicate cell")
  }

  test("aligned and unaligned appends run 2 jobs, no object aggregate") {
    entryPoints.foreach { case (entry, append) =>
      withClue(s"[$entry] ") {
        val root = store()
        // 12 % 6 == 0: new chunks only; 15 % 6 != 0: an edge merge
        for ((t0, t1) <- Seq((12, 15), (15, 18))) {
          val (log, _) = JobLog(spark.sparkContext)(append(slab(t0, t1), root))
          assert(log.jobs == 2, s"t $t0..$t1: ${log.scopes}")
          assert(!log.scopes.exists(_.contains("ObjectHashAggregate")),
            log.scopes)
        }
        val back = spark.read.format("zarr").load(root)
        assert(back.count() == 18L * 12 * 10)
        TreeBytes.assertTreesEqual(oneShot(18), root)
      }
    }
  }

  test("without AQE the map stage still runs alone before the reduce") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      rejected(slab(10, 14), 1, "overlap the store (10, 11)")
      val root = store()
      val (log, _) = JobLog(spark.sparkContext)(
        ZarrGridStore.appendFromRows(slab(12, 15), root, "t"))
      assert(log.jobs == 2, log.scopes)
      TreeBytes.assertTreesEqual(oneShot(15), root)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  /** A one-shot write of t 0..t1-1, the tree every append must equal. */
  private def oneShot(t1: Int): String = {
    val root = tempDir("contract_oneshot").resolve("store").toString
    slab(0, t1).write.format("zarr").option("dims", "t,lat,lon")
      .option("chunks", "t=6,lat=5").mode("overwrite").save(root)
    root
  }

  test("the slab is evaluated once: a counting UDF fires once per cell") {
    entryPoints.foreach { case (entry, append) =>
      withClue(s"[$entry] ") {
        val root = store()
        AppendContractSpec.calls.set(0)
        val t = udf { (id: Long) =>
          AppendContractSpec.calls.incrementAndGet()
          12 + (id / 120).toInt
        }
        val cells = 6L * 12 * 10
        val rows = spark.range(cells).select(t(col("id")).as("t"),
          (lit(75.0) - (col("id") / 10).cast("long") % 12 * 2.5).as("lat"),
          (lit(200.0) + (col("id") % 10) * 2.5).as("lon"),
          lit(1.0).as("air"))
        append(rows, root)
        assert(AppendContractSpec.calls.get == cells)
      }
    }
  }

  test("fresh-write inference runs no object aggregate") {
    val (log, schema) = JobLog(spark.sparkContext)(
      ZarrWrite.inferGridSchema(gridDf, Seq("t", "lat", "lon")))
    assert(schema.dims.map(_.size) == Seq(24, 12, 10))
    assert(!log.scopes.exists(_.contains("ObjectHashAggregate")), log.scopes)
  }
}

object AppendContractSpec {
  val calls = new AtomicLong
}
