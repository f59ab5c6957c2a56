package graft
import java.nio.file.{Files, Path, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Failures are LOUD: a query that throws gets a `_ERROR.txt` marker
  * inside its output dir (so the driver's parquet read of that dir fails
  * visibly instead of the query silently vanishing from the round's
  * correctness artifact — the round-7 events regression shipped unnoticed
  * exactly because failures only went to stderr) plus an entry in the
  * top-level `errors.json`, which is written every run (`{}` when clean)
  * so its absence is itself a signal.
  */
object Verify {
  /** Pinned failure-marker path: `<outDir>/<name>/_ERROR.txt`. */
  def writeError(outDir: String, name: String, msg: String): Path = {
    val dir = Paths.get(outDir, name)
    Files.createDirectories(dir)
    val p = dir.resolve("_ERROR.txt")
    Files.writeString(p, msg)
    p
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    // local iteration aid (driver never sets it): run only the named
    // queries, comma-separated
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // non-oracled queries get their schema pinned here instead:
        // names + types must match the declared DDL exactly
        SparkEntry.pinnedSchemas.get(name).foreach { ddl =>
          val expected = org.apache.spark.sql.types.StructType.fromDDL(ddl)
          val got = org.apache.spark.sql.types.StructType(
            df.schema.map(f => f.copy(metadata =
              org.apache.spark.sql.types.Metadata.empty, nullable = true)))
          val want = org.apache.spark.sql.types.StructType(
            expected.map(_.copy(nullable = true)))
          require(got == want,
            s"schema drift: got ${got.toDDL}, pinned ${expected.toDDL}")
        }
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        val msg = String.valueOf(e) // covers null getMessage
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg
        // the marker write itself must never mask the original failure
        try writeError(outDir, name, msg)
        catch { case m: Throwable =>
          System.err.println(s"[verify] $name: marker write failed: $m")
        }
      }
    }
    val json = JsonUtil.obj(SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/errors.json"), JsonUtil.obj(errors))
    if (errors.nonEmpty)
      System.err.println(
        s"[verify] ${errors.size} FAILED: ${errors.keys.mkString(", ")}")
    spark.stop()
    // deliberately exit 0 even on failures: the driver must still collect
    // the partial artifacts (now including the loud markers) rather than
    // treating the whole round's correctness dump as absent.
  }
}
