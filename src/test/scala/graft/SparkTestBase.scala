package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per JVM for all suites. */
object SparkTestBase {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true") // events.ts
    .config("spark.ui.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .getOrCreate()

  /** A second session on the shared context with [[GraftExtensions]]
    * installed — graft's optimizer rules and SQL functions, which the
    * shared session lacks. The shared session stays the active and
    * default one.
    */
  lazy val withExtensions: SparkSession = {
    val shared = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    SparkSession.setActiveSession(shared)
    SparkSession.setDefaultSession(shared)
    s
  }
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkTestBase.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `body` once per read surface, failures labelled with it. */
  def onBothSurfaces(body: GridSurface => Unit): Unit =
    GridSurface.both.foreach(s => withClue(s"[$s] ")(body(s)))
}
