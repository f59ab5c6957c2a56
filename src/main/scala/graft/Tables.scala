package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table loaders for the driver-generated parquet corpus (TESTDATA.md).
  *
  * All queries receive `(spark, sfDir)` and resolve tables through here so
  * scale factors stay interchangeable. `events.ts` has been written two ways
  * across testdata generations — TIMESTAMP(NANOS) (readable only via the
  * `nanosAsLong` legacy conf, as int64) and plain timestamp[us] without a
  * timezone (read as TIMESTAMP_NTZ) — so [[Tables.events]] adapts on the
  * loaded schema rather than assuming either encoding.
  */
object Tables {
  /** Resolved parquet relations per (session, path): file listing and
    * footer schema are read once per session; every action still reads
    * rows from the files. Fingerprint: none (build-once), sound only for
    * paths immutable for a session's lifetime — the mutable bloom and
    * IVF index dirs never come through here. The key holds
    * `sessionUUID` because a relation resolved under one session's
    * confs (e.g. `nanosAsLong`) must never serve another.
    */
  private val relations = new Memo[(String, String), Unit, DataFrame]

  /** Memoized `spark.read.parquet(path)` for write-once paths. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    relations.get((org.apache.spark.sql.graftinterop.ColumnInterop
      .sessionUUID(spark), path), ())(spark.read.parquet(path))

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    readParquet(spark, s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** events with `ts` normalized to a proper TimestampType (microseconds,
    * session zone — Verify/Bench pin the session to UTC, matching DuckDB's
    * naive read of the same file). Schema-adaptive:
    *
    *   - `ts: BIGINT` — legacy TIMESTAMP(NANOS) file read under the
    *     `nanosAsLong` conf as ns-since-epoch; convert ns -> µs with integer
    *     `div` (ns-since-epoch exceeds double's 2^53 mantissa, so `/` would
    *     lose precision).
    *   - `ts: TIMESTAMP_NTZ` — current timestamp[us] file without a
    *     timezone; cast to the session-zone TimestampType (identity under
    *     the UTC session).
    *   - `ts: TIMESTAMP` — already the target type.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _: TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _: TimestampType => raw
      case other => throw new IllegalStateException(
        s"events.ts: expected BIGINT (legacy nanos), TIMESTAMP_NTZ, or " +
          s"TIMESTAMP; got $other")
    }
  }
}
