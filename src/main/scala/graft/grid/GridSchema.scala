package graft.grid

import org.apache.spark.sql.types._

/** Column type vocabulary of the grid data model.
  *
  * Mirrors the reference's supported types (SURVEY §1.2; reference
  * xarray_sql/df.py:371-411 `_parse_schema`): fixed-width numerics,
  * microsecond timestamps, and strings (strings are queryable but excluded
  * from pruning bounds, reference df.py:447-450). The model is deliberately
  * flat fixed-width columns — no nested types (reference lib.rs:739-754).
  */
sealed trait GridType extends Serializable {
  def sparkType: DataType
  def byteWidth: Int
}
case object GDouble extends GridType { val sparkType = DoubleType; val byteWidth = 8 }
case object GFloat extends GridType { val sparkType = FloatType; val byteWidth = 4 }
case object GInt extends GridType { val sparkType = IntegerType; val byteWidth = 4 }
case object GLong extends GridType { val sparkType = LongType; val byteWidth = 8 }
/** Microseconds since epoch, UTC — Spark's native timestamp resolution. */
case object GTimestamp extends GridType { val sparkType = TimestampType; val byteWidth = 8 }
/** Day-time interval (timedelta), microseconds — Spark's ANSI interval.
  * The reference's `prediction_timedelta` coordinate shape
  * (benchmarks/geospatial/05_forecast_skill.py:158-171).
  */
case object GDuration extends GridType { val sparkType = DayTimeIntervalType(); val byteWidth = 8 }
case object GString extends GridType { val sparkType = StringType; val byteWidth = 16 }

object GridType {
  /** The grid type a Spark column of type `dt` writes as, if any. */
  def of(dt: DataType): Option[GridType] = dt match {
    case DoubleType => Some(GDouble)
    case FloatType => Some(GFloat)
    case IntegerType => Some(GInt)
    case LongType => Some(GLong)
    case TimestampType => Some(GTimestamp)
    case _: DayTimeIntervalType => Some(GDuration)
    case StringType => Some(GString) // vlen-utf8 (v2 |O, v3 "string")
    case _ => None
  }
}

/** A 1-D dimension-coordinate array (the axis labels of one dimension).
  * May be ascending or descending (descending axes are load-bearing in the
  * reference, e.g. NCEP latitude 75 -> 15; reference df.py:455-460).
  */
sealed trait CoordArray extends Serializable {
  def size: Int
  def gridType: GridType
  /** Catalyst-internal value at index i (Double/Float/Int/Long/UTF8String). */
  def internal(i: Int): Any
}
final case class DoubleCoords(values: Array[Double]) extends CoordArray {
  def size: Int = values.length
  def gridType: GridType = GDouble
  def internal(i: Int): Any = values(i)
}
final case class FloatCoords(values: Array[Float]) extends CoordArray {
  def size: Int = values.length
  def gridType: GridType = GFloat
  def internal(i: Int): Any = values(i)
}
final case class IntCoords(values: Array[Int]) extends CoordArray {
  def size: Int = values.length
  def gridType: GridType = GInt
  def internal(i: Int): Any = values(i)
}
final case class LongCoords(values: Array[Long]) extends CoordArray {
  def size: Int = values.length
  def gridType: GridType = GLong
  def internal(i: Int): Any = values(i)
}
/** values are microseconds since epoch. */
final case class TimeCoords(values: Array[Long]) extends CoordArray {
  def size: Int = values.length
  def gridType: GridType = GTimestamp
  def internal(i: Int): Any = values(i)
}
/** values are timedelta microseconds (DayTimeIntervalType physical rep). */
final case class DurationCoords(values: Array[Long]) extends CoordArray {
  def size: Int = values.length
  def gridType: GridType = GDuration
  def internal(i: Int): Any = values(i)
}
final case class StringCoords(values: Array[String]) extends CoordArray {
  def size: Int = values.length
  def gridType: GridType = GString
  def internal(i: Int): Any =
    org.apache.spark.unsafe.types.UTF8String.fromString(values(i))
}

/** A named dimension with its coordinate labels. Non-Gregorian CF
  * calendars (360_day, julian) keep their coordinate as int64 offsets and
  * carry `calendar` + `units` metadata (reference cftime.py:196-209); the
  * metadata is propagated onto the Spark column so the provenance survives
  * the pivot.
  */
final case class DimDef(name: String, coords: CoordArray,
    calendar: Option[String] = None, units: Option[String] = None,
    attrs: Map[String, String] = Map.empty) {
  def size: Int = coords.size
}

/** A data variable spanning an ordered tuple of dimensions (C-order).
  * `attrs` carries xarray-style variable attributes/encoding hints
  * (units, long_name, ...) so round trips restore them
  * (reference ds.py:72-147 template attr recovery).
  */
final case class VarDef(name: String, dims: Seq[String], dtype: GridType,
    attrs: Map[String, String] = Map.empty)

/** Schema of one logical dataset: dims + data variables (SURVEY §1.1).
  * The pivot rule: columns = dimension coordinates + data variables;
  * rows = the cross product of dimension indices. `attrs` are
  * dataset-level attributes (title, institution, ...).
  */
final case class GridSchema(dims: Seq[DimDef], vars: Seq[VarDef],
    attrs: Map[String, String] = Map.empty) {
  def dim(name: String): DimDef =
    dims.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"unknown dim $name"))
  def dimNames: Seq[String] = dims.map(_.name)

  /** Variables grouped by their dims tuple — heterogeneous datasets split
    * into one table per group (reference sql.py:181-191).
    */
  def varGroups: Seq[(Seq[String], Seq[VarDef])] =
    vars.groupBy(_.dims).toSeq.sortBy(_._1.mkString(","))

  /** Spark schema of the pivoted table for one dim-group. Calendar dims
    * carry `xarray:calendar` / `xarray:units` column metadata; dim and
    * variable attrs propagate as `xarray:attr:<key>` so provenance
    * survives the pivot onto Spark columns.
    */
  def tableSchema(groupDims: Seq[String], groupVars: Seq[VarDef]): StructType =
    StructType(
      groupDims.map { dn =>
        val d = dim(dn)
        val mb = new MetadataBuilder()
        d.calendar.foreach(c => mb.putString("xarray:calendar", c))
        d.units.foreach(u => mb.putString("xarray:units", u))
        d.attrs.foreach { case (k, v) => mb.putString(s"xarray:attr:$k", v) }
        StructField(dn, d.coords.gridType.sparkType, nullable = false,
          metadata = mb.build())
      } ++
        groupVars.map { v =>
          val mb = new MetadataBuilder()
          v.attrs.foreach { case (k, a) => mb.putString(s"xarray:attr:$k", a) }
          StructField(v.name, v.dtype.sparkType, nullable = true,
            metadata = mb.build())
        })
}

/** Chunk-aligned variable storage. One instance is serialized into every
  * Spark `InputPartition`, so implementations must be small to serialize
  * (coord arrays + metadata; never bulk data — data is read or generated
  * on executors at scan time, which is what keeps registration O(metadata)
  * and lets the source scale to arbitrarily large virtual datasets).
  */
trait GridStore extends Serializable {
  def schema: GridSchema

  /** Read one variable restricted to `ranges` (start, length) per dim of the
    * variable, in the variable's own dim order, returning a flat C-order
    * array of length = product(lengths). Called only on executors.
    */
  def readVar(name: String, ranges: Seq[(Int, Int)]): AnyRef

  /** Optional (min, max) statistics of a DATA VARIABLE over `block` —
    * the analogue of Parquet row-group column stats, enabling chunk
    * pruning and metadata counts on variable predicates (beyond the
    * reference, whose bounds cover dims only). Boxed Long for
    * long-kind variables (exact beyond 2^53), boxed Double otherwise.
    * None = unknown (no pruning; always sound). Implementations must
    * only report bounds for chunks whose values are all finite and
    * non-null, because the bounds feed containment (full-inclusion
    * counts) as well as exclusion.
    */
  def varBounds(name: String, block: Seq[(Int, Int)]): Option[(Any, Any)] =
    None

  /** Optional exact value SUM of a DATA VARIABLE over `block` — the
    * partial-aggregate analogue of [[varBounds]]: per-chunk sums
    * recorded at write time let a global SUM (and AVG, with the
    * metadata row count) be answered from metadata for every chunk that
    * falls fully inside the predicate region, scanning only boundary
    * chunks. None = unknown (always sound). Implementations must only
    * report sums for chunks whose values are ALL FINITE — NaN/Inf
    * chunks must reach the scan so IEEE propagation survives — and
    * should note that a metadata sum fixes one particular accumulation
    * order, exactly like any distributed partial aggregate does.
    */
  def varSums(name: String, block: Seq[(Int, Int)]): Option[Double] = None
}

/** Deterministic value law for synthetic variables (seedable, so executors
  * regenerate chunk data locally instead of shipping arrays from the
  * driver — the synthetic analogue of reading from object storage).
  */
trait GridFun extends Serializable {
  def apply(idx: Array[Int]): Double
}

/** In-memory/synthetic store: per-variable value laws over global indices.
  * Mirrors the reference's seeded-numpy fixtures (FIXTURES.md).
  */
final case class SyntheticGridStore(
    schema: GridSchema,
    laws: Map[String, GridFun]) extends GridStore {

  def readVar(name: String, ranges: Seq[(Int, Int)]): AnyRef = {
    val v = schema.vars.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"unknown var $name"))
    val law = laws(name)
    val lens = ranges.map(_._2).toArray
    val starts = ranges.map(_._1).toArray
    val n = lens.product
    val idx = new Array[Int](lens.length)
    def fill[T](out: Array[T], cast: Double => T): Array[T] = {
      var i = 0
      while (i < n) {
        var rem = i
        var k = lens.length - 1
        while (k >= 0) { idx(k) = starts(k) + rem % lens(k); rem /= lens(k); k -= 1 }
        out(i) = cast(law(idx))
        i += 1
      }
      out
    }
    v.dtype match {
      case GDouble => fill(new Array[Double](n), identity)
      case GFloat => fill(new Array[Float](n), _.toFloat)
      case GInt => fill(new Array[Int](n), _.toInt)
      case GLong | GTimestamp | GDuration => fill(new Array[Long](n), _.toLong)
      case GString => throw new IllegalArgumentException(
        "string data variables are not part of the model")
    }
  }
}
