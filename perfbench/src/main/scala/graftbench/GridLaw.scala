package graftbench

import graft.grid._

/** Seeded value law of the benchmark's grids over (time, lat, lon).
  *
  * `air` is an integer number of 1/64 units and `pr` of 1/128 units:
  * a smooth part per time step, latitude and longitude plus per-cell
  * hashed noise (so chunks compress like measured data, not like a
  * closed-form law). Every value is dyadic, so every sum the workloads
  * ask for is exact in float64 in any summation order, and the expected
  * answers are recomputed here in exact integer arithmetic.
  */
final case class GridLaw(seed: Long, nlat: Int, nlon: Int) {
  private def mix(a: Long, b: Long, c: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + a * 0xBF58476D1CE4E5B9L +
      b * 0x94D049BB133111EBL + c
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def lat(i: Int): Double = -90.0 + 0.75 * i
  def lon(j: Int): Double = 0.5 * j
  def latIndex(v: Double): Int = ((v + 90.0) / 0.75).toInt
  def lonIndex(v: Double): Int = (v / 0.5).toInt

  def airU(t: Int, i: Int, j: Int): Long =
    1024 + (mix(1, t, 0) & 511) + (1663 - 8 * math.abs(i - nlat / 2)) +
      (mix(2, i, 0) & 63) + (mix(3, j, 0) & 255) +
      (mix(4, t, i.toLong * nlon + j) & 511) - 256

  def prU(t: Int, i: Int, j: Int): Long =
    512 + (mix(5, t, 0) & 255) + (mix(6, i, 0) & 127) +
      (mix(7, t, i.toLong * nlon + j) & 1023)

  def air(t: Int, i: Int, j: Int): Double = airU(t, i, j) / 64.0
  def pr(t: Int, i: Int, j: Int): Double = prU(t, i, j) / 128.0

  def schema(t0: Int, nt: Int, vars: Seq[String]): GridSchema = GridSchema(
    Seq(DimDef("time", IntCoords((t0 until t0 + nt).toArray)),
      DimDef("lat", DoubleCoords(Array.tabulate(nlat)(lat))),
      DimDef("lon", DoubleCoords(Array.tabulate(nlon)(lon)))),
    vars.map(v => VarDef(v, Seq("time", "lat", "lon"), GDouble)))

  /** The store holding time steps [t0, t0 + nt) of `vars`. */
  def store(t0: Int, nt: Int, vars: Seq[String]): SyntheticGridStore =
    SyntheticGridStore(schema(t0, nt, vars),
      vars.map(v => v -> (LawFun(this, v, t0): GridFun)).toMap)
}

/** One variable of a [[GridLaw]] over local indices shifted by `t0`. */
final case class LawFun(law: GridLaw, v: String, t0: Int) extends GridFun {
  def apply(idx: Array[Int]): Double =
    if (v == "air") law.air(t0 + idx(0), idx(1), idx(2))
    else law.pr(t0 + idx(0), idx(1), idx(2))
}
