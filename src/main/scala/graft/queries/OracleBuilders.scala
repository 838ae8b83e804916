package graft.queries

import graft.grid.{GridHeader, SyntheticGrid}

/** Builders for DuckDB oracle SQL of grid-native queries.
  *
  * The synthetic grid fixtures (FIXTURES.md §2) are closed-form integer
  * arithmetic on (x, y, t), so every slice/mask/join/aggregate over them
  * can be recomputed by DuckDB from `range()` cross products — no access
  * to the fraction store needed. Geometry literals (polygon vertices in
  * pixel space, window bounds, geotransform constants) are computed HERE
  * with the exact same Scala code paths the queries use, then embedded
  * as round-trip-exact double literals, so both engines evaluate
  * bit-identical IEEE arithmetic (the only cross-engine libm calls are
  * cos/radians in the reprojection oracle, where a 1-ulp divergence is
  * far below the floor() decision boundaries).
  */
object OracleBuilders {

  /** Round-trip-exact DuckDB double literal. */
  def d(v: Double): String = {
    val s = v.toString
    if (s.contains('.') || s.contains('E') || s.contains('e')) s else s + ".0"
  }

  /** Even-odd ray-cast parity as SQL, an oracle independent of the
    * engine's membership table ([[graft.grid.RegionIntervals]], which
    * scan-converts rings with the same crossing arithmetic): an edge
    * crosses iff (yi > py) != (yj > py) and px is left of the
    * edge/scanline intersection. Horizontal edges (yi == yj) never
    * satisfy the first conjunct, so they are dropped up front (this also
    * keeps the SQL free of 0/0 divisions, which DuckDB would evaluate
    * eagerly — SQL AND does not short-circuit).
    */
  def pipParitySql(poly: Array[(Double, Double)], px: String, py: String): String = {
    val n = poly.length
    val terms = (0 until n).flatMap { i =>
      val j = if (i == 0) n - 1 else i - 1
      val (xi, yi) = poly(i)
      val (xj, yj) = poly(j)
      if (yi == yj) None
      else Some(
        s"(CASE WHEN (${d(yi)} > $py) <> (${d(yj)} > $py) AND " +
          s"$px < (${d(xj)} - ${d(xi)}) * ($py - ${d(yi)}) / " +
          s"(${d(yj)} - ${d(yi)}) + ${d(xi)} THEN 1 ELSE 0 END)")
    }
    s"(((${terms.mkString(" + ")}) % 2) = 1)"
  }

  /** tinygrid value as SQL over integer columns x, y, t
    * ([[SyntheticGrid.tinyValue]]); nodata -999 kept or NULL-masked. */
  def tinyValueSql(mask: Boolean): String =
    if (mask)
      "CAST(CASE WHEN (x + y + t) % 13 = 0 THEN NULL " +
        "ELSE (x * 31 + y * 17 + t * 7) % 97 END AS FLOAT)"
    else
      "CAST(CASE WHEN (x + y + t) % 13 = 0 THEN -999.0 " +
        "ELSE (x * 31 + y * 17 + t * 7) % 97 END AS FLOAT)"

  /** tinygrid value at arbitrary integer coordinate EXPRESSIONS —
    * neighbor lookups for stencil oracles (terrain, focal) recompute
    * the closed form at shifted coordinates instead of self-joining.
    * Nodata is NULL-masked. */
  def tinyValueSqlAt(xe: String, ye: String, te: String): String =
    s"CAST(CASE WHEN (($xe) + ($ye) + ($te)) % 13 = 0 THEN NULL " +
      s"ELSE (($xe) * 31 + ($ye) * 17 + ($te) * 7) % 97 END AS DOUBLE)"

  /** minimodis NDVI value ([[SyntheticGrid.ndviValue]]), int16 store so
    * the pixel view surfaces integers; nodata -3000. */
  def ndviValueSql(mask: Boolean): String =
    if (mask)
      "CASE WHEN (x * y + t) % 17 = 0 THEN NULL " +
        "ELSE (x * 7 + y * 11 + t * 13) % 8000 - 1000 END"
    else
      "CASE WHEN (x * y + t) % 17 = 0 THEN -3000 " +
        "ELSE (x * 7 + y * 11 + t * 13) % 8000 - 1000 END"

  /** minimodis NDVI value at arbitrary integer coordinate EXPRESSIONS
    * (the [[ndviValueSql]] closed form with substituted coordinates) —
    * lets warp oracles sample source pixels without a self-join.
    * Nodata is NULL-masked. */
  def ndviValueSqlAt(xe: String, ye: String, te: String): String =
    s"CASE WHEN (($xe) * ($ye) + ($te)) % 17 = 0 THEN NULL " +
      s"ELSE (($xe) * 7 + ($ye) * 11 + ($te) * 13) % 8000 - 1000 END"

  def qaValueSql: String = "(x * 40503 + y * 9973 + t * 65521) % 65536"

  /** Pixel-space polygon + window bounds for a lat/lng ring on a header,
    * mirroring [[graft.grid.FractionStore.loadPolyLatLng]]. */
  def polyWindow(h: GridHeader, poly: Array[(Double, Double)])
      : (Array[(Double, Double)], Int, Int, Int, Int) = {
    val xyPoly = poly.map { case (lat, lng) => h.latLngToXY(lat, lng) }
    val xs = xyPoly.map(_._1)
    val ys = xyPoly.map(_._2)
    (xyPoly,
      math.max(0, xs.min.floor.toInt), math.min(h.width, xs.max.ceil.toInt),
      math.max(0, ys.min.floor.toInt), math.min(h.height, ys.max.ceil.toInt))
  }

  /** The test.box ring from assets/regions.geojson as (lat, lng) — the
    * same literals the JSON parse yields (decimal -> nearest double). */
  val testBoxLatLng: Array[(Double, Double)] = Array(
    (-0.1, 0.1), (-0.1, 0.9), (-0.9, 0.9), (-0.9, 0.1), (-0.1, 0.1))

  /** The grid_polygon_mask triangle (query literal). */
  val triangleLatLng: Array[(Double, Double)] = Array(
    (-0.0, 0.0), (-0.9, 0.0), (-0.9, 0.9))

  /** The test.triangle ring from assets/regions.geojson as (lat, lng)
    * — [lng, lat] pairs [[0,0],[0,-0.5],[0.5,-0.5],[0,0]] flipped. */
  val testTriangleLatLng: Array[(Double, Double)] = Array(
    (0.0, 0.0), (-0.5, 0.0), (-0.5, 0.5), (0.0, 0.0))
}
