package graft.grid

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Affine geotransform + map projections (reference: F3/F4 —
  * rastercube/jgrid/jgrid3.py:225-276; sinusoidal/WGS84 WKTs at
  * rastercube/worldgrid/grids.py:58-67, 147-159).
  *
  * Both as pure Scala (driver-side planning, tests) and as Column
  * expressions (executor-side, whole-stage-codegen'd — replaces the
  * reference's GDAL `osr.CoordinateTransformation` with closed-form math).
  *
  * Conventions: north-up affine only (geot(2) == geot(4) == 0, enforced
  * like jgrid3.py:169-183); pixel coordinates are the pixel's top-left
  * corner; `xy2latlng` of the reference uses pixel centers implicitly via
  * +0.5 at call sites, we expose corner coords and let callers offset.
  */
object GeoTransform {

  /** MODIS sinusoidal sphere radius (from the reference WKT,
    * worldgrid/grids.py:147-159). */
  val SinusoidalRadius: Double = 6371007.181

  // ---- pure scalar forms ----------------------------------------------

  /** pixel -> projected geo coords: Xgeo = g0 + x*g1, Ygeo = g3 + y*g5. */
  def pixelToGeo(geot: Array[Double], x: Double, y: Double): (Double, Double) =
    (geot(0) + x * geot(1), geot(3) + y * geot(5))

  /** projected geo -> pixel (north-up inverse). */
  def geoToPixel(geot: Array[Double], gx: Double, gy: Double): (Double, Double) =
    ((gx - geot(0)) / geot(1), (gy - geot(3)) / geot(5))

  /** WGS84 (lat, lng degrees) -> sinusoidal meters. */
  def latLngToSinu(lat: Double, lng: Double): (Double, Double) = {
    val phi = math.toRadians(lat)
    val lam = math.toRadians(lng)
    (SinusoidalRadius * lam * math.cos(phi), SinusoidalRadius * phi)
  }

  /** sinusoidal meters -> WGS84 (lat, lng degrees). */
  def sinuToLatLng(sx: Double, sy: Double): (Double, Double) = {
    val phi = sy / SinusoidalRadius
    val lam = sx / (SinusoidalRadius * math.cos(phi))
    (math.toDegrees(phi), math.toDegrees(lam))
  }

  // ---- Column forms (codegen'd, no UDF) --------------------------------

  def latLngToSinuX(lat: Column, lng: Column): Column =
    lit(SinusoidalRadius) * radians(lng) * cos(radians(lat))
  def latLngToSinuY(lat: Column): Column =
    lit(SinusoidalRadius) * radians(lat)
  def sinuToLat(sy: Column): Column = degrees(sy / lit(SinusoidalRadius))
  def sinuToLng(sx: Column, sy: Column): Column =
    degrees(sx / (lit(SinusoidalRadius) * cos(sy / lit(SinusoidalRadius))))
}
