package graft.grid

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Grid catalog entry (reference: the jGrid header —
  * rastercube/jgrid/jgrid3.py:100-183, persisted as JSON via
  * to_dict/save/load jgrid3.py:634-680).
  *
  * One row per grid; persisted as a one-row JSON file under
  * `<root>/header.json` (SRC2/SNK3). The reference's numpy dtype string
  * becomes a symbolic `dtype`; the OGC WKT spatial ref collapses to the
  * two projections the system actually uses (closed-form math in
  * [[GeoTransform]] replaces GDAL).
  *
  * @param dtype one of int16, uint16, uint8, int32, float32, float64
  * @param srs   "sinusoidal" (MODIS) or "wgs84" (GLCF & tests)
  * @param geot  6-element north-up affine geotransform (geot(2)=geot(4)=0)
  * @param timestampsMs epoch-millis time axis (meta.timestamps_ms)
  * @param nodata nodata fill value (meta.nodataval); NaN = none
  */
final case class GridHeader(
    name: String,
    width: Int, height: Int,
    fracWidth: Int, fracHeight: Int, fracNDates: Int,
    dtype: String,
    srs: String,
    geot: Seq[Double],
    timestampsMs: Seq[Long],
    nodata: Double) {

  require(geot.length == 6, s"geot must have 6 elements, got ${geot.length}")
  require(geot(2) == 0.0 && geot(4) == 0.0, "only north-up grids supported")
  require(Seq("int16", "uint16", "uint8", "int32", "float32", "float64").contains(dtype))
  require(Seq("sinusoidal", "wgs84").contains(srs))

  def nDates: Int = timestampsMs.length

  def chunkGrid: ChunkGrid =
    ChunkGrid(width, height, fracWidth, fracHeight, fracNDates, nDates)

  def geotArray: Array[Double] = geot.toArray

  /** WGS84 (lat, lng) -> fractional pixel (x, y) (reference F4+F3:
    * jgrid3.py:247-276). */
  def latLngToXY(lat: Double, lng: Double): (Double, Double) = {
    val (gx, gy) = srs match {
      case "sinusoidal" => GeoTransform.latLngToSinu(lat, lng)
      case "wgs84"      => (lng, lat)
    }
    GeoTransform.geoToPixel(geotArray, gx, gy)
  }

  /** pixel (x, y) -> WGS84 (lat, lng) at the pixel's top-left corner. */
  def xyToLatLng(x: Double, y: Double): (Double, Double) = {
    val (gx, gy) = GeoTransform.pixelToGeo(geotArray, x, y)
    srs match {
      case "sinusoidal" => GeoTransform.sinuToLatLng(gx, gy)
      case "wgs84"      => (gy, gx)
    }
  }

  /** Two grids share a geogrid iff same extent/chunking/SR/geot
    * (reference: headers_are_same_geogrid, jgrid/utils.py:101-111). */
  def sameGeogrid(other: GridHeader): Boolean =
    width == other.width && height == other.height &&
      fracWidth == other.fracWidth && fracHeight == other.fracHeight &&
      srs == other.srs && geot == other.geot

  /** Same geogrid AND same time chunking: a chunk key (frac_num,
    * time_chunk) names the same pixels and dates in both grids, so their
    * chunks can be paired without touching a pixel (reference J2,
    * jgrid/utils.py:114-148). */
  def sharesChunking(other: GridHeader): Boolean =
    sameGeogrid(other) && fracNDates == other.fracNDates

  /** Pixel window [x0, x1) x [y0, y1) covering fractional pixel
    * `points`, clamped to the grid and never inverted: points wholly off
    * the grid give an empty window. */
  def pixelBox(points: Iterable[(Double, Double)]): (Int, Int, Int, Int) = {
    val (xs, ys) = points.unzip
    val x0 = math.min(width, math.max(0, xs.min.floor.toInt))
    val y0 = math.min(height, math.max(0, ys.min.floor.toInt))
    (x0, math.max(x0, math.min(width, xs.max.ceil.toInt)),
      y0, math.max(y0, math.min(height, ys.max.ceil.toInt)))
  }

  def save(spark: SparkSession, root: String): Unit = {
    import spark.implicits._
    Seq(this).toDS().coalesce(1).write.mode("overwrite")
      .json(s"$root/header.json")
  }
}

object GridHeader {
  def load(spark: SparkSession, root: String): GridHeader = {
    import spark.implicits._
    spark.read
      .schema(implicitly[org.apache.spark.sql.Encoder[GridHeader]].schema)
      .json(s"$root/header.json").as[GridHeader].head()
  }

  def headerDf(spark: SparkSession, h: GridHeader): DataFrame = {
    import spark.implicits._
    Seq(h).toDF()
  }
}
