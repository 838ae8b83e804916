package graft.grid

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Grid catalog entry (reference: the jGrid header —
  * rastercube/jgrid/jgrid3.py:100-183, persisted as JSON via
  * to_dict/save/load jgrid3.py:634-680).
  *
  * One row per grid; persisted as a one-record JSON file under
  * `<root>/header.json` (SRC2/SNK3: [[save]], `GridHeader.load`). The
  * reference's numpy dtype string becomes a symbolic `dtype`; the OGC
  * WKT spatial ref collapses to the two projections the system actually
  * uses (closed-form math in [[GeoTransform]] replaces GDAL).
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

  /** Write this header as the one record of `<root>/header.json`: to a
    * hidden temp file first, then renamed over the part file (the
    * store's existing one, else `part-00000.json`), so a reader sees the
    * old record or the new one, never an empty or partial one.
    *
    * On the local FileSystem the write bypasses the checksum sidecar
    * (`.<part>.crc`): a data file and its sidecar cannot be replaced in
    * one rename. A stale sidecar is deleted first, while the old record
    * is still in place; a file without one reads unverified. A
    * FileSystem whose rename refuses to replace a file (HDFS) gets
    * delete + rename: there a concurrent load can fail with "no record",
    * but never reads a torn one.
    */
  def save(spark: SparkSession, root: String): Unit = {
    import GridHeader._
    val d = dir(root)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration) match {
      case local: ChecksumFileSystem => local.getRawFileSystem
      case other => other
    }
    fs.mkdirs(d)
    val part = parts(fs, d).headOption
      .getOrElse(new Path(d, "part-00000.json"))
    val tmp = new Path(d, s"_tmp-${java.util.UUID.randomUUID()}.json")
    fs.delete(new Path(d, s".${part.getName}.crc"), false)
    try {
      val out = fs.create(tmp, false)
      try out.write((toJson(this) + "\n").getBytes(UTF_8)) finally out.close()
      if (!fs.rename(tmp, part)) {
        fs.delete(part, false)
        require(fs.rename(tmp, part), s"cannot move header $tmp to $part")
      }
    } finally fs.delete(tmp, false)
  }
}

/** Header IO: `<root>/header.json` is a directory holding ONE JSON-lines
  * part file with one record (the layout Spark's JSON writer produced;
  * every store keeps it). It is read and written through the Hadoop
  * FileSystem on the driver, so neither runs a Spark job. Non-finite
  * doubles are quoted ("NaN"), as Spark's writer quotes them.
  */
object GridHeader {
  private val json = new ObjectMapper()

  private def dir(root: String): Path = new Path(s"$root/header.json")

  /** Part files of a header directory: every non-hidden file (`_SUCCESS`,
    * checksum sidecars and an unfinished save's temp file are hidden). */
  private def parts(fs: FileSystem, d: Path): Seq[Path] =
    fs.listStatus(d).toSeq.map(_.getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))

  /** The header of the store at `root`; fails naming the directory when it
    * holds no record, more than one part file, or more than one line. */
  def load(spark: SparkSession, root: String): GridHeader = {
    val d = dir(root)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = parts(fs, d)
    require(files.size <= 1,
      s"header $d holds ${files.size} part files, expected one")
    val lines = files.flatMap { p =>
      val in = fs.open(p)
      try new String(in.readAllBytes(), UTF_8).split('\n').toSeq
      finally in.close()
    }.filter(_.trim.nonEmpty)
    require(lines.nonEmpty, s"header $d holds no record")
    require(lines.size == 1, s"header $d holds ${lines.size} lines, expected one")
    fromJson(lines.head, d)
  }

  private def toJson(h: GridHeader): String = {
    val o = json.createObjectNode()
      .put("name", h.name).put("width", h.width).put("height", h.height)
      .put("fracWidth", h.fracWidth).put("fracHeight", h.fracHeight)
      .put("fracNDates", h.fracNDates).put("dtype", h.dtype).put("srs", h.srs)
    val geot = o.putArray("geot")
    h.geot.foreach(v => geot.add(v))
    val ts = o.putArray("timestampsMs")
    h.timestampsMs.foreach(v => ts.add(v))
    json.writeValueAsString(o.put("nodata", h.nodata))
  }

  private val nonFinite = Set("NaN", "Infinity", "-Infinity")

  private def fromJson(line: String, where: Path): GridHeader = {
    val rec = json.readTree(line)
    def field(k: String, ok: JsonNode => Boolean): JsonNode = {
      val n = rec.get(k)
      require(n != null && ok(n),
        s"header $where: field '$k' is missing or mistyped in $line")
      n
    }
    def isDouble(n: JsonNode) = n.isNumber || n.isTextual && nonFinite(n.textValue)
    def arrayOf(ok: JsonNode => Boolean)(n: JsonNode) =
      n.isArray && n.elements.asScala.forall(ok)
    GridHeader(
      name = field("name", _.isTextual).textValue,
      width = field("width", _.isInt).intValue,
      height = field("height", _.isInt).intValue,
      fracWidth = field("fracWidth", _.isInt).intValue,
      fracHeight = field("fracHeight", _.isInt).intValue,
      fracNDates = field("fracNDates", _.isInt).intValue,
      dtype = field("dtype", _.isTextual).textValue,
      srs = field("srs", _.isTextual).textValue,
      geot = field("geot", arrayOf(isDouble)).elements.asScala.map(_.asDouble).toSeq,
      timestampsMs = field("timestampsMs", arrayOf(n =>
        n.isIntegralNumber && n.canConvertToLong)).elements.asScala.map(_.longValue).toSeq,
      nodata = field("nodata", isDouble).asDouble)
  }
}
