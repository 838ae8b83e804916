package graft.grid

import org.scalatest.funsuite.AnyFunSuite

/** Inverse-transform property tests, mirroring tests/test_jgrid3.py:45-69
  * (10 random latlng points must round-trip within 1 pixel).
  */
class GeoTransformSpec extends AnyFunSuite {

  // h19v08-style MODIS tile header (tests/test_jgrid3.py:48-56)
  val modisHeader = GridHeader(
    name = "h19v08", width = 4800, height = 4800,
    fracWidth = 200, fracHeight = 200, fracNDates = 2,
    dtype = "float32", srs = "sinusoidal",
    geot = Seq(1111950.519667, 231.65635826374995, 0.0,
      1111950.519667, 0.0, -231.65635826395834),
    timestampsMs = Seq(1L, 2L), nodata = Double.NaN)

  test("latlng -> xy -> latlng round-trips within one pixel (sinusoidal)") {
    val (minLat, minLng) = modisHeader.xyToLatLng(0, modisHeader.height)
    val (maxLat, maxLng) = modisHeader.xyToLatLng(modisHeader.width, 0)
    val rnd = new scala.util.Random(42)
    for (_ <- 0 until 100) {
      val lat = minLat + rnd.nextDouble() * (maxLat - minLat)
      val lng = minLng + rnd.nextDouble() * (maxLng - minLng)
      val (x, y) = modisHeader.latLngToXY(lat, lng)
      val (lat2, lng2) = modisHeader.xyToLatLng(x, y)
      val (x2, y2) = modisHeader.latLngToXY(lat2, lng2)
      assert(math.abs(x2 - x) < 1.0 && math.abs(y2 - y) < 1.0,
        s"($lat,$lng) -> ($x,$y) -> ($lat2,$lng2) -> ($x2,$y2)")
    }
  }

  test("sinusoidal forward/inverse are exact inverses") {
    val rnd = new scala.util.Random(7)
    for (_ <- 0 until 1000) {
      val lat = -85 + rnd.nextDouble() * 170
      val lng = -179 + rnd.nextDouble() * 358
      val (sx, sy) = GeoTransform.latLngToSinu(lat, lng)
      val (lat2, lng2) = GeoTransform.sinuToLatLng(sx, sy)
      assert(math.abs(lat2 - lat) < 1e-9 && math.abs(lng2 - lng) < 1e-9)
    }
  }

  test("known point: equator/prime meridian maps to sinusoidal origin") {
    val (sx, sy) = GeoTransform.latLngToSinu(0.0, 0.0)
    assert(sx == 0.0 && sy == 0.0)
    // one degree of longitude at the equator = R * pi/180 meters
    val (sx1, _) = GeoTransform.latLngToSinu(0.0, 1.0)
    assert(math.abs(sx1 - GeoTransform.SinusoidalRadius * math.Pi / 180) < 1e-6)
  }

  test("Column forms agree with scalar forms") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val pts = Seq((-10.0, 20.0), (45.5, -120.25), (0.0, 0.0), (-33.3, 150.1))
    val df = pts.toDF("lat", "lng")
      .withColumn("sx", GeoTransform.latLngToSinuX(col("lat"), col("lng")))
      .withColumn("sy", GeoTransform.latLngToSinuY(col("lat")))
      .withColumn("lat2", GeoTransform.sinuToLat(col("sy")))
      .withColumn("lng2", GeoTransform.sinuToLng(col("sx"), col("sy")))
    df.collect().foreach { r =>
      val (sx, sy) = GeoTransform.latLngToSinu(r.getDouble(0), r.getDouble(1))
      assert(math.abs(r.getDouble(2) - sx) < 1e-6)
      assert(math.abs(r.getDouble(3) - sy) < 1e-6)
      assert(math.abs(r.getDouble(4) - r.getDouble(0)) < 1e-9)
      assert(math.abs(r.getDouble(5) - r.getDouble(1)) < 1e-9)
    }
  }

  test("point-in-polygon: scalar ray caster on known cases") {
    val square = Array((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0))
    assert(PointInPolygon.contains(square, 5, 5))
    assert(!PointInPolygon.contains(square, 15, 5))
    assert(!PointInPolygon.contains(square, -1, 5))
    val triangle = Array((0.0, 0.0), (10.0, 0.0), (0.0, 10.0))
    assert(PointInPolygon.contains(triangle, 2, 2))
    assert(!PointInPolygon.contains(triangle, 8, 8))
    // concave polygon (L-shape)
    val ell = Array((0.0, 0.0), (10.0, 0.0), (10.0, 4.0), (4.0, 4.0),
      (4.0, 10.0), (0.0, 10.0))
    assert(PointInPolygon.contains(ell, 2, 8))
    assert(PointInPolygon.contains(ell, 8, 2))
    assert(!PointInPolygon.contains(ell, 8, 8))
  }

  test("native codegen expression handles a 720-vertex polygon") {
    val spark = graft.TestSpark.spark
    import org.apache.spark.sql.functions._
    import graft.functions.RegionAtExpr
    // a 720-vertex circle of radius 4 centered at (5, 5): the lookup in
    // its interval table compiles to the same code as a square's
    val circle = Array.tabulate(720) { k =>
      val a = 2 * math.Pi * k / 720
      (5.0 + 4.0 * math.cos(a), 5.0 + 4.0 * math.sin(a))
    }
    val square = Array((1.0, 1.0), (9.0, 1.0), (9.0, 9.0), (1.0, 9.0))
    def inside(ring: Array[(Double, Double)]) = spark.range(100)
      .select((col("id") % 10).cast("int").as("x"),
        expr("id div 10").cast("int").as("y"))
      .withColumn("inside", RegionAtExpr(
        RegionIntervals(Seq(ring), 0, 10, 0, 10), col("x"), col("y")) >= 0)
    def code(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.debug.codegenToSeq().map(_._2).mkString
    assert(code(inside(circle)) == code(inside(square)))
    inside(circle).collect().foreach { r =>
      val (px, py) = (r.getInt(0) + 0.5, r.getInt(1) + 0.5)
      val expected = math.hypot(px - 5, py - 5) < 4.0 // well off the rim
      if (math.abs(math.hypot(px - 5, py - 5) - 4.0) > 0.1) {
        assert(r.getBoolean(2) == expected, s"($px,$py)")
      }
      val scalar = PointInPolygon.contains(circle, px, py)
      assert(r.getBoolean(2) == scalar, s"scalar mismatch ($px,$py)")
    }
  }
}
