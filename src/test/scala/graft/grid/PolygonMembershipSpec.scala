package graft.grid

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col

import graft.TestSpark

/** The polygon operators that read a [[RegionIntervals]] table put
  * exactly the pixels inside that the ray cast puts inside, at every
  * pixel: P5's `in_poly` ([[FractionStore.loadPolyLatLng]]) per ring, and
  * [[GridZonal.rasterizeRegions]]' first-match-wins class per region
  * set, in both orders. Both run with whole-stage codegen on and off
  * (the expression's generated code and its `eval`). The rings are
  * `RegionIntervalsSpec`'s; the grid maps (lat, lng) = (-y, x) exactly,
  * so a pixel-space ring is its own lat/lng ring. */
class PolygonMembershipSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val header = GridHeader(name = "member", width = 24, height = 20,
    fracWidth = 8, fracHeight = 5, fracNDates = 2, dtype = "int16",
    srs = "wgs84", geot = Seq(0.0, 1.0, 0.0, 0.0, 0.0, -1.0),
    timestampsMs = Seq(0L, 1L), nodata = -1.0)

  private lazy val root = {
    val r = TestSpark.tmpDir("membership")
    SyntheticGrid.writeDirect(spark, header, r, new SyntheticGrid.PixelFn {
      def apply(x: Int, y: Int, t: Int): Double = (x * 7 + y * 3 + t) % 50
    })
    r
  }

  private def latLng(ring: Array[(Double, Double)]) =
    ring.map { case (x, y) => (-y, x) }

  private def rayCast(ring: Array[(Double, Double)], x: Int, y: Int) =
    PointInPolygon.contains(ring, x + 0.5, y + 0.5)

  private val fixedRings: Seq[Array[(Double, Double)]] = {
    val diamond = Array((6.5, 1.5), (11.5, 6.5), (6.5, 11.5), (1.5, 6.5))
    val tri = Array((3.5, 3.5), (15.5, 3.5), (3.5, 15.5))
    val onCentres = Array((2.5, 3.5), (9.5, 3.5), (9.5, 8.5), (2.5, 8.5))
    val onCorners = Array((3.0, 3.0), (8.0, 3.0), (8.0, 9.0), (3.0, 9.0))
    val stairs = Array((1.5, 1.5), (8.5, 1.5), (8.5, 5.5), (4.5, 5.5),
      (4.5, 10.5), (1.5, 10.5))
    val left = Array((2.0, 2.0), (7.5, 2.0), (7.5, 9.0), (2.0, 9.0))
    val right = Array((7.5, 2.0), (13.0, 2.0), (13.0, 9.0), (7.5, 9.0))
    val bowtie = Array((2.0, 2.0), (12.0, 12.0), (12.0, 2.0), (2.0, 12.0))
    val star = (0 until 5).map { k =>
      val a = math.Pi / 2 + k * 4 * math.Pi / 5
      (11.5 + 8 * math.cos(a), 9.5 + 8 * math.sin(a))
    }.toArray
    val closed = Array((1.3, 1.7), (9.2, 2.4), (5.5, 10.5), (1.3, 1.7))
    val overlap = Array((4.0, 4.0), (12.0, 4.0), (12.0, 12.0), (4.0, 12.0))
    val offGrid = Array((-5.2, -3.1), (30.4, -2.0), (18.0, 30.0), (-3.0, 12.0))
    Seq(diamond, tri, onCentres, onCorners, stairs, left, right, bowtie,
      star, closed, overlap, offGrid)
  }

  private val randomRings: Seq[Array[(Double, Double)]] = {
    val rnd = new scala.util.Random(17)
    def coord(extent: Int): Double = rnd.nextInt(3) match {
      case 0 => rnd.nextInt(2 * extent + 8) / 2.0 - 2  // centres and edges
      case 1 => rnd.nextInt(extent + 4) - 2.0 + 0.5    // centres
      case _ => rnd.nextDouble() * (extent + 6) - 3
    }
    Seq.fill(300) {
      Array.fill(3 + rnd.nextInt(6))((coord(header.width), coord(header.height)))
    }
  }

  private def withCodegen(on: Boolean)(body: => Unit): Unit = {
    val conf = spark.conf
    val keys = Seq("spark.sql.codegen.wholeStage" -> on.toString,
      "spark.sql.codegen.factoryMode" -> (if (on) "FALLBACK" else "NO_CODEGEN"))
    val saved = keys.map { case (k, _) => k -> conf.getOption(k) }
    try {
      keys.foreach { case (k, v) => conf.set(k, v) }
      body
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** `in_poly` of every row of `ring`'s window load against the ray cast;
    * the window is every pixel-date of the ring's clamped bbox. */
  private def assertPolygonLoad(ring: Array[(Double, Double)]): Int = {
    val (x0, x1, y0, y1) = header.pixelBox(ring)
    val rows = FractionStore.loadPolyLatLng(spark, header, root, latLng(ring),
        0, header.nDates)
      .select("x", "y", "t", "in_poly").collect()
    assert(rows.length == (x1 - x0) * (y1 - y0) * header.nDates)
    rows.count { r =>
      val (x, y) = (r.getInt(0), r.getInt(1))
      assert(r.getBoolean(3) == rayCast(ring, x, y),
        s"pixel ($x, $y) of ${ring.mkString(" ")}")
      r.getBoolean(3)
    }
  }

  /** Every pixel of the rasterized grid against the first ring whose ray
    * cast holds it (65535 where none does). */
  private def assertRasterized(rings: Seq[Array[(Double, Double)]]): Set[Int] = {
    val out = TestSpark.tmpDir("rasterized")
    val h = GridZonal.rasterizeRegions(spark, header,
      rings.zipWithIndex.map { case (ring, i) => s"r$i" -> latLng(ring) }, out)
    val rows = FractionStore.loadSliceXY(spark, h, out,
        0, h.width, 0, h.height, 0, 1, maskNodata = false)
      .select(col("x"), col("y"), col("value").cast("int")).collect()
    assert(rows.length == h.width * h.height)
    rows.map { r =>
      val (x, y) = (r.getInt(0), r.getInt(1))
      val first = rings.indexWhere(rayCast(_, x, y))
      val want = if (first < 0) 65535 else first
      assert(r.getInt(2) == want, s"pixel ($x, $y)")
      want
    }.toSet
  }

  Seq(true, false).foreach { on =>
    val mode = if (on) "codegen on" else "codegen off"

    test(s"loadPolyLatLng in_poly equals the ray cast at every pixel ($mode)") {
      withCodegen(on) {
        assert(fixedRings.forall(assertPolygonLoad(_) > 0))
        // one window load per ring: the first 60 keep the spec short
        assert(randomRings.take(60).map(assertPolygonLoad).sum > 0)
      }
    }

    test(s"rasterizeRegions equals the first-match ray cast at every pixel ($mode)") {
      withCodegen(on) {
        Seq(fixedRings, randomRings).foreach { rings =>
          val forward = assertRasterized(rings)
          val backward = assertRasterized(rings.reverse).map(c =>
            if (c == 65535) c else rings.size - 1 - c)
          // the rings overlap: the order decides which of them show
          assert(forward.size > 2 && forward != backward)
        }
      }
    }
  }

  test("every polygon operator rejects a short or non-finite ring, naming it") {
    val tri = Array((-1.0, 1.0), (-1.0, 5.0), (-4.0, 3.0))
    val bad = Seq(
      "thin" -> (Array((-1.0, 1.0), (-4.0, 3.0)),
        "needs a ring of at least 3 vertices, got 2"),
      "nan" -> (Array((-1.0, 1.0), (Double.NaN, 5.0), (-4.0, 3.0)),
        "has a vertex with no finite pixel position"))
    bad.foreach { case (name, (ring, why)) =>
      def message(call: => Any): String =
        intercept[IllegalArgumentException](call).getMessage
      val p5 = message(FractionStore.loadPolyLatLng(spark, header, root,
        ring, 0, 1))
      assert(p5.contains(s"polygon $why"), p5)
      val regions = Seq("ok" -> tri, name -> ring)
      val rast = message(GridZonal.rasterizeRegions(spark, header, regions,
        TestSpark.tmpDir("rasterized_bad")))
      assert(rast.contains(s"region '$name' $why"), rast)
      val zonal = message(GridZonal.zonalByRegion(spark, header, root,
        regions, 0, 1))
      assert(zonal.contains(s"region '$name' $why"), zonal)
    }
  }
}
