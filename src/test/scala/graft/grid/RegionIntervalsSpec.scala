package graft.grid

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.expressions.Literal

/** The scanline table must hold exactly the pixel centres the ray cast
  * puts inside each ring, over the whole grid (outside the window the
  * ray cast must say "outside" too). Rings are (x, y) pixel space. */
class RegionIntervalsSpec extends AnyFunSuite {

  private val header = GridHeader(name = "scan", width = 24, height = 20,
    fracWidth = 8, fracHeight = 5, fracNDates = 1, dtype = "int16",
    srs = "wgs84", geot = Seq(0.0, 1.0, 0.0, 0.0, 0.0, -1.0),
    timestampsMs = Seq(0L), nodata = -1.0)

  private def table(rings: Seq[Array[(Double, Double)]]): RegionIntervals = {
    val (x0, x1, y0, y1) = header.pixelBox(rings.flatten)
    RegionIntervals(rings, x0, x1, y0, y1)
  }

  /** (region, x, y) of every interval pixel; an interval pixel listed
    * twice for one region fails. */
  private def members(t: RegionIntervals): Set[(Int, Int, Int)] = {
    val listed = for {
      row <- 0 until t.y1 - t.y0
      e <- t.rowStart(row) until t.rowStart(row + 1)
      x <- t.xFrom(e) until t.xTo(e)
    } yield (t.region(e), x, t.y0 + row)
    assert(listed.size == listed.toSet.size, "overlapping intervals of one region")
    listed.toSet
  }

  private def rayCast(ring: Array[(Double, Double)], x: Int, y: Int): Boolean =
    PointInPolygonExpr(ring.map(_._1), ring.map(_._2),
      Literal(x.toDouble + 0.5), Literal(y.toDouble + 0.5))
      .eval().asInstanceOf[Boolean]

  private def assertRayCast(rings: Seq[Array[(Double, Double)]]): Set[(Int, Int, Int)] = {
    val got = members(table(rings))
    val want = (for {
      (ring, r) <- rings.zipWithIndex
      y <- 0 until header.height
      x <- 0 until header.width
      if rayCast(ring, x, y)
    } yield (r, x, y)).toSet
    assert(got == want, s"only intervals: ${got -- want}; only ray cast: ${want -- got}")
    got
  }

  test("vertices exactly on pixel centres") {
    val diamond = Array((6.5, 1.5), (11.5, 6.5), (6.5, 11.5), (1.5, 6.5))
    val tri = Array((3.5, 3.5), (15.5, 3.5), (3.5, 15.5))
    assert(assertRayCast(Seq(diamond, tri)).nonEmpty)
  }

  test("horizontal edges, on and off the centre rows") {
    val onCentres = Array((2.5, 3.5), (9.5, 3.5), (9.5, 8.5), (2.5, 8.5))
    val onCorners = Array((3.0, 3.0), (8.0, 3.0), (8.0, 9.0), (3.0, 9.0))
    val stairs = Array((1.5, 1.5), (8.5, 1.5), (8.5, 5.5), (4.5, 5.5),
      (4.5, 10.5), (1.5, 10.5))
    assert(assertRayCast(Seq(onCentres, onCorners, stairs)).nonEmpty)
  }

  test("two rings touching along an edge split its pixels") {
    val left = Array((2.0, 2.0), (7.5, 2.0), (7.5, 9.0), (2.0, 9.0))
    val right = Array((7.5, 2.0), (13.0, 2.0), (13.0, 9.0), (7.5, 9.0))
    val got = assertRayCast(Seq(left, right))
    val byPixel = got.groupBy { case (_, x, y) => (x, y) }
    assert(byPixel.values.forall(_.size == 1), "a pixel in both rings")
    assert(byPixel.keySet == (for (x <- 2 until 13; y <- 2 until 9) yield (x, y)).toSet)
  }

  test("self-intersecting rings follow the even-odd rule") {
    val bowtie = Array((2.0, 2.0), (12.0, 12.0), (12.0, 2.0), (2.0, 12.0))
    val star = (0 until 5).map { k =>
      val a = math.Pi / 2 + k * 4 * math.Pi / 5
      (11.5 + 8 * math.cos(a), 9.5 + 8 * math.sin(a))
    }.toArray
    val got = assertRayCast(Seq(bowtie, star))
    // the pentagram's centre is enclosed twice, so it is outside
    assert(!got.contains((1, 11, 9)) && got.exists(_._1 == 1))
  }

  test("a repeated closing vertex, overlapping rings, a ring partly off the grid") {
    val closed = Array((1.3, 1.7), (9.2, 2.4), (5.5, 10.5), (1.3, 1.7))
    val overlap = Array((4.0, 4.0), (12.0, 4.0), (12.0, 12.0), (4.0, 12.0))
    val offGrid = Array((-5.2, -3.1), (30.4, -2.0), (18.0, 30.0), (-3.0, 12.0))
    val got = assertRayCast(Seq(closed, overlap, offGrid))
    assert(got.count(_._1 == 2) > 0 && got.exists { case (r, x, y) =>
      r == 0 && got.contains((1, x, y)) })
  }

  test("seeded random rings, vertices on centres, edges and anywhere") {
    val rnd = new scala.util.Random(17)
    def coord(extent: Int): Double = rnd.nextInt(3) match {
      case 0 => rnd.nextInt(2 * extent + 8) / 2.0 - 2  // centres and edges
      case 1 => rnd.nextInt(extent + 4) - 2.0 + 0.5    // centres
      case _ => rnd.nextDouble() * (extent + 6) - 3
    }
    val rings = Seq.fill(300) {
      Array.fill(3 + rnd.nextInt(6))((coord(header.width), coord(header.height)))
    }
    assert(assertRayCast(rings).map(_._1).size > 250)
  }

  test("an empty window holds no interval") {
    val t = RegionIntervals(Seq(Array((1.0, 1.0), (5.0, 1.0), (3.0, 4.0))), 3, 3, 0, 20)
    assert(t.region.isEmpty && t.rowStart.forall(_ == 0))
  }
}
