package graft.grid

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.ZonalStats

/** Zonal statistics per NAMED REGION (the polygon-table complement of
  * the per-class zonal stats): NDVI means per administrative district,
  * per protected area, per field boundary — the reference's
  * notebook-side loop of `load_poly_latlng` calls collapsed into ONE
  * distributed pass.
  *
  * Membership is the [[RegionIntervals]] table, scan-converted once on
  * the driver the way Raptor (VLDB 2019) joins a vector layer with a
  * raster: every region's ring becomes per-row pixel intervals. It is
  * the one membership rule of the polygon operators (P5's `in_poly` and
  * [[rasterizeRegions]] read it too). The table travels as a plan-time
  * constant of the [[ZonalStats]] chunk kernel, which folds each chunk's
  * payload along the intervals that cross it: no pixel rows and no
  * per-pixel containment test, so a chunk's fold reads each covered
  * pixel-date once per region holding it, however many regions the
  * table holds. A pixel inside k
  * overlapping regions contributes to all k (standard zonal semantics).
  * One scan over the union-bbox window, one partial-agg shuffle on
  * (region, t).
  *
  * Scope: the table is built on the driver and shipped with every task,
  * so its size (one entry per region per pixel row it spans) bounds the
  * region set; `SCALING.md` records the cost from 10 to 100k polygons.
  */
object GridZonal {

  /** Per-(region, date) stats over `regions` (name -> (lat, lng) ring;
    * names must be unique). Emits (region, t, n_valid, mean_value,
    * min_value, max_value): one row per region and date with at least
    * one stored pixel of the region in the window; n_valid counts its
    * non-nodata values, and mean/min/max are NULL when there is none. */
  def zonalByRegion(spark: SparkSession, header: GridHeader, root: String,
                    regions: Seq[(String, Array[(Double, Double)])],
                    tFrom: Int, tTo: Int): DataFrame = {
    require(regions.nonEmpty, "need at least one region")
    val names = regions.map(_._1)
    val repeated = names.diff(names.distinct).distinct
    require(repeated.isEmpty, "region names must be unique; repeated: " +
      repeated.map(n => s"'$n'").mkString(", "))
    val xyPolys = regions.map { case (name, ring) =>
      RegionIntervals.pixelRing(header, s"region '$name'", ring)
    }
    // the union bbox, clamped to the grid: a region set fully outside
    // the grid yields an empty window, hence zero rows
    val (x0, x1, y0, y1) = header.pixelBox(xyPolys.flatten)
    val b = GridKernels.box(Seq(header), x0, x1, y0, y1, tFrom, tTo)
    val kernel = ZonalStats(PayloadCodec.code(header.dtype),
      RegionIntervals(xyPolys, b.xFrom, b.xTo, b.yFrom, b.yTo),
      b.tFrom, b.tTo, header.nodata)
    GridKernels.scan(spark, Seq((header, root)), kernel)
      .groupBy(col("s.region").as("r"), col("s.t").as("t"))
      .agg(sum(col("s.sum_v")).as("sv"), sum(col("s.n_valid")).as("nv"),
        min(col("s.min_v")).as("min_v"), max(col("s.max_v")).as("max_v"))
      .select(element_at(typedLit(names), col("r") + 1).as("region"),
        col("t"), col("nv").as("n_valid"),
        when(col("nv") > 0, col("sv") / col("nv")).as("mean_value"),
        col("min_v").as("min_value"), col("max_v").as("max_value"))
  }

  /** Per-class AREA statistics (the land-cover area product: km² of
    * cropland/forest/... in a grid): pixel areas are latitude-dependent
    * on WGS84 grids (cell width shrinks as cos φ), constant on
    * sinusoidal grids (the projection is equal-area — the reason MODIS
    * uses it). The cos-lat weight snaps to the integer micro grid so
    * per-class sums are exact in any accumulation order (the
    * engine-portability trick shared with harmonicFit/DSIR).
    * One codegen projection + one class-keyed partial agg. */
  def classArea(spark: SparkSession, header: GridHeader, root: String,
                t: Int,
                classOf: org.apache.spark.sql.Column =>
                  org.apache.spark.sql.Column): DataFrame = {
    val kmPerDeg = 111.19492664455873 // mean-Earth-radius arc length
    val px = FractionStore.loadSliceXY(spark, header, root,
        0, header.width, 0, header.height, t, t + 1)
      .filter(col("value").isNotNull)
    val weighted = header.srs match {
      case "wgs84" =>
        // pixel-center latitude from the affine; equatorial cell area
        // scaled by micro-snapped cos(lat)
        val lat = lit(header.geot(3)) +
          (col("y").cast("double") + lit(0.5)) * lit(header.geot(5))
        val cellKm2 = math.abs(header.geot(1) * header.geot(5)) *
          kmPerDeg * kmPerDeg
        px.withColumn("w_micro",
          round(cos(radians(lat)) * lit(1e6)).cast("long"))
          .withColumn("cell_km2", lit(cellKm2))
      case "sinusoidal" =>
        // equal-area by construction: geot units are meters
        val cellKm2 = math.abs(header.geot(1) * header.geot(5)) / 1e6
        px.withColumn("w_micro", lit(1000000L))
          .withColumn("cell_km2", lit(cellKm2))
    }
    weighted
      .select(classOf(col("value")).as("cls"), col("w_micro"),
        col("cell_km2"))
      .groupBy(col("cls"))
      .agg(count(lit(1)).as("n_px"),
        round(sum(col("w_micro")).cast("double") / lit(1e6) *
          first(col("cell_km2")), 6).as("area_km2"))
  }

  /** Rasterize a NAMED-REGION table into a class grid (the inverse of
    * region masking, and the missing half of the polygon round trip:
    * vector layers become first-class categorical rasters that every
    * grid operator — zonal stats, change matrix, pyramid mode levels —
    * consumes directly). Membership is one [[RegionIntervals]] table
    * over the grid; the FIRST region holding a pixel wins (callers order
    * by priority), non-covered pixels are nodata. Generation is
    * [[SyntheticGrid.writeDirect]]'s distributed per-chunk generator —
    * one task per chunk, no input scan at all.
    * Returns the written header (uint16 class codes = region index).
    */
  def rasterizeRegions(spark: SparkSession, geo: GridHeader,
                       regions: Seq[(String, Array[(Double, Double)])],
                       root: String): GridHeader = {
    require(regions.nonEmpty && regions.size < 65535,
      "need 1..65534 regions (uint16 codes, 65535 = nodata)")
    val h = geo.copy(name = geo.name + "_regions", dtype = "uint16",
      nodata = 65535.0,
      timestampsMs = geo.timestampsMs.take(1))
    val table = RegionIntervals(regions.map { case (name, ring) =>
      RegionIntervals.pixelRing(h, s"region '$name'", ring)
    }, 0, h.width, 0, h.height)
    val fn = new SyntheticGrid.PixelFn {
      def apply(x: Int, y: Int, t: Int): Double = {
        val r = table.regionAt(x, y)
        if (r < 0) 65535.0 else r.toDouble
      }
    }
    SyntheticGrid.writeDirect(spark, h, root, fn)
    h
  }

  /** Land-cover CHANGE matrix between two dates (the GLCF
    * change-detection product): per (class@tFrom, class@tTo) pixel
    * counts, where `classOf` maps raw values to class codes. Pixels
    * nodata on either date are excluded (a transition needs both ends).
    *
    * Scale shape: the two dates' chunks equi-join on the CHUNK key
    * (frac_num — hundreds of packed rows, never exploded pixels), both
    * payloads decode once per chunk, one generator walks the pixel
    * index, and the only pixel-sized shuffle is the final
    * (from, to)-keyed count — output is classes², not pixels.
    */
  def classTransitions(spark: SparkSession, header: GridHeader, root: String,
                       tFrom: Int, tTo: Int,
                       classOf: org.apache.spark.sql.Column =>
                         org.apache.spark.sql.Column): DataFrame = {
    require(tFrom != tTo, "transition needs two distinct dates")
    def side(t: Int, suffix: String) =
      FractionStore.fractionsForWindow(spark, header, root,
        0, header.width, 0, header.height, t, t + 1)
        .select(col("frac_num"),
          col("data").as(s"data_$suffix"), col("t0").as(s"t0_$suffix"),
          col("nd").as(s"nd_$suffix"), col("w"), col("h"))
    val a = side(tFrom, "a")
    val b = side(tTo, "b").drop("w", "h")
    val joined = a.join(b, Seq("frac_num"))
      .select(col("w"), col("h"),
        FractionStore.unpack(header, col("data_a")).as("arr_a"),
        FractionStore.unpack(header, col("data_b")).as("arr_b"),
        (lit(tFrom) - col("t0_a")).as("off_a"),
        (lit(tTo) - col("t0_b")).as("off_b"),
        col("nd_a"), col("nd_b"))
    val et = FractionStore.elementType(header.dtype)
    val nodataLit = lit(header.nodata).cast(et)
    joined
      .select(col("arr_a"), col("arr_b"), col("off_a"), col("off_b"),
        col("nd_a"), col("nd_b"),
        explode(sequence(lit(0), col("w") * col("h") - 1)).as("pix"))
      .select(
        nullif(element_at(col("arr_a"), col("pix") * col("nd_a")
          + col("off_a") + 1), nodataLit).as("va"),
        nullif(element_at(col("arr_b"), col("pix") * col("nd_b")
          + col("off_b") + 1), nodataLit).as("vb"))
      .filter(col("va").isNotNull && col("vb").isNotNull)
      .select(classOf(col("va")).as("cls_from"),
        classOf(col("vb")).as("cls_to"))
      .groupBy(col("cls_from"), col("cls_to"))
      .agg(count(lit(1)).as("n_px"))
  }
}

/** Region membership of a pixel window as per-row pixel intervals: a
  * set of rings scan-converted once, on the driver. Row y of
  * [y0, y1) owns entries `rowStart(y - y0) until rowStart(y - y0 + 1)`,
  * ordered by region; entry e puts pixels [xFrom(e), xTo(e)) of that row,
  * inside [x0, x1), in ring `region(e)`.
  *
  * The table IS pixel membership for every polygon operator: zonal
  * statistics fold its intervals, P5's `in_poly` and rasterization look
  * pixels up with [[regionAt]]. It equals, bit for bit, the even-odd ray
  * cast at pixel centres, which stays in the tests as the oracle
  * (`RegionIntervalsSpec`). For row y the centre line is
  * py = y + 0.5; each edge crossing it under the same predicate and the
  * same arithmetic, `(yi > py) != (yj > py)` and
  * `(xs(j) - xs(i)) * (py - yi) / (yj - yi) + xs(i)`, yields a crossing
  * c. The ray cast counts the crossings right of px = x + 0.5; the count
  * of a closed ring is even, so with the crossings sorted, px is inside
  * exactly when c(2m) <= px < c(2m+1) for some m. The interval ends are
  * found by evaluating that comparison, so the even-odd rule carries
  * over unchanged to overlapping, touching and self-intersecting rings.
  */
final class RegionIntervals private (
    val x0: Int, val x1: Int, val y0: Int, val y1: Int, val nRegions: Int,
    val rowStart: Array[Int], val region: Array[Int],
    val xFrom: Array[Int], val xTo: Array[Int]) extends Serializable {

  /** The lowest region whose interval holds pixel (x, y), or -1. A
    * row's entries are ordered by region, so the first hit is it. */
  def regionAt(x: Int, y: Int): Int = {
    if (y < y0 || y >= y1) return -1
    var e = rowStart(y - y0)
    while (e < rowStart(y - y0 + 1)) {
      if (xFrom(e) <= x && x < xTo(e)) return region(e)
      e += 1
    }
    -1
  }

  /** Short on purpose: plan strings print the kernel that carries the
    * table. */
  override def toString: String =
    s"RegionIntervals($nRegions regions, x [$x0, $x1), y [$y0, $y1), " +
      s"${region.length} intervals)"
}

object RegionIntervals {

  /** `ring` ((lat, lng) vertices) in `header`'s pixel space, checked the
    * way every polygon operator needs it: at least 3 vertices, every one
    * at a finite pixel position (a NaN vertex would fall outside any
    * window). `what` names the ring in the error. */
  def pixelRing(header: GridHeader, what: String,
                ring: Array[(Double, Double)]): Array[(Double, Double)] = {
    require(ring.length >= 3,
      s"$what needs a ring of at least 3 vertices, got ${ring.length}")
    val xy = ring.map { case (lat, lng) => header.latLngToXY(lat, lng) }
    require(xy.forall { case (x, y) => x.isFinite && y.isFinite },
      s"$what has a vertex with no finite pixel position")
    xy
  }

  /** Scan-convert `rings` ((x, y) pixel-space vertices, closing vertex
    * optional) over the window [x0, x1) x [y0, y1). Each ring visits
    * only the rows its vertical extent can cross. */
  def apply(rings: Seq[Array[(Double, Double)]],
            x0: Int, x1: Int, y0: Int, y1: Int): RegionIntervals = {
    val rowsB, regionsB, fromsB, tosB = new scala.collection.mutable.ArrayBuilder.ofInt
    var cross = new Array[Double](16)
    rings.zipWithIndex.foreach { case (ring, r) =>
      val xs = ring.map(_._1)
      val ys = ring.map(_._2)
      // the rows whose centre line some edge can cross: min <= py < max
      var y = firstCentreAtOrAbove(ys.min, y0, math.max(y0, y1))
      val yEnd = firstCentreAtOrAbove(ys.max, y0, math.max(y0, y1))
      while (y < yEnd) {
        val py = y + 0.5
        var k = 0
        var i = 0
        var j = xs.length - 1
        while (i < xs.length) {
          val yi = ys(i); val yj = ys(j)
          if ((yi > py) != (yj > py)) {
            if (k == cross.length) cross = java.util.Arrays.copyOf(cross, 2 * k)
            cross(k) = (xs(j) - xs(i)) * (py - yi) / (yj - yi) + xs(i)
            k += 1
          }
          j = i
          i += 1
        }
        java.util.Arrays.sort(cross, 0, k)
        var m = 0
        while (m + 1 < k) {
          val from = firstCentreAtOrAbove(cross(m), x0, math.max(x0, x1))
          val to = firstCentreAtOrAbove(cross(m + 1), x0, math.max(x0, x1))
          if (from < to) {
            rowsB += y; regionsB += r; fromsB += from; tosB += to
          }
          m += 2
        }
        y += 1
      }
    }
    val (rows, regions, froms, tos) =
      (rowsB.result(), regionsB.result(), fromsB.result(), tosB.result())
    // counting sort by row; stable, so each row stays ordered by region
    val nRows = math.max(0, y1 - y0)
    val rowStart = new Array[Int](nRows + 1)
    var e = 0
    while (e < rows.length) { rowStart(rows(e) - y0 + 1) += 1; e += 1 }
    var k = 0
    while (k < nRows) { rowStart(k + 1) += rowStart(k); k += 1 }
    val next = java.util.Arrays.copyOf(rowStart, nRows)
    val (region, xFrom, xTo) = (new Array[Int](rows.length),
      new Array[Int](rows.length), new Array[Int](rows.length))
    e = 0
    while (e < rows.length) {
      val at = next(rows(e) - y0)
      next(rows(e) - y0) += 1
      region(at) = regions(e); xFrom(at) = froms(e); xTo(at) = tos(e)
      e += 1
    }
    new RegionIntervals(x0, x1, y0, y1, rings.length, rowStart, region,
      xFrom, xTo)
  }

  /** The first pixel index v in [lo, hi) whose centre v + 0.5 is >= c,
    * or hi: a rounded guess, settled by that comparison itself. */
  private def firstCentreAtOrAbove(c: Double, lo: Int, hi: Int): Int = {
    var v = math.min(hi.toDouble, math.max(lo.toDouble, math.ceil(c - 0.5))).toInt
    while (v > lo && (v - 1) + 0.5 >= c) v -= 1
    while (v < hi && v + 0.5 < c) v += 1
    v
  }
}
