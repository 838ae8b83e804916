package graft.grid

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Zonal statistics per NAMED REGION (the polygon-table complement of
  * the per-class zonal stats): NDVI means per administrative district,
  * per protected area, per field boundary — the reference's
  * notebook-side loop of `load_poly_latlng` calls collapsed into ONE
  * distributed pass.
  *
  * Membership is pixel-center ray-cast containment per region (the
  * same native codegen [[graft.functions.PointInPolygonExpr]] as P5); a
  * pixel inside k overlapping regions contributes to all k (explode on
  * the membership array — standard zonal semantics). One scan over the
  * union-bbox window, one partial-agg shuffle on (region, t).
  *
  * Scope: the region set is driver-literal (polygon rings compile into
  * the codegen predicate), the right shape for bounded region tables
  * (countries, districts, a protected-area list). A million-polygon
  * layer would instead bbox-bucket the polygons and broadcast-join
  * buckets — out of scope here.
  */
object GridZonal {

  /** Per-(region, date) stats over `regions` (name -> (lat, lng) ring).
    * Emits (region, t, n_valid, mean_value, min_value, max_value). */
  def zonalByRegion(spark: SparkSession, header: GridHeader, root: String,
                    regions: Seq[(String, Array[(Double, Double)])],
                    tFrom: Int, tTo: Int): DataFrame = {
    require(regions.nonEmpty, "need at least one region")
    regions.foreach { case (name, ring) =>
      require(ring.nonEmpty, s"region '$name' has an empty ring")
    }
    val xyPolys = regions.map { case (name, ring) =>
      (name, ring.map { case (lat, lng) => header.latLngToXY(lat, lng) })
    }
    // the union bbox, clamped to the grid: a region set fully outside
    // the grid yields an empty window, hence zero rows
    val (x0, x1, y0, y1) = header.pixelBox(xyPolys.flatMap(_._2))
    val df = FractionStore.loadSliceXY(spark, header, root,
      x0, x1, y0, y1, tFrom, tTo)
    val members = xyPolys.map { case (name, poly) =>
      when(graft.functions.PointInPolygonExpr(poly,
        col("x").cast("double") + lit(0.5),
        col("y").cast("double") + lit(0.5)), lit(name))
    }
    df.withColumn("region", explode(array_compact(array(members: _*))))
      .groupBy(col("region"), col("t"))
      .agg(count(col("value")).as("n_valid"),
        (sum(col("value").cast("double")) / count(col("value")))
          .as("mean_value"),
        min(col("value")).cast("double").as("min_value"),
        max(col("value")).cast("double").as("max_value"))
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
    * consumes directly). Pixel-center containment, FIRST matching
    * region wins (callers order by priority), non-covered pixels are
    * nodata. Generation is [[SyntheticGrid.writeDirect]]'s distributed
    * per-chunk generator — one task per chunk, no input scan at all.
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
    val xyPolys = regions.map { case (_, ring) =>
      ring.map { case (lat, lng) => h.latLngToXY(lat, lng) }
    }.toArray
    val fn = new SyntheticGrid.PixelFn {
      def apply(x: Int, y: Int, t: Int): Double = {
        var i = 0
        while (i < xyPolys.length) {
          if (PointInPolygon.contains(xyPolys(i), x + 0.5, y + 0.5))
            return i.toDouble
          i += 1
        }
        65535.0
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
