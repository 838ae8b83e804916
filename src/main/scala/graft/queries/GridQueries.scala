package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.grid._
import graft.functions.{QaDecode, GlcfClasses}

/** Grid-native operator surface exposed through the driver contract.
  *
  * Most grid ops aren't ANSI-SQL-expressible (they run on the fraction
  * store, not the relational fixtures) — those entries build a
  * deterministic in-memory synthetic grid and return result rows
  * (rows-only check). The scalar kernels (F5 QA decode, F4 sinusoidal,
  * F3 affine) ARE oracle-checked by applying them to testdata integer
  * columns and mirroring the math in DuckDB SQL.
  */
object GridQueries {

  type Q = (SparkSession, String) => DataFrame

  // cache fixture stores per JVM (Verify/Bench call many queries)
  private val fixtureCache = scala.collection.concurrent.TrieMap[String, String]()

  private def tinyRoot(spark: SparkSession): String =
    fixtureCache.getOrElseUpdate("tiny", {
      val r = java.nio.file.Files.createTempDirectory("graft_tiny").toString
      SyntheticGrid.writeTiny(spark, r)
      r
    })

  /** 80x60x4 int16 store with ALL 4 dates in ONE time slab and planted
    * NDVI drops on every 5th diagonal from t=2 — the oracle fixture for
    * the fused trend/CUSUM kernels (their single-slab requirement; the
    * drops give one-sided CUSUM real alarms to verify). */
  private def monitorRoot(spark: SparkSession): String =
    fixtureCache.getOrElseUpdate("monitor", {
      val r = java.nio.file.Files.createTempDirectory("graft_monitor").toString
      val h = SyntheticGrid.miniModisNdviHeader.copy(
        name = "monitor_fx", width = 80, height = 60,
        fracWidth = 20, fracHeight = 20, fracNDates = 4)
      SyntheticGrid.writeDirect(spark, h, r, new SyntheticGrid.PixelFn {
        def apply(x: Int, y: Int, t: Int): Double =
          if ((x * y + t) % 17 == 0) -3000.0
          else if ((x + y) % 5 == 0 && t >= 2) (x % 50) - 900.0
          else (x % 50 + y % 40 + t * 3).toDouble
      })
      r
    })

  /** Left-half-only tiny store: pixels restricted to x < 95 land in
    * fraction columns 0..4 of 10, so exactly half the chunk grid is
    * PRESENT — the sparse-store fixture grid_info's sparsity reporting
    * needs (a dense fixture would make the listing count trivial). */
  private def sparseRoot(spark: SparkSession): String =
    fixtureCache.getOrElseUpdate("sparse", {
      val r = java.nio.file.Files.createTempDirectory("graft_sparse").toString
      val h = SyntheticGrid.tinyHeader.copy(name = "sparsegrid")
      FractionStore.write(spark, h, FractionStore.fromPixels(spark, h,
        SyntheticGrid.pixelDf(spark, h, SyntheticGrid.tinyValue)
          .filter(col("x") < 95)), r)
      r
    })

  /** The monitor fixture's closed form in DuckDB SQL. */
  private val monitorValueSql: String =
    "CASE WHEN (x * y + t) % 17 = 0 THEN NULL " +
      "WHEN (x + y) % 5 = 0 AND t >= 2 THEN CAST((x % 50) - 900 AS DOUBLE) " +
      "ELSE CAST(x % 50 + y % 40 + t * 3 AS DOUBLE) END"

  private def miniModisRoots(spark: SparkSession): (String, String) = {
    val nr = fixtureCache.getOrElseUpdate("mm_ndvi_pending", {
      val nr0 = java.nio.file.Files.createTempDirectory("graft_mm_ndvi").toString
      val qr0 = java.nio.file.Files.createTempDirectory("graft_mm_qa").toString
      SyntheticGrid.writeMiniModis(spark, nr0, qr0)
      fixtureCache.put("mm_qa", qr0)
      nr0
    })
    (nr, fixtureCache("mm_qa"))
  }

  val queries: Map[String, Q] = Map(
    // F5 — MODIS QA decode, oracle-checked bit-for-bit against DuckDB on
    // synthetic uint16 words derived from lineitem keys.
    "f5_qa_confidence" -> { (s, d) =>
      Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        ((col("l_partkey") * 2654435761L + col("l_suppkey") * 40503L) % 65536)
          .cast("int").as("qa"))
        .withColumn("conf", QaDecode.modisQaConf(col("qa")))
    },

    // F6 — Landsat8 QA decode, same oracle pattern.
    "f6_landsat_qa" -> { (s, d) =>
      Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        ((col("l_partkey") * 48271L + col("l_orderkey")) % 65536)
          .cast("int").as("qa"))
        .withColumn("conf", QaDecode.landsat8QaConf(col("qa")))
    },

    // F3/F4 — affine + sinusoidal coordinate math, oracle-checked with
    // rounding (cross-engine libm cos/radians agree far below 1e-2 m).
    "f4_sinusoidal_project" -> { (s, d) =>
      Tables.supplier(s, d).select(
        col("s_suppkey"),
        ((col("s_suppkey") % 160) - 80 + lit(0.5)).cast("double").as("lat"),
        ((col("s_suppkey") % 340) - 170 + lit(0.25)).cast("double").as("lng"))
        .withColumn("sx", round(GeoTransform.latLngToSinuX(col("lat"), col("lng")), 2))
        .withColumn("sy", round(GeoTransform.latLngToSinuY(col("lat")), 2))
    },

    // F7 — GLCF class name lookup (literal map).
    "f7_glcf_classes" -> { (s, d) =>
      Tables.part(s, d).select(
        col("p_partkey"), (col("p_partkey") % 17).cast("int").as("cls"))
        .withColumn("cls_name", GlcfClasses.className(col("cls")))
    },

    // F7 — GLCF class → RGB recolor (reference CMAP, glcf.py:31-58).
    // cls covers all 19 palette entries incl. 254/255 sentinels.
    "f7_class_rgb" -> { (s, d) =>
      val m = (col("p_partkey") % 19).cast("int")
      Tables.part(s, d).select(
        col("p_partkey"),
        when(m === 17, 254).when(m === 18, 255).otherwise(m)
          .cast("int").as("cls"))
        .withColumn("r", GlcfClasses.classR(col("cls")))
        .withColumn("g", GlcfClasses.classG(col("cls")))
        .withColumn("b", GlcfClasses.classB(col("cls")))
        .withColumn("rgb", GlcfClasses.classRgb(col("cls")))
    },

    // ---- grid-native (rows-only): deterministic synthetic fixtures ----

    // Catalog summary (worldgrid_info.py:21-27 analog): header fields,
    // chunk-grid shape, present-chunk count + sparsity from the sparse
    // listing, time range. The sparse fixture populates exactly half
    // the chunk grid, so the listing count is a real check (520 of
    // 1040 chunks, sparsity 0.5) — every reported value is a fixture
    // constant, so the oracle pins them all literally.
    "grid_info" -> { (s, _) =>
      FractionStore.gridInfo(s, sparseRoot(s))
    },

    // P1-P3/P6/P7 — windowed slice through the fraction store.
    "grid_slice_window" -> { (s, _) =>
      val root = tinyRoot(s)
      val h = GridHeader.load(s, root)
      FractionStore.loadSliceXY(s, h, root, 17, 40, 3, 12, 2, 11,
        maskNodata = false)
    },

    // Patch extraction (the grid -> ML-training bridge): 8 deterministic
    // 6x6 x t[2,6) patches cut in ONE distributed job (GridPatches),
    // per-patch checksums. In-bounds origins -> every patch complete
    // (n_px = 144); the oracle recomputes from the closed form.
    "grid_patch_extract" -> { (s, _) =>
      val root = tinyRoot(s)
      val h = GridHeader.load(s, root)
      val patches = s.range(8).select(col("id").as("patch_id"),
        ((col("id") * 23) % 180).cast("int").as("px0"),
        ((col("id") * 17) % 122).cast("int").as("py0"))
      GridPatches.extractPatches(s, h, root, patches, pw = 6, ph = 6,
          tFrom = 2, tTo = 6, maskNodata = false)
        .groupBy(col("patch_id"))
        .agg(count(lit(1)).as("n_px"),
          sum(col("value").cast("double")).as("sum_value"),
          min(col("value")).cast("double").as("min_value"),
          max(col("value")).cast("double").as("max_value"))
    },

    // P4/P5/F8 — polygon load with containment mask.
    "grid_polygon_mask" -> { (s, _) =>
      val root = tinyRoot(s)
      val h = GridHeader.load(s, root)
      FractionStore.loadPolyLatLng(s, h, root,
        Array((-0.0, 0.0), (-0.9, 0.0), (-0.9, 0.9)), 0, 2)
        .groupBy(col("in_poly")).agg(count(lit(1)).as("n"),
          sum(col("value")).as("sum_value"))
    },

    // W1 — per-pixel time series extraction with QA-masked mean (the
    // notebook query: load_ndvi_qa.ipynb).
    "grid_pixel_timeseries" -> { (s, _) =>
      val (ndviRoot, qaRoot) = miniModisRoots(s)
      val nh = GridHeader.load(s, ndviRoot)
      val qh = GridHeader.load(s, qaRoot)
      // chunk-aligned two-band load: joins (frac_num, time_chunk) keys,
      // never exploded pixels — the J1 fast path for shared geogrids
      FractionStore.loadAlignedSliceXY(s, Seq((nh, ndviRoot), (qh, qaRoot)),
        0, 60, 0, 60, 0, 4, masks = Seq(true, false))
        .withColumn("conf", QaDecode.modisQaConf(col("value_1")))
        .groupBy(col("x"), col("y"))
        .agg(
          avg(when(col("conf") > 0.5, col("value_0"))).as("mean_ndvi_masked"),
          count(when(col("conf") > 0.5, col("value_0"))).as("n_clear"),
          count(lit(1)).as("n_total"))
    },

    // U1/J9/J4/J5 — the pipeline: QA-masked NDVI derivation, then stats.
    "grid_pipeline_masked" -> { (s, _) =>
      val (ndviRoot, qaRoot) = miniModisRoots(s)
      val nh = GridHeader.load(s, ndviRoot)
      val qh = GridHeader.load(s, qaRoot)
      val outRoot = fixtureCache.getOrElseUpdate("mm_masked", {
        java.nio.file.Files.createTempDirectory("graft_mm_masked").toString
      })
      val outH = nh.copy(name = "ndvi_masked")
      val pipe = new GridPipeline(Seq((nh, ndviRoot), (qh, qaRoot)), outH, outRoot)
      pipe.run(s) { (_, payloads) =>
        val Seq(ndvi, qa) = payloads
        val out = new Array[Double](ndvi.length)
        var i = 0
        while (i < ndvi.length) {
          val q = qa(i).toInt & 0xffff
          val gated = (q & 3) == 3 || ((q >> 6) & 3) == 3 ||
            ((q >> 8) & 1) == 1 || ((q >> 10) & 1) == 1 ||
            ((q >> 11) & 7) != 1 || ((q >> 14) & 1) == 1 ||
            ((q >> 15) & 1) == 1 || ((q >> 2) & 0xf) >= 12
          out(i) = if (gated) -3000.0 else ndvi(i)
          i += 1
        }
        out
      }
      // sum over DOUBLE on both sides: DuckDB's integral sum returns
      // HUGEINT, which the driver's pandas bridge coerces to float64
      // ("113537.0") while Spark's long stays "113537" — same value,
      // different canonical form -> hash mismatch (bit us in r2).
      FractionStore.pixels(outH, FractionStore.fractions(s, outRoot))
        .groupBy(col("t")).agg(
          count(col("value")).as("n_clear"),
          sum(col("value").cast("double")).as("sum_ndvi"))
    },

    // SRC5 — MODIS file-index scan: filename synthesis + regex parse +
    // per-tile chronology (modis.py:30-110), oracle-checked.
    "src5_file_index" -> { (s, d) =>
      val names = Tables.orders(s, d).select(concat(
        lit("MOD13Q1.A"), date_format(col("o_orderdate"), "yyyyDDD"),
        lit(".h"), lpad((col("o_custkey") % 36).cast("string"), 2, "0"),
        lit("v"), lpad((col("o_orderkey") % 18).cast("string"), 2, "0"),
        lit(".005.2006270052117.hdf")).as("name"))
      graft.sources.Ingest.parseModisName(col("name"))(names)
        .groupBy(col("tile"))
        .agg(count(lit(1)).as("n_files"),
          unix_millis(min(col("ts"))).as("first_ts_ms"),
          unix_millis(max(col("ts"))).as("last_ts_ms"))
    },

    // SRC7/SRC8 + P5 — named GeoJSON region drives a masked window query.
    "grid_region_mask" -> { (s, _) =>
      val root = tinyRoot(s)
      val h = GridHeader.load(s, root)
      val poly = graft.sources.Regions.polygonForRegion(s,
        "/root/repo/assets/regions.geojson", "test.box")
      FractionStore.loadPolyLatLng(s, h, root, poly, 0, 2)
        .groupBy(col("in_poly"), col("t"))
        .agg(count(lit(1)).as("n"), avg(col("value")).as("mean_value"))
    },

    // Zonal stats per NAMED REGION (GridZonal): the polygon-table
    // complement of per-class zonal stats — one pass over the union
    // bbox, membership from the regions' scanline-interval table,
    // overlapping regions count pixels in both.
    "grid_zonal_regions" -> { (s, _) =>
      val root = tinyRoot(s)
      val h = GridHeader.load(s, root)
      val regions = Seq("test.triangle", "test.box").map(n =>
        n -> graft.sources.Regions.polygonForRegion(s,
          "/root/repo/assets/regions.geojson", n))
      GridZonal.zonalByRegion(s, h, root, regions, 0, 3)
    },

    // Polygon rasterization (GridZonal.rasterizeRegions): the named
    // regions burned into a uint16 class grid (first match wins,
    // uncovered = nodata), then read back and counted per class — the
    // vector -> raster half of the polygon round trip.
    "grid_rasterize_regions" -> { (s, _) =>
      val out = fixtureCache.getOrElseUpdate("rasterized", {
        val o = java.nio.file.Files.createTempDirectory("graft_rast").toString
        val regions = Seq("test.triangle", "test.box").map(n =>
          n -> graft.sources.Regions.polygonForRegion(s,
            "/root/repo/assets/regions.geojson", n))
        GridZonal.rasterizeRegions(s, SyntheticGrid.tinyHeader, regions, o)
        o
      })
      val h = GridHeader.load(s, out)
      FractionStore.pixels(h, FractionStore.fractions(s, out))
        .filter(col("value").isNotNull)
        .groupBy(col("value").cast("int").as("cls"))
        .agg(count(lit(1)).as("n_px"))
    },

    // Per-class area in km² (GridZonal.classArea): cos-lat-weighted
    // pixel areas on the WGS84 tiny grid, micro-snapped weights.
    "grid_class_area" -> { (s, _) =>
      val root = tinyRoot(s)
      val h = GridHeader.load(s, root)
      GridZonal.classArea(s, h, root, t = 0, v => (v % 5).cast("int"))
    },

    // Land-cover change matrix (GridZonal.classTransitions): class at
    // date 0 vs date 3 cross-tab over the minimodis QA-derived class
    // plane — chunks join on the CHUNK key across the two dates, both
    // payloads decode once, output is classes^2 rows.
    "grid_class_transitions" -> { (s, _) =>
      val (_, qaRoot) = miniModisRoots(s)
      val qh = GridHeader.load(s, qaRoot)
      GridZonal.classTransitions(s, qh, qaRoot, tFrom = 0, tTo = 3,
        v => (v % 17).cast("int"))
    },

    // J3 — nearest-neighbor reprojection: the sinusoidal minimodis NDVI
    // warped onto a WGS84 lattice covering its footprint, then stats.
    "grid_reproject_nearest" -> { (s, _) =>
      val (ndviRoot, _) = miniModisRoots(s)
      val nh = GridHeader.load(s, ndviRoot)
      // de-aligned wgs84 lattice: see wgs84Dst
      val dst = wgs84Dst(nh, "wgs84_dst")
      // DOUBLE sum for the same HUGEINT-vs-long canonicalization reason
      // as grid_pipeline_masked (values are small ints, so the double
      // sum is exact regardless of aggregation order).
      Reproject.nearest(s, nh, ndviRoot, dst, 0, 100, 0, 100)
        .agg(count(col("value")).as("n_mapped"),
          sum(col("value").cast("double")).as("sum_value"),
          count(lit(1)).as("n_total"))
    },

    // J3 (bilinear) — 4-corner blended warp onto the same de-aligned
    // wgs84 lattice; nodata corners renormalize away. Aggregate output
    // (the per-pixel doubles fold into one sum, so cross-engine libm
    // ulps stay far below the 6-sig-digit canonicalization).
    "grid_reproject_bilinear" -> { (s, _) =>
      val (ndviRoot, _) = miniModisRoots(s)
      val nh = GridHeader.load(s, ndviRoot)
      val dst = wgs84Dst(nh, "wgs84_bl")
      Reproject.bilinear(s, nh, ndviRoot, dst, 0, 100, 0, 100)
        .agg(count(col("value")).as("n_mapped"),
          sum(col("value")).as("sum_value"),
          sum(col("n_valid")).cast("double").as("sum_valid"),
          count(lit(1)).as("n_total"))
    },

    // J3 (bilinear, fused) — identical semantics through the
    // chunk-gather path (Reproject.bilinearGather): the source window
    // is never exploded to pixel rows; taps are random-accessed from
    // the decoded payload. Same DuckDB oracle as the exploded form.
    "grid_reproject_bilinear_fused" -> { (s, _) =>
      val (ndviRoot, _) = miniModisRoots(s)
      val nh = GridHeader.load(s, ndviRoot)
      val dst = wgs84Dst(nh, "wgs84_bl")
      Reproject.bilinearGather(s, nh, ndviRoot, dst, 0, 100, 0, 100)
        .agg(count(col("value")).as("n_mapped"),
          sum(col("value")).as("sum_value"),
          sum(col("n_valid")).cast("double").as("sum_valid"),
          count(lit(1)).as("n_total"))
    },

    // J3 (cubic) — Keys' 4x4 cubic-convolution warp onto the same
    // de-aligned wgs84 lattice; nodata taps renormalize, near-zero
    // surviving weight sums yield NULL (cubic weights can be negative).
    "grid_reproject_cubic" -> { (s, _) =>
      val (ndviRoot, _) = miniModisRoots(s)
      val nh = GridHeader.load(s, ndviRoot)
      val dst = wgs84Dst(nh, "wgs84_cu")
      Reproject.cubic(s, nh, ndviRoot, dst, 0, 100, 0, 100)
        .agg(count(col("value")).as("n_mapped"),
          sum(col("value")).as("sum_value"),
          sum(col("n_valid")).cast("double").as("sum_valid"),
          count(lit(1)).as("n_total"))
    },

    // J3 (mode/average) — aggregate downsampling reprojection: every
    // source pixel forward-maps onto the (de-aligned, see
    // grid_reproject_nearest) wgs84 lattice; per-dst-pixel average.
    "grid_resample_mean" -> { (s, _) =>
      val (ndviRoot, _) = miniModisRoots(s)
      val nh = GridHeader.load(s, ndviRoot)
      val dst = wgs84Dst(nh, "wgs84_rs")
      Reproject.aggregateResample(s, nh, ndviRoot, dst, "average",
        0, 100, 0, 100)
    },

    // ST1 — incremental time append: prefix store + appendDates must
    // reproduce the full axis; returns per-date pixel counts.
    "grid_incremental_append" -> { (s, _) =>
      val root = fixtureCache.getOrElseUpdate("inc_demo", {
        val r = java.nio.file.Files.createTempDirectory("graft_inc").toString
        val hFull = SyntheticGrid.tinyHeader
        val hPre = hFull.copy(timestampsMs = hFull.timestampsMs.take(8))
        FractionStore.write(s, hPre,
          FractionStore.fromPixels(s, hPre,
            SyntheticGrid.pixelDf(s, hPre, SyntheticGrid.tinyValue)), r)
        val newTs = hFull.timestampsMs.drop(8)
        val newPx = SyntheticGrid.pixelDf(s,
          hFull.copy(timestampsMs = newTs),
          (x, y, t) => SyntheticGrid.tinyValue(x, y, t + lit(8)))
        IncrementalAppend.appendDates(s, r, newTs, newPx)
        r
      })
      val h = GridHeader.load(s, root)
      FractionStore.pixels(h, FractionStore.fractions(s, root),
        maskNodata = false)
        .groupBy(col("t")).agg(count(lit(1)).as("n_px"),
          sum(col("value").cast("double")).as("sum_value"))
    },

    // W/ST — per-pixel temporal gap interpolation (the NDVI repair the
    // reference defers to numpy post-processing, as a relational op).
    "grid_interpolate_ts" -> { (s, _) =>
      val root = tinyRoot(s)
      val h = GridHeader.load(s, root)
      val px = FractionStore.loadSliceXY(s, h, root, 0, 30, 0, 8, 0, h.nDates)
      GridTimeSeries.interpolateGaps(px)
    },

    // W — Savitzky-Golay smoothing along t per pixel (the phenology
    // pre-filter; GridTimeSeries.savgolSmooth). 5-point quadratic
    // window; NULL at edges and across nodata gaps.
    "grid_savgol" -> { (s, _) =>
      val root = tinyRoot(s)
      val h = GridHeader.load(s, root)
      val px = FractionStore.loadSliceXY(s, h, root, 0, 30, 0, 8, 0, h.nDates)
      GridTimeSeries.savgolSmooth(px, halfWidth = 2)
    },

    // Zonal statistics — the GLCF pairing: per-landcover-class stats of
    // a value grid via the aligned two-grid load (class = qa % 17 as a
    // deterministic GLCF-like labeling of the second grid).
    "grid_zonal_stats" -> { (s, _) =>
      val (ndviRoot, qaRoot) = miniModisRoots(s)
      val nh = GridHeader.load(s, ndviRoot)
      val qh = GridHeader.load(s, qaRoot)
      FractionStore.loadAlignedSliceXY(s, Seq((nh, ndviRoot), (qh, qaRoot)),
        0, 200, 0, 200, 0, 1, masks = Seq(true, false))
        .withColumn("cls", (col("value_1") % 17).cast("int"))
        .groupBy(col("cls"))
        .agg(count(col("value_0")).as("n_valid"),
          avg(col("value_0")).as("mean_value"),
          min(col("value_0")).as("min_value"),
          max(col("value_0")).as("max_value"))
    },

    // Per-pixel temporal anomaly z-score — the NDVI time-series anomaly
    // detection the reference defers to numpy: each observation scored
    // against its own pixel's series mean/std. One window partitioning
    // on (x, y) computes n/sum/sumsq (integer-valued doubles — exact in
    // any accumulation order, so the oracle replays bit-for-bit); at
    // tile scale this is one shuffle of the sliced box, never a
    // per-pixel driver loop.
    "grid_anomaly_z" -> { (s, _) =>
      import org.apache.spark.sql.expressions.Window
      val root = tinyRoot(s)
      val h = GridHeader.load(s, root)
      val w = Window.partitionBy(col("x"), col("y"))
      FractionStore.loadSliceXY(s, h, root, 0, 25, 0, 10, 0, h.nDates)
        .filter(col("value").isNotNull)
        .withColumn("v", col("value").cast("double"))
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("sm", sum(col("v")).over(w))
        .withColumn("ss", sum(col("v") * col("v")).over(w))
        .withColumn("variance",
          (col("ss") - col("sm") * col("sm") / col("n")) / col("n"))
        .select(col("x"), col("y"), col("t"),
          when(col("variance") > 0,
            round((col("v") - col("sm") / col("n")) / sqrt(col("variance")),
              4)).otherwise(lit(0.0)).as("z"))
    },

    // One-sided CUSUM change detection (GridTimeSeries.cusumDetect) —
    // the Terra-i-style vegetation-loss alarm over per-pixel series:
    // baseline mean from dates t < 5, then the prefix-closed-form CUSUM
    // of downward deviations with micro-snapped slack/threshold. All
    // window frames over ONE pixel-keyed Exchange.
    "grid_cusum_detect" -> { (s, _) =>
      val root = tinyRoot(s)
      val h = GridHeader.load(s, root)
      GridTimeSeries.cusumDetect(
        FractionStore.loadSliceXY(s, h, root, 0, 25, 0, 10, 0, h.nDates),
        trainT = 5, slack = 5.0, threshold = 40.0)
    },

    // The FUSED twins (GridKernels.cusumByPixel / trendSlopeByPixel):
    // the same products as zero-shuffle chunk folds on a single-slab
    // store — oracle-verified independently of the relational forms
    // (bit-equality between the two forms is additionally pinned by
    // PayloadKernelsSpec; the tile-scale cost is the
    // grid_{trend,cusum}_{...,fused} bench pairs).
    "grid_cusum_fused" -> { (s, _) =>
      val root = monitorRoot(s)
      val h = GridHeader.load(s, root)
      GridKernels.cusumByPixel(s, h, root, 0, 80, 0, 60, 0, 4,
        trainT = 2, slack = 0.5, threshold = 5.0)
    },

    "grid_trend_fused" -> { (s, _) =>
      val root = monitorRoot(s)
      val h = GridHeader.load(s, root)
      GridKernels.trendSlopeByPixel(s, h, root, 0, 80, 0, 60, 0, 4)
    },

    // Per-pixel Pearson correlation between two aligned bands
    // (GridTimeSeries.pixelCorrelation) — the NDVI-vs-covariate
    // association map, here NDVI against the QA band over the aligned
    // two-store load. One partial-agg shuffle on (x, y).
    "grid_xcorr" -> { (s, _) =>
      val (ndviRoot, qaRoot) = miniModisRoots(s)
      val nh = GridHeader.load(s, ndviRoot)
      val qh = GridHeader.load(s, qaRoot)
      GridTimeSeries.pixelCorrelation(
        FractionStore.loadAlignedSliceXY(s, Seq((nh, ndviRoot), (qh, qaRoot)),
          0, 60, 0, 60, 0, 4, masks = Seq(true, true)))
    },

    // MODIS-style max-value composite (the classic 16-day NDVI MVC,
    // here period=4 over the tiny cube): per pixel per period keep the
    // max value and the (lowest) date holding it. One partial-agg
    // shuffle on (x, y, period) — at tile scale the composite is the
    // same single groupBy, never a per-period re-scan.
    "grid_mvc_composite" -> { (s, _) =>
      val root = tinyRoot(s)
      val h = GridHeader.load(s, root)
      FractionStore.loadSliceXY(s, h, root, 0, 25, 0, 10, 0, h.nDates)
        .filter(col("value").isNotNull)
        .withColumn("period", expr("CAST(t DIV 4 AS INT)"))
        .groupBy(col("x"), col("y"), col("period"))
        .agg(max_by(col("t"),
          struct(col("value"), -col("t"))).as("t_of_max"),
          max(col("value")).as("max_value"))
    },

    // W — per-pixel seasonal climatology (the NDVI seasonal-cycle
    // product: mean per pixel per phase of the annual cycle, here
    // period 4 over the tiny cube). One partial-agg shuffle on
    // (x, y, season); integer-exact sums so mean = sum/n replays.
    "grid_climatology" -> { (s, _) =>
      val root = tinyRoot(s)
      val h = GridHeader.load(s, root)
      FractionStore.loadSliceXY(s, h, root, 0, 25, 0, 10, 0, h.nDates)
        .filter(col("value").isNotNull)
        .withColumn("season", (col("t") % 4).cast("int"))
        .groupBy(col("x"), col("y"), col("season"))
        .agg(count(lit(1)).as("n"),
          (sum(col("value").cast("double")) / count(lit(1))).as("mean_value"),
          min(col("value")).cast("double").as("min_value"),
          max(col("value")).cast("double").as("max_value"))
    },

    // W — per-pixel OLS trend map (GridTimeSeries.trendSlope): the
    // greening/browning slope of each pixel's series — the phenology
    // trend product the reference derives in numpy after export, as one
    // partial-agg shuffle on (x, y).
    "grid_trend_slope" -> { (s, _) =>
      val root = tinyRoot(s)
      val h = GridHeader.load(s, root)
      GridTimeSeries.trendSlope(
        FractionStore.loadSliceXY(s, h, root, 0, 25, 0, 10, 0, h.nDates))
    },

    // Focal 3x3 neighborhood stats (GridFocal): raster-algebra
    // smoothing via chunk-level HALO EXCHANGE — shuffled halo bytes
    // are perimeter-sized, never the (2r+1)^2 x cube of the naive
    // pixel self-join. Full tiny grid (edges included), dates [0, 3).
    "grid_focal_mean" -> { (s, _) =>
      val root = tinyRoot(s)
      val h = GridHeader.load(s, root)
      GridFocal.focalStats(s, h, root, radius = 1, tFrom = 0, tTo = 3)
    },

    // Connected-component alert patches (GridLabeling.labelPatches):
    // threshold the t=0 plane and label 4-connected detection pixels —
    // chunk-local union-find, perimeter-sized border joins, driver
    // resolution of the component-sized equivalence graph. patch_id =
    // min global pixel id of the component (engine-replayable).
    "grid_label_patches" -> { (s, _) =>
      val root = tinyRoot(s)
      val h = GridHeader.load(s, root)
      val on = FractionStore.loadSliceXY(s, h, root, 0, 25, 0, 10, 0, 1)
        .filter(col("value").isNotNull && col("value") >= 60)
        .select("x", "y")
      GridLabeling.labelPatches(s, h, on)
    },

    // Minimum-mapping-unit sieve (the GIS "sieve" op): label patches,
    // then keep only patches of >= 3 px, summarized (area, bbox,
    // centroid) — the publishable-alerts filter that drops speckle.
    // One partial-agg shuffle on patch_id on top of labeling.
    "grid_patch_sieve" -> { (s, _) =>
      val root = tinyRoot(s)
      val h = GridHeader.load(s, root)
      val on = FractionStore.loadSliceXY(s, h, root, 0, 25, 0, 10, 0, 1)
        .filter(col("value").isNotNull && col("value") >= 60)
        .select("x", "y")
      GridLabeling.patchStats(GridLabeling.labelPatches(s, h, on))
        .filter(col("n_px") >= 3)
        .select(col("patch_id"), col("n_px"),
          col("x_min"), col("x_max"), col("y_min"), col("y_max"),
          round(col("cx"), 6).as("cx"), round(col("cy"), 6).as("cy"))
    },

    // Horn-method terrain products (GridFocal.focalTerrain): slope /
    // aspect / hillshade over the halo-exchange stencil — chunk-keyed
    // payload shuffle plus perimeter-sized strips, never a pixel
    // self-join. Full tiny grid, dates [0, 2).
    "grid_terrain" -> { (s, _) =>
      val root = tinyRoot(s)
      val h = GridHeader.load(s, root)
      GridFocal.focalTerrain(s, h, root, tFrom = 0, tTo = 2)
    },

    // Overview pyramid, mean reducer (GridPyramid): level-1 halving of
    // the tiny grid — nodata-aware 2x2 block means written as a full
    // fraction store and READ BACK (write+read both exercised).
    "grid_pyramid_mean" -> { (s, _) =>
      val root = tinyRoot(s)
      val h = GridHeader.load(s, root)
      val out = fixtureCache.getOrElseUpdate("pyr_mean", {
        val o = java.nio.file.Files.createTempDirectory("graft_pyr_m").toString
        GridPyramid.downsampleOnce(s, h, root, o, "mean")
        o
      })
      FractionStore.pixels(GridHeader.load(s, out),
        FractionStore.fractions(s, out))
    },

    // Overview pyramid, mode reducer (categorical rasters): most
    // frequent valid value per block, ties to the lowest.
    "grid_pyramid_mode" -> { (s, _) =>
      val root = tinyRoot(s)
      val h = GridHeader.load(s, root)
      val out = fixtureCache.getOrElseUpdate("pyr_mode", {
        val o = java.nio.file.Files.createTempDirectory("graft_pyr_c").toString
        GridPyramid.downsampleOnce(s, h, root, o, "mode")
        o
      })
      FractionStore.pixels(GridHeader.load(s, out),
        FractionStore.fractions(s, out))
    },

    // Weighted focal convolution (GridFocal.focalConvolve): binomial
    // 3x3 Gaussian smoothing with nodata-aware renormalization, same
    // halo-exchange machinery. Integer kernel weights x integer grid
    // values -> exact sums, engine-replayable.
    "grid_focal_gaussian" -> { (s, _) =>
      val root = tinyRoot(s)
      val h = GridHeader.load(s, root)
      GridFocal.focalConvolve(s, h, root,
        Seq(Seq(1.0, 2.0, 1.0), Seq(2.0, 4.0, 2.0), Seq(1.0, 2.0, 1.0)),
        tFrom = 0, tTo = 2)
    },

    // Season-onset phenology (GridTimeSeries.seasonOnset): first date
    // sustaining value >= 60 for 2 consecutive dates per pixel — the
    // greenup-date product (threshold-crossing rule, spike-guarded).
    "grid_season_onset" -> { (s, _) =>
      val root = tinyRoot(s)
      val h = GridHeader.load(s, root)
      GridTimeSeries.seasonOnset(
        FractionStore.loadSliceXY(s, h, root, 0, 25, 0, 10, 0, h.nDates),
        threshold = 60.0, k = 2)
    },

    // Per-pixel seasonal harmonic fit (GridTimeSeries.harmonicFit):
    // first-harmonic cos/sin coefficients + amplitude at period 4 —
    // micro-snapped trig weights make the sums engine-exact.
    "grid_harmonic_fit" -> { (s, _) =>
      val root = tinyRoot(s)
      val h = GridHeader.load(s, root)
      GridTimeSeries.harmonicFit(
        FractionStore.loadSliceXY(s, h, root, 0, 25, 0, 10, 0, h.nDates),
        period = 4)
    },

    // Per-pixel percentile composite: the p90-over-time plane — the
    // robust-compositing alternative to MVC (discards the top decile
    // of outliers instead of trusting the max). percentile_disc is
    // element-picking, so both engines return the same stored value.
    "grid_percentile_composite" -> { (s, _) =>
      val root = tinyRoot(s)
      val h = GridHeader.load(s, root)
      FractionStore.loadSliceXY(s, h, root, 0, 25, 0, 10, 0, h.nDates)
        .filter(col("value").isNotNull)
        .groupBy(col("x"), col("y"))
        .agg(expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY value)")
          .cast("double").as("p90"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)")
            .cast("double").as("p50"),
          count(lit(1)).as("n_valid"))
    },

    // Per-pixel temporal argmax (A5 companion): the date index holding
    // each pixel's maximum (masked) value — max_by with deterministic
    // lowest-t tie-break via an encoded (value, -t) ordering.
    "grid_argmax_t" -> { (s, _) =>
      val root = tinyRoot(s)
      val h = GridHeader.load(s, root)
      FractionStore.loadSliceXY(s, h, root, 0, 25, 0, 10, 0, h.nDates)
        .filter(col("value").isNotNull)
        .groupBy(col("x"), col("y"))
        .agg(max_by(col("t"),
          struct(col("value"), -col("t"))).as("t_of_max"),
          max(col("value")).as("max_value"))
    },

    // A5 — per-pixel index select over the cube (argmax-style companion).
    "grid_index_select" -> { (s, _) =>
      val root = tinyRoot(s)
      val h = GridHeader.load(s, root)
      val px = FractionStore.loadSliceXY(s, h, root, 0, 38, 0, 10, 0, h.nDates)
      // pick per pixel the value at t = (x+y) mod nDates
      px.filter(col("t") === (col("x") + col("y")) % h.nDates)
        .select(col("x"), col("y"), col("t"), col("value"))
    },

    // Fused chunk kernel (PayloadKernels/GridKernels): the QA-masked
    // per-date mean computed inside ONE generated loop per chunk —
    // no pixel explode. Box deliberately not chunk-aligned. Values are
    // integers, so sum/count/divide is deterministic (hash-safe).
    "grid_fused_masked_mean" -> { (s, _) =>
      val (ndviRoot, qaRoot) = miniModisRoots(s)
      val nh = GridHeader.load(s, ndviRoot)
      val qh = GridHeader.load(s, qaRoot)
      GridKernels.maskedMeanByT(s, (nh, ndviRoot), (qh, qaRoot),
        20, 180, 30, 170, 0, 4)
    },

    // Fused single-band window kernel (BoxStats): per-date stats of
    // a non-chunk-aligned box with NO pixel explode — the P3 window-load
    // hot path in its fused form (the exploded twin is pinned equal by
    // PayloadKernelsSpec and A/B-timed by Bench).
    "grid_box_stats" -> { (s, _) =>
      val (ndviRoot, _) = miniModisRoots(s)
      val nh = GridHeader.load(s, ndviRoot)
      GridKernels.boxStatsByT(s, nh, ndviRoot, 37, 173, 8, 141, 1, 4)
    }
  )

  val oracleSql: Map[String, String] = Map(
    "src5_file_index" ->
      """WITH names AS (SELECT 'MOD13Q1.A' || strftime(o_orderdate, '%Y%j')
        |    || '.h' || lpad(CAST(o_custkey % 36 AS VARCHAR), 2, '0')
        |    || 'v' || lpad(CAST(o_orderkey % 18 AS VARCHAR), 2, '0')
        |    || '.005.2006270052117.hdf' AS name
        |  FROM orders),
        |parsed AS (SELECT
        |    substr(name, 18, 6) AS tile,
        |    CAST(CAST(substr(name, 10, 4) || '-01-01' AS DATE)
        |      + (CAST(substr(name, 14, 3) AS INT) - 1) * INTERVAL 1 DAY
        |      AS TIMESTAMP) AS ts
        |  FROM names)
        |SELECT tile, count(*) AS n_files,
        |  epoch_ms(min(ts)) AS first_ts_ms,
        |  epoch_ms(max(ts)) AS last_ts_ms
        |FROM parsed GROUP BY tile""".stripMargin,

    "f5_qa_confidence" -> (
      "SELECT l_orderkey, l_linenumber, qa, " + QaDecode.modisQaConfDuckSql +
        " AS conf FROM (SELECT l_orderkey, l_linenumber, CAST((l_partkey * " +
        "2654435761 + l_suppkey * 40503) % 65536 AS INT) AS qa FROM lineitem) t"),

    "f6_landsat_qa" ->
      """SELECT l_orderkey, l_linenumber, qa,
        |  CASE WHEN (qa & 1) = 1 OR ((qa >> 1) & 1) = 1 OR ((qa >> 2) & 1) = 1
        |    OR ((qa >> 4) & 3) = 3 OR ((qa >> 10) & 3) = 3
        |    OR ((qa >> 12) & 3) = 3 OR ((qa >> 14) & 3) = 3
        |  THEN CAST(0.0 AS FLOAT) ELSE CAST(1.0 AS FLOAT) END AS conf
        |FROM (SELECT l_orderkey, l_linenumber,
        |  CAST((l_partkey * 48271 + l_orderkey) % 65536 AS INT) AS qa
        |  FROM lineitem) t""".stripMargin,

    "f4_sinusoidal_project" ->
      """SELECT s_suppkey, lat, lng,
        |  round(6371007.181 * radians(lng) * cos(radians(lat)), 2) AS sx,
        |  round(6371007.181 * radians(lat), 2) AS sy
        |FROM (SELECT s_suppkey,
        |  CAST((s_suppkey % 160) - 80 + 0.5 AS DOUBLE) AS lat,
        |  CAST((s_suppkey % 340) - 170 + 0.25 AS DOUBLE) AS lng
        |  FROM supplier) t""".stripMargin,

    "f7_glcf_classes" ->
      """SELECT p_partkey, CAST(p_partkey % 17 AS INT) AS cls,
        |  CASE CAST(p_partkey % 17 AS INT)
        |    WHEN 0 THEN 'Water' WHEN 1 THEN 'Evergreen needleleaf forest'
        |    WHEN 2 THEN 'Evergreen broadleaf forest'
        |    WHEN 3 THEN 'Deciduous needleleaf forest'
        |    WHEN 4 THEN 'Deciduous broadleaf forest' WHEN 5 THEN 'Mixed forest'
        |    WHEN 6 THEN 'Closed shrublands' WHEN 7 THEN 'Open shrublands'
        |    WHEN 8 THEN 'Woody savannas' WHEN 9 THEN 'Savannas'
        |    WHEN 10 THEN 'Grasslands' WHEN 11 THEN 'Permanent wetlands'
        |    WHEN 12 THEN 'Croplands' WHEN 13 THEN 'Urban and built-up'
        |    WHEN 14 THEN 'Cropland/Natural vegetation mosaic'
        |    WHEN 15 THEN 'Snow and ice'
        |    WHEN 16 THEN 'Barren or sparsely vegetated' END AS cls_name
        |FROM part""".stripMargin,

    "f7_class_rgb" ->
      """SELECT t.p_partkey, t.cls, c.r, c.g, c.b,
        |  CAST(c.r * 65536 + c.g * 256 + c.b AS INT) AS rgb
        |FROM (SELECT p_partkey,
        |    CAST(CASE WHEN p_partkey % 19 = 17 THEN 254
        |              WHEN p_partkey % 19 = 18 THEN 255
        |              ELSE p_partkey % 19 END AS INT) AS cls
        |  FROM part) t
        |JOIN (VALUES (0,31,120,180),(1,51,160,44),(2,51,121,44),
        |  (3,178,223,138),(4,178,188,138),(5,90,160,44),(6,119,160,44),
        |  (7,104,160,44),(8,205,191,111),(9,202,160,44),(10,51,219,44),
        |  (11,166,206,227),(12,255,127,0),(13,106,106,106),(14,255,77,0),
        |  (15,36,243,253),(16,220,240,0),(254,255,0,255),(255,255,0,255))
        |  AS c(cls, r, g, b) ON t.cls = c.cls""".stripMargin
  ) ++ gridStoreOracles

  // ---- grid-store oracles --------------------------------------------
  // The synthetic fixtures are closed-form integer arithmetic on
  // (x, y, t) (SyntheticGrid), so DuckDB recomputes every store-backed
  // query from range() cross products. Geometry/window constants are
  // computed by OracleBuilders with the query's own Scala code paths.
  /** The J3 queries' shared wgs84 target lattice over the minimodis
    * footprint. The steps divide the footprint by NON-round 96.7/97.3
    * (not 100): round divisors align every dst pixel center exactly
    * onto a source pixel boundary (the footprint spans 200 source
    * pixels, so /100 puts each center at an odd source index +- 1 ulp),
    * and floor() of a boundary-straddling quotient is engine-dependent
    * -- the oracle would flake. Non-dyadic steps keep every quotient
    * >= 1e-4 from an integer (verified), far beyond libm ulp noise.
    * The DuckDB oracles re-derive d0..d5 from THIS construction -- any
    * change here must stay mirrored in gridStoreOracles. */
  private def wgs84Dst(nh: GridHeader, name: String): GridHeader = {
    val (latMin, lngMin) = nh.xyToLatLng(0, nh.height)
    val (latMax, lngMax) = nh.xyToLatLng(nh.width, 0)
    GridHeader(
      name = name, width = 100, height = 100,
      fracWidth = 50, fracHeight = 50, fracNDates = nh.fracNDates,
      dtype = nh.dtype, srs = "wgs84",
      geot = Seq(lngMin, (lngMax - lngMin) / 96.7, 0.0,
        latMax, 0.0, -(latMax - latMin) / 97.3),
      timestampsMs = nh.timestampsMs, nodata = nh.nodata)
  }

  private def gridStoreOracles: Map[String, String] = {
    import OracleBuilders._

    // grid_slice_window: tinygrid x[17,40) y[3,12) t[2,11), nodata kept
    val sliceWindow =
      s"""SELECT CAST(x AS INT) AS x, CAST(y AS INT) AS y, CAST(t AS INT) AS t,
         |  ${tinyValueSql(mask = false)} AS value
         |FROM range(17, 40) a(x), range(3, 12) b(y), range(2, 11) c(t)""".stripMargin

    // grid_index_select: tinygrid x[0,38) y[0,10) all t, keep t=(x+y)%11
    val indexSelect =
      s"""SELECT CAST(x AS INT) AS x, CAST(y AS INT) AS y,
         |  CAST(t AS INT) AS t, ${tinyValueSql(mask = true)} AS value
         |FROM (SELECT x, y, (x + y) % 11 AS t
         |      FROM range(0, 38) a(x), range(0, 10) b(y)) g""".stripMargin

    // grid_patch_extract: the 8 planted patches recomputed from the
    // closed form (sums are integer-valued doubles — order-exact)
    val patchExtract =
      s"""WITH p AS (SELECT patch_id, (patch_id * 23) % 180 AS px0,
         |    (patch_id * 17) % 122 AS py0 FROM range(0, 8) r(patch_id)),
         |px AS (SELECT patch_id, px0 + dx AS x, py0 + dy AS y, t
         |  FROM p, range(0, 6) a(dx), range(0, 6) b(dy), range(2, 6) c(t))
         |SELECT patch_id, count(*) AS n_px,
         |  sum(CAST(${tinyValueSql(mask = false)} AS DOUBLE)) AS sum_value,
         |  CAST(min(${tinyValueSql(mask = false)}) AS DOUBLE) AS min_value,
         |  CAST(max(${tinyValueSql(mask = false)}) AS DOUBLE) AS max_value
         |FROM px GROUP BY patch_id""".stripMargin

    // grid_pixel_timeseries: minimodis 60x60 window, QA-masked mean
    val pixelTimeseries =
      s"""WITH g AS (SELECT x, y, t,
         |    ${ndviValueSql(mask = true)} AS value, $qaValueSql AS qa
         |  FROM range(0, 60) a(x), range(0, 60) b(y), range(0, 4) c(t)),
         |c AS (SELECT x, y, value,
         |    ${graft.functions.QaDecode.modisQaConfDuckSql} AS conf FROM g)
         |SELECT CAST(x AS INT) AS x, CAST(y AS INT) AS y,
         |  avg(CASE WHEN conf > 0.5 THEN value END) AS mean_ndvi_masked,
         |  count(CASE WHEN conf > 0.5 THEN value END) AS n_clear,
         |  count(*) AS n_total
         |FROM c GROUP BY x, y""".stripMargin

    // grid_pipeline_masked: full 200x200x4, QA gate formula, per-t stats.
    // Output value is NULL iff the QA gate fires or NDVI is nodata
    // (the pipeline writes -3000 for both; pixels() masks it to NULL).
    val pipelineMasked =
      s"""WITH g AS (SELECT x, y, t,
         |    ${ndviValueSql(mask = true)} AS ndvi, $qaValueSql AS qa
         |  FROM range(0, 200) a(x), range(0, 200) b(y), range(0, 4) c(t)),
         |m AS (SELECT t, CASE WHEN (qa & 3) = 3 OR ((qa >> 6) & 3) = 3
         |      OR ((qa >> 8) & 1) = 1 OR ((qa >> 10) & 1) = 1
         |      OR ((qa >> 11) & 7) <> 1 OR ((qa >> 14) & 1) = 1
         |      OR ((qa >> 15) & 1) = 1 OR ((qa >> 2) & 15) >= 12
         |    THEN NULL ELSE ndvi END AS value FROM g)
         |SELECT CAST(t AS INT) AS t, count(value) AS n_clear,
         |  sum(CAST(value AS DOUBLE)) AS sum_ndvi
         |FROM m GROUP BY t""".stripMargin

    // grid_incremental_append: full tinygrid per-date counts, nodata kept
    val incrementalAppend =
      s"""SELECT CAST(t AS INT) AS t, count(*) AS n_px,
         |  sum(CAST(${tinyValueSql(mask = false)} AS DOUBLE)) AS sum_value
         |FROM range(0, 190) a(x), range(0, 130) b(y), range(0, 11) c(t)
         |GROUP BY t""".stripMargin

    // grid_polygon_mask: triangle containment on tinygrid pixel centers
    val (triXy, tx0, tx1, ty0, ty1) =
      polyWindow(SyntheticGrid.tinyHeader, triangleLatLng)
    val polygonMask =
      s"""SELECT ${pipParitySql(triXy, "(x + 0.5)", "(y + 0.5)")} AS in_poly,
         |  count(*) AS n, sum(${tinyValueSql(mask = true)}) AS sum_value
         |FROM range($tx0, $tx1) a(x), range($ty0, $ty1) b(y), range(0, 2) c(t)
         |GROUP BY 1""".stripMargin

    // grid_region_mask: test.box (assets/regions.geojson) on tinygrid
    val (boxXy, bx0, bx1, by0, by1) =
      polyWindow(SyntheticGrid.tinyHeader, testBoxLatLng)
    val regionMask =
      s"""SELECT ${pipParitySql(boxXy, "(x + 0.5)", "(y + 0.5)")} AS in_poly,
         |  CAST(t AS INT) AS t, count(*) AS n,
         |  avg(${tinyValueSql(mask = true)}) AS mean_value
         |FROM range($bx0, $bx1) a(x), range($by0, $by1) b(y), range(0, 2) c(t)
         |GROUP BY 1, 2""".stripMargin

    // grid_reproject_nearest: dst wgs84 100x100 lattice over the
    // minimodis footprint; per dst pixel invert to source pixel indices
    // and look up NDVI at t=0. The dst geotransform constants mirror the
    // query's construction exactly (computed with the same Scala code).
    val nh = SyntheticGrid.miniModisNdviHeader
    val dstO = wgs84Dst(nh, "oracle")
    val d0 = dstO.geot(0); val d1 = dstO.geot(1)
    val d3 = dstO.geot(3); val d5 = dstO.geot(5)
    val g = nh.geot
    val r = graft.grid.GeoTransform.SinusoidalRadius
    val reprojectNearest =
      s"""WITH dst AS (SELECT x, y,
         |    ${d(d0)} + (x + 0.5) * ${d(d1)} AS lng,
         |    ${d(d3)} + (y + 0.5) * ${d(d5)} AS lat
         |  FROM range(0, 100) a(x), range(0, 100) b(y)),
         |m AS (SELECT
         |    CAST(floor(((${d(r)} * radians(lng)) * cos(radians(lat))
         |      - ${d(g(0))}) / ${d(g(1))}) AS INT) AS x,
         |    CAST(floor((${d(r)} * radians(lat)
         |      - ${d(g(3))}) / ${d(g(5))}) AS INT) AS y,
         |    0 AS t
         |  FROM dst),
         |v AS (SELECT CASE WHEN x >= 0 AND x < ${nh.width}
         |      AND y >= 0 AND y < ${nh.height}
         |    THEN ${ndviValueSql(mask = true)} END AS value FROM m)
         |SELECT count(value) AS n_mapped,
         |  sum(CAST(value AS DOUBLE)) AS sum_value,
         |  count(*) AS n_total FROM v""".stripMargin

    // grid_reproject_bilinear: same dst lattice; per dst pixel the
    // CONTINUOUS source coords anchor a 2x2 sample-centered cell, the
    // 4 corners blend by fractional weights, nodata/out-of-grid corners
    // renormalize away. Mirrors Reproject.bilinear corner-for-corner.
    val reprojectBilinear =
      s"""WITH dst AS (SELECT x, y,
         |    ${d(d0)} + (x + 0.5) * ${d(d1)} AS lng,
         |    ${d(d3)} + (y + 0.5) * ${d(d5)} AS lat
         |  FROM range(0, 100) a(x), range(0, 100) b(y)),
         |m AS (SELECT x, y,
         |    (((${d(r)} * radians(lng)) * cos(radians(lat))
         |      - ${d(g(0))}) / ${d(g(1))}) - 0.5 AS cx,
         |    ((${d(r)} * radians(lat)
         |      - ${d(g(3))}) / ${d(g(5))}) - 0.5 AS cy
         |  FROM dst),
         |c AS (SELECT x, y,
         |    CAST(floor(cx) AS INT) + dx AS sx,
         |    CAST(floor(cy) AS INT) + dy AS sy,
         |    (CASE WHEN dx = 0 THEN 1.0 - (cx - floor(cx))
         |       ELSE cx - floor(cx) END)
         |    * (CASE WHEN dy = 0 THEN 1.0 - (cy - floor(cy))
         |       ELSE cy - floor(cy) END) AS wgt
         |  FROM m, range(0, 2) p(dx), range(0, 2) q(dy)),
         |v AS (SELECT x, y, wgt,
         |    CASE WHEN sx >= 0 AND sx < ${nh.width}
         |        AND sy >= 0 AND sy < ${nh.height}
         |      THEN ${ndviValueSqlAt("sx", "sy", "0")} END AS value
         |  FROM c),
         |px AS (SELECT x, y,
         |    sum(wgt * CAST(value AS DOUBLE))
         |      / sum(CASE WHEN value IS NOT NULL THEN wgt END) AS value,
         |    count(value) AS n_valid
         |  FROM v GROUP BY x, y)
         |SELECT count(value) AS n_mapped, sum(value) AS sum_value,
         |  CAST(sum(n_valid) AS DOUBLE) AS sum_valid, count(*) AS n_total
         |FROM px""".stripMargin

    // grid_reproject_cubic: Keys' a=-0.5 cubic kernel, Horner form
    // mirrored term-for-term against Reproject.cubic; 16 taps per dst
    // pixel from range(-1,3) cross products.
    def cwSql(f: String, k: String): String = {
      val dd = s"abs(($f) - ($k))"
      s"(CASE WHEN $dd < 1.0 THEN (1.5 * $dd - 2.5) * $dd * $dd + 1.0 " +
        s"ELSE ((-0.5 * $dd + 2.5) * $dd - 4.0) * $dd + 2.0 END)"
    }
    val reprojectCubic =
      s"""WITH dst AS (SELECT x, y,
         |    ${d(d0)} + (x + 0.5) * ${d(d1)} AS lng,
         |    ${d(d3)} + (y + 0.5) * ${d(d5)} AS lat
         |  FROM range(0, 100) a(x), range(0, 100) b(y)),
         |m AS (SELECT x, y,
         |    (((${d(r)} * radians(lng)) * cos(radians(lat))
         |      - ${d(g(0))}) / ${d(g(1))}) - 0.5 AS cx,
         |    ((${d(r)} * radians(lat)
         |      - ${d(g(3))}) / ${d(g(5))}) - 0.5 AS cy
         |  FROM dst),
         |m2 AS (SELECT x, y,
         |    CAST(floor(cx) AS INT) AS x0, CAST(floor(cy) AS INT) AS y0,
         |    cx - floor(cx) AS fx, cy - floor(cy) AS fy
         |  FROM m),
         |c AS (SELECT x, y, x0 + dx AS sx, y0 + dy AS sy,
         |    ${cwSql("fx", "dx")} * ${cwSql("fy", "dy")} AS wgt
         |  FROM m2, range(-1, 3) p(dx), range(-1, 3) q(dy)),
         |v AS (SELECT x, y, wgt,
         |    CASE WHEN sx >= 0 AND sx < ${nh.width}
         |        AND sy >= 0 AND sy < ${nh.height}
         |      THEN ${ndviValueSqlAt("sx", "sy", "0")} END AS value
         |  FROM c),
         |px AS (SELECT x, y,
         |    CASE WHEN abs(sum(CASE WHEN value IS NOT NULL THEN wgt END))
         |        < 1e-9 THEN NULL
         |      ELSE sum(wgt * CAST(value AS DOUBLE))
         |        / sum(CASE WHEN value IS NOT NULL THEN wgt END) END AS value,
         |    count(value) AS n_valid
         |  FROM v GROUP BY x, y)
         |SELECT count(value) AS n_mapped, sum(value) AS sum_value,
         |  CAST(sum(n_valid) AS DOUBLE) AS sum_valid, count(*) AS n_total
         |FROM px""".stripMargin

    // grid_interpolate_ts: linear gap fill along t per pixel, mirrored
    // with IGNORE NULLS window functions (nodata -> NULL gaps)
    val interpolateTs =
      s"""WITH g AS (SELECT x, y, t, ${tinyValueSql(mask = true)} AS value
         |  FROM range(0, 30) a(x), range(0, 8) b(y), range(0, 11) c(t)),
         |w AS (SELECT x, y, t, value,
         |    last_value(value IGNORE NULLS) OVER
         |      (PARTITION BY x, y ORDER BY t
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         |    last_value(CASE WHEN value IS NOT NULL THEN t END IGNORE NULLS)
         |      OVER (PARTITION BY x, y ORDER BY t
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
         |    first_value(value IGNORE NULLS) OVER
         |      (PARTITION BY x, y ORDER BY t
         |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         |    first_value(CASE WHEN value IS NOT NULL THEN t END IGNORE NULLS)
         |      OVER (PARTITION BY x, y ORDER BY t
         |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
         |  FROM g)
         |SELECT CAST(x AS INT) AS x, CAST(y AS INT) AS y, CAST(t AS INT) AS t,
         |  value,
         |  CASE WHEN value IS NOT NULL THEN CAST(value AS DOUBLE)
         |    WHEN pv IS NOT NULL AND nv IS NOT NULL
         |      THEN CAST(pv AS DOUBLE) + (CAST(nv AS DOUBLE) - CAST(pv AS DOUBLE))
         |        * CAST(t - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE)
         |    ELSE CAST(coalesce(pv, nv) AS DOUBLE) END AS value_filled
         |FROM w""".stripMargin

    // grid_savgol: the 5-point quadratic SG convolution replayed with
    // lag/lead (integer weights over integer-valued doubles -> the
    // weighted sum is exact in any order; one final divide)
    val savgol =
      s"""WITH g AS (SELECT x, y, t, ${tinyValueSql(mask = true)} AS value
         |  FROM range(0, 30) a(x), range(0, 8) b(y), range(0, 11) c(t)),
         |w AS (SELECT x, y, t, value,
         |    lag(CAST(value AS DOUBLE), 2) OVER win AS m2,
         |    lag(CAST(value AS DOUBLE), 1) OVER win AS m1,
         |    lead(CAST(value AS DOUBLE), 1) OVER win AS p1,
         |    lead(CAST(value AS DOUBLE), 2) OVER win AS p2
         |  FROM g WINDOW win AS (PARTITION BY x, y ORDER BY t))
         |SELECT CAST(x AS INT) AS x, CAST(y AS INT) AS y, CAST(t AS INT) AS t,
         |  value,
         |  (-3 * m2 + 12 * m1 + 17 * CAST(value AS DOUBLE)
         |    + 12 * p1 - 3 * p2) / 35 AS value_sg
         |FROM w""".stripMargin

    // grid_zonal_stats: per-class stats of the masked NDVI plane at t=0
    val zonalStats =
      s"""WITH g AS (SELECT x, y,
         |    ${ndviValueSql(mask = true)} AS v,
         |    CAST(($qaValueSql) % 17 AS INT) AS cls
         |  FROM range(0, 200) a(x), range(0, 200) b(y), (SELECT 0 AS t) c)
         |SELECT cls, count(v) AS n_valid, avg(v) AS mean_value,
         |  min(v) AS min_value, max(v) AS max_value
         |FROM g GROUP BY cls""".stripMargin

    // grid_anomaly_z: the same window stats replayed on the closed form
    // (identical double chain: sums of integer-valued doubles, then the
    // same divide/sqrt/round sequence)
    val anomalyZ =
      s"""WITH g AS (SELECT x, y, t,
         |    CAST(${tinyValueSql(mask = true)} AS DOUBLE) AS v
         |  FROM range(0, 25) a(x), range(0, 10) b(y), range(0, 11) c(t)),
         |w AS (SELECT x, y, t, v,
         |    count(*) OVER pw AS n, sum(v) OVER pw AS sm,
         |    sum(v * v) OVER pw AS ss
         |  FROM g WHERE v IS NOT NULL
         |  WINDOW pw AS (PARTITION BY x, y))
         |SELECT CAST(x AS INT) AS x, CAST(y AS INT) AS y, CAST(t AS INT) AS t,
         |  CASE WHEN (ss - sm * sm / n) / n > 0
         |    THEN round((v - sm / n) / sqrt((ss - sm * sm / n) / n), 4)
         |    ELSE 0.0 END AS z
         |FROM w""".stripMargin

    // grid_cusum_detect: the prefix-closed-form CUSUM replayed on the
    // closed form — identical conditional-window baseline, running
    // sum/min frames, micro-snapped slack (5 -> 5e6) and threshold
    // (40 -> 4e7), same divide/round/compare chain
    val cusumDetect =
      s"""WITH g AS (SELECT x, y, t,
         |    CAST(${tinyValueSql(mask = true)} AS DOUBLE) AS v
         |  FROM range(0, 25) a(x), range(0, 10) b(y), range(0, 11) c(t)),
         |s AS (SELECT x, y, t, v,
         |    count(CASE WHEN t < 5 THEN 1 END) OVER pw AS n_train,
         |    sum(CASE WHEN t < 5 THEN v END) OVER pw AS sm
         |  FROM g WHERE v IS NOT NULL
         |  WINDOW pw AS (PARTITION BY x, y)),
         |m AS (SELECT x, y, t, n_train,
         |    (sm - n_train * v) * 1e6 - n_train * 5000000.0 AS d
         |  FROM s WHERE t >= 5 AND n_train > 0),
         |r1 AS (SELECT x, y, t, n_train, sum(d) OVER cw AS r
         |  FROM m WINDOW cw AS (PARTITION BY x, y ORDER BY t
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |r2 AS (SELECT x, y, t, n_train, r,
         |    least(0.0, min(r) OVER cw) AS mn
         |  FROM r1 WINDOW cw AS (PARTITION BY x, y ORDER BY t
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT CAST(x AS INT) AS x, CAST(y AS INT) AS y, CAST(t AS INT) AS t,
         |  round((r - mn) / (n_train * 1e6), 4) AS cusum,
         |  CAST((r - mn) > n_train * 40000000.0 AS INT) AS alarm
         |FROM r2""".stripMargin

    // fused CUSUM: the same micro-grid replay over the monitor
    // fixture's closed form (trainT=2, slack 0.5 -> 500000 micro,
    // threshold 5 -> 5000000 micro)
    val cusumFused =
      s"""WITH g AS (SELECT x, y, t, $monitorValueSql AS v
         |  FROM range(0, 80) a(x), range(0, 60) b(y), range(0, 4) c(t)),
         |s AS (SELECT x, y, t, v,
         |    count(CASE WHEN t < 2 THEN 1 END) OVER pw AS n_train,
         |    sum(CASE WHEN t < 2 THEN v END) OVER pw AS sm
         |  FROM g WHERE v IS NOT NULL
         |  WINDOW pw AS (PARTITION BY x, y)),
         |m AS (SELECT x, y, t, n_train,
         |    (sm - n_train * v) * 1e6 - n_train * 500000.0 AS d
         |  FROM s WHERE t >= 2 AND n_train > 0),
         |r1 AS (SELECT x, y, t, n_train, sum(d) OVER cw AS r
         |  FROM m WINDOW cw AS (PARTITION BY x, y ORDER BY t
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |r2 AS (SELECT x, y, t, n_train, r,
         |    least(0.0, min(r) OVER cw) AS mn
         |  FROM r1 WINDOW cw AS (PARTITION BY x, y ORDER BY t
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT CAST(x AS INT) AS x, CAST(y AS INT) AS y, CAST(t AS INT) AS t,
         |  round((r - mn) / (n_train * 1e6), 4) AS cusum,
         |  CAST((r - mn) > n_train * 5000000.0 AS INT) AS alarm
         |FROM r2""".stripMargin

    // fused trend: the normal-equation replay over the monitor fixture
    val trendFused =
      s"""WITH g AS (SELECT x, y, t, $monitorValueSql AS v
         |  FROM range(0, 80) a(x), range(0, 60) b(y), range(0, 4) c(t)),
         |s AS (SELECT x, y, count(*) AS n,
         |    sum(CAST(t AS DOUBLE)) AS st, sum(v) AS sv,
         |    sum(CAST(t AS DOUBLE) * v) AS stv,
         |    sum(CAST(t AS DOUBLE) * CAST(t AS DOUBLE)) AS stt
         |  FROM g WHERE v IS NOT NULL GROUP BY x, y)
         |SELECT CAST(x AS INT) AS x, CAST(y AS INT) AS y, n,
         |  CASE WHEN n * stt - st * st > 0
         |    THEN round((n * stv - st * sv) / (n * stt - st * st), 6)
         |    ELSE 0.0 END AS slope
         |FROM s""".stripMargin

    // grid_xcorr: the Pearson closed form replayed on the two value
    // functions (60x60x4 window, both bands nodata-masked); exact
    // integer sums, then the identical sqrt(da)*sqrt(db) divide chain
    val xcorr =
      s"""WITH g AS (SELECT x, y, t,
         |    CAST(${ndviValueSql(mask = true)} AS DOUBLE) AS va,
         |    CAST(CASE WHEN ($qaValueSql) = 65535 THEN NULL
         |         ELSE ($qaValueSql) END AS DOUBLE) AS vb
         |  FROM range(0, 60) a(x), range(0, 60) b(y), range(0, 4) c(t)),
         |s AS (SELECT x, y, count(*) AS n, sum(va) AS sa, sum(vb) AS sb,
         |    sum(va * va) AS saa, sum(vb * vb) AS sbb, sum(va * vb) AS sab
         |  FROM g WHERE va IS NOT NULL AND vb IS NOT NULL GROUP BY x, y)
         |SELECT CAST(x AS INT) AS x, CAST(y AS INT) AS y, n,
         |  CASE WHEN n >= 2 AND n * saa - sa * sa > 0
         |            AND n * sbb - sb * sb > 0
         |    THEN round((n * sab - sa * sb) /
         |      (sqrt(n * saa - sa * sa) * sqrt(n * sbb - sb * sb)), 4)
         |  END AS corr_ab
         |FROM s""".stripMargin

    // grid_label_patches: min-label transitive closure over the
    // 4-adjacency graph of the thresholded t=0 closed form (the
    // dedup_clusters recursive-CTE pattern on pixels)
    val labelPatches =
      s"""WITH RECURSIVE g AS (SELECT x, y,
         |    CAST(y * 190 + x AS BIGINT) AS pid
         |  FROM range(0, 25) a(x), range(0, 10) b(y)
         |  WHERE (x + y) % 13 <> 0 AND (x * 31 + y * 17) % 97 >= 60),
         |e AS (SELECT p.pid AS src, q.pid AS dst FROM g p JOIN g q
         |  ON abs(p.x - q.x) + abs(p.y - q.y) = 1),
         |reach(pid, lab) AS (
         |  SELECT pid, pid FROM g
         |  UNION
         |  SELECT e.src, r.lab FROM e JOIN reach r ON e.dst = r.pid)
         |SELECT CAST(g.x AS INT) AS x, CAST(g.y AS INT) AS y, m.patch_id
         |FROM g JOIN (SELECT pid, min(lab) AS patch_id FROM reach
         |  GROUP BY pid) m USING (pid)""".stripMargin

    // grid_patch_sieve: the same min-label closure, then per-patch
    // stats with a HAVING >= 3 sieve (integer sums; centroid divides
    // rounded identically on both sides)
    val patchSieve =
      s"""WITH RECURSIVE g AS (SELECT x, y,
         |    CAST(y * 190 + x AS BIGINT) AS pid
         |  FROM range(0, 25) a(x), range(0, 10) b(y)
         |  WHERE (x + y) % 13 <> 0 AND (x * 31 + y * 17) % 97 >= 60),
         |e AS (SELECT p.pid AS src, q.pid AS dst FROM g p JOIN g q
         |  ON abs(p.x - q.x) + abs(p.y - q.y) = 1),
         |reach(pid, lab) AS (
         |  SELECT pid, pid FROM g
         |  UNION
         |  SELECT e.src, r.lab FROM e JOIN reach r ON e.dst = r.pid),
         |lbl AS (SELECT g.x, g.y, m.patch_id
         |  FROM g JOIN (SELECT pid, min(lab) AS patch_id FROM reach
         |    GROUP BY pid) m USING (pid))
         |SELECT patch_id, count(*) AS n_px,
         |  CAST(min(x) AS INT) AS x_min, CAST(max(x) AS INT) AS x_max,
         |  CAST(min(y) AS INT) AS y_min, CAST(max(y) AS INT) AS y_max,
         |  round(sum(x) * 1.0 / count(*), 6) AS cx,
         |  round(sum(y) * 1.0 / count(*), 6) AS cy
         |FROM lbl GROUP BY patch_id HAVING count(*) >= 3""".stripMargin

    // grid_terrain: the 3x3 Horn stencil replayed by recomputing the
    // closed form at the 9 neighbor coordinates (no self-join); trig
    // constants are embedded as exact double literals computed from the
    // SAME header/sun parameters as the Spark side, and degrees use an
    // explicit 180/pi factor on both sides
    val terrain = {
      val h = SyntheticGrid.tinyHeader
      val hx = 8.0 * h.geot(1)
      val hy = 8.0 * math.abs(h.geot(5))
      val degPerRad = 180.0 / math.Pi
      val zen = (90.0 - 45.0) * (math.Pi / 180.0)
      val azMath = ((360.0 - 315.0 + 90.0) % 360.0) * (math.Pi / 180.0)
      val cosZen = math.cos(zen)
      val sinZen = math.sin(zen)
      val twoPi = 2.0 * math.Pi
      def at(xe: String, ye: String) = tinyValueSqlAt(xe, ye, "t")
      val lum = s"$cosZen * cos(srad) + $sinZen * sin(srad) * " +
        s"cos($azMath - arad)"
      s"""WITH c AS (SELECT x, y, t,
         |    ${at("x - 1", "y - 1")} AS va, ${at("x", "y - 1")} AS vb,
         |    ${at("x + 1", "y - 1")} AS vc, ${at("x - 1", "y")} AS vd,
         |    ${at("x", "y")} AS ve, ${at("x + 1", "y")} AS vf,
         |    ${at("x - 1", "y + 1")} AS vg, ${at("x", "y + 1")} AS vh,
         |    ${at("x + 1", "y + 1")} AS vi
         |  FROM range(1, ${h.width - 1}) a(x),
         |       range(1, ${h.height - 1}) b(y), range(0, 2) c0(t)),
         |q AS (SELECT x, y, t,
         |    ((vc + 2 * vf + vi) - (va + 2 * vd + vg)) * 1.0 / $hx AS dzdx,
         |    ((vg + 2 * vh + vi) - (va + 2 * vb + vc)) * 1.0 / $hy AS dzdy
         |  FROM c WHERE va IS NOT NULL AND vb IS NOT NULL
         |    AND vc IS NOT NULL AND vd IS NOT NULL AND ve IS NOT NULL
         |    AND vf IS NOT NULL AND vg IS NOT NULL AND vh IS NOT NULL
         |    AND vi IS NOT NULL),
         |r0 AS (SELECT x, y, t,
         |    atan(sqrt(dzdx * dzdx + dzdy * dzdy)) AS srad,
         |    atan2(dzdy, -dzdx) AS arad0 FROM q),
         |r1 AS (SELECT x, y, t, srad, arad0 * $degPerRad AS adeg0,
         |    CASE WHEN arad0 < 0 THEN arad0 + $twoPi ELSE arad0 END AS arad
         |  FROM r0)
         |SELECT CAST(x AS INT) AS x, CAST(y AS INT) AS y, CAST(t AS INT) AS t,
         |  round(srad * $degPerRad, 3) AS slope_deg,
         |  round(CASE WHEN adeg0 > 90.0 THEN 450.0 - adeg0
         |        ELSE 90.0 - adeg0 END, 3) AS aspect_deg,
         |  round(CASE WHEN $lum < 0 THEN 0.0
         |        ELSE 255.0 * ($lum) END, 3) AS hillshade
         |FROM r1""".stripMargin
    }

    // grid_mvc_composite: per pixel per 4-date period, max value + its
    // lowest t (the MVC compositing rule replayed on the closed form)
    val mvcComposite =
      s"""WITH g AS (SELECT x, y, t, ${tinyValueSql(mask = true)} AS value
         |  FROM range(0, 25) a(x), range(0, 10) b(y), range(0, 11) c(t)),
         |r AS (SELECT x, y, CAST(floor(t / 4) AS INT) AS period, t, value,
         |    row_number() OVER (PARTITION BY x, y, CAST(floor(t / 4) AS INT)
         |      ORDER BY value DESC, t) AS rn
         |  FROM g WHERE value IS NOT NULL)
         |SELECT CAST(x AS INT) AS x, CAST(y AS INT) AS y, period,
         |  CAST(t AS INT) AS t_of_max, value AS max_value
         |FROM r WHERE rn = 1""".stripMargin

    // grid_argmax_t: per pixel the lowest t holding the max masked value
    val argmaxT =
      s"""WITH g AS (SELECT x, y, t, ${tinyValueSql(mask = true)} AS value
         |  FROM range(0, 25) a(x), range(0, 10) b(y), range(0, 11) c(t)),
         |r AS (SELECT x, y, t, value, row_number() OVER
         |    (PARTITION BY x, y ORDER BY value DESC, t) AS rn
         |  FROM g WHERE value IS NOT NULL)
         |SELECT CAST(x AS INT) AS x, CAST(y AS INT) AS y,
         |  CAST(t AS INT) AS t_of_max, value AS max_value
         |FROM r WHERE rn = 1""".stripMargin

    // grid_resample_mean: forward-map every source pixel center to the
    // dst lattice, average per dst pixel (J3 average resampling)
    val resampleMean =
      s"""WITH src AS (SELECT x, y, t,
         |    ${ndviValueSql(mask = true)} AS v,
         |    ${d(g(0))} + (x + 0.5) * ${d(g(1))} AS gx,
         |    ${d(g(3))} + (y + 0.5) * ${d(g(5))} AS gy
         |  FROM range(0, 200) a(x), range(0, 200) b(y), (SELECT 0 AS t) c),
         |m AS (SELECT v,
         |    CAST(floor((degrees(gx / (${d(r)} * cos(gy / ${d(r)})))
         |      - ${d(d0)}) / ${d(d1)}) AS INT) AS dx,
         |    CAST(floor((degrees(gy / ${d(r)})
         |      - ${d(d3)}) / ${d(d5)}) AS INT) AS dy
         |  FROM src)
         |SELECT dx AS x, dy AS y, avg(v) AS value, count(v) AS n_src
         |FROM m WHERE dx BETWEEN 0 AND 99 AND dy BETWEEN 0 AND 99
         |GROUP BY dx, dy""".stripMargin

    // grid_fused_masked_mean: box 20..180 x 30..170, all 4 dates; the
    // kernel's conf > 0.5 gate and nodata exclusion mirrored in SQL
    val fusedMaskedMean =
      s"""WITH g AS (SELECT x, y, t,
         |    ${ndviValueSql(mask = true)} AS v, $qaValueSql AS qa
         |  FROM range(20, 180) a(x), range(30, 170) b(y), range(0, 4) c(t)),
         |c AS (SELECT t, v,
         |    ${graft.functions.QaDecode.modisQaConfDuckSql} AS conf FROM g)
         |SELECT CAST(t AS INT) AS t,
         |  CASE WHEN count(CASE WHEN conf > 0.5 THEN v END) > 0
         |    THEN sum(CASE WHEN conf > 0.5 THEN CAST(v AS DOUBLE) END)
         |      / count(CASE WHEN conf > 0.5 THEN v END) END AS mean_masked,
         |  count(*) AS n
         |FROM c GROUP BY t""".stripMargin

    // grid_box_stats: per-date stats over box x[37,173) y[8,141) t[1,4);
    // integer values -> sums exact in doubles, hash-safe
    val boxStats =
      s"""WITH g AS (SELECT x, y, t, ${ndviValueSql(mask = true)} AS v
         |  FROM range(37, 173) a(x), range(8, 141) b(y), range(1, 4) c(t))
         |SELECT CAST(t AS INT) AS t,
         |  CASE WHEN count(v) > 0
         |    THEN sum(CAST(v AS DOUBLE)) / count(v) END AS mean_v,
         |  count(v) AS n_valid, count(*) AS n_total,
         |  CAST(min(v) AS DOUBLE) AS min_v, CAST(max(v) AS DOUBLE) AS max_v
         |FROM g GROUP BY t""".stripMargin

    // grid_trend_slope: the same normal-equation arithmetic replayed on
    // the closed form (sums of integer-valued doubles — exact in any
    // order — then the identical divide/round)
    val trendSlope =
      s"""WITH g AS (SELECT x, y, t,
         |    CAST(${tinyValueSql(mask = true)} AS DOUBLE) AS v
         |  FROM range(0, 25) a(x), range(0, 10) b(y), range(0, 11) c(t)),
         |s AS (SELECT x, y, count(*) AS n,
         |    sum(CAST(t AS DOUBLE)) AS st, sum(v) AS sv,
         |    sum(CAST(t AS DOUBLE) * v) AS stv,
         |    sum(CAST(t AS DOUBLE) * CAST(t AS DOUBLE)) AS stt
         |  FROM g WHERE v IS NOT NULL GROUP BY x, y)
         |SELECT CAST(x AS INT) AS x, CAST(y AS INT) AS y, n,
         |  CASE WHEN n * stt - st * st > 0
         |    THEN round((n * stv - st * sv) / (n * stt - st * st), 6)
         |    ELSE 0.0 END AS slope
         |FROM s""".stripMargin

    // grid_climatology: per-(pixel, season) stats replayed on the
    // closed form (integer-exact sum / count, double min/max casts)
    val climatology =
      s"""WITH g AS (SELECT x, y, t, ${tinyValueSql(mask = true)} AS v
         |  FROM range(0, 25) a(x), range(0, 10) b(y), range(0, 11) c(t))
         |SELECT CAST(x AS INT) AS x, CAST(y AS INT) AS y,
         |  CAST(t % 4 AS INT) AS season, count(*) AS n,
         |  sum(CAST(v AS DOUBLE)) / count(*) AS mean_value,
         |  CAST(min(v) AS DOUBLE) AS min_value,
         |  CAST(max(v) AS DOUBLE) AS max_value
         |FROM g WHERE v IS NOT NULL
         |GROUP BY x, y, t % 4""".stripMargin

    // grid_focal_mean: the 3x3 window replayed as a 9-offset
    // contribution join over the closed form (edges clip, nodata
    // masked); integer-valued doubles -> exact sums, one divide
    val focalMean =
      s"""WITH g AS (SELECT x, y, t, ${tinyValueSql(mask = true)} AS v
         |  FROM range(0, 190) a(x), range(0, 130) b(y), range(0, 3) c(t)),
         |n AS (SELECT x + dx AS cx, y + dy AS cy, t, v
         |  FROM g, range(-1, 2) ox(dx), range(-1, 2) oy(dy)
         |  WHERE x + dx BETWEEN 0 AND 189 AND y + dy BETWEEN 0 AND 129)
         |SELECT CAST(cx AS INT) AS x, CAST(cy AS INT) AS y,
         |  CAST(t AS INT) AS t, count(v) AS n_valid,
         |  CASE WHEN count(v) > 0
         |    THEN sum(CAST(v AS DOUBLE)) / count(v) END AS mean_nbr,
         |  CAST(min(v) AS DOUBLE) AS min_nbr,
         |  CAST(max(v) AS DOUBLE) AS max_nbr
         |FROM n GROUP BY cx, cy, t""".stripMargin

    // grid_season_onset: the same bounded forward frame replayed —
    // k=2 consecutive dates at or above 60, NULLs break runs, series
    // tails shorter than k cannot qualify
    val seasonOnset =
      s"""WITH g AS (SELECT x, y, t, ${tinyValueSql(mask = true)} AS v
         |  FROM range(0, 25) a(x), range(0, 10) b(y), range(0, 11) c(t)),
         |w AS (SELECT x, y, t, v,
         |    sum(CASE WHEN v IS NOT NULL AND CAST(v AS DOUBLE) >= 60.0
         |      THEN 1 ELSE 0 END) OVER fw AS run_hits,
         |    count(*) OVER fw AS run_len
         |  FROM g
         |  WINDOW fw AS (PARTITION BY x, y ORDER BY t
         |    ROWS BETWEEN CURRENT ROW AND 1 FOLLOWING))
         |SELECT CAST(x AS INT) AS x, CAST(y AS INT) AS y,
         |  CAST(min(CASE WHEN run_hits = 2 AND run_len = 2 THEN t END)
         |    AS INT) AS onset_t,
         |  count(v) AS n_valid
         |FROM w GROUP BY x, y""".stripMargin

    // grid_focal_gaussian: binomial-weighted contributions (symmetric
    // kernel, so the contribution weight at offset (dx, dy) IS the
    // kernel cell); integer weights x integer values -> exact sums
    val focalGaussian =
      s"""WITH g AS (SELECT x, y, t, ${tinyValueSql(mask = true)} AS v
         |  FROM range(0, 190) a(x), range(0, 130) b(y), range(0, 2) c(t)),
         |o(dx, dy, w) AS (VALUES (-1,-1,1.0),(0,-1,2.0),(1,-1,1.0),
         |  (-1,0,2.0),(0,0,4.0),(1,0,2.0),(-1,1,1.0),(0,1,2.0),(1,1,1.0)),
         |n AS (SELECT x + dx AS cx, y + dy AS cy, t, v, w
         |  FROM g, o
         |  WHERE x + dx BETWEEN 0 AND 189 AND y + dy BETWEEN 0 AND 129)
         |SELECT CAST(cx AS INT) AS x, CAST(cy AS INT) AS y,
         |  CAST(t AS INT) AS t,
         |  CASE WHEN count(v) > 0
         |    THEN sum(CASE WHEN v IS NOT NULL
         |        THEN w * CAST(v AS DOUBLE) END)
         |      / sum(CASE WHEN v IS NOT NULL THEN w END) END AS conv
         |FROM n GROUP BY cx, cy, t""".stripMargin

    // grid_pyramid_mean: nodata-aware 2x2 block means of the closed
    // form (integer-valued floats -> exact sums, one divide); blocks
    // with no valid pixel are nodata in the store -> NULL rows here
    val pyramidMean =
      s"""WITH g AS (SELECT x, y, t, ${tinyValueSql(mask = true)} AS v
         |  FROM range(0, 190) a(x), range(0, 130) b(y), range(0, 11) c(t))
         |SELECT CAST(x // 2 AS INT) AS x, CAST(y // 2 AS INT) AS y,
         |  CAST(t AS INT) AS t,
         |  CASE WHEN count(v) > 0
         |    THEN sum(CAST(v AS DOUBLE)) / count(v) END AS value
         |FROM g GROUP BY x // 2, y // 2, t""".stripMargin

    // grid_pyramid_mode: per-block most frequent valid value, ties to
    // the lowest (the deterministic categorical reducer)
    val pyramidMode =
      s"""WITH g AS (SELECT x, y, t, ${tinyValueSql(mask = true)} AS v
         |  FROM range(0, 190) a(x), range(0, 130) b(y), range(0, 11) c(t)),
         |c AS (SELECT CAST(x // 2 AS INT) AS x, CAST(y // 2 AS INT) AS y,
         |    CAST(t AS INT) AS t, v, count(*) AS cnt
         |  FROM g WHERE v IS NOT NULL GROUP BY x // 2, y // 2, t, v),
         |r AS (SELECT x, y, t, v, row_number() OVER
         |    (PARTITION BY x, y, t ORDER BY cnt DESC, v ASC) AS rn FROM c),
         |blocks AS (SELECT DISTINCT CAST(x // 2 AS INT) AS x,
         |    CAST(y // 2 AS INT) AS y, CAST(t AS INT) AS t FROM g)
         |SELECT b.x, b.y, b.t, CAST(r.v AS FLOAT) AS value
         |FROM blocks b LEFT JOIN r ON r.x = b.x AND r.y = b.y
         |  AND r.t = b.t AND r.rn = 1""".stripMargin

    // grid_zonal_regions: per-region replay — each region's own bbox +
    // ray-cast parity, stats unioned (same geometry code path builds
    // the literals, so both engines rasterize identical polygons)
    val zonalRegions = {
      def one(name: String, ring: Array[(Double, Double)]): String = {
        val (xy, x0, x1, y0, y1) = polyWindow(SyntheticGrid.tinyHeader, ring)
        s"""SELECT '$name' AS region, CAST(t AS INT) AS t,
           |  count(v) AS n_valid,
           |  CASE WHEN count(v) > 0
           |    THEN sum(CAST(v AS DOUBLE)) / count(v) END AS mean_value,
           |  CAST(min(v) AS DOUBLE) AS min_value,
           |  CAST(max(v) AS DOUBLE) AS max_value
           |FROM (SELECT t, ${tinyValueSql(mask = true)} AS v
           |  FROM range($x0, $x1) a(x), range($y0, $y1) b(y), range(0, 3) c(t)
           |  WHERE ${pipParitySql(xy, "(x + 0.5)", "(y + 0.5)")})
           |GROUP BY t""".stripMargin
      }
      one("test.triangle", testTriangleLatLng) + "\nUNION ALL\n" +
        one("test.box", testBoxLatLng)
    }

    // grid_percentile_composite: same element-picking percentiles on
    // the closed form
    val percentileComposite =
      s"""WITH g AS (SELECT x, y, t, ${tinyValueSql(mask = true)} AS v
         |  FROM range(0, 25) a(x), range(0, 10) b(y), range(0, 11) c(t))
         |SELECT CAST(x AS INT) AS x, CAST(y AS INT) AS y,
         |  CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY v) AS DOUBLE)
         |    AS p90,
         |  CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY v) AS DOUBLE)
         |    AS p50,
         |  count(*) AS n_valid
         |FROM g WHERE v IS NOT NULL GROUP BY x, y""".stripMargin

    // grid_class_transitions: the two-date class cross-tab replayed on
    // the QA closed form (nodata 65535 excluded on either end)
    val classTransitions =
      s"""WITH g AS (SELECT
         |    (x * 40503 + y * 9973 + 0 * 65521) % 65536 AS va,
         |    (x * 40503 + y * 9973 + 3 * 65521) % 65536 AS vb
         |  FROM range(0, 200) a(x), range(0, 200) b(y))
         |SELECT CAST(va % 17 AS INT) AS cls_from,
         |  CAST(vb % 17 AS INT) AS cls_to, count(*) AS n_px
         |FROM g WHERE va <> 65535 AND vb <> 65535
         |GROUP BY 1, 2""".stripMargin

    // grid_harmonic_fit: identical micro-snapped weight chain — the
    // omega literal is the query's own Scala double, round-trip-exact
    val omega = 2.0 * math.Pi / 4
    val harmonicFit =
      s"""WITH g AS (SELECT x, y, t,
         |    CAST(${tinyValueSql(mask = true)} AS DOUBLE) AS v
         |  FROM range(0, 25) a(x), range(0, 10) b(y), range(0, 11) c(t)),
         |w AS (SELECT x, y, v,
         |    CAST(round(cos(t * ${d(omega)}) * 1000000) AS BIGINT) AS wc,
         |    CAST(round(sin(t * ${d(omega)}) * 1000000) AS BIGINT) AS ws
         |  FROM g WHERE v IS NOT NULL),
         |s AS (SELECT x, y, count(*) AS n_valid,
         |    sum(v * CAST(wc AS DOUBLE)) AS sc,
         |    sum(v * CAST(ws AS DOUBLE)) AS ss
         |  FROM w GROUP BY x, y)
         |SELECT CAST(x AS INT) AS x, CAST(y AS INT) AS y, n_valid,
         |  round(sc / 1000000.0 * 2.0 / n_valid, 6) AS c1,
         |  round(ss / 1000000.0 * 2.0 / n_valid, 6) AS s1,
         |  round(sqrt((sc / 1000000.0 * 2.0 / n_valid)
         |      * (sc / 1000000.0 * 2.0 / n_valid)
         |    + (ss / 1000000.0 * 2.0 / n_valid)
         |      * (ss / 1000000.0 * 2.0 / n_valid)), 6) AS amplitude
         |FROM s""".stripMargin

    // grid_class_area: identical lat/weight/area chain, literals from
    // the query's own header via d()
    val classArea = {
      val h = SyntheticGrid.tinyHeader
      val kmPerDeg = 111.19492664455873
      val cellKm2 = math.abs(h.geot(1) * h.geot(5)) * kmPerDeg * kmPerDeg
      s"""WITH g AS (SELECT x, y, ${tinyValueSql(mask = true)} AS v
         |  FROM range(0, 190) a(x), range(0, 130) b(y), (SELECT 0 AS t) c),
         |w AS (SELECT CAST(v % 5 AS INT) AS cls,
         |    CAST(round(cos(radians(${d(h.geot(3))}
         |      + (y + 0.5) * ${d(h.geot(5))})) * 1000000) AS BIGINT)
         |      AS w_micro
         |  FROM g WHERE v IS NOT NULL)
         |SELECT cls, count(*) AS n_px,
         |  round(CAST(sum(w_micro) AS DOUBLE) / 1000000.0 * ${d(cellKm2)}, 6)
         |    AS area_km2
         |FROM w GROUP BY cls""".stripMargin
    }

    // grid_rasterize_regions: first-match-wins rasterization replayed
    // with the same ray-cast parity on the same xy-projected rings
    val rasterizeRegions = {
      val triXy = testTriangleLatLng.map { case (lat, lng) =>
        SyntheticGrid.tinyHeader.latLngToXY(lat, lng) }
      val boxXy = testBoxLatLng.map { case (lat, lng) =>
        SyntheticGrid.tinyHeader.latLngToXY(lat, lng) }
      s"""SELECT cls, count(*) AS n_px FROM (
         |  SELECT CASE
         |    WHEN ${pipParitySql(triXy, "(x + 0.5)", "(y + 0.5)")} THEN 0
         |    WHEN ${pipParitySql(boxXy, "(x + 0.5)", "(y + 0.5)")} THEN 1
         |    END AS cls
         |  FROM range(0, 190) a(x), range(0, 130) b(y))
         |WHERE cls IS NOT NULL GROUP BY cls""".stripMargin
    }

    Map(
      "grid_rasterize_regions" -> rasterizeRegions,
      "grid_class_area" -> classArea,
      "grid_harmonic_fit" -> harmonicFit,
      "grid_class_transitions" -> classTransitions,
      "grid_percentile_composite" -> percentileComposite,
      "grid_zonal_regions" -> zonalRegions,
      "grid_pyramid_mean" -> pyramidMean,
      "grid_pyramid_mode" -> pyramidMode,
      "grid_focal_mean" -> focalMean,
      "grid_focal_gaussian" -> focalGaussian,
      "grid_season_onset" -> seasonOnset,
      "grid_trend_slope" -> trendSlope,
      "grid_climatology" -> climatology,
      "grid_box_stats" -> boxStats,
      "grid_fused_masked_mean" -> fusedMaskedMean,
      "grid_resample_mean" -> resampleMean,
      "grid_zonal_stats" -> zonalStats,
      "grid_argmax_t" -> argmaxT,
      "grid_mvc_composite" -> mvcComposite,
      "grid_anomaly_z" -> anomalyZ,
      "grid_cusum_detect" -> cusumDetect,
      "grid_cusum_fused" -> cusumFused,
      "grid_trend_fused" -> trendFused,
      "grid_xcorr" -> xcorr,
      "grid_terrain" -> terrain,
      "grid_label_patches" -> labelPatches,
      "grid_patch_sieve" -> patchSieve,
      "grid_interpolate_ts" -> interpolateTs,
      "grid_savgol" -> savgol,
      "grid_slice_window" -> sliceWindow,
      // grid_info: every value is a fixture constant (tiny header with
      // the left half populated: 10x26 frac grid x 4 time chunks, 5 of
      // 10 frac columns present), so the oracle pins them literally —
      // what it checks is that header load + chunk math + the sparse
      // listing distinct-count actually produce these numbers
      "grid_info" ->
        ("""SELECT 'sparsegrid' AS name, 190 AS width, 130 AS height,
           |  19 AS frac_width, 5 AS frac_height, 3 AS frac_n_dates,
           |  'float32' AS dtype, 'wgs84' AS srs, 11 AS n_dates,
           |  10 AS n_fracs_x, 26 AS n_fracs_y, 4 AS n_time_chunks,
           |  CAST(1040 AS BIGINT) AS n_chunks_expected,
           |  CAST(520 AS BIGINT) AS n_chunks_present,
           |  CAST(0.5 AS DOUBLE) AS sparsity,
           |  CAST(946684800000 AS BIGINT) AS t_min_ms,
           |  CAST(947548800000 AS BIGINT) AS t_max_ms,
           |  CAST(-999.0 AS DOUBLE) AS nodata""".stripMargin),
      "grid_index_select" -> indexSelect,
      "grid_pixel_timeseries" -> pixelTimeseries,
      "grid_pipeline_masked" -> pipelineMasked,
      "grid_incremental_append" -> incrementalAppend,
      "grid_polygon_mask" -> polygonMask,
      "grid_region_mask" -> regionMask,
      "grid_reproject_nearest" -> reprojectNearest,
      "grid_reproject_bilinear" -> reprojectBilinear,
      "grid_reproject_bilinear_fused" -> reprojectBilinear,
      "grid_reproject_cubic" -> reprojectCubic,
      "grid_patch_extract" -> patchExtract)
  }
}
