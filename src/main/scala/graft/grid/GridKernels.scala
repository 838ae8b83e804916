package graft.grid

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions._

/** Fused whole-store scan kernels (see [[graft.functions.PayloadKernels]]):
  * the chunk-at-a-time execution shape for dense scans whose answer is an
  * aggregate, where the relational pixel explode would dominate. Each
  * returns a small DataFrame; everything up to the final few-hundred-row
  * aggregation runs inside one generated loop per chunk.
  */
object GridKernels {

  /** Store-wide MODIS QA confidence statistics (sum of confidences +
    * pixel count) without pixel explosion — the reference's Cython QA
    * kernel as a fused chunk fold. */
  def qaConfStats(spark: SparkSession, root: String): DataFrame =
    FractionStore.fractions(spark, root)
      .select(QaConfStatsExpr(col("data")).as("s"))
      .agg(sum(col("s.sum_conf")).as("sum_conf"), sum(col("s.n")).as("n_px"))

  /** Prune each store to the kernel's box, pair the stores' chunk rows
    * with the one aligned join ([[FractionStore.alignedJoin]]: shared
    * geogrid + time chunking, matching `nd` per chunk), run the kernel
    * once per chunk row and explode its entries into column `s`. */
  private[grid] def scan(spark: SparkSession, stores: Seq[(GridHeader, String)],
                   kernel: ChunkKernel): DataFrame = {
    val b = kernel.box
    FractionStore.alignedJoin(stores.map { case (header, root) =>
      (header, FractionStore.fractionsForWindow(spark, header, root,
        b.xFrom, b.xTo, b.yFrom, b.yTo, b.tFrom, b.tTo))
    }).select(explode(ChunkKernelExpr.column(
      stores.indices.map(i => col(s"data_$i")), kernel)).as("s"))
  }

  /** The per-pixel kernels read each pixel's whole series from one
    * payload row, so [tFrom, tTo) must sit inside one time slab. */
  private def requireOneSlab(header: GridHeader, tFrom: Int, tTo: Int,
                             what: String, relational: String): Unit =
    require((tTo - 1) / header.fracNDates == tFrom / header.fracNDates,
      s"fused $what needs [$tFrom,$tTo) inside one time slab of " +
        s"${header.fracNDates} dates; use GridTimeSeries.$relational over " +
        "loadSliceXY for ranges that straddle slabs")

  /** Per-date statistics of one grid over a pixel/time box — the fused
    * form of `loadSliceXY(...).groupBy(t).agg(...)` (the P3 window-load
    * hot path without the pixel explode). Output: (t, mean_v, n_valid,
    * n_total, min_v, max_v); nodata pixels are excluded from
    * mean/min/max and n_valid, counted in n_total. Equality vs the
    * exploded path is pinned by PayloadKernelsSpec. */
  def boxStatsByT(spark: SparkSession, header: GridHeader, root: String,
                  xFrom: Int, xTo: Int, yFrom: Int, yTo: Int,
                  tFrom: Int, tTo: Int): DataFrame =
    scan(spark, Seq((header, root)), BoxStats(PayloadCodec.code(header.dtype),
        Box(xFrom, xTo, yFrom, yTo, tFrom, tTo), header.nodata))
      .groupBy(col("s.t").as("t"))
      .agg(sum(col("s.sum_v")).as("sv"), sum(col("s.n_valid")).as("nv"),
        sum(col("s.n_total")).as("n"),
        min(col("s.min_v")).as("min_v"), max(col("s.max_v")).as("max_v"))
      .select(col("t"),
        when(col("nv") > 0, col("sv") / col("nv")).as("mean_v"),
        col("nv").as("n_valid"), col("n").as("n_total"),
        col("min_v"), col("max_v"))

  /** Whole-box aggregate of one grid over a pixel/time box (one row:
    * n_valid, mean_v, min_v, max_v) — the fused twin of
    * `loadSliceXY(...).agg(count(value), avg(value), ...)`; n_valid is
    * 0, not NULL, for a box that holds no pixel. */
  def boxAgg(spark: SparkSession, header: GridHeader, root: String,
             xFrom: Int, xTo: Int, yFrom: Int, yTo: Int,
             tFrom: Int, tTo: Int): DataFrame =
    scan(spark, Seq((header, root)), BoxStats(PayloadCodec.code(header.dtype),
        Box(xFrom, xTo, yFrom, yTo, tFrom, tTo), header.nodata))
      .agg(sum(col("s.sum_v")).as("sv"), sum(col("s.n_valid")).as("nv"),
        min(col("s.min_v")).as("min_v"), max(col("s.max_v")).as("max_v"))
      .select(coalesce(col("nv"), lit(0L)).as("n_valid"),
        when(col("nv") > 0, col("sv") / col("nv")).as("mean_v"),
        col("min_v"), col("max_v"))

  /** Per-pixel OLS trend map over a pixel/time box — the fused twin of
    * `GridTimeSeries.trendSlope(loadSliceXY(...))` for ranges inside ONE
    * time slab (every pixel's series sits in one payload row, so the
    * whole trend map is a map-side generate: zero shuffle, no 10M-row
    * pixel explode feeding a 2.5M-group hash aggregate). Output matches
    * the relational form row-for-row: (x, y, n, slope). Equality is
    * pinned by PayloadKernelsSpec; the A/B cost is a recorded bench pair
    * (`grid_trend_slope_1600x1600` vs `grid_trend_fused_1600x1600`). */
  def trendSlopeByPixel(spark: SparkSession, header: GridHeader, root: String,
                        xFrom: Int, xTo: Int, yFrom: Int, yTo: Int,
                        tFrom: Int, tTo: Int, roundTo: Int = 6): DataFrame = {
    requireOneSlab(header, tFrom, tTo, "trend", "trendSlope")
    scan(spark, Seq((header, root)), TrendSlopes(PayloadCodec.code(header.dtype),
        Box(xFrom, xTo, yFrom, yTo, tFrom, tTo), header.nodata, roundTo))
      .select(col("s.x").as("x"), col("s.y").as("y"),
        col("s.n").as("n"), col("s.slope").as("slope"))
  }

  /** Per-pixel one-sided CUSUM change alarm over a pixel/time box — the
    * fused twin of `GridTimeSeries.cusumDetect(loadSliceXY(...))` when
    * training + monitoring dates sit in ONE time slab: the whole alarm
    * map is a map-side generate (zero shuffle, no pixel explode feeding
    * window frames). Output matches the relational form row-for-row:
    * (x, y, t, cusum, alarm); equality pinned by PayloadKernelsSpec,
    * cost recorded as the bench pair `grid_cusum_1600x1600x4` vs
    * `grid_cusum_fused_1600x1600x4`. */
  def cusumByPixel(spark: SparkSession, header: GridHeader, root: String,
                   xFrom: Int, xTo: Int, yFrom: Int, yTo: Int,
                   tFrom: Int, tTo: Int, trainT: Int, slack: Double,
                   threshold: Double, roundTo: Int = 4): DataFrame = {
    require(trainT >= 1, s"trainT must be >= 1, got $trainT")
    requireOneSlab(header, tFrom, tTo, "cusum", "cusumDetect")
    scan(spark, Seq((header, root)), Cusum(PayloadCodec.code(header.dtype),
        Box(xFrom, xTo, yFrom, yTo, tFrom, tTo), header.nodata,
        trainT, math.rint(slack * 1e6), math.rint(threshold * 1e6), roundTo))
      .select(col("s.x").as("x"), col("s.y").as("y"), col("s.t").as("t"),
        col("s.cusum").as("cusum"), col("s.alarm").as("alarm"))
  }

  /** QA-masked per-date mean of a value grid over a pixel box — the
    * fused form of the aligned two-band load + conf gate + groupBy(t).
    * Output: (t, mean_masked, n) where mean_masked averages value
    * pixels with conf > 0.5 and value != nodata; n counts all in-box
    * pixels per date. The QA store must be uint16 (MODIS QA words). */
  def maskedMeanByT(spark: SparkSession,
                    value: (GridHeader, String), qa: (GridHeader, String),
                    xFrom: Int, xTo: Int, yFrom: Int, yTo: Int,
                    tFrom: Int, tTo: Int): DataFrame = {
    val (vh, qh) = (value._1, qa._1)
    require(qh.dtype == "uint16",
      s"fused masked mean needs a uint16 QA store; ${qh.name} is ${qh.dtype}")
    scan(spark, Seq(value, qa), MaskedBoxStats(PayloadCodec.code(vh.dtype),
        Box(xFrom, xTo, yFrom, yTo, tFrom, tTo), vh.nodata))
      .groupBy(col("s.t").as("t"))
      .agg(sum(col("s.sum_v")).as("sv"), sum(col("s.n_clear")).as("nc"),
        sum(col("s.n_total")).as("n"))
      .select(col("t"),
        when(col("nc") > 0, col("sv") / col("nc")).as("mean_masked"),
        col("n"))
  }
}
