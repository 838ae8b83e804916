package graft.grid

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic grid fixtures (FIXTURES.md §2 — the stand-in
  * for the reference's rastercube_testdata repo). Values are integer
  * arithmetic on (x, y, t) so tests and oracles can recompute them
  * exactly, and generation is a distributed `spark.range` (no driver-side
  * materialization — the same generator works at any size).
  */
object SyntheticGrid {

  /** tinygrid — mirrors tests/test_jgrid3.py:201-219: 190x130, chunk 19x5,
    * fracNDates=3 over 11 dates (ragged last chunk), float32, WGS84
    * identity-ish geot.
    */
  val tinyHeader: GridHeader = GridHeader(
    name = "tinygrid", width = 190, height = 130,
    fracWidth = 19, fracHeight = 5, fracNDates = 3,
    dtype = "float32", srs = "wgs84",
    geot = Seq(0.0, 0.01, 0.0, 0.0, 0.0, -0.01),
    timestampsMs = (0 until 11).map(i => 946684800000L + i * 86400000L),
    nodata = -999.0)

  /** minimodis NDVI — one MODIS-like 200x200 tile, cell 50x50, 4 dates,
    * int16, nodata -3000, sinusoidal SR with the h19v08-style geotransform
    * scaled to 200 px (tests/test_jgrid3.py:48-56 analog).
    */
  val miniModisNdviHeader: GridHeader = GridHeader(
    name = "minimodis_ndvi", width = 200, height = 200,
    fracWidth = 50, fracHeight = 50, fracNDates = 2,
    dtype = "int16", srs = "sinusoidal",
    geot = Seq(1111950.519667, 231.65635826374995 * 24, 0.0,
      1111950.519667, 0.0, -231.65635826395834 * 24),
    timestampsMs = Seq("2000_02_18", "2000_03_05", "2000_03_21", "2004_12_26")
      .map(parseRefDateMs),
    nodata = -3000.0)

  /** minimodis QA — same geogrid, uint16 bitfield values. */
  val miniModisQaHeader: GridHeader =
    miniModisNdviHeader.copy(name = "minimodis_qa", dtype = "uint16",
      nodata = 65535.0)

  /** The reference's `YYYY_MM_DD` date codec (utils.py:79-110). */
  def parseRefDateMs(s: String): Long = {
    val Array(y, m, d) = s.split("_").map(_.toInt)
    java.time.LocalDate.of(y, m, d).atStartOfDay(java.time.ZoneOffset.UTC)
      .toInstant.toEpochMilli
  }

  /** Deterministic value functions — pure integer column arithmetic,
    * recomputable in tests (and in DuckDB oracles).
    */
  def tinyValue(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column,
                t: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when((x + y + t) % 13 === 0, lit(-999.0))
      .otherwise(((x * 31 + y * 17 + t * 7) % 97).cast("double"))

  def ndviValue(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column,
                t: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when((x * y + t) % 17 === 0, lit(-3000.0))
      .otherwise(((x * 7 + y * 11 + t * 13) % 8000 - 1000).cast("double"))

  def qaValue(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column,
              t: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    ((x * 40503 + y * 9973 + t * 65521) % 65536).cast("double")

  /** Full dense pixel DataFrame (x, y, t, value) for a header + value fn. */
  def pixelDf(spark: SparkSession, h: GridHeader,
              valueFn: (org.apache.spark.sql.Column, org.apache.spark.sql.Column,
                org.apache.spark.sql.Column) => org.apache.spark.sql.Column): DataFrame = {
    val n = h.width.toLong * h.height * h.nDates
    spark.range(n)
      .withColumn("t", (col("id") % h.nDates).cast("int"))
      .withColumn("pix", expr(s"id div ${h.nDates}"))
      .withColumn("x", (col("pix") % h.width).cast("int"))
      .withColumn("y", expr(s"pix div ${h.width}").cast("int"))
      .select(col("x"), col("y"), col("t"),
        valueFn(col("x"), col("y"), col("t")).as("value"))
  }

  /** Direct fraction-row generation — one task per fraction computes its
    * dense array straight from (x, y, t) arithmetic, NO pixel shuffle.
    * This is how a tile-scale (4800x4800) fixture is built in seconds;
    * `fromPixels` stays the honest path for arbitrary pixel input.
    */
  def writeDirect(spark: SparkSession, h: GridHeader, root: String,
                  value: PixelFn): GridHeader = {
    FractionStore.writePrepartitioned(spark, h,
      directRows(spark, h, value).toDF(), root)
    h
  }

  /** Every chunk row of `h`'s grid, payloads from `value`: the rows
    * [[writeDirect]] writes, for callers that time generation alone. */
  private[graft] def directRows(spark: SparkSession, h: GridHeader,
                                value: PixelFn): Dataset[FracRowBytes] = {
    import spark.implicits._
    val g = h.chunkGrid
    val nFracs = g.numFracsX * g.numFracsY
    val dtype = h.dtype
    val base = spark.range(nFracs.toLong * g.numTimeChunks)
      .repartition(math.min(spark.sparkContext.defaultParallelism * 4,
        nFracs * g.numTimeChunks))
    base.map { id =>
      val fracNum = (id / g.numTimeChunks).toInt
      val tc = (id % g.numTimeChunks).toInt
      val fx = g.fracX(fracNum); val fy = g.fracY(fracNum)
      val (x0, x1) = g.fracXRange(fx)
      val (y0, y1) = g.fracYRange(fy)
      val (t0, t1) = g.timeChunkRange(tc)
      val (w, hh, nd) = (x1 - x0, y1 - y0, t1 - t0)
      // one dense double pass + one packed encode pass — both
      // memory-bandwidth bound, no boxing (PixelFn is specialized)
      val data = new Array[Double](w * hh * nd)
      var i = 0; var ly = 0
      while (ly < hh) {
        var lx = 0
        while (lx < w) {
          var lt = 0
          while (lt < nd) {
            data(i) = value(x0 + lx, y0 + ly, t0 + lt); i += 1; lt += 1
          }
          lx += 1
        }
        ly += 1
      }
      FracRowBytes(fracNum, tc, fx, fy, x0, y0, t0, w, hh, nd,
        PayloadCodec.encodeDouble(data, dtype))
    }
  }

  /** Scalar pixel function — a dedicated trait (NOT Function3, which is
    * unspecialized: 184M boxed calls per tile caused GC storms). */
  trait PixelFn extends Serializable {
    def apply(x: Int, y: Int, t: Int): Double
  }

  /** Scalar twins of the Column value functions (for writeDirect). */
  object NdviFn extends PixelFn {
    def apply(x: Int, y: Int, t: Int): Double =
      if ((x * y + t) % 17 == 0) -3000.0
      else ((x * 7 + y * 11 + t * 13) % 8000 - 1000).toDouble
  }
  object QaFn extends PixelFn {
    def apply(x: Int, y: Int, t: Int): Double =
      ((x * 40503 + y * 9973 + t * 65521) % 65536).toDouble
  }
  def ndviScalar: PixelFn = NdviFn
  def qaScalar: PixelFn = QaFn

  /** One full MODIS-like tile (4800x4800, cell 400x400, 4 dates) —
    * BASELINE.md's grid-microbench scale. */
  def modisTileHeader(name: String, dtype: String, nodata: Double): GridHeader =
    GridHeader(
      name = name, width = 4800, height = 4800,
      fracWidth = 400, fracHeight = 400, fracNDates = 4,
      dtype = dtype, srs = "sinusoidal",
      geot = Seq(1111950.519667, 231.65635826374995, 0.0,
        1111950.519667, 0.0, -231.65635826395834),
      timestampsMs = Seq("2000_02_18", "2000_03_05", "2000_03_21", "2004_12_26")
        .map(parseRefDateMs),
      nodata = nodata)

  /** Materialize a fixture store under root (idempotent overwrite). */
  def writeTiny(spark: SparkSession, root: String): GridHeader = {
    FractionStore.write(spark, tinyHeader,
      FractionStore.fromPixels(spark, tinyHeader,
        pixelDf(spark, tinyHeader, tinyValue)), root)
    tinyHeader
  }

  def writeMiniModis(spark: SparkSession, ndviRoot: String, qaRoot: String)
      : (GridHeader, GridHeader) = {
    FractionStore.write(spark, miniModisNdviHeader,
      FractionStore.fromPixels(spark, miniModisNdviHeader,
        pixelDf(spark, miniModisNdviHeader, ndviValue)), ndviRoot)
    FractionStore.write(spark, miniModisQaHeader,
      FractionStore.fromPixels(spark, miniModisQaHeader,
        pixelDf(spark, miniModisQaHeader, qaValue)), qaRoot)
    (miniModisNdviHeader, miniModisQaHeader)
  }
}
