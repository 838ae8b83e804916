package graft.grid

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Golden-array reprojection tests (reference spec: jgrid/utils.py
  * nearest/mode/average resample via GDAL; here verified against exact
  * arithmetic on deterministic grids).
  */
class ReprojectSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // 40x40 wgs84 grid, 0.01-degree pixels, origin (0, 0), values x*100+y
  val srcHeader = GridHeader(
    name = "src", width = 40, height = 40,
    fracWidth = 10, fracHeight = 10, fracNDates = 1,
    dtype = "float32", srs = "wgs84",
    geot = Seq(0.0, 0.01, 0.0, 0.0, 0.0, -0.01),
    timestampsMs = Seq(0L), nodata = -1.0)

  def valueFn(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column,
              t: org.apache.spark.sql.Column) =
    (x * 100 + y).cast("double")

  lazy val srcRoot = {
    val r = TestSpark.tmpDir("reproj_src")
    FractionStore.write(spark, srcHeader,
      FractionStore.fromPixels(spark, srcHeader,
        SyntheticGrid.pixelDf(spark, srcHeader, valueFn)), r)
    r
  }

  test("identity reprojection reproduces the source exactly") {
    val got = Reproject.nearest(spark, srcHeader, srcRoot, srcHeader,
      0, 40, 0, 40)
    val expected = SyntheticGrid.pixelDf(spark, srcHeader, valueFn)
      .filter(col("t") === 0).select(col("x"), col("y"),
        col("value").cast("float").as("value"))
    assert(got.count() == 1600)
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty)
  }

  test("2x downsample via nearest picks the covering source pixel") {
    // dst: 20x20 grid, 0.02-degree pixels, origin offset a tenth of a
    // source pixel so dst centers land strictly INSIDE source pixels
    // (centers exactly on source-pixel centers are fp-ambiguous, as in
    // any warp — GDAL included)
    val dst = srcHeader.copy(name = "dst2x", width = 20, height = 20,
      geot = Seq(0.001, 0.02, 0.0, -0.001, 0.0, -0.02))
    val got = Reproject.nearest(spark, srcHeader, srcRoot, dst, 0, 19, 0, 19)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getFloat(2))).toMap
    // dst pixel (i,j) center x = 0.001+0.02i+0.01 -> src x = 2i+1.1
    for (i <- 0 until 19; j <- 0 until 19) {
      val expected = (2 * i + 1) * 100 + (2 * j + 1)
      assert(got((i, j)) == expected.toFloat, s"dst ($i,$j)")
    }
  }

  test("2x downsample via average averages the 2x2 block") {
    val dst = srcHeader.copy(name = "dst2xa", width = 20, height = 20,
      geot = Seq(0.0, 0.02, 0.0, 0.0, 0.0, -0.02))
    val got = Reproject.aggregateResample(spark, srcHeader, srcRoot, dst,
      "average", 0, 20, 0, 20)
      .collect().map(r => ((r.getInt(0), r.getInt(1)),
        (r.getDouble(2), r.getLong(3)))).toMap
    for (i <- 0 until 3; j <- 0 until 3) {
      val vals = for (dx <- 0 to 1; dy <- 0 to 1)
        yield (2 * i + dx) * 100 + (2 * j + dy)
      val (v, n) = got((i, j))
      assert(n == 4)
      assert(math.abs(v - vals.sum / 4.0) < 1e-9, s"dst ($i,$j)")
    }
  }

  test("mode resample returns the majority class") {
    // class grid: left half class 7, right half class 3
    val clsHeader = srcHeader.copy(name = "cls", dtype = "uint8", nodata = 255.0)
    val clsRoot = TestSpark.tmpDir("reproj_cls")
    FractionStore.write(spark, clsHeader,
      FractionStore.fromPixels(spark, clsHeader,
        SyntheticGrid.pixelDf(spark, clsHeader,
          (x, _, _) => when(x < 20, 7.0).otherwise(3.0))), clsRoot)
    val dst = srcHeader.copy(name = "dstm", width = 4, height = 4,
      geot = Seq(0.0, 0.1, 0.0, 0.0, 0.0, -0.1))
    val got = Reproject.aggregateResample(spark, clsHeader, clsRoot, dst,
      "mode", 0, 4, 0, 4)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getInt(2))).toMap
    for (j <- 0 until 4) {
      assert(got((0, j)) == 7 && got((1, j)) == 7) // fully left
      assert(got((2, j)) == 3 && got((3, j)) == 3) // fully right
    }
  }

  test("bilinear blends 4 corners; nodata renormalizes; all-nodata is NULL") {
    // linear plane with one nodata pixel at (10,10) and a 2x2 nodata
    // block at (20..21, 20..21); bilinear interpolation of a linear
    // function is exact wherever all 4 corners are valid
    val ndHeader = srcHeader.copy(name = "srcnd")
    val ndRoot = TestSpark.tmpDir("reproj_nd")
    FractionStore.write(spark, ndHeader,
      FractionStore.fromPixels(spark, ndHeader,
        SyntheticGrid.pixelDf(spark, ndHeader, (x, y, _) =>
          when((x === 10 && y === 10) ||
            (x.between(20, 21) && y.between(20, 21)), lit(-1.0))
            .otherwise((x * 100 + y).cast("double")))), ndRoot)
    // dst = src lattice shifted a quarter pixel: dst center (i,j) maps
    // to sample-centered source coords (i + 0.25, j + 0.25)
    val dst = srcHeader.copy(name = "dstbl",
      geot = Seq(0.0025, 0.01, 0.0, -0.0025, 0.0, -0.01))
    val got = Reproject.bilinear(spark, ndHeader, ndRoot, dst, 0, 39, 0, 39)
      .collect().map(r => ((r.getInt(0), r.getInt(1)),
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getLong(3))))
      .toMap
    def touched(i: Int, j: Int) =
      (i >= 9 && i <= 10 && j >= 9 && j <= 10) ||
        (i >= 19 && i <= 21 && j >= 19 && j <= 21)
    for (i <- 0 until 39; j <- 0 until 39 if !touched(i, j)) {
      val (v, n) = got((i, j))
      assert(n == 4, s"dst ($i,$j)")
      assert(math.abs(v.get - (100.0 * (i + 0.25) + (j + 0.25))) < 1e-6,
        s"dst ($i,$j)")
    }
    // (9,9): corner (10,10) is nodata; remaining 3 renormalize
    val w00 = 0.75 * 0.75; val w10 = 0.25 * 0.75; val w01 = 0.75 * 0.25
    val expected99 = (w00 * 909 + w10 * 1009 + w01 * 910) / (w00 + w10 + w01)
    val (v99, n99) = got((9, 9))
    assert(n99 == 3 && math.abs(v99.get - expected99) < 1e-6)
    // (20,20): all 4 corners inside the nodata block
    assert(got((20, 20)) == (None, 0L))
  }

  test("cubic: identity is exact; linear plane passes; nodata renormalizes") {
    // identity warp: fx = 0 makes the Keys kernel (0, 1, 0, 0), so the
    // source reproduces exactly — including edges, whose out-of-grid
    // taps carry weight 0
    val idGot = Reproject.cubic(spark, srcHeader, srcRoot, srcHeader,
      0, 40, 0, 40)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    for (i <- 0 until 40; j <- 0 until 40)
      assert(math.abs(idGot((i, j)) - (100.0 * i + j)) < 1e-9, s"id ($i,$j)")

    // quarter-pixel offset over a store with a single nodata pixel at
    // (10,10) and a 4x4 nodata block at (20..23, 20..23)
    val ndHeader = srcHeader.copy(name = "srcndc")
    val ndRoot = TestSpark.tmpDir("reproj_ndc")
    FractionStore.write(spark, ndHeader,
      FractionStore.fromPixels(spark, ndHeader,
        SyntheticGrid.pixelDf(spark, ndHeader, (x, y, _) =>
          when((x === 10 && y === 10) ||
            (x.between(20, 23) && y.between(20, 23)), lit(-1.0))
            .otherwise((x * 100 + y).cast("double")))), ndRoot)
    val dst = srcHeader.copy(name = "dstcu",
      geot = Seq(0.0025, 0.01, 0.0, -0.0025, 0.0, -0.01))
    val got = Reproject.cubic(spark, ndHeader, ndRoot, dst, 0, 39, 0, 39)
      .collect().map(r => ((r.getInt(0), r.getInt(1)),
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getLong(3))))
      .toMap
    // full-stencil cells away from both nodata regions: linear
    // precision passes the ramp through at (i + 0.25, j + 0.25)
    def touched(i: Int, j: Int) =
      (i >= 7 && i <= 12 && j >= 7 && j <= 12) ||
        (i >= 17 && i <= 25 && j >= 17 && j <= 25)
    for (i <- 1 until 38; j <- 1 until 38 if !touched(i, j)) {
      val (v, n) = got((i, j))
      assert(n == 16, s"dst ($i,$j)")
      assert(math.abs(v.get - (100.0 * (i + 0.25) + (j + 0.25))) < 1e-6,
        s"dst ($i,$j)")
    }
    // stencil of (9,9) includes the lone nodata tap (10,10): the other
    // 15 renormalize to a defined value
    val (v99, n99) = got((9, 9))
    assert(n99 == 15 && v99.isDefined)
    // (21,21): all 16 taps inside the 4x4 block
    assert(got((21, 21)) == (None, 0L))
  }

  test("chunk-gather warp equals the exploded join, bilinear and cubic") {
    // same nodata fixture as the cubic test: lone nodata pixel at
    // (10,10), 4x4 block at (20..23, 20..23) — exercises renormalize,
    // all-miss NULLs, chunk borders (fracWidth 10 => taps straddle
    // chunks every 10 px), and out-of-grid edge taps
    val ndHeader = srcHeader.copy(name = "srcndg")
    val ndRoot = TestSpark.tmpDir("reproj_ndg")
    FractionStore.write(spark, ndHeader,
      FractionStore.fromPixels(spark, ndHeader,
        SyntheticGrid.pixelDf(spark, ndHeader, (x, y, _) =>
          when((x === 10 && y === 10) ||
            (x.between(20, 23) && y.between(20, 23)), lit(-1.0))
            .otherwise((x * 100 + y).cast("double")))), ndRoot)
    val dst = srcHeader.copy(name = "dstg",
      geot = Seq(0.0025, 0.01, 0.0, -0.0025, 0.0, -0.01))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getInt(0), r.getInt(1)),
        (if (r.isNullAt(2)) None
         else Some(math.round(r.getDouble(2) * 1e6)), r.getLong(3))))
        .toMap
    val explodedBl = canon(Reproject.bilinear(
      spark, ndHeader, ndRoot, dst, 0, 39, 0, 39))
    val gatheredBl = canon(Reproject.bilinearGather(
      spark, ndHeader, ndRoot, dst, 0, 39, 0, 39))
    assert(gatheredBl == explodedBl)
    val explodedCu = canon(Reproject.cubic(
      spark, ndHeader, ndRoot, dst, 0, 39, 0, 39))
    val gatheredCu = canon(Reproject.cubicGather(
      spark, ndHeader, ndRoot, dst, 0, 39, 0, 39))
    assert(gatheredCu == explodedCu)
    // regression: an UPSAMPLING dst window (5x finer than source) whose
    // sourceBounds start at source pixel 10 (a chunk boundary:
    // fracWidth = 10). With dst pixels much smaller than source pixels
    // the first dst center sits within half a source pixel of the
    // boundary, so the cubic stencil's leftmost taps land at pixel 9 —
    // chunk 0, which the unpadded chunk-pruning window excludes;
    // without the gather path's pad=1 those taps are silently dropped
    // and the edge columns diverge (renormalized value AND n_valid).
    val dstEdge = srcHeader.copy(name = "dstedge",
      geot = Seq(0.1101, 0.002, 0.0, -0.1101, 0.0, -0.002))
    val explodedEdge = canon(Reproject.cubic(
      spark, ndHeader, ndRoot, dstEdge, 0, 8, 0, 8))
    val gatheredEdge = canon(Reproject.cubicGather(
      spark, ndHeader, ndRoot, dstEdge, 0, 8, 0, 8))
    assert(gatheredEdge == explodedEdge)

    // slab path: a dst window big enough that gatherTapRows splits each
    // chunk's tap list into row-band slabs (360*360 px * 16 taps > 2M
    // -> slabs >= 2) — the grouping must stay semantics-neutral. The
    // window extends past the source footprint, so all-miss NULL rows
    // are exercised at volume too.
    val dstBig = srcHeader.copy(name = "dstbig",
      geot = Seq(0.0011, 0.002, 0.0, -0.0011, 0.0, -0.002))
    val explodedBig = canon(Reproject.cubic(
      spark, ndHeader, ndRoot, dstBig, 0, 360, 0, 360))
    val gatheredBig = canon(Reproject.cubicGather(
      spark, ndHeader, ndRoot, dstBig, 0, 360, 0, 360))
    assert(gatheredBig == explodedBig)

    def canonNn(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getInt(0), r.getInt(1)),
        Option(r.get(2)))).toMap
    val explodedNn = canonNn(Reproject.nearest(
      spark, ndHeader, ndRoot, dst, 0, 39, 0, 39))
    val gatheredNn = canonNn(Reproject.nearestGather(
      spark, ndHeader, ndRoot, dst, 0, 39, 0, 39))
    assert(gatheredNn == explodedNn)

    // plan pin: the gather path must not explode payloads to pixel
    // rows — no posexplode anywhere; exactly one payload decode site
    val plan = Reproject.bilinearGather(
      spark, ndHeader, ndRoot, dst, 0, 39, 0, 39)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("posexplode"), plan.take(2000))
    assert("unpack_payload".r.findAllIn(plan).size == 1, plan.take(2000))
  }

  test("same-geogrid align keeps base pixels where a band lacks chunks (J1)") {
    // a second band on the source geogrid without fraction 0 (pixels
    // x < 10, y < 10) and a third without fraction 1 (10 <= x < 20)
    val bands = Seq(0, 1).map { drop =>
      val r = TestSpark.tmpDir(s"align_sparse_$drop")
      FractionStore.write(spark, srcHeader,
        FractionStore.fractions(spark, srcRoot).filter(col("frac_num") =!= drop), r)
      (srcHeader.copy(name = s"sparse_$drop"), r)
    }
    val aligned = Reproject.alignOnFirst(spark, (srcHeader, srcRoot) +: bands,
      0, 20, 0, 20)
    val rows = aligned.collect()
    assert(rows.length == 400)
    rows.foreach { r =>
      val (x, y) = (r.getAs[Int]("x"), r.getAs[Int]("y"))
      val v = (x * 100 + y).toFloat
      assert(r.getAs[Float]("value_0") == v)
      Seq((1, x < 10 && y < 10), (2, x >= 10 && y < 10)).foreach { case (i, gone) =>
        val got = Option(r.getAs[Any](s"value_$i"))
        assert(got == (if (gone) None else Some(v)), s"value_$i at ($x, $y)")
      }
    }
  }

  test("same-geogrid align keeps base pixels at dates a band lacks (J1)") {
    // the base holds 2 dates (2 time chunks); the second band, srcHeader,
    // holds 1: at t = 1 its header and its chunks stop short of the base
    val twoH = srcHeader.copy(name = "two_dates", timestampsMs = Seq(0L, 1L))
    val twoRoot = TestSpark.tmpDir("align_two_dates")
    FractionStore.write(spark, twoH,
      FractionStore.fromPixels(spark, twoH,
        SyntheticGrid.pixelDf(spark, twoH, valueFn)), twoRoot)
    Seq(0, 1).foreach { t =>
      val rows = Reproject.alignOnFirst(spark,
        Seq((twoH, twoRoot), (srcHeader, srcRoot)), 0, 20, 0, 20, t).collect()
      assert(rows.length == 400, s"t = $t")
      rows.foreach { r =>
        val (x, y) = (r.getAs[Int]("x"), r.getAs[Int]("y"))
        val v = (x * 100 + y).toFloat
        assert(r.getAs[Float]("value_0") == v, s"value_0 at ($x, $y, $t)")
        assert(Option(r.getAs[Any]("value_1")) == (if (t == 0) Some(v) else None),
          s"value_1 at ($x, $y, $t)")
      }
    }
  }

  test("cross-SR align: sinusoidal grid warped onto wgs84 lattice (J1)") {
    // sinusoidal grid covering roughly the same small area near (0,0):
    // 0.01 deg ~ 1111.95 m at the equator
    val sinH = srcHeader.copy(name = "sinsrc", srs = "sinusoidal",
      geot = Seq(0.0, 1112.0, 0.0, 0.0, 0.0, -1112.0))
    val sinRoot = TestSpark.tmpDir("reproj_sin")
    FractionStore.write(spark, sinH,
      FractionStore.fromPixels(spark, sinH,
        SyntheticGrid.pixelDf(spark, sinH, valueFn)), sinRoot)
    val aligned = Reproject.alignOnFirst(spark,
      Seq((srcHeader, srcRoot), (sinH, sinRoot)), 5, 15, 5, 15)
    assert(aligned.count() == 100)
    // spot-check one pixel against scalar math
    val r = aligned.filter(col("x") === 10 && col("y") === 10).head()
    val (lat, lng) = srcHeader.xyToLatLng(10.5, 10.5)
    val (sx, sy) = sinH.latLngToXY(lat, lng)
    val expected = sx.floor.toInt * 100 + sy.floor.toInt
    assert(r.getFloat(3) == expected.toFloat)
  }
}
