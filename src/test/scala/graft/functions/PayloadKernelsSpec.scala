package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.grid._

/** The fused chunk kernels must agree with the exploded relational
  * path — same QA gates, same nodata handling, same box/time windows —
  * on the miniModis fixture, on the ragged float32 tail of the tiny
  * fixture, and with codegen off (the expression's interpreted `eval`).
  */
class PayloadKernelsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val (ndviRoot, qaRoot) = {
    val nr = TestSpark.tmpDir("kern_ndvi")
    val qr = TestSpark.tmpDir("kern_qa")
    SyntheticGrid.writeMiniModis(spark, nr, qr)
    (nr, qr)
  }
  private val nh = SyntheticGrid.miniModisNdviHeader
  private val qh = SyntheticGrid.miniModisQaHeader

  /** Float32, 190 x 130 px, 11 dates in chunks of 3: dates 9 and 10 sit
    * in a ragged 2-date tail slab. */
  private lazy val tinyRoot = {
    val r = TestSpark.tmpDir("kern_tiny")
    SyntheticGrid.writeTiny(spark, r)
    r
  }
  private val th = SyntheticGrid.tinyHeader

  // small 4-dates-per-slab store so training(2) + monitoring(2) sit
  // in one payload; values hit nodata gaps via the ndvi closed form
  private val cusumHeader = nh.copy(
    name = "cusum_fx", width = 80, height = 60,
    fracWidth = 20, fracHeight = 20, fracNDates = 4)
  private lazy val cusumRoot = {
    val root = TestSpark.tmpDir("kern_cusum")
    // planted deforestation: every 5th diagonal drops ~900 NDVI in the
    // monitoring window (one-sided CUSUM only sees DROPS — the stock
    // ndvi closed form rises monotonically and trips nothing)
    SyntheticGrid.writeDirect(spark, cusumHeader, root, new SyntheticGrid.PixelFn {
      def apply(x: Int, y: Int, t: Int): Double =
        if ((x * y + t) % 17 == 0) -3000.0
        else if ((x + y) % 5 == 0 && t >= 2) (x % 50) - 900.0
        else (x % 50 + y % 40 + t * 3).toDouble
    })
    root
  }

  /** Fused boxStatsByT vs the exploded window load; returns the rows. */
  private def boxStatsRows(h: GridHeader, root: String,
                           x0: Int, x1: Int, y0: Int, y1: Int,
                           t0: Int, t1: Int): Int = {
    def key(r: Row) = r.getInt(0)
    val fused = GridKernels.boxStatsByT(spark, h, root,
        x0, x1, y0, y1, t0, t1).collect().sortBy(key)
    val ref = FractionStore.loadSliceXY(spark, h, root,
        x0, x1, y0, y1, t0, t1)
      .groupBy(col("t"))
      .agg(avg(col("value")).as("mean_v"),
        count(col("value")).as("n_valid"), count(lit(1)).as("n_total"),
        min(col("value")).cast("double").as("min_v"),
        max(col("value")).cast("double").as("max_v"))
      .collect().sortBy(key)
    assert(fused.length == ref.length)
    fused.zip(ref).foreach { case (f, r) =>
      assert(f.getInt(0) == r.getInt(0))
      assert(f.getLong(2) == r.getLong(2), s"n_valid at t=${f.getInt(0)}")
      assert(f.getLong(3) == r.getLong(3), s"n_total at t=${f.getInt(0)}")
      // integer values sum exactly in doubles -> means are bit-equal
      assert(f.get(1) == r.get(1), s"mean_v at t=${f.getInt(0)}")
      assert(f.get(4) == r.get(4) && f.get(5) == r.get(5))
    }
    fused.length
  }

  /** Fused boxAgg vs the exploded window aggregate. */
  private def checkBoxAgg(h: GridHeader, root: String,
                          x0: Int, x1: Int, y0: Int, y1: Int,
                          t0: Int, t1: Int): Unit = {
    val fused = GridKernels.boxAgg(spark, h, root,
      x0, x1, y0, y1, t0, t1).collect()(0)
    val ref = FractionStore.loadSliceXY(spark, h, root,
        x0, x1, y0, y1, t0, t1)
      .agg(count(col("value")).as("n_valid"), avg(col("value")).as("mean_v"),
        min(col("value")).cast("double").as("min_v"),
        max(col("value")).cast("double").as("max_v"))
      .collect()(0)
    assert(fused.getLong(0) == ref.getLong(0))
    (1 to 3).foreach(i => assert(fused.get(i) == ref.get(i), s"column $i"))
  }

  /** Fused trendSlopeByPixel vs the relational trend map; returns the
    * rows. */
  private def trendRows(h: GridHeader, root: String,
                        x0: Int, x1: Int, y0: Int, y1: Int,
                        t0: Int, t1: Int): Int = {
    def key(r: Row) = (r.getInt(0), r.getInt(1))
    val fused = GridKernels.trendSlopeByPixel(spark, h, root,
      x0, x1, y0, y1, t0, t1).collect().sortBy(key)
    val ref = GridTimeSeries.trendSlope(
      FractionStore.loadSliceXY(spark, h, root, x0, x1, y0, y1, t0, t1))
      .collect().sortBy(key)
    assert(fused.length == ref.length)
    fused.zip(ref).foreach { case (f, r) =>
      assert(key(f) == key(r))
      assert(f.getLong(2) == r.getLong(2),
        s"n at (${f.getInt(0)},${f.getInt(1)})")
      // integer-valued sums + shared HALF_UP rounding -> bit-equal
      assert(f.getDouble(3) == r.getDouble(3),
        s"slope at (${f.getInt(0)},${f.getInt(1)})")
    }
    fused.length
  }

  /** Fused cusumByPixel vs the relational cusum; returns the relational
    * rows. */
  private def cusumRows(h: GridHeader, root: String,
                        x0: Int, x1: Int, y0: Int, y1: Int,
                        t0: Int, t1: Int, trainT: Int): Array[Row] = {
    def key(r: Row) = (r.getInt(0), r.getInt(1), r.getInt(2))
    val fused = GridKernels.cusumByPixel(spark, h, root,
      x0, x1, y0, y1, t0, t1, trainT, slack = 0.5, threshold = 5.0)
      .collect().sortBy(key)
    val ref = GridTimeSeries.cusumDetect(
      FractionStore.loadSliceXY(spark, h, root, x0, x1, y0, y1, t0, t1),
      trainT, slack = 0.5, threshold = 5.0)
      .collect().sortBy(key)
    assert(fused.length == ref.length)
    fused.zip(ref).foreach { case (f, r) =>
      assert(key(f) == key(r))
      // integer micro-grid sums + shared HALF_UP rounding -> bit-equal
      assert(f.getDouble(3) == r.getDouble(3), s"cusum at ${key(f)}")
      assert(f.getInt(4) == r.getInt(4), s"alarm at ${key(f)}")
    }
    ref
  }

  /** Fused maskedMeanByT vs the aligned-load relational query; returns
    * the rows. */
  private def maskedRows(value: (GridHeader, String), qa: (GridHeader, String),
                         x0: Int, x1: Int, y0: Int, y1: Int,
                         t0: Int, t1: Int): Int = {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0),
        if (r.isNullAt(1)) Double.NaN else r.getDouble(1),
        r.getLong(2))).sortBy(_._1)
    val fused = rows(GridKernels.maskedMeanByT(spark,
      value, qa, x0, x1, y0, y1, t0, t1))
    val ref = rows(FractionStore.loadAlignedSliceXY(spark,
        Seq(value, qa), x0, x1, y0, y1, t0, t1, masks = Seq(true, false))
      .withColumn("conf", QaDecode.modisQaConf(col("value_1")))
      .groupBy(col("t"))
      .agg(avg(when(col("conf") > 0.5, col("value_0"))).as("mean_masked"),
        count(lit(1)).as("n")))
    assert(fused.map(_._1).toSeq == ref.map(_._1).toSeq)
    assert(fused.map(_._3).toSeq == ref.map(_._3).toSeq)
    fused.zip(ref).foreach { case ((t, mf, _), (_, mr, _)) =>
      assert((mf.isNaN && mr.isNaN) || math.abs(mf - mr) < 1e-9,
        s"mean mismatch at t=$t: $mf vs $mr")
    }
    fused.length
  }

  // the equivalence cases, shared by the codegen and interpreted tests;
  // every box deliberately NOT chunk-aligned (crosses fraction edges)
  private def boxStatsCase(): Unit =
    assert(boxStatsRows(nh, ndviRoot, 37, 173, 8, 141, 1, 4) > 0)
  private def boxAggCase(): Unit =
    checkBoxAgg(nh, ndviRoot, 12, 160, 30, 190, 0, 3)
  // [0, 2) is one time slab (fracNDates = 2)
  private def trendCase(): Unit =
    assert(trendRows(nh, ndviRoot, 37, 173, 8, 141, 0, 2) > 0)
  private def cusumCase(): Unit = {
    val ref = cusumRows(cusumHeader, cusumRoot, 7, 73, 3, 58, 0, 4, trainT = 2)
    assert(ref.nonEmpty)
    assert(ref.exists(_.getInt(4) == 1), "fixture must trip some alarms")
  }
  private def maskedCase(): Unit =
    assert(maskedRows((nh, ndviRoot), (qh, qaRoot), 23, 187, 11, 162, 1, 4) > 0)
  // windows inside the 2-date float32 tail slab [9, 11)
  private def tailCases(): Unit = {
    assert(boxStatsRows(th, tinyRoot, 7, 150, 3, 97, 9, 11) > 0)
    checkBoxAgg(th, tinyRoot, 7, 150, 3, 97, 10, 11)
    assert(trendRows(th, tinyRoot, 7, 150, 3, 97, 9, 11) > 0)
    assert(cusumRows(th, tinyRoot, 7, 150, 3, 97, 9, 11, trainT = 10).nonEmpty)
  }

  test("scalar QA decoder equals the Column form on all 65536 words") {
    import spark.implicits._
    val fromCol = spark.range(65536)
      .select(QaDecode.modisQaConf(col("id").cast("int")).as("c"))
      .as[Float].collect()
    (0 until 65536).foreach { q =>
      assert(QaDecode.modisQaConfScalar(q) == fromCol(q), s"word $q")
    }
  }

  test("fused qaConfStats equals explode + sum + count") {
    val fused = GridKernels.qaConfStats(spark, qaRoot).collect()(0)
    val ref = FractionStore.pixels(qh, FractionStore.fractions(spark, qaRoot),
        maskNodata = false)
      .agg(sum(QaDecode.modisQaConf(col("value"))).as("s"),
        count(lit(1)).as("n")).collect()(0)
    assert(fused.getLong(1) == ref.getLong(1))
    assert(math.abs(fused.getDouble(0) - ref.getDouble(0)) <
      1e-9 * math.abs(ref.getDouble(0)))
  }

  test("fused boxStatsByT equals the exploded window load, per date") {
    boxStatsCase()
  }

  test("fused boxAgg equals the exploded window aggregate") {
    boxAggCase()
  }

  test("fused trendSlopeByPixel equals the relational trend map") {
    trendCase()
    // straddling two time slabs must be rejected, not silently wrong
    intercept[IllegalArgumentException] {
      GridKernels.trendSlopeByPixel(spark, nh, ndviRoot, 37, 173, 8, 141, 1, 3)
    }
  }

  test("fused cusumByPixel equals the relational cusum, incl. alarms") {
    cusumCase()
    // straddling two time slabs must be rejected, not silently wrong
    intercept[IllegalArgumentException] {
      GridKernels.cusumByPixel(spark, nh, cusumRoot, 7, 73, 3, 58, 0, 4,
        trainT = 2, slack = 0.0, threshold = 1.0)
    }
  }

  test("fused maskedMeanByT equals the aligned-load relational query") {
    maskedCase()
  }

  test("fused kernels equal their exploded forms in a ragged float32 tail slab") {
    tailCases()
  }

  test("fused kernels equal their exploded forms with codegen off") {
    val conf = spark.conf
    val keys = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val saved = keys.map { case (k, _) => k -> conf.getOption(k) }
    try {
      keys.foreach { case (k, v) => conf.set(k, v) }
      assert(TestSpark.executedPlan(GridKernels.boxStatsByT(spark, nh,
          ndviRoot, 0, 50, 0, 50, 0, 2))
        .forall(!_.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]))
      boxStatsCase(); boxAggCase(); trendCase(); cusumCase(); maskedCase()
      tailCases()
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("fused kernels return no rows for an empty or off-grid window") {
    // an empty x range inside the grid, and boxes wholly left of and
    // above the grid (their chunk pruning still reads an edge chunk)
    Seq((37, 37, 8, 141), (-10, 0, 8, 141), (8, 141, -10, 0)).foreach {
      case (x0, x1, y0, y1) =>
        val w = s"window x [$x0, $x1) y [$y0, $y1)"
        assert(boxStatsRows(nh, ndviRoot, x0, x1, y0, y1, 0, 4) == 0, w)
        assert(maskedRows((nh, ndviRoot), (qh, qaRoot),
          x0, x1, y0, y1, 0, 4) == 0, w)
        assert(trendRows(nh, ndviRoot, x0, x1, y0, y1, 0, 2) == 0, w)
        assert(cusumRows(nh, ndviRoot, x0, x1, y0, y1, 0, 2, trainT = 1)
          .isEmpty, w)
        checkBoxAgg(nh, ndviRoot, x0, x1, y0, y1, 0, 4)
    }
  }

  test("maskedMeanByT rejects a QA store whose chunks do not fit the value chunks") {
    // NDVI at 4 dates, QA at 3 (appended to one store, not yet to the
    // other): the tail chunks hold 2 and 1 dates
    val qh3 = qh.copy(name = "minimodis_qa3", timestampsMs = qh.timestampsMs.take(3))
    val qa3 = TestSpark.tmpDir("kern_qa3")
    SyntheticGrid.writeDirect(spark, qh3, qa3, SyntheticGrid.qaScalar)
    // dates in the first slab still fit
    assert(maskedRows((nh, ndviRoot), (qh3, qa3), 23, 187, 11, 162, 0, 2) > 0)
    Seq((0, 200, 0, 200), (10, 20, 10, 20)).foreach { case (x0, x1, y0, y1) =>
      val err = intercept[Exception] {
        GridKernels.maskedMeanByT(spark, (nh, ndviRoot), (qh3, qa3),
          x0, x1, y0, y1, 2, 3).collect()
      }
      val msgs = TestSpark.messages(err)
      assert(msgs.exists(m => m.contains("50x50x1") && m.contains("50x50x2") &&
        m.contains("(x0, y0, t0) = (")), msgs.mkString(" | "))
    }
  }

  test("maskedMeanByT rejects a QA store that is not uint16") {
    val qh8 = qh.copy(name = "minimodis_qa8", dtype = "uint8", nodata = 255.0)
    val qa8 = TestSpark.tmpDir("kern_qa8")
    SyntheticGrid.writeDirect(spark, qh8, qa8, new SyntheticGrid.PixelFn {
      def apply(x: Int, y: Int, t: Int): Double =
        SyntheticGrid.qaScalar(x, y, t) % 256
    })
    val err = intercept[Exception] {
      GridKernels.maskedMeanByT(spark, (nh, ndviRoot), (qh8, qa8),
        23, 187, 11, 162, 1, 4).collect()
    }
    val msgs = TestSpark.messages(err)
    assert(msgs.exists(m => m.contains("uint8") && m.contains("uint16")),
      msgs.mkString(" | "))
  }
}
