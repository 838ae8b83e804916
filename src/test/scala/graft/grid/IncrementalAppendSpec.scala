package graft.grid

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import graft.TestSpark

/** ST1 spec, ported from the reference's chunking-invariance +
  * idempotence test (tests/scripts/test_complete_ndvi_worldgrid.py:42-122):
  * building a grid all-at-once must equal create(prefix)+append(rest),
  * chunk row for chunk row and byte for byte; re-appending must be a
  * no-op.
  */
class IncrementalAppendSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val nDatesTotal = 7
  val allTs: Seq[Long] = (0 until nDatesTotal).map(i => 1000L + i)

  type ValueFn = (Column, Column, Column) => Column

  def mkHeader(fracNDates: Int, ts: Seq[Long], dtype: String = "float32",
               nodata: Double = -9.0): GridHeader = GridHeader(
    name = "inc", width = 30, height = 20,
    fracWidth = 10, fracHeight = 10, fracNDates = fracNDates,
    dtype = dtype, srs = "wgs84",
    geot = Seq(0.0, 1.0, 0.0, 0.0, 0.0, -1.0),
    timestampsMs = ts, nodata = nodata)

  /** New-date pixels with LOCAL t (0..tTo-tFrom), values computed at the
    * ABSOLUTE time index so they match the all-at-once build. */
  def pixelsFor(h: GridHeader, tFrom: Int, tTo: Int,
                value: ValueFn = SyntheticGrid.tinyValue): DataFrame =
    SyntheticGrid.pixelDf(spark,
      h.copy(timestampsMs = (0 until (tTo - tFrom)).map(i => 9999L + i)),
      (x, y, t) => value(x, y, t + lit(tFrom)))

  def writeStore(tag: String, h: GridHeader, px: DataFrame): String = {
    val root = TestSpark.tmpDir(tag)
    FractionStore.write(spark, h, FractionStore.fromPixels(spark, h, px), root)
    root
  }

  /** Build the first `n0` dates, append the rest from date `tFrom` on
    * (dates before n0 are already present and must be skipped), keeping
    * only new pixels that pass `keep`; the store must equal the
    * all-at-once build of the same pixels, and re-appending must change
    * nothing. */
  def checkAppend(tag: String, fracNDates: Int, n0: Int,
                  dtype: String = "float32", nodata: Double = -9.0,
                  value: ValueFn = SyntheticGrid.tinyValue,
                  keep: Column = lit(true), tFrom: Option[Int] = None): Unit = {
    val hFull = mkHeader(fracNDates, allTs, dtype, nodata)
    val rootFull = writeStore(s"inc_full_$tag", hFull,
      SyntheticGrid.pixelDf(spark, hFull, value).filter(col("t") < n0 || keep))

    val hPre = mkHeader(fracNDates, allTs.take(n0), dtype, nodata)
    val rootInc = writeStore(s"inc_pre_$tag", hPre,
      SyntheticGrid.pixelDf(spark, hPre, value))
    val from = tFrom.getOrElse(n0)
    val newTs = allTs.drop(from)
    val newPx = pixelsFor(hPre, from, nDatesTotal, value).filter(keep)
    val h1 = IncrementalAppend.appendDates(spark, rootInc, newTs, newPx)
    assert(h1.timestampsMs == allTs)
    assert(GridHeader.load(spark, rootInc).timestampsMs == allTs)

    val want = ChunkRows(spark, rootFull)
    assert(ChunkRows(spark, rootInc) == want)

    // idempotence: appending the same dates again is a no-op
    val h2 = IncrementalAppend.appendDates(spark, rootInc, newTs, newPx)
    assert(h2 == h1)
    assert(ChunkRows(spark, rootInc) == want)
  }

  for (fracNDates <- Seq(2, 3, 4)) {
    test(s"chunking invariance + idempotence, fracNDates=$fracNDates") {
      checkAppend(s"f$fracNDates", fracNDates, n0 = 5)
    }
  }

  test("int16 grid with integer nodata (the MODIS shape)") {
    checkAppend("i16", fracNDates = 3, n0 = 5, dtype = "int16",
      nodata = -3000.0, value = SyntheticGrid.ndviValue)
  }

  test("no ragged tail: n0 a multiple of fracNDates") {
    checkAppend("even", fracNDates = 2, n0 = 4)
  }

  test("sparse new pixels: tail chunks without a new value still grow") {
    // only frac_x = 0 gets new values; the other tail chunks must grow
    // to the new chunk length with nodata, and no new chunk appears there
    checkAppend("sparse", fracNDates = 3, n0 = 5, keep = col("x") < 10)
  }

  test("timestamps partly present already: only the new dates land") {
    checkAppend("partial", fracNDates = 3, n0 = 5, tFrom = Some(3))
  }

  test("one append shuffles new pixels + chunk rows only, and releases " +
    "its checkpoint") {
    val fracNDates = 3
    val n0 = 5
    val hPre = mkHeader(fracNDates, allTs.take(n0))
    val root = writeStore("inc_guard", hPre,
      SyntheticGrid.pixelDf(spark, hPre, SyntheticGrid.tinyValue))
    val newPx = pixelsFor(hPre, n0, nDatesTotal)
    val sc = spark.sparkContext

    val group = s"append-guard-${System.nanoTime()}"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val records = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          e.stageIds.foreach(stages.add)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (stages.contains(e.stageInfo.stageId) &&
            e.stageInfo.taskMetrics != null)
          records.addAndGet(
            e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    val persistedBefore = sc.getPersistentRDDs.keySet
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "appendDates shuffle guard")
      try IncrementalAppend.appendDates(spark, root, allTs.drop(n0), newPx)
      finally sc.clearJobGroup()
      org.apache.spark.GraftMetricsBridge.flush(sc)
    } finally sc.removeSparkListener(listener)

    // 30 x 20 px, 6 fractions: 2 new dates of pixels; the tail chunk 1
    // (2 of 3 dates) is read as 6 packed rows, and 12 rows are written
    // (chunk 1 grown, chunk 2 new). Re-exploding the tail would add its
    // 1200 pixel-values.
    val newPixelRows = 600L * 2
    val chunkRows = 6L + 12L
    assert(records.get() > 0, "the guard saw no shuffle at all")
    assert(records.get() <= newPixelRows + chunkRows,
      s"appendDates wrote ${records.get()} shuffle records; " +
        s"bound ${newPixelRows + chunkRows}")

    val leaked = sc.getPersistentRDDs.filter { case (id, rdd) =>
      !persistedBefore.contains(id) &&
        rdd.toString.contains("FractionStore.scala")
    }
    assert(leaked.isEmpty, s"checkpoint blocks left behind: $leaked")
  }

  test("an append stopped before its header save reads as the old store") {
    val n0 = 5
    val hPre = mkHeader(3, allTs.take(n0))
    val px = SyntheticGrid.pixelDf(spark, hPre, SyntheticGrid.tinyValue)
    val root = writeStore("inc_torn", hPre, px)
    val ref = writeStore("inc_torn_ref", hPre, px)
    // appendDates' data write without its header save: the grown tail
    // chunk 1 and the new chunk 2 hold dates 5 and 6, the header says 5
    val h1 = hPre.copy(timestampsMs = allTs)
    val newAbs = pixelsFor(hPre, n0, nDatesTotal).withColumn("t", col("t") + n0)
    FractionStore.replaceTimeChunks(root, FractionStore.fromPixels(spark, h1, newAbs,
      Some(FractionStore.fractions(spark, root).filter(col("time_chunk") === 1))))
    val h = GridHeader.load(spark, root)
    assert(h == hPre)

    def rows(df: DataFrame) = df.collect().map(_.toString).toSeq.sorted
    def same(what: String, read: String => DataFrame): Unit =
      assert(rows(read(root)) == rows(read(ref)), what)
    same("boxStatsByT", r => GridKernels.boxStatsByT(spark, h, r, 0, 30, 0, 20, 0, 7))
    same("trendSlopeByPixel", r => GridKernels.trendSlopeByPixel(spark, h, r, 0, 30, 0, 20, 3, 6))
    same("cusumByPixel", r =>
      GridKernels.cusumByPixel(spark, h, r, 0, 30, 0, 20, 3, 6, 4, 0.1, 0.5))
    same("zonalByRegion", r => GridZonal.zonalByRegion(spark, h, r,
      Seq(("box", Array((-2.0, 2.0), (-2.0, 12.0), (-15.0, 12.0), (-15.0, 2.0)))), 0, 7))
    same("loadSliceXY", r => FractionStore.loadSliceXY(spark, h, r, 0, 30, 0, 20, 0, 7))
    same("pixels", r => FractionStore.pixels(h, FractionStore.fractions(spark, r)))
    assert(FractionStore.pixels(h, FractionStore.fractions(spark, root)).count() == 600L * n0)
  }
}
