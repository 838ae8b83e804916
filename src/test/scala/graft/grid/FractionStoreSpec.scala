package graft.grid

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Oracle-differential store tests, mirroring tests/test_jgrid3.py:107-263:
  * write a deterministic grid, slice it back through the store, compare
  * against the value function recomputed directly.
  */
class FractionStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  lazy val root: String = {
    val r = TestSpark.tmpDir("tinygrid")
    SyntheticGrid.writeTiny(spark, r)
    r
  }
  lazy val header: GridHeader = GridHeader.load(spark, root)

  test("header round-trips through JSON (SRC2/SNK3)") {
    assert(header == SyntheticGrid.tinyHeader)
  }

  test("full grid slice matches the generator (write/read round-trip)") {
    val got = FractionStore.loadSliceXY(spark, header, root,
      0, header.width, 0, header.height, 0, header.nDates, maskNodata = false)
    val expected = SyntheticGrid.pixelDf(spark, header, SyntheticGrid.tinyValue)
      .withColumn("value", col("value").cast("float"))
    assert(got.count() == header.width.toLong * header.height * header.nDates)
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty)
  }

  test("windowed slice with ragged time chunk (P1-P3/P6/P7)") {
    // box straddling chunk borders + the ragged last time chunk
    val (x0, x1, y0, y1, t0, t1) = (17, 40, 3, 12, 8, 11)
    val got = FractionStore.loadSliceXY(spark, header, root,
      x0, x1, y0, y1, t0, t1, maskNodata = false)
    val expected = SyntheticGrid.pixelDf(spark, header, SyntheticGrid.tinyValue)
      .filter(col("x").between(x0, x1 - 1) && col("y").between(y0, y1 - 1) &&
        col("t").between(t0, t1 - 1))
      .withColumn("value", col("value").cast("float"))
    assert(got.count() == (x1 - x0).toLong * (y1 - y0) * (t1 - t0))
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty)
  }

  test("compact rewrites a fragmented store losslessly with fewer files") {
    // fragment a fresh copy: the canonical write, then re-append the
    // SAME rows split into 4 frac_num slivers (each append lands extra
    // files in every partition dir it touches — the incremental
    // writers' fragmentation pattern). The content then has duplicate
    // chunk rows, so build the fragmented store from disjoint slivers
    // instead: 4 append-mode writes of a quarter of the fractions each.
    val r = TestSpark.tmpDir("compactme")
    val h = SyntheticGrid.tinyHeader
    h.save(spark, r)
    val rows = FractionStore.fromPixels(spark, h,
      SyntheticGrid.pixelDf(spark, h, SyntheticGrid.tinyValue))
      .localCheckpoint()
    (0 until 4).foreach { k =>
      FractionStore.write(spark, h,
        rows.filter(pmod(col("frac_num"), lit(4)) === k), r,
        mode = "append")
    }
    val before = FractionStore.loadSliceXY(spark, h, r,
      0, h.width, 0, h.height, 0, h.nDates, maskNodata = false)
      .collect().map(x => x.getInt(0) -> (x.getInt(1), x.getInt(2),
        x.getFloat(3))).sorted.toSeq
    val (nBefore, nAfter) = FractionStore.compact(spark, r)
    val after = FractionStore.loadSliceXY(spark, h, r,
      0, h.width, 0, h.height, 0, h.nDates, maskNodata = false)
      .collect().map(x => x.getInt(0) -> (x.getInt(1), x.getInt(2),
        x.getFloat(3))).sorted.toSeq
    assert(after == before, "compaction must be lossless")
    assert(nAfter < nBefore, s"files $nBefore -> $nAfter")

    // targeted maintenance: compacting ONE time chunk leaves the other
    // partitions' files untouched and still reads back identically
    val r2 = TestSpark.tmpDir("compactone")
    h.save(spark, r2)
    (0 until 4).foreach { k =>
      FractionStore.write(spark, h,
        rows.filter(pmod(col("frac_num"), lit(4)) === k), r2,
        mode = "append")
    }
    val (n2Before, n2After) = FractionStore.compact(spark, r2,
      timeChunks = Some(Seq(0)))
    assert(n2After < n2Before)
    val got2 = FractionStore.loadSliceXY(spark, h, r2,
      0, h.width, 0, h.height, 0, h.nDates, maskNodata = false)
      .collect().map(x => x.getInt(0) -> (x.getInt(1), x.getInt(2),
        x.getFloat(3))).sorted.toSeq
    assert(got2 == before)
  }

  test("nodata masking to NULL (P9)") {
    val masked = FractionStore.loadSliceXY(spark, header, root,
      0, 26, 0, 13, 0, 2, maskNodata = true)
    val nNull = masked.filter(col("value").isNull).count()
    val nNodataExpected = SyntheticGrid
      .pixelDf(spark, header, SyntheticGrid.tinyValue)
      .filter(col("x") < 26 && col("y") < 13 && col("t") < 2)
      .filter(col("value") === -999.0).count()
    assert(nNull == nNodataExpected && nNull > 0)
  }

  test("sparse fraction: absent chunk yields no rows, not nodata rows") {
    // write a copy with one fraction chunk removed
    val r2 = TestSpark.tmpDir("tinysparse")
    val fracs = FractionStore.fractions(spark, root)
      .filter(!(col("frac_num") === 0 && col("time_chunk") === 0))
    FractionStore.write(spark, header, fracs, r2)
    val got = FractionStore.loadSliceXY(spark, GridHeader.load(spark, r2), r2,
      0, header.width, 0, header.height, 0, header.nDates, maskNodata = false)
    val full = header.width.toLong * header.height * header.nDates
    val missing = 19L * 5 * 3 // one chunk of fracWidth*fracHeight*fracNDates
    assert(got.count() == full - missing)
  }

  test("lat/lng window load (P4) agrees with xy load") {
    // tiny grid is wgs84 with geot (0, .01, 0, 0, 0, -.01):
    // lng = 0.01*x, lat = -0.01*y
    val got = FractionStore.loadSliceLatLng(spark, header, root,
      latMin = -0.1, latMax = 0.0, lngMin = 0.0, lngMax = 0.2, tFrom = 0, tTo = 1)
    val viaXy = FractionStore.loadSliceXY(spark, header, root, 0, 20, 0, 10, 0, 1)
    assert(got.count() == viaXy.count())
    assert(got.except(viaXy).isEmpty)
  }

  test("polygon load computes a correct containment mask (P5/F8)") {
    // triangle in lat/lng space over the tiny grid
    val poly = Array((-0.0, 0.0), (-0.5, 0.0), (-0.5, 0.5))
    val got = FractionStore.loadPolyLatLng(spark, header, root, poly, 0, 1)
    val inPoly = got.filter(col("in_poly")).count()
    val outPoly = got.filter(!col("in_poly")).count()
    assert(inPoly > 0 && outPoly > 0)
    // spot-check with the scalar ray-caster on a few pixels
    val rows = got.select("x", "y", "in_poly").collect()
    val xyPoly = poly.map { case (lat, lng) => header.latLngToXY(lat, lng) }
    rows.take(200).foreach { r =>
      val expected = PointInPolygon.contains(xyPoly,
        r.getInt(0) + 0.5, r.getInt(1) + 0.5)
      assert(r.getBoolean(2) == expected, s"pixel (${r.getInt(0)},${r.getInt(1)})")
    }
  }

  test("timestamps attach to the pixel view (W1 support)") {
    val px = FractionStore.loadSliceXY(spark, header, root, 0, 2, 0, 2, 0, header.nDates)
    val withTs = FractionStore.withTimestamp(header, px)
    val ts = withTs.select("ts_ms").distinct().collect().map(_.getLong(0)).sorted
    assert(ts.toSeq == header.timestampsMs)
  }

  test("aligned load rejects a chunk whose stores disagree on nd") {
    // two int16 bands of 3 dates in chunks of 2 (tail chunk 1 holds one
    // date); two dates appended to band "long" only grow its tail to 2
    val h = GridHeader(name = "band", width = 20, height = 10,
      fracWidth = 10, fracHeight = 5, fracNDates = 2, dtype = "int16",
      srs = "wgs84", geot = Seq(0.0, 1.0, 0.0, 0.0, 0.0, -1.0),
      timestampsMs = Seq(1L, 2L, 3L), nodata = -1.0)
    val value = new SyntheticGrid.PixelFn {
      def apply(x: Int, y: Int, t: Int): Double = (x * 7 + y * 3 + t) % 50
    }
    val (long, short) = (TestSpark.tmpDir("nd_long"), TestSpark.tmpDir("nd_short"))
    SyntheticGrid.writeDirect(spark, h, long, value)
    SyntheticGrid.writeDirect(spark, h, short, value)
    val hl = IncrementalAppend.appendDates(spark, long, Seq(4L, 5L),
      SyntheticGrid.pixelDf(spark, h.copy(timestampsMs = Seq(4L, 5L)),
        (x, y, t) => (x + y + t).cast("double")))
    // dates inside time chunk 0 still pair
    assert(FractionStore.loadAlignedSliceXY(spark, Seq((h, short), (hl, long)),
      0, 20, 0, 10, 0, 2, masks = Seq(false, false)).count() == 400)
    for (stores <- Seq(Seq((h, short), (hl, long)), Seq((hl, long), (h, short)))) {
      val err = intercept[Exception] {
        FractionStore.loadAlignedSliceXY(spark, stores, 0, 20, 0, 10, 0, 3,
          masks = Seq(false, false)).collect()
      }
      val msgs = TestSpark.messages(err)
      assert(msgs.exists(m => m.contains("(frac_num, time_chunk) = (") &&
        m.contains(", 1) at") && m.contains("10x5x1") && m.contains("10x5x2")),
        msgs.mkString(" | "))
    }
  }

  test("pixel view decodes each payload once per chunk") {
    // an inferred size(arr) > 0 filter over an unpacked attribute would
    // be pushed below the unpack projection with the decode inlined
    def decodes(df: org.apache.spark.sql.DataFrame) =
      "unpack_payload".r.findAllIn(df.queryExecution.optimizedPlan.toString).size
    val (x0, x1, y0, y1, t0, t1) = (17, 40, 3, 12, 2, 11)
    assert(decodes(FractionStore.loadSliceXY(spark, header, root,
      x0, x1, y0, y1, t0, t1)) == 1)
    assert(decodes(FractionStore.loadAlignedSliceXY(spark,
      Seq((header, root), (header, root)), x0, x1, y0, y1, t0, t1,
      masks = Seq(true, true))) == 2)
  }

  test("fromPixels rejects a pixel outside the grid, naming it") {
    // 25 px wide, 10 px fractions: the last fraction column is 5 px wide,
    // so x = 27 keys to it and would index past its rows; x = -1 keys to
    // fraction 0 and would land in the previous pixel row
    val h = GridHeader(name = "edge", width = 25, height = 10,
      fracWidth = 10, fracHeight = 10, fracNDates = 2, dtype = "int16",
      srs = "wgs84", geot = Seq(0.0, 1.0, 0.0, 0.0, 0.0, -1.0),
      timestampsMs = Seq(1L, 2L), nodata = -1.0)
    import spark.implicits._
    for ((x, y) <- Seq((27, 3), (-1, 3), (3, 10))) {
      val px = Seq((x, y, 0, 7.0), (0, 0, 0, 1.0)).toDF("x", "y", "t", "value")
      val err = intercept[Exception] {
        FractionStore.fromPixels(spark, h, px).collect()
      }
      val msgs = Iterator.iterate[Throwable](err)(_.getCause)
        .takeWhile(_ != null).map(e => String.valueOf(e.getMessage)).toSeq
      assert(msgs.exists(m => m.contains(s"pixel (x=$x, y=$y, t=0)") &&
        m.contains("25 x 10 px")), msgs.mkString("\n"))
    }
  }
}
