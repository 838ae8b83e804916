package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.grid._

class NpyCodecSpec extends AnyFunSuite {
  test("npy round-trip for every supported dtype") {
    for (descr <- Seq("<i2", "<u2", "|u1", "<i4", "<f4", "<f8")) {
      val shape = Seq(3, 4, 2)
      val data = Array.tabulate(24) { i =>
        descr match {
          case "|u1" => (i * 7 % 256).toDouble
          case "<u2" => (i * 997 % 65536).toDouble
          case "<i2" => (i * 997 % 30000 - 15000).toDouble
          case "<i4" => (i * 99999989L % 2000000000L - 1000000000L).toDouble
          case _     => i * 1.5 - 7
        }
      }
      val bytes = NpyCodec.write(descr, shape, data)
      val back = NpyCodec.read(bytes)
      assert(back.descr == descr && back.shape == shape)
      assert(back.data.toSeq == data.toSeq, descr)
    }
  }

  test("reader accepts numpy's own padding/format variants") {
    // hand-built header with minimal spacing
    val data = Array(1.0, 2.0, 3.0, 4.0)
    val bytes = NpyCodec.write("<f8", Seq(4), data)
    assert(NpyCodec.read(bytes).shape == Seq(4))
  }
}

class IngestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("NPY blob directory ingests into a correct fraction store (U3/SRC4)") {
    val h = GridHeader(
      name = "ingested", width = 20, height = 20,
      fracWidth = 10, fracHeight = 10, fracNDates = 2,
      dtype = "int16", srs = "wgs84",
      geot = Seq(0.0, 1.0, 0.0, 0.0, 0.0, -1.0),
      timestampsMs = Seq(10L, 20L), nodata = -3000.0)
    val blobDir = TestSpark.tmpDir("npy_blobs")
    // two 10x20x2 blobs covering the grid, values = x*1000+y*10+t
    for (x0 <- Seq(0, 10)) {
      val data = for {
        ly <- 0 until 20; lx <- 0 until 10; t <- 0 until 2
      } yield ((x0 + lx) * 1000 + ly * 10 + t).toDouble
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$blobDir/${x0}_0_0.npy"),
        NpyCodec.write("<i2", Seq(20, 10, 2), data.toArray))
    }
    val outRoot = TestSpark.tmpDir("npy_store")
    val nFracs = Ingest.ingestNpyDir(spark, h, blobDir, outRoot)
    assert(nFracs == 4) // 2x2 fracs x 1 time chunk
    val px = FractionStore.loadSliceXY(spark, h, outRoot, 0, 20, 0, 20, 0, 2,
      maskNodata = false)
    assert(px.count() == 800)
    val bad = px.filter(col("value") =!=
      (col("x") * 1000 + col("y") * 10 + col("t"))).count()
    assert(bad == 0)
  }

  test("chunk-aligned ingest equals the pixel-path ingest (U3 at scale)") {
    val h = GridHeader(
      name = "ingested2", width = 25, height = 17,
      fracWidth = 7, fracHeight = 5, fracNDates = 2,
      dtype = "int16", srs = "wgs84",
      geot = Seq(0.0, 1.0, 0.0, 0.0, 0.0, -1.0),
      timestampsMs = Seq(10L, 20L, 30L), nodata = -3000.0)
    val blobDir = TestSpark.tmpDir("npy_blobs_al")
    // blobs deliberately MISALIGNED with the 7x5x2 chunking, with a gap
    // (no blob covers x >= 21), spanning multiple chunks and time chunks
    for ((x0, y0, t0, w, hh, nd) <- Seq(
      (0, 0, 0, 9, 8, 2), (9, 0, 0, 12, 8, 3),
      (0, 8, 1, 9, 9, 2), (9, 8, 0, 12, 9, 1))) {
      val data = for {
        ly <- 0 until hh; lx <- 0 until w; lt <- 0 until nd
      } yield ((x0 + lx) * 1000 + (y0 + ly) * 10 + (t0 + lt)).toDouble
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$blobDir/${x0}_${y0}_$t0.npy"),
        NpyCodec.write("<i2", Seq(hh, w, nd), data.toArray))
    }
    val alignedRoot = TestSpark.tmpDir("npy_store_aligned")
    val pixelRoot = TestSpark.tmpDir("npy_store_pixel")
    Ingest.ingestNpyDirAligned(spark, h, blobDir, alignedRoot)
    Ingest.ingestNpyDir(spark, h, blobDir, pixelRoot)
    def all(root: String) = FractionStore.loadSliceXY(spark, h, root,
      0, h.width, 0, h.height, 0, h.nDates, maskNodata = false)
      .select("x", "y", "t", "value")
    // identical pixel views, including nodata fill in uncovered cells
    assert(all(alignedRoot).except(all(pixelRoot)).isEmpty &&
      all(pixelRoot).except(all(alignedRoot)).isEmpty)
    // pixels no blob covers, inside a PRESENT chunk, are nodata-filled:
    // chunk (fx=1, fy=2, tc=0) is created by blob3 (t=1 only) and blob4
    // (x >= 9 only), so (x=7..8, y=10..14, t=0) is uncovered
    val gap = all(alignedRoot).filter(col("x") === 7 &&
      col("y").between(10, 14) && col("t") === 0)
    assert(gap.count() == 5 &&
      gap.filter(col("value") =!= -3000).count() == 0)
  }

  test("aligned ingest rejects a blob that does not fit the grid, naming it") {
    // 25 x 17 px in 7 x 5 fractions (ragged last column 21..24), 23 dates
    // in chunks of 8 (ragged last chunk 16..22)
    val h = GridHeader(
      name = "fit", width = 25, height = 17,
      fracWidth = 7, fracHeight = 5, fracNDates = 8,
      dtype = "int16", srs = "wgs84",
      geot = Seq(0.0, 1.0, 0.0, 0.0, 0.0, -1.0),
      timestampsMs = (0 until 23).map(_.toLong), nodata = -3000.0)
    for ((x0, y0, t0, w, hh, nd) <- Seq(
      (21, 0, 0, 7, 3, 1),  // past the ragged right edge
      (28, 0, 0, 2, 2, 1),  // past the last fraction column
      (0, 0, 23, 2, 2, 1),  // past the last date
      (0, 0, 20, 2, 2, 4),  // reaching past the last date
      (-1, 0, 0, 2, 2, 1))) { // negative origin
      val blobDir = TestSpark.tmpDir("npy_unfit")
      val name = s"${x0}_${y0}_$t0.npy"
      for ((n, (bw, bh, bnd)) <- Seq(("0_5_0.npy", (3, 3, 2)), (name, (w, hh, nd))))
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$blobDir/$n"),
          NpyCodec.write("<i2", Seq(bh, bw, bnd), Array.fill(bw * bh * bnd)(7.0)))
      val err = intercept[Exception] {
        Ingest.ingestNpyDirAligned(spark, h, blobDir, TestSpark.tmpDir("npy_unfit_out"))
      }
      val msgs = TestSpark.messages(err)
      assert(msgs.exists(m => m.contains(s"blob '$name'") &&
        m.contains("outside grid 'fit' of 25 x 17 px and 23 dates")),
        msgs.mkString("\n"))
    }
  }

  test("a blob name that is not <x0>_<y0>_<t0> is rejected, naming the file") {
    val h = GridHeader(
      name = "named", width = 10, height = 10,
      fracWidth = 5, fracHeight = 5, fracNDates = 2,
      dtype = "int16", srs = "wgs84",
      geot = Seq(0.0, 1.0, 0.0, 0.0, 0.0, -1.0),
      timestampsMs = Seq(10L, 20L), nodata = -3000.0)
    for (name <- Seq("0_0.npy", "a_0_0.npy", "0_0_0_1.npy")) {
      val blobDir = TestSpark.tmpDir("npy_misnamed")
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$blobDir/$name"),
        NpyCodec.write("<i2", Seq(2, 2, 1), Array.fill(4)(1.0)))
      for (ingest <- Seq[(String, String) => Long](
        Ingest.ingestNpyDirAligned(spark, h, _, _),
        Ingest.ingestNpyDir(spark, h, _, _))) {
        val err = intercept[Exception] {
          ingest(blobDir, TestSpark.tmpDir("npy_misnamed_out"))
        }
        val msgs = TestSpark.messages(err)
        assert(msgs.exists(m => m.contains(s"blob '$name'") &&
          m.contains("<x0>_<y0>_<t0>.npy")), msgs.mkString("\n"))
      }
    }
  }

  test("MODIS file-index parse (SRC5/F2)") {
    import spark.implicits._
    val names = Seq(
      "MOD13Q1.A2000049.h10v09.005.2006270052117.hdf",
      "MOD13Q1.A2000065.h10v09.005.2006270052117.hdf",
      "MYD13Q1.A2000049.h29v07.005.2008238013448.hdf").toDF("name")
    val parsed = Ingest.parseModisName(col("name"))(names)
    val rows = parsed.select("satellite", "tile", "ts").collect()
    assert(rows.map(_.getString(1)).toSet == Set("h10v09", "h29v07"))
    assert(rows.head.getTimestamp(2).toInstant.toString.startsWith("2000-02-18"))
  }

  test("targeted chunk reload repairs exactly one chunk (ST3)") {
    val root = TestSpark.tmpDir("reload_store")
    SyntheticGrid.writeTiny(spark, root)
    val h = GridHeader.load(spark, root)
    // corrupt-fix: replace frac 0 / chunk 0 with constant 42
    val replacement = SyntheticGrid.pixelDf(spark, h,
      (_, _, _) => lit(42.0))
      .filter(col("x") < 19 && col("y") < 5 && col("t") < 3)
    Ingest.reloadChunk(spark, root, fracNum = 0, timeChunk = 0, replacement)
    val px = FractionStore.loadSliceXY(spark, h, root, 0, h.width, 0, h.height,
      0, h.nDates, maskNodata = false)
    val inChunk = px.filter(col("x") < 19 && col("y") < 5 && col("t") < 3)
    assert(inChunk.filter(col("value") =!= 42.0f).count() == 0)
    assert(inChunk.count() == 19L * 5 * 3)
    // everything outside the chunk is untouched
    val outside = px.filter(!(col("x") < 19 && col("y") < 5 && col("t") < 3))
    val expected = SyntheticGrid.pixelDf(spark, h, SyntheticGrid.tinyValue)
      .filter(!(col("x") < 19 && col("y") < 5 && col("t") < 3))
      .withColumn("value", col("value").cast("float"))
    assert(outside.except(expected).isEmpty)
  }
}

class Hdf4Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("HDF4 SDS round-trips every dtype with names intact (SRC4)") {
    // level 0 = plain DFTAG_SD; level 6 = SPECIAL_COMP + DFTAG_COMPRESSED,
    // the layout of real (GDAL-written) MODIS archives
    for (dtype <- Seq("uint8", "int16", "uint16", "int32", "float32", "float64");
         level <- Seq(0, 6)) {
      val data = Array.tabulate(6 * 4) { i =>
        dtype match {
          case "uint8"  => (i * 11 % 256).toDouble
          case "uint16" => (i * 997 % 65536).toDouble
          case "int16"  => (i * 997 % 30000 - 15000).toDouble
          case "int32"  => (i * 99991 % 200000 - 100000).toDouble
          case _        => i * 0.75 - 4
        }
      }
      val bytes = Hdf4.writeSds(Seq(
        Hdf4.Sds("250m 16 days NDVI", Seq(4, 6), dtype, data)), level)
      val back = Hdf4.readSds(bytes)
      assert(back.length == 1)
      assert(back.head.name == "250m 16 days NDVI")
      assert(back.head.dims == Seq(4, 6) && back.head.dtype == dtype)
      assert(back.head.data.toSeq == data.toSeq, s"$dtype level $level")
    }
  }

  /** Two 20 x 20 px, 2-date bands (NDVI int16, QA uint16) in 10 x 10
    * fractions, landed as two deflate archives of 10 x 20 px each. */
  val base = GridHeader(
    name = "hdf_multi_ndvi", width = 20, height = 20,
    fracWidth = 10, fracHeight = 10, fracNDates = 2,
    dtype = "int16", srs = "wgs84",
    geot = Seq(0.0, 1.0, 0.0, 0.0, 0.0, -1.0),
    timestampsMs = Seq(10L, 20L), nodata = -3000.0)
  val qaH = base.copy(name = "hdf_multi_qa", dtype = "uint16",
    nodata = 65535.0)
  def ndvi(x: Int, y: Int, t: Int) = (x * 1000 + y * 10 + t).toDouble
  def qa(x: Int, y: Int, t: Int) = ((x * 31 + y * 7 + t) % 65536).toDouble
  def twoBandLanding(): String = {
    val hdfDir = TestSpark.tmpDir("hdf_multi_blobs")
    for (x0 <- Seq(0, 10)) {
      def plane(f: (Int, Int, Int) => Double) = (for {
        ly <- 0 until 20; lx <- 0 until 10; t <- 0 until 2
      } yield f(x0 + lx, ly, t)).toArray
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$hdfDir/${x0}_0_0.hdf"),
        Hdf4.writeSds(Seq(
          Hdf4.Sds("250m 16 days NDVI", Seq(20, 10, 2), "int16", plane(ndvi)),
          Hdf4.Sds("250m 16 days VI Quality", Seq(20, 10, 2), "uint16",
            plane(qa))), deflateLevel = 6))
    }
    hdfDir
  }

  test("multi-band one-pass ingest equals each band's generator (deflate)") {
    val hdfDir = twoBandLanding()
    val (mN, mQ) = (TestSpark.tmpDir("hdf_multi_n"), TestSpark.tmpDir("hdf_multi_q"))
    val counts = Ingest.ingestHdf4DirAlignedMulti(spark, hdfDir,
      Seq((base, "NDVI", mN), (qaH, "VI Quality", mQ)))
    assert(counts == Seq(4L, 4L))
    // every chunk row, placement and payload, from the generator alone
    for ((h, root, f) <- Seq((base, mN, ndvi _), (qaH, mQ, qa _))) {
      val want = (for (fy <- 0 until 2; fx <- 0 until 2) yield {
        val values = for {
          ly <- 0 until 10; lx <- 0 until 10; t <- 0 until 2
        } yield f(fx * 10 + lx, fy * 10 + ly, t)
        (fy * 2 + fx, 0) -> (fx * 10, fy * 10, 0, 10, 10, 2,
          PayloadCodec.encodeDouble(values.toArray, h.dtype).toSeq)
      }).toMap
      assert(ChunkRows(spark, root) == want, h.name)
    }
  }

  test("aligned ingest leaves no cached blocks, one band or two, written or failed") {
    val hdfDir = twoBandLanding()
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    // a store root below a plain file cannot be written
    val unwritable = java.nio.file.Files.createTempFile("not_a_dir", "")
      .toString + "/store"
    Ingest.ingestHdf4DirAligned(spark, base, hdfDir,
      TestSpark.tmpDir("hdf_cache_one"), Some("NDVI"))
    assert(persisted == before)
    Ingest.ingestHdf4DirAlignedMulti(spark, hdfDir,
      Seq((base, "NDVI", TestSpark.tmpDir("hdf_cache_n")),
        (qaH, "VI Quality", TestSpark.tmpDir("hdf_cache_q"))))
    assert(persisted == before)
    intercept[Exception] {
      Ingest.ingestHdf4DirAligned(spark, base, hdfDir, unwritable, Some("NDVI"))
    }
    assert(persisted == before)
    // the first band's write fills the cache; the second band's throws
    intercept[Exception] {
      Ingest.ingestHdf4DirAlignedMulti(spark, hdfDir,
        Seq((base, "NDVI", TestSpark.tmpDir("hdf_cache_n2")),
          (qaH, "VI Quality", unwritable)))
    }
    assert(persisted == before)
  }

  test("dataset selection prefers the exact name and rejects an ambiguous one") {
    def sds(names: String*) = Hdf4.writeSds(names.zipWithIndex.map {
      case (n, i) => Hdf4.Sds(n, Seq(2, 3), "int16", Array.fill(6)(i.toDouble))
    })
    val mod13 = sds("250m 16 days NDVI", "250m 16 days EVI",
      "250m 16 days VI Quality")
    // a name contained in exactly one label still selects it
    assert(Hdf4.selectByName(mod13, "NDVI").get.name == "250m 16 days NDVI")
    assert(Hdf4.selectByName(mod13, "VI Quality").get.name ==
      "250m 16 days VI Quality")
    assert(Hdf4.selectByName(mod13, "EVI").get.name == "250m 16 days EVI")
    // "VI" is in all three labels: no silent first pick
    val err = intercept[IllegalArgumentException] {
      Hdf4.selectByName(mod13, "VI")
    }
    assert(Seq("'250m 16 days NDVI'", "'250m 16 days EVI'",
      "'250m 16 days VI Quality'").forall(err.getMessage.contains),
      err.getMessage)
    // an exact label wins over an earlier label that merely contains it
    val nested = sds("NDVI anomaly", "NDVI")
    assert(Hdf4.selectByName(nested, "NDVI").get.data.head == 1.0)
    // the ingest fails the same way, naming the candidates
    val hdfDir = TestSpark.tmpDir("hdf_ambiguous")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$hdfDir/0_0_0.hdf"), mod13)
    val h = base.copy(name = "hdf_ambiguous", timestampsMs = Seq(10L))
    val ingestErr = intercept[Exception] {
      Ingest.ingestHdf4DirAligned(spark, h, hdfDir,
        TestSpark.tmpDir("hdf_ambiguous_out"), Some("VI"))
    }
    val msgs = TestSpark.messages(ingestErr)
    assert(msgs.exists(m => m.contains("'VI' is ambiguous") &&
      m.contains("'250m 16 days EVI'")), msgs.mkString("\n"))
  }

  test("compressed SDS really compresses and selects by name") {
    // compressible payload: long runs
    val data = Array.tabulate(64 * 64)(i => (i / 512).toDouble)
    val qa = Array.tabulate(64 * 64)(i => (i % 7).toDouble)
    val plain = Hdf4.writeSds(Seq(
      Hdf4.Sds("250m 16 days NDVI", Seq(64, 64), "int16", data),
      Hdf4.Sds("250m 16 days VI Quality", Seq(64, 64), "uint16", qa)))
    val packed = Hdf4.writeSds(Seq(
      Hdf4.Sds("250m 16 days NDVI", Seq(64, 64), "int16", data),
      Hdf4.Sds("250m 16 days VI Quality", Seq(64, 64), "uint16", qa)), 6)
    assert(packed.length < plain.length / 4,
      s"deflate must bite: ${packed.length} vs ${plain.length}")
    val n = Hdf4.selectByName(packed, "NDVI").get
    val q = Hdf4.selectByName(packed, "VI Quality").get
    assert(n.data.toSeq == data.toSeq && n.dtype == "int16")
    assert(q.data.toSeq == qa.toSeq && q.dtype == "uint16")
  }

  test("multi-dataset archive selects by name like the reference") {
    val ndvi = Array.tabulate(12)(i => (i * 7 % 8000 - 1000).toDouble)
    val qa = Array.tabulate(12)(i => (i * 40503 % 65536).toDouble)
    val bytes = Hdf4.writeSds(Seq(
      Hdf4.Sds("250m 16 days NDVI", Seq(3, 4), "int16", ndvi),
      Hdf4.Sds("250m 16 days VI Quality", Seq(3, 4), "uint16", qa)))
    val n = Hdf4.selectByName(bytes, "NDVI").get
    val q = Hdf4.selectByName(bytes, "VI Quality").get
    assert(n.data.toSeq == ndvi.toSeq && n.dtype == "int16")
    assert(q.data.toSeq == qa.toSeq && q.dtype == "uint16")
    assert(Hdf4.selectByName(bytes, "no such dataset").isEmpty)
  }

  test("HDF4 blob directory ingests identically to its NPY twin") {
    // plain and DEFLATE-compressed archives must land the SAME store
    for ((level, suffix) <- Seq((0, "plain"), (6, "deflate"))) {
      val h = GridHeader(
        name = s"hdf_ingested_$suffix", width = 20, height = 20,
        fracWidth = 10, fracHeight = 10, fracNDates = 2,
        dtype = "int16", srs = "wgs84",
        geot = Seq(0.0, 1.0, 0.0, 0.0, 0.0, -1.0),
        timestampsMs = Seq(10L, 20L), nodata = -3000.0)
      val hdfDir = TestSpark.tmpDir(s"hdf_blobs_$suffix")
      for (x0 <- Seq(0, 10)) {
        val data = for {
          ly <- 0 until 20; lx <- 0 until 10; t <- 0 until 2
        } yield ((x0 + lx) * 1000 + ly * 10 + t).toDouble
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$hdfDir/${x0}_0_0.hdf"),
          Hdf4.writeSds(Seq(Hdf4.Sds("250m 16 days NDVI",
            Seq(20, 10, 2), "int16", data.toArray)), level))
      }
      val outRoot = TestSpark.tmpDir(s"hdf_store_$suffix")
      val nFracs = Ingest.ingestHdf4DirAligned(spark, h, hdfDir, outRoot,
        Some("NDVI"))
      assert(nFracs == 4)
      val px = FractionStore.loadSliceXY(spark, h, outRoot, 0, 20, 0, 20, 0, 2,
        maskNodata = false)
      assert(px.count() == 800)
      val bad = px.filter(col("value") =!=
        (col("x") * 1000 + col("y") * 10 + col("t"))).count()
      assert(bad == 0, suffix)
    }
  }
}

class RegionsExportsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("GeoJSON regions load with (lat, lng) vertices (SRC7/SRC8)") {
    val poly = Regions.polygonForRegion(spark, "assets/regions.geojson",
      "test.triangle")
    assert(poly.length == 4)
    assert(poly.head == (0.0, 0.0))
    assert(poly(1) == (-0.5, 0.0)) // [lng=0, lat=-0.5] -> (lat, lng)
  }

  test("region polygon drives a masked grid query end-to-end") {
    val root = TestSpark.tmpDir("region_grid")
    SyntheticGrid.writeTiny(spark, root)
    val h = GridHeader.load(spark, root)
    val poly = Regions.polygonForRegion(spark, "assets/regions.geojson",
      "test.box")
    val df = FractionStore.loadPolyLatLng(spark, h, root, poly, 0, 1)
    assert(df.filter(col("in_poly")).count() > 0)
  }

  test("ENVI export writes a parseable raster + header (SNK4)") {
    val root = TestSpark.tmpDir("envi_grid")
    SyntheticGrid.writeTiny(spark, root)
    val h = GridHeader.load(spark, root)
    val base = TestSpark.tmpDir("envi_out") + "/win"
    GridExports.exportWindowEnvi(spark, h, root, 0, 10, 0, 6, 0, base)
    val hdr = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$base.hdr")), "UTF-8")
    assert(hdr.contains("samples = 10") && hdr.contains("lines = 6"))
    assert(hdr.contains("data type = 4")) // float32
    val bin = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$base.bin"))
    assert(bin.length == 10 * 6 * 4)
    // spot-check pixel (3, 2, t=0) little-endian float at (2*10+3)
    val v = java.nio.ByteBuffer.wrap(bin)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).asFloatBuffer().get(23)
    val expected = if ((3 + 2 + 0) % 13 == 0) -999.0f
      else ((3 * 31 + 2 * 17 + 0 * 7) % 97).toFloat
    assert(v == expected)
  }

  test("footprint GeoJSON export covers every fraction (SNK5)") {
    val root = TestSpark.tmpDir("fp_grid")
    SyntheticGrid.writeTiny(spark, root)
    val h = GridHeader.load(spark, root)
    val json = GridExports.footprintsGeoJson(spark, h, root)
    val g = h.chunkGrid
    assert(json.contains("FeatureCollection"))
    assert("\"frac_num\"".r.findAllIn(json).size == g.numFracsX * g.numFracsY)
  }

  test("shapefile round-trips rings and attributes bit-exactly (SRC7/SNK5)") {
    val ringA = Array((-0.1, 0.1), (-0.1, 0.9), (-0.9, 0.9), (-0.9, 0.1),
      (-0.1, 0.1))
    val ringB = Array((1.0, 2.0), (1.5, 2.5), (1.0, 3.0)) // open: writer closes
    val base = TestSpark.tmpDir("shp_out") + "/regions"
    Shapefile.writePolygons(base, Seq(ringA, ringB),
      Seq(Map("name" -> "test.box", "kind" -> "box"),
        Map("name" -> "tri", "kind" -> "triangle")))
    val feats = Shapefile.loadPolygons(s"$base.shp")
    assert(feats.length == 2)
    assert(feats(0).ring.toSeq == ringA.toSeq) // doubles round-trip exactly
    assert(feats(1).ring.toSeq == (ringB :+ ringB.head).toSeq)
    assert(feats(0).attrs == Map("name" -> "test.box", "kind" -> "box"))
    assert(feats(1).attrs == Map("name" -> "tri", "kind" -> "triangle"))
    val df = Shapefile.asDataFrame(spark, s"$base.shp")
    assert(df.count() == 2 && df.columns.contains("ring_lat_lng"))
  }

  test("shapefile region drives the same mask query as its GeoJSON twin") {
    val root = TestSpark.tmpDir("shp_grid")
    SyntheticGrid.writeTiny(spark, root)
    val h = GridHeader.load(spark, root)
    val geoPoly = Regions.polygonForRegion(spark, "assets/regions.geojson",
      "test.box")
    val base = TestSpark.tmpDir("shp_twin") + "/regions"
    Shapefile.writePolygons(base, Seq(geoPoly),
      Seq(Map("name" -> "test.box")))
    val shpPoly = Shapefile.loadPolygons(s"$base.shp")
      .find(_.attrs("name") == "test.box").get.ring
    assert(shpPoly.toSeq == geoPoly.toSeq)
    def maskCounts(p: Array[(Double, Double)]) =
      FractionStore.loadPolyLatLng(spark, h, root, p, 0, 2)
        .groupBy(col("in_poly"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("s"))
        .collect().map(r => (r.getBoolean(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
    assert(maskCounts(shpPoly) == maskCounts(geoPoly))
  }

  test("footprint shapefile export covers every fraction (SNK5)") {
    val root = TestSpark.tmpDir("fp_shp_grid")
    SyntheticGrid.writeTiny(spark, root)
    val h = GridHeader.load(spark, root)
    val base = TestSpark.tmpDir("fp_shp") + "/fracs"
    GridExports.footprintsShapefile(spark, h, root, base)
    val feats = Shapefile.loadPolygons(s"$base.shp")
    val g = h.chunkGrid
    assert(feats.length == g.numFracsX * g.numFracsY)
    assert(feats.map(_.attrs("frac_num")).toSet ==
      (0 until g.numFracsX * g.numFracsY).map(_.toString).toSet)
    // each footprint is a closed 5-vertex ring
    assert(feats.forall(f => f.ring.length == 5 && f.ring.head == f.ring.last))
  }

  test("guarded delete refuses shallow paths, removes stores (SNK6)") {
    intercept[IllegalArgumentException] {
      GridExports.deleteStore(spark, "/tmp")
    }
    val root = TestSpark.tmpDir("del_grid")
    SyntheticGrid.writeTiny(spark, root)
    assert(GridExports.deleteStore(spark, root))
    assert(!new java.io.File(root).exists())
  }
}
