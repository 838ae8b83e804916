package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.grid._

/** Bulk ingestion (reference: SRC4/SRC6/U3 —
  * create_ndvi_worldgrid.py:61-157's shared-memory pool choreography
  * becomes one declarative job: binaryFile scan -> per-partition decode
  * -> chunk shuffle -> partitioned parquet write) and the file-index
  * scan (SRC5, datasources/modis.py:30-110).
  *
  * Blob formats: NPY (the reference's own fraction serialization,
  * jgrid3.py:65-77), GeoTIFF (plain or gzipped), and HDF4 SDS
  * ([[Hdf4]] — the reference's MODIS input format, plain or
  * DEFLATE-compressed elements; datasets selectable by name like
  * modis.py:224-229). Each is one [[BlobDecoder]]; adding a format
  * changes only `decode`, and [[ingestHdf4DirAlignedMulti]] lands every
  * band of a granule in one archive pass.
  */
object Ingest {

  /** MODIS-style filename parse (SRC5/F2, modis.py:17-27):
    * `MOD13Q1.A2000049.h10v09.005.2006270052117.hdf` ->
    * (satellite, julian date, tile, h, v). As reusable Columns.
    */
  val ModisNameRegex = "(MOD13Q1|MYD13Q1)\\.A([0-9]{7})\\.h([0-9]{2})v([0-9]{2})\\.([0-9]{3})\\..*"

  def parseModisName(name: org.apache.spark.sql.Column): DataFrame => DataFrame =
    df => df
      .withColumn("satellite", regexp_extract(name, ModisNameRegex, 1))
      .withColumn("ts", to_timestamp(regexp_extract(name, ModisNameRegex, 2),
        "yyyyDDD"))
      .withColumn("tile_h", regexp_extract(name, ModisNameRegex, 3).cast("int"))
      .withColumn("tile_v", regexp_extract(name, ModisNameRegex, 4).cast("int"))
      .withColumn("tile", concat(lit("h"),
        regexp_extract(name, ModisNameRegex, 3), lit("v"),
        regexp_extract(name, ModisNameRegex, 4)))

  /** File-index scan of a landing directory: one row per blob with parsed
    * name metadata (sorted-by-ts per tile downstream is an orderBy). */
  def fileIndex(spark: SparkSession, dir: String, glob: String = "*"): DataFrame = {
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)
      .select(col("path"), col("length"),
        element_at(split(col("path"), "/"), -1).as("name"))
    parseModisName(col("name"))(files)
  }

  /** Ingest a directory of NPY pixel blobs into a fraction store.
    * Blob naming: `<x0>_<y0>_<t0>.npy`, each a dense [h, w, nd] C-order
    * array positioned at (x0, y0, t0) — the tile-window shape of the
    * reference's per-cell import (create_ndvi_worldgrid.py:129-148).
    *
    * One job: binaryFile scan -> decode (mapPartitions via explode of
    * decoded pixels) -> fromPixels chunk shuffle -> partitioned write.
    */
  def ingestNpyDir(spark: SparkSession, header: GridHeader,
                   blobDir: String, outRoot: String): Long = {
    import spark.implicits._
    val blobs = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.npy").load(blobDir)
      .select(element_at(split(col("path"), "/"), -1).as("name"),
        col("content"))
      .as[(String, Array[Byte])]
    val pixels = blobs.flatMap { case (name, bytes) =>
      val Array(x0, y0, t0) = name.stripSuffix(".npy").split("_").map(_.toInt)
      val npy = NpyCodec.read(bytes)
      val Seq(h, w, nd) = npy.shape
      for {
        ly <- 0 until h; lx <- 0 until w; lt <- 0 until nd
      } yield (x0 + lx, y0 + ly, t0 + lt,
        npy.data((ly * w + lx) * nd + lt))
    }.toDF("x", "y", "t", "value")
    val rows = FractionStore.fromPixels(spark, header, pixels)
    FractionStore.write(spark, header, rows, outRoot)
    FractionStore.fractions(spark, outRoot).count()
  }

  /** Chunk-aligned ingest — the at-scale variant of [[ingestNpyDir]]:
    * instead of exploding blobs to pixel rows (a w*h*nd-row shuffle per
    * blob), each blob is split map-side into the PACKED sub-boxes it
    * contributes to each overlapped chunk, and the shuffle carries one
    * (chunk key, packed bytes) record per (blob, chunk) intersection —
    * for a typical tile import that is ~100x fewer shuffled bytes and
    * ~10^5x fewer shuffled rows. The reducer assembles each chunk from
    * its sub-boxes (nodata-filled where no blob covers it), exactly the
    * reference's shared-buffer import choreography
    * (create_ndvi_worldgrid.py:129-148) as a relational groupByKey.
    */
  def ingestNpyDirAligned(spark: SparkSession, header: GridHeader,
                          blobDir: String, outRoot: String): Long =
    ingestBlobsAligned(spark, header, blobDir, "*.npy", outRoot,
      NpyBlobDecoder)

  /** GeoTIFF landing-directory ingest (the writer's format family, so a
    * store exported tile-by-tile re-ingests losslessly). Blob naming
    * mirrors the NPY path: `<x0>_<y0>_<t0>.tif`, one time plane each. */
  def ingestGeoTiffDirAligned(spark: SparkSession, header: GridHeader,
                              blobDir: String, outRoot: String): Long =
    ingestBlobsAligned(spark, header, blobDir, "*.tif", outRoot,
      GeoTiffBlobDecoder)

  /** Gzipped GeoTIFF ingest (SRC6: GLCF tiles arrive `.tif.gz` and the
    * reference gunzips before GDAL, create_glcf_worldgrid.py:39-59;
    * here the gunzip happens streaming inside the decode task). */
  def ingestGeoTiffGzDirAligned(spark: SparkSession, header: GridHeader,
                                blobDir: String, outRoot: String): Long =
    ingestBlobsAligned(spark, header, blobDir, "*.tif.gz", outRoot,
      GzipBlobDecoder(GeoTiffBlobDecoder))

  /** Decoded blob: grid placement (x0, y0, t0), box shape
    * (w, h, nDates), dense C-order [y][x][t] doubles. */
  trait BlobDecoder extends Serializable {
    def apply(name: String, bytes: Array[Byte]): (Int, Int, Int, Int, Int, Int, Array[Double])
  }

  object NpyBlobDecoder extends BlobDecoder {
    def apply(name: String, bytes: Array[Byte]): (Int, Int, Int, Int, Int, Int, Array[Double]) = {
      val Array(x0, y0, t0) = name.stripSuffix(".npy").split("_").map(_.toInt)
      val npy = NpyCodec.read(bytes)
      val Seq(h, w, nd) = npy.shape
      (x0, y0, t0, w, h, nd, npy.data)
    }
  }

  object GeoTiffBlobDecoder extends BlobDecoder {
    def apply(name: String, bytes: Array[Byte]): (Int, Int, Int, Int, Int, Int, Array[Double]) = {
      val Array(x0, y0, t0) = name.stripSuffix(".tif").split("_").map(_.toInt)
      val r = GeoTiff.read(bytes)
      // single 2D plane: [y][x] is already [y][x][t] with nd = 1
      (x0, y0, t0, r.width, r.height, 1, r.data)
    }
  }

  /** HDF4 SDS landing-directory ingest (SRC4): `<x0>_<y0>_<t0>.hdf`,
    * one [h, w] plane or [h, w, nd] box per blob; `datasetName` picks
    * the labeled dataset the way the reference selects "250m 16 days
    * NDVI" vs "VI Quality" from one archive (modis.py:205-229). */
  def ingestHdf4DirAligned(spark: SparkSession, header: GridHeader,
                           blobDir: String, outRoot: String,
                           datasetName: Option[String] = None): Long =
    ingestBlobsAligned(spark, header, blobDir, "*.hdf", outRoot,
      Hdf4BlobDecoder(datasetName))

  /** See [[ingestHdf4DirAligned]]. */
  final case class Hdf4BlobDecoder(datasetName: Option[String])
      extends BlobDecoder {
    def apply(name: String, bytes: Array[Byte]): (Int, Int, Int, Int, Int, Int, Array[Double]) = {
      val Array(x0, y0, t0) = name.stripSuffix(".hdf").split("_").map(_.toInt)
      val sds = datasetName match {
        case Some(n) => Hdf4.selectByName(bytes, n)
          .getOrElse(sys.error(s"no dataset named '$n' in $name"))
        case None => Hdf4.readSds(bytes).headOption
          .getOrElse(sys.error(s"no SDS in $name"))
      }
      sds.dims match {
        case Seq(h, w)     => (x0, y0, t0, w, h, 1, sds.data)
        case Seq(h, w, nd) => (x0, y0, t0, w, h, nd, sds.data)
        case d => sys.error(s"unsupported SDS rank ${d.length} in $name")
      }
    }
  }

  /** Gunzip wrapper around any [[BlobDecoder]]: inflates the blob
    * (stdlib GZIPInputStream) and strips the `.gz` suffix before
    * delegating, so `<x0>_<y0>_<t0>.tif.gz` decodes like its plain
    * twin. */
  final case class GzipBlobDecoder(inner: BlobDecoder) extends BlobDecoder {
    def apply(name: String, bytes: Array[Byte]): (Int, Int, Int, Int, Int, Int, Array[Double]) = {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val raw = try in.readAllBytes() finally in.close()
      inner(name.stripSuffix(".gz"), raw)
    }
  }

  /** One-pass MULTI-BAND HDF4 ingest: every archive is read and parsed
    * ONCE and each labeled dataset lands in its own store — the
    * reference's granule semantics (modis.py imports "250m 16 days
    * NDVI" and "...VI Quality" from the same file). At archive scale
    * this halves (for 2 bands; 1/N generally) the ingest I/O and blob
    * parsing vs calling [[ingestHdf4DirAligned]] per band: the shuffle
    * carries (band, chunk key, packed sub-box) records and the
    * assembled chunk rows persist once, so the per-store writes re-read
    * nothing. Bands must share the geogrid + time chunking; dtype and
    * nodata may differ per band. Returns per-band chunk counts in
    * `bands` order.
    */
  def ingestHdf4DirAlignedMulti(spark: SparkSession, blobDir: String,
      bands: Seq[(GridHeader, String, String)]): Seq[Long] = {
    import spark.implicits._
    require(bands.nonEmpty)
    val h0 = bands.head._1
    require(bands.forall(_._1.sameGeogrid(h0)) &&
      bands.forall(_._1.fracNDates == h0.fracNDates),
      "multi-band ingest needs one shared geogrid + time chunking")
    val g = h0.chunkGrid
    val names = bands.map(_._2)
    val dtypes = bands.map(_._1.dtype)
    val codes = dtypes.map(PayloadCodec.code)
    val nodatas = bands.map(_._1.nodata)
    val (fracW, fracH, fracND) = (h0.fracWidth, h0.fracHeight, h0.fracNDates)
    val (gw, gh, gnd) = (h0.width, h0.height, h0.nDates)
    val numFracsX = g.numFracsX

    val blobs = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.hdf").load(blobDir)
      .select(element_at(split(col("path"), "/"), -1).as("name"),
        col("content"))
      .as[(String, Array[Byte])]

    val subBoxes = blobs.flatMap { case (name, bytes) =>
      val Array(x0, y0, t0) = name.stripSuffix(".hdf").split("_").map(_.toInt)
      val all = Hdf4.readSds(bytes) // ONE parse serves every band
      names.indices.iterator.flatMap { b =>
        val sds = all.find(_.name.contains(names(b)))
          .getOrElse(sys.error(s"no dataset named '${names(b)}' in $name"))
        val (bw0, bh0, bnd0) = sds.dims match {
          case Seq(h, w)     => (w, h, 1)
          case Seq(h, w, nd) => (w, h, nd)
          case d => sys.error(s"unsupported SDS rank ${d.length} in $name")
        }
        for {
          fy <- (y0 / fracH to (y0 + bh0 - 1) / fracH).iterator
          fx <- x0 / fracW to (x0 + bw0 - 1) / fracW
          tc <- t0 / fracND to (t0 + bnd0 - 1) / fracND
        } yield {
          val ax0 = math.max(x0, fx * fracW)
          val ax1 = math.min(x0 + bw0, (fx + 1) * fracW)
          val ay0 = math.max(y0, fy * fracH)
          val ay1 = math.min(y0 + bh0, (fy + 1) * fracH)
          val at0 = math.max(t0, tc * fracND)
          val at1 = math.min(t0 + bnd0, (tc + 1) * fracND)
          val (bw, bh, bnd) = (ax1 - ax0, ay1 - ay0, at1 - at0)
          val sub = copySubBox(sds.data, x0, y0, t0, bw0, bnd0,
            ax0, ay0, at0, bw, bh, bnd)
          (b, fy * numFracsX + fx, tc, ax0, ay0, at0, bw, bh, bnd,
            PayloadCodec.encodeDouble(sub, dtypes(b)))
        }
      }
    }
    val rows = subBoxes
      .groupByKey(r => (r._1, r._2, r._3))
      .mapGroups { (key: (Int, Int, Int),
                    it: Iterator[(Int, Int, Int, Int, Int, Int, Int, Int, Int, Array[Byte])]) =>
        val (band, fracNum, tc) = key
        val fx = fracNum % numFracsX; val fy = fracNum / numFracsX
        val cx0 = fx * fracW; val cy0 = fy * fracH; val ct0 = tc * fracND
        val cw = math.min(fracW, gw - cx0)
        val ch = math.min(fracH, gh - cy0)
        val cnd = math.min(fracND, gnd - ct0)
        val data = Array.fill(cw * ch * cnd)(nodatas(band))
        it.foreach { case (_, _, _, ax0, ay0, at0, bw, bh, bnd, payload) =>
          fillChunk(data, cw, cnd, cx0, cy0, ct0, ax0, ay0, at0, bw, bh, bnd,
            PayloadCodec.decodeDouble(payload, codes(band)))
        }
        (band, FracRowBytes(fracNum, tc, fx, fy, cx0, cy0, ct0,
          cw, ch, cnd, PayloadCodec.encodeDouble(data, dtypes(band))))
      }
      .toDF("band", "row")
      .select(col("band"), col("row.*"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      bands.zipWithIndex.map { case ((h, _, outRoot), b) =>
        FractionStore.write(spark, h,
          rows.filter(col("band") === b).drop("band"), outRoot)
        FractionStore.fractions(spark, outRoot).count()
      }
    } finally rows.unpersist()
  }

  /** Copy the [ay0, ay0+bh) x [ax0, ax0+bw) x [at0, at0+bnd) sub-box of
    * a dense C-order [y][x][t] blob anchored at (x0, y0, t0). */
  private def copySubBox(blobData: Array[Double], x0: Int, y0: Int, t0: Int,
                         bw0: Int, bnd0: Int, ax0: Int, ay0: Int, at0: Int,
                         bw: Int, bh: Int, bnd: Int): Array[Double] = {
    val sub = new Array[Double](bw * bh * bnd)
    var i = 0; var ly = 0
    while (ly < bh) {
      var lx = 0
      while (lx < bw) {
        var lt = 0
        while (lt < bnd) {
          sub(i) = blobData(((ay0 - y0 + ly) * bw0 + (ax0 - x0 + lx)) * bnd0
            + (at0 - t0 + lt))
          i += 1; lt += 1
        }
        lx += 1
      }
      ly += 1
    }
    sub
  }

  /** Write a packed sub-box into a chunk buffer anchored at
    * (cx0, cy0, ct0) with row stride cw and time depth cnd. */
  private def fillChunk(data: Array[Double], cw: Int, cnd: Int,
                        cx0: Int, cy0: Int, ct0: Int,
                        ax0: Int, ay0: Int, at0: Int,
                        bw: Int, bh: Int, bnd: Int,
                        sub: Array[Double]): Unit = {
    var i = 0; var ly = 0
    while (ly < bh) {
      var lx = 0
      while (lx < bw) {
        var lt = 0
        while (lt < bnd) {
          data(((ay0 - cy0 + ly) * cw + (ax0 - cx0 + lx)) * cnd
            + (at0 - ct0 + lt)) = sub(i)
          i += 1; lt += 1
        }
        lx += 1
      }
      ly += 1
    }
  }

  private def ingestBlobsAligned(spark: SparkSession, header: GridHeader,
                                 blobDir: String, glob: String,
                                 outRoot: String,
                                 decode: BlobDecoder): Long = {
    import spark.implicits._
    val g = header.chunkGrid
    val dtype = header.dtype
    val cd = PayloadCodec.code(dtype)
    val nodata = header.nodata
    val (fracW, fracH, fracND) =
      (header.fracWidth, header.fracHeight, header.fracNDates)
    val (gw, gh, gnd) = (header.width, header.height, header.nDates)
    val numFracsX = g.numFracsX

    val blobs = spark.read.format("binaryFile")
      .option("pathGlobFilter", glob).load(blobDir)
      .select(element_at(split(col("path"), "/"), -1).as("name"),
        col("content"))
      .as[(String, Array[Byte])]

    val subBoxes = blobs.flatMap { case (name, bytes) =>
      val (x0, y0, t0, bw0, bh0, bnd0, blobData) = decode(name, bytes)
      for {
        fy <- y0 / fracH to (y0 + bh0 - 1) / fracH
        fx <- x0 / fracW to (x0 + bw0 - 1) / fracW
        tc <- t0 / fracND to (t0 + bnd0 - 1) / fracND
      } yield {
        val ax0 = math.max(x0, fx * fracW)
        val ax1 = math.min(x0 + bw0, (fx + 1) * fracW)
        val ay0 = math.max(y0, fy * fracH)
        val ay1 = math.min(y0 + bh0, (fy + 1) * fracH)
        val at0 = math.max(t0, tc * fracND)
        val at1 = math.min(t0 + bnd0, (tc + 1) * fracND)
        val (bw, bh, bnd) = (ax1 - ax0, ay1 - ay0, at1 - at0)
        val sub = copySubBox(blobData, x0, y0, t0, bw0, bnd0,
          ax0, ay0, at0, bw, bh, bnd)
        (fy * numFracsX + fx, tc, ax0, ay0, at0, bw, bh, bnd,
          PayloadCodec.encodeDouble(sub, dtype))
      }
    }
    val rows = subBoxes
      .groupByKey(r => (r._1, r._2))
      .mapGroups { (key: (Int, Int),
                    it: Iterator[(Int, Int, Int, Int, Int, Int, Int, Int, Array[Byte])]) =>
        val (fracNum, tc) = key
        val fx = fracNum % numFracsX; val fy = fracNum / numFracsX
        val cx0 = fx * fracW; val cy0 = fy * fracH; val ct0 = tc * fracND
        val cw = math.min(fracW, gw - cx0)
        val ch = math.min(fracH, gh - cy0)
        val cnd = math.min(fracND, gnd - ct0)
        val data = Array.fill(cw * ch * cnd)(nodata)
        it.foreach { case (_, _, ax0, ay0, at0, bw, bh, bnd, payload) =>
          fillChunk(data, cw, cnd, cx0, cy0, ct0, ax0, ay0, at0, bw, bh, bnd,
            PayloadCodec.decodeDouble(payload, cd))
        }
        FracRowBytes(fracNum, tc, fx, fy, cx0, cy0, ct0, cw, ch, cnd,
          PayloadCodec.encodeDouble(data, dtype))
      }
    FractionStore.write(spark, header, rows.toDF(), outRoot)
    FractionStore.fractions(spark, outRoot).count()
  }

  /** Targeted repair (ST3, reload_fraction_worldgrid.py:51-124): rebuild
    * ONE (frac_num, time_chunk) chunk from replacement pixels, leaving
    * every other row of the partition untouched (dynamic partition
    * overwrite of just that time_chunk).
    */
  def reloadChunk(spark: SparkSession, root: String,
                  fracNum: Int, timeChunk: Int,
                  replacementPixels: DataFrame): Unit = {
    val header = GridHeader.load(spark, root)
    val keep = FractionStore.fractions(spark, root)
      .filter(col("time_chunk") === timeChunk && col("frac_num") =!= fracNum)
    val rebuilt = FractionStore.fromPixels(spark, header, replacementPixels)
      .filter(col("time_chunk") === timeChunk && col("frac_num") === fracNum)
    FractionStore.replaceTimeChunks(root, keep.unionByName(rebuilt))
  }
}
