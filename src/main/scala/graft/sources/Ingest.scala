package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.grid._

/** Bulk ingestion (reference: SRC4/SRC6/U3 —
  * create_ndvi_worldgrid.py:61-157's shared-memory pool choreography
  * becomes one declarative job: binaryFile scan -> per-partition decode
  * -> chunk shuffle -> partitioned parquet write) and the MODIS
  * filename parse (SRC5, datasources/modis.py:30-110).
  *
  * Blobs are named `<x0>_<y0>_<t0>.<ext>` for their grid origin. Blob
  * formats: NPY (the reference's own fraction serialization,
  * jgrid3.py:65-77), GeoTIFF (plain or gzipped), and HDF4 SDS
  * ([[Hdf4]] — the reference's MODIS input format, plain or
  * DEFLATE-compressed elements; datasets selectable by name like
  * modis.py:224-229). Each is one [[BlobDecoder]] that returns one box
  * per band; adding a format changes only the decoder.
  *
  * Every chunk-aligned ingest is one call of the one aligned path
  * ([[ingestAligned]]) with N bands: the single-band NPY, GeoTIFF and
  * HDF4 ingests are its one-band case, and
  * [[ingestHdf4DirAlignedMulti]] lands every band of a granule from one
  * archive pass. [[ingestNpyDir]] (pixel explode) is the independent
  * reference the aligned path is checked against.
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

  /** Ingest a directory of NPY pixel blobs into a fraction store.
    * Blob naming: `<x0>_<y0>_<t0>.npy`, each a dense [h, w, nd] C-order
    * array positioned at (x0, y0, t0) — the tile-window shape of the
    * reference's per-cell import (create_ndvi_worldgrid.py:129-148).
    *
    * One job: binaryFile scan -> decode (mapPartitions via explode of
    * decoded pixels) -> fromPixels chunk shuffle -> partitioned write.
    * It shares only the blob listing and decoding with
    * [[ingestAligned]], so it stays that path's independent reference.
    */
  def ingestNpyDir(spark: SparkSession, header: GridHeader,
                   blobDir: String, outRoot: String): Long = {
    import spark.implicits._
    val pixels = landingBlobs(spark, blobDir, "*.npy").flatMap { case (name, bytes) =>
      val (x0, y0, t0) = blobOrigin(name, ".npy")
      val Seq(Box(w, h, nd, data)) = NpyBlobDecoder(name, bytes)
      for {
        ly <- 0 until h; lx <- 0 until w; lt <- 0 until nd
      } yield (x0 + lx, y0 + ly, t0 + lt, data((ly * w + lx) * nd + lt))
    }.toDF("x", "y", "t", "value")
    val rows = FractionStore.fromPixels(spark, header, pixels)
    FractionStore.write(spark, header, rows, outRoot)
    FractionStore.fractions(spark, outRoot).count()
  }

  /** Chunk-aligned NPY ingest — the at-scale variant of
    * [[ingestNpyDir]], one band of [[ingestAligned]]. */
  def ingestNpyDirAligned(spark: SparkSession, header: GridHeader,
                          blobDir: String, outRoot: String): Long =
    ingestAligned(spark, blobDir, "*.npy", NpyBlobDecoder,
      Seq((header, outRoot))).head

  /** GeoTIFF landing-directory ingest (the writer's format family, so a
    * store exported tile-by-tile re-ingests losslessly). Blob naming
    * mirrors the NPY path: `<x0>_<y0>_<t0>.tif`, one time plane each. */
  def ingestGeoTiffDirAligned(spark: SparkSession, header: GridHeader,
                              blobDir: String, outRoot: String): Long =
    ingestAligned(spark, blobDir, "*.tif", GeoTiffBlobDecoder,
      Seq((header, outRoot))).head

  /** Gzipped GeoTIFF ingest (SRC6: GLCF tiles arrive `.tif.gz` and the
    * reference gunzips before GDAL, create_glcf_worldgrid.py:39-59;
    * here the gunzip happens streaming inside the decode task). */
  def ingestGeoTiffGzDirAligned(spark: SparkSession, header: GridHeader,
                                blobDir: String, outRoot: String): Long =
    ingestAligned(spark, blobDir, "*.tif.gz", GzipBlobDecoder(GeoTiffBlobDecoder),
      Seq((header, outRoot))).head

  /** HDF4 SDS landing-directory ingest (SRC4): `<x0>_<y0>_<t0>.hdf`,
    * one [h, w] plane or [h, w, nd] box per blob; `datasetName` picks
    * the labeled dataset the way the reference selects "250m 16 days
    * NDVI" vs "VI Quality" from one archive (modis.py:205-229), see
    * [[Hdf4.selectByName]]; None takes the archive's first dataset. */
  def ingestHdf4DirAligned(spark: SparkSession, header: GridHeader,
                           blobDir: String, outRoot: String,
                           datasetName: Option[String] = None): Long =
    ingestAligned(spark, blobDir, "*.hdf", Hdf4BlobDecoder(Seq(datasetName)),
      Seq((header, outRoot))).head

  /** Multi-band HDF4 ingest: every archive is read and parsed ONCE and
    * each labeled dataset `(header, datasetName, outRoot)` lands in its
    * own store — the reference's granule semantics (modis.py imports
    * "250m 16 days NDVI" and "...VI Quality" from the same file), at
    * 1/N the ingest I/O and parsing of N per-band calls. Bands share
    * the geogrid and time axis; dtype and nodata may differ per band.
    * Returns per-band chunk counts in `bands` order. */
  def ingestHdf4DirAlignedMulti(spark: SparkSession, blobDir: String,
      bands: Seq[(GridHeader, String, String)]): Seq[Long] =
    ingestAligned(spark, blobDir, "*.hdf",
      Hdf4BlobDecoder(bands.map(b => Some(b._2))), bands.map(b => (b._1, b._3)))

  /** One decoded band of a blob: shape (w, h, nd) and dense C-order
    * [y][x][t] doubles. */
  final case class Box(w: Int, h: Int, nd: Int, data: Array[Double])

  /** Decodes one landing blob to one [[Box]] per band; every box sits at
    * the grid origin the blob's name gives ([[blobOrigin]]). */
  trait BlobDecoder extends Serializable {
    def apply(name: String, bytes: Array[Byte]): Seq[Box]
  }

  object NpyBlobDecoder extends BlobDecoder {
    def apply(name: String, bytes: Array[Byte]): Seq[Box] = {
      val npy = NpyCodec.read(bytes)
      val Seq(h, w, nd) = npy.shape
      Seq(Box(w, h, nd, npy.data))
    }
  }

  object GeoTiffBlobDecoder extends BlobDecoder {
    def apply(name: String, bytes: Array[Byte]): Seq[Box] = {
      val r = GeoTiff.read(bytes)
      // single 2D plane: [y][x] is already [y][x][t] with nd = 1
      Seq(Box(r.width, r.height, 1, r.data))
    }
  }

  /** One box per requested dataset, from ONE parse of the archive;
    * None takes the archive's first dataset. */
  final case class Hdf4BlobDecoder(datasets: Seq[Option[String]])
      extends BlobDecoder {
    def apply(name: String, bytes: Array[Byte]): Seq[Box] = {
      val all = Hdf4.readSds(bytes)
      datasets.map { ds =>
        val sds = ds match {
          case Some(n) => Hdf4.select(all, n).getOrElse(sys.error(
            s"no dataset named '$n' in $name; it holds " +
              all.map(s => s"'${s.name}'").mkString(", ")))
          case None => all.headOption.getOrElse(sys.error(s"no SDS in $name"))
        }
        sds.dims match {
          case Seq(h, w)     => Box(w, h, 1, sds.data)
          case Seq(h, w, nd) => Box(w, h, nd, sds.data)
          case d => sys.error(s"unsupported SDS rank ${d.length} in $name")
        }
      }
    }
  }

  /** Gunzip wrapper around any [[BlobDecoder]]: inflates the blob
    * (stdlib GZIPInputStream) and strips the `.gz` suffix before
    * delegating, so `<x0>_<y0>_<t0>.tif.gz` decodes like its plain
    * twin. */
  final case class GzipBlobDecoder(inner: BlobDecoder) extends BlobDecoder {
    def apply(name: String, bytes: Array[Byte]): Seq[Box] = {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val raw = try in.readAllBytes() finally in.close()
      inner(name.stripSuffix(".gz"), raw)
    }
  }

  /** Grid origin (x0, y0, t0) of a landing blob named
    * `<x0>_<y0>_<t0><ext>`. */
  private def blobOrigin(name: String, ext: String): (Int, Int, Int) =
    name.stripSuffix(ext).split("_").map(_.toIntOption) match {
      case Array(Some(x0), Some(y0), Some(t0)) => (x0, y0, t0)
      case _ => throw new IllegalArgumentException(
        s"blob '$name' is not named <x0>_<y0>_<t0>$ext")
    }

  /** (file name, content) of every blob matching `glob` in `blobDir`. */
  private def landingBlobs(spark: SparkSession, blobDir: String,
                           glob: String): Dataset[(String, Array[Byte])] = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob).load(blobDir)
      .select(element_at(split(col("path"), "/"), -1).as("name"),
        col("content"))
      .as[(String, Array[Byte])]
  }

  /** The chunk-aligned ingest, for N bands: instead of exploding blobs
    * to pixel rows (a w*h*nd-row shuffle per blob), each band of each
    * blob is split map-side into the PACKED sub-boxes it contributes to
    * each overlapped chunk, and the shuffle carries one (band, chunk
    * key, packed bytes) record per (band, blob, chunk) intersection —
    * for a typical tile import that is ~100x fewer shuffled bytes and
    * ~10^5x fewer shuffled rows. The reducer assembles each chunk from
    * its sub-boxes (nodata-filled where no blob covers it), exactly the
    * reference's shared-buffer import choreography
    * (create_ndvi_worldgrid.py:129-148) as a relational groupByKey.
    *
    * A blob reaching outside the grid is rejected, naming the blob and
    * the grid: its sub-boxes would otherwise land in neighbouring
    * pixels' series. With several bands the assembled rows persist
    * once, so the per-store writes re-read nothing. Returns per-band
    * chunk counts in `bands` order.
    */
  private def ingestAligned(spark: SparkSession, blobDir: String,
                            glob: String, decode: BlobDecoder,
                            bands: Seq[(GridHeader, String)]): Seq[Long] = {
    import spark.implicits._
    require(bands.nonEmpty)
    val h0 = bands.head._1
    val g = h0.chunkGrid
    require(bands.forall(b => b._1.sameGeogrid(h0) && b._1.chunkGrid == g),
      "multi-band ingest needs one shared geogrid and time axis")
    val ext = glob.stripPrefix("*")
    val names = bands.map(_._1.name)
    val dtypes = bands.map(_._1.dtype)
    val codes = dtypes.map(PayloadCodec.code)
    val nodatas = bands.map(_._1.nodata)

    val subBoxes = landingBlobs(spark, blobDir, glob).flatMap { case (name, bytes) =>
      val (x0, y0, t0) = blobOrigin(name, ext)
      decode(name, bytes).iterator.zipWithIndex.flatMap { case (box, b) =>
        if (x0 < 0 || y0 < 0 || t0 < 0 || x0 + box.w > g.width ||
            y0 + box.h > g.height || t0 + box.nd > g.nDates)
          throw new IllegalArgumentException(
            s"blob '$name' (x=[$x0, ${x0 + box.w}), y=[$y0, ${y0 + box.h}), " +
              s"t=[$t0, ${t0 + box.nd})) lies outside grid '${names(b)}' of " +
              s"${g.width} x ${g.height} px and ${g.nDates} dates")
        for {
          fracNum <- g.fracsForRectXY(x0, x0 + box.w, y0, y0 + box.h).iterator
          tc <- g.timeChunksForRange(t0, t0 + box.nd)
        } yield {
          val (cx0, cx1) = g.fracXRange(g.fracX(fracNum))
          val (cy0, cy1) = g.fracYRange(g.fracY(fracNum))
          val (ct0, ct1) = g.timeChunkRange(tc)
          val (ax0, ay0, at0) =
            (math.max(x0, cx0), math.max(y0, cy0), math.max(t0, ct0))
          val (bw, bh, bnd) = (math.min(x0 + box.w, cx1) - ax0,
            math.min(y0 + box.h, cy1) - ay0, math.min(t0 + box.nd, ct1) - at0)
          val sub = copySubBox(box, x0, y0, t0, ax0, ay0, at0, bw, bh, bnd)
          (b, fracNum, tc, ax0, ay0, at0, bw, bh, bnd,
            PayloadCodec.encodeDouble(sub, dtypes(b)))
        }
      }
    }
    val rows = subBoxes
      .groupByKey(r => (r._1, r._2, r._3))
      .mapGroups { (key: (Int, Int, Int),
                    it: Iterator[(Int, Int, Int, Int, Int, Int, Int, Int, Int, Array[Byte])]) =>
        val (band, fracNum, tc) = key
        val (fx, fy) = (g.fracX(fracNum), g.fracY(fracNum))
        val (cx0, cx1) = g.fracXRange(fx)
        val (cy0, cy1) = g.fracYRange(fy)
        val (ct0, ct1) = g.timeChunkRange(tc)
        val (cw, ch, cnd) = (cx1 - cx0, cy1 - cy0, ct1 - ct0)
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
    if (bands.size > 1)
      rows.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      bands.zipWithIndex.map { case ((h, outRoot), b) =>
        FractionStore.write(spark, h,
          rows.filter(col("band") === b).drop("band"), outRoot)
        FractionStore.fractions(spark, outRoot).count()
      }
    } finally rows.unpersist()
  }

  /** Copy the [ay0, ay0+bh) x [ax0, ax0+bw) x [at0, at0+bnd) sub-box of
    * a box anchored at (x0, y0, t0). */
  private def copySubBox(box: Box, x0: Int, y0: Int, t0: Int,
                         ax0: Int, ay0: Int, at0: Int,
                         bw: Int, bh: Int, bnd: Int): Array[Double] = {
    val sub = new Array[Double](bw * bh * bnd)
    var i = 0; var ly = 0
    while (ly < bh) {
      var lx = 0
      while (lx < bw) {
        var lt = 0
        while (lt < bnd) {
          sub(i) = box.data(((ay0 - y0 + ly) * box.w + (ax0 - x0 + lx)) * box.nd
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
