package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

/** Minimal HDF4 scientific-dataset (SDS) reader/writer (reference:
  * SRC4 — the reference opens MODIS `.hdf` archives through GDAL and
  * selects subdatasets by name, rastercube/datasources/modis.py:205-229;
  * here the classic HDF4 DFSD layout is implemented directly from the
  * public HDF 4.2 specification, matching this repo's hand-written
  * TIFF/NPY/shapefile ethos).
  *
  * Supported subset: big-endian SDS — data descriptor (DD) block
  * chain, numeric-data groups (DFTAG_NDG) tying a dimension record
  * (DFTAG_SDD) + number type (DFTAG_NT) + raw data (DFTAG_SD), with
  * optional dataset-name labels (DFTAG_DIL) so datasets are selectable
  * by name exactly like the reference's
  * `load_gdal_dataset("250m 16 days NDVI")`. Data elements may be
  * PLAIN (raw bytes at the DD offset) or DEFLATE-COMPRESSED special
  * elements — the layout real MODIS archives use: the DD carries the
  * extended tag (DFTAG_SD | 0x4000) whose content is a SPECIAL_COMP
  * header (special code u16 = 3, header version u16, uncompressed
  * length i32, compressed-data ref u16, model type u16 = stdio,
  * compression code u16 = 4 for deflate, deflate level u16), pointing
  * at a DFTAG_COMPRESSED element holding one zlib stream. Linked-block
  * and chunked special elements (rare in MOD13 archives) are rejected
  * with a clear error.
  *
  * HDF4 numeric data is big-endian (class DFNTC_HDF); DFNT type codes
  * per the spec: 5 float32, 6 float64, 21 uint8, 22 int16, 23 uint16,
  * 24 int32.
  */
object Hdf4 {

  private val Magic = Array[Byte](0x0e, 0x03, 0x13, 0x01)
  private val TagNT = 106
  private val TagDIL = 104
  private val TagSDD = 701
  private val TagSD = 702
  private val TagNDG = 720
  private val TagCompressed = 40 // DFTAG_COMPRESSED: the raw zlib stream
  private val SpecialBit = 0x4000 // extended-tag bit marking special elements
  private val SpecialComp = 3 // SPECIAL_COMP special-element code
  private val CompCodeDeflate = 4 // COMP_CODE_DEFLATE
  private val CompHeaderVersion = 0

  private val dfntOf = Map("float32" -> 5, "float64" -> 6, "uint8" -> 21,
    "int16" -> 22, "uint16" -> 23, "int32" -> 24)
  private val dtypeOf = dfntOf.map(_.swap)

  final case class Sds(name: String, dims: Seq[Int], dtype: String,
                       data: Array[Double])

  private final case class Dd(tag: Int, ref: Int, offset: Int, length: Int)

  /** All SDS datasets in the file, in NDG order. */
  def readSds(bytes: Array[Byte]): Seq[Sds] = {
    require(bytes.length > 8 && Magic.indices.forall(i => bytes(i) == Magic(i)),
      "not an HDF4 file")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    // DD block chain
    val dds = scala.collection.mutable.ArrayBuffer[Dd]()
    var block = 4
    while (block != 0) {
      val ndd = bb.getShort(block) & 0xffff
      val next = bb.getInt(block + 2)
      (0 until ndd).foreach { i =>
        val off = block + 6 + 12 * i
        val tag = bb.getShort(off) & 0xffff
        if (tag != 0) // DFTAG_NULL fills unused slots
          dds += Dd(tag, bb.getShort(off + 2) & 0xffff,
            bb.getInt(off + 4), bb.getInt(off + 8))
      }
      block = next
    }
    def find(tag: Int, ref: Int): Option[Dd] =
      dds.find(d => d.tag == tag && d.ref == ref)
    // labels: DIL content = (target tag, target ref, label bytes)
    val labels = dds.filter(_.tag == TagDIL).map { d =>
      val t = bb.getShort(d.offset) & 0xffff
      val r = bb.getShort(d.offset + 2) & 0xffff
      ((t, r), new String(bytes, d.offset + 4, d.length - 4, "ASCII"))
    }.toMap

    dds.filter(_.tag == TagNDG).map { g =>
      // group content: (tag, ref) pairs
      val members = (0 until g.length / 4).map { i =>
        (bb.getShort(g.offset + 4 * i) & 0xffff,
          bb.getShort(g.offset + 4 * i + 2) & 0xffff)
      }
      val sdd = members.collectFirst { case (TagSDD, r) => find(TagSDD, r).get }
        .getOrElse(sys.error(s"NDG ref ${g.ref} lacks a dimension record"))
      // the data element: plain DFTAG_SD, or its extended-tag twin when
      // the element is special (compressed MODIS archives)
      val sd = members.collectFirst { case (TagSD, r) =>
        find(TagSD, r).orElse(find(TagSD | SpecialBit, r)).get
      }.getOrElse(sys.error(s"NDG ref ${g.ref} lacks a data element"))
      // dimension record: rank u16, dims u32[rank], (tag,ref) of data NT,
      // then per-dim scale NTs (ignored here, like the reference)
      val rank = bb.getShort(sdd.offset) & 0xffff
      val dims = (0 until rank).map(i => bb.getInt(sdd.offset + 2 + 4 * i))
      val ntRef = bb.getShort(sdd.offset + 2 + 4 * rank + 2) & 0xffff
      val nt = find(TagNT, ntRef)
        .getOrElse(sys.error(s"NDG ref ${g.ref}: missing number type $ntRef"))
      val dfnt = bytes(nt.offset + 1) & 0xff
      val dtype = dtypeOf.getOrElse(dfnt,
        sys.error(s"unsupported DFNT type $dfnt"))
      // resolve the element payload: raw bytes in place, or inflate the
      // DFTAG_COMPRESSED stream a SPECIAL_COMP header points at
      val (payload, d) =
        if ((sd.tag & SpecialBit) == 0) (bytes, sd.offset)
        else {
          val code = bb.getShort(sd.offset) & 0xffff
          require(code == SpecialComp,
            s"unsupported HDF4 special element code $code (only " +
              s"SPECIAL_COMP=$SpecialComp compressed elements are handled)")
          val uncompLen = bb.getInt(sd.offset + 4)
          val compRef = bb.getShort(sd.offset + 8) & 0xffff
          val compType = bb.getShort(sd.offset + 12) & 0xffff
          require(compType == CompCodeDeflate,
            s"unsupported HDF4 compression code $compType (deflate only)")
          val cdd = find(TagCompressed, compRef).getOrElse(
            sys.error(s"NDG ref ${g.ref}: missing compressed element $compRef"))
          (inflate(bytes, cdd.offset, cdd.length, uncompLen), 0)
        }
      val pb = ByteBuffer.wrap(payload).order(ByteOrder.BIG_ENDIAN)
      val n = dims.product
      val data = new Array[Double](n)
      var i = 0
      dtype match {
        case "uint8" =>
          while (i < n) { data(i) = (payload(d + i) & 0xff).toDouble; i += 1 }
        case "int16" =>
          while (i < n) { data(i) = pb.getShort(d + 2 * i).toDouble; i += 1 }
        case "uint16" =>
          while (i < n) { data(i) = (pb.getShort(d + 2 * i) & 0xffff).toDouble; i += 1 }
        case "int32" =>
          while (i < n) { data(i) = pb.getInt(d + 4 * i).toDouble; i += 1 }
        case "float32" =>
          while (i < n) { data(i) = pb.getFloat(d + 4 * i).toDouble; i += 1 }
        case "float64" =>
          while (i < n) { data(i) = pb.getDouble(d + 8 * i); i += 1 }
      }
      Sds(labels.getOrElse((TagNDG, g.ref), ""), dims, dtype, data)
    }.toSeq
  }

  /** The dataset labeled `name` — the reference's subdataset selection
    * (modis.py:224-229); see [[select]]. */
  def selectByName(bytes: Array[Byte], name: String): Option[Sds] =
    select(readSds(bytes), name)

  /** The dataset of `all` whose label is exactly `name`, else the one
    * dataset whose label contains it; None when no label contains it.
    * A name contained in several labels (in a MOD13Q1 archive "VI" is
    * in both "250m 16 days NDVI" and "250m 16 days EVI") is rejected,
    * naming the candidates. */
  private[sources] def select(all: Seq[Sds], name: String): Option[Sds] =
    all.find(_.name == name).orElse {
      all.filter(_.name.contains(name)) match {
        case Seq() => None
        case Seq(one) => Some(one)
        case many => throw new IllegalArgumentException(
          s"dataset name '$name' is ambiguous: it matches " +
            many.map(s => s"'${s.name}'").mkString(", "))
      }
    }

  /** Inflate one zlib stream of known uncompressed size. */
  private def inflate(src: Array[Byte], off: Int, len: Int,
                      outLen: Int): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(src, off, len)
    val out = new Array[Byte](outLen)
    var done = 0
    while (done < outLen && !inf.finished()) {
      val k = inf.inflate(out, done, outLen - done)
      if (k == 0 && inf.needsInput())
        sys.error("truncated HDF4 compressed element")
      done += k
    }
    inf.end()
    require(done == outLen,
      s"HDF4 compressed element inflated to $done bytes, expected $outLen")
    out
  }

  /** Write datasets as a minimal classic HDF4 file (one DD block,
    * big-endian data) — the fixture/export twin of [[readSds]].
    * `deflateLevel` 0 writes plain DFTAG_SD elements; 1-9 writes each
    * data element as a SPECIAL_COMP + DFTAG_COMPRESSED pair, the layout
    * of real (GDAL-written) MODIS archives. */
  def writeSds(datasets: Seq[Sds], deflateLevel: Int = 0): Array[Byte] = {
    // per dataset: NT, SDD, SD, NDG (+ DIL if named); one DD block
    val entries = scala.collection.mutable.ArrayBuffer[(Int, Int, Array[Byte])]()
    datasets.zipWithIndex.foreach { case (s, idx) =>
      val ref = idx + 1
      val dfnt = dfntOf.getOrElse(s.dtype, sys.error(s"dtype ${s.dtype}"))
      val width = s.dtype match {
        case "uint8" => 8
        case "int16" | "uint16" => 16
        case "int32" | "float32" => 32
        case "float64" => 64
      }
      // NT record: version 1, type, bit width, class 0 (DFNTC_HDF)
      entries += ((TagNT, ref,
        Array(1.toByte, dfnt.toByte, width.toByte, 0.toByte)))
      // SDD: rank, dims, data NT (tag,ref), per-dim scale NT (tag,ref)
      val sdd = ByteBuffer.allocate(2 + 4 * s.dims.length
          + 4 + 4 * s.dims.length).order(ByteOrder.BIG_ENDIAN)
      sdd.putShort(s.dims.length.toShort)
      s.dims.foreach(sdd.putInt)
      sdd.putShort(TagNT.toShort).putShort(ref.toShort)
      s.dims.foreach { _ =>
        sdd.putShort(TagNT.toShort).putShort(ref.toShort)
      }
      entries += ((TagSDD, ref, sdd.array()))
      // SD: big-endian packed data
      val n = s.dims.product
      require(s.data.length == n, s"data length vs dims $n")
      val elem = width / 8
      val sd = ByteBuffer.allocate(n * elem).order(ByteOrder.BIG_ENDIAN)
      s.data.foreach { v =>
        s.dtype match {
          case "uint8" => sd.put((v.toInt & 0xff).toByte)
          case "int16" => sd.putShort(v.toShort)
          case "uint16" => sd.putShort((v.toInt & 0xffff).toShort)
          case "int32" => sd.putInt(v.toInt)
          case "float32" => sd.putFloat(v.toFloat)
          case "float64" => sd.putDouble(v)
        }
      }
      if (deflateLevel == 0) entries += ((TagSD, ref, sd.array()))
      else {
        val defl = new java.util.zip.Deflater(deflateLevel)
        defl.setInput(sd.array())
        defl.finish()
        val buf = new Array[Byte](sd.array().length + 64)
        val outBuf = scala.collection.mutable.ArrayBuffer[Byte]()
        while (!defl.finished())
          outBuf ++= buf.take(defl.deflate(buf))
        defl.end()
        entries += ((TagCompressed, ref, outBuf.toArray))
        val hdr = ByteBuffer.allocate(16).order(ByteOrder.BIG_ENDIAN)
        hdr.putShort(SpecialComp.toShort)
          .putShort(CompHeaderVersion.toShort)
          .putInt(sd.array().length)
          .putShort(ref.toShort) // compressed-data ref (shared numbering)
          .putShort(0.toShort) // COMP_MODEL_STDIO
          .putShort(CompCodeDeflate.toShort)
          .putShort(deflateLevel.toShort)
        entries += ((TagSD | SpecialBit, ref, hdr.array()))
      }
      // NDG group: members (SDD, SD)
      val ndg = ByteBuffer.allocate(8).order(ByteOrder.BIG_ENDIAN)
      ndg.putShort(TagSDD.toShort).putShort(ref.toShort)
      ndg.putShort(TagSD.toShort).putShort(ref.toShort)
      entries += ((TagNDG, ref, ndg.array()))
      if (s.name.nonEmpty) {
        val nb = s.name.getBytes("ASCII")
        val dil = ByteBuffer.allocate(4 + nb.length).order(ByteOrder.BIG_ENDIAN)
        dil.putShort(TagNDG.toShort).putShort(ref.toShort).put(nb)
        entries += ((TagDIL, ref, dil.array()))
      }
    }
    val headerLen = 4 + 2 + 4 + 12 * entries.length
    var dataOff = headerLen
    val placed = entries.map { case (tag, ref, payload) =>
      val off = dataOff
      dataOff += payload.length
      (tag, ref, off, payload)
    }
    val out = ByteBuffer.allocate(dataOff).order(ByteOrder.BIG_ENDIAN)
    out.put(Magic)
    out.putShort(entries.length.toShort).putInt(0) // single DD block
    placed.foreach { case (tag, ref, off, payload) =>
      out.putShort(tag.toShort).putShort(ref.toShort)
        .putInt(off).putInt(payload.length)
    }
    placed.foreach { case (_, _, _, payload) => out.put(payload) }
    out.array()
  }
}
