package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

/** Minimal NPY (numpy `.npy` v1.0) reader/writer for the dtypes the
  * reference stores (reference: SRC1 legacy fraction blobs are `np.save`
  * files — rastercube/jgrid/jgrid3.py:50-77). Format per the public NEP
  * spec: magic "\\x93NUMPY", version, little-endian header length, then
  * a Python-dict header `{'descr': '<i2', 'fortran_order': False,
  * 'shape': (h, w, t)}` padded to 64 bytes, then raw C-order data.
  *
  * Supports `<i2` (int16), `<u2` (uint16), `|u1` (uint8), `<i4`
  * (int32), `<f4` (float32), `<f8` (float64). Values surface as doubles
  * (exact for all supported types).
  */
object NpyCodec {

  final case class Npy(descr: String, shape: Seq[Int], data: Array[Double])

  private val Magic = Array[Byte](0x93.toByte, 'N', 'U', 'M', 'P', 'Y')

  def read(bytes: Array[Byte]): Npy = {
    require(bytes.length > 10 && Magic.indices.forall(i => bytes(i) == Magic(i)),
      "not an NPY file")
    val major = bytes(6)
    val headerLen =
      if (major == 1) ((bytes(9) & 0xff) << 8) | (bytes(8) & 0xff)
      else ByteBuffer.wrap(bytes, 8, 4).order(ByteOrder.LITTLE_ENDIAN).getInt
    val headerStart = if (major == 1) 10 else 12
    val header = new String(bytes, headerStart, headerLen, "ASCII")
    val descr = "'descr':\\s*'([^']+)'".r.findFirstMatchIn(header)
      .map(_.group(1)).getOrElse(sys.error(s"no descr in $header"))
    val fortran = "'fortran_order':\\s*(True|False)".r
      .findFirstMatchIn(header).map(_.group(1)).contains("True")
    require(!fortran, "fortran_order arrays not supported")
    val shape = "'shape':\\s*\\(([^)]*)\\)".r.findFirstMatchIn(header)
      .map(_.group(1)).getOrElse(sys.error(s"no shape in $header"))
      .split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq
    val n = shape.product
    val buf = ByteBuffer.wrap(bytes, headerStart + headerLen,
      bytes.length - headerStart - headerLen).order(ByteOrder.LITTLE_ENDIAN)
    val out = new Array[Double](n)
    descr match {
      case "<i2" => val b = buf.asShortBuffer()
        var i = 0; while (i < n) { out(i) = b.get(i).toDouble; i += 1 }
      case "<u2" => val b = buf.asShortBuffer()
        var i = 0; while (i < n) { out(i) = (b.get(i) & 0xffff).toDouble; i += 1 }
      case "|u1" =>
        var i = 0
        while (i < n) { out(i) = (buf.get(buf.position() + i) & 0xff).toDouble; i += 1 }
      case "<i4" => val b = buf.asIntBuffer()
        var i = 0; while (i < n) { out(i) = b.get(i).toDouble; i += 1 }
      case "<f4" => val b = buf.asFloatBuffer()
        var i = 0; while (i < n) { out(i) = b.get(i).toDouble; i += 1 }
      case "<f8" => val b = buf.asDoubleBuffer()
        var i = 0; while (i < n) { out(i) = b.get(i); i += 1 }
      case d => sys.error(s"unsupported npy descr: $d")
    }
    Npy(descr, shape, out)
  }

  def write(descr: String, shape: Seq[Int], data: Array[Double]): Array[Byte] = {
    val n = shape.product
    require(data.length == n)
    val shapeStr = shape.mkString("(", ", ", if (shape.length == 1) ",)" else ")")
    var header = s"{'descr': '$descr', 'fortran_order': False, " +
      s"'shape': $shapeStr, }"
    val total = 10 + header.length + 1
    val pad = (64 - total % 64) % 64
    header = header + " " * pad + "\n"
    val elemSize = descr match {
      case "<i2" | "<u2" => 2
      case "|u1" => 1
      case "<f4" | "<i4" => 4
      case "<f8" => 8
    }
    val buf = ByteBuffer.allocate(10 + header.length + n * elemSize)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.put(Magic).put(1.toByte).put(0.toByte)
      .putShort(header.length.toShort)
    buf.put(header.getBytes("ASCII"))
    descr match {
      case "<i2" => data.foreach(v => buf.putShort(v.toShort))
      case "<u2" => data.foreach(v => buf.putShort((v.toInt & 0xffff).toShort))
      case "|u1" => data.foreach(v => buf.put((v.toInt & 0xff).toByte))
      case "<i4" => data.foreach(v => buf.putInt(v.toInt))
      case "<f4" => data.foreach(v => buf.putFloat(v.toFloat))
      case "<f8" => data.foreach(v => buf.putDouble(v))
    }
    buf.array()
  }
}
