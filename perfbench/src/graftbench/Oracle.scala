package graftbench

import scala.collection.parallel.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** The generator's cube held in memory, one plane per date ([y][x]),
  * so oracle answers over large windows are array scans. */
final class Cube(val gen: Gen) {
  val spec: Spec = gen.spec
  val w: Int = spec.width
  val h: Int = spec.height
  val ndvi: Array[Array[Short]] = Array.ofDim[Short](spec.allDates, w * h)
  val qa: Array[Array[Short]] = Array.ofDim[Short](spec.allDates, w * h)

  (0 until spec.allDates).par.foreach { t =>
    val n = ndvi(t); val q = qa(t)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        n(y * w + x) = gen.ndvi(x, y, t).toShort
        q(y * w + x) = gen.qa(x, y, t).toShort
        x += 1
      }
      y += 1
    }
  }

  /** NDVI at (x, y, t), or None for nodata. */
  @inline def v(x: Int, y: Int, t: Int): Int = ndvi(t)(y * w + x)
  @inline def q(x: Int, y: Int, t: Int): Int = qa(t)(y * w + x) & 0xffff
  @inline def valid(x: Int, y: Int, t: Int): Boolean = v(x, y, t) != Gen.NdviNodata
  @inline def clear(x: Int, y: Int, t: Int): Boolean = gen.clear(q(x, y, t))

  /** The band plane as doubles, for the HDF4 landing files. */
  def plane(band: Int, t: Int): Array[Double] = {
    val src = if (band == 0) ndvi(t) else qa(t)
    val out = new Array[Double](w * h)
    var i = 0
    while (i < out.length) {
      out(i) = if (band == 0) src(i).toDouble else (src(i) & 0xffff).toDouble
      i += 1
    }
    out
  }
}

/** Order-independent digest of a result set: row count plus the
  * wrapping sum of a hash of each row's fields, with each double
  * snapped to a stated grid first. Engine rows and oracle rows go
  * through the same encoding. */
final class Digest(val rows: Long, val sum: Long) extends Serializable {
  def +(o: Digest): Digest = new Digest(rows + o.rows, sum + o.sum)
  override def equals(o: Any): Boolean = o match {
    case d: Digest => d.rows == rows && d.sum == sum
    case _ => false
  }
  override def hashCode: Int = (rows * 31 + sum).toInt
  override def toString: String = s"rows=$rows sum=$sum"
}

object Digest {
  val Null: Long = Long.MinValue + 12345

  def zero: Digest = new Digest(0, 0)

  /** Hash of one row's encoded fields. */
  def rowHash(fields: Array[Long]): Long = {
    var hsh = 0x2545F4914F6CDD1DL
    var i = 0
    while (i < fields.length) { hsh = Gen.mix(hsh, fields(i)); i += 1 }
    hsh
  }

  def snap(v: Double, quantum: Double): Long = math.round(v / quantum)

  /** Digest of an engine result, folded inside the tasks that produce
    * it: the whole result is consumed, and only the digest leaves the
    * executors. Doubles snap to `quantum`; nulls encode as [[Null]]. */
  def of(df: DataFrame, quantum: Double): Digest = {
    val types = df.schema.fields.map(_.dataType)
    df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L; var s = 0L
      val f = new Array[Long](types.length)
      it.foreach { r =>
        encode(r, types, quantum, f)
        n += 1; s += rowHash(f)
      }
      Iterator(new Digest(n, s))
    }.fold(zero)(_ + _)
  }

  def encode(r: InternalRow, types: Array[DataType], quantum: Double,
             out: Array[Long]): Unit = {
    var i = 0
    while (i < types.length) {
      out(i) =
        if (r.isNullAt(i)) Null
        else types(i) match {
          case IntegerType => r.getInt(i).toLong
          case LongType => r.getLong(i)
          case DoubleType => snap(r.getDouble(i), quantum)
          case FloatType => snap(r.getFloat(i).toDouble, quantum)
          case StringType => r.getUTF8String(i).toString.hashCode.toLong
          case other => sys.error(s"digest: unsupported column type $other")
        }
      i += 1
    }
  }
}

/** Checks of stored chunks against the generator. */
object StoreCheck {

  /** Compare every chunk row of a store with the generator: the chunk
    * set must be exactly the full (frac, time chunk) grid for `nDates`,
    * each row placed and sized by the chunking, and every stored value
    * equal to the generator's. Runs as a Spark job over the store's
    * parquet files with the benchmark's own payload decoder. Returns the
    * problems found (empty when the store is correct). */
  def check(spark: SparkSession, root: String, gen: Gen, band: Int,
            nDates: Int): Seq[String] = {
    val sp = gen.spec
    val expected = (for {
      fy <- 0 until sp.fracsY; fx <- 0 until sp.fracsX
      tc <- 0 until sp.timeChunks(nDates)
    } yield (fy * sp.fracsX + fx, tc)).toSet
    val rows = spark.read.parquet(s"$root/jdata")
      .select(col("frac_num"), col("time_chunk"), col("frac_x"), col("frac_y"),
        col("x0"), col("y0"), col("t0"), col("w"), col("h"), col("nd"), col("data"))
      .rdd.map { r =>
        val fn = r.getInt(0); val tc = r.getInt(1)
        val fx = r.getInt(2); val fy = r.getInt(3)
        val (x0, y0, t0) = (r.getInt(4), r.getInt(5), r.getInt(6))
        val (w, h, nd) = (r.getInt(7), r.getInt(8), r.getInt(9))
        val data = r.getAs[Array[Byte]](10)
        val ew = math.min(sp.frac, sp.width - fx * sp.frac)
        val eh = math.min(sp.frac, sp.height - fy * sp.frac)
        val end = math.min(sp.fracND, nDates - tc * sp.fracND)
        val placed = fn == fy * sp.fracsX + fx && x0 == fx * sp.frac &&
          y0 == fy * sp.frac && t0 == tc * sp.fracND && w == ew && h == eh &&
          nd == end && data.length == 2 * w * h * nd
        var bad = if (placed) 0L else 1L
        if (placed) {
          var i = 0
          while (i < w * h * nd) {
            val raw = ((data(2 * i + 1) & 0xff) << 8) | (data(2 * i) & 0xff)
            val got = if (band == 1) raw else raw.toShort.toInt
            val pix = i / nd
            if (got != gen.band(band, x0 + pix % w, y0 + pix / w, t0 + i % nd))
              bad += 1
            i += 1
          }
        }
        ((fn, tc), bad)
      }.collect()
    val problems = Seq.newBuilder[String]
    val keys = rows.map(_._1)
    if (keys.length != keys.distinct.length)
      problems += s"$root: ${keys.length - keys.distinct.length} duplicate chunk rows"
    val missing = expected -- keys
    if (missing.nonEmpty) problems += s"$root: ${missing.size} chunks missing"
    val extra = keys.toSet -- expected
    if (extra.nonEmpty) problems += s"$root: ${extra.size} unexpected chunks"
    val badChunks = rows.filter(_._2 > 0)
    if (badChunks.nonEmpty)
      problems += s"$root: ${badChunks.length} chunks differ from the generator " +
        s"(${badChunks.map(_._2).sum} values), e.g. chunk ${badChunks.head._1}"
    problems.result()
  }
}
