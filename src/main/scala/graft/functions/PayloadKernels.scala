package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._

import graft.grid.{PayloadCodec, RegionIntervals}

/** Fused chunk-payload kernels: decode + map + reduce in ONE call per
  * chunk row, never materializing the pixel rows.
  *
  * The exploded pixel view (`FractionStore.pixels`) is the right shape
  * for ad-hoc relational queries, but a whole-store scan kernel pays
  * ~10^8 row transitions for what is arithmetic over packed int16/uint16
  * buffers. The reference hit the same wall in Python and moved the QA
  * decode to a Cython+OpenMP kernel (modis_qa.pyx:105-120, "takes a long
  * time" otherwise); the Spark-native equivalent is a custom Catalyst
  * expression whose generated code hands the payload bytes to a compiled
  * fold — one call per CHUNK (~10^5 px), not per pixel. Parallelism
  * comes from Spark's task scheduling over chunk rows, the moral
  * equivalent of the reference's OpenMP loop, except it also distributes
  * across executors.
  *
  * Two expressions carry every kernel: [[QaConfStatsExpr]] folds a whole
  * QA payload, and [[ChunkKernelExpr]] runs one windowed [[ChunkKernel]]
  * (box stats, QA-masked box stats, per-pixel trend, per-pixel CUSUM,
  * per-region zonal stats) over a chunk row's payloads and geometry. A
  * kernel supplies only its per-chunk fold; the payload-size check and
  * the chunk∩window clip ([[ChunkWindow]]) are shared.
  *
  * The speedup is RECORDED, not claimed: Bench times the exploded and
  * fused paths back-to-back in the same process (the
  * `grid_qa_decode_{exploded,fused}` / `grid_window_load_{exploded,
  * fused}` entry pairs, wall + executor-CPU seconds) so each round's
  * BENCH json carries the measured A/B on the 92 Mpx tile.
  */
object PayloadKernels {

  /** Sum of MODIS QA confidences + element count over one uint16
    * payload. Returns struct(sum_conf double, n long). */
  def qaConfStats(bytes: Array[Byte]): InternalRow = {
    val n = bytes.length / 2
    var sum = 0.0
    var i = 0
    while (i < n) {
      val q = ((bytes(2 * i + 1) & 0xff) << 8) | (bytes(2 * i) & 0xff)
      sum += QaDecode.modisQaConfScalar(q)
      i += 1
    }
    new GenericInternalRow(Array[Any](sum, n.toLong))
  }
}

/** A windowed kernel's global pixel/time box: [xFrom, xTo) x
  * [yFrom, yTo) x [tFrom, tTo). */
final case class Box(xFrom: Int, xTo: Int, yFrom: Int, yTo: Int,
                     tFrom: Int, tTo: Int)

/** One chunk — w x h x nd values at global origin (x0, y0, t0), payload
  * layout the store's [y][x][t] C-order (see FractionStore.pixels) —
  * clipped to a [[Box]]: the chunk-local ranges [lxFrom, lxTo) x
  * [lyFrom, lyTo) x [ltFrom, ltTo) that every windowed kernel folds. */
final class ChunkWindow(val w: Int, val h: Int, val nd: Int,
                        val x0: Int, val y0: Int, val t0: Int, box: Box) {
  val lxFrom: Int = math.max(0, box.xFrom - x0)
  val lxTo: Int = math.min(w, box.xTo - x0)
  val lyFrom: Int = math.max(0, box.yFrom - y0)
  val lyTo: Int = math.min(h, box.yTo - y0)
  val ltFrom: Int = math.max(0, box.tFrom - t0)
  val ltTo: Int = math.min(nd, box.tTo - t0)

  /** No pixel-date of the chunk lies in the box — also the case for a
    * box wholly outside the grid, whose pruning still reads an edge
    * chunk. */
  def isEmpty: Boolean = lxFrom >= lxTo || lyFrom >= lyTo || ltFrom >= ltTo
}

/** One windowed fused kernel: its per-chunk fold plus its plan-time
  * constants (payload dtype codes, [[Box]], nodata, kernel parameters).
  * [[run]] is what [[ChunkKernelExpr]] calls once per chunk row. */
sealed abstract class ChunkKernel extends Serializable {
  def name: String
  def box: Box
  /** Dtype code of each payload the kernel reads, in child order. */
  def codes: Seq[Int]
  /** Schema of one output entry. */
  def entrySchema: StructType

  /** Fold one chunk whose clip is not empty into output entries. */
  protected def fold(c: ChunkWindow, payloads: Array[Array[Byte]]): Array[Any]

  /** Check every payload against the chunk geometry (a payload from a
    * store with other chunking would index the wrong pixels), clip the
    * chunk to the box, and fold it. An empty clip yields no entry, so
    * the fused result has exactly the groups of the exploded window
    * load. */
  final def run(payloads: Array[Array[Byte]], w: Int, h: Int, nd: Int,
                x0: Int, y0: Int, t0: Int): ArrayData = {
    var i = 0
    while (i < payloads.length) {
      val size = PayloadCodec.bytesPerElem(codes(i))
      val len = payloads(i).length
      if (len != w.toLong * h * nd * size) {
        val n = len / size
        val shape =
          if (len % size == 0 && w * h > 0 && n % (w * h) == 0)
            s"${w}x${h}x${n / (w * h)}"
          else s"$len bytes"
        throw new IllegalStateException(
          s"$name: payload $i of the chunk at (x0, y0, t0) = " +
            s"($x0, $y0, $t0) is $shape, but the chunk is ${w}x${h}x$nd " +
            "(w x h x nd): a torn payload, or one from a store chunked " +
            "otherwise")
      }
      i += 1
    }
    val c = new ChunkWindow(w, h, nd, x0, y0, t0, box)
    new GenericArrayData(if (c.isEmpty) Array.empty[Any] else fold(c, payloads))
  }
}

object ChunkKernel {
  private def schema(fields: (String, DataType, Boolean)*): StructType =
    StructType(fields.map { case (n, t, nullable) => StructField(n, t, nullable) })

  val boxStatsSchema: StructType = schema(
    ("t", IntegerType, false), ("sum_v", DoubleType, false),
    ("n_valid", LongType, false), ("n_total", LongType, false),
    ("min_v", DoubleType, true), ("max_v", DoubleType, true))
  val maskedBoxStatsSchema: StructType = schema(
    ("t", IntegerType, false), ("sum_v", DoubleType, false),
    ("n_clear", LongType, false), ("n_total", LongType, false))
  val trendSchema: StructType = schema(
    ("x", IntegerType, false), ("y", IntegerType, false),
    ("n", LongType, false), ("slope", DoubleType, false))
  val zonalSchema: StructType = schema(
    ("region", IntegerType, false), ("t", IntegerType, false),
    ("sum_v", DoubleType, false), ("n_valid", LongType, false),
    ("min_v", DoubleType, true), ("max_v", DoubleType, true))
  val cusumSchema: StructType = schema(
    ("x", IntegerType, false), ("y", IntegerType, false),
    ("t", IntegerType, false), ("cusum", DoubleType, false),
    ("alarm", IntegerType, false))
}

/** Per-date statistics of one value payload in the box — the fused form
  * of "window load -> agg" (the P3 hot path). No QA gate: nodata is the
  * only mask.
  *
  * Entries: struct(t int, sum_v double, n_valid long, n_total long,
  * min_v double?, max_v double?), one per chunk-local date in the clip:
  * sum_v/n_valid/min/max aggregate values != nodata; n_total counts every
  * in-box pixel; min_v/max_v are NULL for dates with no valid pixel (so
  * min()/max() upstream aggregates skip them).
  */
final case class BoxStats(vCode: Int, box: Box, nodata: Double)
    extends ChunkKernel {
  def name: String = "box_stats"
  def codes: Seq[Int] = Seq(vCode)
  def entrySchema: StructType = ChunkKernel.boxStatsSchema

  protected def fold(c: ChunkWindow, payloads: Array[Array[Byte]]): Array[Any] = {
    import c._
    val nt = ltTo - ltFrom
    val sums = new Array[Double](nt)
    val valid = new Array[Long](nt)
    val mins = Array.fill(nt)(Double.PositiveInfinity)
    val maxs = Array.fill(nt)(Double.NegativeInfinity)
    var total = 0L
    // the box scan is decoded ONCE per chunk into a primitive array,
    // then folded in a branch-light loop — a per-element dtype switch
    // in the hot loop measured ~2x slower than bulk-decode + fold (the
    // same reason the exploded path's unpack-then-codegen is fast)
    val decoded = PayloadCodec.decodeDouble(payloads(0), vCode)
    var ly = lyFrom
    while (ly < lyTo) {
      var lx = lxFrom
      while (lx < lxTo) {
        val base = (ly * w + lx) * nd
        var lt = ltFrom
        while (lt < ltTo) {
          val value = decoded(base + lt)
          if (value != nodata) {
            val k = lt - ltFrom
            sums(k) += value
            valid(k) += 1
            if (value < mins(k)) mins(k) = value
            if (value > maxs(k)) maxs(k) = value
          }
          lt += 1
        }
        total += 1
        lx += 1
      }
      ly += 1
    }
    val rows = new Array[Any](nt)
    var k = 0
    while (k < nt) {
      val mn: Any = if (valid(k) > 0) mins(k) else null
      val mx: Any = if (valid(k) > 0) maxs(k) else null
      rows(k) = new GenericInternalRow(
        Array[Any](t0 + ltFrom + k, sums(k), valid(k), total, mn, mx))
      k += 1
    }
    rows
  }
}

/** Per-date masked statistics of a value payload gated by a uint16 QA
  * payload in the box — the fused form of "aligned two-band load ->
  * conf -> groupBy(t)".
  *
  * Entries: struct(t int, sum_v double, n_clear long, n_total long), one
  * per chunk-local date in the clip: sum_v/n_clear aggregate values
  * whose QA confidence > 0.5 AND value != nodata; n_total counts every
  * in-box pixel.
  */
final case class MaskedBoxStats(vCode: Int, box: Box, nodata: Double)
    extends ChunkKernel {
  def name: String = "masked_box_stats"
  def codes: Seq[Int] = Seq(vCode, PayloadCodec.U16)
  def entrySchema: StructType = ChunkKernel.maskedBoxStatsSchema

  protected def fold(c: ChunkWindow, payloads: Array[Array[Byte]]): Array[Any] = {
    import c._
    val nt = ltTo - ltFrom
    val sums = new Array[Double](nt)
    val clear = new Array[Long](nt)
    var total = 0L
    val decoded = PayloadCodec.decodeDouble(payloads(0), vCode)
    val q = payloads(1)
    var ly = lyFrom
    while (ly < lyTo) {
      var lx = lxFrom
      while (lx < lxTo) {
        val base = (ly * w + lx) * nd
        var lt = ltFrom
        while (lt < ltTo) {
          val i = base + lt
          val qa = ((q(2 * i + 1) & 0xff) << 8) | (q(2 * i) & 0xff)
          val conf = QaDecode.modisQaConfScalar(qa)
          if (conf > 0.5f) {
            val value = decoded(i)
            if (value != nodata) {
              sums(lt - ltFrom) += value
              clear(lt - ltFrom) += 1
            }
          }
          lt += 1
        }
        total += 1
        lx += 1
      }
      ly += 1
    }
    val rows = new Array[Any](nt)
    var k = 0
    while (k < nt) {
      rows(k) = new GenericInternalRow(
        Array[Any](t0 + ltFrom + k, sums(k), clear(k), total))
      k += 1
    }
    rows
  }
}

/** Per-pixel OLS trend slope in the box — the fused form of
  * `GridTimeSeries.trendSlope(loadSliceXY(...))` when the requested date
  * range lives in ONE time slab (fracNDates covers it), so every pixel's
  * whole series sits inside this payload and the trend map needs no
  * shuffle at all. Same arithmetic as the relational form:
  * integer-valued double sums (exact in any order), slope rounded
  * HALF_UP to `roundTo` decimals, 0 when the t-variance determinant is
  * not positive; pixels with zero valid observations are omitted (the
  * exploded groupBy never sees them).
  *
  * Entries: struct(x int, y int, n long, slope double).
  */
final case class TrendSlopes(vCode: Int, box: Box, nodata: Double,
                             roundTo: Int) extends ChunkKernel {
  def name: String = "trend_slopes"
  def codes: Seq[Int] = Seq(vCode)
  def entrySchema: StructType = ChunkKernel.trendSchema

  protected def fold(c: ChunkWindow, payloads: Array[Array[Byte]]): Array[Any] = {
    import c._
    val decoded = PayloadCodec.decodeDouble(payloads(0), vCode)
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    out.sizeHint((lxTo - lxFrom) * (lyTo - lyFrom))
    var ly = lyFrom
    while (ly < lyTo) {
      var lx = lxFrom
      while (lx < lxTo) {
        val base = (ly * w + lx) * nd
        var n = 0L
        var st = 0.0; var sv = 0.0; var stv = 0.0; var stt = 0.0
        var lt = ltFrom
        while (lt < ltTo) {
          val value = decoded(base + lt)
          if (value != nodata) {
            val t = (t0 + lt).toDouble
            n += 1; st += t; sv += value; stv += t * value; stt += t * t
          }
          lt += 1
        }
        if (n > 0) {
          val det = n * stt - st * st
          val slope =
            if (det > 0)
              java.math.BigDecimal.valueOf((n * stv - st * sv) / det)
                .setScale(roundTo, java.math.RoundingMode.HALF_UP)
                .doubleValue()
            else 0.0
          out += new GenericInternalRow(
            Array[Any](x0 + lx, y0 + ly, n, slope))
        }
        lx += 1
      }
      ly += 1
    }
    out.toArray
  }
}

/** Per-pixel one-sided CUSUM in the box — the fused form of
  * `GridTimeSeries.cusumDetect(loadSliceXY(...))` when the whole
  * requested date range (training AND monitoring) lives in one time
  * slab. Same arithmetic as the relational closed form: baseline =
  * valid dates in [tFrom, trainT); per valid monitoring date the
  * micro-grid deviation d = (sm − n·x)·1e6 − n·slackMicro accumulates
  * into the running sum r with running min mn (both exact integers on
  * integer-valued grids), cusum = HALF_UP((r − mn)/(n·1e6), roundTo),
  * alarm = (r − mn) > n·hMicro. Pixels with no valid training date are
  * omitted, as are invalid monitoring dates.
  *
  * Entries: struct(x int, y int, t int, cusum double, alarm int).
  */
final case class Cusum(vCode: Int, box: Box, nodata: Double, trainT: Int,
                       slackMicro: Double, hMicro: Double, roundTo: Int)
    extends ChunkKernel {
  def name: String = "cusum_pixels"
  def codes: Seq[Int] = Seq(vCode)
  def entrySchema: StructType = ChunkKernel.cusumSchema

  protected def fold(c: ChunkWindow, payloads: Array[Array[Byte]]): Array[Any] = {
    import c._
    val ltTrain = math.min(math.max(0, trainT - t0), ltTo)
    val decoded = PayloadCodec.decodeDouble(payloads(0), vCode)
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    out.sizeHint(math.max(0,
      (lxTo - lxFrom) * (lyTo - lyFrom) * (ltTo - ltTrain)))
    var ly = lyFrom
    while (ly < lyTo) {
      var lx = lxFrom
      while (lx < lxTo) {
        val base = (ly * w + lx) * nd
        var nTrain = 0L
        var sm = 0.0
        var lt = ltFrom
        while (lt < ltTrain) {
          val value = decoded(base + lt)
          if (value != nodata) { nTrain += 1; sm += value }
          lt += 1
        }
        if (nTrain > 0) {
          var r = 0.0
          var mn = 0.0
          lt = ltTrain
          while (lt < ltTo) {
            val value = decoded(base + lt)
            if (value != nodata) {
              r += (sm - nTrain * value) * 1e6 - nTrain * slackMicro
              if (r < mn) mn = r
              val cusum = java.math.BigDecimal
                .valueOf((r - mn) / (nTrain * 1e6))
                .setScale(roundTo, java.math.RoundingMode.HALF_UP)
                .doubleValue()
              val alarm = if (r - mn > nTrain * hMicro) 1 else 0
              out += new GenericInternalRow(
                Array[Any](x0 + lx, y0 + ly, t0 + lt, cusum, alarm))
            }
            lt += 1
          }
        }
        lx += 1
      }
      ly += 1
    }
    out.toArray
  }
}

/** Per-(region, date) statistics of one value payload over the regions
  * of a [[RegionIntervals]] table — the fused form of "window load ->
  * per-pixel containment -> explode on membership -> groupBy(region, t)".
  * The box is the table's window x [tFrom, tTo); each chunk visits only
  * the table rows and intervals inside its clip, so the fold reads each
  * covered pixel-date once per region holding it and tests no pixel.
  *
  * Entries: struct(region int, t int, sum_v double, n_valid long,
  * min_v double?, max_v double?), one per region with at least one
  * pixel in the clip and per chunk-local date in the clip (an all-nodata
  * group appears with n_valid 0): sum_v/n_valid/min/max aggregate values
  * != nodata; min_v/max_v are NULL when n_valid is 0. min/max order NaN
  * above every number, as Spark's min()/max() do.
  */
final case class ZonalStats(vCode: Int, regions: RegionIntervals,
                            tFrom: Int, tTo: Int, nodata: Double)
    extends ChunkKernel {
  def name: String = "zonal_stats"
  def box: Box = Box(regions.x0, regions.x1, regions.y0, regions.y1, tFrom, tTo)
  def codes: Seq[Int] = Seq(vCode)
  def entrySchema: StructType = ChunkKernel.zonalSchema

  protected def fold(c: ChunkWindow, payloads: Array[Array[Byte]]): Array[Any] = {
    import c._
    import regions.{rowStart, region, xFrom, xTo}
    val (gxFrom, gxTo) = (x0 + lxFrom, x0 + lxTo)
    def rowOf(ly: Int) = y0 + ly - regions.y0
    // the regions with a pixel in the clip, ascending: their slots
    val hit = new scala.collection.mutable.ArrayBuilder.ofInt
    var ly = lyFrom
    while (ly < lyTo) {
      var e = rowStart(rowOf(ly))
      while (e < rowStart(rowOf(ly) + 1)) {
        if (math.max(xFrom(e), gxFrom) < math.min(xTo(e), gxTo)) hit += region(e)
        e += 1
      }
      ly += 1
    }
    val slots = hit.result().sorted.distinct
    if (slots.isEmpty) return Array.empty[Any]
    val nt = ltTo - ltFrom
    val sums = new Array[Double](slots.length * nt)
    val valid = new Array[Long](slots.length * nt)
    val mins = Array.fill(slots.length * nt)(Double.NaN)
    val maxs = Array.fill(slots.length * nt)(Double.NegativeInfinity)
    val decoded = PayloadCodec.decodeDouble(payloads(0), vCode)
    ly = lyFrom
    while (ly < lyTo) {
      var e = rowStart(rowOf(ly))
      while (e < rowStart(rowOf(ly) + 1)) {
        val xEnd = math.min(xTo(e), gxTo)
        var x = math.max(xFrom(e), gxFrom)
        if (x < xEnd) {
          val slot0 = java.util.Arrays.binarySearch(slots, region(e)) * nt
          while (x < xEnd) {
            val base = (ly * w + x - x0) * nd
            var lt = ltFrom
            while (lt < ltTo) {
              val value = decoded(base + lt)
              if (value != nodata) {
                val k = slot0 + lt - ltFrom
                sums(k) += value
                valid(k) += 1
                if (mins(k).isNaN || value < mins(k)) mins(k) = value
                if (value > maxs(k) || value.isNaN) maxs(k) = value
              }
              lt += 1
            }
            x += 1
          }
        }
        e += 1
      }
      ly += 1
    }
    val rows = new Array[Any](slots.length * nt)
    var k = 0
    while (k < rows.length) {
      val (mn, mx): (Any, Any) =
        if (valid(k) > 0) (mins(k), maxs(k)) else (null, null)
      rows(k) = new GenericInternalRow(Array[Any](slots(k / nt),
        t0 + ltFrom + k % nt, sums(k), valid(k), mn, mx))
      k += 1
    }
    rows
  }
}

/** struct(sum_conf double, n long) over one uint16 QA payload. */
case class QaConfStatsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = QaConfStatsExpr.schema
  override def prettyName: String = "qa_conf_stats"

  override protected def withNewChildInternal(newChild: Expression): QaConfStatsExpr =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    PayloadKernels.qaConfStats(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.PayloadKernels.qaConfStats($c)")
}

object QaConfStatsExpr {
  import org.apache.spark.sql.GraftColumnBridge
  val schema: StructType = StructType(Seq(
    StructField("sum_conf", DoubleType, nullable = false),
    StructField("n", LongType, nullable = false)))

  def apply(data: Column): Column =
    GraftColumnBridge.column(QaConfStatsExpr(GraftColumnBridge.expression(data)))
}

/** array<kernel.entrySchema> — one windowed [[ChunkKernel]] over a chunk
  * row. Children are the kernel's payload columns followed by the chunk
  * geometry (w, h, nd, x0, y0, t0); the kernel's box, nodata and
  * parameters are plan-time constants. Generated code evaluates the
  * children and calls `kernel.run` once per chunk, inside whole-stage
  * codegen.
  */
case class ChunkKernelExpr(children: Seq[Expression], kernel: ChunkKernel)
    extends Expression {

  private def nPayloads = kernel.codes.length
  override def dataType: DataType =
    ArrayType(kernel.entrySchema, containsNull = false)
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = kernel.name

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(children = c)

  override def eval(input: InternalRow): Any = {
    val ins = children.map(_.eval(input))
    if (ins.contains(null)) null
    else {
      val (payloads, geometry) = ins.splitAt(nPayloads)
      val Seq(w, h, nd, x0, y0, t0) = geometry.map(_.asInstanceOf[Int])
      kernel.run(payloads.map(_.asInstanceOf[Array[Byte]]).toArray,
        w, h, nd, x0, y0, t0)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("kernel", kernel, classOf[ChunkKernel].getName)
    val evs = children.map(_.genCode(ctx))
    val anyNull = evs.map(_.isNull).mkString(" || ")
    val (payloads, geometry) = evs.map(_.value.toString).splitAt(nPayloads)
    val resultType = "org.apache.spark.sql.catalyst.util.ArrayData"
    val code =
      code"""
        ${evs.map(_.code).reduce(_ + _)}
        boolean ${ev.isNull} = $anyNull;
        $resultType ${ev.value} = null;
        if (!${ev.isNull}) {
          ${ev.value} = $k.run(new byte[][] {${payloads.mkString(", ")}},
            ${geometry.mkString(", ")});
        }
      """
    ev.copy(code = code)
  }
}

object ChunkKernelExpr {
  import org.apache.spark.sql.GraftColumnBridge
  import org.apache.spark.sql.functions.col

  /** Column factory over chunk rows carrying `payloads` (one per
    * `kernel.codes` entry) + the standard chunk geometry columns
    * (w, h, nd, x0, y0, t0). */
  def column(payloads: Seq[Column], kernel: ChunkKernel): Column = {
    val geometry = Seq("w", "h", "nd", "x0", "y0", "t0").map(col)
    GraftColumnBridge.column(ChunkKernelExpr(
      (payloads ++ geometry).map(GraftColumnBridge.expression), kernel))
  }
}
