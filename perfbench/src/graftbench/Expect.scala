package graftbench

import java.math.{BigDecimal => JBig, RoundingMode}
import scala.collection.parallel.CollectionConverters._

import graft.grid.GridHeader

/** Oracle answers for each query kind, computed from the generator's
  * cube, and the comparison against what the engine returned. */
object Expect {
  /** Relative tolerance for float outputs that the engine may sum in
    * any order (means, interpolated values). */
  val FloatTol = 1e-9
  /** Tolerance for reprojected values, whose tap weights come from
    * trigonometry evaluated on each side. */
  val ReprojectTol = 1e-6

  private def close(a: Double, b: Double, tol: Double): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.abs(b))

  /** Compare one query's answer with the oracle; None when it matches. */
  def check(c: Cube, q: Query, got: Queries.Answer, dst: GridHeader): Option[String] =
    (q.kind, got) match {
      case ("box_stats", Queries.Rows(rows)) => compareRows(q, rows, boxStats(c, q))
      case ("qa_masked_mean", Queries.Rows(rows)) => compareRows(q, rows, maskedMean(c, q))
      case ("polygon_zonal", Queries.Rows(rows)) => compareRows(q, rows, zonal(c, q))
      case ("latlng_box", Queries.Rows(rows)) => compareRows(q, rows, latlng(c, q))
      case ("trend_map" | "cusum_alarms" | "series_smooth", Queries.Digested(d)) =>
        val want = q.kind match {
          case "trend_map" => trend(c, q)
          case "cusum_alarms" => cusum(c, q)
          case _ => savgol(c, q)
        }
        if (d == want) None else Some(s"query ${q.id} ${q.kind}: digest $d, oracle $want")
      case ("reproject", Queries.Sampled(total, samples)) =>
        reproject(c, q, dst, total, samples)
      case (k, a) => Some(s"query ${q.id} $k: unexpected answer shape ${a.getClass.getSimpleName}")
    }

  private def num(v: Any): Option[Double] = v match {
    case null => None
    case n: java.lang.Number => Some(n.doubleValue)
    case s: String => Some(s.hashCode.toDouble)
    case o => sys.error(s"unexpected value $o")
  }

  /** Rows keyed by their first column(s); every value within FloatTol. */
  private def compareRows(q: Query, got: Seq[Seq[Any]], want: Seq[Seq[Any]]): Option[String] = {
    def key(r: Seq[Any]): String = if (q.kind == "polygon_zonal") s"${r(0)}/${r(1)}" else s"${r(0)}"
    val g = got.map(r => key(r) -> r).toMap
    val w = want.map(r => key(r) -> r).toMap
    if (got.length != want.length || g.keySet != w.keySet)
      return Some(s"query ${q.id} ${q.kind}: ${got.length} rows, oracle ${want.length}")
    w.collectFirst {
      case (k, wr) if wr.zip(g(k)).exists { case (a, b) =>
        (num(a), num(b)) match {
          case (None, None) => false
          case (Some(x), Some(y)) => !close(y, x, FloatTol)
          case _ => true
        }
      } => s"query ${q.id} ${q.kind}: row $k = ${g(k).mkString(",")}, oracle ${wr.mkString(",")}"
    }
  }

  /** (t, mean_v, n_valid, n_total, min_v, max_v) per date. */
  def boxStats(c: Cube, q: Query): Seq[Seq[Any]] = (q.t0 until q.t1).par.map { t =>
    var s = 0.0; var n = 0L; var mn = Int.MaxValue; var mx = Int.MinValue
    for (y <- q.y0 until q.y1; x <- q.x0 until q.x1 if c.valid(x, y, t)) {
      val v = c.v(x, y, t); s += v; n += 1
      if (v < mn) mn = v
      if (v > mx) mx = v
    }
    Seq(t, if (n > 0) s / n else null, n, q.px,
      if (n > 0) mn.toDouble else null, if (n > 0) mx.toDouble else null)
  }.seq

  /** (t, mean_masked, n) per date: clear-QA valid pixels only. */
  def maskedMean(c: Cube, q: Query): Seq[Seq[Any]] = (q.t0 until q.t1).par.map { t =>
    var s = 0.0; var n = 0L
    for (y <- q.y0 until q.y1; x <- q.x0 until q.x1
         if c.valid(x, y, t) && c.clear(x, y, t)) { s += c.v(x, y, t); n += 1 }
    Seq(t, if (n > 0) s / n else null, q.px)
  }.seq

  /** Sum of per-row digests over the window's rows, rows in parallel. */
  private def rows(q: Query)(row: Int => Digest): Digest =
    (q.y0 until q.y1).par.map(row).fold(Digest.zero)(_ + _)

  /** Digest of (x, y, n, slope) for pixels with a valid date. */
  def trend(c: Cube, q: Query): Digest = rows(q) { y =>
    var d = Digest.zero
    val f = new Array[Long](4)
    for (x <- q.x0 until q.x1) {
      var n = 0L; var st = 0.0; var sv = 0.0; var stv = 0.0; var stt = 0.0
      for (t <- q.t0 until q.t1 if c.valid(x, y, t)) {
        val v = c.v(x, y, t).toDouble; val td = t.toDouble
        n += 1; st += td; sv += v; stv += td * v; stt += td * td
      }
      if (n > 0) {
        val det = n * stt - st * st
        val slope =
          if (det > 0) JBig.valueOf((n * stv - st * sv) / det)
            .setScale(6, RoundingMode.HALF_UP).doubleValue
          else 0.0
        f(0) = x; f(1) = y; f(2) = n; f(3) = Digest.snap(slope, 1e-6)
        d = d + new Digest(1, Digest.rowHash(f))
      }
    }
    d
  }

  /** One-sided CUSUM of a window row: calls `emit(x, t, cusum, alarm)`
    * for each valid monitoring date of pixels with a valid training
    * date. */
  private def cusumRow(c: Cube, q: Query, y: Int)(emit: (Int, Int, Double, Int) => Unit): Unit = {
    val trainT = q.t0 + (q.t1 - q.t0) / 2
    val slackMicro = math.rint(Queries.CusumSlack * 1e6)
    val hMicro = math.rint(Queries.CusumThreshold * 1e6)
    for (x <- q.x0 until q.x1) {
      var nTrain = 0L; var sm = 0.0
      for (t <- q.t0 until trainT if c.valid(x, y, t)) { nTrain += 1; sm += c.v(x, y, t) }
      if (nTrain > 0) {
        var r = 0.0; var mn = 0.0
        for (t <- trainT until q.t1 if c.valid(x, y, t)) {
          r += (sm - nTrain * c.v(x, y, t).toDouble) * 1e6 - nTrain * slackMicro
          if (r < mn) mn = r
          val cs = JBig.valueOf((r - mn) / (nTrain * 1e6))
            .setScale(4, RoundingMode.HALF_UP).doubleValue
          emit(x, t, cs, if (r - mn > nTrain * hMicro) 1 else 0)
        }
      }
    }
  }

  /** Digest of (x, y, t, cusum, alarm). */
  def cusum(c: Cube, q: Query): Digest = rows(q) { y =>
    var d = Digest.zero
    val f = new Array[Long](5)
    cusumRow(c, q, y) { (x, t, cs, alarm) =>
      f(0) = x; f(1) = y; f(2) = t; f(3) = Digest.snap(cs, 1e-4); f(4) = alarm
      d = d + new Digest(1, Digest.rowHash(f))
    }
    d
  }

  /** Number of CUSUM alarms in the query's window. */
  def cusumAlarms(c: Cube, q: Query): Long =
    (q.y0 until q.y1).map { y =>
      var n = 0L
      cusumRow(c, q, y)((_, _, _, alarm) => n += alarm)
      n
    }.sum

  private val SgWeights = Array(-3.0, 12.0, 17.0, 12.0, -3.0)

  /** Digest of (x, y, t, value, value_sg): a 5-point Savitzky-Golay
    * smooth inside the loaded date range, NULL at its edges and next to
    * nodata. */
  def savgol(c: Cube, q: Query): Digest = rows(q) { y =>
    var d = Digest.zero
    val f = new Array[Long](5)
    for (x <- q.x0 until q.x1; t <- q.t0 until q.t1) {
      val ok = t - 2 >= q.t0 && t + 2 < q.t1 && (t - 2 to t + 2).forall(c.valid(x, y, _))
      f(0) = x; f(1) = y; f(2) = t
      f(3) = if (c.valid(x, y, t)) c.v(x, y, t).toLong else Digest.Null
      f(4) =
        if (!ok) Digest.Null
        else {
          var s = 0.0
          var j = 0
          while (j < 5) { s += SgWeights(j) * c.v(x, y, t - 2 + j); j += 1 }
          Digest.snap(s / 35, 1e-6)
        }
      d = d + new Digest(1, Digest.rowHash(f))
    }
    d
  }

  /** Pixels of a region: pixel centers inside the ring projected onto
    * the tile, within its clamped bounding box. */
  def regionPixels(c: Cube, ring: Array[(Double, Double)]): Seq[(Int, Int)] = {
    val xy = ring.map { case (lat, lng) => Geo.xyOf(lat, lng) }
    val xs = xy.map(_._1); val ys = xy.map(_._2)
    val x0 = math.max(0, xs.min.floor.toInt); val x1 = math.min(c.w, xs.max.ceil.toInt)
    val y0 = math.max(0, ys.min.floor.toInt); val y1 = math.min(c.h, ys.max.ceil.toInt)
    for (y <- y0 until y1; x <- x0 until x1
         if Geo.contains(xs, ys, x + 0.5, y + 0.5)) yield (x, y)
  }

  /** (region, t, n_valid, mean_value, min_value, max_value). */
  def zonal(c: Cube, q: Query): Seq[Seq[Any]] = q.polys.flatMap { case (name, ring) =>
    val px = regionPixels(c, ring)
    if (px.isEmpty) Nil
    else (q.t0 until q.t1).map { t =>
      val vals = px.filter { case (x, y) => c.valid(x, y, t) }.map { case (x, y) => c.v(x, y, t) }
      if (vals.isEmpty) Seq(name, t, 0L, null, null, null)
      else Seq(name, t, vals.length.toLong, vals.map(_.toDouble).sum / vals.length,
        vals.min.toDouble, vals.max.toDouble)
    }
  }

  /** Pixels whose center lat/lng falls inside the query's box. */
  def latlngPixels(sp: Spec, q: Query): Seq[(Int, Int)] = {
    val (latLo, latHi, lngLo, lngHi) = q.box
    // lng bounds slant across rows (x scales with cos(lat)), so scan
    // whole rows
    for (y <- math.max(0, q.y0 - 4) until math.min(sp.height, q.y1 + 4);
         x <- 0 until sp.width;
         (lat, lng) = Geo.latLngOf(x + 0.5, y + 0.5)
         if lat >= latLo && lat <= latHi && lng >= lngLo && lng <= lngHi) yield (x, y)
  }

  /** (t, n_px, n_valid, sum_v) per date with at least one pixel. */
  def latlng(c: Cube, q: Query): Seq[Seq[Any]] = {
    val px = latlngPixels(c.spec, q)
    if (px.isEmpty) Nil
    else (q.t0 until q.t1).map { t =>
      val vals = px.filter { case (x, y) => c.valid(x, y, t) }.map { case (x, y) => c.v(x, y, t).toLong }
      Seq(t, px.length.toLong, vals.length.toLong, if (vals.isEmpty) null else vals.sum)
    }
  }

  /** Bilinear warp of one dst pixel: (value, n_valid). */
  def bilinear(c: Cube, dst: GridHeader, x: Int, y: Int, t: Int): (Option[Double], Long) = {
    val lng = dst.geot(0) + (x + 0.5) * dst.geot(1)
    val lat = dst.geot(3) + (y + 0.5) * dst.geot(5)
    val sxm = Geo.R * math.toRadians(lng) * math.cos(math.toRadians(lat))
    val sym = Geo.R * math.toRadians(lat)
    val cx = (sxm - Geo.geot(0)) / Geo.geot(1) - 0.5
    val cy = (sym - Geo.geot(3)) / Geo.geot(5) - 0.5
    val fx = cx - math.floor(cx); val fy = cy - math.floor(cy)
    var num = 0.0; var den = 0.0; var n = 0L
    for (dy <- 0 to 1; dx <- 0 to 1) {
      val tx = math.floor(cx).toInt + dx; val ty = math.floor(cy).toInt + dy
      if (tx >= 0 && tx < c.w && ty >= 0 && ty < c.h && c.valid(tx, ty, t)) {
        val wgt = (if (dx == 0) 1.0 - fx else fx) * (if (dy == 0) 1.0 - fy else fy)
        num += wgt * c.v(tx, ty, t); den += wgt; n += 1
      }
    }
    (if (n > 0) Some(num / den) else None, n)
  }

  private def reproject(c: Cube, q: Query, dst: GridHeader, total: Long,
                        samples: Seq[(Int, Int, Option[Double], Long)]): Option[String] = {
    val wantSamples = for (y <- q.y0 until q.y1; x <- q.x0 until q.x1
                           if Queries.sampled(c.spec.seed, x, y)) yield (x, y)
    if (total != q.px) return Some(s"query ${q.id} reproject: $total pixels, oracle ${q.px}")
    if (samples.map(s => (s._1, s._2)).sorted != wantSamples.sorted)
      return Some(s"query ${q.id} reproject: sampled pixel set differs")
    samples.collectFirst {
      case (x, y, v, n) if {
        val (wv, wn) = bilinear(c, dst, x, y, q.t0)
        wn != n || ((v, wv) match {
          case (Some(a), Some(b)) => !close(a, b, ReprojectTol)
          case (None, None) => false
          case _ => true
        })
      } => s"query ${q.id} reproject: pixel ($x,$y) = $v/$n, oracle ${bilinear(c, dst, x, y, q.t0)}"
    }
  }
}
