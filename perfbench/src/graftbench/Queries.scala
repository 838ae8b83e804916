package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.grid.{FractionStore, GridHeader, GridKernels, GridTimeSeries, GridZonal, Reproject}
import graft.plans.LatLngPruning

/** The MODIS sinusoidal projection and the tile's geotransform, written
  * out here so the oracle does not borrow the engine's transforms. */
object Geo {
  val R = 6371007.181
  /** North-up tile anchored at 50°N, 231.66 m pixels (MODIS 250 m). */
  val geot: Seq[Double] = Seq(1111950.519667, 231.65635826374995, 0.0,
    5559752.598333, 0.0, -231.65635826395834)

  /** Lat/lng of fractional pixel coordinates, in the operation order of
    * a derived column `g0 + (x + 0.5) * g1` when `px = x + 0.5`. */
  def latLngOf(px: Double, py: Double): (Double, Double) = {
    val gx = geot(0) + px * geot(1)
    val gy = geot(3) + py * geot(5)
    (math.toDegrees(gy / R), math.toDegrees(gx / (R * math.cos(gy / R))))
  }

  /** Fractional pixel coordinates of a lat/lng. */
  def xyOf(lat: Double, lng: Double): (Double, Double) = {
    val phi = math.toRadians(lat)
    val lam = math.toRadians(lng)
    ((R * lam * math.cos(phi) - geot(0)) / geot(1), (R * phi - geot(3)) / geot(5))
  }

  /** Ray-cast point-in-polygon over (x, y) vertices. */
  def contains(xs: Array[Double], ys: Array[Double], px: Double, py: Double): Boolean = {
    var inside = false
    var i = 0
    var j = xs.length - 1
    while (i < xs.length) {
      if ((ys(i) > py) != (ys(j) > py) &&
        px < (xs(j) - xs(i)) * (py - ys(i)) / (ys(j) - ys(i)) + xs(i))
        inside = !inside
      j = i
      i += 1
    }
    inside
  }

  /** The WGS84 lattice reprojection queries warp onto: 0.002° x
    * 0.0015° cells over the tile's interior (15.7-16.5°E, 49.3-49.9°N). */
  val DstWidth = 400
  val DstHeight = 400
  def dstHeader(spec: Spec, ts: Seq[Long]): GridHeader = GridHeader(
    "wgs84_lattice", DstWidth, DstHeight, spec.frac, spec.frac, spec.fracND, "float64",
    "wgs84", Seq(15.7, 0.002, 0.0, 49.9, 0.0, -0.0015), ts, Double.NaN)
}

/** One seeded analyst query: a kind, a pixel window [x0, x1) x [y0, y1),
  * a date range [t0, t1) and kind-specific parameters. */
final case class Query(id: Int, kind: String, large: Boolean,
                       x0: Int, x1: Int, y0: Int, y1: Int, t0: Int, t1: Int,
                       polys: Seq[(String, Array[(Double, Double)])] = Nil,
                       box: (Double, Double, Double, Double) = (0, 0, 0, 0)) {
  def px: Long = (x1 - x0).toLong * (y1 - y0)
  /** Pixel-values the query window covers. */
  def pxValues: Long = px * (t1 - t0)
}

object Queries {
  /** Query kinds. */
  val Kinds: Seq[String] = Seq("box_stats", "qa_masked_mean", "trend_map",
    "cusum_alarms", "series_smooth", "polygon_zonal", "latlng_box", "reproject")

  val Fused: Set[String] = Set("box_stats", "qa_masked_mean", "trend_map", "cusum_alarms")

  /** One block of the query stream: every kind, and each fused kind
    * with a small window (side 16-256 px, at most half the tile: pruning
    * and planning dominate) and a large one (side >= 3/4 of the tile:
    * kernels and scans dominate). The kinds that explode chunks to pixel
    * rows keep windows small. The QA-masked mean comes twice per size:
    * with one pair, six cheap slots filled exactly the lower half of the
    * block, so the median latency sat in the gap above them and moved by
    * a third between runs; with two it falls inside that kind's own
    * latencies. */
  val Block: Seq[(String, Boolean)] =
    Kinds.filter(Fused).flatMap(k => Seq((k, false), (k, true))) ++
      Seq(("qa_masked_mean", false), ("qa_masked_mean", true)) ++
      Kinds.filterNot(Fused).map((_, false))

  /** Layer each kind exercises (the span's layer). */
  def layerOf(kind: String): String = kind match {
    case "series_smooth" => "timeseries"
    case "polygon_zonal" => "zonal"
    case "latlng_box" => "latlng"
    case "reproject" => "reproject"
    case _ => "kernels"
  }

  val CusumSlack = 100.0
  val CusumThreshold = 1500.0

  /** Query `i` of the seeded stream: slot `i mod Block.length` of a
    * block. */
  def make(gen: Gen, i: Int): Query = make(gen, i, Block(i % Block.length))

  /** Window sizes, date ranges and polygon shapes depend on `i` only, so
    * every seed asks for the same amount of work; positions depend on
    * the seed. */
  def make(gen: Gen, i: Int, slot: (String, Boolean)): Query = {
    val sp = gen.spec
    val shape = new SplittableRandom(Gen.mix(0x5eedL, i))
    val place = new SplittableRandom(Gen.mix(sp.seed ^ 0x7f4a7c15L, i))
    val (kind, large) = slot
    def size(lo: Int, hi: Int): Int = lo + shape.nextInt(hi - lo + 1)
    def at(lo: Int, hi: Int): Int = lo + place.nextInt(hi - lo + 1)
    def window(lo: Int, hi: Int): (Int, Int, Int, Int) = {
      val w = size(lo, math.min(hi, sp.width))
      val h = size(lo, math.min(hi, sp.height))
      val x0 = at(0, sp.width - w)
      val y0 = at(0, sp.height - h)
      (x0, x0 + w, y0, y0 + h)
    }
    val smallSide = math.min(256, sp.width / 2)
    def sized = if (large) window(sp.width * 3 / 4, sp.width) else window(16, smallSide)
    val nd = sp.nDates
    kind match {
      case "box_stats" | "qa_masked_mean" =>
        val (x0, x1, y0, y1) = sized
        val t0 = size(0, nd - 4)
        Query(i, kind, large, x0, x1, y0, y1, t0, size(t0 + 4, nd))
      case "trend_map" =>
        val (x0, x1, y0, y1) = sized
        val slab = size(0, sp.timeChunks(nd) - 1)
        Query(i, kind, large, x0, x1, y0, y1, slab * sp.fracND,
          math.min(nd, (slab + 1) * sp.fracND))
      case "cusum_alarms" =>
        // small windows sit on the disturbance patch, so alarms fire
        val (x0, x1, y0, y1) =
          if (large) sized
          else {
            val w = size(16, smallSide); val h = size(16, smallSide)
            val cx = gen.distX0 + place.nextInt(gen.distW)
            val cy = gen.distY0 + place.nextInt(gen.distH)
            val x0 = math.max(0, math.min(sp.width - w, cx - w / 2))
            val y0 = math.max(0, math.min(sp.height - h, cy - h / 2))
            (x0, x0 + w, y0, y0 + h)
          }
        Query(i, kind, large, x0, x1, y0, y1, sp.fracND, 2 * sp.fracND)
      case "series_smooth" =>
        val (x0, x1, y0, y1) = window(16, 64)
        val t0 = size(0, 6)
        Query(i, kind, large, x0, x1, y0, y1, t0, t0 + size(14, nd - t0))
      case "polygon_zonal" =>
        // two neighbouring districts
        val (cx0, cy0) = (at(120, sp.width - 120), at(120, sp.height - 120))
        val polys = (0 until 2).map { k =>
          val cx = (cx0 + k * size(-90, 90)).toDouble
          val cy = (cy0 + k * size(-90, 90)).toDouble
          val ring = (0 until 6).map { v =>
            val a = 2 * math.Pi * (v + shape.nextDouble() * 0.6) / 6
            val rad = 20 + shape.nextDouble() * 40
            Geo.latLngOf(cx + rad * math.cos(a), cy + rad * math.sin(a))
          }.toArray
          (s"region_$k", ring)
        }
        val t0 = size(0, nd - 8)
        Query(i, kind, large, 0, 0, 0, 0, t0, t0 + 8, polys = polys)
      case "latlng_box" =>
        val (x0, x1, y0, y1) = window(16, 128)
        val t0 = size(0, nd - 8)
        // lat bounds halfway between pixel-center rows; lng bounds at the
        // window's pixel edges on its middle row
        val mid = (y0 + y1) / 2.0
        def rowLat(y: Int) = Geo.latLngOf(x0 + 0.5, y + 0.5)._1
        val latHi = (rowLat(y0 - 1) + rowLat(y0)) / 2
        val latLo = (rowLat(y1 - 1) + rowLat(y1)) / 2
        val lngLo = Geo.latLngOf(x0, mid)._2
        val lngHi = Geo.latLngOf(x1, mid)._2
        Query(i, kind, large, x0, x1, y0, y1, t0, t0 + size(1, 8),
          box = (latLo, latHi, lngLo, lngHi))
      case "reproject" =>
        val w = size(16, 96); val h = size(16, 96)
        val x0 = at(0, Geo.DstWidth - w); val y0 = at(0, Geo.DstHeight - h)
        val t = size(0, nd - 1)
        Query(i, kind, large, x0, x0 + w, y0, y0 + h, t, t + 1)
    }
  }

  /** Stores a query runs against. */
  final case class Stores(ndvi: (GridHeader, String), qa: (GridHeader, String),
                          dst: GridHeader)

  /** Build the query's DataFrame (the plan half of a query). */
  def plan(spark: SparkSession, s: Stores, q: Query): DataFrame = {
    val (hN, rN) = s.ndvi
    q.kind match {
      case "box_stats" =>
        GridKernels.boxStatsByT(spark, hN, rN, q.x0, q.x1, q.y0, q.y1, q.t0, q.t1)
      case "qa_masked_mean" =>
        GridKernels.maskedMeanByT(spark, s.ndvi, s.qa, q.x0, q.x1, q.y0, q.y1, q.t0, q.t1)
      case "trend_map" =>
        GridKernels.trendSlopeByPixel(spark, hN, rN, q.x0, q.x1, q.y0, q.y1, q.t0, q.t1)
      case "cusum_alarms" =>
        GridKernels.cusumByPixel(spark, hN, rN, q.x0, q.x1, q.y0, q.y1, q.t0, q.t1,
          q.t0 + (q.t1 - q.t0) / 2, CusumSlack, CusumThreshold)
      case "series_smooth" =>
        GridTimeSeries.savgolSmooth(FractionStore.loadSliceXY(spark, hN, rN,
          q.x0, q.x1, q.y0, q.y1, q.t0, q.t1), halfWidth = 2)
          .select(col("x"), col("y"), col("t"), col("value"), col("value_sg"))
      case "polygon_zonal" =>
        GridZonal.zonalByRegion(spark, hN, rN, q.polys, q.t0, q.t1)
      case "latlng_box" =>
        val (latLo, latHi, lngLo, lngHi) = q.box
        LatLngPruning.withGeoColumns(hN, FractionStore.fractions(spark, rN))
          .filter(col("lat").between(latLo, latHi) && col("lng").between(lngLo, lngHi) &&
            col("t").between(q.t0, q.t1 - 1))
          .groupBy(col("t"))
          .agg(count(lit(1)).as("n_px"), count(col("value")).as("n_valid"),
            sum(col("value").cast("long")).as("sum_v"))
      case "reproject" =>
        Reproject.bilinearGather(spark, hN, rN, s.dst, q.x0, q.x1, q.y0, q.y1, q.t0)
    }
  }

  /** What a query returned, in checkable form. */
  sealed trait Answer
  final case class Rows(rows: Seq[Seq[Any]]) extends Answer
  final case class Digested(d: Digest) extends Answer
  final case class Sampled(total: Long, samples: Seq[(Int, Int, Option[Double], Long)]) extends Answer

  /** Quantum doubles snap to before digesting: the engine rounds trend
    * slopes to 1e-6 and CUSUM statistics to 1e-4; Savitzky-Golay values
    * are integers over 35. */
  def quantum(kind: String): Double = kind match {
    case "cusum_alarms" => 1e-4
    case _ => 1e-6
  }

  /** Consume a planned query completely (the execute half). Small
    * results are collected; per-pixel results are digested inside the
    * tasks; reprojected lattices keep a seeded sample of pixels. */
  def execute(df: DataFrame, q: Query, seed: Long): Answer = q.kind match {
    case "trend_map" | "cusum_alarms" | "series_smooth" =>
      Digested(Digest.of(df, quantum(q.kind)))
    case "reproject" =>
      val parts = df.queryExecution.toRdd.mapPartitions { it =>
        var n = 0L
        val keep = Seq.newBuilder[(Int, Int, Option[Double], Long)]
        it.foreach { r =>
          n += 1
          val x = r.getInt(0); val y = r.getInt(1)
          if (sampled(seed, x, y))
            keep += ((x, y, if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getLong(3)))
        }
        Iterator((n, keep.result()))
      }.collect()
      Sampled(parts.map(_._1).sum, parts.flatMap(_._2).toSeq)
    case _ =>
      Rows(df.collect().toSeq.map((r: Row) => r.toSeq))
  }

  def sampled(seed: Long, x: Int, y: Int): Boolean =
    Gen.mix3(seed, x, y, 99) % 37 == 0
}
