package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder
import graft.grid.{FractionStore, GeoTransform, GridHeader}

/** The optional custom Catalyst rule from SURVEY §4: rewrite range
  * predicates on DERIVED geo columns (lat / lng / t of the pixel view)
  * into predicates on the STORED chunk columns (frac_y / frac_x /
  * time_chunk) that Parquet can prune — the Catalyst formalization of
  * the reference's `fracs_for_rect_xy` (jgrid3.py:470-489).
  *
  * Why a rule at all: `lat` is an expression over exploded pixel
  * coordinates, so a user filter `lat BETWEEN a AND b` cannot reach the
  * scan. The grid's geometry travels as column METADATA on the derived
  * columns (attached by [[LatLngPruning.withGeoColumns]]); the rule
  * reads it back, inverts the (monotonic per-axis) transforms, and ANDs
  * conservative chunk-range conjuncts onto the filter. Bounds on `t`
  * become a `time_chunk` range through the metadata's `fracNDates`, so a
  * window reads only the time chunks of its dates (partition pruning).
  * Added predicates are supersets (±1 pixel margins; strict bounds taken
  * as inclusive), so results never change — only the scanned fraction
  * set shrinks.
  *
  * A bound counts only on an attribute that carries the metadata under
  * its own axis name, and only against chunk columns of the projection
  * that defines it (one pixel view): a recomputed `t`, a renamed
  * column, or a column of another table in a join constrains nothing.
  *
  * Registered by [[graft.GraftExtensions]] (injectPostHocResolutionRule).
  */
object LatLngPruning {

  private[plans] val MetaKey = "graft.geo"

  /** Pixel view + lat/lng center-coordinates columns, with `t`, `lat`
    * and `lng` carrying the grid geometry as metadata; keeps
    * frac_x/frac_y/time_chunk in scope so rewritten predicates can push
    * to the scan.
    */
  def withGeoColumns(header: GridHeader, fracRows: DataFrame,
                     maskNodata: Boolean = true): DataFrame = {
    def geoMd(axis: String) = new MetadataBuilder().putMetadata(MetaKey,
      new MetadataBuilder()
        .putString("axis", axis)
        .putString("srs", header.srs)
        .putDoubleArray("geot", header.geotArray)
        .putLong("fracWidth", header.fracWidth)
        .putLong("fracHeight", header.fracHeight)
        .putLong("fracNDates", header.fracNDates)
        .build()).build()
    // keepChunkCols: the STORED chunk columns stay in scope, so the
    // rewritten predicates push through the explode to the scan
    val withChunks = FractionStore.pixels(header, fracRows, maskNodata,
      keepChunkCols = true)
    val gx = lit(header.geot(0)) + (col("x") + lit(0.5)) * lit(header.geot(1))
    val gy = lit(header.geot(3)) + (col("y") + lit(0.5)) * lit(header.geot(5))
    val (latC, lngC) = header.srs match {
      case "sinusoidal" => (GeoTransform.sinuToLat(gy), GeoTransform.sinuToLng(gx, gy))
      case "wgs84"      => (gy, gx)
    }
    // one projection defines t, lat and lng next to the chunk columns
    withChunks.select(withChunks.columns.toSeq.map {
      case "t" => col("t").as("t", geoMd("t"))
      case c   => col(c)
    } ++ Seq(latC.as("lat", geoMd("lat")), lngC.as("lng", geoMd("lng"))): _*)
  }

  final case class Geo(srs: String, geot: Array[Double],
                       fracWidth: Int, fracHeight: Int, fracNDates: Int)

  /** The grid geometry `a` carries under its own axis name, if any. */
  private def geoOf(a: Attribute): Option[Geo] =
    Some(a.metadata).filter(_.contains(MetaKey)).map(_.getMetadata(MetaKey))
      .filter(m => m.contains("axis") && m.getString("axis") == a.name)
      .map(m => Geo(m.getString("srs"), m.getDoubleArray("geot"),
        m.getLong("fracWidth").toInt, m.getLong("fracHeight").toInt,
        m.getLong("fracNDates").toInt))

  /** The projection below `plan` that defines `a` by an alias, found
    * along the children that carry `a`. None past a Union: its rows
    * after the first child come from other plans under the same ids. */
  private def definer(plan: LogicalPlan, a: Attribute): Option[Project] =
    plan match {
      case p @ Project(list, _) if list.exists {
          case al: Alias => al.exprId == a.exprId
          case _ => false
        } => Some(p)
      case _: Union => None
      case _ => plan.children.find(_.outputSet.contains(a))
        .flatMap(definer(_, a))
    }

  private def litD(e: Expression): Option[Double] = e match {
    case Literal(v: Double, _) => Some(v)
    case Literal(v: Float, _) => Some(v.toDouble)
    case Literal(v: Int, _) => Some(v.toDouble)
    case Literal(v: Long, _) => Some(v.toDouble)
    case Cast(inner, _, _, _) => litD(inner)
    case _ => None
  }

  /** Collect [min, max] bounds asserted on `a` inside a conjunction. */
  private def boundsFor(cond: Expression, a: Attribute)
      : (Option[Double], Option[Double]) = {
    var lo: Option[Double] = None
    var hi: Option[Double] = None
    def isA(e: Expression) = e match {
      case b: Attribute => b.exprId == a.exprId
      case _ => false
    }
    def atLeast(v: Expression): Unit =
      litD(v).foreach(d => lo = Some(lo.fold(d)(math.max(_, d))))
    def atMost(v: Expression): Unit =
      litD(v).foreach(d => hi = Some(hi.fold(d)(math.min(_, d))))
    def visit(e: Expression): Unit = e match {
      case And(l, r) => visit(l); visit(r)
      case EqualTo(b, v) if isA(b) => atLeast(v); atMost(v)
      case EqualTo(v, b) if isA(b) => atLeast(v); atMost(v)
      case GreaterThanOrEqual(b, v) if isA(b) => atLeast(v)
      case GreaterThan(b, v) if isA(b) => atLeast(v)
      case LessThanOrEqual(b, v) if isA(b) => atMost(v)
      case LessThan(b, v) if isA(b) => atMost(v)
      case GreaterThanOrEqual(v, b) if isA(b) => atMost(v)
      case GreaterThan(v, b) if isA(b) => atMost(v)      // lit > attr
      case LessThanOrEqual(v, b) if isA(b) => atLeast(v)
      case LessThan(v, b) if isA(b) => atLeast(v)        // lit < attr
      case _ => // other predicates don't constrain monotone bounds
    }
    visit(cond)
    (lo, hi)
  }

  /** lat -> pixel y (center convention), monotone; margin-conservative. */
  private def yForLat(g: Geo, lat: Double): Double = {
    val gy = g.srs match {
      case "sinusoidal" => GeoTransform.SinusoidalRadius * math.toRadians(lat)
      case "wgs84"      => lat
    }
    (gy - g.geot(3)) / g.geot(5) - 0.5
  }

  private def xForLng(g: Geo, lng: Double): Double =
    (lng - g.geot(0)) / g.geot(1) - 0.5 // wgs84 only (separable)

  /** Candidate pixel-x extremes for a (lng, lat) box. wgs84 is
    * separable: x depends on lng alone. Sinusoidal x = R·rad(lng)·cos φ
    * couples the axes, but over a lat interval cos φ ranges inside
    * [cMin, cMax] (endpoint cosines, plus 1 when the interval crosses
    * the equator), so the product's extremes sit at the corner
    * combinations — the closed-form conservative hull of the
    * reference's `fracs_for_rect_xy` x-pruning (jgrid3.py:470-489).
    * None when the box under-constrains x (sinusoidal without lat
    * bounds). */
  private def xCandidates(g: Geo, lngLo: Double, lngHi: Double,
                          latB: (Option[Double], Option[Double]))
      : Option[Seq[Double]] = g.srs match {
    case "wgs84" => Some(Seq(xForLng(g, lngLo), xForLng(g, lngHi)))
    case "sinusoidal" => latB match {
      case (Some(la0), Some(la1)) =>
        val cosines = Seq(la0, la1).map(l => math.cos(math.toRadians(l))) ++
          (if (la0 <= 0 && la1 >= 0) Seq(1.0) else Nil)
        // clamp at 0: poleward-of-90° assertions aren't physical, and a
        // zero cosine only widens the hull toward gx = 0 (conservative)
        val cs = Seq(cosines.min.max(0.0), cosines.max)
        val gxs = for (lng <- Seq(lngLo, lngHi); c <- cs)
          yield GeoTransform.SinusoidalRadius * math.toRadians(lng) * c
        Some(gxs.map(gx => (gx - g.geot(0)) / g.geot(1) - 0.5))
      case _ => None
    }
  }

  object Rule extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
      case f @ Filter(cond, child) =>
        // one pixel view per projection that defines a bounded geo column
        val views = cond.references.toSeq.filter(geoOf(_).isDefined)
          .flatMap(definer(child, _)).distinct
        val extra = views.flatMap(chunkRanges(cond, child, _))
        val fresh = extra.filterNot(p => cond.exists(_.semanticEquals(p)))
        if (fresh.isEmpty) f
        else Filter(fresh.foldLeft(cond)(And(_, _)), child)
    }

    /** Chunk-range conjuncts implied by `cond`'s bounds on the geo
      * columns that `view` defines, over the chunk columns it carries
      * (when they reach the filter unchanged). */
    private def chunkRanges(cond: Expression, child: LogicalPlan,
                            view: Project): Seq[Expression] = {
      def bounds(axis: String) = view.output
        .find(a => a.name == axis && geoOf(a).isDefined)
        .map(boundsFor(cond, _)).getOrElse((None, None))
      def chunkCol(n: String): Option[Attribute] =
        view.output.find(_.name == n).filter(child.outputSet.contains)
      val g = view.output.flatMap(geoOf).head
      val (latLo, latHi) = bounds("lat")
      val (lngLo, lngHi) = bounds("lng")
      val (tLo, tHi) = bounds("t")
      var extra: Seq[Expression] = Nil
      // lat bounds -> frac_y range (geot(5) < 0: lat falls with y)
      (latLo, latHi, chunkCol("frac_y")) match {
        case (Some(lo), Some(hi), Some(fy)) =>
          val y0 = math.floor(math.min(yForLat(g, hi), yForLat(g, lo))) - 1
          val y1 = math.ceil(math.max(yForLat(g, hi), yForLat(g, lo))) + 1
          extra ++= Seq(
            GreaterThanOrEqual(fy, Literal(math.max(0,
              (y0 / g.fracHeight).toInt))),
            LessThanOrEqual(fy, Literal((y1 / g.fracHeight).toInt)))
        case _ =>
      }
      // lng bounds -> frac_x range (wgs84: separable; sinusoidal:
      // lng+lat box -> conservative corner hull, see xCandidates)
      (lngLo, lngHi, chunkCol("frac_x")) match {
        case (Some(lo), Some(hi), Some(fx)) =>
          xCandidates(g, lo, hi, (latLo, latHi)).foreach { cand =>
            val x0 = math.floor(cand.min) - 1
            val x1 = math.ceil(cand.max) + 1
            extra ++= Seq(
              GreaterThanOrEqual(fx, Literal(math.max(0,
                (x0 / g.fracWidth).toInt))),
              LessThanOrEqual(fx, Literal((x1 / g.fracWidth).toInt)))
          }
        case _ =>
      }
      // t bounds -> time_chunk range, each side on its own; a NaN
      // bound constrains nothing the rule can use
      chunkCol("time_chunk").foreach { tc =>
        def chunkOf(t: Double): Int =
          (math.floor(math.max(0.0, t)) / g.fracNDates).toInt
        tLo.filterNot(_.isNaN).foreach(lo =>
          extra :+= GreaterThanOrEqual(tc, Literal(chunkOf(lo))))
        tHi.filterNot(_.isNaN).foreach(hi =>
          extra :+= LessThanOrEqual(tc, Literal(chunkOf(hi))))
      }
      extra
    }
  }
}
