package graft.grid

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{BooleanType, DataType}

/** Even-odd ray cast (reference: F8/P5 — rastercube/imutils.py:5-17
  * rasterizes with PIL): the membership oracle the polygon operators'
  * [[RegionIntervals]] table is checked against, pixel by pixel.
  *
  * Polygon is a closed or open ring of (x, y) vertices. Edge-inclusive
  * behavior follows the standard crossing rule (half-open edges), which
  * matches PIL's polygon fill to within border pixels; the reference's
  * tests only assert interior/exterior pixels.
  */
object PointInPolygon {
  def contains(poly: Array[(Double, Double)], px: Double, py: Double): Boolean =
    contains(poly.map(_._1), poly.map(_._2), px, py)

  def contains(xs: Array[Double], ys: Array[Double],
               px: Double, py: Double): Boolean = {
    var inside = false
    var i = 0
    var j = xs.length - 1
    while (i < xs.length) {
      val yi = ys(i); val yj = ys(j)
      if ((yi > py) != (yj > py) &&
          px < (xs(j) - xs(i)) * (py - yi) / (yj - yi) + xs(i)) {
        inside = !inside
      }
      j = i
      i += 1
    }
    inside
  }
}

/** [[PointInPolygon.contains]] as a Catalyst expression over (px, py),
  * for oracles written as DataFrame plans. */
case class PointInPolygonExpr(
    xs: Array[Double], ys: Array[Double],
    left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "point_in_polygon"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PointInPolygonExpr =
    copy(left = newLeft, right = newRight)

  override def nullSafeEval(px: Any, py: Any): Any =
    PointInPolygon.contains(xs, ys, px.asInstanceOf[Double], py.asInstanceOf[Double])
}

object PointInPolygonExpr {
  import org.apache.spark.sql.GraftColumnBridge

  /** Column factory: polygon vertices as (x, y) pairs. */
  def apply(poly: Array[(Double, Double)], px: Column, py: Column): Column =
    GraftColumnBridge.column(PointInPolygonExpr(
      poly.map(_._1), poly.map(_._2),
      GraftColumnBridge.expression(px), GraftColumnBridge.expression(py)))
}
