package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType}

import graft.grid.RegionIntervals

/** The region of pixel (x, y) in a [[RegionIntervals]] table: its lowest
  * region index, or -1 (reference: F8 — rastercube/imutils.py:5-17, the
  * polygon mask). The table is a plan-time constant held by reference,
  * so the generated code is one call whatever the rings' vertex count.
  */
case class RegionAtExpr(left: Expression, right: Expression,
                        regions: RegionIntervals)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "region_at"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RegionAtExpr =
    copy(left = newLeft, right = newRight)

  override def nullSafeEval(x: Any, y: Any): Any =
    regions.regionAt(x.asInstanceOf[Int], y.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("regions", regions, classOf[RegionIntervals].getName)
    defineCodeGen(ctx, ev, (x, y) => s"$t.regionAt($x, $y)")
  }
}

object RegionAtExpr {
  import org.apache.spark.sql.GraftColumnBridge

  /** Column factory over int pixel columns. */
  def apply(regions: RegionIntervals, x: Column, y: Column): Column =
    GraftColumnBridge.column(RegionAtExpr(GraftColumnBridge.expression(x),
      GraftColumnBridge.expression(y), regions))
}
