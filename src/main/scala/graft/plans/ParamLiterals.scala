package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, CodegenFallback, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, InSubqueryExec, ProjectExec, SparkPlan, SubqueryAdaptiveBroadcastExec}
import org.apache.spark.sql.types._

/** A non-null primitive literal whose generated code reads its value
  * from the generated class's `references` (`ctx.addReferenceObj`, the
  * way [[graft.functions.ChunkKernelExpr]] holds its box) into a field
  * set once per class instance. A [[Literal]] inlines its value into the
  * Java source, so two plans that differ only in a bound compile two
  * classes; with the value held by reference they generate the same
  * source and share one compiled class through Spark's codegen cache.
  *
  * `eval` and the generated code return the literal's value, so every
  * parent expression computes what it computed over the literal.
  * Not foldable: nothing may constant-fold it back into the source.
  */
final case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null && ParamLiterals.primitive(dataType),
    s"ParamLiteral holds a non-null primitive, got $value: $dataType")

  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, classOf[java.lang.Number].getName)
    val v = ctx.addMutableState(javaType, "param",
      v => s"$v = $ref.${javaType}Value();", forceInline = true)
    ev.copy(code = EmptyBlock, isNull = FalseLiteral,
      value = JavaCode.global(v, dataType))
  }

  // plans print as they would over the literal
  private def literal = Literal(value, dataType)
  override def toString: String = literal.toString
  override def sql: String = literal.sql
}

/** A dynamic partition-pruning test whose generated code calls `eval`
  * on it, held by reference. Spark's [[InSubqueryExec]] generates a
  * `switch` over the values its subquery returned, so every query's
  * pruning set (the time chunks of an aligned join's broadcast side)
  * would compile a predicate class of its own. The test runs once per
  * partition directory on the driver, so interpreting it costs nothing.
  */
final case class PruningByReference(child: InSubqueryExec)
    extends UnaryExpression with Predicate with CodegenFallback {
  override def nullable: Boolean = child.nullable
  override def eval(input: InternalRow): Any = child.eval(input)
  override protected def withNewChildInternal(c: Expression): PruningByReference =
    copy(child = c.asInstanceOf[InSubqueryExec])

  // plans print as they would over the subquery test
  override def toString: String = child.toString
  override def sql: String = child.sql
}

/** The physical rule that takes per-query constants out of generated
  * code: every non-null primitive literal that is an operand of a
  * comparison or of an arithmetic operator, inside the conditions of
  * `FilterExec` and the lists of `ProjectExec`, becomes a
  * [[ParamLiteral]]. An analyst's window bounds, chunk ranges
  * and lat/lng/t bounds reach those operators as such literals, so two
  * queries of one shape at different offsets then compile nothing new.
  *
  * What Spark needs as a literal stays one: the scan's pushed and
  * partition filters (fields of the scan node, which the rule does not
  * visit), partitioning and ordering expressions, window frames, and
  * every literal outside a comparison or arithmetic (a `round` scale, a
  * `sequence` step). Null, boolean, decimal, date, timestamp, interval
  * and string literals stay literals: only int, long, short, byte, float
  * and double values are inlined by Spark's codegen.
  *
  * A file scan's dynamic partition-pruning test is the one change to a
  * scan: it becomes a [[PruningByReference]], so a new pruning set
  * compiles nothing either. The static partition filters beside it,
  * which prune the file listing, are not touched.
  *
  * Runs before whole-stage codegen collapses the plan, as the
  * pre-columnar-transition rule [[graft.GraftExtensions]] injects. By
  * then Spark has planned the pruning subqueries (adaptive execution
  * plans them per query stage, before the columnar rules).
  */
object ParamLiterals extends Rule[SparkPlan] {

  private[plans] def primitive(t: DataType): Boolean = t match {
    case IntegerType | LongType | ShortType | ByteType | FloatType | DoubleType => true
    case _ => false
  }

  private def param(e: Expression): Expression = e match {
    case Literal(v, t) if v != null && primitive(t) => ParamLiteral(v, t)
    case other => other
  }

  /** `e` with the literal operands of its comparisons and arithmetic
    * replaced. */
  def params(e: Expression): Expression = e.transformUp {
    case op @ (_: BinaryComparison | _: BinaryArithmetic) =>
      op.withNewChildren(op.children.map(param))
  }

  private def pruning(e: Expression): Expression = e match {
    case DynamicPruningExpression(in: InSubqueryExec)
        if !in.plan.isInstanceOf[SubqueryAdaptiveBroadcastExec] =>
      DynamicPruningExpression(PruningByReference(in))
    case other => other
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec => f.copy(condition = params(f.condition))
    case p: ProjectExec =>
      p.copy(projectList = p.projectList.map(params(_).asInstanceOf[NamedExpression]))
    case s: FileSourceScanExec if s.partitionFilters.exists(e => pruning(e) ne e) =>
      s.copy(partitionFilters = s.partitionFilters.map(pruning))
  }
}
