package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.TestSpark

/** A [[ParamLiteral]] computes what the [[Literal]] it replaces
  * computes: every comparison and arithmetic operator over every
  * primitive type, evaluated and generated, agrees with the literal
  * form on ordinary values, NaN, -0.0, the type's extremes and NULL
  * inputs, and raises the same ANSI errors (overflow, division by zero).
  * The rule leaves null, non-primitive and non-operand literals alone,
  * and a session with the rule answers as one without it, with
  * whole-stage codegen on and off.
  */
class ParamLiteralSpec extends AnyFunSuite {
  lazy val base: SparkSession = TestSpark.spark
  lazy val ext: SparkSession = TestSpark.withGraftExtensions()

  private val values: Map[DataType, Seq[Any]] = Map(
    IntegerType -> Seq(0, 1, -7, Int.MaxValue, Int.MinValue),
    LongType -> Seq(0L, 3L, -11L, Long.MaxValue, Long.MinValue),
    ShortType -> Seq(0.toShort, 5.toShort, Short.MaxValue, Short.MinValue),
    ByteType -> Seq(0.toByte, -3.toByte, Byte.MaxValue, Byte.MinValue),
    FloatType -> Seq(0.0f, -0.0f, 1.5f, Float.NaN, Float.PositiveInfinity,
      Float.MinValue),
    DoubleType -> Seq(0.0, -0.0, 2.25, Double.NaN, Double.NegativeInfinity,
      Double.MaxValue))

  private val comparisons: Seq[(Expression, Expression) => Expression] = Seq(
    EqualTo(_, _), EqualNullSafe(_, _), LessThan(_, _), LessThanOrEqual(_, _),
    GreaterThan(_, _), GreaterThanOrEqual(_, _))

  /** ANSI arithmetic valid for `t` (Divide takes doubles only,
    * IntegralDivide longs). */
  private def arithmetic(t: DataType): Seq[(Expression, Expression) => Expression] =
    Seq[(Expression, Expression) => Expression](
      Add(_, _, EvalMode.ANSI), Subtract(_, _, EvalMode.ANSI),
      Multiply(_, _, EvalMode.ANSI), Remainder(_, _, EvalMode.ANSI),
      Pmod(_, _, EvalMode.ANSI)) ++ (t match {
      case DoubleType => Seq[(Expression, Expression) => Expression](Divide(_, _, EvalMode.ANSI))
      case LongType => Seq[(Expression, Expression) => Expression](IntegralDivide(_, _, EvalMode.ANSI))
      case _ => Nil
    })

  /** The value, or the error class and message. */
  private def outcome(f: => Any): Either[String, Any] =
    try scala.util.Right(f match {
      case d: Double if d.isNaN => "NaN"
      case f: Float if f.isNaN => "NaN"
      case other => other
    })
    catch { case e: Exception => scala.util.Left(s"${e.getClass.getName}: ${e.getMessage}") }

  /** Every operator over (input, value) and (value, input), literal form
    * against parameter form; `run` evaluates one expression on one row. */
  private def agreeEverywhere(run: (Expression, InternalRow) => Any): Int = {
    var cases = 0
    for ((t, vs) <- values; op <- comparisons ++ arithmetic(t); v <- vs;
         input <- vs :+ null; litLeft <- Seq(false, true)) {
      val ref = BoundReference(0, t, nullable = true)
      def build(c: Expression) = if (litLeft) op(c, ref) else op(ref, c)
      val row = InternalRow(input)
      val expected = outcome(run(build(Literal(v, t)), row))
      val got = outcome(run(build(ParamLiteral(v, t)), row))
      assert(got == expected,
        s"${build(Literal(v, t))} at $input ($t): $got, literal form $expected")
      cases += 1
    }
    cases
  }

  test("eval agrees with the literal form for every primitive type and operator") {
    assert(agreeEverywhere((e, row) => e.eval(row)) > 2000)
  }

  test("generated code agrees with the literal form for every primitive type and operator") {
    agreeEverywhere { (e, row) =>
      val p = GenerateUnsafeProjection.generate(Seq(e))
      val out = p(row)
      if (out.isNullAt(0)) null else out.get(0, e.dataType)
    }
  }

  test("ANSI overflow and division by zero raise the literal form's errors") {
    val i = BoundReference(0, IntegerType, nullable = true)
    val d = BoundReference(0, DoubleType, nullable = true)
    val cases = Seq(
      (Add(i, Literal(Int.MaxValue), EvalMode.ANSI), InternalRow(1)),
      (Multiply(Literal(Int.MinValue), i, EvalMode.ANSI), InternalRow(-1)),
      (Remainder(i, Literal(0), EvalMode.ANSI), InternalRow(4)),
      (Divide(d, Literal(0.0), EvalMode.ANSI), InternalRow(1.0)))
    for ((e, row) <- cases; run <- Seq[Expression => Any](
        _.eval(row), x => GenerateUnsafeProjection.generate(Seq(x))(row).get(0, x.dataType))) {
      val expected = outcome(run(e))
      assert(expected.isLeft, s"$e did not fail")
      assert(outcome(run(ParamLiterals.params(e))) == expected, e.toString)
    }
  }

  test("null, non-primitive and non-operand literals stay literals") {
    val i = AttributeReference("i", IntegerType)()
    val keep = Seq(
      EqualTo(i, Literal(null, IntegerType)),
      EqualTo(AttributeReference("s", StringType)(), Literal("a")),
      LessThan(AttributeReference("m", DecimalType(10, 2))(), Literal(Decimal(1.5))),
      LessThan(AttributeReference("d", DateType)(), Literal(19000, DateType)),
      EqualTo(AttributeReference("b", BooleanType)(), Literal(true)),
      Round(AttributeReference("x", DoubleType)(), Literal(2)),
      Coalesce(Seq(i, Literal(3))))
    keep.foreach(e => assert(ParamLiterals.params(e) == e, e.toString))
    assert(ParamLiterals.params(Add(i, Literal(3))) == Add(i, ParamLiteral(3, IntegerType)))
    // the literal inside Round's child is an operand; its scale is not
    assert(ParamLiterals.params(Round(Add(i, Literal(1)), Literal(2))) ==
      Round(Add(i, ParamLiteral(1, IntegerType)), Literal(2)))
  }

  /** One row per value of each type, plus a row of NULLs, in Parquet
    * (over a local relation the optimizer would evaluate the queries). */
  private lazy val framePath: String = {
    val types = Seq(IntegerType, LongType, ShortType, ByteType, FloatType, DoubleType)
    val schema = StructType(types.map(t => StructField(t.simpleString, t)))
    val n = types.map(values(_).length).max
    val rows = (0 until n).map(k => Row(types.map(t => values(t)(k % values(t).length)): _*)) :+
      Row(types.map(_ => null): _*)
    val path = TestSpark.tmpDir("param_frame") + "/frame"
    base.createDataFrame(java.util.Arrays.asList(rows: _*), schema).write.parquet(path)
    path
  }
  private def frame(s: SparkSession): DataFrame = s.read.parquet(framePath)

  /** Filters and projections over every type's column, each holding
    * literal operands the rule replaces. */
  private def queries(s: SparkSession): Seq[DataFrame] = {
    val f = frame(s)
    val cols = f.columns.toSeq
    def l(c: String, v: Any): Column = lit(v).cast(f.schema(c).dataType)
    cols.flatMap { c =>
      val v = values(f.schema(c).dataType)
      Seq(
        f.filter(col(c) === l(c, v(1)) || col(c) < l(c, v(2)) || col(c) <=> l(c, v(3))),
        f.filter(col(c) >= l(c, v.last)).select(col(c)),
        f.select(col(c), (col(c) <=> l(c, v(1))).as("ns"), (col(c) > l(c, v(0))).as("gt"),
          try_add(col(c), l(c, v(2))).as("p"), try_multiply(col(c), l(c, v(1))).as("m"),
          (col(c) % l(c, v(2))).as("r")))
    }
  }

  private def answers(s: SparkSession): Seq[Seq[String]] =
    queries(s).map(_.collect().map(_.toString).toSeq.sorted)

  for (wholeStage <- Seq(true, false))
    test(s"a session with the rule answers as one without it (whole-stage codegen $wholeStage)") {
      val key = "spark.sql.codegen.wholeStage"
      Seq(base, ext).foreach(_.conf.set(key, wholeStage))
      try {
        assert(answers(ext) == answers(base))
        val plans = queries(ext).map(_.queryExecution.executedPlan)
        assert(plans.forall(p => TestSpark.walkPlan(p).exists(
          _.expressions.exists(_.exists(_.isInstanceOf[ParamLiteral])))))
      } finally Seq(base, ext).foreach(_.conf.unset(key))
    }
}
