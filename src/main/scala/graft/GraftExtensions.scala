package graft

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.Expression
import graft.functions.{QaDecode, TextFunctions}
import graft.grid.GeoTransform
import graft.ops.Dedup

/** SQL surface for the engine's scalar kernels: registers them as named
  * functions so `spark.sql("SELECT modis_qa_conf(qa) ...")` works — via
  * `SparkSessionExtensions` (config `spark.sql.extensions=
  * graft.GraftExtensions`) or imperatively with
  * [[GraftFunctions.register]].
  *
  * Each function lowers to the same codegen'd Column chains the Scala
  * API uses — the registry entry just adapts Seq[Expression] => Expression.
  */
object GraftFunctions {

  private def lift1(f: Column => Column): Seq[Expression] => Expression =
    exprs => expression(f(column(exprs.head)))
  private def lift2(f: (Column, Column) => Column): Seq[Expression] => Expression =
    exprs => expression(f(column(exprs(0)), column(exprs(1))))

  val all: Map[String, Seq[Expression] => Expression] = Map(
    "modis_qa_conf" -> lift1(QaDecode.modisQaConf),
    "landsat8_qa_conf" -> lift1(QaDecode.landsat8QaConf),
    "glcf_class_name" -> lift1(graft.functions.GlcfClasses.className),
    "sinusoidal_x" -> lift2(GeoTransform.latLngToSinuX),
    "sinusoidal_y" -> lift1(GeoTransform.latLngToSinuY),
    "sinusoidal_lat" -> lift1(GeoTransform.sinuToLat),
    "sinusoidal_lng" -> lift2(GeoTransform.sinuToLng),
    "lang_id" -> lift1(TextFunctions.langId),
    "quality_score" -> lift1(TextFunctions.qualityScore),
    "text_fingerprint" -> lift1(TextFunctions.fingerprint),
    "token_count" -> lift1(TextFunctions.tokenCount),
    "repetition_ratio" -> lift1(TextFunctions.repetitionRatio(_)),
    "bpe_token_count" -> lift1(TextFunctions.approxBpeTokenCount),
    "nfc_normalize" -> lift1(graft.functions.NfcNormalizeExpr(_)),
    "normalize_text" -> lift1(TextFunctions.normalizeText),
    "simhash64" -> lift1(Dedup.simhash64),
    // aggregates + sketch readers (round 8): the builders return
    // AggregateExpressions, so they register as SQL aggregate
    // functions; shape parameters must be foldable literals.
    "eq_hist" -> { exprs =>
      require(exprs.length == 4, "eq_hist(value, lo, hi, bins)")
      graft.functions.EqHistAgg(expression(column(exprs(0)).cast("double")),
        foldableDouble(exprs(1), "lo"), foldableDouble(exprs(2), "hi"),
        foldableDouble(exprs(3), "bins").toInt).toAggregateExpression()
    },
    "hist_merge" -> { exprs =>
      require(exprs.length == 1, "hist_merge(hist)")
      // cast pins the child to array<bigint>: HistMergeAgg reads 8-byte
      // slots, so an uncast array<int> input would decode garbage
      graft.functions.HistMergeAgg(
        expression(column(exprs.head).cast("array<bigint>")))
        .toAggregateExpression()
    },
    "hist_quantile" -> { exprs =>
      require(exprs.length == 4, "hist_quantile(hist, q, lo, hi)")
      expression(graft.ops.Sketches.histQuantile(column(exprs(0)),
        foldableDouble(exprs(1), "q"), foldableDouble(exprs(2), "lo"),
        foldableDouble(exprs(3), "hi")))
    },
    "topk_agg" -> { exprs =>
      require(exprs.length == 3, "topk_agg(score, id, k)")
      // TopKAgg declares no inputTypes, so coerce here: an INT/BIGINT
      // score or INT id would otherwise CCE executor-side
      graft.functions.TopKAgg(
        expression(column(exprs(0)).cast("double")),
        expression(column(exprs(1)).cast("bigint")),
        foldableDouble(exprs(2), "k").toInt).toAggregateExpression()
    })

  private def foldableDouble(e: Expression, name: String): Double = {
    require(e.foldable, s"$name must be a literal")
    e.eval() match {
      case null => throw new IllegalArgumentException(s"$name is null")
      case n: java.lang.Number => n.doubleValue()
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case other =>
        throw new IllegalArgumentException(s"$name: non-numeric $other")
    }
  }

  /** Imperative registration on an existing session. */
  def register(spark: SparkSession): Unit =
    all.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "scala_udf")
    }
}

/** `spark.sql.extensions` entry point. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", name), builder))
    }
    // SURVEY §4's optional rule: lat/lng range predicates -> chunk-column
    // predicates the parquet scan can prune. Post-hoc resolution (not
    // optimizer) so it sees the lat/lng attributes before predicate
    // pushdown substitutes them away.
    e.injectPostHocResolutionRule(_ => graft.plans.LatLngPruning.Rule)
    // per-query bounds out of generated code: queries of one shape at
    // other offsets reuse the compiled classes. Before the columnar
    // transitions, so before whole-stage codegen collapses the plan.
    e.injectColumnar(_ => new org.apache.spark.sql.execution.ColumnarRule {
      override def preColumnarTransitions = graft.plans.ParamLiterals
    })
  }
}
