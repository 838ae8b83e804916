package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression
import org.apache.spark.sql.execution.{FileSourceScanExec, InSubqueryExec}
import org.apache.spark.sql.functions._

import graft.TestSpark
import graft.grid._

/** Compile once per query shape: in a session with
  * [[graft.GraftExtensions]], each analyst query kind of the raster
  * cube, run again at another offset (another frac range, time-chunk
  * range and t range), compiles no class — its window bounds are
  * [[ParamLiteral]]s the generated code reads by reference. Each answer
  * equals the same query in the shared session, which has no extension
  * (the literal plan). Compiles are counted as Spark's codegen compile
  * histogram (`CodegenMetrics.METRIC_COMPILATION_TIME`).
  */
class CompileOnceSpec extends AnyFunSuite {
  lazy val base: SparkSession = TestSpark.spark
  lazy val ext: SparkSession = TestSpark.withGraftExtensions()

  private lazy val (ndviRoot, qaRoot) = {
    val nr = TestSpark.tmpDir("once_ndvi")
    val qr = TestSpark.tmpDir("once_qa")
    SyntheticGrid.writeMiniModis(base, nr, qr)
    (nr, qr)
  }
  private val nh = SyntheticGrid.miniModisNdviHeader
  private val qh = SyntheticGrid.miniModisQaHeader

  /** A WGS84 lattice inside the sinusoidal tile, for reprojection. */
  private val dst = GridHeader("once_lattice", 160, 160, 50, 50, 2, "float64",
    "wgs84", Seq(11.0, 0.05, 0.0, 9.0, 0.0, -0.05), nh.timestampsMs, Double.NaN)

  /** A query's window: pixel box [x0, x1) x [y0, y1), dates [t0, t1). */
  private case class W(x0: Int, x1: Int, y0: Int, y1: Int, t0: Int, t1: Int) {
    def latLng(x: Double, y: Double): (Double, Double) = nh.xyToLatLng(x, y)
  }
  // same shape, other chunks: frac_x 0-1 -> 1-2, frac_y 0-1 -> 2-3,
  // time chunk 0 -> 1 (two-date slabs)
  private val first = W(10, 60, 20, 70, 0, 2)
  private val shifted = W(70, 120, 110, 160, 2, 4)

  private def compiles[T](f: => T): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** `query` at `first` warms the codegen cache; at `shifted` it must
    * compile nothing. Both answers equal the literal plan's, and the
    * extension session's plan holds the parameters. */
  private def compilesOnce(kind: String)(query: (SparkSession, W) => DataFrame): Unit = {
    val warm = query(ext, first)
    val got1 = rows(warm)
    val again = query(ext, shifted)
    var got2: Seq[String] = Nil
    val n = compiles { got2 = rows(again) }
    assert(n == 0, s"$kind at another offset compiled $n classes")
    assert(got1 == rows(query(base, first)), s"$kind at $first")
    assert(got2 == rows(query(base, shifted)), s"$kind at $shifted")
    assert(got1.nonEmpty && got2.nonEmpty, s"$kind answered nothing")
    val plan = TestSpark.walkPlan(again.queryExecution.executedPlan)
    assert(plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[ParamLiteral]))),
      s"$kind: no parameter in the plan")
    // the scan's pushed and partition filters stay literals
    plan.collect { case s: FileSourceScanExec => s }.foreach { s =>
      assert(!(s.partitionFilters ++ s.dataFilters)
        .exists(_.exists(_.isInstanceOf[ParamLiteral])), s"$kind: ${s.simpleString(200)}")
    }
  }

  test("fused kernels compile once per shape") {
    compilesOnce("boxStatsByT") { (s, w) =>
      GridKernels.boxStatsByT(s, nh, ndviRoot, w.x0, w.x1, w.y0, w.y1, w.t0, w.t1)
    }
    compilesOnce("maskedMeanByT") { (s, w) =>
      GridKernels.maskedMeanByT(s, (nh, ndviRoot), (qh, qaRoot),
        w.x0, w.x1, w.y0, w.y1, w.t0, w.t1)
    }
    compilesOnce("trendSlopeByPixel") { (s, w) =>
      GridKernels.trendSlopeByPixel(s, nh, ndviRoot, w.x0, w.x1, w.y0, w.y1, w.t0, w.t1)
    }
    compilesOnce("cusumByPixel") { (s, w) =>
      GridKernels.cusumByPixel(s, nh, ndviRoot, w.x0, w.x1, w.y0, w.y1, w.t0, w.t1,
        w.t0 + 1, 100.0, 1500.0)
    }
  }

  test("a window load and its smoothing compile once per shape") {
    compilesOnce("loadSliceXY + savgolSmooth") { (s, w) =>
      GridTimeSeries.savgolSmooth(FractionStore.loadSliceXY(s, nh, ndviRoot,
        w.x0, w.x1, w.y0, w.y1, w.t0 / 2, w.t0 / 2 + 3), halfWidth = 2)
        .select(col("x"), col("y"), col("t"), col("value"), col("value_sg"))
    }
  }

  test("zonal statistics compile once per shape") {
    compilesOnce("zonalByRegion") { (s, w) =>
      val rings = Seq((0, 0), (1, 1)).map { case (dx, dy) =>
        val (cx, cy) = ((w.x0 + w.x1) / 2.0 + dx * 12, (w.y0 + w.y1) / 2.0 + dy * 9)
        (s"r$dx", (0 until 6).map { v =>
          val a = 2 * math.Pi * v / 6
          w.latLng(cx + 14 * math.cos(a), cy + 11 * math.sin(a))
        }.toArray)
      }
      GridZonal.zonalByRegion(s, nh, ndviRoot, rings, w.t0, w.t1)
    }
  }

  test("a lat/lng/t filter over the geo columns compiles once per shape") {
    compilesOnce("withGeoColumns") { (s, w) =>
      val (latHi, lngLo) = w.latLng(w.x0 + 0.5, w.y0 + 0.5)
      val (latLo, lngHi) = w.latLng(w.x1 - 0.5, w.y1 - 0.5)
      LatLngPruning.withGeoColumns(nh, FractionStore.fractions(s, ndviRoot))
        .filter(col("lat").between(latLo, latHi) && col("lng").between(lngLo, lngHi) &&
          col("t").between(w.t0, w.t1 - 1))
        .groupBy(col("t"))
        .agg(count(lit(1)).as("n_px"), count(col("value")).as("n_valid"),
          sum(col("value").cast("long")).as("sum_v"))
    }
  }

  test("bilinear reprojection compiles once per shape, whatever the window size") {
    compilesOnce("bilinearGather") { (s, w) =>
      Reproject.bilinearGather(s, nh, ndviRoot, dst,
        w.x0 / 2, w.x0 / 2 + 16, w.y0 / 2, w.y0 / 2 + 12, w.t0)
    }
    // another lattice size: the size is data, not code
    val n = compiles {
      rows(Reproject.bilinearGather(ext, nh, ndviRoot, dst, 40, 61, 30, 39, 1))
    }
    assert(n == 0, s"a 21x9 lattice compiled $n classes")
  }

  test("a dynamic partition-pruning set compiles nothing new") {
    // a partitioned table joined to a small filtered one: the small side
    // is broadcast and its join keys prune the partitions at run time
    val root = TestSpark.tmpDir("once_dpp")
    base.range(0, 4000).select((col("id") % 8).as("p"), col("id").as("v"))
      .write.partitionBy("p").parquet(s"$root/fact")
    base.range(0, 8).select(col("id").as("p"), (col("id") * 10).as("w"))
      .write.parquet(s"$root/dim")
    def query(s: SparkSession, lo: Int, hi: Int): DataFrame =
      s.read.parquet(s"$root/fact")
        .join(s.read.parquet(s"$root/dim").filter(col("w").between(lo, hi)), "p")
        .groupBy(col("p")).agg(sum(col("v")).as("sv"))
    def pruningTests(df: DataFrame) =
      TestSpark.walkPlan(df.queryExecution.executedPlan).collect {
        case s: FileSourceScanExec => s.partitionFilters
      }.flatten.collect { case DynamicPruningExpression(e) => e }
    val warm = query(ext, 10, 30)
    val got1 = rows(warm)
    val again = query(ext, 40, 60)
    var got2: Seq[String] = Nil
    val n = compiles { got2 = rows(again) }
    assert(n == 0, s"another pruning set compiled $n classes")
    assert(got1 == rows(query(base, 10, 30)) && got1.size == 3)
    assert(got2 == rows(query(base, 40, 60)) && got2.size == 3)
    assert(pruningTests(again).exists(_.isInstanceOf[PruningByReference]),
      again.queryExecution.executedPlan.toString)
    val literal = query(base, 40, 60)
    rows(literal)
    assert(pruningTests(literal).exists(_.isInstanceOf[InSubqueryExec]),
      "the base session plans no dynamic pruning: the test joins nothing to prune")
  }
}
