package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftColumnBridge
import graft.TestSpark
import graft.grid._

/** The lat/lng pruning rule must (a) never change results and (b) land
  * frac-range predicates in the parquet scan's PushedFilters. The rule
  * runs at post-hoc resolution (GraftExtensions), where the lat/lng
  * attributes still exist; here we apply it to the analyzed plan the
  * same way the injection point does.
  */
class LatLngPruningSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  lazy val root: String = {
    val r = TestSpark.tmpDir("prune_grid")
    SyntheticGrid.writeTiny(spark, r)
    r
  }
  lazy val header: GridHeader = GridHeader.load(spark, root)

  def geoView = LatLngPruning.withGeoColumns(header,
    FractionStore.fractions(spark, root))

  // tiny grid: lng = 0.01*(x+.5), lat = -0.01*(y+.5)
  def query = geoView
    .filter(col("lat").between(-0.4, -0.1) && col("lng").between(0.1, 0.5))
    .filter(col("t") === 0)

  def withRule = GraftColumnBridge.ofRows(spark,
    LatLngPruning.Rule(query.queryExecution.analyzed))

  test("rule preserves results exactly") {
    val without = query.select("x", "y", "t", "value").collect().toSet
    val got = withRule.select("x", "y", "t", "value").collect().toSet
    assert(got == without && without.nonEmpty)
  }

  private def scanFilters: String = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    withRule.queryExecution.executedPlan.collectLeaves().collect {
      case s: FileSourceScanExec => s.dataFilters.mkString(";")
    }.mkString(";")
  }

  test("rule lands frac-range predicates on the scan") {
    val s = scanFilters
    assert("frac_y#\\d+ >= \\d+".r.findFirstIn(s).nonEmpty,
      s"frac_y lower bound not pushed: $s")
    assert("frac_x#\\d+ <= \\d+".r.findFirstIn(s).nonEmpty,
      s"frac_x upper bound not pushed: $s")
  }

  test("pruned fraction range is correct and tight (±1 chunk)") {
    // lat in [-0.4, -0.1] -> y in ~[9.5, 39.5] -> frac_y in [1, 8]±1
    // lng in [0.1, 0.5]   -> x in ~[9.5, 49.5] -> frac_x in [0, 2]±1
    val s = scanFilters
    val fy = "frac_y#\\d+ >= (\\d+)".r.findFirstMatchIn(s).map(_.group(1).toInt)
    val fx = "frac_x#\\d+ <= (\\d+)".r.findFirstMatchIn(s).map(_.group(1).toInt)
    assert(fy.exists(v => v >= 1 && v <= 2), s"frac_y lower: $fy in $s")
    assert(fx.exists(v => v >= 2 && v <= 3), s"frac_x upper: $fx in $s")
  }

  test("sinusoidal grid: a lat+lng box prunes BOTH frac_x and frac_y") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // minimodis: sinusoidal 200x200, 4x4 fractions of 50 px, lat in
    // ~[0, 10], lng in ~[10, 20.3] (h19v08-style geot scaled down)
    val ndviRoot = TestSpark.tmpDir("prune_sinu_ndvi")
    val qaRoot = TestSpark.tmpDir("prune_sinu_qa")
    val (nh, _) = SyntheticGrid.writeMiniModis(spark, ndviRoot, qaRoot)
    def q = LatLngPruning.withGeoColumns(nh,
      FractionStore.fractions(spark, ndviRoot))
      .filter(col("lat").between(2.0, 4.0) && col("lng").between(12.0, 14.0))
      .filter(col("t") === 0)
    val pruned = GraftColumnBridge.ofRows(spark,
      LatLngPruning.Rule(q.queryExecution.analyzed))
    // (a) results never change
    val without = q.select("x", "y", "t", "value").collect().toSet
    val got = pruned.select("x", "y", "t", "value").collect().toSet
    assert(got == without && without.nonEmpty)
    // (b) both axes land bounded ranges on the scan:
    // lat [2,4] -> y ~[119.5, 159.5] -> frac_y [2,3]±margin
    // lng [12,14] x cos(lat) -> x ~[38.9, 79.3] -> frac_x [0,1]±margin
    val s = pruned.queryExecution.executedPlan.collectLeaves().collect {
      case sc: FileSourceScanExec => sc.dataFilters.mkString(";")
    }.mkString(";")
    val fxHi = "frac_x#\\d+ <= (\\d+)".r.findFirstMatchIn(s).map(_.group(1).toInt)
    val fyLo = "frac_y#\\d+ >= (\\d+)".r.findFirstMatchIn(s).map(_.group(1).toInt)
    val fyHi = "frac_y#\\d+ <= (\\d+)".r.findFirstMatchIn(s).map(_.group(1).toInt)
    assert(fxHi.exists(v => v >= 1 && v <= 2), s"frac_x upper: $fxHi in $s")
    assert(fyLo.exists(v => v >= 1 && v <= 2), s"frac_y lower: $fyLo in $s")
    assert(fyHi.exists(v => v == 3), s"frac_y upper: $fyHi in $s")
  }

  /** The tiny-grid lat/lng box with `t` bounded in the same filter. */
  private def timeQuery(t: org.apache.spark.sql.Column) = geoView
    .filter(col("lat").between(-0.4, -0.1) && col("lng").between(0.1, 0.5) && t)

  private def partitionFilters(df: org.apache.spark.sql.DataFrame): String = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    GraftColumnBridge.ofRows(spark, LatLngPruning.Rule(df.queryExecution.analyzed))
      .queryExecution.executedPlan.collectLeaves().collect {
        case s: FileSourceScanExec => s.partitionFilters.mkString(";")
      }.mkString(";")
  }

  test("rule lands a time_chunk range on the scan's PartitionFilters") {
    // tiny grid: 3 dates per time chunk, so t in [4, 7] -> chunks [1, 2]
    val s = partitionFilters(timeQuery(col("t").between(4, 7)))
    assert("time_chunk#\\d+ >= 1".r.findFirstIn(s).nonEmpty, s"lower: $s")
    assert("time_chunk#\\d+ <= 2".r.findFirstIn(s).nonEmpty, s"upper: $s")
    val eq = partitionFilters(timeQuery(col("t") === 5))
    assert("time_chunk#\\d+ >= 1".r.findFirstIn(eq).nonEmpty &&
      "time_chunk#\\d+ <= 1".r.findFirstIn(eq).nonEmpty, s"t = 5: $eq")
  }

  test("time pruning preserves results, strict and non-strict bounds") {
    val t = col("t")
    for (cond <- Seq(t.between(4, 7), t >= 3 && t <= 5, t > 2 && t < 6,
        t > 5, t < 3, lit(6) > t, lit(2) <= t, t === 3, t > 9, t > 4 && t < 4)) {
      val q = timeQuery(cond)
      val without = q.select("x", "y", "t", "value").collect().toSet
      val got = GraftColumnBridge.ofRows(spark,
          LatLngPruning.Rule(q.queryExecution.analyzed))
        .select("x", "y", "t", "value").collect().toSet
      assert(got == without, s"$cond")
      assert(partitionFilters(q).contains("time_chunk"), s"$cond")
    }
  }

  test("a t bound in a filter of its own prunes time_chunk too") {
    // `query` stacks the lat/lng box and t = 0 as two filters
    val s = partitionFilters(query)
    assert("time_chunk#\\d+ >= 0".r.findFirstIn(s).nonEmpty &&
      "time_chunk#\\d+ <= 0".r.findFirstIn(s).nonEmpty, s)
  }

  private def sameWithRule(q: org.apache.spark.sql.DataFrame): Unit = {
    val without = q.collect().toSet
    val got = GraftColumnBridge.ofRows(spark,
      LatLngPruning.Rule(q.queryExecution.analyzed)).collect().toSet
    assert(got == without && without.nonEmpty)
  }

  test("a recomputed t bounds no time chunk") {
    // the new t is stored t - 3: t <= 2 keeps stored dates 3..5 (chunk 1)
    val q = geoView.withColumn("t", col("t") - 3)
      .filter(col("lat").between(-0.4, -0.1) && col("lng").between(0.1, 0.5) &&
        col("t") <= 2)
    sameWithRule(q.select("x", "y", "t", "value"))
    assert(!partitionFilters(q).contains("time_chunk"), partitionFilters(q))
  }

  test("a t of another table in a join bounds no time chunk") {
    import spark.implicits._
    val other = Seq(5, 6, 7).toDF("t")
    val q = geoView.drop("t").crossJoin(other)
      .filter(col("lat").between(-0.4, -0.1) && col("lng").between(0.1, 0.5) &&
        col("t") >= 5)
    sameWithRule(q.groupBy(col("t")).agg(count(lit(1)).as("n")))
    assert(!partitionFilters(q).contains("time_chunk"), partitionFilters(q))
  }

  test("a column renamed to an axis name bounds nothing") {
    // `lat` here holds lng values; the lng metadata it carries is ignored
    val q = geoView.drop("lat").withColumnRenamed("lng", "lat")
      .filter(col("lat").between(0.1, 0.5))
    val out = LatLngPruning.Rule(q.queryExecution.analyzed)
    assert(out == q.queryExecution.analyzed)
  }

  test("without geo metadata the rule is a no-op") {
    import spark.implicits._
    val plain = Seq((1.0, 2.0)).toDF("lat", "lng")
      .filter(col("lat") >= 0.5)
    val out = LatLngPruning.Rule(plain.queryExecution.analyzed)
    assert(out == plain.queryExecution.analyzed)
  }
}
