package graft.grid

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import graft.TestSpark

/** J2 — co-located chunk joins via bucketed tables: same bucket count on
  * (frac_num, time_chunk) on both sides means the aligned join plans
  * WITHOUT any shuffle exchange, and results equal the shuffling path.
  */
class BucketedJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def shuffleCount(df: org.apache.spark.sql.DataFrame): Int = {
    df.collect() // finalize any adaptive plan
    val plan = df.queryExecution.executedPlan
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case other =>
          other +: (other.children.flatMap(walk) ++
            other.subqueries.flatMap(walk))
      }
    walk(plan).count(_.isInstanceOf[ShuffleExchangeExec])
  }

  test("bucketed two-grid align joins with zero shuffles, same results") {
    val ndviRoot = java.nio.file.Files.createTempDirectory("graft_bk_n").toString
    val qaRoot = java.nio.file.Files.createTempDirectory("graft_bk_q").toString
    val (nh, qh) = SyntheticGrid.writeMiniModis(spark, ndviRoot, qaRoot)

    FractionStore.writeBucketed(spark, nh,
      FractionStore.fractions(spark, ndviRoot), "bk_ndvi", nBuckets = 8)
    FractionStore.writeBucketed(spark, qh,
      FractionStore.fractions(spark, qaRoot), "bk_qa", nBuckets = 8)
    try {
      val joined = FractionStore.bucketedAlignedJoinN(spark,
        Seq((nh, "bk_ndvi"), (qh, "bk_qa")), masks = Seq(true, false))
      assert(shuffleCount(joined) == 0,
        "bucketed chunk join must not exchange either side")

      // same values as the shuffling aligned load over the full extent
      val expected = FractionStore.loadAlignedSliceXY(spark,
        Seq((nh, ndviRoot), (qh, qaRoot)),
        0, nh.width, 0, nh.height, 0, nh.nDates, masks = Seq(true, false))
      val got = joined.agg(
        count(lit(1)), count(col("value_0")), sum(col("value_0")),
        sum(col("value_1"))).collect()(0)
      val exp = expected.agg(
        count(lit(1)), count(col("value_0")), sum(col("value_0")),
        sum(col("value_1"))).collect()(0)
      assert(got == exp)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bk_ndvi")
      spark.sql("DROP TABLE IF EXISTS bk_qa")
      GridExportsHelper.rm(spark, ndviRoot); GridExportsHelper.rm(spark, qaRoot)
    }
  }

  test("bucketed THREE-grid align joins with zero shuffles, same results") {
    val ndviRoot = java.nio.file.Files.createTempDirectory("graft_bk3_n").toString
    val qaRoot = java.nio.file.Files.createTempDirectory("graft_bk3_q").toString
    val thirdRoot = java.nio.file.Files.createTempDirectory("graft_bk3_t").toString
    val (nh, qh) = SyntheticGrid.writeMiniModis(spark, ndviRoot, qaRoot)
    // third grid on the same geogrid: the ndvi chunks re-written under
    // a new header name (values identical, store independent)
    val th = nh.copy(name = "minimodis_band3")
    FractionStore.write(spark, th,
      FractionStore.fractions(spark, ndviRoot), thirdRoot)
    for ((t, root, h) <- Seq(("bk3_ndvi", ndviRoot, nh),
        ("bk3_qa", qaRoot, qh), ("bk3_third", thirdRoot, th)))
      FractionStore.writeBucketed(spark, h,
        FractionStore.fractions(spark, root), t, nBuckets = 8)
    try {
      val joined = FractionStore.bucketedAlignedJoinN(spark,
        Seq((nh, "bk3_ndvi"), (qh, "bk3_qa"), (th, "bk3_third")),
        masks = Seq(true, false, true))
      assert(shuffleCount(joined) == 0,
        "3-way bucketed chunk join must not exchange any side")
      val expected = FractionStore.loadAlignedSliceXY(spark,
        Seq((nh, ndviRoot), (qh, qaRoot), (th, thirdRoot)),
        0, nh.width, 0, nh.height, 0, nh.nDates,
        masks = Seq(true, false, true))
      def sig(df: org.apache.spark.sql.DataFrame) = df.agg(
        count(lit(1)), count(col("value_0")), sum(col("value_0")),
        sum(col("value_1")), sum(col("value_2"))).collect()(0)
      assert(sig(joined) == sig(expected))
    } finally {
      Seq("bk3_ndvi", "bk3_qa", "bk3_third")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      Seq(ndviRoot, qaRoot, thirdRoot).foreach(GridExportsHelper.rm(spark, _))
    }
  }

  test("pipeline over bucketed table inputs == pipeline over store paths") {
    val ndviRoot = java.nio.file.Files.createTempDirectory("graft_bkp_n").toString
    val qaRoot = java.nio.file.Files.createTempDirectory("graft_bkp_q").toString
    val (nh, qh) = SyntheticGrid.writeMiniModis(spark, ndviRoot, qaRoot)
    FractionStore.writeBucketed(spark, nh,
      FractionStore.fractions(spark, ndviRoot), "bkp_ndvi", nBuckets = 8)
    FractionStore.writeBucketed(spark, qh,
      FractionStore.fractions(spark, qaRoot), "bkp_qa", nBuckets = 8)
    val outA = java.nio.file.Files.createTempDirectory("graft_bkp_oa").toString
    val outB = java.nio.file.Files.createTempDirectory("graft_bkp_ob").toString
    def kernel(row: FracRow, payloads: Seq[Array[Double]]): Array[Double] = {
      val Seq(nd, q) = payloads
      Array.tabulate(nd.length)(i => if (q(i) % 2 == 0) nd(i) else -3000.0)
    }
    try {
      val hA = nh.copy(name = "bkp_out_paths")
      val hB = nh.copy(name = "bkp_out_tables")
      new GridPipeline(Seq((nh, ndviRoot), (qh, qaRoot)), hA, outA)
        .run(spark)(kernel)
      new GridPipeline(Seq((nh, "table:bkp_ndvi"), (qh, "table:bkp_qa")), hB, outB)
        .run(spark)(kernel)
      def all(h: GridHeader, r: String) =
        FractionStore.loadSliceXY(spark, h, r, 0, h.width, 0, h.height,
          0, h.nDates, maskNodata = false)
          .select("x", "y", "t", "value")
      assert(all(hA, outA).except(all(hB, outB)).isEmpty &&
        all(hB, outB).except(all(hA, outA)).isEmpty)
      assert(all(hA, outA).count() == nh.width.toLong * nh.height * nh.nDates)
    } finally {
      Seq("bkp_ndvi", "bkp_qa").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      Seq(ndviRoot, qaRoot, outA, outB).foreach(GridExportsHelper.rm(spark, _))
    }
  }
}

private object GridExportsHelper {
  def rm(spark: org.apache.spark.sql.SparkSession, root: String): Unit =
    try graft.sources.GridExports.deleteStore(spark, root)
    catch { case _: Throwable => }
}
