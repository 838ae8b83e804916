package graft.grid

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Polygon-count sweep of [[GridZonal.zonalByRegion]] at fixed coverage:
  * a 320 x 320 px square of a 400 x 400 px x 8-date int16 store (100 x
  * 100 px x 8-date chunks) is tiled by 10, 1k and 100k rectangles, so
  * every count folds the same 102,400 pixels x 8 dates. For each count
  * it prints the driver's scanline-table build time and the table's
  * serialized size (it ships with every task), then the best of three
  * warm runs: wall, executor cpu and client-thread cpu, for the whole
  * call and for its kernel scan alone (reduced to one row). The exploded
  * oracle ([[ExplodedZonal]]) runs at 10 regions for contrast (at 1k its
  * plan of 1k membership branches did not finish planning in minutes).
  *
  * Run: sbt "Test/runMain graft.grid.ZonalPolygonSweep" (local[3]).
  */
object ZonalPolygonSweep {

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[3]")
      .config("spark.sql.shuffle.partitions", "3")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val h = GridHeader(name = "sweep", width = 400, height = 400,
      fracWidth = 100, fracHeight = 100, fracNDates = 8, dtype = "int16",
      srs = "wgs84", geot = Seq(0.0, 1.0, 0.0, 0.0, 0.0, -1.0),
      timestampsMs = (0 until 8).map(_ * 86400000L), nodata = -1.0)
    val root = java.nio.file.Files.createTempDirectory("zonal_sweep").toString
    FractionStore.write(spark, h, FractionStore.fromPixels(spark, h,
      SyntheticGrid.pixelDf(spark, h, (x, y, t) =>
        when((x * 3 + y + t) % 11 === 0, lit(-1.0))
          .otherwise(((x * 31 + y * 17 + t * 7) % 97).cast("double")))), root)

    val executorNs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) executorNs.addAndGet(e.taskMetrics.executorCpuTime)
    })
    val threadCpu = ManagementFactory.getThreadMXBean

    /** Best of three warm runs (after one untimed): wall ms, executor
      * cpu ms, client cpu ms, result rows. */
    def timed(run: => Array[_]): (Double, Double, Double, Int) = {
      run
      (1 to 3).map { _ =>
        executorNs.set(0)
        val (c0, w0) = (threadCpu.getCurrentThreadCpuTime, System.nanoTime)
        val n = run.length
        val (w1, c1) = (System.nanoTime, threadCpu.getCurrentThreadCpuTime)
        ((w1 - w0) / 1e6, executorNs.get / 1e6, (c1 - c0) / 1e6, n)
      }.minBy(_._1)
    }

    for ((n, (a, b)) <- Seq(10 -> (2, 5), 1000 -> (25, 40), 100000 -> (250, 400))) {
      val xe = (0 to a).map(i => 40 + 320.0 * i / a)
      val ye = (0 to b).map(j => 40 + 320.0 * j / b)
      val regions = for (i <- 0 until a; j <- 0 until b) yield
        s"r${i}_$j" -> Array((xe(i), ye(j)), (xe(i + 1), ye(j)),
          (xe(i + 1), ye(j + 1)), (xe(i), ye(j + 1))).map { case (x, y) => (-y, x) }
      val rings = regions.map(_._2.map { case (lat, lng) => h.latLngToXY(lat, lng) })
      val b0 = System.nanoTime
      val table = RegionIntervals(rings, 40, 360, 40, 360)
      val buildMs = (System.nanoTime - b0) / 1e6
      val bytes = new java.io.ByteArrayOutputStream
      new java.io.ObjectOutputStream(bytes).writeObject(table)
      val (wall, exec, client, rows) = timed(
        GridZonal.zonalByRegion(spark, h, root, regions, 0, 8).collect())
      println(f"fused    n=$n%6d intervals=${table.region.length}%6d " +
        f"table_bytes=${bytes.size}%8d build_ms=$buildMs%7.1f wall_ms=$wall%8.1f " +
        f"executor_cpu_ms=$exec%8.1f client_cpu_ms=$client%8.1f rows=$rows")
      // the kernel scan alone, reduced to one row: the fold plus the
      // table each task receives, without the (region, t) aggregation
      val kernel = graft.functions.ZonalStats(PayloadCodec.code(h.dtype), table,
        0, 8, h.nodata)
      val (sw, se, sc, _) = timed(GridKernels.scan(spark, Seq((h, root)), kernel)
        .agg(count(lit(1)), sum(col("s.n_valid"))).collect())
      println(f"scan     n=$n%6d wall_ms=$sw%8.1f executor_cpu_ms=$se%8.1f " +
        f"client_cpu_ms=$sc%8.1f")
      if (n == 10) {
        val (ew, ee, ec, er) = timed(
          ExplodedZonal.zonalByRegion(spark, h, root, regions, 0, 8).collect())
        println(f"exploded n=$n%6d wall_ms=$ew%8.1f executor_cpu_ms=$ee%8.1f " +
          f"client_cpu_ms=$ec%8.1f rows=$er")
      }
    }
    spark.stop()
  }
}
