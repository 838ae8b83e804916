package graft.tools

import org.apache.spark.sql.SparkSession
import graft.grid._

/** Dev tool: break the tile-ingest microbench into stages to see where
  * the time goes (generate+encode vs shuffle vs parquet write). Not part
  * of the driver contract.
  */
object IngestProfile {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"$name%-40s ${(System.nanoTime() - t0) / 1e9}%8.2f s"); r
    }

    val h = SyntheticGrid.modisTileHeader("tile_ndvi", "int16", -3000.0)
    val g = h.chunkGrid
    println(s"fracs=${g.numFracsX * g.numFracsY} timeChunks=${g.numTimeChunks}")

    // stage 1: generate + encode, no write (force with count of bytes)
    def rows = SyntheticGrid.directRows(spark, h, SyntheticGrid.ndviScalar)
    t("warm generate+encode (count)") { rows.map(_.data.length.toLong).reduce(_ + _) }
    t("generate+encode (count)") { rows.map(_.data.length.toLong).reduce(_ + _) }

    val out1 = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/dev/shm"), "prof_plain").toString
    t("toDF + plain parquet (no sort/partBy)") {
      rows.toDF().write.mode("overwrite").parquet(out1)
    }
    val out2 = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/dev/shm"), "prof_store").toString
    t("writePrepartitioned (full store path)") {
      FractionStore.writePrepartitioned(spark, h, rows.toDF(), out2)
    }
    val out3 = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/dev/shm"), "prof_full").toString
    t("writeDirect (bench path)") {
      SyntheticGrid.writeDirect(spark, h, out3, SyntheticGrid.ndviScalar)
    }
    println("store size: " + new java.io.File(out2).listFiles().map(_.length()).sum)
    spark.stop()
  }
  // Finding (2026-08-12): a warm writeDirect is ~4-8s on tmpfs. The
  // 84-171s ingest numbers recorded by earlier Bench runs were
  // noisy-neighbor windows on this shared VM — during one such window
  // the SAME call here took 24-33s and a pure-CPU ANN query took 291s
  // (vs 1-2s outside the window). Bench mitigates with min-of-2 on
  // every microbench, ingest included.
}
