package graft.grid

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The exploded per-region zonal statistics: the union-bbox window load
  * exploded to pixel rows, every pixel ray-cast against every region
  * with [[PointInPolygonExpr]], and the pixel rows
  * exploded once more on their membership array. The specs check
  * [[GridZonal.zonalByRegion]]'s interval kernel against it: same output
  * columns, types, groups and values. */
object ExplodedZonal {

  def zonalByRegion(spark: SparkSession, header: GridHeader, root: String,
                    regions: Seq[(String, Array[(Double, Double)])],
                    tFrom: Int, tTo: Int): DataFrame = {
    val xyPolys = regions.map { case (name, ring) =>
      (name, ring.map { case (lat, lng) => header.latLngToXY(lat, lng) })
    }
    val (x0, x1, y0, y1) = header.pixelBox(xyPolys.flatMap(_._2))
    val df = FractionStore.loadSliceXY(spark, header, root,
      x0, x1, y0, y1, tFrom, tTo)
    val members = xyPolys.map { case (name, poly) =>
      when(PointInPolygonExpr(poly,
        col("x").cast("double") + lit(0.5),
        col("y").cast("double") + lit(0.5)), lit(name))
    }
    df.withColumn("region", explode(array_compact(array(members: _*))))
      .groupBy(col("region"), col("t"))
      .agg(count(col("value")).as("n_valid"),
        (sum(col("value").cast("double")) / count(col("value")))
          .as("mean_value"),
        min(col("value")).cast("double").as("min_value"),
        max(col("value")).cast("double").as("max_value"))
  }
}
