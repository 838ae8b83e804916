package graft.grid

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.TestSpark

class GridZonalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val (tinyH, tinyRoot) = {
    val r = java.nio.file.Files.createTempDirectory("graft_zonal").toString
    SyntheticGrid.writeTiny(spark, r)
    (SyntheticGrid.tinyHeader, r)
  }

  private val tri = Array((0.0, 0.0), (-0.5, 0.0), (-0.5, 0.5), (0.0, 0.0))
  private val box = Array((-0.1, 0.1), (-0.1, 0.9), (-0.9, 0.9),
    (-0.9, 0.1), (-0.1, 0.1))

  test("per-region stats equal the per-region loadPolyLatLng loop") {
    val got = GridZonal.zonalByRegion(spark, tinyH, tinyRoot,
        Seq("tri" -> tri, "box" -> box), 0, 2)
      .collect().map(r => ((r.getString(0), r.getInt(1)),
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    val loop = Seq("tri" -> tri, "box" -> box).flatMap { case (n, p) =>
      FractionStore.loadPolyLatLng(spark, tinyH, tinyRoot, p, 0, 2)
        .filter(col("in_poly"))
        .groupBy(col("t"))
        .agg(count(col("value")).as("nv"),
          (sum(col("value").cast("double")) / count(col("value"))).as("m"),
          min(col("value")).cast("double").as("mn"),
          max(col("value")).cast("double").as("mx"))
        .collect().map(r => ((n, r.getInt(0)),
          (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
    }.toMap
    assert(got == loop)
  }

  test("class transitions == pixel-view pivot (nodata excluded)") {
    // 8x4 grid, 4x2 chunks, 2 dates; values hit nodata (-1) on a
    // planted pattern so both-ends-required exclusion is exercised
    val h = GridHeader(name = "trans", width = 8, height = 4,
      fracWidth = 4, fracHeight = 2, fracNDates = 1, dtype = "float32",
      srs = "wgs84", geot = Seq(0.0, 1.0, 0.0, 0.0, 0.0, -1.0),
      timestampsMs = Seq(0L, 86400000L), nodata = -1.0)
    val px = SyntheticGrid.pixelDf(spark, h, (x, y, t) =>
      when((x + y + t) % 5 === 0, lit(-1.0))
        .otherwise(((x * 2 + y * 3 + t * 7) % 4).cast("double")))
    val root = java.nio.file.Files.createTempDirectory("graft_trans").toString
    FractionStore.write(spark, h, FractionStore.fromPixels(spark, h, px), root)
    val got = GridZonal.classTransitions(spark, h, root, 0, 1,
        v => v.cast("int"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    val pv = FractionStore.pixels(h, FractionStore.fractions(spark, root))
    val expect = pv.filter(col("t") === 0).select(col("x"), col("y"),
        col("value").cast("int").as("cls_from"))
      .join(pv.filter(col("t") === 1).select(col("x"), col("y"),
        col("value").cast("int").as("cls_to")), Seq("x", "y"))
      .filter(col("cls_from").isNotNull && col("cls_to").isNotNull)
      .groupBy("cls_from", "cls_to").count()
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    assert(got == expect && got.nonEmpty)
  }

  test("overlapping regions both count the shared pixels") {
    // triangle lies inside the tiny grid's top-left; a copy of itself
    // must produce identical rows under both names
    val got = GridZonal.zonalByRegion(spark, tinyH, tinyRoot,
        Seq("a" -> tri, "b" -> tri), 0, 1)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getDouble(3)))
    val byName = got.groupBy(_._1)
    assert(byName("a").map(t => (t._2, t._3)).toSet ==
      byName("b").map(t => (t._2, t._3)).toSet)
  }

  test("zonalByRegion rejects repeated region names, naming them") {
    // two 'a' rows for a pixel in both would merge the polygons into one
    // group and count their overlap twice
    val err = intercept[IllegalArgumentException] {
      GridZonal.zonalByRegion(spark, tinyH, tinyRoot,
        Seq("a" -> tri, "b" -> box, "a" -> box), 0, 1)
    }
    assert(err.getMessage.contains("repeated: 'a'"), err.getMessage)
  }

  // ---- the interval kernel against the exploded oracle ----------------

  /** A 40 x 30 px grid of 8 x 6 px chunks and 8 dates in 3-date slabs
    * (a ragged 2-date tail); geot maps (lat, lng) = (-y, x). */
  private def grid(dtype: String, nodata: Double): GridHeader =
    GridHeader(name = s"zonal_$dtype", width = 40, height = 30,
      fracWidth = 8, fracHeight = 6, fracNDates = 3, dtype = dtype,
      srs = "wgs84", geot = Seq(0.0, 1.0, 0.0, 0.0, 0.0, -1.0),
      timestampsMs = (0 until 8).map(_ * 86400000L), nodata = nodata)

  /** Write `h` with values from `value`; pixels failing `keep` are not
    * written, and a chunk left with none is absent from the store. */
  private def store(h: GridHeader,
                    value: (Column, Column, Column) => Column,
                    keep: (Column, Column, Column) => Column =
                      (_, _, _) => lit(true)): String = {
    val px = SyntheticGrid.pixelDf(spark, h, value)
      .filter(keep(col("x"), col("y"), col("t")))
    val root = TestSpark.tmpDir("graft_zonal_fused")
    FractionStore.write(spark, h, FractionStore.fromPixels(spark, h, px), root)
    root
  }

  /** A ring given in pixel (x, y) as (lat, lng). */
  private def ring(xy: (Double, Double)*): Array[(Double, Double)] =
    xy.map { case (x, y) => (-y, x) }.toArray

  private val districts = Seq(
    "hex" -> ring((20.3, 3.2), (31.6, 8.9), (30.2, 21.5), (19.0, 26.4),
      (9.7, 17.1), (11.4, 6.6)),
    "water" -> ring((0.5, 0.5), (4.5, 0.5), (4.5, 3.5), (0.5, 3.5)),
    "bowtie" -> ring((2.0, 8.0), (14.0, 20.0), (14.0, 8.0), (2.0, 20.0)),
    "edge" -> ring((28.0, 14.0), (47.0, 12.0), (44.0, 35.0), (30.5, 29.5)),
    "inner" -> ring((18.5, 10.5), (24.5, 10.5), (24.5, 16.5), (18.5, 16.5),
      (18.5, 10.5)))

  private def collected(df: DataFrame) = {
    val rows = df.collect().map { r =>
      def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
      ((r.getString(0), r.getInt(1)), (r.getLong(2), opt(3), opt(4), opt(5)))
    }
    val byKey = rows.toMap
    assert(byKey.size == rows.length, "a (region, t) group twice")
    byKey
  }

  /** The fused result equals the exploded oracle: columns, types, groups
    * and values; returns the groups. */
  private def assertOracle(h: GridHeader, root: String,
                           regions: Seq[(String, Array[(Double, Double)])],
                           tFrom: Int, tTo: Int) = {
    val got = GridZonal.zonalByRegion(spark, h, root, regions, tFrom, tTo)
    val want = ExplodedZonal.zonalByRegion(spark, h, root, regions, tFrom, tTo)
    assert(got.schema.map(f => (f.name, f.dataType)) ==
      want.schema.map(f => (f.name, f.dataType)))
    val (g, w) = (collected(got), collected(want))
    assert(g == w, s"only fused: ${g.toSet -- w.toSet}; only oracle: ${w.toSet -- g.toSet}")
    g
  }

  private lazy val int16 = grid("int16", -1.0)
  private lazy val int16Root = store(int16, (x, y, t) =>
    when((x < 6 && y < 5) || (x * 3 + y + t) % 7 === 0, lit(-1.0))
      .otherwise(((x * 31 + y * 17 + t * 7) % 97 - 40).cast("double")))

  test("fused zonal equals the exploded oracle: int16 with nodata") {
    val g = assertOracle(int16, int16Root, districts, 1, 7)
    assert(g.size == districts.size * 6)
    // the water district is nodata on every date: its groups stay, empty
    assert(g.collect { case (("water", _), v) => v }.toSet ==
      Set((0L, None, None, None)))
  }

  test("fused zonal equals the exploded oracle: float32") {
    val h = grid("float32", -999.0)
    val root = store(h, (x, y, t) =>
      when((x + y + t) % 5 === 0, lit(-999.0))
        .otherwise(((x * 31 + y * 17 + t * 7) % 97).cast("double") * 0.25 - 3))
    assert(assertOracle(h, root, districts, 0, 8).size == districts.size * 8)
  }

  test("fused zonal equals the exploded oracle: a sparse store") {
    // a chunk column absent on every date, and the tail slab absent
    // right of x = 24
    val root = store(int16, (x, y, t) =>
        ((x * 31 + y * 17 + t * 7) % 97 - 40).cast("double"),
      (x, y, t) => !(x >= 8 && x < 16) && !(x >= 24 && t >= 6))
    val g = assertOracle(int16, root, districts, 0, 8)
    assert(g.nonEmpty && !g.contains(("edge", 7)) && g.contains(("hex", 7)))
  }

  test("fused zonal equals the exploded oracle: overlapping regions") {
    val regions = districts ++ Seq("hex_copy" -> districts.head._2,
      "cover" -> ring((0.0, 0.0), (40.0, 0.0), (40.0, 30.0), (0.0, 30.0)))
    val g = assertOracle(int16, int16Root, regions, 2, 5)
    assert(g.collect { case (("hex", t), v) => (t, v) }.toSet ==
      g.collect { case (("hex_copy", t), v) => (t, v) }.toSet)
  }

  test("fused zonal: an empty or off-grid window yields zero rows") {
    for ((regions, t0, t1) <- Seq((districts, 5, 5), (districts, 6, 3),
        (districts, 8, 12), (Seq("far" -> ring((50.0, 1.0), (60.0, 1.0),
          (55.0, 9.0))), 0, 8))) {
      assert(assertOracle(int16, int16Root, regions, t0, t1).isEmpty)
    }
  }
}
