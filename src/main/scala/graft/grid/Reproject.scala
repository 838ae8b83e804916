package graft.grid

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import scala.jdk.CollectionConverters._

/** Reprojection join (reference: J3 — the one genuinely hard kernel,
  * rastercube/jgrid/utils.py:164-280, GDAL ReprojectImage with
  * near/mode/average).
  *
  * GDAL's warp becomes relational geometry:
  *  - nearest: per TARGET pixel, inverse-transform its center through
  *    target-SR -> WGS84 -> source-SR -> source pixel index, then
  *    equi-join against the source pixel view. The transform chain is
  *    closed-form Column math (codegen'd); the join shuffles on source
  *    pixel keys only within the queried window.
  *  - mode/average (downsampling): per SOURCE pixel, forward-transform
  *    its center onto the target lattice, then groupBy target pixel +
  *    mode()/avg() — map-side partial aggregation does the heavy lifting.
  *
  * The reference's "+1 mask trick" (utils.py:268-271, GDAL's nodata->0
  * quirk) is replaced by honest NULL propagation: nodata is NULL before
  * the join, aggregates skip NULLs, and absent source pixels surface as
  * NULL after the (left) join — documented deviation, same semantics.
  */
object Reproject {

  /** Column chain: pixel index on `from` grid -> pixel coords on `to`
    * grid (doubles). Pixel centers: +0.5 on the way in. */
  private def toTargetXY(from: GridHeader, to: GridHeader,
                         x: Column, y: Column): (Column, Column) = {
    val gx = lit(from.geot(0)) + (x + lit(0.5)) * lit(from.geot(1))
    val gy = lit(from.geot(3)) + (y + lit(0.5)) * lit(from.geot(5))
    // from-SR geo -> WGS84
    val (lat, lng) = from.srs match {
      case "sinusoidal" =>
        (GeoTransform.sinuToLat(gy), GeoTransform.sinuToLng(gx, gy))
      case "wgs84" => (gy, gx)
    }
    // WGS84 -> to-SR geo
    val (tx, ty) = to.srs match {
      case "sinusoidal" =>
        (GeoTransform.latLngToSinuX(lat, lng), GeoTransform.latLngToSinuY(lat))
      case "wgs84" => (lng, lat)
    }
    ((tx - lit(to.geot(0))) / lit(to.geot(1)),
      (ty - lit(to.geot(3))) / lit(to.geot(5)))
  }

  /** Nearest-neighbor reprojection of `src` onto a window of the `dst`
    * lattice at time index t (source time index tSrc).
    * Returns (x, y, value) on dst pixel coordinates.
    */
  def nearest(spark: SparkSession,
              src: GridHeader, srcRoot: String,
              dst: GridHeader,
              xFrom: Int, xTo: Int, yFrom: Int, yTo: Int,
              tSrc: Int = 0): DataFrame = {
    val targets = targetLattice(spark, xFrom, xTo, yFrom, yTo)
    val (sxCol, syCol) = toTargetXY(dst, src, col("x").cast("double"),
      col("y").cast("double"))
    val mapped = targets
      .withColumn("src_x", floor(sxCol).cast("int"))
      .withColumn("src_y", floor(syCol).cast("int"))
    // source window bound: closed-form from the dst window BOUNDARY,
    // sampled densely driver-side (the projection chains here have all
    // coordinate extrema on the box boundary; the one boundary-interior
    // critical line, the equator crossing of a sinusoidal edge, is
    // covered by dense sampling + the 1-px pad). Replaces a full Spark
    // action over the target lattice — the lattice used to materialize
    // twice per call (once for bounds, once for the join).
    val (sx0, sx1, sy0, sy1) = sourceBounds(dst, src, xFrom, xTo, yFrom, yTo)
    val srcPx = FractionStore.loadSliceXY(spark, src, srcRoot,
      math.max(0, sx0), math.min(src.width, sx1),
      math.max(0, sy0), math.min(src.height, sy1),
      tSrc, tSrc + 1)
      .select(col("x").as("src_x"), col("y").as("src_y"), col("value"))
    mapped.join(srcPx, Seq("src_x", "src_y"), "left")
      .select(col("x"), col("y"), col("value"))
  }

  /** Bilinear reprojection of `src` onto a window of the `dst` lattice
    * at time index t. Each dst pixel center inverse-maps to continuous
    * source coordinates; the 4 surrounding source pixel CENTERS are
    * sampled and blended by the fractional offsets. Nodata corners (and
    * corners outside the grid) drop out and the remaining weights
    * renormalize — GDAL's warp does the same when nodata is declared —
    * so a dst pixel is NULL only when all 4 corners are invalid.
    *
    * Same join shape as [[nearest]]: the 4-corner fan-out happens on
    * the dst lattice (4 small rows per dst pixel, no payloads), the
    * equi-join shuffles only within the bounded source window, and the
    * final per-dst-pixel blend is a map-side-combinable 4-row groupBy.
    * Returns (x, y, value, n_valid) on dst pixel coordinates.
    */
  def bilinear(spark: SparkSession,
               src: GridHeader, srcRoot: String,
               dst: GridHeader,
               xFrom: Int, xTo: Int, yFrom: Int, yTo: Int,
               tSrc: Int = 0): DataFrame = {
    val targets = targetLattice(spark, xFrom, xTo, yFrom, yTo)
    val (sxCol, syCol) = toTargetXY(dst, src, col("x").cast("double"),
      col("y").cast("double"))
    // sample-centered coords: source values live at pixel centers, so
    // the interpolation cell for continuous (sx, sy) is anchored at
    // floor(sx - 0.5) with fraction (sx - 0.5) - floor(sx - 0.5)
    val corners = targets
      .withColumn("cx", sxCol - lit(0.5))
      .withColumn("cy", syCol - lit(0.5))
      .select(col("x"), col("y"),
        floor(col("cx")).cast("int").as("x0"),
        floor(col("cy")).cast("int").as("y0"),
        (col("cx") - floor(col("cx"))).as("fx"),
        (col("cy") - floor(col("cy"))).as("fy"),
        explode(array((for (dy <- 0 to 1; dx <- 0 to 1) yield
          struct(lit(dx).as("dx"), lit(dy).as("dy"))): _*)).as("c"))
      .select(col("x"), col("y"),
        (col("x0") + col("c.dx")).as("src_x"),
        (col("y0") + col("c.dy")).as("src_y"),
        (when(col("c.dx") === 0, lit(1.0) - col("fx")).otherwise(col("fx")) *
          when(col("c.dy") === 0, lit(1.0) - col("fy")).otherwise(col("fy")))
          .as("wgt"))
    val (sx0, sx1, sy0, sy1) = sourceBounds(dst, src, xFrom, xTo, yFrom, yTo)
    val srcPx = FractionStore.loadSliceXY(spark, src, srcRoot,
      math.max(0, sx0), math.min(src.width, sx1),
      math.max(0, sy0), math.min(src.height, sy1),
      tSrc, tSrc + 1)
      .select(col("x").as("src_x"), col("y").as("src_y"), col("value"))
    corners.join(srcPx, Seq("src_x", "src_y"), "left")
      .groupBy(col("x"), col("y"))
      .agg(
        (sum(col("wgt") * col("value").cast("double")) /
          sum(when(col("value").isNotNull, col("wgt")))).as("value"),
        count(col("value")).as("n_valid"))
  }

  /** Cubic-convolution reprojection (Keys' kernel with a = -0.5 —
    * GDAL's "cubic"): each dst pixel center inverse-maps to continuous
    * source coordinates and blends the surrounding 4x4 source pixel
    * CENTERS by the separable piecewise-cubic weights
    * {{{
    *   w(d) = 1.5 d^3 - 2.5 d^2 + 1          for d in [0, 1)
    *   w(d) = -0.5 d^3 + 2.5 d^2 - 4 d + 2   for d in [1, 2]
    * }}}
    * Weights sum to 1, so valid-everywhere regions interpolate with
    * linear precision (a linear plane passes through unchanged and an
    * on-lattice dst reproduces the source exactly). Nodata /
    * out-of-grid taps drop out and the remaining weights renormalize;
    * cubic weights can be negative, so a near-zero surviving weight sum
    * (|sum| < 1e-9) yields NULL rather than a blow-up. Join shape is
    * [[bilinear]] with a 16-row fan-out per dst pixel.
    * Returns (x, y, value, n_valid) on dst pixel coordinates.
    */
  def cubic(spark: SparkSession,
            src: GridHeader, srcRoot: String,
            dst: GridHeader,
            xFrom: Int, xTo: Int, yFrom: Int, yTo: Int,
            tSrc: Int = 0): DataFrame = {
    val targets = targetLattice(spark, xFrom, xTo, yFrom, yTo)
    val (sxCol, syCol) = toTargetXY(dst, src, col("x").cast("double"),
      col("y").cast("double"))
    val corners = targets
      .withColumn("cx", sxCol - lit(0.5))
      .withColumn("cy", syCol - lit(0.5))
      .select(col("x"), col("y"),
        floor(col("cx")).cast("int").as("x0"),
        floor(col("cy")).cast("int").as("y0"),
        (col("cx") - floor(col("cx"))).as("fx"),
        (col("cy") - floor(col("cy"))).as("fy"),
        explode(array((for (dy <- -1 to 2; dx <- -1 to 2) yield
          struct(lit(dx).as("dx"), lit(dy).as("dy"))): _*)).as("c"))
      .select(col("x"), col("y"),
        (col("x0") + col("c.dx")).as("src_x"),
        (col("y0") + col("c.dy")).as("src_y"),
        (cw(abs(col("fx") - col("c.dx"))) * cw(abs(col("fy") - col("c.dy"))))
          .as("wgt"))
    // one extra pixel of padding beyond the bilinear bounds: the cubic
    // stencil reaches taps floor(c)-1 .. floor(c)+2
    val (sx0, sx1, sy0, sy1) = sourceBounds(dst, src, xFrom, xTo, yFrom, yTo)
    val srcPx = FractionStore.loadSliceXY(spark, src, srcRoot,
      math.max(0, sx0 - 1), math.min(src.width, sx1 + 1),
      math.max(0, sy0 - 1), math.min(src.height, sy1 + 1),
      tSrc, tSrc + 1)
      .select(col("x").as("src_x"), col("y").as("src_y"), col("value"))
    val wSum = sum(when(col("value").isNotNull, col("wgt")))
    corners.join(srcPx, Seq("src_x", "src_y"), "left")
      .groupBy(col("x"), col("y"))
      .agg(
        when(abs(wSum) < 1e-9, lit(null))
          .otherwise(sum(col("wgt") * col("value").cast("double")) / wSum)
          .as("value"),
        count(col("value")).as("n_valid"))
  }

  /** Fused chunk-gather warp core, shared by [[bilinearGather]] and
    * [[cubicGather]]: per-TAP rows (x, y, wgt, value) without ever
    * exploding the source window to pixel rows.
    *
    * The exploded join ([[bilinear]]/[[cubic]]) is the right shape for
    * composing with other pixel-level relational work, but as a
    * standalone warp it pays the source window's full pixel explode
    * (~10^7 row transitions per tile) to read <= `offsets.size` taps
    * per dst pixel. Here the payload is random-accessed instead:
    *
    *  1. dst taps fan out on the PAYLOAD-FREE lattice and map to their
    *     source chunk key (tap div fracWidth/fracHeight);
    *  2. taps group per chunk (collect_list of small structs — the only
    *     shuffle that scales with dst size carries 24-byte structs);
    *  3. one equi-join at CHUNK granularity (pruned via
    *     [[sourceBounds]] window, so parquet stats skip unrelated
    *     fractions), payload decoded ONCE per chunk in its own
    *     projection below the Generate (the loadAlignedSliceXY rule:
    *     never let the unpack land inside a per-element context);
    *  4. element_at reads each tap in O(1) from the decoded array.
    *
    * Missing taps (outside the grid, or in a sparse/absent chunk)
    * simply produce no row — numerically identical to the exploded
    * path's left-join NULLs, which never contribute to the blend.
    * Callers re-attach all-miss dst pixels with a left join against
    * the target lattice.
    */
  private def gatherTapRows(spark: SparkSession,
                            src: GridHeader, srcRoot: String,
                            dst: GridHeader,
                            xFrom: Int, xTo: Int, yFrom: Int, yTo: Int,
                            tSrc: Int,
                            taps: (Column, Column) => Column,
                            pad: Int = 0,
                            tapsPerPx: Int = 16)
      : DataFrame = {
    val targets = targetLattice(spark, xFrom, xTo, yFrom, yTo)
    val (sxCol, syCol) = toTargetXY(dst, src, col("x").cast("double"),
      col("y").cast("double"))
    val g = src.chunkGrid
    val tapRows = targets
      .select(col("x"), col("y"),
        explode(filter(taps(sxCol, syCol),
          t => t.getField("tx") >= 0 && t.getField("tx") < src.width &&
            t.getField("ty") >= 0 && t.getField("ty") < src.height))
          .as("tap"))
      .select(col("x"), col("y"),
        col("tap.tx").as("tx"), col("tap.ty").as("ty"),
        col("tap.wgt").as("wgt"),
        (col("tap.tx") / g.fracWidth).cast("int").as("frac_x"),
        (col("tap.ty") / g.fracHeight).cast("int").as("frac_y"))
    // Bound the per-row gather list: one chunk of an upsampling warp
    // can attract dst-window-scale tap counts, and a single unbounded
    // collect_list row is where that concentrates. Slabs split each
    // chunk's taps by dst row band; the chunk row joins (and decodes)
    // once per PRESENT slab — decode cost grows by at most `slabs`
    // per chunk while the largest aggregation row shrinks by the same
    // factor — and a chunk only joins slabs that actually hold taps
    // for it, so spread-out warps pay nothing. Sized so a slab stays
    // ~30 MB at worst: total taps bounded by dstPixels * tapsPerPx.
    val dstPx = (xTo - xFrom).toLong * (yTo - yFrom)
    val slabs = math.max(1L, (dstPx * tapsPerPx) / 1000000L).toInt
    val perChunk = tapRows
      .groupBy(col("frac_x"), col("frac_y"),
        pmod(col("y"), lit(slabs)).as("slab"))
      .agg(collect_list(struct(col("x"), col("y"), col("tx"), col("ty"),
        col("wgt"))).as("gats"))
    // `pad` widens the chunk-pruning window for warps whose stencil
    // reaches beyond the mapped-center bounds (cubic taps extend one
    // pixel past sourceBounds' padding — the same ±1 the exploded
    // cubic adds to its loadSliceXY window)
    val (sx0, sx1, sy0, sy1) = sourceBounds(dst, src, xFrom, xTo, yFrom, yTo)
    val chunks = FractionStore.fractionsForWindow(spark, src, srcRoot,
      math.max(0, sx0 - pad), math.min(src.width, sx1 + pad),
      math.max(0, sy0 - pad), math.min(src.height, sy1 + pad),
      tSrc, tSrc + 1)
    val nodata = src.nodata
    val gathered = chunks.join(perChunk, Seq("frac_x", "frac_y"))
      // decode once per chunk row, in its OWN projection below the
      // Generate — inside the explode's select it would re-decode per
      // gather entry (the payload-decode-in-per-element-context trap,
      // SCALING.md round-8 addendum 3)
      .select(col("x0"), col("y0"), col("t0"), col("w"), col("nd"),
        FractionStore.unpack(src, col("data")).as("arr"), col("gats"))
      .select(col("x0"), col("y0"), col("t0"), col("w"), col("nd"),
        col("arr"), explode(col("gats")).as("gat"))
      .select(col("gat.x").as("x"), col("gat.y").as("y"),
        col("gat.wgt").as("wgt"),
        element_at(col("arr"),
          ((col("gat.ty") - col("y0")) * col("w") +
            (col("gat.tx") - col("x0"))) * col("nd") +
            (lit(tSrc) - col("t0")) + 1).as("raw"))
    if (!nodata.isNaN)
      gathered.withColumn("value",
        nullif(col("raw"),
          lit(nodata).cast(FractionStore.elementType(src.dtype))))
        .drop("raw")
    else gathered.withColumnRenamed("raw", "value")
  }

  /** Keys' cubic weight at distance d (d <= 2 by construction); Horner
    * form, mirrored term-for-term in the DuckDB oracle. Shared by the
    * exploded [[cubic]] and [[cubicGather]] so a kernel change cannot
    * silently diverge the equality-pinned pair. */
  private def cw(d: Column): Column =
    when(d < 1.0, (lit(1.5) * d - lit(2.5)) * d * d + lit(1.0))
      .otherwise(((lit(-0.5) * d + lit(2.5)) * d - lit(4.0)) * d + lit(2.0))

  /** Sample-centered tap array for interpolating warps: anchor at
    * floor(s - 0.5) with fraction f, taps at anchor + offsets, weights
    * from `weight(fx, fy, dx, dy)` — the shared corner math of
    * [[bilinear]]/[[cubic]] and their gather twins. */
  private def centeredTaps(offsets: Seq[(Int, Int)],
                           weight: (Column, Column, Int, Int) => Column)
                          (sx: Column, sy: Column): Column = {
    val cx = sx - lit(0.5)
    val cy = sy - lit(0.5)
    val fx = cx - floor(cx)
    val fy = cy - floor(cy)
    array(offsets.map { case (dx, dy) =>
      struct((floor(cx).cast("int") + dx).as("tx"),
        (floor(cy).cast("int") + dy).as("ty"),
        weight(fx, fy, dx, dy).as("wgt"))
    }: _*)
  }

  /** Target lattice for a dst window (payload-free): one row of data
    * per lattice row (y, x_from, x_to), each exploded to its pixels.
    * The window's size is data, not code, so windows of any size share
    * the generated classes (a `spark.range` count is inlined into its
    * code); the local scan spreads the rows over up to
    * defaultParallelism partitions, as `spark.range` did. */
  private def targetLattice(spark: SparkSession,
                            xFrom: Int, xTo: Int,
                            yFrom: Int, yTo: Int): DataFrame = {
    val rowSchema = StructType(Seq("y", "x_from", "x_to")
      .map(StructField(_, IntegerType, nullable = false)))
    val rows = if (xTo > xFrom) (yFrom until yTo).map(Row(_, xFrom, xTo))
               else Nil
    spark.createDataFrame(rows.asJava, rowSchema)
      .select(explode(sequence(col("x_from"), col("x_to") - 1)).as("x"), col("y"))
  }

  /** [[bilinear]] semantics through the fused chunk-gather path — same
    * (x, y, value, n_valid) output, pinned equal by ReprojectSpec; the
    * source window is never exploded to pixel rows. */
  def bilinearGather(spark: SparkSession,
                     src: GridHeader, srcRoot: String,
                     dst: GridHeader,
                     xFrom: Int, xTo: Int, yFrom: Int, yTo: Int,
                     tSrc: Int = 0): DataFrame = {
    val tapRows = gatherTapRows(spark, src, srcRoot, dst,
      xFrom, xTo, yFrom, yTo, tSrc,
      taps = centeredTaps(
        offsets = for (dy <- 0 to 1; dx <- 0 to 1) yield (dx, dy),
        weight = (fx, fy, dx, dy) =>
          (if (dx == 0) lit(1.0) - fx else fx) *
            (if (dy == 0) lit(1.0) - fy else fy)),
      tapsPerPx = 4)
    val blended = tapRows.groupBy(col("x"), col("y"))
      .agg(
        (sum(col("wgt") * col("value").cast("double")) /
          sum(when(col("value").isNotNull, col("wgt")))).as("value"),
        count(col("value")).as("n_valid"))
    targetLattice(spark, xFrom, xTo, yFrom, yTo)
      .join(blended, Seq("x", "y"), "left")
      .select(col("x"), col("y"), col("value"),
        coalesce(col("n_valid"), lit(0L)).as("n_valid"))
  }

  /** [[nearest]] semantics through the fused chunk-gather path — one
    * tap at floor(s), identical (x, y, value) output, pinned equal by
    * ReprojectSpec. This is the warp [[alignOnFirst]] uses for its
    * cross-SR slow path: at tile scale the exploded nearest pays the
    * full source-window pixel explode per warped grid. */
  def nearestGather(spark: SparkSession,
                    src: GridHeader, srcRoot: String,
                    dst: GridHeader,
                    xFrom: Int, xTo: Int, yFrom: Int, yTo: Int,
                    tSrc: Int = 0): DataFrame = {
    val tapRows = gatherTapRows(spark, src, srcRoot, dst,
      xFrom, xTo, yFrom, yTo, tSrc,
      taps = (sx, sy) => array(struct(
        floor(sx).cast("int").as("tx"), floor(sy).cast("int").as("ty"),
        lit(1.0).as("wgt"))),
      tapsPerPx = 1)
    targetLattice(spark, xFrom, xTo, yFrom, yTo)
      .join(tapRows.select(col("x"), col("y"), col("value")),
        Seq("x", "y"), "left")
      .select(col("x"), col("y"), col("value"))
  }

  /** [[cubic]] semantics through the fused chunk-gather path — same
    * (x, y, value, n_valid) output, pinned equal by ReprojectSpec. */
  def cubicGather(spark: SparkSession,
                  src: GridHeader, srcRoot: String,
                  dst: GridHeader,
                  xFrom: Int, xTo: Int, yFrom: Int, yTo: Int,
                  tSrc: Int = 0): DataFrame = {
    val tapRows = gatherTapRows(spark, src, srcRoot, dst,
      xFrom, xTo, yFrom, yTo, tSrc,
      taps = centeredTaps(
        offsets = for (dy <- -1 to 2; dx <- -1 to 2) yield (dx, dy),
        weight = (fx, fy, dx, dy) => cw(abs(fx - dx)) * cw(abs(fy - dy))),
      pad = 1, tapsPerPx = 16)
    val wSum = sum(when(col("value").isNotNull, col("wgt")))
    val blended = tapRows.groupBy(col("x"), col("y"))
      .agg(
        when(abs(wSum) < 1e-9, lit(null))
          .otherwise(sum(col("wgt") * col("value").cast("double")) / wSum)
          .as("value"),
        count(col("value")).as("n_valid"))
    targetLattice(spark, xFrom, xTo, yFrom, yTo)
      .join(blended, Seq("x", "y"), "left")
      .select(col("x"), col("y"), col("value"),
        coalesce(col("n_valid"), lit(0L)).as("n_valid"))
  }

  /** Conservative source-pixel bounds [x0, x1) x [y0, y1) covering every
    * dst-window pixel center mapped into source space: the full window
    * boundary (a superset of the center lattice's convex position) is
    * sampled at 129 points per edge through the same scalar transform
    * chain, then padded one pixel each way. Driver-side closed form —
    * no Spark job. */
  private def sourceBounds(dst: GridHeader, src: GridHeader,
                           xFrom: Int, xTo: Int,
                           yFrom: Int, yTo: Int): (Int, Int, Int, Int) = {
    val n = 128
    val pts = (0 to n).flatMap { i =>
      val fx = xFrom + (xTo - xFrom) * i.toDouble / n
      val fy = yFrom + (yTo - yFrom) * i.toDouble / n
      Seq((fx, yFrom.toDouble), (fx, yTo.toDouble),
        (xFrom.toDouble, fy), (xTo.toDouble, fy))
    }.map { case (px, py) =>
      val (lat, lng) = dst.xyToLatLng(px, py)
      src.latLngToXY(lat, lng)
    }
    val xs = pts.map(_._1); val ys = pts.map(_._2)
    (xs.min.floor.toInt - 1, xs.max.floor.toInt + 2,
      ys.min.floor.toInt - 1, ys.max.floor.toInt + 2)
  }

  /** Mode/average downsampling reprojection: forward-map every source
    * pixel of the loaded window onto the dst lattice, aggregate per dst
    * pixel. `how` is "mode" or "average". */
  def aggregateResample(spark: SparkSession,
                        src: GridHeader, srcRoot: String,
                        dst: GridHeader, how: String,
                        xFrom: Int, xTo: Int, yFrom: Int, yTo: Int,
                        tSrc: Int = 0): DataFrame = {
    require(how == "mode" || how == "average")
    // source pixels whose centers land in the dst window: bound via the
    // dst window's corners mapped into source space
    val corners = for {
      cx <- Seq(xFrom.toDouble, xTo.toDouble)
      cy <- Seq(yFrom.toDouble, yTo.toDouble)
    } yield {
      val (lat, lng) = dst.xyToLatLng(cx, cy)
      src.latLngToXY(lat, lng)
    }
    val xs = corners.map(_._1); val ys = corners.map(_._2)
    val srcPx = FractionStore.loadSliceXY(spark, src, srcRoot,
      math.max(0, xs.min.floor.toInt - 1), math.min(src.width, xs.max.ceil.toInt + 1),
      math.max(0, ys.min.floor.toInt - 1), math.min(src.height, ys.max.ceil.toInt + 1),
      tSrc, tSrc + 1)
    val (txCol, tyCol) = toTargetXY(src, dst, col("x").cast("double"),
      col("y").cast("double"))
    val mapped = srcPx
      .withColumn("dst_x", floor(txCol).cast("int"))
      .withColumn("dst_y", floor(tyCol).cast("int"))
      .filter(col("dst_x").between(xFrom, xTo - 1) &&
        col("dst_y").between(yFrom, yTo - 1))
    val agg = how match {
      case "mode"    => mode(col("value")).as("value")
      case "average" => avg(col("value")).as("value")
    }
    mapped.groupBy(col("dst_x").as("x"), col("dst_y").as("y"))
      .agg(agg, count(col("value")).as("n_src"))
  }

  /** Multi-grid polygon/window alignment when geogrids differ (J1 slow
    * path, utils.py:54-81): grids 2..N are warped (nearest) onto grid
    * 1's lattice, then all are equi-joined on (x, y).
    */
  def alignOnFirst(spark: SparkSession,
                   grids: Seq[(GridHeader, String)],
                   xFrom: Int, xTo: Int, yFrom: Int, yTo: Int,
                   t: Int = 0): DataFrame = {
    require(grids.nonEmpty)
    val (h0, _) = grids.head
    // fast path: every grid shares grid 1's geogrid AND time chunking →
    // ONE chunk-keyed aligned load, no pixel-level join at all
    if (grids.forall(_._1.sharesChunking(h0)))
      return FractionStore.loadAlignedSliceXY(spark, grids,
        xFrom, xTo, yFrom, yTo, t, t + 1,
        masks = grids.map(_ => true), joinType = "left")
        .drop("t")
    val (_, r0) = grids.head
    val base = FractionStore.loadSliceXY(spark, h0, r0,
      xFrom, xTo, yFrom, yTo, t, t + 1)
      .select(col("x"), col("y"), col("value").as("value_0"))
    grids.tail.zipWithIndex.foldLeft(base) { case (acc, ((h, r), i)) =>
      val warped =
        if (h.sharesChunking(h0))
          FractionStore.loadAlignedSliceXY(spark, Seq((h, r)),
            xFrom, xTo, yFrom, yTo, t, t + 1, masks = Seq(true))
            .select(col("x"), col("y"), col("value_0").as(s"value_${i + 1}"))
        else
          nearestGather(spark, h, r, h0, xFrom, xTo, yFrom, yTo, t)
            .select(col("x"), col("y"), col("value").as(s"value_${i + 1}"))
      acc.join(warped, Seq("x", "y"), "left")
    }
  }
}
