package graft.grid

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One chunk of the cube (the reference's fraction file, jgrid3.py:17-27)
  * with its placement metadata, payload as doubles — the
  * [[GridPipeline]] kernel-facing shape (`data` is null there; payloads
  * travel separately).
  */
final case class FracRow(
    frac_num: Int, time_chunk: Int, frac_x: Int, frac_y: Int,
    x0: Int, y0: Int, t0: Int, w: Int, h: Int, nd: Int,
    data: Array[Double])

/** The STORED chunk shape: `data` is the packed little-endian payload
  * in the grid's native dtype ([[PayloadCodec]]) — raw C-order
  * `[y][x][t]` bytes, exactly the reference's `.jdata` blob. */
final case class FracRowBytes(
    frac_num: Int, time_chunk: Int, frac_x: Int, frac_y: Int,
    x0: Int, y0: Int, t0: Int, w: Int, h: Int, nd: Int,
    data: Array[Byte])

/** The fraction store: chunked cube data as partitioned parquet
  * (reference: SRC1/SRC3/SNK1/SNK2 + the load paths P1-P3 —
  * rastercube/jgrid/jgrid3.py:50-77, 320-412, 491-586).
  *
  * Layout (designed for the 100 TB case):
  *  - one parquet row per (frac_num, time_chunk): the reference's `.jdata`
  *    blob stays a packed BINARY column ([[PayloadCodec]]), flattened
  *    C-order `[y][x][t]` so a pixel's time series is contiguous (the
  *    cube exists to serve per-pixel series — jgrid3.py:3-4). Binary
  *    payloads read/write at memcpy speed; `array<T>` payloads paid
  *    parquet's per-element assembly (~3M elements/s/core — the
  *    dominant cost of every tile-scale path);
  *  - `partitionBy(time_chunk)` gives temporal partition pruning (P7);
  *  - rows sorted by `frac_num` within partitions, with `frac_x`/`frac_y`
  *    as plain stats-bearing columns, so parquet row-group min/max skipping
  *    replaces `fracs_for_rect_xy` spatial pruning (P6) without any custom
  *    Catalyst rule — the API layer also emits the explicit range
  *    predicates so pruning shows up in `explain` as PushedFilters;
  *  - sparsity: an absent (frac, chunk) row is simply no row (jgrid3.py:22-23);
  *    reads materialize nodata/NULL at the pixel view (P9).
  *
  * Fraction row schema: [[FractionStore.chunkSchema]], declared once and
  * passed to every store read (no Parquet schema inference, so planning
  * a read runs no Spark job):
  *   frac_num int, frac_x int, frac_y int, x0 int, y0 int, t0 int,
  *   w int, h int, nd int, data binary, time_chunk int (partition)
  * where data is the packed native-dtype payload; the pixel view
  * surfaces int for integer dtypes, float/double for float dtypes.
  */
object FractionStore {

  def elementType(dtype: String): DataType = dtype match {
    case "float32" => FloatType
    case "float64" => DoubleType
    case _         => IntegerType // int16/uint16/uint8/int32 all fit exactly
  }

  /** Payload decode as a codegen'd Column (binary -> array<elem>). */
  def unpack(header: GridHeader, data: Column): Column =
    graft.functions.UnpackPayloadExpr(data, header.dtype)

  def dataPath(root: String): String = s"$root/jdata"

  // ---- write (SNK1/SNK2) ----------------------------------------------

  /** Write fraction rows (schema above). Repartitions to one shuffle
    * partition per time chunk and sorts by frac_num so each parquet
    * row-group covers a contiguous spatial band (stats-based pruning).
    */
  def write(spark: SparkSession, header: GridHeader, fracRows: DataFrame,
            root: String, mode: String = "overwrite"): Unit = {
    header.save(spark, root)
    writeRows(fracRows, root, mode)
  }

  // range-partition by (time_chunk, frac_num): each output file covers a
  // contiguous frac band WITHIN one time_chunk dir, so (a) writes and
  // subsequent reads parallelize across files (repartition(time_chunk)
  // alone serialized a whole chunk's data into one file = one task —
  // measured 30x slower at tile scale), and (b) per-file frac_num
  // min/max stats still prune rect windows.
  private def canonicalWriter(fracRows: DataFrame): DataFrameWriter[Row] =
    fracRows
      .repartitionByRange(col("time_chunk"), col("frac_num"))
      .sortWithinPartitions(col("time_chunk"), col("frac_num"))
      .write
      .partitionBy("time_chunk")

  private[grid] def writeRows(fracRows: DataFrame, root: String,
                              mode: String): Unit =
    canonicalWriter(fracRows).mode(mode).parquet(dataPath(root))

  /** Replace whole `time_chunk` partitions of the store at `root` with
    * `fracRows`: every partition holding one of the rows is rewritten to
    * exactly the rows given for it, and every other partition stays
    * untouched (dynamic partition overwrite). This is the one
    * destructive-write path of the store's in-place writers (tail
    * append, compaction, chunk repair, stale-chunk re-derivation).
    *
    * The overwrite mode is an option of this write, not a session
    * setting: `fracRows` may belong to another session than the
    * caller's (a streaming micro-batch runs in a clone of it), and a
    * session setting on the wrong session silently turns the write into
    * a static overwrite of the WHOLE store.
    *
    * `fracRows` may read the very partitions it replaces, so it is
    * materialized first (localCheckpoint): no task can recompute
    * against deleted files. The checkpoint is released in a `finally`,
    * so neither a finished nor a failed rewrite pins its blocks for the
    * session's lifetime.
    */
  def replaceTimeChunks(root: String, fracRows: DataFrame): Unit = {
    val frozen = fracRows.localCheckpoint()
    try canonicalWriter(frozen).mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(dataPath(root))
    finally {
      // Dataset.unpersist does not reach a local checkpoint (it is no
      // cache-manager entry): release the checkpointed RDD itself
      frozen.queryExecution.logical.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
      }.foreach(_.unpersist(blocking = false))
    }
  }

  /** Compact a store's data files back into the canonical layout
    * (range-partitioned by (time_chunk, frac_num), frac_num-sorted
    * files). Incremental writers fragment a store over time — each
    * GridPipeline backfill and each appendDates tail rewrite adds
    * files to the partition dirs it touches, and at archive scale the
    * resulting small-file population dominates open/footer costs and
    * task scheduling (the classic small-files problem). Chunk
    * CONTENTS are already canonical (one row per (frac_num,
    * time_chunk)); only the file population needs rewriting, so this
    * is a pure readwrite of the selected partitions through
    * [[replaceTimeChunks]] (the rewrite reads the partitions it
    * deletes).
    *
    * `timeChunks` is the unit-of-work knob: compacting a 100 TB store
    * in one call would checkpoint the whole store, so production
    * maintenance walks time chunks in bounded batches (newest-first —
    * append traffic concentrates there). Returns (files_before,
    * files_after) over the REWRITTEN partitions for the maintenance
    * log (whole store when `timeChunks` is None).
    */
  def compact(spark: SparkSession, root: String,
              timeChunks: Option[Seq[Int]] = None): (Long, Long) = {
    val fs = new Path(dataPath(root))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // count only the partitions being rewritten: a bounded maintenance
    // batch over a huge store must not pay a full-store recursive LIST
    // (2 per call x N batches on an object store) just for the report
    def countFiles(): Long = {
      val dirs = timeChunks match {
        case Some(cs) => cs.map(c =>
          new Path(dataPath(root), s"time_chunk=$c"))
        case None => Seq(new Path(dataPath(root)))
      }
      var n = 0L
      dirs.filter(fs.exists).foreach { d =>
        val it = fs.listFiles(d, true)
        while (it.hasNext) {
          if (it.next().getPath.getName.endsWith(".parquet")) n += 1
        }
      }
      n
    }
    val before = countFiles()
    val selected = timeChunks match {
      case Some(cs) => fractions(spark, root)
        .filter(col("time_chunk").isin(cs.map(Integer.valueOf): _*))
      case None => fractions(spark, root)
    }
    replaceTimeChunks(root, selected)
    (before, countFiles())
  }

  /** Write rows that are ALREADY distributed the way the caller wants
    * (e.g. one fraction per task from a generator): skips the range
    * shuffle, keeps the same on-disk layout. */
  def writePrepartitioned(spark: SparkSession, header: GridHeader,
                          fracRows: DataFrame, root: String,
                          mode: String = "overwrite"): Unit = {
    header.save(spark, root)
    fracRows
      .sortWithinPartitions(col("time_chunk"), col("frac_num"))
      .write.mode(mode)
      .partitionBy("time_chunk")
      .parquet(dataPath(root))
  }

  /** Chunk a pixel-level DataFrame (x, y, t, value) into fraction rows —
    * the write_all path (jgrid3.py:441-457). Pixels absent from `pixels`
    * get the header's nodata value; a pixel outside the grid fails the
    * job with an error naming the pixel and the grid size.
    *
    * `stored` (fraction rows of an existing store, packed) are chunks to
    * GROW rather than build: the incremental append's ragged tail
    * (complete_ndvi_worldgrid.py:59-142). Each is cogrouped with the new
    * pixels of its key and spliced — its old series copied per pixel
    * into the grown `w*h*nd` chunk, the new pixels scattered in, one
    * encode — so a stored chunk crosses the shuffle as ONE packed row,
    * never as pixels. A stored chunk that receives no pixel still grows
    * (with nodata) to the header's chunk geometry.
    *
    * One shuffle on the chunk key; the dense C-order scatter inside a
    * chunk is per-group imperative logic (a fraction fits memory by
    * construction — the reference sizes chunks to an HDFS block).
    * Everything before/after stays relational.
    */
  def fromPixels(spark: SparkSession, header: GridHeader, pixels: DataFrame,
                 stored: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val g = header.chunkGrid
    val byChunk = pixels
      .select(col("x"), col("y"), col("t"), col("value").cast("double"))
      .as[(Int, Int, Int, Double)]
      .groupByKey { case (x, y, t, _) => chunkKey(header, g, x, y, t) }
    val rows = stored match {
      case None =>
        byChunk.mapGroups((key, it) => chunk(header, g, key, None, it))
      case Some(s) =>
        byChunk.cogroup(
          s.as[FracRowBytes].groupByKey(r => (r.frac_num, r.time_chunk))) {
          (key, it, old) =>
            val base = old.toList
            require(base.size <= 1,
              s"store holds ${base.size} rows for chunk $key, expected one")
            Iterator(chunk(header, g, key, base.headOption, it))
        }
    }
    rows.toDF()
  }

  /** Chunk key (frac_num, time_chunk) of pixel (x, y, t). Every pixel
    * that reaches [[chunk]]'s scatter passes here first, so this is
    * where an out-of-grid pixel is rejected: the scatter's index
    * arithmetic would otherwise land it silently in a neighbouring
    * pixel of the chunk. */
  private def chunkKey(header: GridHeader, g: ChunkGrid,
                       x: Int, y: Int, t: Int): (Int, Int) = {
    if (!g.inBoundsXY(x, y) || t < 0 || t >= header.nDates)
      throw new IllegalArgumentException(
        s"pixel (x=$x, y=$y, t=$t) lies outside grid '${header.name}' of " +
          s"${header.width} x ${header.height} px and ${header.nDates} dates")
    (g.fracForXY(x, y), t / g.fracNDates)
  }

  /** One chunk of `header`'s grid: allocated at the header's chunk
    * geometry and filled with nodata, `base`'s stored series copied in
    * as each pixel's leading dates, then `pixels` (absolute x, y, t)
    * scattered in C-order `[y][x][t]`, and the payload encoded once. */
  private def chunk(header: GridHeader, g: ChunkGrid, key: (Int, Int),
                    base: Option[FracRowBytes],
                    pixels: Iterator[(Int, Int, Int, Double)]): FracRowBytes = {
    val (fracNum, tc) = key
    val (fx, fy) = (g.fracX(fracNum), g.fracY(fracNum))
    val (x0, x1) = g.fracXRange(fx)
    val (y0, y1) = g.fracYRange(fy)
    val (t0, t1) = g.timeChunkRange(tc)
    val (w, h, nd) = (x1 - x0, y1 - y0, t1 - t0)
    val data = Array.fill(w * h * nd)(header.nodata)
    base.foreach { b =>
      require(b.w == w && b.h == h && b.t0 == t0 && b.nd <= nd,
        s"stored chunk $key is ${b.w} x ${b.h} x ${b.nd} at t0=${b.t0}; " +
          s"it cannot grow to $w x $h x $nd at t0=$t0")
      val old = PayloadCodec.decodeDouble(b.data, PayloadCodec.code(header.dtype))
      var p = 0
      while (p < w * h) {
        System.arraycopy(old, p * b.nd, data, p * nd, b.nd)
        p += 1
      }
    }
    pixels.foreach { case (x, y, t, v) =>
      data(((y - y0) * w + (x - x0)) * nd + (t - t0)) = v
    }
    FracRowBytes(fracNum, tc, fx, fy, x0, y0, t0, w, h, nd,
      PayloadCodec.encodeDouble(data, header.dtype))
  }

  // ---- read (SRC1/SRC3, P1-P3, P6-P7) ---------------------------------

  /** The stored chunk schema: the [[FracRowBytes]] columns as the files
    * hold them, then the `time_chunk` partition column — the column order
    * Parquet schema inference gave, so positional callers see no change.
    */
  val chunkSchema: StructType = {
    val (part, file) = Encoders.product[FracRowBytes].schema.fields
      .map(_.copy(nullable = true)).partition(_.name == "time_chunk")
    StructType(file ++ part)
  }

  /** All available fraction rows (sparse listing is just the scan —
    * SRC3, jgrid3.py:610-632), read with the declared [[chunkSchema]].
    *
    * A declared-schema scan reads a column that a data file lacks as
    * NULL, so one data file's footer is checked on the driver (a footer
    * read, no Spark job): a store whose files lack a chunk column, or
    * hold it with another type, fails here naming the store and the
    * column. A file of the wrong type that this check does not open still
    * fails its scan task (Parquet's type-mismatch error names the file
    * and the column).
    */
  def fractions(spark: SparkSession, root: String): DataFrame = {
    val rows = spark.read.schema(chunkSchema).parquet(dataPath(root))
    rows.inputFiles.headOption.foreach(checkChunkColumns(spark, root, _))
    rows
  }

  private def checkChunkColumns(spark: SparkSession, root: String,
                                file: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromPath(new Path(new java.net.URI(file)), conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    val stored = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
      .convert(footer.getFileMetaData.getSchema)
      .fields.map(f => f.name -> f.dataType).toMap ++
      (if (file.contains("/time_chunk=")) Map("time_chunk" -> IntegerType)
       else Map.empty)
    chunkSchema.fields.foreach { f =>
      val found = stored.get(f.name)
      require(found.contains(f.dataType), s"fraction store $root: " +
        found.fold(s"chunk column '${f.name}' is missing")(t =>
          s"chunk column '${f.name}' is ${t.simpleString}, expected " +
            f.dataType.simpleString) + s" in data file $file")
    }
  }

  /** One-row catalog summary of a grid store — the header pretty-print
    * of the reference's worldgrid_info script
    * (scripts/worldgrid_info.py:21-27) as a queryable relation: header
    * fields, chunk-grid shape, PRESENT chunk count + sparsity from the
    * sparse fraction listing (SRC3), and the time-axis range. Cost: one
    * header read plus one distinct-count over the listing's two key
    * columns (column-pruned scan — never payload bytes), so it stays a
    * metadata-priced call at any store size. */
  def gridInfo(spark: SparkSession, root: String): DataFrame = {
    val h = GridHeader.load(spark, root)
    val g = h.chunkGrid
    val expected = g.numFracsX.toLong * g.numFracsY * g.numTimeChunks
    val present = fractions(spark, root)
      .select(col("frac_num"), col("time_chunk")).distinct().count()
    import spark.implicits._
    Seq((h.name, h.width, h.height, h.fracWidth, h.fracHeight,
        h.fracNDates, h.dtype, h.srs, h.nDates,
        g.numFracsX, g.numFracsY, g.numTimeChunks,
        expected, present,
        math.round(present.toDouble / expected * 1000000) / 1000000.0,
        h.timestampsMs.min, h.timestampsMs.max, h.nodata))
      .toDF("name", "width", "height", "frac_width", "frac_height",
        "frac_n_dates", "dtype", "srs", "n_dates",
        "n_fracs_x", "n_fracs_y", "n_time_chunks",
        "n_chunks_expected", "n_chunks_present", "sparsity",
        "t_min_ms", "t_max_ms", "nodata")
  }

  /** Fraction rows pruned to a pixel/time window. The frac_x/frac_y/
    * time_chunk predicates are partition- and stats-prunable (P6/P7);
    * this is the Catalyst analog of fracs_for_rect_xy, with the chunk
    * ranges taken from [[ChunkGrid.chunkSpan]]. An empty or off-grid
    * window prunes to no chunk at all (the optimizer drops the scan).
    */
  def fractionsForWindow(spark: SparkSession, header: GridHeader, root: String,
                         xFrom: Int, xTo: Int, yFrom: Int, yTo: Int,
                         tFrom: Int, tTo: Int): DataFrame = {
    val g = header.chunkGrid
    def in(c: String, r: Range): Column =
      if (r.isEmpty) lit(false) else col(c).between(r.head, r.last)
    fractions(spark, root)
      .filter(in("time_chunk", g.chunkSpan(tFrom, tTo, g.nDates, g.fracNDates)))
      .filter(in("frac_x", g.chunkSpan(xFrom, xTo, g.width, g.fracWidth)) &&
        in("frac_y", g.chunkSpan(yFrom, yTo, g.height, g.fracHeight)))
  }

  private val joinKey = Seq("frac_num", "time_chunk")

  /** Placement columns of a chunk row: everything but the payload. */
  private[grid] val placement = joinKey ++
    Seq("frac_x", "frac_y", "x0", "y0", "t0", "w", "h", "nd")

  /** THE aligned-chunk join (reference J2, jgrid/utils.py:114-148, and
    * the input join of a pipeline step, hadoop/spark.py:146-167): N
    * sides of (header, chunk rows) on one geogrid and time chunking are
    * joined on (frac_num, time_chunk). Returns side 0's placement
    * columns plus `data_0..data_{n-1}` (packed payloads). Every aligned
    * read — window loads, bucketed joins, fused kernels, the pipeline's
    * input pairing — goes through here, so the join shuffles chunk rows
    * (hundreds of ~MB payloads), never exploded pixels.
    *
    * A chunk whose sides disagree on `nd` (one band appended with
    * [[IncrementalAppend.appendDates]], the other not) fails the job,
    * naming the chunk and both shapes: side i's payload length must be
    * side 0's w*h*nd in side i's dtype — so the check reads no column
    * beyond the payload. Under joinType "left" an absent side is NULL
    * and passes.
    */
  private[grid] def alignedJoin(sides: Seq[(GridHeader, DataFrame)],
                                joinType: String = "inner"): DataFrame = {
    require(sides.nonEmpty)
    val h0 = sides.head._1
    require(sides.forall(_._1.sharesChunking(h0)),
      "aligned chunk join needs one shared geogrid + time chunking")
    val base = sides.head._2
      .select(placement.map(col) :+ col("data").as("data_0"): _*)
    val joined = sides.zipWithIndex.drop(1).foldLeft(base) {
      case (acc, ((_, rows), i)) =>
        acc.join(rows.select(col("frac_num"), col("time_chunk"),
          col("data").as(s"data_$i")), joinKey, joinType)
    }
    val checked = sides.zipWithIndex.drop(1).map { case ((h, _), i) =>
      val data = col(s"data_$i")
      val px = col("w") * col("h")
      val size = PayloadCodec.bytesPerElem(PayloadCodec.code(h.dtype))
      when(octet_length(data) =!= px * col("nd") * size,
        raise_error(format_string("aligned chunk (frac_num, time_chunk) = " +
          "(%d, %d) at (x0, y0, t0) = (%d, %d, %d): side 0 is %dx%dx%d but " +
          s"side $i is %dx%dx%d (w x h x nd): the stores' time axes " +
          "differ", col("frac_num"), col("time_chunk"),
          col("x0"), col("y0"), col("t0"), col("w"), col("h"), col("nd"),
          col("w"), col("h"), (octet_length(data) / (px * size)).cast("int"))))
        .otherwise(data).as(s"data_$i")
    }
    joined.select(placement.map(col) ++ (col("data_0") +: checked): _*)
  }

  /** THE chunk -> pixel explode: chunk rows carrying `data_0..data_{n-1}`
    * (one per header) become the pixel view (x, y, t, value_0..
    * value_{n-1}), preceded by `chunkCols` when given. `masks(i)` turns
    * payload i's nodata into NULL (P9 per band).
    *
    * Each band reads only the dates its header holds: rows at or past
    * the base header's `nDates` are dropped, and band i > 0 is NULL at
    * or past its own. A chunk an append wrote before a header save that
    * never came thus reads as the store its header describes, and a
    * band with fewer dates than the base (a "left" aligned join) keeps
    * the base pixels with NULL for that band.
    *
    * Payloads 1..n-1 are unpacked in ONE projection below the generator
    * and indexed per pixel with element_at on the materialized arrays
    * (O(1) each): Catalyst does not CSE into generators, and element_at
    * over an inlined unpack would re-decode the chunk per pixel. Payload
    * 0 is unpacked inside the posexplode, which evaluates it once per
    * chunk row; over an attribute, Catalyst would infer a
    * `size(arr_0) > 0` filter and push it below that projection with the
    * unpack inlined — a second decode of every chunk.
    */
  private[grid] def explodePixels(headers: Seq[GridHeader], chunks: DataFrame,
                                  masks: Seq[Boolean],
                                  chunkCols: Seq[String] = Nil): DataFrame = {
    require(headers.nonEmpty && masks.length == headers.length)
    val geometry = (chunkCols ++ Seq("x0", "y0", "t0", "w", "nd")).map(col)
    val unpacked = chunks.select(geometry ++ (col("data_0") +:
      headers.indices.drop(1).map(i =>
        unpack(headers(i), col(s"data_$i")).as(s"arr_$i"))): _*)
    val exploded = unpacked.select(geometry ++
      headers.indices.drop(1).map(i => col(s"arr_$i")) :+
      posexplode(unpack(headers.head, col("data_0"))).as(Seq("pos", "value_0")): _*)
    // one projection (each withColumn would re-analyze the growing plan)
    val pix = expr("pos div nd").cast("int")
    val t = col("t0") + col("pos") % col("nd")
    val xyt = Seq((col("x0") + pix % col("w")).as("x"),
      (col("y0") + expr("cast(pos div nd as int) div w").cast("int")).as("y"),
      t.as("t"))
    val values = headers.zip(masks).zipWithIndex.map { case ((h, mask), i) =>
      val raw = if (i == 0) col("value_0")
                else when(t < h.nDates, element_at(col(s"arr_$i"), col("pos") + 1))
      val v = if (mask && !h.nodata.isNaN)
        nullif(raw, lit(h.nodata).cast(elementType(h.dtype)))
      else raw
      v.as(s"value_$i")
    }
    // the base clip, as chunk-local date < dates left in the chunk: a
    // test on `t` could equal a caller's (`t < tTo` at the last date),
    // the optimizer would drop the duplicate, and that window would
    // plan (and compile) a shape of its own
    exploded.filter(col("pos") % col("nd") < lit(headers.head.nDates) - col("t0"))
      .select(chunkCols.map(col) ++ xyt ++ values: _*)
  }

  /** Explode fraction rows to the relational pixel view
    * (x, y, t, value) — the deterministic explode of SURVEY §1.4, as
    * the one-store case of [[explodePixels]]. `maskNodata=true` turns
    * the header's nodata into NULL (P9). Dates past `header.nDates` are
    * left out (see [[explodePixels]]).
    *
    * `keepChunkCols` passes the STORED frac_x/frac_y/time_chunk through
    * the explode: predicates on them (e.g. added by the LatLngPruning
    * rule) push below the Generate all the way to the parquet scan.
    */
  def pixels(header: GridHeader, fracRows: DataFrame,
             maskNodata: Boolean = true,
             keepChunkCols: Boolean = false): DataFrame =
    explodePixels(Seq(header), fracRows.withColumnRenamed("data", "data_0"),
      Seq(maskNodata),
      if (keepChunkCols) Seq("frac_x", "frac_y", "time_chunk") else Nil)
      .withColumnRenamed("value_0", "value")

  /** Rectangular window load as a pixel DataFrame — the P3
    * `load_slice_xy` analog: chunk pruning, then exact box filter; the
    * one-store case of [[loadAlignedSliceXY]]. Stays relational (no
    * driver-side scatter); callers aggregate or collect as needed.
    */
  def loadSliceXY(spark: SparkSession, header: GridHeader, root: String,
                  xFrom: Int, xTo: Int, yFrom: Int, yTo: Int,
                  tFrom: Int, tTo: Int,
                  maskNodata: Boolean = true): DataFrame =
    loadAlignedSliceXY(spark, Seq((header, root)), xFrom, xTo, yFrom, yTo,
      tFrom, tTo, Seq(maskNodata))
      .withColumnRenamed("value_0", "value")

  /** Aligned multi-store window load (J1/J2 fast path): each store is
    * pruned to the window, the stores' chunks are paired by the one
    * aligned join ([[alignedJoin]]), the one explode ([[explodePixels]])
    * emits (x, y, t, value_0..value_{n-1}) and the exact box filter
    * runs last.
    *
    * This is the scale-correct shape of a multi-band query: an
    * (x, y, t) pixel join of two tile-scale bands shuffles 10^8 rows
    * and was 100x slower in the tile benchmark.
    *
    * `masks(i)` turns store i's nodata into NULL (P9 per band).
    * joinType "left": chunks absent from a secondary store keep the
    * base store's pixels with NULL for that band (unpack of a NULL
    * payload is NULL; element_at on a NULL array is NULL), as do
    * dates past a secondary header's `nDates` ([[explodePixels]]).
    *
    * The box filter's bounds, like the chunk ranges of
    * [[fractionsForWindow]], are literals in the logical plan; under
    * [[graft.GraftExtensions]] the physical rule
    * [[graft.plans.ParamLiterals]] makes them parameters of the
    * generated code, so every window of a shape reuses one compiled
    * per-pixel loop. The scan's pushed and partition filters stay
    * literals.
    */
  def loadAlignedSliceXY(spark: SparkSession,
                         stores: Seq[(GridHeader, String)],
                         xFrom: Int, xTo: Int, yFrom: Int, yTo: Int,
                         tFrom: Int, tTo: Int,
                         masks: Seq[Boolean],
                         joinType: String = "inner"): DataFrame = {
    val chunks = alignedJoin(stores.map { case (h, root) =>
      (h, fractionsForWindow(spark, h, root, xFrom, xTo, yFrom, yTo, tFrom, tTo))
    }, joinType)
    explodePixels(stores.map(_._1), chunks, masks)
      .filter(col("x") >= xFrom && col("x") < xTo &&
        col("y") >= yFrom && col("y") < yTo &&
        col("t") >= tFrom && col("t") < tTo)
  }

  // ---- bucketed chunk tables (J2: zero-shuffle co-located joins) ------

  /** Save fraction rows as a BUCKETED table on the chunk key. Two grids
    * written with the same bucket count co-locate their chunks, so the
    * aligned join ([[bucketedAlignedJoinN]]) runs with NO shuffle on
    * any side — the 100 TB shape for repeated multi-grid pipelines
    * over the same worldgrid (reference J2: fractions of aligned grids
    * live on the same HDFS nodes by layout).
    */
  def writeBucketed(spark: SparkSession, header: GridHeader,
                    fracRows: DataFrame, table: String,
                    nBuckets: Int = 32): Unit = {
    // A crashed/killed prior run can leave the managed-table LOCATION on
    // disk with no catalog entry (the metastore here is per-session);
    // CTAS then refuses with LOCATION_ALREADY_EXISTS. Drop any catalog
    // entry, then clear an orphaned default location before writing.
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new Path(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(table)))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    fracRows.write.mode("overwrite")
      .bucketBy(nBuckets, "frac_num", "time_chunk")
      .sortBy("frac_num", "time_chunk")
      .format("parquet")
      .saveAsTable(table)
  }

  /** Chunk-aligned join of N bucketed grid tables: every side reads
    * pre-bucketed on (frac_num, time_chunk), so the whole N-way
    * [[alignedJoin]] plans with NO Exchange (verified by
    * BucketedJoinSpec for 2 and 3 grids). Returns the pixel view
    * (x, y, t, value_0..value_{n-1}) of [[explodePixels]], unfiltered —
    * the zero-shuffle input path for multi-band pipelines over a shared
    * worldgrid (reference J2).
    */
  def bucketedAlignedJoinN(spark: SparkSession,
                           stores: Seq[(GridHeader, String)],
                           masks: Seq[Boolean]): DataFrame = {
    require(stores.length >= 2)
    explodePixels(stores.map(_._1),
      alignedJoin(stores.map { case (h, table) => (h, spark.table(table)) }),
      masks)
  }

  /** Lat/lng window load (P4, jgrid3.py:588-605): WGS84 rect -> grid xy
    * via inverse projection+geotransform, then loadSliceXY.
    */
  def loadSliceLatLng(spark: SparkSession, header: GridHeader, root: String,
                      latMin: Double, latMax: Double,
                      lngMin: Double, lngMax: Double,
                      tFrom: Int, tTo: Int): DataFrame = {
    val (x0, x1, y0, y1) = header.pixelBox(Seq(
      header.latLngToXY(latMin, lngMin), header.latLngToXY(latMin, lngMax),
      header.latLngToXY(latMax, lngMin), header.latLngToXY(latMax, lngMax)))
    loadSliceXY(spark, header, root, x0, x1, y0, y1, tFrom, tTo)
  }

  /** Polygon load (P5, jgrid/utils.py:27-51): bbox prune + containment
    * mask. Polygon vertices are WGS84 (lat, lng); mask column `in_poly`
    * mirrors the reference's bool mask pairing and is a lookup in the
    * polygon's [[RegionIntervals]] table over the window.
    */
  def loadPolyLatLng(spark: SparkSession, header: GridHeader, root: String,
                     poly: Array[(Double, Double)],
                     tFrom: Int, tTo: Int): DataFrame = {
    val xyPoly = RegionIntervals.pixelRing(header, "polygon", poly)
    val (x0, x1, y0, y1) = header.pixelBox(xyPoly)
    val table = RegionIntervals(Seq(xyPoly), x0, x1, y0, y1)
    loadSliceXY(spark, header, root, x0, x1, y0, y1, tFrom, tTo)
      .withColumn("in_poly",
        graft.functions.RegionAtExpr(table, col("x"), col("y")) >= 0)
  }

  /** Attach the time axis (ts epoch millis) to a pixel view — W1 support. */
  def withTimestamp(header: GridHeader, pixelDf: DataFrame): DataFrame =
    pixelDf.withColumn("ts_ms",
      element_at(
        lit(header.timestampsMs.toArray), col("t") + 1))
}
