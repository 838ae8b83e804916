package graft.grid

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The distributed map-over-fractions pipeline (reference: U1, the
  * engine's centerpiece — rastercube/hadoop/spark.py:105-256): the
  * one-output case of [[GridMultiPipeline]], which holds the run.
  *
  * Semantics preserved from the reference:
  *  - all inputs must share a geogrid (spark.py:146-153);
  *  - available = intersection of the inputs' chunk sets (J4, :166-167);
  *  - todo = available − already-written output chunks unless forceAll
  *    (J5 lazy resume, :171-177) — re-running a finished pipeline is a
  *    no-op (idempotence);
  *  - beyond the reference: an output chunk whose `nd` differs from its
  *    input chunk's is STALE (an [[IncrementalAppend]] grew the input's
  *    tail after the chunk was derived). Every available chunk of a
  *    time chunk holding a stale one is recomputed, and those
  *    `time_chunk` partitions are replaced
  *    ([[FractionStore.replaceTimeChunks]]); missing chunks elsewhere
  *    are appended as before;
  *  - the user function maps N aligned input chunks to one output chunk.
  *
  * What Spark replaces: egg shipping, WebHDFS reads, write-in-mapper,
  * driver-OOM dance, locality TODOs — the multi-way equi-join on
  * (frac_num, time_chunk) co-locates input chunks, `mapGroups` applies
  * the kernel, and a partitioned parquet append writes results from the
  * executors.
  *
  * An input root of the form `table:<name>` reads a bucketed chunk
  * table ([[FractionStore.writeBucketed]]) instead of a store path;
  * with all inputs bucketed on the chunk key the aligned join runs
  * shuffle-free (J2).
  */
final class GridPipeline(
    val inputs: Seq[(GridHeader, String)],
    val output: GridHeader,
    val outputRoot: String,
    val forceAll: Boolean = false) {

  private val multi =
    new GridMultiPipeline(inputs, Seq((output, outputRoot)), forceAll)

  /** Run `fn` over every todo chunk. `fn` receives the chunk key and the
    * aligned input payloads (as doubles, in `inputs` order) and returns
    * the output payload (length w*h*nd of the output dtype's chunk).
    * Returns the number of chunks computed.
    */
  def run(spark: SparkSession)(
      fn: (FracRow, Seq[Array[Double]]) => Array[Double]): Long =
    multi.run(spark)((row, payloads) => Seq(fn(row, payloads)))
}

object GridPipeline {
  private val key = Seq("frac_num", "time_chunk")

  /** Chunk rows for a pipeline input. A root of the form
    * `table:<name>` names a BUCKETED chunk table
    * ([[FractionStore.writeBucketed]]) instead of a store path: inputs
    * bucketed on (frac_num, time_chunk) with one bucket count make the
    * pipeline's N-way aligned join plan with no Exchange on any input
    * (J2 — the reference's co-located-fractions layout). */
  private[grid] def chunkRows(spark: SparkSession, root: String): DataFrame =
    if (root.startsWith("table:")) spark.table(root.stripPrefix("table:"))
    else FractionStore.fractions(spark, root)

  /** Chunks already present in an output store (frac_num, time_chunk,
    * nd) — its done set; None when the store does not exist yet, so a
    * first run plans no scan of it. */
  private[grid] def outputChunks(spark: SparkSession,
                                 root: String): Option[DataFrame] = {
    val path = new org.apache.hadoop.fs.Path(FractionStore.dataPath(root))
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path))
      Some(FractionStore.fractions(spark, root)
        .select(col("frac_num"), col("time_chunk"), col("nd")).distinct())
    else None
  }

  /** Available chunks (frac_num, time_chunk, nd): the intersection of
    * the inputs' chunk sets, with `nd` taken from the first input — the
    * input that [[alignedPadded]] takes chunk placement from. */
  private[grid] def availableKeys(spark: SparkSession,
                                  inputs: Seq[(GridHeader, String)]): DataFrame =
    inputs.zipWithIndex.map { case ((_, root), i) =>
      chunkRows(spark, root)
        .select((if (i == 0) key :+ "nd" else key).map(col): _*).distinct()
    }.reduce((a, b) => a.join(b, key, "left_semi"))

  /** Time chunks in which some output store holds a chunk whose `nd`
    * differs from the available input chunk's — derived before an
    * append grew the input's tail. Runs a job only when an output
    * store exists. */
  private[grid] def staleTimeChunks(available: DataFrame,
                                    done: Seq[DataFrame]): Seq[Int] =
    done.flatMap { d =>
      available.join(d.withColumnRenamed("nd", "done_nd"), key)
        .filter(col("nd") =!= col("done_nd"))
        .select(col("time_chunk")).distinct()
        .collect().map(_.getInt(0))
    }.distinct.sorted

  private def inTimeChunks(cs: Seq[Int]): Column =
    col("time_chunk").isin(cs.map(Integer.valueOf): _*)

  /** Lazy-resume todo: available minus the chunks done in EVERY output
    * store of `done`, where no chunk of a stale time chunk counts as
    * done. Empty `done` (forceAll, or an output store that does not
    * exist yet) leaves every available chunk todo. */
  private[grid] def todo(available: DataFrame, done: Seq[DataFrame],
                         stale: Seq[Int]): DataFrame =
    if (done.isEmpty) available
    else available.join(
      done.map(_.select(key.map(col): _*))
        .reduce((a, b) => a.join(b, key, "left_semi"))
        .filter(!inTimeChunks(stale)),
      key, "left_anti")

  /** Write computed chunks to one output store. forceAll rewrites the
    * store (the reference overwrites fraction files in place); a lazy
    * run replaces the stale time chunks' partitions and appends the
    * rest, minus the chunks `done` (this store's done set) already
    * holds. */
  private[grid] def writeOutput(rows: DataFrame, root: String,
                                forceAll: Boolean, stale: Seq[Int],
                                done: Option[DataFrame]): Unit = {
    if (forceAll) FractionStore.writeRows(rows, root, "overwrite")
    else {
      if (stale.nonEmpty)
        FractionStore.replaceTimeChunks(root,
          rows.filter(inTimeChunks(stale)))
      val fresh = rows.filter(!inTimeChunks(stale))
      FractionStore.writeRows(done.fold(fresh)(d =>
        fresh.join(d.select(key.map(col): _*), key, "left_anti")),
        root, "append")
    }
  }

  /** Align input chunks on the chunk key and pad to the fixed
    * AlignedChunk shape. Inputs share chunking, so the join keys are
    * dense and equi — shuffle once per input, no broadcast needed at
    * scale. Payloads travel packed (binary) through the join; decode
    * happens once in the kernel task. */
  private[grid] def alignedPadded(spark: SparkSession,
                                  inputs: Seq[(GridHeader, String)],
                                  todo: DataFrame): DataFrame = {
    val aligned = inputs.zipWithIndex.map { case ((_, root), i) =>
      chunkRows(spark, root)
        .join(todo, key, "left_semi")
        .select(col("frac_num"), col("time_chunk"), col("frac_x"), col("frac_y"),
          col("x0"), col("y0"), col("t0"), col("w"), col("h"), col("nd"),
          col("data").as(s"data_$i"))
    }.reduce { (a, b) =>
      a.join(b.select((Seq("frac_num", "time_chunk") ++
        b.columns.filter(_.startsWith("data_"))).map(col): _*), key)
    }
    val dataCols = inputs.indices.map(i => s"data_$i")
    (inputs.size until 4).foldLeft(
      aligned.select((Seq("frac_num", "time_chunk", "frac_x", "frac_y",
        "x0", "y0", "t0", "w", "h", "nd") ++ dataCols).map(col): _*)) {
      (df, i) => df.withColumn(s"data_$i", lit(null).cast(BinaryType))
    }
  }
}

/** One aligned pass, SEVERAL derived grids: the pipeline run, for k
  * output grids ([[GridPipeline]] is its k = 1 case). The reference
  * derives one output per job, so a product that needs k derived
  * layers from the same inputs re-reads and re-joins them k times;
  * here the kernel returns k payloads per chunk and each goes to its
  * own store — inputs are scanned, joined, and decoded ONCE regardless
  * of k (at 100 TB the input scan dominates, so k outputs cost ~1 input
  * pass + k cheap writes).
  *
  * Resume semantics per store: todo is available − (chunks present in
  * EVERY output), and with several stores each store's write anti-joins
  * its own done set, so a run that died between store writes backfills
  * only what is missing where. A time chunk stale in any store is
  * recomputed whole and replaced in every store. A `forceAll` run, and
  * a first run on absent stores, plans no scan of any output.
  */
final class GridMultiPipeline(
    val inputs: Seq[(GridHeader, String)],
    val outputs: Seq[(GridHeader, String)],
    val forceAll: Boolean = false) {

  require(inputs.nonEmpty)
  require(outputs.nonEmpty && outputs.size <= 4,
    "1 to 4 output grids (AlignedChunk payload shape)")
  require(inputs.forall(_._1.sameGeogrid(inputs.head._1)),
    "all pipeline inputs must share a geogrid (hadoop/spark.py:146-153)")
  require(outputs.forall(_._1.sameGeogrid(inputs.head._1)),
    "output grids must share the inputs' geogrid")

  /** Run `fn` over every todo chunk; it returns one payload per output
    * grid (in `outputs` order). Returns the number of chunks computed. */
  def run(spark: SparkSession)(
      fn: (FracRow, Seq[Array[Double]]) => Seq[Array[Double]]): Long = {
    import spark.implicits._

    // J4: available = ∩ inputs, J5: − done (stale time chunks are not done)
    val perOutputDone = outputs.map { case (_, root) =>
      if (forceAll) None else GridPipeline.outputChunks(spark, root)
    }
    // with several stores each write anti-joins its own done set, so
    // materialize them BEFORE any write: the write loop must never plan
    // a scan of a directory it is writing to. A lone store's done set is
    // already out of todo; its write needs none.
    val writeDone = perOutputDone.map(d => if (outputs.size > 1) d else None)
    writeDone.flatten.foreach { d =>
      d.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      d.count()
    }
    val available = GridPipeline.availableKeys(spark, inputs)
    val stale = GridPipeline.staleTimeChunks(available, perOutputDone.flatten)
    val todo = GridPipeline.todo(available,
      if (perOutputDone.forall(_.isDefined)) perOutputDone.flatten else Nil,
      stale)

    val padded = GridPipeline.alignedPadded(spark, inputs, todo)
    val inCodes = inputs.map(p => PayloadCodec.code(p._1.dtype))
    val outDtypes = outputs.map(_._1.dtype)
    val nOut = outDtypes.size
    val outRows = padded
      .as[AlignedChunk]
      .map { c =>
        val row = FracRow(c.frac_num, c.time_chunk, c.frac_x, c.frac_y,
          c.x0, c.y0, c.t0, c.w, c.h, c.nd, null)
        val payloads = c.payloads.zip(inCodes).map { case (b, cd) =>
          PayloadCodec.decodeDouble(b, cd)
        }
        val outs = fn(row, payloads)
        require(outs.length == nOut,
          s"kernel returned ${outs.length} payloads for $nOut outputs")
        val enc = outs.zip(outDtypes).map { case (a, dt) =>
          PayloadCodec.encodeDouble(a, dt)
        }
        AlignedChunk(c.frac_num, c.time_chunk, c.frac_x, c.frac_y,
          c.x0, c.y0, c.t0, c.w, c.h, c.nd,
          enc.head, enc.lift(1), enc.lift(2), enc.lift(3))
      }

    val outDf = outRows.toDF()
    outputs.foreach { case (h, root) => h.save(spark, root) }
    // persist so the count action and every store write share one
    // kernel execution (the reference avoids double work by writing
    // inside the mapper and returning only filenames — spark.py:199-205)
    outDf.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = outDf.count()
      if (n > 0) outputs.zipWithIndex.foreach { case ((_, root), i) =>
        val one = outDf.select(col("frac_num"), col("time_chunk"),
          col("frac_x"), col("frac_y"), col("x0"), col("y0"), col("t0"),
          col("w"), col("h"), col("nd"), col(s"data_$i").as("data"))
        GridPipeline.writeOutput(one, root, forceAll, stale, writeDone(i))
      }
      n
    } finally {
      outDf.unpersist()
      writeDone.flatten.foreach(_.unpersist())
    }
  }
}

/** Row shape for the aligned multi-input join (up to 4 inputs — the
  * reference pipelines use 1-2). Extra payload columns are null when
  * fewer inputs are present; payloads are packed binary
  * ([[PayloadCodec]]).
  */
final case class AlignedChunk(
    frac_num: Int, time_chunk: Int, frac_x: Int, frac_y: Int,
    x0: Int, y0: Int, t0: Int, w: Int, h: Int, nd: Int,
    data_0: Array[Byte],
    data_1: Option[Array[Byte]] = None,
    data_2: Option[Array[Byte]] = None,
    data_3: Option[Array[Byte]] = None) {
  def payloads: Seq[Array[Byte]] =
    Seq(Some(data_0), data_1, data_2, data_3).flatten
}
