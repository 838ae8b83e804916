package graft.grid

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.functions.QaDecode

/** Pipeline semantics tests (U1 + J4/J5): masked derivation over two
  * aligned grids, incremental resume, idempotence — the spec is
  * tests/scripts/test_complete_ndvi_worldgrid.py:42-122's no-op re-run
  * plus hadoop/spark.py:166-177's todo computation.
  */
class GridPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  lazy val (ndviRoot, qaRoot) = {
    val nr = TestSpark.tmpDir("mm_ndvi")
    val qr = TestSpark.tmpDir("mm_qa")
    SyntheticGrid.writeMiniModis(spark, nr, qr)
    (nr, qr)
  }

  test("two-input masked derivation produces aligned output (U1/J9)") {
    val ndviH = GridHeader.load(spark, ndviRoot)
    val qaH = GridHeader.load(spark, qaRoot)
    val outRoot = TestSpark.tmpDir("mm_out")
    val outH = ndviH.copy(name = "ndvi_masked")
    val pipe = new GridPipeline(Seq((ndviH, ndviRoot), (qaH, qaRoot)), outH, outRoot)

    // kernel: NDVI where QA confidence > 0, else nodata — the
    // notebook's masking as a chunk kernel. Confidence rule inlined:
    // gate bits or usefulness >= 12 (conf <= 0).
    val n = pipe.run(spark) { (row, payloads) =>
      val Seq(ndvi, qa) = payloads
      val out = new Array[Double](ndvi.length)
      var i = 0
      while (i < ndvi.length) {
        val q = qa(i).toInt & 0xffff
        val gated = (q & 3) == 3 || ((q >> 6) & 3) == 3 || ((q >> 8) & 1) == 1 ||
          ((q >> 10) & 1) == 1 || ((q >> 11) & 7) != 1 ||
          ((q >> 14) & 1) == 1 || ((q >> 15) & 1) == 1 ||
          ((q >> 2) & 0xf) >= 12
        out(i) = if (gated) -3000.0 else ndvi(i)
        i += 1
      }
      out
    }
    // 4x4 fracs x 2 time chunks
    assert(n == 32)

    // verify against the relational formulation of the same mask
    assertPixels(outH, outRoot, maskedExpected)
  }

  /** Pixel view (x, y, t, value) of the input stores joined on the pixel,
    * with the QA value as `qa` — the relational side of the kernels. */
  def inputPixels = {
    val ndviH = GridHeader.load(spark, ndviRoot)
    val qaH = GridHeader.load(spark, qaRoot)
    FractionStore.pixels(ndviH,
      FractionStore.fractions(spark, ndviRoot), maskNodata = false)
      .join(FractionStore.pixels(qaH,
        FractionStore.fractions(spark, qaRoot), maskNodata = false)
        .withColumnRenamed("value", "qa"), Seq("x", "y", "t"))
  }

  /** NDVI where the QA confidence is positive, else nodata. */
  def maskedExpected = inputPixels.select(col("x"), col("y"), col("t"),
    when(QaDecode.modisQaConf(col("qa")) > 0, col("value"))
      .otherwise(-3000.0).cast("int").as("value"))

  /** QA confidence in percent, stored as uint8 (negative confidences
    * wrap the way the uint8 payload encoding does). */
  def confExpected = inputPixels.select(col("x"), col("y"), col("t"),
    pmod(round(QaDecode.modisQaConf(col("qa")) * 100.0).cast("int"), lit(256))
      .as("value"))

  def assertPixels(h: GridHeader, root: String,
                   expected: org.apache.spark.sql.DataFrame): Unit = {
    val got = FractionStore.pixels(h,
      FractionStore.fractions(spark, root), maskNodata = false)
    assert(got.count() == expected.count(), h.name)
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty, h.name)
  }

  test("re-run is a no-op; missing chunks are backfilled (J5 incremental)") {
    val ndviH = GridHeader.load(spark, ndviRoot)
    val outRoot = TestSpark.tmpDir("mm_inc")
    val outH = ndviH.copy(name = "ndvi_copy")
    def mkPipe = new GridPipeline(Seq((ndviH, ndviRoot)), outH, outRoot)
    val identity: (FracRow, Seq[Array[Double]]) => Array[Double] =
      (_, ps) => ps.head

    val n1 = mkPipe.run(spark)(identity)
    assert(n1 == 32)
    // idempotence: everything done -> nothing recomputed
    assert(mkPipe.run(spark)(identity) == 0)

    // drop two chunks from the output -> only those get recomputed
    val pruned = FractionStore.fractions(spark, outRoot)
      .filter(!(col("frac_num") === 0))
    val tmp = TestSpark.tmpDir("mm_inc2")
    FractionStore.write(spark, outH, pruned, tmp)
    val pipe2 = new GridPipeline(Seq((ndviH, ndviRoot)), outH, tmp)
    assert(pipe2.run(spark)(identity) == 2) // frac 0 x 2 time chunks
    assert(pipe2.run(spark)(identity) == 0)
  }

  test("multi-output pipeline equals the relational oracle, one pass") {
    val ndviH = GridHeader.load(spark, ndviRoot)
    val qaH = GridHeader.load(spark, qaRoot)
    val ins = Seq((ndviH, ndviRoot), (qaH, qaRoot))
    def maskedKernel(ps: Seq[Array[Double]]): Array[Double] = {
      val Seq(ndvi, qa) = ps
      Array.tabulate(ndvi.length) { i =>
        if (QaDecode.modisQaConfScalar(qa(i).toInt) > 0) ndvi(i) else -3000.0
      }
    }
    def confKernel(ps: Seq[Array[Double]]): Array[Double] =
      ps(1).map(q => math.round(
        QaDecode.modisQaConfScalar(q.toInt) * 100.0).toDouble)
    val maskedH = ndviH.copy(name = "m_masked")
    val confH = ndviH.copy(name = "m_conf", dtype = "uint8", nodata = 255.0)

    // one multi-output pass
    val outMasked = TestSpark.tmpDir("mm_multi_masked")
    val outConf = TestSpark.tmpDir("mm_multi_conf")
    val multi = new GridMultiPipeline(ins,
      Seq((maskedH, outMasked), (confH, outConf)))
    val n = multi.run(spark) { (_, ps) =>
      Seq(maskedKernel(ps), confKernel(ps))
    }
    assert(n == 32)
    // idempotence across BOTH stores
    assert(multi.run(spark)((_, ps) =>
      Seq(maskedKernel(ps), confKernel(ps))) == 0)

    // each store against the relational formulation of its kernel
    assertPixels(maskedH, outMasked, maskedExpected)
    assertPixels(confH, outConf, confExpected)

    // partial-done resume: drop chunks from ONE store only; the rerun
    // backfills just that store's missing chunks
    val pruned = FractionStore.fractions(spark, outConf)
      .filter(!(col("frac_num") === 1))
    val prunedRoot = TestSpark.tmpDir("mm_multi_conf2")
    FractionStore.write(spark, confH, pruned, prunedRoot)
    val multi2 = new GridMultiPipeline(ins,
      Seq((maskedH, outMasked), (confH, prunedRoot)))
    assert(multi2.run(spark)((_, ps) =>
      Seq(maskedKernel(ps), confKernel(ps))) == 2)
    assertPixels(confH, prunedRoot, confExpected)
    // ...and the store that was already complete gained no duplicates
    val maskedChunks = FractionStore.fractions(spark, outMasked)
      .groupBy(col("frac_num"), col("time_chunk")).count()
      .filter(col("count") > 1).count()
    assert(maskedChunks == 0)
  }

  test("forceAll recomputes everything") {
    val ndviH = GridHeader.load(spark, ndviRoot)
    val outRoot = TestSpark.tmpDir("mm_force")
    val outH = ndviH.copy(name = "ndvi_f")
    val p1 = new GridPipeline(Seq((ndviH, ndviRoot)), outH, outRoot)
    assert(p1.run(spark)((_, ps) => ps.head) == 32)
    val p2 = new GridPipeline(Seq((ndviH, ndviRoot)), outH, outRoot, forceAll = true)
    assert(p2.run(spark)((_, ps) => ps.head) == 32)
  }

  test("lazy resume after an append recomputes the stale tail chunks") {
    // 3 dates in chunks of 2: the tail chunk 1 holds one date; appending
    // 2 dates grows it to 2 and opens chunk 2
    val ts = (0 until 5).map(i => 5000L + i)
    def header(name: String, n: Int) = SyntheticGrid.miniModisNdviHeader
      .copy(name = name, timestampsMs = ts.take(n))
    val ndvi = TestSpark.tmpDir("stale_ndvi")
    val qa = TestSpark.tmpDir("stale_qa")
    for ((root, value, dtype) <- Seq(
        (ndvi, SyntheticGrid.ndviValue _, "int16"),
        (qa, SyntheticGrid.qaValue _, "uint16"))) {
      val h = header("in", 3).copy(dtype = dtype)
      FractionStore.write(spark, h, FractionStore.fromPixels(spark, h,
        SyntheticGrid.pixelDf(spark, h, value)), root)
    }
    def ins = Seq(ndvi, qa).map(r => (GridHeader.load(spark, r), r))
    val kernel: (FracRow, Seq[Array[Double]]) => Array[Double] =
      (_, ps) => ps.head.zip(ps(1)).map { case (n, q) =>
        if ((q.toInt & 3) == 3) -3000.0 else n }
    def single(root: String, force: Boolean = false) =
      new GridPipeline(ins, header("out", ins.head._1.nDates), root, force)
        .run(spark)(kernel)
    def multi(a: String, b: String) = new GridMultiPipeline(ins,
      Seq((header("out", ins.head._1.nDates), a),
        (header("neg", ins.head._1.nDates), b)))
      .run(spark)((r, ps) => { val k = kernel(r, ps); Seq(k, k.map(-_)) })

    val (lazyOut, multiA, multiB) = (TestSpark.tmpDir("stale_out"),
      TestSpark.tmpDir("stale_ma"), TestSpark.tmpDir("stale_mb"))
    assert(single(lazyOut) == 32)
    assert(multi(multiA, multiB) == 32)

    for ((root, value) <- Seq((ndvi, SyntheticGrid.ndviValue _),
        (qa, SyntheticGrid.qaValue _))) {
      val h = GridHeader.load(spark, root)
      IncrementalAppend.appendDates(spark, root, ts.drop(3),
        SyntheticGrid.pixelDf(spark, h.copy(timestampsMs = Seq(0L, 1L)),
          (x, y, t) => value(x, y, t + lit(3))))
    }
    // 16 stale chunks of time chunk 1 + 16 new chunks of time chunk 2
    assert(single(lazyOut) == 32)
    assert(multi(multiA, multiB) == 32)
    // ...and then nothing is stale any more
    assert(single(lazyOut) == 0)
    assert(multi(multiA, multiB) == 0)

    val fresh = TestSpark.tmpDir("stale_fresh")
    assert(single(fresh, force = true) == 48)
    val want = ChunkRows(spark, fresh)
    assert(ChunkRows(spark, lazyOut) == want)
    assert(ChunkRows(spark, multiA) == want)
    assert(ChunkRows(spark, multiB).keySet == want.keySet)
  }

  test("pipeline rejects inputs whose chunks disagree on nd") {
    val ts = (0 until 5).map(i => 7000L + i)
    def header(n: Int, dtype: String) = SyntheticGrid.miniModisNdviHeader
      .copy(name = "in", timestampsMs = ts.take(n), dtype = dtype)
    val ndvi = TestSpark.tmpDir("nd_ndvi")
    val qa = TestSpark.tmpDir("nd_qa")
    for ((root, value, dtype) <- Seq(
        (ndvi, SyntheticGrid.ndviValue _, "int16"),
        (qa, SyntheticGrid.qaValue _, "uint16"))) {
      val h = header(3, dtype)
      FractionStore.write(spark, h, FractionStore.fromPixels(spark, h,
        SyntheticGrid.pixelDf(spark, h, value)), root)
    }
    // 2 dates appended to the NDVI store only: its tail chunk 1 grows to
    // 2 dates while the QA store's still holds 1
    IncrementalAppend.appendDates(spark, ndvi, ts.drop(3),
      SyntheticGrid.pixelDf(spark, header(2, "int16"),
        (x, y, t) => SyntheticGrid.ndviValue(x, y, t + lit(3))))
    val ins = Seq(ndvi, qa).map(r => (GridHeader.load(spark, r), r))
    val err = intercept[Exception] {
      new GridPipeline(ins, ins.head._1.copy(name = "out"),
        TestSpark.tmpDir("nd_out")).run(spark)((_, ps) => ps.head)
    }
    val msgs = TestSpark.messages(err)
    assert(msgs.exists(m => m.contains("(frac_num, time_chunk) = (") &&
      m.contains(", 1) at") && m.contains("50x50x2") && m.contains("50x50x1")),
      msgs.mkString(" | "))

    // inputs chunked differently in time are refused up front
    val (qh, qr) = ins(1)
    val rechunked = intercept[IllegalArgumentException] {
      new GridPipeline(Seq(ins.head, (qh.copy(fracNDates = 3), qr)),
        ins.head._1.copy(name = "out"), TestSpark.tmpDir("nd_out2"))
    }
    assert(rechunked.getMessage.contains("time chunking"))
  }
}
