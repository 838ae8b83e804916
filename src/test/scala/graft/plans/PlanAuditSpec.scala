package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.grid._

/** Plan-shape regression tests: the 100 TB design claims (pushdown
  * below the pixel explode, chunk-level joins, no accidental shuffles)
  * asserted against executed plans, so a refactor that silently
  * degrades a plan fails the suite — not just the benchmark.
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    // AQE query stages hide their subtree from `children`
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      q +: walk(q.plan)
    case r: org.apache.spark.sql.execution.ReusedSubqueryExec => walk(r.child)
    case other =>
      other +: (other.children.flatMap(walk) ++ other.subqueries.flatMap(walk))
  }

  private def executed(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    walk(df.queryExecution.executedPlan)
  }

  lazy val root: String = {
    val r = java.nio.file.Files.createTempDirectory("graft_audit").toString
    SyntheticGrid.writeTiny(spark, r)
    r
  }

  test("window load pushes chunk predicates to the parquet scan") {
    val h = GridHeader.load(spark, root)
    val df = FractionStore.loadSliceXY(spark, h, root, 17, 40, 3, 12, 2, 11)
    val scans = executed(df).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val scan = scans.head
    // frac_x/frac_y range predicates must reach PushedFilters; the
    // time_chunk predicate must prune partitions
    val pushed = scan.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("frac_x") && pushed.contains("frac_y"), pushed)
    assert(scan.metadata.getOrElse("PartitionFilters", "")
      .contains("time_chunk"))
    // payload read as binary, not array
    assert(scan.schema.fields.find(_.name == "data")
      .exists(_.dataType.typeName == "binary"))
  }

  test("window load + aggregate runs in a single stage (no shuffle before agg)") {
    val h = GridHeader.load(spark, root)
    val df = FractionStore.loadSliceXY(spark, h, root, 0, 50, 0, 50, 0, 5)
      .agg(count(col("value")), sum(col("value")))
    // partial agg -> at most one exchange -> final agg (AQE may elide
    // the exchange entirely when the input is a single partition)
    assert(executed(df).count(_.isInstanceOf[ShuffleExchangeExec]) <= 1)
  }

  test("aligned two-store load joins chunks, not pixels") {
    val r2 = java.nio.file.Files.createTempDirectory("graft_audit2").toString
    SyntheticGrid.writeTiny(spark, r2)
    val h = GridHeader.load(spark, root)
    val h2 = GridHeader.load(spark, r2)
    val df = FractionStore.loadAlignedSliceXY(spark,
      Seq((h, root), (h2, r2)), 0, 100, 0, 100, 0, 11,
      masks = Seq(true, true))
    val plans = executed(df)
    // the join input is chunk rows: every Generate (pixel explode) sits
    // ABOVE the join, never below it
    val joins = plans.filter(p =>
      p.nodeName.contains("Join") || p.nodeName.contains("BroadcastHashJoin"))
    assert(joins.nonEmpty, "expected a chunk join")
    joins.foreach { j =>
      assert(!j.children.flatMap(walk).exists(_.nodeName.contains("Generate")),
        "pixel explode must not feed the chunk join")
    }
    graft.sources.GridExports.deleteStore(spark, r2)
  }

  test("fused box-stats pushes the same chunk predicates as the exploded path") {
    val h = GridHeader.load(spark, root)
    val df = GridKernels.boxStatsByT(spark, h, root, 17, 40, 3, 12, 2, 11)
    val scans = executed(df).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val pushed = scans.head.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("frac_x") && pushed.contains("frac_y"), pushed)
    assert(scans.head.metadata.getOrElse("PartitionFilters", "")
      .contains("time_chunk"))
  }

  test("fused chunk kernels stay inside whole-stage codegen") {
    import org.apache.spark.sql.execution.{InputAdapter, WholeStageCodegenExec}
    val h = GridHeader.load(spark, root)
    val qh = h.copy(name = "tiny_qa", dtype = "uint16", nodata = 65535.0)
    val qaRoot = java.nio.file.Files.createTempDirectory("graft_audit_qa").toString
    SyntheticGrid.writeDirect(spark, qh, qaRoot, SyntheticGrid.qaScalar)
    def stageNodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case other => other +: other.children.flatMap(stageNodes)
    }
    Seq(
      "boxStatsByT" -> GridKernels.boxStatsByT(spark, h, root, 17, 40, 3, 12, 2, 11),
      "maskedMeanByT" -> GridKernels.maskedMeanByT(spark, (h, root), (qh, qaRoot),
        17, 40, 3, 12, 2, 11),
      "trendSlopeByPixel" -> GridKernels.trendSlopeByPixel(spark, h, root,
        17, 40, 3, 12, 9, 11),
      "cusumByPixel" -> GridKernels.cusumByPixel(spark, h, root,
        17, 40, 3, 12, 9, 11, trainT = 10, slack = 0.5, threshold = 5.0)
    ).foreach { case (name, df) =>
      val plans = executed(df)
      val kernels = plans.filter(_.expressions.exists(
        _.exists(_.isInstanceOf[graft.functions.ChunkKernelExpr])))
      assert(kernels.nonEmpty, s"$name: no node holds the kernel")
      val generated = plans.collect { case w: WholeStageCodegenExec => w }
        .flatMap(w => stageNodes(w.child))
      kernels.foreach { k =>
        assert(generated.exists(_ eq k),
          s"$name: ${k.nodeName} holding the kernel runs outside whole-stage codegen")
      }
    }
    graft.sources.GridExports.deleteStore(spark, qaRoot)
  }

  test("decontaminate broadcasts the benchmark shingle set") {
    import spark.implicits._
    val corpus = (0 until 300).map(i =>
      (i.toLong, s"tok${i % 7} tok${i % 11} tok${i % 13} tok${i % 5} tok$i"))
      .toDF("doc_id", "text")
    val bench = Seq(Tuple1("tok1 tok1 tok1 tok1")).toDF("text")
    val df = graft.ops.Dedup.decontaminate(corpus, "doc_id", "text",
      bench, "text", n = 3)
    val plans = executed(df)
    assert(plans.exists(_.nodeName.contains("BroadcastHashJoin")),
      "benchmark side must broadcast — a sort-merge join here sorts the " +
        "full corpus shingle stream")
    assert(!plans.exists(_.nodeName.contains("SortMergeJoin")))
  }

  test("bloom novelty gate: codegen probe, broadcast confirm, history unshuffled") {
    import spark.implicits._
    def doc(i: Int): String =
      (0 until 20).map(j => s"w${(i * 89 + j * 17) % 900}y$j").mkString(" ")
    // parquet-backed, not local: Filter-over-LocalRelation is evaluated
    // away at optimization time, which would hide the probe from the
    // physical plan this test audits
    val dir = java.nio.file.Files.createTempDirectory("graft_audit_bloom")
    (0 until 200).map(i => (i.toLong, doc(i)))
      .toDF("doc_id", "text").write.parquet(s"$dir/history")
    ((500 until 550).map(i => (i.toLong, doc(i))) ++
      (0 until 20).map(i => (2000L + i, doc(i))))
      .toDF("doc_id", "text").write.parquet(s"$dir/incoming")
    val history = spark.read.parquet(s"$dir/history")
    val incoming = spark.read.parquet(s"$dir/incoming")
    val df = graft.ops.Dedup.novelAgainstHistory(incoming, "doc_id", "text",
      history, "text", expectedItems = 512)
    val plans = executed(df)
    val tree = plans.map(_.toString).mkString("\n")
    assert(tree.contains("might_contain"),
      "the bloom probe must gate the scan as a native filter expression")
    assert(plans.exists(_.nodeName.contains("BroadcastHashJoin")),
      "confirm joins must broadcast the candidate-key set")
    assert(!plans.exists(_.nodeName.contains("SortMergeJoin")),
      "the history side must never sort-merge — it would shuffle the " +
        "full history hash stream on every increment")
  }

  test("persisted IVF query broadcasts probes and prunes assignment cells") {
    import spark.implicits._
    def vec(i: Int): Array[Float] = {
      val r = new scala.util.Random(i * 7919 + 13)
      Array.fill(16)(r.nextGaussian().toFloat)
    }
    val corpus = (0 until 200).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_audit_ivf").toString
    graft.ops.Similarity.buildIvfIndex(corpus, dir, nCentroids = 8)
    val df = graft.ops.Similarity.queryIvfIndex(spark, dir,
      corpus.filter(col("vec_id") < 2), k = 3, nProbe = 2)
    val plans = executed(df)
    // the probe side must broadcast: the corpus-side assignments scan
    // never shuffles on the cell key
    assert(plans.exists(_.nodeName.contains("BroadcastHashJoin")),
      "probes must broadcast against the assignments table")
    // the assignments table is partitioned by cell, so the scan carries
    // a cell partition filter (dynamic pruning from the broadcast side)
    val scans = plans.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    val assignScan = scans.find(_.schema.fieldNames.contains("corpus_id"))
    assert(assignScan.nonEmpty, "expected the assignments scan")
    assert(assignScan.get.metadata.getOrElse("PartitionFilters", "")
      .contains("cell"),
      s"cell pruning missing: ${assignScan.get.metadata}")
  }

  test("heavy hitters: CMS gate filters below the aggregate's shuffle") {
    val df = graft.SparkEntry.queries("heavy_hitters")(
      spark, "/root/testdata/sf0.001")
    val plans = executed(df)
    // the probe expression must appear in a Filter, and that filter must
    // sit BELOW every exchange: the point is pruning the long tail
    // map-side, before the token->count shuffle
    val filters = plans.collect {
      case f: org.apache.spark.sql.execution.FilterExec
        if f.condition.toString.contains("cms_estimate") => f
    }
    assert(filters.nonEmpty, "the CMS gate must survive as a native filter")
    assert(filters.forall(f => walk(f).forall {
      case _: ShuffleExchangeExec => false
      case _ => true
    }), "the gate must run map-side, below the aggregation shuffle")
  }

  test("document chunking never shuffles — projection + generator only") {
    val df = graft.SparkEntry.queries("chunk_documents")(
      spark, "/root/testdata/sf0.001")
    val shuffles = executed(df).collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.isEmpty,
      s"chunking is per-row fan-out; found ${shuffles.size} exchange(s)")
  }

  test("blocklist gate and sentence stats never shuffle; histogram " +
      "shuffles once") {
    val sf = "/root/testdata/sf0.001"
    // both are narrow per-row projections (one regex pass / one
    // segmentation pass) — any exchange means the gate stopped being a
    // map-only filter at scale
    Seq("blocklist_filter", "text_sentences").foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sf)
      val shuffles = executed(df).collect { case s: ShuffleExchangeExec => s }
      assert(shuffles.isEmpty, s"$name must not shuffle, got ${shuffles.size}")
    }
    // the histogram's only exchange is the (source, bucket) partial agg
    val h = graft.SparkEntry.queries("quality_histogram")(spark, sf)
    val hs = executed(h).collect { case s: ShuffleExchangeExec => s }
    assert(hs.size == 1, s"expected 1 partial-agg shuffle, got ${hs.size}")
  }

  test("top-k plans as TakeOrderedAndProject (no global sort)") {
    import spark.implicits._
    val df = (0 until 10000).map(i => (i, i * 37 % 1000)).toDF("id", "v")
      .orderBy(col("v").desc).limit(10)
    assert(executed(df).exists(_.nodeName.contains("TakeOrderedAndProject")))
  }

  test("quality gate shuffles once on lang; mixture filter never shuffles") {
    val sf = "/root/testdata/sf0.001"
    // both rank windows (row_number + count) share the lang partitioning
    // -> exactly ONE exchange in the whole gate
    val qg = graft.SparkEntry.queries("quality_gate")(spark, sf)
    val qgShuffles = executed(qg).collect { case s: ShuffleExchangeExec => s }
    assert(qgShuffles.size == 1, s"expected 1 lang shuffle, got ${qgShuffles.size}")
    // the mixture resample's data pass is a pure codegen filter: the
    // bounded count() job runs inside the builder, and the RETURNED
    // plan must not move a single payload row
    val mix = graft.SparkEntry.queries("sample_mixture")(spark, sf)
    val mixShuffles = executed(mix).collect { case s: ShuffleExchangeExec => s }
    assert(mixShuffles.isEmpty,
      s"mixture filter must not shuffle, got ${mixShuffles.size}")
  }

  test("contamination score broadcasts the benchmark; narrow gates never shuffle") {
    val sf = "/root/testdata/sf0.001"
    // same broadcast contract as decontaminate: the graded variant must
    // not fall back to sorting the corpus shingle stream either
    val cs = graft.SparkEntry.queries("contamination_score")(spark, sf)
    val csPlans = executed(cs)
    assert(csPlans.exists(_.nodeName.contains("BroadcastHashJoin")),
      "benchmark shingle set must broadcast")
    assert(!csPlans.exists(_.nodeName.contains("SortMergeJoin")))
    // heuristic gates and split assignment are pure per-row projections:
    // zero exchanges end-to-end
    for (q <- Seq("heuristic_filter", "split_assign")) {
      val plans = executed(graft.SparkEntry.queries(q)(spark, sf))
      val shuffles = plans.collect { case s: ShuffleExchangeExec => s }
      assert(shuffles.isEmpty, s"$q must not shuffle, got ${shuffles.size}")
    }
  }

  test("paragraph/span dedup windows by content hash, never a global window") {
    val sf = "/root/testdata/sf0.001"
    for (q <- Seq("dedup_paragraphs", "dedup_spans")) {
      val plans = executed(graft.SparkEntry.queries(q)(spark, sf))
      val windows = plans.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.nonEmpty, s"$q: expected the first-occurrence window")
      // an empty partition spec would drag the whole corpus to one task —
      // the classic scale killer this suite exists to catch
      windows.foreach(w => assert(w.partitionSpec.nonEmpty,
        s"$q: window must be partitioned by the content hash"))
    }
  }

  test("PQ ADC: queries broadcast; the only shuffle is the rank window's") {
    val df = graft.SparkEntry.queries("ann_pq_topk")(
      spark, "/root/testdata/sf0.001")
    val plans = executed(df)
    // the corpus side must reach the candidate join as a pure projection
    // (encode is argmin over literal codebooks — shuffling the corpus to
    // encode it would break the 100 TB shape); the ONLY exchange allowed
    // is the per-query rank window, keyed on query_id
    val exchanges = plans.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.nonEmpty, "expected the rank window's shuffle")
    exchanges.foreach { e =>
      val keys = e.outputPartitioning match {
        case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
          h.expressions.flatMap(_.references.toSeq).map(_.name)
        case _ => Nil
      }
      assert(keys.nonEmpty && keys.forall(_ == "query_id"),
        s"unexpected shuffle keys: $keys")
    }
    // and the query side (with its LUTs) rides a broadcast, not a shuffle
    assert(plans.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "expected the broadcast candidate join")
  }

  test("keep-best dedup: payload columns never ride a shuffle") {
    // the keeper window must run over (id, cluster_id, score) — a
    // text-carrying exchange would mean the corpus payload is shuffled
    // to pick winners, which dropNearDuplicates' anti-join shape avoids
    try {
      val df = graft.SparkEntry.queries("dedup_keep_best")(
        spark, "/root/testdata/sf0.001")
      val exchanges = executed(df).collect {
        case e: ShuffleExchangeExec => e
      }
      exchanges.foreach { e =>
        val names = e.output.map(_.name)
        assert(!names.contains("text"),
          s"payload column in shuffle output: $names")
      }
    } finally graft.ops.CacheRegistry.releaseAll()
  }

  test("near-novel probe: no text-carrying shuffle; collision join " +
    "keys on the band") {
    // the history index probe must shuffle hashes and ids only — a
    // text-carrying exchange would mean a corpus payload rides the
    // probe; and at scale (broadcast off) the collision join must key
    // on (band_id, band_hash), never on raw document attributes
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = graft.SparkEntry.queries("dedup_near_novel")(
        spark, "/root/testdata/sf0.001")
      val exchanges = executed(df).collect {
        case e: ShuffleExchangeExec => e
      }
      assert(exchanges.nonEmpty)
      // the whole INDEX + PROBE side is payload-free; the one place a
      // text column may legally ride a shuffle is the final anti-join
      // re-attach, and only keyed on the document id (at scale AQE
      // broadcasts the |dups| id set and even that exchange vanishes)
      exchanges.foreach { e =>
        val names = e.output.map(_.name)
        val keys = e.outputPartitioning match {
          case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
            h.expressions.flatMap(_.references.toSeq).map(_.name).toSet
          case _ => Set.empty[String]
        }
        if (names.contains("text"))
          assert(keys == Set("doc_id"),
            s"text may only ride the id-keyed re-attach, keys were $keys")
      }
      val keyed = exchanges.flatMap { e =>
        e.outputPartitioning match {
          case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
            Seq(h.expressions.flatMap(_.references.toSeq).map(_.name).toSet)
          case _ => Nil
        }
      }
      assert(keyed.contains(Set("band_id", "band_hash")),
        s"expected a band-keyed collision join, got $keyed")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      graft.ops.CacheRegistry.releaseAll()
    }
  }

  test("patch extraction shuffles only the per-patch aggregate") {
    // the patch fan-out must broadcast onto the chunk scan and the
    // pixel generators must run in place — the ONLY hash exchange is
    // the final patch_id-keyed aggregate; a chunk- or pixel-keyed
    // shuffle would mean patches are assembled by moving raster data
    val df = graft.SparkEntry.queries("grid_patch_extract")(
      spark, "/root/testdata/sf0.001")
    val exchanges = executed(df).collect { case e: ShuffleExchangeExec => e }
    exchanges.foreach { e =>
      val keys = e.outputPartitioning match {
        case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
          h.expressions.flatMap(_.references.toSeq).map(_.name).toSet
        case _ => Set.empty[String]
      }
      assert(keys.subsetOf(Set("patch_id")), s"unexpected shuffle keys $keys")
      assert(!e.output.map(_.name).contains("data"),
        "chunk payloads must never ride a shuffle")
    }
  }

  test("corpus report aggregates in one exchange on the source key") {
    val df = graft.SparkEntry.queries("corpus_report")(
      spark, "/root/testdata/sf0.001")
    val exchanges = executed(df).collect { case e: ShuffleExchangeExec => e }
    // one hash exchange (the groupBy source; count_distinct's partial
    // expand stays inside it) and no text column ever shuffles
    exchanges.foreach { e =>
      assert(!e.output.map(_.name).contains("text"))
      val keys = e.outputPartitioning match {
        case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
          h.expressions.flatMap(_.references.toSeq).map(_.name).toSet
        case _ => Set.empty[String]
      }
      assert(keys.subsetOf(Set("source", "lang")), s"unexpected keys $keys")
    }
  }

  test("semantic decontamination: shuffles only on cell and the hit agg's id") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = graft.SparkEntry.queries("decontaminate_semantic")(
        spark, "/root/testdata/sf0.001")
      val exchanges = executed(df).collect {
        case e: ShuffleExchangeExec => e
      }
      assert(exchanges.nonEmpty)
      // cell-keyed exchanges feed the bench join; the only other
      // allowed key is the per-corpus-id hit aggregation (|hits| rows,
      // duplicate-density-sized). An embedding- or full-corpus-id-keyed
      // shuffle BEFORE the join would mean assignment shuffled the
      // corpus, defeating the cell design.
      exchanges.foreach { e =>
        val keys = e.outputPartitioning match {
          case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
            h.expressions.flatMap(_.references.toSeq).map(_.name)
          case _ => Nil
        }
        assert(keys.nonEmpty && keys.forall(k => k == "cell" || k == "id"),
          s"unexpected shuffle keys: $keys")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      graft.ops.CacheRegistry.releaseAll()
    }
  }

  test("semantic dedup: every shuffle is cell-keyed (assignment never shuffles)") {
    // force the pair join into its at-scale shape (shuffled, not
    // broadcast) so the partitioning claim is actually exercised
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = graft.SparkEntry.queries("dedup_semantic")(
        spark, "/root/testdata/sf0.001")
      val exchanges = executed(df).collect {
        case e: ShuffleExchangeExec => e
      }
      assert(exchanges.nonEmpty, "expected the cell-keyed pair-join shuffle")
      // the ONLY shuffle keys allowed are (cell): the argmax cell
      // assignment itself must remain a projection — an id- or
      // vector-keyed exchange would mean the corpus is shuffled to be
      // assigned, which defeats the O(n^2/k) cell-join design
      exchanges.foreach { e =>
        val keys = e.outputPartitioning match {
          case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
            h.expressions.flatMap(_.references.toSeq).map(_.name)
          case _ => Nil
        }
        assert(keys.nonEmpty && keys.forall(_ == "cell"),
          s"unexpected shuffle keys: $keys")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      graft.ops.CacheRegistry.releaseAll()
    }
  }

  test("funnel cascade shuffles once on user_id; no per-step self-join") {
    val df = graft.SparkEntry.queries("funnel_steps")(
      spark, "/root/testdata/sf0.001")
    val plans = executed(df)
    // one user_id hash exchange (the collect_list groupBy) plus the
    // final 1-row summary's single-partition exchange — a per-step
    // cascade implemented as self-joins would add a user_id exchange
    // (and a join) per step
    val hashKeyed = plans.collect { case e: ShuffleExchangeExec =>
      e.outputPartitioning
    }.collect {
      case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
        h.expressions.flatMap(_.references.toSeq).map(_.name).toSet
    }
    assert(hashKeyed.forall(_ == Set("user_id")),
      s"unexpected hash-shuffle keys: $hashKeyed")
    assert(hashKeyed.size <= 1, s"cascade re-shuffled: $hashKeyed")
    val joins = plans.filter(p => p.nodeName.toLowerCase.contains("join"))
    assert(joins.isEmpty, s"funnel must not self-join, found: ${joins.map(_.nodeName)}")
  }

  test("event transitions window is user-partitioned, never global") {
    val df = graft.SparkEntry.queries("event_transitions")(
      spark, "/root/testdata/sf0.001")
    val windows = executed(df).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty, "global window = single-partition sort")
    }
  }

  test("corpus patch: snapshot payloads never shuffle (broadcast delta)") {
    val df = graft.SparkEntry.queries("corpus_patch")(
      spark, "/root/testdata/sf0.001")
    val plans = executed(df)
    assert(plans.exists(_.nodeName.toLowerCase.contains("broadcast")),
      "expected the delta to broadcast into the anti-join")
    plans.collect { case e: ShuffleExchangeExec => e }.foreach { e =>
      assert(!e.output.map(_.name).contains("text"),
        "the merged snapshot's payloads must not ride a shuffle")
    }
  }

  test("corpus delta: document text never rides the diff join's shuffle") {
    val df = graft.SparkEntry.queries("corpus_delta")(
      spark, "/root/testdata/sf0.001")
    val exchanges = executed(df).collect { case e: ShuffleExchangeExec => e }
    exchanges.foreach { e =>
      assert(!e.output.map(_.name).contains("text"),
        "snapshot diff must shuffle (id, fingerprint) projections only")
    }
  }

  test("SQL-text Q3 pushes the segment filter into the customer scan") {
    val df = graft.SparkEntry.queries("sql_tpch_q3")(
      spark, "/root/testdata/sf0.001")
    val scans = executed(df).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 3, s"expected 3 table scans, got ${scans.size}")
    // the text-submitted predicate must reach parquet like the
    // DataFrame form's would
    assert(scans.exists(_.dataFilters.exists(
        _.references.exists(_.name == "c_mktsegment"))),
      "c_mktsegment filter did not reach the customer scan")
  }

  test("grouping sets plan as one scan + Expand, not one scan per set") {
    val df = graft.SparkEntry.queries("grouping_sets_report")(
      spark, "/root/testdata/sf0.001")
    val plans = executed(df)
    val scans = plans.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1, s"expected a single lineitem scan, got ${scans.size}")
    assert(plans.exists(_.nodeName.toLowerCase.contains("expand")))
  }

  test("profile columns runs in ONE scan (multi-distinct via Expand)") {
    val df = graft.SparkEntry.queries("profile_columns")(
      spark, "/root/testdata/sf0.001")
    val plans = executed(df)
    val scans = plans.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1,
      s"per-column profiling must not rescan; got ${scans.size} scans")
    assert(plans.exists(_.nodeName.toLowerCase.contains("expand")),
      "expected Catalyst Expand for the one-pass multi-distinct")
  }

  test("DSIR scoring joins the bucket table by BROADCAST, never SMJ") {
    import spark.implicits._
    val corpus = (0 until 200).map(i =>
      (i.toLong, s"alpha tok${i % 17} beta tok${i % 5} w$i")).toDF("doc_id", "text")
    val target = corpus.filter(col("doc_id") % 3 === 0)
    val df = graft.ops.Dsir.importanceWeights(corpus, target, nBuckets = 64)
    val plans = executed(df)
    assert(plans.exists(_.nodeName.contains("BroadcastHashJoin")),
      "the nBuckets-row log-ratio table must broadcast into the token stream")
    assert(!plans.exists(p => p.nodeName.contains("SortMergeJoin") &&
      p.toString.contains("bucket")),
      "a sort-merge join on bucket would sort the full token stream")
  }

  test("cusum detection runs all window frames over ONE pixel exchange") {
    import spark.implicits._
    val px = (for (x <- 0 until 8; y <- 0 until 4; t <- 0 until 6)
      yield (x, y, t, ((x * 3 + y + t) % 11).toDouble))
      .toDF("x", "y", "t", "value")
      .repartition(4) // a concrete non-(x,y) distribution to start from
    val df = graft.grid.GridTimeSeries.cusumDetect(px, trainT = 3,
      slack = 0.0, threshold = 5.0)
    val plans = executed(df)
    // the input's own repartition(4) is a round-robin exchange; the
    // operator itself must add exactly ONE hash exchange — baseline
    // conditional windows + running sum + running min all reuse the
    // single (x, y) hash distribution
    val exchanges = plans.collect { case e: ShuffleExchangeExec => e }
      .filter(_.outputPartitioning.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.physical.HashPartitioning])
    assert(exchanges.size == 1,
      s"expected one pixel-keyed exchange, got ${exchanges.size}")
  }

  test("pixel correlation is one partial-agg shuffle") {
    import spark.implicits._
    val px = (for (x <- 0 until 8; y <- 0 until 4; t <- 0 until 6)
      yield (x, y, t, (x + t).toDouble, (y + t).toDouble))
      .toDF("x", "y", "t", "value_0", "value_1").repartition(4)
    val df = graft.grid.GridTimeSeries.pixelCorrelation(px)
    val plans = executed(df)
    // the input's repartition(4) is round-robin; the correlation must
    // add exactly one hash exchange (the partial agg's)
    val exchanges = plans.collect { case e: ShuffleExchangeExec => e }
      .filter(_.outputPartitioning.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.physical.HashPartitioning])
    assert(exchanges.size == 1,
      s"expected one agg exchange, got ${exchanges.size}")
    // partial aggregation must sit below it (map-side combine)
    assert(exchanges.exists(e => walk(e).exists(p =>
      p.nodeName.contains("HashAggregate"))),
      "partial aggregate must run below the shuffle")
  }

  test("patch labeling: border joins move perimeter slivers, root map " +
      "broadcasts") {
    import spark.implicits._
    val h = GridHeader(name = "audit_lbl", width = 20, height = 10,
      fracWidth = 5, fracHeight = 5, fracNDates = 1, dtype = "float32",
      srs = "wgs84", geot = Seq(0.0, 1.0, 0.0, 0.0, 0.0, -1.0),
      timestampsMs = Seq(0L), nodata = -1.0)
    val pts = (0 to 17).map((_, 2)) ++ (3 to 7).map((17, _))
    val df = graft.grid.GridLabeling.labelPatches(spark, h,
      pts.toDF("x", "y"))
    val plans = executed(df)
    // the final label remap must be a broadcast join (component-sized
    // map), never a shuffled join of the pixel table
    assert(plans.exists(_.nodeName.contains("BroadcastHashJoin")),
      "root-map remap must broadcast")
    // every border-adjacency join input is filtered to its border
    // column/row: no unfiltered scan of the label cache feeds a shuffle
    val exchanges = plans.collect { case e: ShuffleExchangeExec => e }
    exchanges.foreach { e =>
      val sub = walk(e)
      val joinFeed = sub.exists(p => p.nodeName.contains("InMemoryTableScan"))
      if (joinFeed)
        assert(sub.exists(p => p.nodeName == "Filter" &&
          p.toString.contains("pmod")),
          s"an unfiltered label-cache scan feeds a shuffle:\n$e")
    }
    graft.ops.CacheRegistry.releaseAll()
  }

  test("savgol smoothing: all five window frames share ONE pixel exchange") {
    import spark.implicits._
    val px = (for (x <- 0 until 6; y <- 0 until 4; t <- 0 until 8)
      yield (x, y, t, (x + y + t).toDouble))
      .toDF("x", "y", "t", "value").repartition(4)
    val plans = executed(graft.grid.GridTimeSeries.savgolSmooth(px))
    val exchanges = plans.collect { case e: ShuffleExchangeExec => e }
      .filter(_.outputPartitioning.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.physical.HashPartitioning])
    assert(exchanges.size == 1,
      s"expected one pixel-keyed exchange for the lag/lead frames, " +
        s"got ${exchanges.size}")
  }

  test("per-source cap: document text never rides the top-k shuffle") {
    val df = graft.SparkEntry.queries("cap_per_source")(spark,
      "/root/testdata/sf0.001")
    val plans = executed(df)
    val exchanges = plans.collect { case e: ShuffleExchangeExec => e }
      .filter(_.outputPartitioning.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.physical.HashPartitioning])
    // the top-k exchange carries (source, k-sized heap buffer) only —
    // no `text` attribute may appear in any hash exchange's output
    assert(exchanges.nonEmpty)
    exchanges.foreach { e =>
      assert(!e.output.exists(_.name == "text"),
        s"text must not ride a shuffle:\n$e")
    }
    // and a partial ObjectHashAggregate sits below the group exchange
    assert(exchanges.exists(e => walk(e).tail.exists(
      _.nodeName.contains("ObjectHashAggregate"))),
      "partial heap agg must run below the shuffle")
  }

  test("BM25 full scan: term filter sits below the tf aggregate") {
    import spark.implicits._
    val corpus = (0 until 200).map(i =>
      (i.toLong, s"alpha beta w$i gamma")).toDF("doc_id", "text")
    val df = graft.ops.TextSearch.bm25TopK(corpus, Seq("alpha", "w7"), k = 5)
    graft.ops.CacheRegistry.releaseAll()
    val plans = executed(df)
    // top-k must be TakeOrdered, not a global sort
    assert(plans.exists(_.nodeName.contains("TakeOrderedAndProject")))
    // the tf shuffle must consume a term-FILTERED stream (hit-sized,
    // not corpus-sized): some exchange's subtree contains the IN filter
    val exchanges = plans.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.exists(e => walk(e).exists(p =>
      p.nodeName == "Filter" && p.toString.contains(" IN "))),
      "the query-term IN filter must sit below the tf aggregate's shuffle")
    graft.ops.CacheRegistry.releaseAll()
  }

  test("hybrid fusion: fused top-k is TakeOrdered (no global sort)") {
    val sf = "/root/testdata/sf0.001"
    val plans = executed(
      graft.SparkEntry.queries("hybrid_rrf_search")(spark, sf))
    assert(plans.exists(_.nodeName.contains("TakeOrderedAndProject")),
      "fusion must end in TakeOrderedAndProject")
    graft.ops.CacheRegistry.releaseAll()
  }

  test("FIM transform never shuffles; packed segments add no exchange " +
    "beyond the pack's own range shuffle") {
    val sf = "/root/testdata/sf0.001"
    // FIM is a pure per-row codegen projection
    val fim = graft.SparkEntry.queries("fim_transform")(spark, sf)
    val fimEx = executed(fim).collect { case e: ShuffleExchangeExec => e }
    assert(fimEx.isEmpty, s"fim_transform must not shuffle: ${fimEx.size}")
    // pack_segments: the range exchange lives inside packChunked's RDD
    // lineage (already audited via pack_sequences); the segment table
    // on top is a projection — the RETURNED plan adds zero exchanges
    val segs = graft.SparkEntry.queries("pack_segments")(spark, sf)
    val segEx = executed(segs).collect { case e: ShuffleExchangeExec => e }
    assert(segEx.isEmpty,
      s"segment table must be a projection, got ${segEx.size} exchange(s)")
  }

  test("bpe_encode_ids: text never rides a shuffle; exchanges keyed on " +
    "the word or the doc id only") {
    try {
      val df = graft.SparkEntry.queries("bpe_encode_ids")(
        spark, "/root/testdata/sf0.001")
      val exchanges = executed(df).collect {
        case e: ShuffleExchangeExec => e
      }
      assert(exchanges.nonEmpty)
      exchanges.foreach { e =>
        assert(!e.output.map(_.name).contains("text"),
          "document text must be projected away before any exchange")
        val keys = e.outputPartitioning match {
          case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
            h.expressions.flatMap(_.references.toSeq).map(_.name).toSet
          case _ => Set.empty[String]
        }
        assert(keys.subsetOf(Set("w", "doc_id")),
          s"unexpected shuffle keys: $keys")
      }
    } finally graft.ops.CacheRegistry.releaseAll()
  }

  test("tensor-shard decode (the loader's read path) never shuffles; " +
    "bin roll-up exchanges carry ids and counts, never text") {
    import spark.implicits._
    try {
      val docs = Seq((1L, "aa bb. cc"), (2L, "bb cc aa aa"),
        (3L, "cc aa. bb bb")).toDF("doc_id", "text")
      val merges = graft.ops.Bpe.trainMerges(docs, nMerges = 3)
      val ids = graft.ops.Bpe.encodeIds(docs, merges,
        graft.ops.Bpe.vocab(docs, merges))
      val spans = graft.ops.Bpe.promptMaskSpans(docs, merges)
      val bins = graft.ops.TensorShards.binTensors(ids, spans,
        capacity = 4, nParts = 2)
      // the build side: no exchange may carry the document text (the
      // tensors are id/count-sized rows; text stays behind encodeIds)
      executed(bins).collect { case e: ShuffleExchangeExec => e }
        .foreach { e =>
          assert(!e.output.map(_.name).contains("text"),
            "document text must never ride a tensor-shard exchange")
        }
      // the read side — what a training loader pays per epoch — is a
      // pure projection + generator over the TFRecord scan: ZERO
      // exchanges
      val dir = TestSpark.tmpDir("audit_tensor")
      graft.sources.TfRecord.writeExamples(bins, dir,
        Seq("bin_id", "token_ids", "loss_mask", "seg_starts",
          "seg_lens"), Seq.empty)
      val decoded = graft.ops.TensorShards.decodeTokenRows(
        graft.sources.TfRecord.readExamples(spark, dir,
          Seq("bin_id", "token_ids", "loss_mask", "seg_starts",
            "seg_lens"), Seq.empty))
      val readEx = executed(decoded)
        .collect { case e: ShuffleExchangeExec => e }
      assert(readEx.isEmpty,
        s"tensor decode must be shuffle-free, got ${readEx.size}")
    } finally graft.ops.CacheRegistry.releaseAll()
  }

  test("pmi: unigram counts cached (one tokenize serves three " +
    "references); top-k is TakeOrdered") {
    val sf = "/root/testdata/sf0.001"
    val plans = executed(
      graft.SparkEntry.queries("pmi_collocations")(spark, sf))
    assert(plans.exists(_.nodeName.contains("TakeOrderedAndProject")))
    // the two count joins and the total must all read the CACHE, never
    // re-run the token explode: >= 3 InMemoryTableScans of the uni agg
    val imts = plans.count(_.nodeName.contains("InMemoryTableScan"))
    assert(imts >= 3, s"expected >=3 cache reads of uni counts, got $imts")
    graft.ops.CacheRegistry.releaseAll()
  }

  test("grid_info listing count reads keys only, never payload bytes") {
    // the catalog summary's distinct-count must stay metadata-priced:
    // the fraction scan it drives may read the two key columns but
    // NEVER the packed data blobs (a payload read would make the
    // \"cheap\" catalog call an O(store) scan)
    val df = FractionStore.fractions(spark, root)
      .select("frac_num", "time_chunk").distinct()
    val scans = executed(df).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    scans.foreach { s =>
      val cols = s.schema.fieldNames.toSet
      assert(!cols.contains("data"),
        s"listing scan must not read payload, got ${cols.mkString(",")}")
    }
  }

  private def hashShuffleKeys(plans: Seq[SparkPlan]): Seq[Seq[String]] =
    plans.collect { case e: ShuffleExchangeExec => e }.map {
      _.outputPartitioning match {
        case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
          h.expressions.flatMap(_.references.toSeq).map(_.name)
        case _ => Nil
      }
    }

  test("multi-turn collator and packed bins shuffle only on doc/bin keys") {
    import spark.implicits._
    val convo = Seq(
      (1L, "<user> hi there <assistant> ok bye <user> more <assistant> done"),
      (2L, "intro words <user> q <assistant> a")
    ).toDF("doc_id", "text")
    val merges = List.empty[(String, String)]
    val syms = graft.ops.Bpe.vocab(convo, merges)
    val ids = graft.ops.Bpe.encodeIds(convo, merges, syms)
    val spans = graft.ops.Bpe.turnMaskSpans(convo, merges)
    // padded collator: hash shuffles key on doc_id (encode reassembly /
    // span windows / joins) or w (the per-DISTINCT-word piece pricing —
    // vocabulary-sized, the pieceCounts discipline); never a global or
    // corpus-payload exchange
    val padded = executed(graft.ops.TensorShards
      .paddedMultiturnExamples(ids, spans, 16, syms.size.toLong))
    hashShuffleKeys(padded).foreach(keys =>
      assert(keys.forall(k => k == "doc_id" || k == "w"),
        s"unexpected keys: $keys"))
    padded.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.foreach(w => assert(w.partitionSpec.nonEmpty,
      "turn windows must partition by doc"))
    // packed bins: the same plus the one bin-keyed roll-up
    val packed = executed(graft.ops.TensorShards
      .binTensorsMultiturn(ids, spans, 16L))
    hashShuffleKeys(packed).foreach(keys =>
      assert(keys.forall(k => k == "doc_id" || k == "bin_id" || k == "w"),
        s"unexpected keys: $keys"))
    graft.ops.CacheRegistry.releaseAll()
  }
}
