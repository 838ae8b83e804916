package graft

import org.apache.spark.{GraftCpuTimeListener, GraftMetricsBridge}
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: headline queries on SPARK_GRAFT_SF_DIR at
  * local[32], one JSON line on stdout.
  *
  * Headline set spans the operator families (agg, scan+filter, joins,
  * windows, as-of, QA decode kernel, text analysis, dedup/LSH, ANN) —
  * the grid fixture-building queries are excluded (they time tmp-dir
  * parquet writes, not operator throughput; their correctness is covered
  * by Verify and the ScalaTest suite).
  *
  * Every entry records TWO numbers: wall seconds and executor CPU
  * seconds (stage-metric sum, via [[GraftCpuTimeListener]]), each the
  * independent minimum across that query's runs. Wall-clock on this
  * shared host swings 10-85x inside noisy-neighbor windows (three
  * rounds of misleading artifacts: r1 443s ingest, r3 131s ANN, r4
  * "fused 6.7x slower" — all ~1-2s steady-state), and cpu_sec itself
  * inflates up to ~7x there because memory-stall cycles count as
  * on-CPU. [[timed2]] therefore takes min wall and min cpu separately
  * and retries while its cpu readings disagree >2x. A sustained noise
  * window defeats even that (readings agree per side — consistently
  * wrong), so every round is preceded by an independent memory-
  * bandwidth [[noiseProbe]]; rounds keep going (bounded) while no
  * quiet window has been sampled, and queries whose best round still
  * read >2x the run's quietest probe are disclosed in `noise_flags`
  * (ratio vs quiet) so the record can't silently present a hot-window
  * reading as steady-state. The probe itself has a blind spot under
  * SUSTAINED noise (the run's quietest probe is then hot too, so the
  * per-entry ratios pass while every reading is inflated — r13's
  * capture carried 12 such unflagged sub-second readings at 2-8x);
  * `vsbest_flags` closes it by comparing each entry's best wall
  * against the COMMITTED bench_report.json best-known, independent of
  * the probe. The JSON carries `queries` (wall, the driver contract),
  * `cpu_sec`, `noise_flags`, `vsbest_flags`, `probe_quiet_sec`.
  */
object Bench {
  val headline: Seq[String] = Seq(
    "q1_pricing_summary", "p3_window_slice", "j1_multi_grid_align",
    "j4_semi_join", "j5_anti_join", "w1_series_lag", "w2_running_sum",
    "tumbling_daily", "session_windows", "asof_join", "o1_topk",
    "cube_rollup", "rank_topn", "f5_qa_confidence", "f9_chunk_math",
    "text_stats", "text_lang_id", "dedup_exact", "dedup_minhash_lsh",
    "dedup_simhash", "decontaminate", "ann_brute_topk", "ann_lsh_topk",
    // round-5 additions: paragraph + span dedup (the two windowed
    // first-occurrence ops), the two-phase global epoch shuffle, and
    // the bloom-gated incremental novelty check
    "dedup_paragraphs", "dedup_spans", "shuffle_global",
    "dedup_bloom_novel",
    // round-7 additions: the rest of the round-5 operator wave — their
    // scale claims (CMS gate below the shuffle, shuffle-free chunk/pack
    // generators, broadcast contamination probe) were plan-pinned but
    // never time-tracked
    "heavy_hitters", "lm_quality", "contamination_score",
    "dedup_drop_near", "chunk_documents", "pack_sequences",
    "split_assign", "dedup_semantic",
    // PQ-ADC vs brute force is the recorded trade: same broadcast-
    // nested-loop shape, per-candidate work 8 lookups vs 64 multiplies
    "ann_pq_topk", "dedup_keep_best",
    // tokenizer-support pair: corpus-weighted BPE pair stats (the
    // char-pair explode must stay vocab-sized) and top-k-vocab OOV
    // coverage (the vocab join must broadcast)
    "bpe_pair_counts", "vocab_oov_rate",
    // cross-corpus near-dedup (index build + probe), BPE segmentation
    // (vocab-sized encode + word-keyed join), and the one-pass
    // per-source report
    "dedup_near_novel", "bpe_piece_counts", "corpus_report",
    // perceptual-hash media dedup: decode+hash mapPartitions pass +
    // 4-quarter block join
    "multimodal_near_dups",
    // single-regex-pass gates (blocklist alternation, sentence
    // segmentation) and the bucketed quality histogram — the cheap
    // curation ops whose cost must stay one codegen pass per doc
    "blocklist_filter", "text_sentences", "quality_histogram",
    // event-sequence analytics (single user_id shuffle + array cascade;
    // user-partitioned lead window) and the one-scan multi-distinct
    // column profiler — the Expand pattern's cost is the thing to track
    "funnel_steps", "event_transitions", "profile_columns",
    // snapshot diff: the id-keyed fingerprint join whose cost must stay
    // projection-sized (payloads never shuffle)
    "corpus_delta",
    // SQL-text path (TPC-H Q3 through spark.sql) and explicit grouping
    // sets — parser + Expand cost tracked alongside the DataFrame forms
    "sql_tpch_q3", "grouping_sets_report",
    // line-level curation: explode + codegen rules + one reassembly
    // shuffle — the per-line pass whose cost must track token volume
    "clean_lines",
    // diff/patch merge: the broadcast-delta apply whose cost must stay
    // one corpus scan
    "corpus_patch",
    // vocabulary-free vectorizer: token explode + one (id, bucket)
    // partial agg — cost must track token volume, nothing else
    "embed_feature_hash",
    // DSIR importance scoring: token explode + broadcast bucket join +
    // per-doc partial agg — the weights pass must track token volume;
    // the resample adds only bounded-table scalar reads + a tie window
    "dsir_weights", "dsir_resample",
    // BM25 search: the tf shuffle must stay hit-sized (terms filtered
    // below the agg) and top-k must stay TakeOrderedAndProject
    "bm25_search",
    // fuzzy join: neighborhood explode + variant equi-join + exact
    // confirm — cost must track neighborhood volume, never all-pairs
    "fuzzy_join_names",
    // round-8: trained quality gate — 6 full-batch GD epochs over the
    // cached feature frame; per-epoch cost must be one feature-cache
    // scan + a dim-bounded gradient shuffle, never a text re-scan
    "quality_classifier",
    // round-8 grid time-series products on the tiny fixture: the CUSUM
    // closed form (two pixel-keyed window frames, one exchange) and the
    // aligned-band Pearson map (one partial-agg shuffle)
    "grid_cusum_detect", "grid_xcorr",
    // round-8 wave: heap top-k, z-order key, SG smoothing, sketch
    // rollup (their A/B / scale shapes are the topk pair + plan pins)
    "topk_group", "layout_zorder", "grid_savgol", "hll_rollup_users",
    // round-14: the HLL accuracy-invariant twin (timed, off-line)
    "hll_estimate_bounds",
    "cap_per_source", "sql_tpch_q5", "sql_tpch_q10",
    // round-8: the quantile-sketch cube query (its build/probe/raw A/B
    // triple is recorded via quantileCubeAB alongside)
    "quantile_sketch_cube",
    // round-8 web-crawl ingestion: HTML strip + block filter (pure
    // codegen regexp chains — cost must track markup volume), URL
    // canonicalize/domain rollup (one partial-agg shuffle), and the
    // WARC archive read path (per-record gzip members)
    "html_extract", "html_block_filter", "url_domains",
    "src_warc_roundtrip",
    // the composed crawl pipeline (per-doc cost of the whole front end)
    "curate_crawl_e2e",
    // robots gate: broadcast rule-set join + in-row fold, zero shuffle
    "url_robots_gate",
    // link graph: href/anchor extraction (one projection + generator,
    // cost tracks markup volume) and 3-round integer PageRank over the
    // host graph (per-round cost = rank join + contribution agg on
    // host-sized tables — the part that must NOT scale with page rows);
    // HITS and TrustRank share the shape (timed, off-line: lineExcluded)
    "link_extract", "host_pagerank", "host_hits", "host_trustrank",
    // round-9: the composed crawl frontier (canonical dedup + wildcard
    // robots gate + broadcast rank/delay annotation + per-host queue
    // window — the whole loop in one number) and the PSL-table domain
    // rollup (host-sized suffix explode + broadcast map-back)
    "crawl_frontier", "url_domains_psl",
    // round-9 wave 2: the HTTP-layer projections (response parse,
    // charset decode, metadata extraction — all single-pass,
    // zero-shuffle), declared-canonical dedup, and the unrolled
    // redirect resolution (k key-joins against the 3xx step table)
    "warc_http_responses", "warc_decode_charset", "html_meta",
    "url_dedup_declared", "warc_redirects",
    // round-9 wave 3: RRF hybrid fusion (two k-bounded retrievals +
    // candidate-sized joins — the corpus-sized work must stay in the
    // upstream retrievals), the segmented-index probe (query cost must
    // not grow with segment count), and the Hilbert key (native
    // codegen expr — one projection pass like the Morton twin)
    "hybrid_rrf_search", "bm25_index_upsert", "layout_hilbert",
    // round-9 wave 4: IR metrics (k-bounded qrels join), PMI
    // collocations (two partial-agg count passes + vocab-sized joins
    // behind the minCount cut), BFS crawl depth (host-sized rounds),
    // and the Q18 HAVING-subquery semi-join
    "ir_metrics", "pmi_collocations", "host_distance", "sql_tpch_q18",
    // A/B readout: one (user, variant) partial agg + a 1-row global agg
    "experiment_lift",
    // TFRecord shards: the write caches per dir (bench times the
    // CRC-verified record-at-a-time read + protobuf decode)
    "src_tfrecord_roundtrip", "src_jsonl_roundtrip",
    // the pipeline last mile e2e: pack bins -> tf.Example shards -> decode
    "pack_to_shards_e2e",
    // contrastive pair mining: brute ranking over cross-label candidates
    "hard_negatives", "positive_pairs",
    // round-10: the ANN-routed miners (corpus-sized anchors through the
    // persisted IVF index — cell-keyed join, never all-pairs; the
    // number to hold against the brute pair above), the incremental
    // IVF append (build+append cached per dir; the probe is timed),
    // and the raw-HTTP curation e2e (WARC bytes -> TFRecord shards;
    // the shard build caches per dir — the CRC-verified decode is
    // the timed read path, the pack_to_shards convention)
    "hard_negatives_ann", "positive_pairs_ann", "ann_ivf_index_upsert",
    "curate_http_e2e",
    // round-10: Stupid-Backoff LM train+persist+score (the whole gate:
    // three count aggs to parquet, then the trigram projection + the
    // distinct-context backoff join — cost must track token volume),
    // JL random projection (dimOut native dots, one projection pass,
    // zero shuffle), and the projected-shortlist ANN (16-dim scan +
    // 32-candidate exact re-rank vs ann_brute_topk's full 64-dim scan)
    "lm_backoff_score", "embed_random_projection", "ann_rp_topk",
    // tokenizer-in-the-loop last mile: BPE train + encode + pack +
    // TFRecord shards (the shard build caches per dir; the timed path
    // is the CRC-verified decode, the pack_to_shards convention)
    "bpe_pack_shards_e2e",
    // curriculum schedule: LM train+score + pack + per-bin mean + the
    // two-phase global rank (no single-partition sort)
    "curriculum_order",
    // round-11: the schedule-to-shards e2e (shard build caches per dir;
    // the timed path is the shard-addressed CRC-verified decode + the
    // replay-order window), token-ID emission (per-distinct-word encode
    // + word-keyed join + one doc-keyed reassembly agg — the cost must
    // track token volume like piece_counts), the packed-segment table
    // (pure projection over the pack's range exchange), and the FIM
    // rotation (zero-shuffle codegen projection)
    "curriculum_shards_e2e", "bpe_encode_ids", "pack_segments",
    "fim_transform",
    // SFT loss-mask spans: the encode pricing + one doc-keyed
    // window/agg exchange
    "sft_mask_spans",
    // leakage-safe splits: near-dup pairs + duplicate-sized component
    // pass + the pure hash projection
    "split_leakage_safe",
    // round-12: the composed loader-tensor shard chain (write caches
    // per dir; the timed path is the CRC-framed decode + per-token
    // posexplode + seg prefix-sum lookup), the tokenizer round-trip
    // decode (broadcast vocab join + one doc-keyed reassembly agg),
    // and the multimodal (image bytes, caption ids) pair shards
    "train_shards_e2e", "train_shards_eos_e2e", "bpe_decode_ids",
    "bpe_encode_ids_frozen", "multimodal_shards_e2e",
    "curriculum_tensor_shards_e2e", "tokenizer_fertility",
    "sft_padded_batches",
    // round-13: the multi-turn chat collator (turn-span windows + the
    // per-position span-membership projection over the 2x-doc
    // conversation corpus) and the manifested shard sink's verified
    // read-back (manifest join + per-shard recount)
    "sft_multiturn_batches", "train_shards_manifest",
    "sft_multiturn_packed")

  /** Timed and recorded in bench_report.json, but left off the stdout
    * line's queries map — each fixed char there is a query that no
    * longer fits the driver's 2000-char tail window. One join-heavy
    * SQL-text representative (q5) stays on the line. */
  val lineExcluded: Set[String] = Set("sql_tpch_q10", "ann_lsh_topk",
    "hll_estimate_bounds",
    "dedup_drop_near", "vocab_oov_rate", "host_hits", "host_trustrank",
    "host_distance", "sql_tpch_q18", "layout_hilbert",
    "positive_pairs_ann", "ann_ivf_index_upsert",
    "embed_random_projection", "bpe_pack_shards_e2e",
    "curriculum_order", "curriculum_shards_e2e", "bpe_encode_ids",
    "pack_segments", "fim_transform", "sft_mask_spans",
    "split_leakage_safe", "train_shards_e2e", "train_shards_eos_e2e",
    "bpe_decode_ids", "bpe_encode_ids_frozen", "multimodal_shards_e2e",
    "curriculum_tensor_shards_e2e", "tokenizer_fertility",
    "sft_padded_batches", "sft_multiturn_batches",
    "train_shards_manifest", "sft_multiturn_packed")

  /** Extract the committed record's `queries` wall map from a
    * bench_report.json body — the best-known baseline of the vsbest
    * flag (see main). Tolerates pretty-printed or single-line JSON;
    * the queries object is a flat name->number map, so the first
    * balanced brace after the key bounds it. Failed-entry sentinels
    * (-1) are dropped. BenchBestKnownSpec pins both layouts. */
  private[graft] def parseBestKnown(txt: String): Map[String, Double] = {
    val qIdx = txt.indexOf("\"queries\"")
    if (qIdx < 0) Map.empty
    else {
      val start = txt.indexOf('{', qIdx)
      val seg = txt.substring(start, txt.indexOf('}', start) + 1)
      "\"([^\"]+)\"\\s*:\\s*(-?[0-9.]+(?:[eE][+-]?[0-9]+)?)".r
        .findAllMatchIn(seg)
        .map(m => m.group(1) -> m.group(2).toDouble)
        .filter(_._2 > 0).toMap
    }
  }

  /** (name, wall_sec, cpu_sec, probe_sec); wall and cpu are each the
    * MINIMUM across the query's runs, taken independently — see
    * [[timed2]]; probe is the noise-probe reading of the BEST round
    * (its min across rounds). A failed query reports the -1.0 sentinel. */
  final case class Timing(name: String, wall: Double, cpu: Double,
                          probe: Double = -1.0)

  private var listener: GraftCpuTimeListener = _

  /** Let other mains (ScalingProbe) reuse the timed sections: timed2 /
    * timedAB read executor CPU through this listener. */
  private[graft] def attachListener(l: GraftCpuTimeListener): Unit =
    listener = l

  // --- Completion budget (r15). The r14 driver capture was KILLED at
  // its wall-clock limit (BENCH_r14.json: rc 124, heartbeat futures
  // timing out) inside a sustained-noise window: MaxRunsNoisy sends
  // every entry to 6 runs while the noise itself inflates each run
  // several-fold, so the full 170-entry bench can overrun ANY fixed
  // limit — and a record that never lands is worse than a degraded one
  // (the round lost its 32-core capture entirely; the committed file
  // was overwritten by the later 8-core run). Defense: a soft budget on
  // the bench's own wall clock. In a quiet window nothing changes (a
  // full quiet run finishes far under the budget with every retry rule
  // intact). Past 50% of the budget, retries stop (every remaining
  // entry gets exactly the 2 baseline runs); past 80%, entries run
  // ONCE. Past 25%, any REMAINING warm-up passes are skipped. Degraded
  // readings are upper bounds, not steady-state — exactly what
  // vsbest_flags exists to catch — and the degradation is disclosed in
  // the detail JSON (budget_sec / warm_skipped / single_run_entries).
  // Only Bench.main arms the budget; ScalingProbe's reuse of timed2 is
  // untouched.
  private val benchT0 = System.nanoTime()
  private def elapsedSec: Double = (System.nanoTime() - benchT0) / 1e9
  private[graft] val budgetSec: Double =
    sys.env.get("SPARK_GRAFT_BENCH_BUDGET_SEC")
      .flatMap(s => scala.util.Try(s.toDouble).toOption)
      .getOrElse(1200.0)
  private var budgetArmed = false
  private def retryAllowed: Boolean =
    !budgetArmed || elapsedSec < 0.5 * budgetSec
  private def singleRunMode: Boolean =
    budgetArmed && elapsedSec > 0.8 * budgetSec
  private var singleRunEntries = 0

  /** Host-noise probe: a timed pass over a fixed 64 MiB array —
    * memory-BANDWIDTH-bound, which is exactly the resource noisy
    * neighbors contend on (the mechanism that inflates both wall AND
    * executor-cpu readings: stall cycles count as on-CPU). A round
    * whose probe reads far above the run's minimum probe ran inside a
    * noise window — detectable WITHOUT assuming anything about the
    * workloads being timed. ~20-40ms quiet; the array writes keep the
    * JIT from eliminating the loop. */
  private val probeArr = new Array[Long](8 * 1024 * 1024) // 64 MiB
  // Quiet reference = MEDIAN of the 3 smallest probe readings, not the
  // absolute minimum: one anomalously-fast reading (cache-resident
  // pass, turbo burst) otherwise sets a bar no later probe can meet and
  // flags the whole run (observed: a single 10ms outlier among ~25ms
  // steady readings flagged 81/82 entries at a uniform ~2.5x).
  private val probeSmallest = scala.collection.mutable.ArrayBuffer[Double]()
  private def probeMin: Double = probeSmallest.length match {
    case 0 => Double.MaxValue
    case 1 | 2 => probeSmallest.max
    case _ => probeSmallest.sorted.apply(1)
  }
  // The probe runs PARALLEL (8 threads over disjoint slices): a
  // single-threaded pass sees full node bandwidth even inside a
  // noisy-neighbor window — contention (host CPU steal, shared-LLC and
  // bandwidth pressure) only materializes under parallel demand, which
  // is exactly how the workloads run. (Observed: a window where
  // identical kernels swung 0.6s <-> 23s while the serial probe read
  // quiet throughout.)
  private def noiseProbe(): Double = {
    val nThreads = 8
    val slice = probeArr.length / nThreads
    val t0 = System.nanoTime()
    val threads = (0 until nThreads).map { k =>
      val th = new Thread(() => {
        var acc = k.toLong
        var pass = 0
        while (pass < 2) {
          var i = k * slice
          val end = i + slice
          while (i < end) {
            acc += probeArr(i); probeArr(i) = acc; i += 1
          }
          pass += 1
        }
      })
      th.start(); th
    }
    threads.foreach(_.join())
    val dt = (System.nanoTime() - t0) / 1e9
    probeSmallest.synchronized {
      if (probeSmallest.length < 3) probeSmallest += dt
      else {
        val worst = probeSmallest.indexOf(probeSmallest.max)
        if (dt < probeSmallest(worst)) probeSmallest(worst) = dt
      }
    }
    dt
  }
  private def probeNoisy(p: Double): Boolean = p > 2.0 * probeMin

  /** Time one action: returns (wall_sec, executor_cpu_sec, probe_sec);
    * probes run immediately BEFORE AND AFTER the action and the WORSE
    * reading is attributed to the run — host contention arrives in
    * ~20-30s bursts that a pre-probe alone misses when the burst lands
    * mid-run (observed: a run reading 25s whose pre-probe was quiet,
    * same code 0.7s in the next quiet window). */
  private def timedOnce[A](spark: SparkSession)(f: => A): (Double, Double, Double) = {
    val probeBefore = noiseProbe()
    val sc = spark.sparkContext
    GraftMetricsBridge.flush(sc)
    val cpu0 = listener.cpuNanos.get()
    val t0 = System.nanoTime()
    f
    val wall = (System.nanoTime() - t0) / 1e9
    GraftMetricsBridge.flush(sc)
    val probeAfter = noiseProbe()
    (wall, (listener.cpuNanos.get() - cpu0) / 1e9,
      math.max(probeBefore, probeAfter))
  }

  /** Noise-robust best-of-N: min wall AND min cpu taken INDEPENDENTLY
    * across runs. Executor CPU time is not noise-proof on this host —
    * memory-stall cycles count as on-CPU, so a run inside a
    * noisy-neighbor window inflates cpu_sec up to ~7x (round 4 recorded
    * the fused window kernel 6.7x WORSE by pairing cpu with the min-wall
    * run; a quiet re-run of identical code showed it 5x BETTER). So:
    * start with two runs; while the two smallest cpu readings disagree
    * by more than 2x — i.e. we cannot confirm the minimum was a quiet
    * reading — run again, up to 4 runs total, then keep the minima. */
  private def timed2[A](spark: SparkSession, name: String)(f: => A): Timing = {
    val MaxRuns = 4
    val MaxRunsNoisy = 6 // extra budget when the probe says every round was hot
    def unconfirmed(runs: List[(Double, Double, Double)]): Boolean = {
      val c = runs.map(_._2).sorted
      // absolute floor: sub-50ms disagreement is timer jitter, not noise
      c(1) > 2.0 * c(0) && c(1) - c(0) > 0.05
    }
    try {
      var runs = List(timedOnce(spark)(f))
      if (singleRunMode) singleRunEntries += 1
      else {
        runs ::= timedOnce(spark)(f)
        while (retryAllowed &&
            ((runs.size < MaxRuns && unconfirmed(runs)) ||
             (runs.size < MaxRunsNoisy && runs.forall(r => probeNoisy(r._3)))))
          runs ::= timedOnce(spark)(f)
      }
      Timing(name, runs.map(_._1).min, runs.map(_._2).min, runs.map(_._3).min)
    } catch {
      case t: Throwable =>
        System.err.println(s"bench query $name failed: $t")
        Timing(name, -1.0, -1.0)
    }
  }

  /** Interleaved A/B timing for the fused-vs-exploded pairs: alternate
    * the two workloads each round so BOTH sides sample the same host-
    * noise windows — with back-to-back timed2 blocks, a noise burst
    * spanning one side's runs flips the recorded winner even under the
    * min/retry rule (observed: the QA pair inverted between two
    * otherwise-quiet full-bench runs). Per side: min wall and min cpu
    * taken independently across rounds; keep alternating (up to 4
    * rounds) while either side's two smallest cpu readings disagree
    * more than 2x. */
  private def timedAB[A](spark: SparkSession, nameA: String, nameB: String)(
      fa: => A)(fb: => A): Seq[Timing] = {
    val MaxRounds = 4
    val MaxRoundsNoisy = 6 // a SUSTAINED noise window defeats the
    // disagreement rule (readings agree per side — consistently wrong —
    // while inflating the memory-bound side more); the probe detects it
    // independently, so spend extra rounds hunting for one quiet window
    def unconfirmed(runs: Seq[(Double, Double, Double)]): Boolean = {
      if (runs.size < 2) return false
      val c = runs.map(_._2).sorted
      c(1) > 2.0 * c(0) && c(1) - c(0) > 0.05
    }
    val as = scala.collection.mutable.ListBuffer[(Double, Double, Double)]()
    val bs = scala.collection.mutable.ListBuffer[(Double, Double, Double)]()
    try {
      // budget degradation (see the completion-budget note above): one
      // interleaved round per side past 80% of the budget, no retries
      // past 50% — the A/B stays interleaved (both sides still sample
      // the same windows), it just samples fewer of them.
      val minRounds = if (singleRunMode) { singleRunEntries += 2; 1 } else 2
      var round = 0
      while (round < minRounds || (retryAllowed && (
          (round < MaxRounds &&
          (unconfirmed(as.toSeq) || unconfirmed(bs.toSeq))) ||
          (round < MaxRoundsNoisy &&
            (as.forall(r => probeNoisy(r._3)) ||
             bs.forall(r => probeNoisy(r._3))))))) {
        as += timedOnce(spark)(fa)
        bs += timedOnce(spark)(fb)
        round += 1
      }
      Seq(Timing(nameA, as.map(_._1).min, as.map(_._2).min, as.map(_._3).min),
        Timing(nameB, bs.map(_._1).min, bs.map(_._2).min, bs.map(_._3).min))
    } catch {
      case t: Throwable =>
        System.err.println(s"bench pair $nameA/$nameB failed: $t")
        Seq(Timing(nameA, -1.0, -1.0), Timing(nameB, -1.0, -1.0))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // local iteration aid: comma-separated entry names to run alone
    // (skips the grid/IVF sections too unless named "grid"/"ivf");
    // the driver never sets it, so recorded rounds are always full
    val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // Shuffle/spill files default to /tmp — the shared disk whose
    // noisy-neighbor windows stall even KB-sized shuffle writes for
    // seconds. tmpfs takes disk out of the shuffle path entirely (the
    // cluster analog: local SSD scratch, never shared spinning disk).
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isWritable(shm)) {
      val d = new java.io.File("/dev/shm/graft_spark_local")
      d.mkdirs()
      builder.config("spark.local.dir", d.getAbsolutePath)
    }
    // Committed best-known walls — bench_report.json as it stands at
    // run START (the min-merged quiet record; this run overwrites the
    // file only at output time). The memory-bandwidth probe has a
    // blind spot under SUSTAINED noise: the run's quietest probe is
    // itself inflated, so every per-entry ratio passes while every
    // reading is hot (r13's capture shipped 12 unflagged sub-second
    // readings at 2-8x best-known). Defense: independently of the
    // probe, flag any entry whose BEST wall this run exceeds 2x its
    // committed best-known (0.05s absolute floor for timer jitter).
    // New entries (absent from the committed record) can't be flagged.
    val bestKnown: Map[String, Double] = try {
      parseBestKnown(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("bench_report.json")), "UTF-8"))
    } catch { case _: Throwable => Map.empty }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    listener = GraftMetricsBridge.install(spark.sparkContext)

    // Force FULL result production, not a row count: .count() lets
    // Catalyst legitimately delete work — an outer join against a
    // grouped (unique-key) side with no referenced columns is
    // eliminated, taking its whole windowed subtree with it, so
    // dedup_spans "measured" 13ms of cpu (a parquet row count). The
    // checksum aggregate references every output column of every row —
    // what a real pipeline sinks — while still collecting one row.
    // XOR-fold, not sum: ANSI mode (Spark 4 default) throws on Long
    // overflow, which a sum of 2^63-ranged hashes hits immediately.
    def force(df: org.apache.spark.sql.DataFrame): Unit = {
      import org.apache.spark.sql.functions.{col, expr, struct, xxhash64}
      df.select(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)).as("h"))
        .agg(expr("bit_xor(h)")).collect()
    }

    // warm-up: one untimed pass of every headline query at sf0.001.
    // Plan SHAPES are identical across scale factors, so this hits the
    // codegen cache and JIT for the timed runs — the wide dedup/LSH
    // aggregates pay several seconds of one-time Janino compilation
    // that would otherwise be billed to the first timed execution
    // (measured: minhash 10.9s cold vs 1.2s steady-state at sf0.1).
    // Steady-state is the number that predicts cluster throughput.
    val warmDir = "/root/testdata/sf0.001"
    val selected = only match {
      case Some(names) => headline.filter(names.contains)
      case None => headline
    }
    budgetArmed = true
    var warmSkipped = 0
    selected.foreach { name =>
      // completion budget: warm-up is a throughput aid, not part of the
      // record — under sustained noise it must not eat the window the
      // timed entries need (the skipped entries' first timed run pays
      // the JIT instead, and min-of-2 absorbs it)
      if (elapsedSec < 0.25 * budgetSec) {
        try force(SparkEntry.queries(name)(spark, warmDir))
        catch { case _: Throwable => }
      } else warmSkipped += 1
    }
    if (warmSkipped > 0)
      System.err.println(s"bench budget: skipped $warmSkipped warm-up " +
        s"passes (elapsed ${elapsedSec.toInt}s of ${budgetSec.toInt}s)")
    // phase markers (stderr): the r14 driver capture died at its wall
    // limit with no trace of WHERE the time went — one line per phase
    // makes the next post-mortem a grep
    def mark(label: String): Unit =
      System.err.println(s"bench phase: $label done at ${elapsedSec.toInt}s")
    mark("warmup")
    // seed the probe's quiet reference (and its JIT) before timing
    (0 until 3).foreach(_ => noiseProbe())

    val results = selected.flatMap { name =>
      SparkEntry.queries.get(name).map { fn =>
        // tracked caches release INSIDE the timed region: ops that
        // persist intermediates (minhash/LSH signature tables) would
        // otherwise hand their second timed run a warm cache while
        // persist-free ops run cold twice — min-of-2 must compare
        // like-for-like cold runs across entries
        timed2(spark, name) {
          force(fn(spark, sfDir))
          graft.ops.CacheRegistry.releaseAll()
        }
      }
    } ++ {
      mark("main entries")
      if (only.forall(_.contains("ivf"))) annIvfBench(spark, sfDir, force)
      else Nil
    } ++ {
      if (only.forall(_.contains("funnel"))) funnelAB(spark, sfDir, force)
      else Nil
    } ++ {
      if (only.forall(_.contains("topk"))) topkAB(spark, sfDir, force)
      else Nil
    } ++ {
      if (only.forall(_.contains("bm25"))) bm25AB(spark, sfDir, force)
      else Nil
    } ++ {
      if (only.forall(_.contains("warc"))) warcAB(spark, sfDir, force)
      else Nil
    } ++ {
      if (only.forall(_.contains("grep"))) trigramAB(spark, sfDir, force)
      else Nil
    } ++ {
      if (only.forall(_.contains("quantile")))
        quantileCubeAB(spark, sfDir, force)
      else Nil
    } ++ {
      mark("ab sections")
      if (only.forall(_.contains("grid"))) {
        // Cache hygiene before the grid microbenches: drop any cached
        // blocks left over from warmup + timed runs so the tile benches
        // measure the write path, not eviction of stale blocks.
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        System.gc()
        gridMicrobench(spark)
      } else Nil
    }
    // ---- Output. The driver keeps only the LAST ~2000 chars of stdout
    // and parses the JSON line out of that tail: rounds 5-7 recorded
    // "parsed": null because this line (3 full per-query maps) had
    // outgrown the window — three rounds of bench data survived only as
    // a truncated text tail. So the stdout line now carries the driver
    // contract compactly (headline-query walls at 3 significant digits
    // + scalar summaries) and the FULL record — every entry incl. the
    // grid/IVF/BM25 microbench A/Bs, full-precision wall, cpu_sec and
    // the per-query noise map — goes to bench_report.json in the
    // working directory, pointed to by the "detail" field.
    def f3(v: Double): String =
      if (v < 0) "-1"
      else BigDecimal(v, new java.math.MathContext(3))
        .bigDecimal.stripTrailingZeros.toPlainString
    val headlineSet = headline.toSet
    // Budget guard: the line must stay well under the driver's window
    // even as the headline list grows — if the full map would overflow,
    // drop entries from the TAIL of the headline order (newest first to
    // go; every entry is still in bench_report.json) until it fits.
    val ordered = headline.filterNot(lineExcluded)
      .flatMap(n => results.find(_.name == n))
    def mapOf(rs: Seq[Timing]): String =
      rs.map(r => "\"" + r.name + "\":" + f3(r.wall))
        .mkString("{", ",", "}")
    // chars for the queries map: the fixed fields are ~145, sbt's
    // trailing "[success] Total time" line eats ~75 of the 2000-char
    // window, so 1700 leaves ~80 of slack at the current 74 entries
    val budget = 1700
    var kept = ordered
    while (kept.nonEmpty && mapOf(kept).length > budget)
      kept = kept.dropRight(1)
    if (kept.size < ordered.size)
      System.err.println(s"bench line: dropped ${ordered.size - kept.size} " +
        "tail headline entries to fit the driver's stdout window " +
        "(full set in bench_report.json)")
    val qs = mapOf(kept)
    val total = results.map(_.wall).filter(_ >= 0).sum
    val totalCpu = results.map(_.cpu).filter(_ >= 0).sum
    val heapGb = Runtime.getRuntime.maxMemory / (1024.0 * 1024 * 1024)
    // Noise disclosure: a query is flagged when even its BEST round's
    // probe read >2x the whole run's quietest probe — its recorded
    // minima never sampled a quiet window, so treat them as upper
    // bounds, not steady-state (the recurring record-vs-reality trap:
    // r1 ingest, r3 ANN, r4 fused-window were all such readings).
    val noisy = results.filter(r => r.probe > 0 && probeNoisy(r.probe))
    // the probe-independent regression/noise flag (see bestKnown above):
    // recorded minima that never got near the committed steady-state are
    // upper bounds, whatever the probe said
    val vsBest = results.flatMap { r =>
      bestKnown.get(r.name) match {
        case Some(b) if r.wall > 0 && r.wall > 2.0 * b &&
          r.wall - b > 0.05 => Some(r.name -> r.wall / b)
        case _ => None
      }
    }
    val fullWall = results.map(r => "\"" + r.name + "\":" + r.wall)
      .mkString("{", ",", "}")
    val fullCpu = results.map(r => "\"" + r.name + "\":" +
      math.round(r.cpu * 1000) / 1000.0).mkString("{", ",", "}")
    val flagged = noisy.map(r => "\"" + r.name + "\":" +
        math.round(r.probe / probeMin * 10) / 10.0)
      .mkString("{", ",", "}")
    val vsBestFlags = vsBest.map { case (n, ratio) =>
      "\"" + n + "\":" + math.round(ratio * 10) / 10.0
    }.mkString("{", ",", "}")
    val detail = s"""{"metric":"total","value":$total,"unit":"sec","queries":$fullWall,"cpu_sec":$fullCpu,"total_cpu_sec":${math.round(totalCpu * 1000) / 1000.0},"noise_flags":$flagged,"vsbest_flags":$vsBestFlags,"probe_quiet_sec":${math.round(probeMin * 10000) / 10000.0},"sf":"$sfDir","heap_gb":${math.round(heapGb * 10) / 10.0},"budget_sec":${budgetSec.toInt},"bench_wall_sec":${elapsedSec.toInt},"warm_skipped":$warmSkipped,"single_run_entries":$singleRunEntries}"""
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_report.json"),
      (detail + "\n").getBytes("UTF-8"))
    catch { case t: Throwable =>
      System.err.println(s"bench_report.json write failed: $t") }
    // heap_gb / probe_quiet_sec live in the detail file only — every
    // fixed char here is one fewer query entry that fits the window
    val line = s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs,"total_cpu_sec":${f3(totalCpu)},"noise_n":${noisy.size},"vsbest_n":${vsBest.size},"sf":"$sfDir","detail":"bench_report.json"}"""
    if (line.length > 1900)
      System.err.println(s"WARNING: bench line ${line.length} chars " +
        "risks the driver's 2000-char stdout tail; trim the headline map")
    println(line)
    spark.stop()
  }

  /** Scratch dir on tmpfs when available (same rationale as the grid
    * microbenches: keep the shared disk's noisy-neighbor I/O out of the
    * timed path). */
  private def benchTmpDir(prefix: String): String = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isWritable(shm))
      java.nio.file.Files.createTempDirectory(shm, prefix).toString
    else java.nio.file.Files.createTempDirectory(prefix).toString
  }

  /** The point of the persisted IVF index (Similarity.buildIvfIndex) is
    * probe-time savings — the FAISS-style build/query split amortizes
    * KMeans + cell assignment across every later query batch. Record it:
    * an interleaved A/B of probing the prebuilt parquet index vs the
    * one-shot ivfTopK (which re-fits the quantizer per call). The build
    * itself is timed separately once — it's the amortized side of the
    * trade, a real number users budget for. */
  def annIvfBench(spark: SparkSession, sfDir: String,
                  force: org.apache.spark.sql.DataFrame => Unit): Seq[Timing] = {
    import org.apache.spark.sql.functions.col
    import graft.ops.Similarity
    val dir = benchTmpDir("graft_bench_ivf")
    try {
      val vecs = Tables.embeddings(spark, sfDir)
      val qs = vecs.filter(col("vec_id") < 8)
      val build = timed2(spark, "ann_ivf_index_build") {
        Similarity.buildIvfIndex(vecs, dir, nCentroids = 16)
        graft.ops.CacheRegistry.releaseAll()
      }
      val pair = timedAB(spark, "ann_ivf_probe_indexed", "ann_ivf_oneshot") {
        force(Similarity.queryIvfIndex(spark, dir, qs, k = 5, nProbe = 4))
        graft.ops.CacheRegistry.releaseAll()
      } {
        force(Similarity.ivfTopK(vecs, qs, k = 5, nCentroids = 16, nProbe = 4))
        graft.ops.CacheRegistry.releaseAll()
      }
      // the IVFADC split (codes-only index): same build/probe trade one
      // level up — probe scans int codes in probed cells, never vectors
      val dir2 = benchTmpDir("graft_bench_ivfpq")
      val build2 = timed2(spark, "ann_ivfpq_index_build") {
        Similarity.buildIvfPqIndex(vecs, dir2, dim = 64,
          nCentroids = 16, nSub = 8, ksub = 16)
        graft.ops.CacheRegistry.releaseAll()
      }
      val pair2 = try {
        timedAB(spark, "ann_ivfpq_probe_indexed", "ann_ivfpq_oneshot") {
          force(Similarity.queryIvfPqIndex(spark, dir2, qs, k = 5, nProbe = 4))
          graft.ops.CacheRegistry.releaseAll()
        } {
          force(Similarity.ivfPqTopK(vecs, qs, k = 5, dim = 64, nSub = 8,
            ksub = 16, nCentroids = 16, nProbe = 4))
          graft.ops.CacheRegistry.releaseAll()
        }
      } finally {
        try { graft.sources.GridExports.deleteStore(spark, dir2) }
        catch { case _: Throwable => }
      }
      (build +: pair) ++ (build2 +: pair2)
    } finally {
      try { graft.sources.GridExports.deleteStore(spark, dir) }
      catch { case _: Throwable => }
    }
  }

  /** Grid-native microbenches at one-MODIS-tile scale (4800x4800x4 ≈ 92M
    * px/band — BASELINE.md's contract: window load, multi-grid join, QA
    * decode, recorded as this repo's own regression baseline since the
    * reference publishes no throughput numbers).
    *
    * The window-load and QA-decode benches run as in-process A/B pairs —
    * the same aggregate through the EXPLODED pixel view and through the
    * FUSED chunk kernel (grid/GridKernels) back-to-back — so the fused
    * kernels' speedup is a recorded per-round fact, not a code comment.
    * GridKernelsSpec pins result equality of the two paths.
    */
  /** A/B №4 — funnel as one user_id shuffle + array cascade (the
    * shipped EventAnalytics shape) vs the textbook per-step-join form
    * (each step = filter + join-back + re-aggregate: 3 joins, a shuffle
    * chain per step). Same answer, interleaved timing — the recorded
    * evidence for why the cascade is the at-scale shape. */
  def funnelAB(spark: org.apache.spark.sql.SparkSession, sfDir: String,
               force: org.apache.spark.sql.DataFrame => Unit): Seq[Timing] = {
    import org.apache.spark.sql.functions._
    def naive = {
      val ev = graft.Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_type"),
          unix_millis(col("ts")).as("ms"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ms")).as("t0"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("ms") > col("t0"))
        .groupBy(col("user_id")).agg(min(col("ms")).as("t1"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("ms") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("ms")).as("t2"))
      v.agg(count(lit(1)).as("users_view"))
        .crossJoin(c.agg(count(lit(1)).as("users_click")))
        .crossJoin(p.agg(count(lit(1)).as("users_purchase")))
    }
    timedAB(spark, "funnel_cascade", "funnel_per_step_joins") {
      force(SparkEntry.queries("funnel_steps")(spark, sfDir))
    } {
      force(naive)
    }
  }

  /** A/B №8 — per-group top-k: the bounded-heap aggregate
    * (functions/TopKAgg; shuffle carries one k-sized buffer per
    * partition x group) vs the window row_number form (shuffle carries
    * and sorts every group row). Same rows out — the shared
    * `topk_group` oracle pins the heap side; the window side is the
    * `rank_topn` shape with row_number. */
  def topkAB(spark: SparkSession, sfDir: String,
             force: org.apache.spark.sql.DataFrame => Unit): Seq[Timing] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    def windowForm = {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      // NULL filter for result parity with the heap side (TopKAgg skips
      // NULL scores; a sub-k group's row_number would otherwise keep
      // them) — a no-op on TPC-H but it keeps "same rows out" true
      Tables.orders(spark, sfDir)
        .filter(col("o_totalprice").isNotNull)
        .select(col("o_orderpriority"), col("o_orderkey"),
          col("o_totalprice"), row_number().over(w).as("rn"))
        .filter(col("rn") <= 5).drop("rn")
    }
    timedAB(spark, "topk_heap_agg", "topk_window") {
      force(SparkEntry.queries("topk_group")(spark, sfDir))
    } {
      force(windowForm)
    }
  }

  /** The inverted index's point is query-time cost ∝ the query terms'
    * postings, not the corpus — record the build once (the amortized
    * side) and an interleaved A/B of index-served vs full-scan BM25
    * for the same query. */
  /** Crawl-store build/probe trade (sources/Warc CDX index): write the
    * corpus as indexed .warc.gz once (amortized side, timed
    * separately), then A/B fetching 20 pages through the offset index
    * (one seek + one member inflate each) against scanning the full
    * archive set and filtering — the scan side re-pays archive volume
    * on every targeted re-fetch, the indexed side never does. */
  def warcAB(spark: SparkSession, sfDir: String,
             force: org.apache.spark.sql.DataFrame => Unit): Seq[Timing] = {
    import graft.sources.Warc
    val dir = benchTmpDir("graft_bench_warc")
    try {
      val docs = Tables.documents(spark, sfDir)
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.concat(
            org.apache.spark.sql.functions.lit("https://corpus.example/doc/"),
            org.apache.spark.sql.functions.col("doc_id").cast("string"))
            .as("uri"),
          org.apache.spark.sql.functions.col("text"))
      val build = timed2(spark, "warc_index_build") {
        Warc.writeCorpusIndexed(docs, "doc_id", "uri", "text", dir)
      }
      val uris = (0 until 20).map(i => s"https://corpus.example/doc/${i * 7}")
      val pair = timedAB(spark, "warc_fetch_indexed", "warc_fetch_scan") {
        force(Warc.fetchByUri(spark, dir, uris))
      } {
        force(Warc.read(spark, dir).filter(
          org.apache.spark.sql.functions.col("target_uri")
            .isInCollection(uris)))
      }
      build +: pair
    } finally {
      try { graft.sources.GridExports.deleteStore(spark, dir) }
      catch { case _: Throwable => }
    }
  }

  /** Trigram substring index (TextSearch.buildTrigramIndex): pay the
    * corpus-sized gram shuffle once, then A/B a selective phrase grep
    * through the index (dfs lookup + pruned postings + candidate-only
    * confirm) against the full contains() scan — the PII/contamination
    * audit pattern where MANY ad-hoc literals probe one standing
    * corpus. */
  def trigramAB(spark: SparkSession, sfDir: String,
                force: org.apache.spark.sql.DataFrame => Unit,
                literals: Seq[String] = Seq("merge batch")): Seq[Timing] = {
    import graft.ops.TextSearch
    val dir = benchTmpDir("graft_bench_tri")
    try {
      val docs = Tables.documents(spark, sfDir)
      val build = timed2(spark, "trigram_index_build") {
        TextSearch.buildTrigramIndex(docs, dir)
      }
      // one build amortizes across every probed literal — the split's
      // whole point; selectivity is the probe's cost driver, so the
      // 100x probe (TrigramProbe) passes a rare literal alongside the
      // common default
      val pairs = literals.flatMap { lit =>
        val (na, nb) =
          if (literals.size == 1) ("grep_trigram_indexed", "grep_full_scan")
          else { val t = lit.split(' ').take(2).mkString("_")
            (s"grep_trigram_indexed:$t", s"grep_full_scan:$t") }
        timedAB(spark, na, nb) {
          force(TextSearch.grepIndexed(spark, dir, docs, lit))
        } {
          force(docs.filter(org.apache.spark.sql.functions.col("text")
            .contains(lit))
            .select(org.apache.spark.sql.functions.col("doc_id"),
              org.apache.spark.sql.functions.col("text")))
        }
      }
      build +: pairs
    } finally {
      try { graft.sources.GridExports.deleteStore(spark, dir) }
      catch { case _: Throwable => }
    }
  }

  def bm25AB(spark: SparkSession, sfDir: String,
             force: org.apache.spark.sql.DataFrame => Unit): Seq[Timing] = {
    import graft.ops.TextSearch
    val dir = benchTmpDir("graft_bench_bm25")
    try {
      val docs = Tables.documents(spark, sfDir)
      val terms = Seq("dup", "key", "vector")
      val build = timed2(spark, "bm25_index_build") {
        TextSearch.buildInvertedIndex(docs, dir)
      }
      val pair = timedAB(spark, "bm25_probe_indexed", "bm25_oneshot") {
        force(TextSearch.queryInvertedIndex(spark, dir, terms, k = 15))
        graft.ops.CacheRegistry.releaseAll()
      } {
        force(TextSearch.bm25TopK(docs, terms, k = 15))
        graft.ops.CacheRegistry.releaseAll()
      }
      build +: pair
    } finally {
      try { graft.sources.GridExports.deleteStore(spark, dir) }
      catch { case _: Throwable => }
    }
  }

  /** Sketch-cube percentile trade (Sketches.buildHistCube): persist the
    * day-grain histogram cube once (the amortized side, timed
    * separately), then A/B the event_type-grain p50/p95/p99 answered
    * from the kilobyte sketch rows against re-scanning raw events with
    * percentile_approx — the raw side re-pays the full scan on every
    * percentile question, the probe side never touches it. */
  def quantileCubeAB(spark: SparkSession, sfDir: String,
                     force: org.apache.spark.sql.DataFrame => Unit)
      : Seq[Timing] = {
    import org.apache.spark.sql.functions._
    import graft.ops.Sketches
    val dir = benchTmpDir("graft_bench_qcube")
    try {
      val ev = Tables.events(spark, sfDir)
        .filter(col("value").isNotNull)
        .withColumn("day", to_date(col("ts")))
      val build = timed2(spark, "quantile_cube_build") {
        Sketches.buildHistCube(ev, Seq("event_type", "day"), "value",
          0.0, 200.0, 256).write.mode("overwrite").parquet(dir)
      }
      val pair = timedAB(spark, "quantile_probe_sketch",
        "quantile_raw_scan") {
        force(Sketches.rollupQuantiles(spark.read.parquet(dir),
          Seq("event_type"), 0.0, 200.0,
          Seq("p50" -> 0.5, "p95" -> 0.95, "p99" -> 0.99)))
      } {
        force(ev.groupBy("event_type")
          .agg(percentile_approx(col("value"),
            array(lit(0.5), lit(0.95), lit(0.99)), lit(10000)).as("ps")))
      }
      build +: pair
    } finally {
      try { graft.sources.GridExports.deleteStore(spark, dir) }
      catch { case _: Throwable => }
    }
  }

  def gridMicrobench(spark: org.apache.spark.sql.SparkSession): Seq[Timing] = {
    import org.apache.spark.sql.functions._
    import graft.grid._
    import graft.functions.QaDecode
    // The tile store lives on tmpfs when available: the host's /tmp is a
    // shared disk whose noisy-neighbor I/O windows swing write benches
    // up to 10x run-to-run (r1: 443s vs r2: 106s for the SAME code).
    // tmpfs isolates the number we actually track — the engine's encode/
    // shuffle/parquet path — the way a cluster benchmark would pin I/O.
    val benchRoot = sys.env.get("SPARK_GRAFT_BENCH_DIR").orElse {
      val shm = java.nio.file.Paths.get("/dev/shm")
      if (java.nio.file.Files.isWritable(shm)) Some("/dev/shm") else None
    }
    val base = benchRoot match {
      case Some(r) => java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get(r), "graft_bench_tile").toString
      case None => java.nio.file.Files.createTempDirectory("graft_bench_tile").toString
    }
    val (ndviRoot, qaRoot) = (s"$base/ndvi", s"$base/qa")

    val nh = SyntheticGrid.modisTileHeader("tile_ndvi", "int16", -3000.0)
    val qh = SyntheticGrid.modisTileHeader("tile_qa", "uint16", 65535.0)
    // EVERY microbench takes the best of two runs, ingest included (the
    // write is mode=overwrite, so re-running leaves a valid store).
    val ingest = timed2(spark, "grid_tile_ingest_2bands") {
      SyntheticGrid.writeDirect(spark, nh, ndviRoot, SyntheticGrid.ndviScalar)
      SyntheticGrid.writeDirect(spark, qh, qaRoot, SyntheticGrid.qaScalar)
    }
    // A/B №6 — overview build at tile scale (level-1 mean pyramid of
    // the 4800x4800x4 NDVI tile, 92M px/band -> 23M): the chunk-LOCAL
    // reduce (blocks can't straddle even-dimension chunks -> one map
    // over payloads, zero shuffle) vs the generic pixel-explode
    // groupBy. The number users budget for enabling overview-backed
    // zoomed-out reads. This pair intermittently read ~200x its clean
    // cost (0.7 s/2.7 cpu-s clean vs 26 s/588 cpu-s, quiet probes,
    // sticky per JVM, position-independent); jstack sampling traced
    // the slow mode to per-tiny-task Hadoop-conf deserialization
    // convoying on the JVM-global Cleaner lock — fixed at the source
    // by coalescing the chunk scan before the map+write
    // (GridPyramid.downsampleOnceChunkLocal).
    val Seq(pyrLocal, pyrGeneric) = timedAB(spark,
      "grid_pyramid_L1_chunklocal_4800", "grid_pyramid_L1_generic_4800") {
      GridPyramid.downsampleOnceChunkLocal(spark, nh, ndviRoot,
        s"$base/pyr_l1a", "mean")
    } {
      GridPyramid.downsampleOnceGeneric(spark, nh, ndviRoot,
        s"$base/pyr_l1b", "mean")
    }
    // A/B №1 — window load (1600x1600x4 box, count+avg): exploded
    // posexplode pixel view vs fused BoxStats chunk fold.
    // Interleaved (timedAB) so both sides see the same noise windows.
    val Seq(windowExploded, windowFused) = timedAB(spark,
      "grid_window_load_exploded_1600x1600x4",
      "grid_window_load_fused_1600x1600x4") {
      FractionStore.loadSliceXY(spark, nh, ndviRoot, 1200, 2800, 900, 2500, 0, 4)
        .agg(count(col("value")), avg(col("value"))).collect()
    } {
      GridKernels.boxAgg(spark, nh, ndviRoot, 1200, 2800, 900, 2500, 0, 4)
        .collect()
    }
    // A/B №2 — store-wide QA confidence stats (92 Mpx): exploded pixel
    // view + codegen'd conf column vs fused QaConfStatsExpr fold.
    val Seq(qaExploded, qaFused) = timedAB(spark,
      "grid_qa_decode_exploded_92Mpx", "grid_qa_decode_fused_92Mpx") {
      FractionStore.pixels(qh, FractionStore.fractions(spark, qaRoot),
        maskNodata = false)
        .select(QaDecode.modisQaConf(col("value")).as("conf"))
        .agg(sum(col("conf")), count(lit(1))).collect()
    } {
      GridKernels.qaConfStats(spark, qaRoot).collect()
    }
    // Patch extraction at tile scale: 256 32x32x4 training patches cut
    // from the 4800x4800 tile in ONE job (the grid -> ML bridge; the
    // alternative — 256 loadSliceXY jobs — is the driver-loop shape the
    // operator exists to avoid).
    val patches256 = timed2(spark, "grid_patch_extract_256x32x32") {
      val ps = spark.range(256).select(
        col("id").as("patch_id"),
        ((col("id") * 293) % 4768).cast("int").as("px0"),
        ((col("id") * 181) % 4768).cast("int").as("py0"))
      graft.grid.GridPatches.extractPatches(spark, nh, ndviRoot, ps,
          pw = 32, ph = 32, tFrom = 0, tTo = 4, maskNodata = false)
        .agg(count(col("value")), sum(col("value").cast("double")))
        .collect()
    }
    // Bilinear warp of the sinusoidal tile onto a 500x500 wgs84 lattice
    // (J3's interpolating path), exploded join vs fused chunk-gather:
    // the exploded side pays the source window's pixel explode + a
    // 1M-row equi-join; the gather side shuffles 24-byte tap structs
    // and random-accesses the decoded payload per tap.
    val Seq(bilinearWarp, bilinearGather) = {
      val (latMin, lngMin) = nh.xyToLatLng(0, nh.height)
      val (latMax, lngMax) = nh.xyToLatLng(nh.width, 0)
      val dst = nh.copy(name = "bench_wgs84_bl", width = 500, height = 500,
        fracWidth = 250, fracHeight = 250, srs = "wgs84",
        geot = Seq(lngMin, (lngMax - lngMin) / 496.7, 0.0,
          latMax, 0.0, -(latMax - latMin) / 497.3))
      timedAB(spark, "grid_reproject_bilinear_exploded_500x500",
        "grid_reproject_bilinear_gather_500x500") {
        Reproject.bilinear(spark, nh, ndviRoot, dst, 0, 500, 0, 500)
          .agg(count(col("value")), sum(col("value"))).collect()
      } {
        Reproject.bilinearGather(spark, nh, ndviRoot, dst, 0, 500, 0, 500)
          .agg(count(col("value")), sum(col("value"))).collect()
      }
    }
    val multiJoin = timed2(spark, "grid_multigrid_masked_mean_1000x1000") {
      // chunk-aligned join: shuffles ~100 chunk rows, not 8M pixel rows
      GridKernels.maskedMeanByT(spark, (nh, ndviRoot), (qh, qaRoot),
        1000, 2000, 1000, 2000, 0, 4).collect()
    }
    // A/B №3 — the sinusoidal lat/lng pruning rule (plans/LatLngPruning,
    // the Catalyst form of the reference's fracs_for_rect_xy,
    // jgrid3.py:470-489): the same lat+lng box aggregate over the full
    // MODIS tile with and without the rule applied. The tile is
    // sinusoidal (lat ~[0°,10°], lng·cosφ ~[10°,20°]); the box covers
    // ~2°x2°, so the rule's frac_x+frac_y hull should cut the scanned
    // fraction set by an order of magnitude. Rule applied post-analysis
    // exactly as the GraftExtensions injection point does.
    def latLngBox = graft.plans.LatLngPruning
      .withGeoColumns(nh, FractionStore.fractions(spark, ndviRoot))
      .filter(col("lat").between(2.0, 4.0) && col("lng").between(13.0, 15.0)
        && col("t") === 0)
      .agg(count(col("value")), avg(col("value")))
    val Seq(boxUnpruned, boxPruned) = timedAB(spark,
      "grid_latlng_box_unpruned", "grid_latlng_box_pruned") {
      latLngBox.collect()
    } {
      org.apache.spark.sql.GraftColumnBridge.ofRows(spark,
        graft.plans.LatLngPruning.Rule(latLngBox.queryExecution.analyzed))
        .collect()
    }
    // A/B №7 — tile-scale trend map: per-pixel OLS slope over a
    // 1600x1600x4 window (10M observations -> 2.5M pixel fits). The
    // exploded side is the relational groupBy(x, y) partial agg (one
    // shuffle of the sliced box — r07 recorded it at 29s wall, the
    // single most expensive real entry); the fused side folds each
    // pixel's whole series inside its chunk payload (fracNDates covers
    // the range), so the trend map is a map-side generate with ZERO
    // shuffle. Result equality pinned by PayloadKernelsSpec.
    val Seq(trend, trendFused) = timedAB(spark,
      "grid_trend_slope_1600x1600", "grid_trend_fused_1600x1600") {
      GridTimeSeries.trendSlope(
        FractionStore.loadSliceXY(spark, nh, ndviRoot,
          1200, 2800, 900, 2500, 0, 4))
        .agg(count(lit(1)), sum(col("slope"))).collect()
    } {
      GridKernels.trendSlopeByPixel(spark, nh, ndviRoot,
          1200, 2800, 900, 2500, 0, 4)
        .agg(count(lit(1)), sum(col("slope"))).collect()
    }
    // A/B №5 — focal 3x3 stats (grid/GridFocal): chunk-level halo
    // exchange vs the declarative offset-explode self-join, on a
    // 1600x1600x2 int16 grid (16 chunks of 400x400; 5.1M windows).
    // The naive side shuffles every pixel 9x (46M contribution rows);
    // the halo side shuffles 16 packed chunks + perimeter strips —
    // the recorded evidence for the halo design's shuffle claim.
    val fh = SyntheticGrid.modisTileHeader("tile_focal", "int16", -3000.0)
      .copy(width = 1600, height = 1600, fracNDates = 2,
        timestampsMs = SyntheticGrid
          .modisTileHeader("t", "int16", -3000.0).timestampsMs.take(2))
    val focalRoot = s"$base/focal"
    SyntheticGrid.writeDirect(spark, fh, focalRoot, SyntheticGrid.ndviScalar)
    val Seq(focalHalo, focalNaive) = timedAB(spark,
      "grid_focal_halo_1600x1600x2", "grid_focal_naive_1600x1600x2") {
      GridFocal.focalStats(spark, fh, focalRoot, radius = 1, 0, 2)
        .agg(count(col("mean_nbr")), sum(col("mean_nbr")),
          sum(col("n_valid"))).collect()
    } {
      GridFocal.focalStatsNaive(spark, fh, focalRoot, radius = 1, 0, 2)
        .agg(count(col("mean_nbr")), sum(col("mean_nbr")),
          sum(col("n_valid"))).collect()
    }
    // round-8: Horn terrain over the same 1600x1600x2 grid — the
    // halo-exchange stencil with the trig product chain; tracks that
    // the terrain pass stays within ~2x of plain focal stats (same
    // shuffle, heavier per-pixel math).
    val terrain = timed2(spark, "grid_terrain_1600x1600x2") {
      GridFocal.focalTerrain(spark, fh, focalRoot, 0, 2)
        .agg(count(lit(1)), sum(col("slope_deg")),
          sum(col("hillshade"))).collect()
    }
    // A/B №9 — CUSUM detection over a 1600x1600x4 slice of the NDVI
    // tile (baseline 2 dates, monitor 2): the windowed closed form
    // (pixel explode + one pixel-keyed exchange + window frames;
    // recorded ~40 cpu-s at this size) vs the fused chunk kernel
    // (map-side generate, zero shuffle). Equality pinned by
    // PayloadKernelsSpec.
    val Seq(cusum, cusumFused) = timedAB(spark,
      "grid_cusum_1600x1600x4", "grid_cusum_fused_1600x1600x4") {
      GridTimeSeries.cusumDetect(
        FractionStore.loadSliceXY(spark, nh, ndviRoot,
          1200, 2800, 900, 2500, 0, 4),
        trainT = 2, slack = 0.0, threshold = 50.0)
        .agg(count(lit(1)), sum(col("cusum")), sum(col("alarm"))).collect()
    } {
      GridKernels.cusumByPixel(spark, nh, ndviRoot,
        1200, 2800, 900, 2500, 0, 4, trainT = 2, slack = 0.0,
        threshold = 50.0)
        .agg(count(lit(1)), sum(col("cusum")), sum(col("alarm"))).collect()
    }
    // round-8: the full alerting chain at box scale — fused CUSUM
    // alarms (t=3) -> 4-connected patch labeling -> patch summary.
    // Tracks the end-to-end "pixels to publishable alert patches" cost:
    // labeling shuffles pixels once (chunk-local union-find), border
    // joins move perimeter slivers, the root map broadcasts.
    val labelChain = timed2(spark, "grid_alarm_patches_1600x1600") {
      val alarms = GridKernels.cusumByPixel(spark, nh, ndviRoot,
          1200, 2800, 900, 2500, 0, 4, trainT = 2, slack = 0.0,
          threshold = 50.0)
        .filter(col("alarm") === 1 && col("t") === 3)
        .select(col("x"), col("y"))
      GridLabeling.labelPatches(spark, nh, alarms)
        .agg(count(lit(1)), countDistinct(col("patch_id"))).collect()
    }
    try { graft.sources.GridExports.deleteStore(spark, base) }
    catch { case _: Throwable => }
    Seq(ingest, windowExploded, windowFused, qaExploded, qaFused, patches256,
      bilinearWarp, bilinearGather, multiJoin, boxUnpruned, boxPruned,
      trend, trendFused,
      focalHalo, focalNaive, terrain, cusum, cusumFused, labelChain, pyrLocal,
      pyrGeneric)
  }
}
