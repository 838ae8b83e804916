package graftbench

/** Per-layer metrics of a traced run, from the spans of its traced
  * units; a layer called only while setting up (the worldgrid build
  * both workloads start from) reports its set-up spans. A layer the
  * workload does not call reports 0. Names and units are listed in
  * BENCHMARK.json's `per_layer`. */
object Layers {

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0 else Stats.median(xs)
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0 else xs.sum / xs.length
  private def ratio(a: Double, b: Double): Double = if (b == 0) 0 else a / b

  def metrics(tr: Tracer, units: Seq[Work], newPxPerAppend: Double,
              zonalTested: Double, zonalInside: Double): Seq[(String, Double)] = {
    val spans = tr.spans.toSeq
    val top = spans.filter(_.parent < 0)
    val timed = top.filter(_.unit >= 0)
    def layer(l: String) = {
      val inUnits = timed.filter(_.layer == l)
      if (inUnits.nonEmpty) inUnits else top.filter(_.layer == l)
    }
    def counts(ss: Seq[Span]) = ss.map(tr.rolledUp)
    def child(s: Span, name: String) = spans.filter(c => c.parent == s.id && c.name == name)
    def execMs(ss: Seq[Span]) = med(ss.flatMap(child(_, "execute")).map(_.ms))
    def kind(k: String) = timed.filter(_.name == k)

    val ingest = layer("sources"); val ic = counts(ingest)
    val queries = timed.filter(s => s.queryId >= 0)
    // reprojection reads a generated target lattice whose rows count as
    // input records, so its chunk reads are not separable here
    val storeQ = queries.filter(s => s.layer != "latlng" && s.layer != "reproject")
    val sc = counts(storeQ)
    val kernels = layer("kernels"); val kc = counts(kernels)
    val ts = layer("timeseries"); val tc = counts(ts)
    val zonal = layer("zonal")
    val latlng = layer("latlng"); val lc = counts(latlng)
    val rep = layer("reproject"); val rc = counts(rep)
    val app = layer("append"); val ac = counts(app)
    val pipe = layer("pipeline"); val pc = counts(pipe)
    val all = counts(timed)
    val traced = units.filter(_.traced)
    val plain = units.filterNot(_.traced)
    val nUnits = math.max(1, traced.length).toDouble
    val extra = (ss: Seq[Span], k: String) => ss.map(_.extra.getOrElse(k, 0.0)).sum

    Seq(
      "sources.ingest.s" -> med(ingest.map(_.ms / 1e3)),
      "sources.ingest.cpu_s" -> mean(ic.map(_.cpuNs / 1e9)),
      "sources.ingest.input_bytes" -> mean(ic.map(_.inputBytes.toDouble)),
      "sources.ingest.shuffle_write_bytes" -> mean(ic.map(_.shuffleWriteBytes.toDouble)),
      "sources.ingest.output_bytes" -> mean(ic.map(_.outputBytes.toDouble)),
      "sources.ingest.spill_bytes" -> mean(ic.map(_.spillBytes.toDouble)),
      "store.plan_ms" -> med(queries.flatMap(child(_, "plan")).map(_.ms)),
      "store.scan_records" -> mean(sc.map(_.inputRecords.toDouble)),
      "store.scan_bytes" -> mean(sc.map(_.inputBytes.toDouble)),
      "store.read_per_needed_chunks" ->
        ratio(sc.map(_.inputRecords.toDouble).sum, extra(storeQ, "needed_chunks")),
      "kernels.exec_ms.box_stats" -> execMs(kind("box_stats")),
      "kernels.exec_ms.qa_masked_mean" -> execMs(kind("qa_masked_mean")),
      "kernels.exec_ms.trend_map" -> execMs(kind("trend_map")),
      "kernels.exec_ms.cusum_alarms" -> execMs(kind("cusum_alarms")),
      "kernels.cpu_s" -> mean(kc.map(_.cpuNs / 1e9)),
      "timeseries.exec_ms" -> execMs(ts),
      "timeseries.shuffle_bytes" -> mean(tc.map(_.shuffleWriteBytes.toDouble)),
      "zonal.exec_ms" -> execMs(zonal),
      "zonal.px_tested_per_px_inside" -> ratio(zonalTested, zonalInside),
      "latlng.exec_ms" -> execMs(latlng),
      "latlng.read_per_needed_chunks" ->
        ratio(lc.map(_.inputRecords.toDouble).sum, extra(latlng, "needed_chunks")),
      "reproject.exec_ms" -> execMs(rep),
      "reproject.shuffle_bytes" -> mean(rc.map(_.shuffleWriteBytes.toDouble)),
      "append.s" -> med(app.map(_.ms / 1e3)),
      "append.cpu_s" -> mean(ac.map(_.cpuNs / 1e9)),
      "append.shuffle_records" -> mean(ac.map(_.shuffleWriteRecords.toDouble)),
      "append.shuffle_write_bytes" -> mean(ac.map(_.shuffleWriteBytes.toDouble)),
      "append.output_bytes" -> mean(ac.map(_.outputBytes.toDouble)),
      "append.rewritten_per_new_px" ->
        ratio(mean(ac.map(_.shuffleWriteRecords.toDouble)), newPxPerAppend),
      "pipeline.s" -> med(pipe.map(_.ms / 1e3)),
      "pipeline.cpu_s" -> mean(pc.map(_.cpuNs / 1e9)),
      "pipeline.jobs" -> mean(pc.map(_.jobs.toDouble)),
      "pipeline.chunks_computed" -> mean(pipe.map(_.extra.getOrElse("chunks_computed", 0.0))),
      "pipeline.recompute_ratio" ->
        ratio(extra(pipe, "chunks_computed"), extra(pipe, "chunks_new")),
      "pipeline.shuffle_write_bytes" -> mean(pc.map(_.shuffleWriteBytes.toDouble)),
      "spark.jobs" -> all.map(_.jobs).sum / nUnits,
      "spark.tasks" -> all.map(_.tasks).sum / nUnits,
      "spark.task_skew" -> (if (all.isEmpty) 0 else all.map(_.worstSkew).max),
      "spark.spill_bytes" -> all.map(_.spillBytes).sum / nUnits,
      "jvm.gc_s" -> traced.map(_.gcS).sum / nUnits,
      "trace.overhead_s" ->
        (if (traced.isEmpty || plain.isEmpty) 0
         else med(traced.map(_.wallS)) - med(plain.map(_.wallS))))
  }
}
