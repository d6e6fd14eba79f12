package perfbench

/** Per-layer metrics of a traced run. Every name is emitted on every
  * workload (0 where the workload does not exercise the layer). Counts,
  * bytes and self times are per unit of work of the traced half; `_p50`
  * values are medians over that layer's own events. */
object Layers {

  /** (name, unit), in the order printed and listed in BENCHMARK.json. */
  val Names: Seq[(String, String)] = Seq(
    "pipeline.trigger_overhead_ms" -> "ms",
    "pipeline.planning_ms" -> "ms",
    "pipeline.offset_log_ms" -> "ms",
    "pipeline.self_ms" -> "ms",
    "merge.epoch_ms_p50" -> "ms",
    "merge.driver_ms_p50" -> "ms",
    "merge.jobs_per_epoch" -> "count",
    "merge.tasks_per_epoch" -> "count",
    "merge.shuffle_write_bytes" -> "bytes",
    "merge.output_bytes" -> "bytes",
    "merge.busy_share" -> "ratio",
    "merge.rows_in" -> "count",
    "merge.rows_applied" -> "count",
    "merge.self_ms" -> "ms",
    "compact.count" -> "count",
    "compact.ms" -> "ms",
    "compact.bytes_rewritten" -> "bytes",
    "compact.write_amp" -> "ratio",
    "compact.self_ms" -> "ms",
    "lake.jobs_per_read" -> "count",
    "lake.listing_tasks" -> "count",
    "lake.snapshot_files" -> "count",
    "lake.self_ms" -> "ms",
    "source.batches" -> "count",
    "source.plan_ms" -> "ms",
    "source.useful_ratio" -> "ratio",
    "source.self_ms" -> "ms",
    "aggview.refresh_ms_p50" -> "ms",
    "aggview.rounds_incremental" -> "count",
    "aggview.rounds_full" -> "count",
    "aggview.keys_touched" -> "count",
    "aggview.self_ms" -> "ms",
    "spark.gc_ms" -> "ms",
    "spark.shuffle_bytes" -> "bytes",
    "spark.scaling_efficiency" -> "ratio",
    "jvm.heap_after_gc_mb" -> "MB",
    "trace.overhead_ratio" -> "ratio",
    "trace.spans" -> "count")

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  def compute(t: Trace, cores: Int, units: Int, gcMs: Long, heapMb: Double,
      overhead: Double): Seq[(String, Double, String)] = {
    val u = math.max(1, units).toDouble
    val spans = t.spansWithListeners()
    val jobs = t.jobs.values.toSeq
    def jobsIn(s: Double, e: Double) = jobs.filter(j => j.startMs >= s - 1 && j.startMs <= e + 1)
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    // pipeline: ingest triggers that carried data
    val ingest = t.triggers.filter(x => x.query != Trace.MirrorQuery && x.inputRows > 0).toSeq
    m("pipeline.trigger_overhead_ms") = med(ingest.map(x => (x.d("triggerExecution") - x.d("addBatch")).toDouble))
    m("pipeline.planning_ms") = med(ingest.map(_.d("queryPlanning").toDouble))
    m("pipeline.offset_log_ms") = med(ingest.map(x => (x.d("walCommit") + x.d("commitOffsets")).toDouble))

    // merge: every recorded merge call inside the traced window
    val window = spans.filter(_.layer == "merge")
    val merges = t.merges.filter(r => window.exists(s => s.startMs == r.startMs)).toSeq
    val perEpoch = merges.map(r => (r, jobsIn(r.startMs, r.endMs)))
    m("merge.epoch_ms_p50") = med(merges.map(_.durMs))
    m("merge.driver_ms_p50") = med(perEpoch.map { case (r, js) =>
      r.durMs - Stats.covered(js.map(j => ((j.startMs * 1000).toLong,
        (math.min(j.endMs, r.endMs) * 1000).toLong))) / 1000.0
    })
    m("merge.jobs_per_epoch") = med(perEpoch.map(_._2.size.toDouble))
    m("merge.tasks_per_epoch") = med(perEpoch.map(_._2.map(_.tasks).sum.toDouble))
    val n = math.max(1, merges.size).toDouble
    m("merge.shuffle_write_bytes") = perEpoch.map(_._2.map(_.shuffleWriteBytes).sum).sum / n
    m("merge.output_bytes") = perEpoch.map(_._2.map(_.outputBytes).sum).sum / n
    val spanMs = merges.map(_.durMs).sum
    m("merge.busy_share") =
      if (spanMs <= 0) 0.0 else perEpoch.map(_._2.map(_.runMs).sum).sum / (spanMs * cores)
    m("merge.rows_in") = merges.map(_.rowsIn).sum / n
    m("merge.rows_applied") = merges.map(_.rowsApplied).sum / n

    // compact: the benchmark's explicit folds (timed, with their jobs),
    // plus the inline folds a merge ran, counted from the lineage
    val folds = spans.filter(_.layer == "compact")
    val foldJobs = folds.flatMap(f => jobsIn(f.startMs, f.endMs))
    m("compact.count") = folds.size / u + t.facts.getOrElse("compact.inline", 0.0)
    m("compact.ms") = folds.map(_.durMs).sum / u
    m("compact.bytes_rewritten") = foldJobs.map(_.outputBytes).sum / u
    val feedBytes = t.facts.getOrElse("feed_bytes", 0.0)
    val written = jobs.map(_.outputBytes).sum.toDouble
    m("compact.write_amp") = if (feedBytes <= 0) 0.0 else written / feedBytes

    // lake: the benchmark's own read/readConv wrappers
    val reads = spans.filter(_.layer == "lake")
    m("lake.jobs_per_read") = med(reads.map(s => jobsIn(s.startMs, s.endMs).size.toDouble))
    m("lake.listing_tasks") = jobs.filter(_.listing).map(_.tasks).sum / u
    m("lake.snapshot_files") = t.facts.getOrElse("lake.snapshot_files", 0.0)

    // source: the graft-table mirror query
    val mirror = t.triggers.filter(_.query == Trace.MirrorQuery).toSeq
    val mirrorMerges = merges.filter(_.query == "mirror")
    m("source.batches") = mirror.count(_.inputRows > 0) / u
    m("source.plan_ms") = med(mirror.map(x => (x.d("latestOffset") + x.d("getBatch")).toDouble))
    val delivered = mirrorMerges.map(_.rowsIn).sum
    m("source.useful_ratio") =
      if (delivered == 0) 0.0 else mirrorMerges.map(_.rowsApplied).sum.toDouble / delivered

    m("aggview.refresh_ms_p50") = med(spans.filter(_.layer == "aggview").map(_.durMs))
    Seq("aggview.rounds_incremental", "aggview.rounds_full", "aggview.keys_touched")
      .foreach(k => m(k) = t.facts.getOrElse(k, 0.0))

    val self = Trace.selfMs(spans)
    Seq("pipeline", "merge", "compact", "lake", "source", "aggview").foreach { l =>
      m(s"$l.self_ms") = self.getOrElse(l, 0.0) / u
    }

    m("spark.gc_ms") = gcMs / u
    m("spark.shuffle_bytes") = jobs.map(_.shuffleWriteBytes).sum / u
    m("spark.scaling_efficiency") = t.facts.getOrElse("spark.scaling_efficiency", 0.0)
    m("jvm.heap_after_gc_mb") = heapMb
    m("trace.overhead_ratio") = overhead
    m("trace.spans") = spans.size.toDouble

    Names.map { case (name, unit) => (name, m(name), unit) }
  }
}
