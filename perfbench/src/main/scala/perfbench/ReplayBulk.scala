package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.cdc.{CdcPipeline, MergeApply, PipelineConfig}
import graft.gen.ChangeLogGen
import graft.lake.LakeTable

/** `replay_bulk`: a bounded AvailableNow replay of a seeded, out-of-order,
  * 2%-duplicated, 5%-hot feed in a few large epochs into a fresh MoR
  * table, then a fold of every delta bucket to read-optimized. One unit =
  * one replay plus fold. Set-up generates the feed and primes the engine
  * with one unreported replay of it. */
final class ReplayBulk(o: Opts, var spark: SparkSession, trace: Trace)
    extends Workload(o, trace) {
  private val events = if (o.toy) 4000L else 60000L
  private val batches = 2
  private val filesPerBatch = if (o.toy) 2 else 4
  private val buckets = if (o.toy) 8 else 16
  private val cfg = genConfig(events)

  def config: Seq[(String, Any)] = Seq("events" -> events,
    "batches" -> batches, "files_per_batch" -> filesPerBatch,
    "buckets" -> buckets, "trigger" -> "AvailableNow",
    "hot_fraction" -> cfg.hotFraction, "dup_fraction" -> cfg.dupFraction)

  private var feed = ""
  private var feedBytes = 0L
  private var run = 0
  private var lastTable: Option[LakeTable] = None
  private val applied = mutable.ArrayBuffer.empty[Double] // s to last commit
  private val finals = mutable.ArrayBuffer.empty[Double]  // s incl. fold
  private val epochMs = mutable.ArrayBuffer.empty[Double]
  private var epochs = 0L
  private var scaling: Option[Double] = None

  /** Generate the feed, then prime the engine with one replay + fold of
    * it (table discarded): JIT compilation is paid here, and shows in
    * `setup_s`, instead of inside the window. */
  def setup(rep: Int): Unit = {
    if (feed.nonEmpty) delete(feed)
    feed = path(s"feed-$rep")
    ChangeLogGen.writeBatches(spark, cfg, feed, batches, filesPerBatch)
    feedBytes = dirBytes(feed)
    replay(record = false)
  }

  /** One replay + fold into a fresh table: (applied s, final s). */
  private def replay(record: Boolean): (Double, Double) = {
    run += 1
    val dir = path(s"table-$run")
    val table = newTable(dir, buckets)
    val n0 = trace.merges.size
    val t0 = System.nanoTime()
    CdcPipeline.replayAvailable(spark, feed, table, hooked(
      PipelineConfig(checkpointDir = path(s"ckpt-$run"),
        maxFilesPerTrigger = filesPerBatch), "ingest"))
    val tApplied = (System.nanoTime() - t0) / 1e9
    trace.span("compact", "final fold") {
      val deltas = table.snapshot.files.filter(_.kind == "delta")
        .map(_.bucket).toSet
      if (deltas.nonEmpty) MergeApply.compactBuckets(table, deltas)
    }
    val tFinal = (System.nanoTime() - t0) / 1e9
    val ms = trace.merges.drop(n0).map(_.durMs)
    epochs += ms.size
    if (record) {
      applied += tApplied; finals += tFinal; epochMs ++= ms
      onUnit()
    }
    lastTable.foreach { t => delete(t.dir); delete(path(s"ckpt-${run - 1}")) }
    lastTable = Some(table)
    (tApplied, tFinal)
  }

  def warmup(): Unit = ()

  def measure(untilMs: Double): Unit = {
    replay(record = true)
    while (Clock.nowMs < untilMs) replay(record = true)
  }

  private lazy val oracle = ChangeLogGen.oracleFinalState(cfg)

  def check(): Seq[String] =
    lastTable.flatMap(t => stateMismatch("replay_bulk final state", t, oracle)).toSeq

  def attempted: Long = epochs
  def unitSamples: Seq[Double] = finals.toSeq

  def endToEnd: Seq[(String, Seq[Double], String)] = Seq(
    ("unit_s", finals.toSeq, "s"),
    ("latency_p50_ms", epochMs.toSeq, "ms"),
    ("throughput_per_s", applied.map(events / _).toSeq, "1/s"))

  def detail: Seq[(String, Any)] = Seq(
    "replays" -> finals.size,
    "events_per_s" -> Stats.median(applied.map(events / _).toSeq),
    "final_events_per_s" -> Stats.median(finals.map(events / _).toSeq),
    "feed_bytes" -> feedBytes) ++ scaling.map("scaling_efficiency" -> _)

  override def layerFacts(units: Int): Unit = lastTable.foreach { t =>
    val snap = t.snapshot
    trace.facts("lake.snapshot_files") = snap.files.size
    trace.facts("feed_bytes") = feedBytes.toDouble * units
    // folds a merge ran inline: compaction commits beyond the final fold
    trace.facts("compact.inline") = snap.lineage.count(_.epochId == -1) - 1.0
  }

  /** Scaling evidence: the same feed replayed on one core, in a fresh
    * session; efficiency = final rate at N cores / (N x the 1-core rate). */
  override def afterTrace(): Unit = {
    spark.stop()
    spark = Main.session(1, o.dir)
    val (_, tFinal) = replay(record = false)
    stateMismatch("replay_bulk local[1] final state", lastTable.get, oracle)
      .foreach { m => System.err.println(s"[perfbench] MISMATCH $m"); extraFailures += 1 }
    val rateN = Stats.median(finals.map(events / _).toSeq)
    val eff = rateN / (Main.Cores * (events / tFinal))
    scaling = Some(eff)
    trace.facts("spark.scaling_efficiency") = eff
  }
}
