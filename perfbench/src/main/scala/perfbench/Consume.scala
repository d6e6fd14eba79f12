package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.cdc.{AggView, CdcPipeline, MergeApply, PipelineConfig}
import graft.gen.ChangeLogGen
import graft.lake.LakeTable
import graft.model.TranscriptRow

/** `consume`: the read side. Set-up replays a feed into a source table
  * with many commits; one unit is one consumer pass over it: a
  * `graft-table` stream mirror into a fresh table, AggView refresh cuts
  * into a fresh view, a single-client closed loop of `readConv` point
  * reads, and full `read()`s consumed with `xxhash64` + `bit_xor`. */
final class Consume(o: Opts, var spark: SparkSession, trace: Trace)
    extends Workload(o, trace) {
  private val events = if (o.toy) 4000L else 16000L
  private val batches = 4
  private val buckets = 8
  private val mirrorBuckets = 4
  private val cuts = 2
  private val pointReads = if (o.toy) 5 else 10
  private val scans = 3
  private val cfg = genConfig(events)

  def config: Seq[(String, Any)] = Seq("events" -> events,
    "batches" -> batches, "buckets" -> buckets,
    "mirror_buckets" -> mirrorBuckets, "aggview_cuts" -> cuts,
    "point_reads_per_pass" -> pointReads, "scans_per_pass" -> scans,
    "trigger" -> "AvailableNow")

  private var source: LakeTable = _
  private var pass = 0
  private val passS = mutable.ArrayBuffer.empty[Double]
  private val mirrorS = mutable.ArrayBuffer.empty[Double]
  private val aggS = mutable.ArrayBuffer.empty[Double]
  private val readMs = mutable.ArrayBuffer.empty[Double]
  private val scanS = mutable.ArrayBuffer.empty[Double]
  private var ops = 0L
  private val refreshes = mutable.ArrayBuffer.empty[(String, Long)] // mode, keys
  // the last pass's outputs, checked after the window
  private var mirror: LakeTable = _
  private var view: LakeTable = _
  private var reads: Seq[(String, Seq[Row])] = Nil
  private var scanHashes: Seq[Long] = Nil
  private val rng = new scala.util.Random(o.seed)

  def setup(rep: Int): Unit = {
    if (source != null) { delete(source.dir); delete(path(s"feed-${rep - 1}")) }
    val feed = path(s"feed-$rep")
    ChangeLogGen.writeBatches(spark, cfg, feed, batches, 1)
    source = newTable(path(s"source-$rep"), buckets)
    CdcPipeline.replayAvailable(spark, feed, source,
      PipelineConfig(checkpointDir = path(s"source-ckpt-$rep"),
        maxFilesPerTrigger = 1))
  }

  private val lenCol = length(col("text"))
  private def refreshCut(v: LakeTable, asOf: Long) =
    AggView.refresh(source, v, sums = Seq("n_chars" -> lenCol),
      mins = Seq("min_len" -> lenCol), maxs = Seq("max_len" -> lenCol),
      avgs = Seq("avg_len" -> lenCol), nBuckets = mirrorBuckets,
      asOf = Some(asOf))

  private def onePass(record: Boolean): Unit = {
    pass += 1
    Seq(mirror, view).filter(_ != null).foreach(t => delete(t.dir))
    delete(path(s"mirror-ckpt-${pass - 1}"))
    val t0 = System.nanoTime()

    // (1) stream mirror through the graft-table source
    val down = newTable(path(s"mirror-$pass"), mirrorBuckets)
    val tm = System.nanoTime()
    val q = spark.readStream.format("graft-table")
      .option("path", source.dir).load()
      .writeStream.queryName(Trace.MirrorQuery)
      .option("checkpointLocation", path(s"mirror-ckpt-$pass"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, e: Long) =>
        val s = Clock.nowMs
        val r = MergeApply.merge(down, b, e)
        trace.recordMerge(MergeRec("mirror", s, Clock.nowMs, r.rowsInBatch,
          r.rowsApplied))
        ops += 1
      }.start()
    try q.awaitTermination() finally if (q.isActive) q.stop()
    val mirrorT = (System.nanoTime() - tm) / 1e9

    // (2) AggView refresh cuts across the source's history
    val v = LakeTable.load(spark, path(s"view-$pass"))
    val vMax = source.snapshot.version
    val ta = System.nanoTime()
    (1 to cuts).map(i => vMax * i / cuts).distinct.filter(_ >= 1).foreach { c =>
      val r = trace.span("aggview", s"refresh @$c")(refreshCut(v, c))
      ops += 1
      if (record) refreshes += (r.mode -> r.keysTouched)
    }
    val aggT = (System.nanoTime() - ta) / 1e9

    // (3) closed-loop point reads on seeded conversation ids
    val got = (1 to pointReads).map { _ =>
      val conv = f"conv_${1L + rng.nextLong(cfg.nConvs - 1)}%010d"
      val tr = System.nanoTime()
      val rows = trace.span("lake", s"readConv $conv")(
        source.readConv(conv).collect().toSeq)
      if (record) readMs += ms(tr)
      ops += 1
      conv -> rows
    }

    // (4) full reads, every row hashed
    val hashes = (1 to scans).map { _ =>
      val ts = System.nanoTime()
      val h = trace.span("lake", "read")(hashAll(source.read()))
      if (record) scanS += (System.nanoTime() - ts) / 1e9
      ops += 1
      h
    }

    if (record) {
      passS += (System.nanoTime() - t0) / 1e9
      mirrorS += mirrorT; aggS += aggT
      onUnit()
    }
    mirror = down; view = v; reads = got; scanHashes = hashes
  }

  /** Order-independent hash of every row. */
  private def hashAll(df: DataFrame): Long =
    df.select(bit_xor(xxhash64(df.columns.toSeq.map(col): _*))).head().getLong(0)

  def warmup(): Unit = onePass(record = false)

  def measure(untilMs: Double): Unit = {
    onePass(record = true)
    while (Clock.nowMs < untilMs) onePass(record = true)
  }

  private lazy val oracle = ChangeLogGen.oracleFinalState(cfg)

  def check(): Seq[String] = {
    val s = spark
    import s.implicits._
    val out = mutable.ArrayBuffer.empty[String]
    stateMismatch("consume source table", source, oracle).foreach(out += _)
    stateMismatch("consume stream mirror", mirror, oracle).foreach(out += _)
    // the view against the oracle's aggregate, as ReplayMain checks it
    val want = oracle.groupBy(_.conv_id).map { case (c, rs) =>
      val nn = rs.flatMap(r => Option(r.text).map(_.length))
      (c, rs.size.toLong, nn.map(_.toLong).sum,
        nn.minOption.getOrElse(-1), nn.maxOption.getOrElse(-1),
        nn.map(_.toLong).sum, nn.size.toLong,
        if (nn.isEmpty) -1.0 else nn.map(_.toLong).sum.toDouble / nn.size)
    }.toSet
    val gotView = view.read().select("conv_id", "n_turns", "n_chars",
      "min_len", "max_len", "avg_len_sum", "avg_len_cnt", "avg_len")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1 else r.getInt(3),
        if (r.isNullAt(4)) -1 else r.getInt(4),
        r.getLong(5), r.getLong(6),
        if (r.isNullAt(7)) -1.0 else r.getDouble(7))).toSet
    if (gotView != want)
      out += s"consume aggview: ${gotView.size} keys, oracle ${want.size}, " +
        s"${(gotView diff want).size} differ"
    // point reads against the oracle's rows for the same conversation
    val byConv = oracle.groupBy(_.conv_id)
    reads.foreach { case (conv, rows) =>
      val got = rows.map(r => TranscriptRow(r.getAs[String]("conv_id"),
        r.getAs[Int]("turn_idx"), r.getAs[String]("role"),
        r.getAs[String]("text"), r.getAs[String]("tool"),
        r.getAs[java.sql.Timestamp]("ts"))).sortBy(_.turn_idx)
      if (got != byConv.getOrElse(conv, Nil).sortBy(_.turn_idx))
        out += s"consume readConv($conv): ${got.size} rows differ from oracle"
    }
    // the scan's hash against the same hash over the oracle rows
    val wantHash = hashAll(oracle.toDS().toDF())
    if (scanHashes.exists(_ != wantHash))
      out += "consume full read: hash differs from oracle"
    out.toSeq
  }

  def attempted: Long = ops
  def unitSamples: Seq[Double] = passS.toSeq

  def endToEnd: Seq[(String, Seq[Double], String)] = Seq(
    ("unit_s", passS.toSeq, "s"),
    ("latency_p50_ms", readMs.toSeq, "ms"),
    ("throughput_per_s", scanS.map(oracle.size / _).toSeq, "1/s"))

  def detail: Seq[(String, Any)] = Seq("passes" -> passS.size,
    "mirror_s" -> Stats.median(mirrorS.toSeq),
    "aggview_s" -> Stats.median(aggS.toSeq),
    "point_read_p50_ms" -> Stats.median(readMs.toSeq),
    "point_read_p95_ms" -> Stats.percentile(readMs.toSeq, 0.95),
    "scan_s" -> Stats.median(scanS.toSeq))

  override def layerFacts(units: Int): Unit = {
    val snap = source.snapshot
    trace.facts("lake.snapshot_files") = snap.files.size
    trace.facts("feed_bytes") = dirBytes(s"${source.dir}/data").toDouble * units
    // folds the mirror and view merges ran inline (compaction commits)
    trace.facts("compact.inline") = Seq(mirror, view)
      .map(_.snapshot.lineage.count(_.epochId == -1)).sum.toDouble
    val recent = refreshes.takeRight(units * cuts)
    trace.facts("aggview.rounds_incremental") =
      recent.count(_._1 == "incremental").toDouble / units
    trace.facts("aggview.rounds_full") = recent.count(_._1 == "full").toDouble / units
    trace.facts("aggview.keys_touched") = recent.map(_._2).sum.toDouble / units
  }
}
