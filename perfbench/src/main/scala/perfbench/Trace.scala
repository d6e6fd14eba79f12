package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval. Times are wall-clock milliseconds (listener events
  * carry wall time, so the benchmark's own wrappers use it too). `parent`
  * is filled in by [[Trace.nest]]: the innermost span that contains this
  * one. */
final case class Span(id: Int, layer: String, name: String,
    startMs: Double, endMs: Double, var parent: Int = -1) {
  def durMs: Double = endMs - startMs
}

/** A Spark job as the listener saw it. `listing` marks Spark's parallel
  * file-listing jobs. */
final case class JobRec(id: Int, startMs: Double, var endMs: Double,
    listing: Boolean,
    var tasks: Int = 0, var runMs: Double = 0, var shuffleWriteBytes: Long = 0,
    var outputBytes: Long = 0)

/** One streaming trigger as `StreamingQueryProgress` reported it. */
final case class TriggerRec(query: String, batchId: Long, startMs: Double,
    inputRows: Long, durations: Map[String, Long]) {
  def d(k: String): Long = durations.getOrElse(k, 0L)
  def endMs: Double = startMs + d("triggerExecution")
}

/** One merge call (an ingest epoch or a mirror batch). */
final case class MergeRec(query: String, startMs: Double, endMs: Double,
    rowsIn: Long, rowsApplied: Long) {
  def durMs: Double = endMs - startMs
}

object Clock {
  private val baseNs = System.nanoTime()
  private val baseWall = System.currentTimeMillis().toDouble
  /** Wall-clock ms with nanoTime resolution. */
  def nowMs: Double = baseWall + (System.nanoTime() - baseNs) / 1e6
}

/** In-memory trace of one run. Disabled, it records only what the
  * end-to-end metrics need (merge calls); enabled, it also records the
  * benchmark's wrapper spans and attaches a Spark listener and a streaming
  * query listener. Everything stays in memory until [[write]]. */
final class Trace(spark: SparkSession) {
  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = mutable.HashMap.empty[Int, Int]
  val triggers = mutable.ArrayBuffer.empty[TriggerRec]
  val merges = mutable.ArrayBuffer.empty[MergeRec]
  /** Layer facts a workload reads from the engine (counts, sizes). */
  val facts = mutable.LinkedHashMap.empty[String, Double]

  def addSpan(layer: String, name: String, startMs: Double,
      endMs: Double): Unit = if (enabled) synchronized {
    spans += Span(spans.size, layer, name, startMs, endMs)
  }

  def span[T](layer: String, name: String)(f: => T): T = {
    val s = Clock.nowMs
    try f finally addSpan(layer, name, s, Clock.nowMs)
  }

  def recordMerge(m: MergeRec): Unit = synchronized {
    merges += m
    addSpan("merge", s"${m.query} merge", m.startMs, m.endMs)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      Trace.this.synchronized {
        jobs(e.jobId) = JobRec(e.jobId, e.time.toDouble, e.time.toDouble,
          listing = desc.startsWith("Listing leaf files"))
        e.stageIds.foreach(s => stageToJob(s) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Trace.this.synchronized(jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      Trace.this.synchronized {
        stageToJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
          j.tasks += 1
          if (m != null) {
            j.runMs += m.executorRunTime
            j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            j.outputBytes += m.outputMetrics.bytesWritten
          }
        }
      }
    }
  }

  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      Trace.this.synchronized {
        triggers += TriggerRec(Option(p.name).getOrElse(""), p.batchId, start,
          p.numInputRows, d)
      }
    }
  }

  /** Attach the listeners and start recording spans. */
  def start(): Unit = {
    enabled = true
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(queryListener)
  }

  /** Flush pending listener events, detach, stop recording. */
  def stop(): Unit = if (enabled) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.streams.removeListener(queryListener)
    spark.sparkContext.removeSparkListener(sparkListener)
    enabled = false
  }

  /** Every span of the run: wrapper spans plus one per trigger and job. */
  def spansWithListeners(): Seq[Span] = synchronized {
    val out = mutable.ArrayBuffer.empty[Span] ++= spans
    triggers.foreach { t =>
      val layer = if (t.query == Trace.MirrorQuery) "source" else "pipeline"
      out += Span(out.size, layer, s"trigger ${t.query}#${t.batchId}",
        t.startMs, t.endMs)
    }
    jobs.values.foreach { j =>
      out += Span(out.size, "spark", s"job ${j.id}", j.startMs, j.endMs)
    }
    Trace.nest(out.toSeq)
  }

  /** Spans as JSON lines (name, layer, start, end, parent). */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spansWithListeners().map { s =>
      Json.obj(Seq("id" -> s.id, "layer" -> s.layer, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "parent" -> s.parent))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Trace {
  /** Query name the `consume` workload gives its `graft-table` mirror. */
  val MirrorQuery = "perfbench-mirror"

  /** Listener timestamps are whole milliseconds: allow that much slack
    * when deciding containment. */
  private val SlackMs = 1.0

  /** Assign each span's parent: the shortest other span that contains
    * it. Spark jobs never parent anything. */
  def nest(spans: Seq[Span]): Seq[Span] = {
    val candidates = spans.filter(_.layer != "spark").sortBy(_.durMs)
    spans.foreach { s =>
      s.parent = candidates.find { p =>
        p.id != s.id && p.startMs - SlackMs <= s.startMs &&
          s.endMs <= p.endMs + SlackMs &&
          (p.durMs > s.durMs || (p.durMs == s.durMs && p.id < s.id))
      }.map(_.id).getOrElse(-1)
    }
    spans
  }

  /** Self time per layer: each span's duration minus the union of its
    * direct children, summed over the layer's spans. */
  def selfMs(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = Stats.covered(kids.getOrElse(s.id, Nil).map { c =>
          ((math.max(c.startMs, s.startMs) * 1000).toLong,
            (math.min(c.endMs, s.endMs) * 1000).toLong)
        }) / 1000.0
        math.max(0.0, s.durMs - covered)
      }.sum
    }
  }
}
