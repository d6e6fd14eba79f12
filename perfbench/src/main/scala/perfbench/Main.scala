package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command-line options. `dir` is the run's private scratch directory
  * (the harness creates and deletes it); `toy` shrinks every workload to
  * smoke-test size (the benchmark's own tests). */
final case class Opts(workload: String, seed: Long, seconds: Int,
    trace: Boolean, dir: String, traceOut: Option[String] = None,
    toy: Boolean = false)

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("dir"), kv.get("trace-out"))
  }
}

/** Outcome of one run, ready to print. */
final case class Result(correct: Boolean, attempted: Long, failed: Long,
    metrics: Seq[(String, Double, String)], detail: Seq[(String, Any)]) {
  def json: String = Json.obj(Seq("correct" -> correct,
    "attempted" -> attempted, "failed" -> failed,
    "metrics" -> Json.Raw(Json.obj(metrics.map { case (n, v, u) =>
      n -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u)))
    }))))
}

/** Live heap: after every unit of work the harness forces a full
  * collection and samples the heap in use, so a reading does not depend on
  * when the collector happened to run. Spark frees broadcast and shuffle
  * blocks from its cleaner thread once a collection has found them
  * unreachable, so the sample is taken after a second collection. */
final class HeapWatch {
  private val mem = ManagementFactory.getMemoryMXBean
  private val samples = scala.collection.mutable.ArrayBuffer.empty[Double]
  private var forcedMs = 0L
  def reset(): Unit = samples.clear()
  def sample(): Unit = {
    val g0 = collectorMs()
    System.gc()
    Thread.sleep(200)
    System.gc()
    forcedMs += collectorMs() - g0
    samples += mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
  def samplesMb: Seq[Double] = samples.toSeq
  private def collectorMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ > 0).sum
  /** Collection time so far, without the forced collections. */
  def gcMs(): Long = collectorMs() - forcedMs
}

object Main {
  /** Set-up repetitions per run; `setup_s` is their median. */
  val SetupReps = 3
  /** Spark local cores of every measured session. */
  val Cores = 4

  def session(cores: Int, dir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      // the engine's own replay settings (ReplayMain): 4x cores shuffle
      // partitions, AQE off for the fixed-shape merge plan
      .config("spark.sql.shuffle.partitions", (cores * 4).toString)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def run(o: Opts): Result = {
    val tStart = System.nanoTime()
    val phases = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    def phase(name: String): Unit =
      phases += name -> (System.nanoTime() - tStart) / 1e9
    val heap = new HeapWatch
    val spark = session(Cores, o.dir)
    val trace = new Trace(spark)
    val wl = Workload(o, spark, trace)
    wl.onUnit = () => heap.sample()
    val setups = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime()
      wl.setup(rep)
      (System.nanoTime() - t0) / 1e9
    }
    phase("setup")
    wl.warmup()
    phase("warmup")
    heap.reset()
    val t0 = Clock.nowMs
    val until = t0 + o.seconds * 1000.0
    var traced: Option[(Int, Long)] = None // (untraced units, GC ms)
    if (!o.trace) wl.measure(until)
    else {
      // first half untraced, second half traced: the gap between the two
      // halves' median unit times is the tracing overhead
      wl.measure(t0 + o.seconds * 500.0)
      val split = wl.unitSamples.size
      heap.reset()
      val gc0 = heap.gcMs()
      trace.start()
      wl.measure(until)
      trace.stop()
      traced = Some((split, heap.gcMs() - gc0))
    }
    val heapMb = heap.samplesMb
    phase("measure")
    val failures = wl.check()
    phase("check")
    failures.foreach(f => System.err.println(s"[perfbench] MISMATCH $f"))
    val detail = Seq("workload" -> o.workload, "seed" -> o.seed,
      "seconds" -> o.seconds, "cores" -> Cores, "trace" -> o.trace,
      "spark" -> spark.version, "jdk" -> sys.props("java.version"),
      "setup_runs_s" -> setups, "phase_end_s" -> phases.toMap) ++ wl.config
    var summary = Seq.empty[(String, Map[String, Any])]
    val metrics =
      if (failures.nonEmpty) Nil
      else traced match {
        case None =>
          val e2e = Seq(("setup_s", setups, "s"), ("heap_live_mb", heapMb, "MB")) ++
            wl.endToEnd
          summary = e2e.map { case (n, xs, _) => n -> Stats.summary(xs) }
          e2e.map { case (n, xs, u) => (n, Stats.median(xs), u) }
        case Some((split, gcMs)) =>
          val units = wl.unitSamples.drop(split)
          val overhead = Stats.median(units) /
            Stats.median(wl.unitSamples.take(split)) - 1
          wl.layerFacts(units.size)
          // may replace the session (the local[1] scaling replay)
          wl.afterTrace()
          o.traceOut.foreach(p => trace.write(java.nio.file.Paths.get(p)))
          Layers.compute(trace, Cores, units.size, gcMs, heapMb.max, overhead)
      }
    val failed = failures.size.toLong + wl.extraFailures
    // a run with any mismatch reports no numbers at all
    Result(failed == 0, wl.attempted, failed,
      if (failed == 0) metrics else Nil,
      detail ++ wl.detail ++ Seq("unit_samples_s" -> wl.unitSamples,
        "end_to_end" -> summary.toMap))
  }

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val r =
      try run(o)
      catch {
        case e: Throwable =>
          e.printStackTrace()
          Result(correct = false, 1, 1, Nil, Seq("error" -> e.toString))
      }
    println("[perfbench] detail " + Json.obj(r.detail))
    println(r.json)
    System.out.flush()
    try SparkSession.getActiveSession.foreach(_.stop())
    catch { case _: Throwable => () }
    // Spark's non-daemon threads must not keep a finished run alive
    Runtime.getRuntime.halt(if (r.correct) 0 else 1)
  }
}
