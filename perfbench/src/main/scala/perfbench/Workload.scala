package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.cdc.PipelineConfig
import graft.gen.GenConfig
import graft.lake.LakeTable
import graft.model.{Schemas, TranscriptRow}

/** One benchmark workload. The harness calls, in order: `setup` (several
  * times, each into fresh directories; the last one is measured),
  * `warmup`, `measure` (once, or twice for a traced run: untraced half,
  * traced half), `check`, then for traced runs `layerFacts` and
  * `afterTrace`. */
abstract class Workload(val o: Opts, val trace: Trace) {
  var spark: SparkSession
  /** Workload shape, recorded with every result. */
  def config: Seq[(String, Any)]
  def setup(rep: Int): Unit
  def warmup(): Unit
  /** Run units of work until wall clock `untilMs` (at least one). */
  def measure(untilMs: Double): Unit
  /** Oracle checks on the outputs; one line per mismatch. */
  def check(): Seq[String]
  /** Operations run (epochs, reads, refreshes). */
  def attempted: Long
  /** Called after every recorded unit of work (the heap sample). */
  var onUnit: () => Unit = () => ()
  /** Failed checks made after `check` (the traced scaling replay). */
  var extraFailures = 0L
  /** Seconds per unit of work, in the order they ran. */
  def unitSamples: Seq[Double]
  /** End-to-end metrics as (name, samples, unit); the median is reported. */
  def endToEnd: Seq[(String, Seq[Double], String)]
  /** The workload's own named numbers (printed, not gated). */
  def detail: Seq[(String, Any)]
  /** Engine-side facts for the per-layer metrics, per traced unit. */
  def layerFacts(units: Int): Unit = ()
  def afterTrace(): Unit = ()

  protected def path(name: String): String = s"${o.dir}/$name"
  protected def delete(p: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new File(p)): Unit
  protected def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Pipeline hooks that time each epoch from `preBatch` to `postBatch`
    * (the real `CdcPipeline` path in between) and record it. */
  protected def hooked(cfg: PipelineConfig, query: String): PipelineConfig = {
    val starts = mutable.HashMap.empty[Long, Double]
    cfg.copy(
      preBatch = (b, epoch) => { starts(epoch) = Clock.nowMs; b },
      postBatch = (_, epoch, res) => {
        val end = Clock.nowMs
        val start = starts.remove(epoch).getOrElse(end)
        trace.recordMerge(MergeRec(query, start, end, res.rowsInBatch,
          res.rowsApplied))
      })
  }

  /** Exact comparison of a table's state with the sequential oracle. */
  protected def stateMismatch(what: String, table: LakeTable,
      oracle: Seq[TranscriptRow]): Option[String] = {
    val s = spark
    import s.implicits._
    val got = table.read().as[TranscriptRow].collect()
      .sortBy(r => (r.conv_id, r.turn_idx)).toSeq
    if (got == oracle) None
    else Some(s"$what: ${got.size} rows, oracle ${oracle.size}, " +
      s"${got.diff(oracle).size} differ")
  }

  protected def genConfig(events: Long): GenConfig =
    GenConfig(seed = o.seed, nEvents = events,
      nConvs = math.max(4L, events / 50), maxTurns = 40)

  protected def newTable(dir: String, buckets: Int): LakeTable =
    LakeTable.createTable(spark, dir, Schemas.transcript, buckets)

  protected def dirBytes(dir: String): Long =
    org.apache.commons.io.FileUtils.sizeOf(new File(dir))
}

object Workload {
  val Names = Seq("replay_bulk", "consume")

  def apply(o: Opts, spark: SparkSession, trace: Trace): Workload =
    o.workload match {
      case "replay_bulk" => new ReplayBulk(o, spark, trace)
      case "consume" => new Consume(o, spark, trace)
      case w => sys.error(s"unknown workload '$w' (known: ${Names.mkString(", ")})")
    }
}
