package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The bench's own bookkeeping: what its JSON discloses and what scratch
  * it reclaims. Driven with synthetic replays — no Spark session. */
class BenchSpec extends AnyFunSuite {

  test("cal_runs discloses the calibrations the phase guard used, not the skew section's") {
    val work = Files.createTempDirectory("bench-cal").toString
    val cals = collection.mutable.Buffer[Double]()
    var n = 0
    // every replay gets a distinct rate; calibrations run in <work>/cal
    def replay(cores: Int, events: Long, feed: String, dir: String,
        run: Int): (Double, Double) = {
      n += 1
      val r = 1000.0 + n
      if (dir == s"$work/cal") cals += r
      (r, r)
    }
    val json = Bench.cdcSection(work, 800L,
      Map("SPARK_GRAFT_CDC_REPS" -> "2", "SPARK_GRAFT_CDC_SKEW_REPS" -> "1"),
      (dir, _, _, _) => dir, replay)
    // 2 reps x 2 levels calibrate in the main section, 1 x 2 in the skew one
    assert(cals.size == 6)
    val disclosed = """"cal_runs":\[([^\]]*)\]""".r
      .findFirstMatchIn(json).map(_.group(1)).getOrElse(fail(json))
    assert(disclosed == cals.take(4).map(v => f"$v%.1f").mkString(","))
  }

  test("sweepStaleScratch keeps an old dir with a fresh child, sweeps a stale one") {
    val base = Files.createTempDirectory("bench-sweep").toFile
    val now = System.currentTimeMillis()
    val old = now - 60L * 60 * 1000
    def dir(parent: File, name: String): File = {
      val d = new File(parent, name)
      assert(d.mkdir())
      d
    }
    // a live run: a replay writing into its own subdir leaves the
    // top-level dir's mtime an hour behind
    val live = dir(base, "graft-bench-live")
    dir(live, "table-4-1")
    assert(live.setLastModified(old))
    val stale = dir(base, "graft-bench-stale")
    assert(dir(stale, "table-4-1").setLastModified(old))
    assert(stale.setLastModified(old))
    val other = dir(base, "unrelated")
    assert(other.setLastModified(old))

    Bench.sweepStaleScratch(base, now)
    assert(live.isDirectory, "swept a live run's scratch")
    assert(new File(live, "table-4-1").isDirectory)
    assert(!stale.exists, "kept a stale scratch dir")
    assert(other.isDirectory, "swept a dir that is not bench scratch")
  }
}
