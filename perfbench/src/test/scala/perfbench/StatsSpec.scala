package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of an even count averages the middle two") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(1.0, 10.0)) == 5.5)
  }

  test("median of an odd count is the middle sample") {
    assert(Stats.median(Seq(9.0, 1.0, 5.0)) == 5.0)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("a percentile needs at least 10 samples beyond it") {
    val xs199 = (1 to 199).map(_.toDouble)
    assert(Stats.percentile(xs199, 0.95).isEmpty) // rank 190: 9 beyond
    val xs200 = (1 to 200).map(_.toDouble)
    assert(Stats.percentile(xs200, 0.95).contains(190.0)) // 10 beyond
    assert(Stats.percentile((1 to 19).map(_.toDouble), 0.5).isEmpty)
    assert(Stats.percentile((1 to 20).map(_.toDouble), 0.5).contains(10.0))
    assert(Stats.percentile(Nil, 0.5).isEmpty)
  }

  test("a summary names the highest percentile the samples support") {
    val s200 = Stats.summary((1 to 200).map(_.toDouble))
    assert(s200("n") == 200 && s200("median") == 100.5)
    assert(s200("upper_pct") == Some(0.95) && s200("upper") == Some(190.0))
    val s3 = Stats.summary(Seq(3.0, 1.0, 2.0))
    assert(s3("upper_pct") == None && s3("median") == 2.0)
  }

  test("covered time is the union of overlapping intervals") {
    assert(Stats.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L)
    assert(Stats.covered(Seq((20L, 30L), (0L, 10L), (2L, 3L))) == 20L)
    assert(Stats.covered(Nil) == 0L)
  }

  test("self time subtracts the direct children of each span") {
    val spans = Trace.nest(Seq(
      Span(0, "merge", "epoch", 0, 100),
      Span(1, "compact", "fold", 60, 100),
      Span(2, "spark", "job 1", 10, 30),
      Span(3, "spark", "job 2", 70, 90)))
    assert(spans.map(_.parent) == Seq(-1, 0, 0, 1))
    val self = Trace.selfMs(spans)
    assert(self("merge") == 40.0)   // 100 - (20 + 40)
    assert(self("compact") == 20.0) // 40 - 20
  }
}
