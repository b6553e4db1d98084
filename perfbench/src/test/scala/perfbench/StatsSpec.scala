package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("metric names: letters, digits, _ . - only, starting with a letter or digit") {
    Seq("setup_s", "exec.task_run_s", "p-50", "9lives", "a" * 64).foreach(n =>
      assert(Stats.validName(n), n))
    Seq("", "_x", ".x", "op p50", "x/s", "x:y", "é", "a" * 65).foreach(n =>
      assert(!Stats.validName(n), n))
  }

  test("units: at most 16 of letters, digits, _ / % . -") {
    Seq("s", "ms", "1/s", "count", "MB", "docs/s", "%").foreach(u => assert(Stats.validUnit(u), u))
    Seq("", "a b", "x" * 17).foreach(u => assert(!Stats.validUnit(u), u))
  }

  test("p90 is refused under 100 samples and accepted from 100") {
    val xs = (1 to 99).map(_.toDouble)
    val e = intercept[IllegalArgumentException](Stats.percentile(xs, 0.90))
    assert(e.getMessage.contains("99 samples"))
    val ys = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(ys, 0.90) == 90.0)
    assert(Stats.minSamples(0.90) == 100)
    assert(Stats.minSamples(0.75) == 40)
  }

  test("percentile is nearest-rank and order-free") {
    val xs = scala.util.Random.shuffle((1 to 200).map(_.toDouble))
    assert(Stats.percentile(xs, 0.90) == 180.0)
    assert(Stats.percentile(xs, 0.50) == 100.0)
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    intercept[IllegalArgumentException](Stats.median(Nil))
  }

  test("interval union merges overlaps and ignores empty intervals") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L), (30L, 30L))) == 20L)
    assert(Stats.unionLength(Nil) == 0L)
  }
}
