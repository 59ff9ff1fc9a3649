package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.stats]] and [[Bench.total]] — the figures of the driver bench
  * line that a regression check reads: median and min of the timed
  * samples, the rule that a failed query reports -1 for both instead of a
  * (fast) timing, and the total over the working queries. Pure, no Spark. */
class BenchGateSpec extends AnyFunSuite {

  private def one(samples: Seq[Double], errors: Set[String] = Set.empty) =
    Bench.stats(Seq("q" -> samples), errors).head

  test("median of 3 samples is the middle one, whatever their order") {
    assert(one(Seq(3.0, 1.0, 2.0))._2 == 2.0)
    assert(one(Seq(9.5, 0.5, 1.5))._2 == 1.5)
  }

  test("median and min of 1 sample are that sample") {
    assert(one(Seq(4.25)) == (("q", 4.25, 4.25)))
  }

  test("min is the least sample") {
    assert(one(Seq(2.0, 0.75, 1.25))._3 == 0.75)
    assert(one(Seq(0.5, 7.0, 7.0))._3 == 0.5)
  }

  test("one failed sample (-1) makes both stats -1 for that query only") {
    val st = Bench.stats(Seq(
      "q01" -> Seq(1.0, 2.0, 3.0),
      "q02" -> Seq(1.0, -1.0, 3.0),
      "q03" -> Seq(0.5, 0.25, 0.75)), Set.empty)
    assert(st == Seq(("q01", 2.0, 1.0), ("q02", -1.0, -1.0), ("q03", 0.5, 0.25)))
  }

  test("a recorded error makes both stats -1 for that query only") {
    // the warm-up failed, the timed samples succeeded: still broken
    val st = Bench.stats(Seq(
      "q01" -> Seq(1.0, 2.0, 3.0),
      "q02" -> Seq(1.0, 2.0, 3.0)), Set("q02"))
    assert(st == Seq(("q01", 2.0, 1.0), ("q02", -1.0, -1.0)))
  }

  test("median is the statistic: one outlier query cannot move the estimate") {
    // a burst of host load lands on one run of one query: 25x on one pass
    val quiet = (1 to 30).map(i => f"q$i%03d" -> Seq(1.0, 1.0, 1.0))
    val burst = quiet.updated(6, "q007" -> Seq(1.0, 25.0, 1.0))
    val st = Bench.stats(burst, Set.empty)
    assert(st == Bench.stats(quiet, Set.empty))
    assert(Bench.total(st) == 30.0)
    // a broken query drops out of the total instead of subtracting 1
    assert(Bench.total(Bench.stats(quiet, Set("q007"))) == 29.0)
  }
}
