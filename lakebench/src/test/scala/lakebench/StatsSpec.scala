package lakebench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("union of disjoint intervals is the sum of their lengths") {
    assert(Stats.unionLength(Seq(0L -> 10L, 20L -> 25L, 40L -> 41L)) == 16)
  }

  test("overlapping intervals count their shared time once") {
    assert(Stats.unionLength(Seq(0L -> 10L, 5L -> 15L, 14L -> 20L)) == 20)
    assert(Stats.unionLength(Seq(30L -> 40L, 0L -> 10L, 5L -> 15L)) == 25)
  }

  test("nested intervals add nothing to the one that contains them") {
    assert(Stats.unionLength(Seq(0L -> 100L, 10L -> 20L, 30L -> 90L, 50L -> 60L)) == 100)
  }

  test("touching and empty intervals") {
    assert(Stats.unionLength(Seq(0L -> 10L, 10L -> 20L)) == 20)
    assert(Stats.unionLength(Seq(5L -> 5L, 7L -> 3L)) == 0)
    assert(Stats.unionLength(Nil) == 0)
  }

  test("driver gap is the gate time no job covers, jobs clipped to the gate") {
    // gate [100, 200): jobs cover [90,120) -> 20, [150,160) and nested [152,158) -> 10,
    // [190,230) -> 10
    val jobs = Seq(90L -> 120L, 150L -> 160L, 152L -> 158L, 190L -> 230L)
    assert(Stats.gapOutside(100, 200, jobs) == 60)
    assert(Stats.gapOutside(100, 200, Nil) == 100)
    assert(Stats.gapOutside(100, 200, Seq(0L -> 50L, 250L -> 300L)) == 100)
  }

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("quartiles equal Python's statistics.quantiles(xs, n=4)") {
    // expected values printed by Python 3 for the same inputs
    val cases = Seq(
      (1 to 10).map(_.toDouble) -> (2.75, 5.5, 8.25),
      Seq(3.0, 1.0, 2.0) -> (1.0, 2.0, 3.0),
      Seq(5.0, 1.0) -> (0.0, 3.0, 6.0),
      Seq(2.5, 9.0, 4.0, 7.5) -> (2.875, 5.75, 8.625),
      Seq(10.0, 10.0, 10.0, 10.0, 11.0) -> (10.0, 10.0, 10.5))
    cases.foreach { case (xs, want) => assert(Stats.quartiles(xs) == want, xs) }
    assert(Stats.quartiles(Seq(4.0)) == ((4.0, 4.0, 4.0)))
  }
}
