package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentile") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 0.5) === 5.0)
    assert(Stats.percentile(xs, 0.9) === 9.0)
    assert(Stats.percentile(xs, 1.0) === 10.0)
    assert(Stats.percentile(xs.reverse, 0.1) === 1.0)
    assert(Stats.median(Seq(3.0)) === 3.0)
  }

  test("tail is the highest ladder percentile with >= 10 samples beyond") {
    assert(Stats.tailQuantile(9) === None)
    assert(Stats.tailQuantile(20) === Some(0.5))
    assert(Stats.tailQuantile(39) === Some(0.5))
    assert(Stats.tailQuantile(40) === Some(0.75))
    assert(Stats.tailQuantile(50) === Some(0.8))
    assert(Stats.tailQuantile(100) === Some(0.9))
    assert(Stats.tailQuantile(199) === Some(0.9))
    assert(Stats.tailQuantile(200) === Some(0.95))
    assert(Stats.tailQuantile(1000) === Some(0.99))
    // exactly ten samples lie strictly above the reported one
    (20 to 300).foreach { n =>
      val xs = (1 to n).map(_.toDouble)
      val (q, v) = Stats.tail(xs)
      assert(xs.count(_ > v) >= Stats.MinBeyond, s"n=$n q=$q")
    }
    assert(Stats.tail(Seq(1.0, 5.0, 2.0)) === ((1.0, 5.0)))
  }

  test("interval union counts overlaps once") {
    assert(Stats.unionLength(Nil) === 0.0)
    assert(Stats.unionLength(Seq((0.0, 10.0), (5.0, 15.0), (20.0, 25.0))) === 20.0)
    assert(Stats.unionLength(Seq((0.0, 10.0), (2.0, 3.0))) === 10.0)
    assert(Stats.unionLength(Seq((3.0, 3.0), (4.0, 2.0))) === 0.0)
  }

  test("driver gap is the op interval minus clipped job intervals") {
    // op 0..100; jobs 10..30 and 20..40 overlap; one starts before the
    // op and one ends after it
    val gap = Stats.uncovered((0.0, 100.0),
      Seq((10.0, 30.0), (20.0, 40.0), (-5.0, 5.0), (90.0, 120.0)))
    assert(gap === 100.0 - 30.0 - 5.0 - 10.0)
    assert(Stats.uncovered((0.0, 10.0), Nil) === 10.0)
    assert(Stats.uncovered((0.0, 10.0), Seq((20.0, 30.0))) === 10.0)
  }
}
