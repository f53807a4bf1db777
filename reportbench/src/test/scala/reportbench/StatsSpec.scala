package reportbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("the tail is the highest whole percentile with ten samples above it") {
    assert(Stats.tailPct(100) == 90)
    assert(Stats.tailPct(1000) == 99)
    assert(Stats.tailPct(40) == 75)
    assert(Stats.tailPct(25) == 60)
    assert(Stats.tailPct(37) == 72)
  }

  test("the tail never drops below the median") {
    Seq(0, 1, 5, 10, 19, 20).foreach(n => assert(Stats.tailPct(n) == 50, s"n=$n"))
    assert(Stats.tailPct(21) == 52)
  }

  test("the tail sample leaves at least ten above it, and one rank up would not") {
    (20 to 500).foreach { n =>
      val xs = (1 to n).map(_.toDouble)
      val p = Stats.tailPct(n)
      val above = xs.count(_ > Stats.percentile(xs, p))
      assert(above >= 10, s"n=$n p=$p")
      if (p < 100) assert(xs.count(_ > Stats.percentile(xs, p + 1)) < 10, s"n=$n")
    }
  }

  test("a tail never reads below the median") {
    val even = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.tail(even) == ((50, 2.5)))
    (1 to 60).foreach { n =>
      val xs = (1 to n).map(i => (i * 37 % 11).toDouble)
      assert(Stats.tail(xs)._2 >= Stats.median(xs), s"n=$n")
    }
  }

  test("percentile is nearest-rank; median averages the middle pair") {
    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    assert(Stats.percentile(xs, 50) == 3.0)
    assert(Stats.percentile(xs, 100) == 5.0)
    assert(Stats.percentile(xs, 1) == 1.0)
    assert(Stats.median(xs) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }
}
