package kgbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("quantile interpolates linearly between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.quantile(xs, 0.0) == 1.0)
    assert(Stats.quantile(xs, 1.0) == 4.0)
    assert(Stats.median(xs) == 2.5)
    assert(math.abs(Stats.quantile(xs, 0.9) - 3.7) < 1e-12)
    assert(Stats.median(Seq(7.0)) == 7.0)
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
  }

  test("quantile rejects an empty sample and q outside [0, 1]") {
    assertThrows[IllegalArgumentException](Stats.quantile(Nil, 0.5))
    assertThrows[IllegalArgumentException](Stats.quantile(Seq(1.0), 1.5))
  }

  test("growth is the last quarter's mean over the second quarter's") {
    // 8 steps: quarter = 2; second quarter = steps 3-4, last = 7-8
    val xs = Seq(100.0, 9.0, 2.0, 4.0, 5.0, 5.0, 6.0, 12.0)
    assert(Stats.growth(xs) == 3.0)
    // 4 steps: step 4 over step 2; the first step is warm-up
    assert(Stats.growth(Seq(50.0, 10.0, 11.0, 12.0)) == 1.2)
    assert(Stats.growth(Seq.fill(6)(3.0)) == 1.0)
    assertThrows[IllegalArgumentException](Stats.growth(Seq(1.0, 2.0, 3.0)))
  }

  test("f1 of produced against reference sets") {
    assert(Stats.f1(Set(1, 2), Set(1, 2)) == 1.0)
    assert(Stats.f1(Set.empty[Int], Set.empty[Int]) == 1.0)
    assert(Stats.f1(Set(1, 2, 3, 4), Set(1, 2)) == 2.0 * 2 / 6)
    assert(Stats.f1(Set(9), Set(1)) == 0.0)
  }

  test("a report renders exactly the named metrics, with every digit") {
    val r = new Report
    r.put("a_s", 1.234567890123, "s")
    r.put("b", 2.0, "count")
    r.op(ok = true)
    r.op(ok = false, "boom")
    assert(r.line(Seq("a_s")) ==
      """{"correct":false,"attempted":2,"failed":1,"metrics":{"a_s":{"value":1.234567890123,"unit":"s"}}}""")
    assert(r.failedFrac == 0.5)
    assertThrows[RuntimeException](r.line(Seq("missing")))
  }

  test("the metric lists have unique names within the length limit") {
    val names = (Metrics.EndToEnd ++ Metrics.PerLayer).map(_._1)
    assert(names.distinct.size == names.size)
    assert(names.forall(_.matches("[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")))
  }
}
