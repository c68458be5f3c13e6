package kgbench

import org.scalatest.funsuite.AnyFunSuite

class SinkModelSpec extends AnyFunSuite {
  private val base = SinkModel.of(Seq(("a", "p", "1"), ("a", "p", "2"), ("a", "q", "3"), ("b", "p", "4")))

  test("append adds rows, keeping duplicates") {
    val m = base.append(Seq(("b", "p", "4"), ("c", "p", "5")))
    assert(m.size == 6)
    assert(m.rows(("b", "p", "4")) == 2)
  }

  test("merge replaces every row of an updated (subj, pred) key and inserts the rest") {
    val m = base.merge(Seq(("a", "p", "9"), ("z", "p", "0")))
    assert(m.rows.keySet == Set(("a", "p", "9"), ("a", "q", "3"), ("b", "p", "4"), ("z", "p", "0")))
  }

  test("merge-on-read retracts rows that match exactly once, then adds") {
    val m = base.deltaMor(add = Seq(("c", "q", "7")), del = Seq(("a", "p", "1"), ("b", "p", "4")))
    assert(m.rows.keySet == Set(("a", "p", "2"), ("a", "q", "3"), ("c", "q", "7")))
    val dup = base.append(Seq(("a", "q", "3")))
    assertThrows[IllegalArgumentException](dup.deltaMor(Nil, Seq(("a", "q", "3"))))
    assertThrows[IllegalArgumentException](base.deltaMor(Nil, Seq(("x", "x", "x"))))
  }

  test("lookup and per-predicate counts read the model") {
    assert(base.lookup(Set("a")).keySet == Set(("a", "p", "1"), ("a", "p", "2"), ("a", "q", "3")))
    assert(base.append(Seq(("a", "p", "1"))).countByPred == Map("p" -> 4L, "q" -> 1L))
    assert(SinkModel.multiset(Seq(("x", "y", "z"), ("x", "y", "z"))) == Map(("x", "y", "z") -> 2))
  }
}
