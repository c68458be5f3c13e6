package kgbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private val corpus = Gen.Corpus(pages = 50, heavy = 3)

  private def pages(seed: Long) = (0L until corpus.pages).map(Gen.page(seed, _, corpus))
  private def key(p: graft.sources.PageRow) = (p.url, p.warc_ts, p.html.toSeq, p.text, p.lang)

  test("the same seed gives identical pages") {
    assert(pages(7).map(key) == pages(7).map(key))
  }

  test("a different seed gives different pages") {
    val (a, b) = (pages(7), pages(8))
    assert(a.map(_.url).toSet.intersect(b.map(_.url).toSet).isEmpty)
    assert(a.map(_.html.toSeq) != b.map(_.html.toSeq))
  }

  test("pages are html-only, heavy, and mostly Chinese") {
    val ps = pages(3)
    assert(ps.forall(_.text == null))
    assert(ps.count(_.lang == "zh") > ps.size / 2)
    assert(ps.exists(_.lang == "en"))
    val one = graft.core.Text.extractText(ps.find(_.lang == "zh").get.html)
    assert(one.length > graft.core.Fixture.zhDoc(0).text.length)
  }

  test("delta batches are seeded, and later batches reach back to older clusters") {
    val d = Gen.Delta(batches = 3, clusters = 10, rows = 200)
    assert(Gen.deltaRows(1, d, 2) == Gen.deltaRows(1, d, 2))
    assert(Gen.deltaRows(1, d, 2) != Gen.deltaRows(2, d, 2))
    val firstKeys = Gen.deltaRows(1, d, 0).map(_._3).toSet
    val later = Gen.deltaRows(1, d, 2)
    assert(later.exists(r => firstKeys(r._3)))
    assert(later.exists(r => !firstKeys(r._3)))
    assert(later.forall(_.productArity == Gen.RawCols.size))
  }

  test("the Zipf sampler stays in range and favours low ranks") {
    val z = new Gen.Zipf(100, 1.1)
    val ranks = (0 until 5000).map(i => z.rank(Gen.mix(1, 9, i)))
    assert(ranks.forall(r => r >= 0 && r < 100))
    assert(ranks.count(_ == 0) > ranks.count(_ == 50) * 10)
    assert(ranks == (0 until 5000).map(i => z.rank(Gen.mix(1, 9, i))))
  }
}
