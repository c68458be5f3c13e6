package kgbench

import java.time.Instant
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.core.Fixture
import graft.oracle.RefOracle
import graft.sources.PageRow

/** Seeded input generators. Every input is a pure function of the
  * workload seed (and of a row index), so the same seed gives the same
  * inputs on any run and a different seed gives different ones
  * (GenSpec). The engine only ever sees the generated rows. */
object Gen {

  /** splitmix64 over (seed, stream, index): the one source of
    * randomness for every generator. */
  def mix(seed: Long, stream: Long, i: Long): Long =
    graft.core.Hashing.splitmix64(
      graft.core.Hashing.splitmix64(seed * 0x632BE59BD9B4E019L + stream) ^ i)

  /** Uniform draw in [0, n) from a mixed word. */
  def below(h: Long, n: Long): Long = java.lang.Math.floorMod(h, n)

  // ---- kg_build: the pages corpus ------------------------------------

  /** Pages corpus shape: `pages` html-only pages (text nulled, so every
    * page goes through html extraction), each the concatenation of
    * `heavy` fixture documents; one page in ten is an English filler
    * page that the language filter drops. */
  final case class Corpus(pages: Int, heavy: Int)

  /** Doc ids of a seed live in their own 10^7-wide band, so corpora of
    * different seeds share no document. */
  def docId(seed: Long, i: Long): Long =
    java.lang.Math.floorMod(seed, 100000L) * 10000000L + i

  def page(seed: Long, i: Long, c: Corpus): PageRow = {
    val id = docId(seed, i)
    val lang = if (below(mix(seed, 1, i), 10) == 0) "en" else "zh"
    val body = (0 until c.heavy).iterator
      .map(k => Fixture.pageBody(id ^ (k.toLong << 40), s"filler page $id part $k.", lang))
      .mkString
    PageRow(Fixture.pageUrl(id, "bench"), Instant.ofEpochSecond(Fixture.pageTsSeconds(id)),
      Fixture.pageHtml(id, body), null, lang)
  }

  def pages(spark: SparkSession, seed: Long, c: Corpus, slices: Int): Dataset[PageRow] = {
    import spark.implicits._
    spark.range(0, c.pages, 1, slices).as[Long].map(i => page(seed, i, c))
  }

  def oraclePage(p: PageRow): RefOracle.Page =
    RefOracle.Page(p.url, 0L, p.html, p.lang)

  // ---- kg_maintain: raw-triple batches over a growing key space -----

  /** Batch shape: each batch brings `clusters` new entity clusters
    * (three linkable surface variants per cluster key) and `rows` raw
    * triples, of which 30% reference clusters of earlier batches. */
  final case class Delta(batches: Int, clusters: Int, rows: Int)

  def deltaKey(seed: Long, cluster: Long, variant: Int): String = {
    val base = java.lang.Long.toHexString(mix(seed, 2, cluster) | (1L << 60))
    variant match { case 0 => base; case 1 => base + "x"; case _ => base + "xy" }
  }

  type RawArgs = (String, String, String, String, String, String, String)
  val RawCols: Seq[String] =
    Seq("subj", "subj_type", "subj_key", "pred", "obj", "obj_type", "obj_key")

  def deltaRows(seed: Long, d: Delta, b: Int): Seq[RawArgs] = {
    val lo = b.toLong * d.clusters
    (0 until d.rows).map { r =>
      val h = mix(seed, 3, lo * 1000003L + r)
      val old = b > 0 && below(h, 100) < 30
      def pick(x: Long) = if (old) below(x, lo) else lo + below(x, d.clusters.toLong)
      val sk = deltaKey(seed, pick(h >>> 8), below(h >>> 40, 3).toInt)
      val ok = deltaKey(seed, pick(h >>> 20), 0)
      (s"S$sk", "PER", sk, "p" + below(h >>> 50, 5), s"O$ok", "ORG", ok)
    }
  }

  def deltaBatch(spark: SparkSession, seed: Long, d: Delta, b: Int): DataFrame = {
    import spark.implicits._
    deltaRows(seed, d, b).toDF(RawCols: _*)
  }

  // ---- kg_maintain op mix: Zipf-skewed subjects ----------------------

  type Triple = (String, String, String)

  /** Zipf(s) sampler over ranks [0, n): inverse CDF by binary search. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1.0, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def rank(h: Long): Int = {
      val u = (h >>> 11).toDouble / (1L << 53).toDouble
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** The kg_maintain op mix: rows per append, merge keys, merge-on-read
    * additions and retractions, lookup calls and subjects per lookup. */
  final case class OpMix(appendRows: Int, mergeRows: Int, morAdds: Int, morDels: Int,
                         lookups: Int, lookupSubjects: Int)
}
