package kgbench

import scala.collection.mutable

/** The metrics one run produces, by name, each with its unit, plus the
  * op counts. `line` renders the last line the benchmark prints. */
final class Report {
  private val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L

  def put(name: String, value: Double, unit: String): Unit = values(name) = (value, unit)
  def get(name: String): Option[Double] = values.get(name).map(_._1)
  def all: Seq[(String, Double, String)] = values.toSeq.map { case (n, (v, u)) => (n, v, u) }

  /** Counts one attempted op; `ok = false` (an exception or a failed
    * correctness check) counts it as failed. */
  def op(ok: Boolean, what: => String = ""): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"kgbench: FAILED $what")
    }
  }

  def failedFrac: Double = if (attempted == 0) 1.0 else failed.toDouble / attempted

  /** The final result line: exactly correct / attempted / failed /
    * metrics, with `names` (in that order) as the metrics. */
  def line(names: Seq[String]): String = {
    val ms = names.map { n =>
      val (v, u) = values.getOrElse(n, sys.error(s"metric $n was not measured"))
      s""""$n":{"value":${Report.num(v)},"unit":"$u"}"""
    }
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${ms.mkString(",")}}}"""
  }
}

object Report {
  /** A JSON number with every digit the double carries. */
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v is not a number")
    java.math.BigDecimal.valueOf(v).toPlainString
  }
}
