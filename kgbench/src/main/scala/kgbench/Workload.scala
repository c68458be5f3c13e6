package kgbench

import org.apache.spark.sql.SparkSession

/** What one run gives a workload: the session, the seed, a scratch
  * directory inside the checkout, the core count and the report. */
final case class Ctx(spark: SparkSession, seed: Long, work: String, cores: Int, rep: Report) {
  /** A fresh directory path under the scratch directory. */
  def fresh(name: String): String = {
    val p = s"$work/$name"
    Files.delete(p)
    p
  }
}

/** One timed user call of a pass: its kind and its wall time. */
final case class Call(kind: String, seconds: Double)

/** One untraced pass: its seconds, the input items it processed, its
  * timed calls, its output's bytes per row and F1. */
final case class PassOut(seconds: Double, items: Double, calls: Seq[Call],
                         bytesPerRow: Double, f1: Double)

/** A benchmark workload: seeded set-up, an untraced pass that checks
  * its own output outside the timed calls, and a traced pass that
  * records per-layer metrics. */
trait Workload {
  def ctx: Ctx

  /** Builds the seeded inputs (timed as `inputs_s`). */
  def setup(): Unit

  /** Reference answers for the correctness gates (untimed). */
  def prepare(): Unit = ()

  /** Untimed warm-up before the timed passes, so JIT, codegen and
    * lazy model set-up happen outside them. `trace`: the run also
    * makes a traced pass, so warm what only that pass calls too. */
  def warm(trace: Boolean): Unit

  def pass(i: Int): PassOut

  /** Untraced passes a run makes however short `--seconds` is. */
  def minPasses: Int = 1

  /** Workload-specific named metrics from the untraced passes. */
  def summarize(passes: Seq[PassOut]): Unit

  /** One traced pass; puts the per-layer metrics into the report and
    * returns the tracing overhead: the wall time of the work the traced
    * pass adds to what an untraced pass does. */
  def traced(tr: Tracer, meter: GroupMeter): Double

  protected def spark: SparkSession = ctx.spark
  protected def rep: Report = ctx.rep

  protected def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** The spans named `name` in a tracer, in order. */
  protected def spansOf(tr: Tracer, name: String): Seq[Span] =
    tr.spans.filter(_.name == name).sortBy(_.id)
}
