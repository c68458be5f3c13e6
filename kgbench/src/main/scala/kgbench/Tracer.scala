package kgbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext

/** One traced call: its name, its start and end (ns from the tracer's
  * origin), the span that caused it (0 = none) and the run it belongs
  * to. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
                      runId: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Each span runs its body under a job group
  * of its own, so a [[GroupMeter]] attributes the Spark work to it;
  * spans are written out as JSON once, at exit. */
final class Tracer(sc: SparkContext, runId: String) {
  private val origin = System.nanoTime()
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def group(id: Int): String = s"kgbench-span-$id"

  def span[A](name: String)(body: => A): A = {
    nextId += 1
    val id = nextId
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    sc.setJobGroup(group(id), name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(group(p), name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      done += Span(id, parent, name, t0 - origin, t1 - origin, runId)
    }
  }

  def spans: Seq[Span] = done.toSeq

  /** A span together with all spans below it. */
  def subtree(id: Int): Seq[Span] = {
    val kids = done.filter(_.parent == id).toSeq
    done.filter(_.id == id).toSeq ++ kids.flatMap(k => subtree(k.id))
  }

  /** Task totals of a span, its descendants' included. */
  def totals(meter: GroupMeter, s: Span): GroupTotals =
    subtree(s.id).map(x => meter.of(group(x.id))).foldLeft(GroupTotals())(_ + _)

  def toJson: String = done.sortBy(_.id).map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"run_id":"${s.runId}"}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
