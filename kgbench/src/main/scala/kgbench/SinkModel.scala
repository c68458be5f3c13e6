package kgbench

import Gen.Triple

/** Driver-side model of the snapshot table's visible rows under the
  * sink_ops commits, as a multiset. It mirrors the documented
  * semantics of each TripleSink operation, so `TripleSink.read` must
  * equal it after every op sequence (SinkModelSpec tests the model
  * itself). */
final case class SinkModel(rows: Map[Triple, Int]) {
  def size: Int = rows.valuesIterator.sum

  /** write(append = true): the rows are added. */
  def append(add: Seq[Triple]): SinkModel = SinkModel(add.foldLeft(rows) { (m, r) =>
    m.updated(r, m.getOrElse(r, 0) + 1)
  })

  /** merge: every row sharing a (subj, pred) key with an update goes,
    * then every update row is added. */
  def merge(upd: Seq[Triple]): SinkModel = {
    val keys = upd.map(r => (r._1, r._2)).toSet
    SinkModel(rows.filterNot { case (r, _) => keys((r._1, r._2)) }).append(upd)
  }

  /** applyDeltaMOR: each retraction must match exactly one visible row
    * (the operation's contract); then the additions are added. */
  def deltaMor(add: Seq[Triple], del: Seq[Triple]): SinkModel = {
    require(del.distinct.size == del.size && del.forall(rows.get(_).contains(1)),
      "a merge-on-read retraction must match exactly one visible row")
    SinkModel(rows -- del).append(add)
  }

  def lookup(subjects: Set[String]): Map[Triple, Int] =
    rows.filter { case (r, _) => subjects(r._1) }

  def countByPred: Map[String, Long] =
    rows.toSeq.groupBy(_._1._2).map { case (p, rs) => p -> rs.map(_._2.toLong).sum }
}

object SinkModel {
  def of(rs: Seq[Triple]): SinkModel = SinkModel(Map.empty).append(rs)

  def multiset(rs: Iterable[Triple]): Map[Triple, Int] =
    rs.groupBy(identity).map { case (r, xs) => r -> xs.size }
}
