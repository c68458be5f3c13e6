package kgbench

import org.apache.spark.sql.DataFrame
import graft.operators.{Canonicalize, DurableKg, KgDelta, Linking}
import graft.sources.TripleSink
import Gen.Triple

/** kg_maintain: incremental KG maintenance. Each pass folds every
  * seeded raw-triple batch, in order, into a fresh `DurableKg`, and is
  * checked against a from-scratch rebuild over the accumulated raw
  * triples.
  *
  * The traced pass also publishes each batch's delta to a fresh table
  * with `TripleSink.applyDelta` (the first with `write`) — the
  * `Streaming.kgMaintainToSink` loop driven from a batch list — and then
  * runs a fixed seeded mix of commits and reads on the maintained table:
  *   append, lookup, read, merge, sql_view, mor_delta, as_of,
  *   compact (+ expireSnapshots)
  * checking every read against a driver-side [[SinkModel]]. */
final class KgMaintain(val ctx: Ctx, shape: Gen.Delta, warmShape: Gen.Delta, opMix: Gen.OpMix)
    extends Workload {
  import ctx.spark.implicits._
  private var batches: Seq[DataFrame] = Nil
  private val nParts = 2 * ctx.cores

  def setup(): Unit =
    batches = (0 until shape.batches).map(b =>
      Gen.deltaBatch(spark, ctx.seed, shape, b).localCheckpoint(true))

  /** Folds `bs` in order; `around(kind, call)` wraps each fold (and
    * each sink publish, with `publish`) and returns its seconds. Returns
    * the final state and the fold times. */
  private def fold(dir: String, bs: Seq[DataFrame], around: (String, () => Unit) => Double,
                   publish: Boolean, onDelta: KgDelta.Delta => Unit = _ => ())
      : (KgDelta.State, Seq[Double]) = {
    val kg = new DurableKg(spark, s"$dir/state")
    val table = s"$dir/table"
    val folds = bs.zipWithIndex.map { case (b, k) =>
      val runId = f"batch-$k%06d"
      around("DurableKg.fold", () => kg.fold(b, k.toLong, d => if (publish) {
        onDelta(d)
        if (k == 0) around("TripleSink.write", () =>
          TripleSink.write(d.additions, table, runId, nParts = nParts))
        else around("TripleSink.applyDelta", () =>
          TripleSink.applyDelta(spark, table, d.additions, d.retractions, runId))
      }))
    }
    (kg.state, folds)
  }

  /** Gate: canon and view equal a from-scratch canonMapAdaptive +
    * rewrite over the accumulated raw triples, and the published table
    * (if any) equals `KgDelta.triples(state)`. Returns the view rows and
    * their F1 against the from-scratch view. */
  private def checkFolds(st: KgDelta.State, bs: Seq[DataFrame], table: Option[String],
                         what: String): (Seq[Triple], Double) = {
    val acc = bs.reduce(_ unionByName _)
    val fullCanon = Canonicalize.canonMapAdaptive(Linking.nodesFromTripleArgs(acc))
      .localCheckpoint(true)
    def rows(df: DataFrame) = df.collect().toSeq.map(_.toSeq)
    val (got, want) = (rows(st.canon), rows(fullCanon))
    rep.op(got.size == want.size && got.toSet == want.toSet,
      s"$what: maintained canon differs from a from-scratch canonMapAdaptive")
    val full = Canonicalize.rewrite(acc, fullCanon).as[Triple].collect().toSet
    val view = KgDelta.triples(st).as[Triple].collect().toSet
    rep.op(view == full, s"$what: maintained view differs from a from-scratch rewrite")
    table.foreach { t =>
      val tab = TripleSink.read(spark, t).select("subj", "pred", "obj").as[Triple].collect().toSeq
      rep.op(tab.size == tab.toSet.size && tab.toSet == view,
        s"$what: table differs from KgDelta.triples(state)")
    }
    (view.toSeq.sorted, Stats.f1(view, full))
  }

  private def frame(rs: Seq[Triple]): DataFrame = rs.toDF("subj", "pred", "obj")

  private def sample[A](xs: IndexedSeq[A], n: Int, stream: Long): Seq[A] =
    (0 until n).map(i => xs(Gen.below(Gen.mix(ctx.seed, stream, i), xs.size).toInt)).distinct

  /** The op mix on the maintained table, starting from its rows `start`.
    * Returns the calls, the files each read call planned (from the
    * DataFrame that call built), and the final model. */
  private def ops(table: String, start: Seq[Triple], what: String,
                  around: (String, () => Unit) => Double)
      : (Seq[Call], Seq[(String, Int)], SinkModel) = {
    var model = SinkModel.of(start)
    // Zipf-skewed subjects over the table's own subjects
    val subjects = start.map(_._1).distinct.sorted.toIndexedSeq
    val zipf = new Gen.Zipf(subjects.size, 1.1)
    def fresh(stream: Long, n: Int): Seq[Triple] = (0 until n).map { i =>
      val h = Gen.mix(ctx.seed, stream, i)
      (subjects(zipf.rank(h)), "p" + Gen.below(h >>> 3, 5), s"o${stream}_$i")
    }
    val calls = scala.collection.mutable.ArrayBuffer.empty[Call]
    val files = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    def op(kind: String)(body: => Unit): Unit = calls += Call(kind, around(kind, () => body))
    def check(ok: Boolean, msg: => String): Unit = rep.op(ok, s"$what: $msg")
    def lookup(stream: Long): Unit = {
      val subs = (0 until opMix.lookupSubjects)
        .map(i => subjects(zipf.rank(Gen.mix(ctx.seed, stream, i)))).toSet
      var df: DataFrame = null
      var got: Array[Triple] = null
      op("lookup") {
        df = TripleSink.lookupSubjects(spark, table, subs.toSeq)
        got = df.select("subj", "pred", "obj").as[Triple].collect()
      }
      files += "lookup" -> df.inputFiles.length
      check(SinkModel.multiset(got) == model.lookup(subs), "lookup differs from the model")
    }

    val adds = fresh(11, opMix.appendRows)
    val addDf = frame(adds)
    op("append")(TripleSink.write(addDf, table, "append", nParts = nParts, append = true))
    model = model.append(adds)
    val asOfModel = model
    (0 until opMix.lookups).foreach(k => lookup(100L + k))

    var readDf: DataFrame = null
    var all: Array[Triple] = null
    op("read") {
      readDf = TripleSink.read(spark, table)
      all = readDf.select("subj", "pred", "obj").as[Triple].collect()
    }
    files += "read" -> readDf.inputFiles.length
    check(SinkModel.multiset(all) == model.rows, "read differs from the model")

    val upd = sample(model.rows.keys.toIndexedSeq.sorted, opMix.mergeRows, 13)
      .map { case (s, p, _) => (s, p) }.distinct
      .zipWithIndex.map { case ((s, p), i) => (s, p, s"m_$i") }
    val updDf = frame(upd)
    op("merge")(TripleSink.merge(spark, table, updDf, "merge"))
    model = model.merge(upd)

    var view: DataFrame = null
    var agg: Map[String, Long] = null
    op("sql_view") {
      view = spark.read.format("graft.sources.v2.TriplesSource").option("path", table).load()
      view.createOrReplaceTempView("kgbench_triples")
      agg = spark.sql("SELECT pred, count(*) AS n FROM kgbench_triples GROUP BY pred")
        .as[(String, Long)].collect().toMap
    }
    // a DataSource V2 relation plans one split per file
    files += "sql_view" -> view.rdd.getNumPartitions
    check(agg == model.countByPred, "sql_view differs from the model")

    val dels = sample(model.rows.collect { case (t, 1) => t }.toIndexedSeq.sorted, opMix.morDels, 15)
    val morAdds = fresh(16, opMix.morAdds)
    val (morAddDf, morDelDf) = (frame(morAdds), frame(dels))
    op("mor_delta")(TripleSink.applyDeltaMOR(spark, table, morAddDf, morDelDf, "mor"))
    model = model.deltaMor(morAdds, dels)

    var pastDf: DataFrame = null
    var past: Map[String, Long] = null
    op("as_of") {
      pastDf = TripleSink.readAsOf(spark, table, "append")
      past = pastDf.groupBy("pred").count().as[(String, Long)].collect().toMap
    }
    files += "as_of" -> pastDf.inputFiles.length
    check(past == asOfModel.countByPred, "as_of differs from the model")

    op("compact") {
      TripleSink.compact(spark, table, "compact", nParts = nParts)
      TripleSink.expireSnapshots(table, keepLast = 3)
    }
    val fin = TripleSink.read(spark, table).select("subj", "pred", "obj").as[Triple].collect()
    check(SinkModel.multiset(fin) == model.rows, "final table differs from the model")
    check(TripleSink.statsAudit(spark, table), "statsAudit failed")
    (calls.toSeq, files.toSeq, model)
  }

  /** Small folds of other keys (the seed's negation), untimed; traced
    * runs also publish them and run the op mix on their table. */
  def warm(trace: Boolean): Unit = {
    val dir = ctx.fresh("warm")
    val bs = (0 until warmShape.batches).map(b => Gen.deltaBatch(spark, -1 - ctx.seed, warmShape, b))
    val table = if (trace) Some(s"$dir/table") else None
    val (st, _) = fold(dir, bs, (_, f) => time(f())._2, publish = trace)
    val (view, _) = checkFolds(st, bs, table, "kg_maintain warm-up")
    table.foreach(ops(_, view, "kg_maintain warm-up", (_, f) => time(f())._2))
    Files.delete(dir)
  }

  def pass(i: Int): PassOut = {
    val dir = ctx.fresh(s"maintain-$i")
    val (st, folds) = fold(dir, batches, (_, f) => time(f())._2, publish = false)
    val (view, f1) = checkFolds(st, batches, None, s"kg_maintain pass $i")
    // the durable state's bytes per maintained triple
    val bpr = Files.bytes(dir).toDouble / view.size
    Files.delete(dir)
    PassOut(folds.sum, shape.batches.toDouble * shape.rows, folds.map(Call("fold", _)), bpr, f1)
  }

  def summarize(passes: Seq[PassOut]): Unit = {
    val folds = passes.map(_.calls.map(_.seconds))
    rep.put("fold_p50_s", Stats.median(folds.flatten), "s")
    rep.put("fold_growth", Stats.median(folds.map(Stats.growth)), "ratio")
  }

  def traced(tr: Tracer, meter: GroupMeter): Double = {
    val dir = ctx.fresh("maintain-traced")
    val table = s"$dir/table"
    var deltaRows = 0L
    val spanned: (String, () => Unit) => Double = (name, f) => tr.span(name)(time(f())._2)
    val (st, _) = tr.span("kg_maintain.folds") {
      fold(dir, batches, spanned, publish = true, d => tr.span("KgDelta.delta_rows") {
        deltaRows += d.additions.count() + d.retractions.count()
      })
    }
    val (start, _) = checkFolds(st, batches, Some(table), "kg_maintain traced pass")
    rep.put("DurableKg.state_bytes", Files.bytes(s"$dir/state").toDouble, "B")
    rep.put("DurableKg.state_dirs", Files.dirs(s"$dir/state").toDouble, "count")
    val (calls, filesRead, _) = tr.span("kg_maintain.ops") {
      ops(table, start, "kg_maintain traced pass", (op, f) => tr.span(s"sink.$op")(time(f())._2))
    }
    def kinds(ks: String*) = calls.filter(c => ks.contains(c.kind)).map(_.seconds)
    rep.put("commit_p50_s", Stats.median(kinds("append", "merge", "mor_delta")), "s")
    rep.put("lookup_p50_s", Stats.median(kinds("lookup")), "s")
    rep.put("scan_p50_s", Stats.median(kinds("read", "sql_view", "as_of")), "s")
    rep.put("TripleSink.data_files", Files.parquetFiles(s"$table/data").toDouble, "count")
    rep.put("TripleSink.delete_files", Files.parquetFiles(s"$table/_deletes").toDouble, "count")
    rep.put("TripleSink.manifests", Files.regularFiles(s"$table/_manifests").toDouble, "count")
    rep.put("TripleSink.table_bytes", Files.bytes(table).toDouble, "B")
    Files.delete(dir)
    meter.drain(spark.sparkContext)

    val folds = spansOf(tr, "DurableKg.fold")
    // a fold's own work: its span and job group less its child spans
    // (the sink publish and the delta-row count)
    val own = folds.map { f =>
      val kids = tr.spans.filter(_.parent == f.id).map(_.seconds).sum
      val t = meter.of(tr.group(f.id))
      Map("wall_s" -> (f.seconds - kids), "task_s" -> t.taskMs / 1e3, "gc_s" -> t.gcMs / 1e3,
        "jobs" -> t.jobs.toDouble, "shuffle_write_bytes" -> t.shuffleWriteBytes.toDouble)
    }
    Metrics.FoldFields.foreach { case (f, u) =>
      val xs = own.map(_(f))
      rep.put(s"DurableKg.fold.$f.p50", Stats.median(xs), u)
      rep.put(s"DurableKg.fold.$f.growth", Stats.growth(xs), "ratio")
    }
    rep.put("TripleSink.applyDelta.wall_s",
      Stats.median(spansOf(tr, "TripleSink.applyDelta").map(_.seconds)), "s")
    rep.put("KgDelta.delta_rows", deltaRows.toDouble, "rows")
    Metrics.SinkOps.foreach { op =>
      val ss = spansOf(tr, s"sink.$op")
      rep.put(s"sink.$op.wall_s", Stats.median(ss.map(_.seconds)), "s")
      rep.put(s"sink.$op.tasks", Stats.median(ss.map(s => tr.totals(meter, s).tasks.toDouble)), "count")
      if (Metrics.SinkCommits.contains(op))
        rep.put(s"sink.$op.bytes_written",
          Stats.median(ss.map(s => tr.totals(meter, s).bytesWritten.toDouble)), "B")
      else rep.put(s"sink.$op.files_read",
        Stats.median(filesRead.collect { case (`op`, n) => n.toDouble }), "count")
    }
    spansOf(tr, "KgDelta.delta_rows").map(_.seconds).sum
  }
}
