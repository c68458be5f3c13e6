package kgbench

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.Pipeline
import graft.core.Fixture
import graft.operators.{Canonicalize, Linking, Stages}
import graft.oracle.RefOracle
import graft.plans.Lineage
import graft.sources.{PageRow, TripleSink}
import Gen.Triple

/** kg_build: the pipeline over one seeded html-only corpus. Each
  * untraced pass is the flagship one-shot build: direct-mode
  * `Pipeline.run`, then `TripleSink.write` into a fresh table. The
  * traced pass adds the stage functions composed one by one and the
  * checkpointed wiring: `Pipeline.run` into a fresh directory (cold),
  * then again under the same run id (resume). Every table is checked
  * against `RefOracle.process` over the same pages, and the resumed
  * table against the cold one. */
final class KgBuild(val ctx: Ctx, corpus: Gen.Corpus) extends Workload {
  private var pages: Dataset[PageRow] = _
  private var oracle: Set[Triple] = _
  private val nParts: Int = 2 * ctx.cores

  def setup(): Unit = {
    // eager local checkpoint: the corpus lives in block storage, outside
    // the cache manager the passes clear
    pages = Gen.pages(spark, ctx.seed, corpus, 8 * ctx.cores).localCheckpoint(true)
  }

  /** `RefOracle.process` over the same pages. It works page by page,
    * so it runs page-sharded on the executors and the triple sets union. */
  override def prepare(): Unit = {
    import ctx.spark.implicits._
    oracle = pages.mapPartitions { it =>
      RefOracle.process(it.map(Gen.oraclePage).toSeq).triples.iterator
    }.distinct().collect().toSet
    rep.op(oracle.nonEmpty, "oracle produced no triples")
  }

  private def triplesOf(df: DataFrame): Seq[Triple] = {
    import ctx.spark.implicits._
    df.select("subj", "pred", "obj").as[Triple].collect().toSeq
  }

  /** Gate: a built table holds each triple once, with precision and
    * recall of at least 0.95 against the oracle (the engine's own P/R
    * slack). Returns the F1. */
  private def checkTriples(got: Seq[Triple], what: String): Double = {
    val g = got.toSet
    val tp = (g & oracle).size.toDouble
    val p = if (g.isEmpty) 0.0 else tp / g.size
    val r = tp / oracle.size
    rep.op(g.size == got.size && p >= 0.95 && r >= 0.95,
      f"$what: ${got.size} rows (${g.size} distinct), precision $p%.4f, recall $r%.4f")
    Stats.f1(g, oracle)
  }

  private def cfg(dir: String) =
    Pipeline.Config(nParts = nParts, runId = "ckpt", checkpointDir = Some(dir))

  /** Direct mode: `Pipeline.run`, then `TripleSink.write` into a fresh
    * table, as one call. Returns its seconds, F1 and bytes per row. */
  private def direct(tag: String, what: String, around: (String, () => Unit) => Double)
      : (Double, Double, Double) = {
    val path = ctx.fresh(s"build-$tag")
    val sec = around("Pipeline.run.direct", () => {
      val out = Pipeline.run(spark, pages, Pipeline.Config(nParts = nParts))
      TripleSink.write(out.triples, path, s"build-$tag", nParts = nParts)
    })
    val built = triplesOf(TripleSink.read(spark, path))
    val f1 = checkTriples(built, s"$what direct build")
    val bpr = Files.bytes(s"$path/data").toDouble / built.size
    // the direct pipeline persists its raw-triple projection; drop it so
    // passes stay independent
    spark.catalog.clearCache()
    Files.delete(path)
    (sec, f1, bpr)
  }

  /** Checkpointed mode: a cold run into a fresh directory, then a
    * resume under the same run id; the resumed table must equal the
    * cold one. `atResume` runs just before the resume. */
  private def coldResume(what: String, around: (String, () => Unit) => Double,
                         atResume: () => Unit): (Double, Double) = {
    val dir = ctx.fresh("ckpt")
    val table = s"$dir/triples_table"
    val cold = around("Pipeline.run.cold", () => Pipeline.run(spark, pages, cfg(dir)))
    val coldRows = triplesOf(TripleSink.read(spark, table))
    atResume()
    val resume = around("Pipeline.run.resume", () => Pipeline.run(spark, pages, cfg(dir)))
    val resumed = triplesOf(TripleSink.read(spark, table))
    rep.op(SinkModel.multiset(resumed) == SinkModel.multiset(coldRows),
      s"$what: resume output differs from cold output")
    checkTriples(resumed, s"$what checkpointed build")
    (cold, resume)
  }

  /** Four direct builds, untimed (JIT keeps speeding the build up over
    * the first six or so); the checkpointed runs too when traced. */
  def warm(trace: Boolean): Unit = {
    val untimed: (String, () => Unit) => Double = (_, f) => time(f())._2
    (1 to 4).foreach(k => direct(s"warm$k", "kg_build warm-up", untimed))
    if (trace) coldResume("kg_build warm-up", untimed, () => ())
  }

  /** Passes are short: `pass_s` is the median of at least five. */
  override def minPasses: Int = 5

  def pass(i: Int): PassOut = {
    val (sec, f1, bpr) = direct(i.toString, s"kg_build pass $i", (_, f) => time(f())._2)
    PassOut(sec, corpus.pages, Seq(Call("direct", sec)), bpr, f1)
  }

  def summarize(passes: Seq[PassOut]): Unit =
    rep.put("docs_per_s", corpus.pages / Stats.median(passes.map(_.seconds)), "1/s")

  def traced(tr: Tracer, meter: GroupMeter): Double = {
    val spanned: (String, () => Unit) => Double = (name, f) => tr.span(name)(time(f())._2)
    stages(tr)
    val (directS, _, _) = direct("traced", "kg_build traced pass", spanned)
    val lin = new Lineage(spark, s"${ctx.work}/ckpt", "ckpt")
    var committed = 0L
    val (cold, resume) = tr.span("kg_build.checkpointed") {
      coldResume("kg_build traced pass", spanned, () => committed = lin.table.count())
    }
    lineage(lin, committed)
    Files.delete(s"${ctx.work}/ckpt")
    meter.drain(spark.sparkContext)
    stageMetrics(tr, meter)
    rep.put("ckpt_docs_per_s", corpus.pages / cold, "1/s")
    rep.put("resume_s", resume, "s")
    val c = tr.totals(meter, spansOf(tr, "Pipeline.run.cold").head)
    val r = tr.totals(meter, spansOf(tr, "Pipeline.run.resume").head)
    rep.put("Pipeline.run.cold.task_s", c.taskMs / 1e3, "s")
    rep.put("Pipeline.run.cold.gc_s", c.gcMs / 1e3, "s")
    rep.put("Pipeline.run.cold.shuffle_write_bytes", c.shuffleWriteBytes.toDouble, "B")
    rep.put("Pipeline.run.cold.jobs", c.jobs.toDouble, "count")
    rep.put("Pipeline.run.resume.task_s", r.taskMs / 1e3, "s")
    rep.put("Pipeline.run.resume.jobs", r.jobs.toDouble, "count")
    // the stage-by-stage chain does the direct build's work plus a
    // persist and a count at every boundary
    Metrics.BuildCalls.map(spansOf(tr, _).head.seconds).sum - directS
  }

  /** Per-stage wall time and rows from the lineage table's commits, and
    * the partitions the resume recomputed (0 expected). */
  private def lineage(lin: Lineage, committed: Long): Unit = {
    val table = lin.table.filter(col("run_id") === "ckpt")
    val total = table.count()
    val byStage = table.groupBy("stage")
      .agg(sum("rows_out").as("rows"), min("started_ts").as("t0"), max("finished_ts").as("t1"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), (r.getLong(3) - r.getLong(2)) / 1e3))
      .toMap
    Metrics.LineageStages.foreach { s =>
      val (rows, wall) = byStage.getOrElse(s, (0L, 0.0))
      rep.op(byStage.contains(s), s"kg_build: no lineage commit for stage $s")
      rep.put(s"Lineage.$s.wall_s", wall, "s")
      rep.put(s"Lineage.$s.rows_out", rows.toDouble, "rows")
    }
    rep.put("Lineage.parts_committed", committed.toDouble, "count")
    rep.put("Lineage.resume_parts_recomputed", (total - committed).toDouble, "count")
  }

  private val stageRows = scala.collection.mutable.Map.empty[String, Long]

  /** The direct chain composed from the public stage functions,
    * persisting and counting at each boundary, so every stage's work
    * lands in its own span; also checks every page's text_sha256
    * against the oracle's. */
  private def stages(tr: Tracer): Unit = {
    val path = ctx.fresh("stages-traced")
    val bcModel = spark.sparkContext.broadcast(Fixture.model)
    def stage[A <: Dataset[_]](name: String)(mk: => A): A = tr.span(name) {
      val ds = mk
      ds.persist(StorageLevel.MEMORY_AND_DISK)
      stageRows(name) = ds.count()
      ds
    }
    val extracted = stage("Stages.extract")(Stages.extract(pages, nParts))
    val tagged = stage("Stages.tag")(Stages.tag(extracted, bcModel))
    val raw = stage("Stages.rawTriples")(Stages.rawTriples(tagged).toDF()
      .select(Gen.RawCols.map(col): _*))
    val nodes = stage("Linking.nodesFromTripleArgs")(Linking.nodesFromTripleArgs(raw))
    val canon = stage("Canonicalize.canonMapAdaptive")(Canonicalize.canonMapAdaptive(nodes))
    val triples = stage("Canonicalize.rewrite")(Canonicalize.rewrite(raw, canon))
    tr.span("TripleSink.write")(TripleSink.write(triples, path, "traced", nParts = nParts))
    stageRows("TripleSink.write") = TripleSink.snapshots(path).last._3
    checkTriples(triplesOf(TripleSink.read(spark, path)), "kg_build traced stages")
    checkShas(extracted)
    spark.catalog.clearCache()
    Files.delete(path)
  }

  private def stageMetrics(tr: Tracer, meter: GroupMeter): Unit =
    Metrics.BuildCalls.foreach { c =>
      val s = spansOf(tr, c).head
      val t = tr.totals(meter, s)
      rep.put(s"$c.wall_s", s.seconds, "s")
      rep.put(s"$c.rows_out", stageRows(c).toDouble, "rows")
      rep.put(s"$c.task_s", t.taskMs / 1e3, "s")
      rep.put(s"$c.gc_s", t.gcMs / 1e3, "s")
      rep.put(s"$c.shuffle_write_bytes", t.shuffleWriteBytes.toDouble, "B")
      rep.put(s"$c.spill_bytes", t.spillBytes.toDouble, "B")
    }

  /** Gate: every extracted page's text_sha256 equals the oracle's. */
  private def checkShas(extracted: DataFrame): Unit = {
    import ctx.spark.implicits._
    val want = pages.mapPartitions { it =>
      RefOracle.process(it.map(Gen.oraclePage).toSeq).shaByUrl.iterator
    }.toDF("url", "want")
    val bad = extracted.select("url", "text_sha256")
      .join(want, Seq("url"), "full_outer")
      .filter(!(col("text_sha256") <=> col("want"))).count()
    rep.op(bad == 0, s"kg_build: $bad pages with a text_sha256 unlike the oracle's")
  }
}
