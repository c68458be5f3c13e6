package kgbench

import org.apache.spark.sql.SparkSession
import graft.HostMeter

/** The layered KG-engine benchmark (see kgbench/README.md).
  *
  *   Main --workload <kg_build|kg_maintain>
  *        --seed <n> --seconds <s> --trace <0|1> --work <dir> [--spans <file>]
  *
  * One JVM, Spark local[nproc] with nproc shuffle partitions, one
  * closed-loop client. Prints every metric as `metric <name> <value>
  * <unit>`, then a one-line summary, then the result JSON as the last
  * line. Exits 1 without a result when no pass completes.
  *
  * Sizes: one kg_build pass is a few seconds; one kg_maintain pass
  * (4 folds) is about 40 s on 4 cores, so its run makes one pass. */
object Main {

  val Corpus = Gen.Corpus(pages = 3000, heavy = 8)
  val DeltaShape = Gen.Delta(batches = 4, clusters = 100, rows = 1000)
  val WarmDelta = Gen.Delta(batches = 2, clusters = 20, rows = 100)
  val OpMix = Gen.OpMix(appendRows = 1000, mergeRows = 200, morAdds = 300, morDels = 200,
    lookups = 5, lookupSubjects = 16)

  def main(args: Array[String]): Unit = {
    val started = System.nanoTime()
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val work = need("work")
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"kgbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.default.parallelism", cores.toLong)
      // the engine's own benchmark session settings (graft.Bench)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rep = new Report
    val ctx = Ctx(spark, seed, work, cores, rep)
    val w: Workload = workload match {
      case "kg_build" => new KgBuild(ctx, Corpus)
      case "kg_maintain" => new KgMaintain(ctx, DeltaShape, WarmDelta, OpMix)
      case other => sys.error(s"unknown workload $other")
    }
    val ok = try {
      run(w, rep, workload, seed, seconds, trace, opt.get("spans"), started)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        false
    } finally spark.stop()
    sys.exit(if (ok) 0 else 1)
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def host(rep: Report, hosts: Seq[(Double, Double, Double)]): Unit = {
    rep.put("HostMeter.busy_pct", Stats.median(hosts.map(_._1)), "%")
    rep.put("HostMeter.steal_pct", Stats.median(hosts.map(_._2)), "%")
    rep.put("HostMeter.calib_spin_ms", Stats.median(hosts.map(_._3)), "ms")
  }

  /** Untraced passes for `seconds` (at least one): the end-to-end
    * metrics. False when no pass completed. */
  private def untraced(w: Workload, rep: Report, workload: String, seconds: Double,
                       phase: String => Unit): Boolean = {
    val passes = scala.collection.mutable.ArrayBuffer.empty[PassOut]
    val hosts = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Double)]
    var errors = 0
    val loop = System.nanoTime()
    while ((passes.size < w.minPasses || secs(loop) < seconds) && errors < 3) {
      val calib = HostMeter.calibSpinMs(1L << 24)
      try {
        val (out, busy, steal) = HostMeter.during(w.pass(passes.size))
        passes += out
        hosts += ((busy, steal, calib))
        phase(f"pass ${passes.size} took ${out.seconds}%.3f s")
      } catch {
        case e: Exception =>
          errors += 1
          e.printStackTrace()
          rep.op(ok = false, s"$workload pass ${passes.size} threw $e")
      }
    }
    if (passes.isEmpty) return false
    val ps = passes.toSeq
    rep.attempted += ps.map(_.calls.size).sum
    rep.put("pass_s", Stats.median(ps.map(_.seconds)), "s")
    rep.put("items_per_s", ps.head.items / Stats.median(ps.map(_.seconds)), "1/s")
    rep.put("bytes_per_row", Stats.median(ps.map(_.bytesPerRow)), "B/row")
    rep.put("triple_f1", ps.map(_.f1).min, "ratio")
    rep.put("passes", ps.size.toDouble, "count")
    w.summarize(ps)
    host(rep, hosts.toSeq)
    true
  }

  /** One traced pass: the per-layer metrics, spans written as JSON. */
  private def traced(w: Workload, rep: Report, workload: String, seed: Long,
                     spansFile: Option[String]): Unit = {
    val sc = w.ctx.spark.sparkContext
    val tr = new Tracer(sc, s"$workload-$seed")
    val meter = new GroupMeter
    sc.addSparkListener(meter)
    val calib = HostMeter.calibSpinMs(1L << 24)
    val (overhead, busy, steal) = HostMeter.during(w.traced(tr, meter))
    sc.removeSparkListener(meter)
    host(rep, Seq((busy, steal, calib)))
    rep.put("trace.overhead_s", overhead, "s")
    spansFile.foreach { f =>
      java.nio.file.Files.write(java.nio.file.Paths.get(f),
        tr.toJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    // a layer this workload never calls did no work in it
    Metrics.PerLayer.foreach { case (n, u) => if (rep.get(n).isEmpty) rep.put(n, 0.0, u) }
  }

  def run(w: Workload, rep: Report, workload: String, seed: Long, seconds: Double,
          trace: Boolean, spansFile: Option[String], started: Long): Boolean = {
    def phase(name: String): Unit = System.err.println(f"kgbench: $name at ${secs(started)}%.1f s")
    phase("session up")
    val t0 = System.nanoTime()
    w.setup()
    rep.put("inputs_s", secs(t0), "s")
    phase("set up")
    w.prepare()
    phase("reference answers ready")
    w.warm(trace)
    phase("warm-up pass done")
    // process start (JVM launch) to the first timed pass: session,
    // inputs, reference answers, JIT and the engine's lazy set-up
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    rep.put("setup_s", (System.currentTimeMillis() - jvm) / 1e3, "s")

    if (trace) traced(w, rep, workload, seed, spansFile)
    else if (!untraced(w, rep, workload, seconds, phase)) return false

    rep.put("failed_frac", rep.failedFrac, "ratio")

    rep.all.foreach { case (n, v, u) => println(s"metric $n ${Report.num(v)} $u") }
    val e2e = Metrics.EndToEnd.map(_._1) ++ Seq("docs_per_s", "ckpt_docs_per_s", "resume_s",
      "fold_p50_s", "fold_growth", "publish_p50_s", "commit_p50_s", "lookup_p50_s",
      "scan_p50_s", "failed_frac", "passes", "trace.overhead_s")
    println(s"summary workload=$workload seed=$seed " + e2e.flatMap(n =>
      rep.get(n).map(v => f"$n=$v%.4g")).mkString(" "))
    println(rep.line(if (trace) Metrics.PerLayer.map(_._1) else Metrics.EndToEnd.map(_._1)))
    true
  }
}
