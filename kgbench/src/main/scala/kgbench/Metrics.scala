package kgbench

/** Every metric name the benchmark reports, with its unit. The
  * end-to-end and per-layer lists are the ones BENCHMARK.json declares
  * (run.py checks the final line against it). */
object Metrics {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "pass_s" -> "s", "items_per_s" -> "1/s",
    "bytes_per_row" -> "B/row", "triple_f1" -> "ratio")

  /** The public calls the traced kg_build pass composes itself. */
  val BuildCalls: Seq[String] = Seq("Stages.extract", "Stages.tag", "Stages.rawTriples",
    "Linking.nodesFromTripleArgs", "Canonicalize.canonMapAdaptive",
    "Canonicalize.rewrite", "TripleSink.write")
  val BuildFields: Seq[(String, String)] = Seq("wall_s" -> "s", "rows_out" -> "rows",
    "task_s" -> "s", "gc_s" -> "s", "shuffle_write_bytes" -> "B", "spill_bytes" -> "B")

  val LineageStages: Seq[String] = Seq("extracted", "triples_raw", "canon_map", "triples")

  val FoldFields: Seq[(String, String)] = Seq("wall_s" -> "s", "task_s" -> "s",
    "gc_s" -> "s", "jobs" -> "count", "shuffle_write_bytes" -> "B")

  val SinkCommits: Seq[String] = Seq("append", "merge", "mor_delta", "compact")
  val SinkReads: Seq[String] = Seq("lookup", "read", "sql_view", "as_of")
  val SinkOps: Seq[String] = SinkCommits ++ SinkReads

  val PerLayer: Seq[(String, String)] =
    (for (c <- BuildCalls; (f, u) <- BuildFields) yield s"$c.$f" -> u) ++
      LineageStages.flatMap(s => Seq(s"Lineage.$s.wall_s" -> "s", s"Lineage.$s.rows_out" -> "rows")) ++
      Seq("Lineage.parts_committed" -> "count", "Lineage.resume_parts_recomputed" -> "count",
        "Pipeline.run.cold.task_s" -> "s", "Pipeline.run.cold.gc_s" -> "s",
        "Pipeline.run.cold.shuffle_write_bytes" -> "B", "Pipeline.run.cold.jobs" -> "count",
        "Pipeline.run.resume.task_s" -> "s", "Pipeline.run.resume.jobs" -> "count") ++
      FoldFields.flatMap { case (f, u) =>
        Seq(s"DurableKg.fold.$f.p50" -> u, s"DurableKg.fold.$f.growth" -> "ratio")
      } ++
      Seq("TripleSink.applyDelta.wall_s" -> "s", "KgDelta.delta_rows" -> "rows",
        "DurableKg.state_bytes" -> "B", "DurableKg.state_dirs" -> "count") ++
      SinkOps.flatMap(o => Seq(s"sink.$o.wall_s" -> "s", s"sink.$o.tasks" -> "count")) ++
      SinkReads.map(o => s"sink.$o.files_read" -> "count") ++
      SinkCommits.map(o => s"sink.$o.bytes_written" -> "B") ++
      Seq("TripleSink.data_files" -> "count", "TripleSink.delete_files" -> "count",
        "TripleSink.manifests" -> "count", "TripleSink.table_bytes" -> "B",
        "HostMeter.steal_pct" -> "%", "HostMeter.busy_pct" -> "%",
        "HostMeter.calib_spin_ms" -> "ms", "trace.overhead_s" -> "s")
}
