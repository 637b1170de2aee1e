package perfbench

/** Every per-layer metric a traced run reports, with its unit. A workload
  * that bypasses a layer reports 0 for it. `host.*` metrics are added by
  * the launcher, which samples the host around the whole process. */
object Layers {
  private def s(names: String*) = names.map(_ -> "s")

  private val exchangeKeys =
    (QueryW.Curate ++ QueryW.Frames).map(_.name) ++ Seq("pending", "upsert")

  val all: Seq[(String, String)] =
    s("sources.scan_s", "sources.tokengen_s", "functions.features_ll_s",
      "features.assembly_s", "features.refresh_s", "sink.upsert_s", "sink.noop_rerun_s",
      "sink.pending_s", "sink.refresh_upsert_s") ++
    Seq("sources.bytes_read" -> "B", "sources.rows_read" -> "count",
      "sink.bytes_written" -> "B", "sink.files_written" -> "count",
      "sink.rows_written" -> "count", "sink.refresh_rows_written" -> "count",
      "sink.pending_rows" -> "count",
      "sink.read_bytes" -> "B", "sink.write_amp" -> "ratio") ++
    QueryW.Curate.flatMap(l =>
      s(s"ops.${l.name}.wall_s", s"ops.${l.name}.construct_s", s"ops.${l.name}.exec_s") :+
        (s"driver.${l.name}.result_bytes" -> "B")) ++
    QueryW.Frames.flatMap(l => s(s"queries.${l.name}.wall_s")) ++
    s("core.frame_rows_s") ++
    exchangeKeys.flatMap(k => Seq(
      s"exchange.$k.shuffle_write_bytes" -> "B", s"exchange.$k.shuffle_records" -> "count",
      s"exchange.$k.spill_bytes" -> "B", s"exchange.$k.stages" -> "count")) ++
    s("jvm.gc_s") ++ Seq("jvm.peak_exec_mem_bytes" -> "B") ++
    s("trace.self_sum_s", "trace.untraced_s", "trace.overhead_s")
}
