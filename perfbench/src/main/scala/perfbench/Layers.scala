package perfbench

/** Every per-layer metric of the traced run, with its unit, in the
  * order `BENCHMARK.json` lists them.
  */
object Layers {
  val Kernels: Seq[String] = Probes.Kernels.map(_._1)

  val perLayer: Seq[(String, String)] = Seq(
    "resp.decode_mb_per_s" -> "MB/s",
    "resp.decode_frames_per_s" -> "1/s",
    "resp.decode_alloc_bytes_per_frame" -> "B",
    "resp.encode_ns_per_command" -> "ns",
    "net.round_trips_per_1k_keys" -> "count",
    "net.commands_per_round_trip" -> "count",
    "net.bytes_rx_per_key" -> "B",
    "net.connects_per_op" -> "count",
    "net.scan_page_ms_p50" -> "ms",
    "net.mget_batch_ms_p50" -> "ms",
    "net.set_batch_ms_p50" -> "ms",
    "sources.reader_keys_per_s" -> "1/s",
    "sources.reader_alloc_bytes_per_key" -> "B",
    "sources.writer_rows_per_s" -> "1/s",
    "sources.lookup_rows_per_s" -> "1/s",
    "sources.partitions_per_op" -> "count",
    "server.cpu_ms_per_op" -> "ms",
    "server.commands_per_op" -> "count",
    "server.scan_match_ratio" -> "ratio") ++
    Kernels.flatMap(k => Seq(s"functions.$k.ns_per_row.codegen" -> "ns", s"functions.$k.ns_per_row.interpreted" -> "ns")) ++
    Seq(
      "fs.read_ops_per_op" -> "count",
      "fs.write_ops_per_op" -> "count",
      "fs.bytes_written_per_op" -> "B") ++
    OlapPipeline.Queries.map(q => s"query.$q.ms" -> "ms") ++
    Seq(
      "spark.jobs_per_op" -> "count",
      "spark.stages_per_op" -> "count",
      "spark.tasks_per_op" -> "count",
      "spark.planning_ms_per_op" -> "ms",
      "spark.exec_ms_per_op" -> "ms",
      "spark.task_cpu_over_wall" -> "ratio",
      "spark.shuffle_bytes_per_op" -> "B",
      "spark.spill_bytes_per_op" -> "B",
      "jvm.gc_ms_per_op" -> "ms",
      "jvm.codegen_compiles_per_op" -> "count",
      "jvm.alloc_mb_per_op" -> "MB",
      "op.write_ms_p50" -> "ms",
      "op.lookup_ms_p50" -> "ms",
      "trace.overhead_pct" -> "%")
}
