package graftbench

/** The metric names this benchmark reports, with units. `BENCHMARK.json`
  * lists the same names; [[SelfTest]] checks that the two agree. */
object Metrics {

  /** End-to-end metrics: printed by every workload with tracing off. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "op_p50_ms" -> "ms",
    "op_tail_ms" -> "ms",
    "ops_per_s" -> "1/s",
    "live_heap_mb" -> "MB")

  /** Per-layer metrics: printed by every workload with tracing on; a
    * layer the workload does not exercise reads 0. */
  val perLayer: Seq[(String, String)] = Seq(
    // workload headline figures that are not shared by every workload
    "ingest.samples_per_s" -> "samples/s",
    "ingest.stored_bytes_per_sample" -> "B/sample",
    "live.freshness_p50_ms" -> "ms",
    "live.freshness_p90_ms" -> "ms",
    "live.offered_samples_per_s" -> "samples/s",
    "batch.wall_s" -> "s",
    "serve.layout_write_s" -> "s",
    // io.WireIngest
    "wire.busy_s" -> "s",
    "wire.ack_wait_ms.p50" -> "ms",
    // io.RunLog spool
    "spool.busy_s" -> "s",
    "spool.calls" -> "count",
    "spool.samples_per_s" -> "samples/s",
    "spool.run_bytes_per_sample" -> "B/sample",
    "spark.spool.tasks" -> "count",
    // io.RunLog fold / io.Ingest layout write
    "fold.busy_s" -> "s",
    "fold.calls" -> "count",
    "fold.samples_per_s" -> "samples/s",
    "fold.files_landed" -> "count",
    "fold.layout_bytes_per_sample" -> "B/sample",
    "spark.fold.shuffle_write_bytes" -> "B",
    "spark.fold.spill_bytes" -> "B",
    "spark.fold.gc_ms" -> "ms",
    "fold.query_overlap_share" -> "share",
    // backlog and load generator
    "ingest.backlog_max_sessions" -> "count",
    "writer.late_ms.max" -> "ms",
    // store open (the storeProvider call)
    "store.open_ms.p50" -> "ms",
    // ast.QueryJson / serve.Api / plan.Planner
    "parse_ms.p50" -> "ms",
    "api.query_lines_ms.p50" -> "ms",
    "planner.plan_ms.p50" -> "ms",
    "api.probe_ms.p50" -> "ms",
    "spark.plan_ms.p50" -> "ms",
    // Spark execution / serve.OutputFormat
    "exec.first_row_ms.p50" -> "ms",
    "exec.drain_ms.p90" -> "ms",
    "format.extra_ms.p50" -> "ms",
    // serve.ApiHttp
    "http.overhead_ms.p50" -> "ms",
    "http.bytes_per_query" -> "B",
    // where a narrow select's time goes
    "narrow_select.http_ms.p50" -> "ms",
    "narrow_select.query_lines_ms.p50" -> "ms",
    "narrow_select.probe_ms.p50" -> "ms",
    "narrow_select.first_row_ms.p50" -> "ms",
    "narrow_select.drain_ms.p50" -> "ms",
    "narrow_select.http_overhead_ms.p50" -> "ms") ++
    Mix.Kinds.map(k => s"serve.$k.p50_ms" -> "ms") ++ Seq(
    // Spark counters per replayed query
    "spark.jobs_per_query" -> "count",
    "spark.stages_per_query" -> "count",
    "spark.tasks_per_query" -> "count",
    "spark.input_bytes_per_query" -> "B",
    "spark.rows_read_per_row_returned" -> "ratio",
    "spark.shuffle_write_bytes_per_query" -> "B",
    "spark.gc_ms_per_query" -> "ms",
    // sources.TestData
    "testdata.events_build_ms" -> "ms") ++
    BatchWorkload.Gates.map(g => s"batch.${g}_s" -> "s") ++ Seq(
    "batch.ts.stages" -> "count",
    "batch.llm.stages" -> "count",
    "batch.ts.shuffle_bytes" -> "B",
    "batch.llm.shuffle_bytes" -> "B",
    // what tracing itself costs: traced half minus untraced half
    "trace.overhead.op_p50_ms" -> "ms",
    "trace.overhead.op_tail_ms" -> "ms",
    "trace.overhead.ops_per_s" -> "1/s")

  private val units = (endToEnd ++ perLayer).toMap
  def unitOf(name: String): String =
    units.getOrElse(name, sys.error(s"unregistered metric $name"))
}
