package graft.perfbench

/** The per-layer ledger the traced run prints: every metric with its unit,
  * which way is better, the end-to-end metric (and workload) it should move,
  * and whether it is a count that repeats exactly across runs of one seed.
  * `Main --ledger` prints it as JSON (committed as `perfbench/ledger.json`). */
object Ledger {
  final case class Entry(name: String, unit: String, better: String, moves: String,
                         workloads: Seq[String], exact: Boolean = false)

  /** Span kinds with a Spark-engine and Hadoop-FS row each. */
  val SpanKinds = Seq("scan", "collapse", "stream", "images", "append", "fold", "probe", "advice")

  private val all = Seq("live", "maintain")
  private val stream = Seq("live", "maintain")

  private def spanTarget(kind: String): (String, Seq[String]) = kind match {
    case "scan" | "collapse" => ("catchup_rows_per_s", Seq("live"))
    case "stream" => ("live_lag_ms_p50, catchup_rows_per_s, maintain_rows_per_s", stream)
    case "probe" => ("probe_ms_p50", Seq("maintain"))
    case _ => ("maintain_rows_per_s", Seq("maintain"))
  }

  val entries: Seq[Entry] = Seq(
    Entry("binlog.decode_mb_per_s", "MB/s", "higher", "catchup_rows_per_s", Seq("live")),
    Entry("binlog.row_images_per_s", "rows/s", "higher", "catchup_rows_per_s", Seq("live")),
    Entry("sources.scan_mb_per_s", "MB/s", "higher", "catchup_rows_per_s", Seq("live")),
    Entry("sources.scan_partitions", "count", "higher", "catchup_rows_per_s", Seq("live"), exact = true),
    Entry("sources.latest_offset_ms_p50", "ms", "lower", "live_lag_ms_p50, maintain_rows_per_s", stream),
    Entry("sources.query_planning_ms_p50", "ms", "lower", "live_lag_ms_p50, maintain_rows_per_s", stream),
    Entry("sources.batches", "count", "lower", "live_lag_ms_p99, maintain_rows_per_s", stream),
    Entry("sources.rows_per_batch_p50", "rows", "higher", "live_lag_ms_p99, maintain_rows_per_s", stream),
    Entry("sources.lag_bytes_p99", "bytes", "lower", "live_lag_ms_p99", Seq("live")),
    Entry("streaming.add_batch_ms_p50", "ms", "lower", "live_lag_ms_p50", stream),
    Entry("streaming.add_batch_ms_p99", "ms", "lower", "live_lag_ms_p99", stream),
    Entry("streaming.commit_ms_p50", "ms", "lower", "live_lag_ms_p50, catchup_rows_per_s", stream),
    Entry("streaming.trigger_gap_ms_p50", "ms", "lower", "catchup_rows_per_s", stream),
    Entry("query.collapse_s", "s", "lower", "catchup_rows_per_s", Seq("live")),
    Entry("maintain.images_ms_p50", "ms", "lower", "maintain_rows_per_s", Seq("maintain")),
    Entry("advice.measure_ms_p50", "ms", "lower", "maintain_rows_per_s", Seq("maintain"))) ++
    Seq("text", "ann", "fp", "band").flatMap(k => Seq(
      Entry(s"$k.append_ms_p50", "ms", "lower", "maintain_rows_per_s", Seq("maintain")),
      Entry(s"$k.fold_ms_p50", "ms", "lower", "maintain_rows_per_s, probe_ms_p99", Seq("maintain")),
      Entry(s"$k.probe_ms_p50", "ms", "lower", "probe_ms_p50", Seq("maintain")),
      Entry(s"$k.segments_max", "count", "lower", "probe_ms_p50", Seq("maintain"), exact = true),
      Entry(s"$k.bytes", "bytes", "lower", "maintain_space_amp", Seq("maintain"), exact = true))) ++
    SpanKinds.flatMap { k =>
      val (moves, ws) = spanTarget(k)
      // a live micro-batch's size follows the clock, so its job mix does
      // too; the four concurrent folds' job count was seen to vary by one
      val exactCalls = k != "stream"
      val exactJobs = exactCalls && k != "fold"
      Seq(
        Entry(s"spark.$k.jobs", "count", "lower", moves, ws, exact = exactJobs),
        Entry(s"spark.$k.tasks", "count", "lower", moves, ws, exact = exactJobs),
        Entry(s"spark.$k.job_ms", "ms", "lower", moves, ws),
        Entry(s"spark.$k.driver_gap_ms", "ms", "lower", moves, ws)) ++
        CountingFileSystem.Ops.map(op => Entry(s"fs.$k.${op}_calls", "count", "lower",
          if (k == "probe") "probe_ms_p50" else moves, ws, exact = exactCalls)) :+
        Entry(s"self.${k}_s", "s", "lower", moves, ws)
    } ++ Seq(
    Entry("self.binlog_s", "s", "lower", "catchup_rows_per_s", Seq("live")),
    Entry("self.sources_s", "s", "lower", "catchup_rows_per_s", Seq("live")),
    Entry("self.check_s", "s", "lower", "catchup_rows_per_s", Seq("live")),
    Entry("jvm.gc_ms", "ms", "lower", "every latency_ms_p99", all),
    Entry("gen.late_ms_p99", "ms", "lower", "validity of live_lag_ms_*", Seq("live")),
    Entry("trace.coverage", "ratio", "higher", "validity of the layer split", all),
    Entry("replay.coverage", "ratio", "higher", "validity of the codec/scan/collapse split", Seq("live")),
    Entry("overhead.rows_per_s", "rows/s", "higher", "tracing cost on rows_per_s", all),
    Entry("overhead.latency_ms_p50", "ms", "lower", "tracing cost on latency_ms_p50", all),
    Entry("overhead.latency_ms_p99", "ms", "lower", "tracing cost on latency_ms_p99", all),
    Entry("overhead.space_amp", "ratio", "lower", "tracing cost on space_amp", all))

  def metrics: Seq[(String, String)] = entries.map(e => e.name -> e.unit)

  def json: String = entries.map { e =>
    s"""  {"name": "${e.name}", "unit": "${e.unit}", "better": "${e.better}", "moves": "${e.moves}", """ +
      s""""workloads": [${e.workloads.map(w => s""""$w"""").mkString(", ")}], "exact": ${e.exact}}"""
  }.mkString("[\n", ",\n", "\n]")
}
