package perfbench

/** Every metric the benchmark reports, with its unit; BENCHMARK.json names
  * the same sets and the runner checks the printed line against it.
  */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "success_ratio" -> "ratio", "recall_at_10" -> "ratio",
    "build_s" -> "s", "query_p50_ms" -> "ms", "throughput" -> "1/s")

  val perLayer: Seq[(String, String)] = Seq(
    // VectorOps
    "kernel.rotate_us" -> "us", "kernel.l2sq_ns" -> "ns", "kernel.quantize_us" -> "us",
    "kernel.asymdot_ns_per_code" -> "ns", "kernel.asymdot_lut_ns_per_code" -> "ns",
    "kernel.codes_per_query" -> "count", "kernel.rerank_per_query" -> "count",
    "kernel.bytes_per_query" -> "B", "kernel.share" -> "ratio",
    // HotTier
    "hot.query_us.p50" -> "us", "hot.query_us.p99" -> "us", "hot.self_us" -> "us",
    "hot.precise_over_rough" -> "ratio", "hot.from_index_ms" -> "ms",
    // Serve
    "serve.p99_ms" -> "ms", "serve.http_self_ms" -> "ms", "serve.gen_late_ms" -> "ms",
    "serve.backlog_max" -> "count",
    "serve.reload_ms" -> "ms",
    // RabitqQuery
    "query.topk_s" -> "s", "query.disk_s" -> "s", "query.rough_per_query" -> "count",
    "query.precise_per_query" -> "count", "query.disk_bytes_read" -> "B",
    // RabitqIndex
    "index.kmeans_s" -> "s", "index.encode_s" -> "s", "index.save_s" -> "s",
    "index.load_ms" -> "ms", "index.cluster_skew" -> "ratio", "index.rebalance_s" -> "s",
    "index.rebalance_jobs" -> "count", "index.vacuum_ms" -> "ms",
    // VecsStream
    "stream.batches" -> "count", "stream.batch_ms.p50" -> "ms", "stream.plan_ms" -> "ms",
    "stream.add_batch_ms" -> "ms", "stream.wal_commit_ms" -> "ms", "stream.compact_s" -> "s",
    "stream.mutate_ops_per_s" -> "1/s",
    // spark
    "spark.jobs" -> "count", "spark.job_ms" -> "ms", "spark.driver_gap_ms" -> "ms",
    "spark.plan_ms" -> "ms", "spark.task_cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.shuffle_read_bytes" -> "B", "spark.shuffle_write_bytes" -> "B",
    // layout
    "layout.bytes_per_vector" -> "B", "layout.files" -> "count", "layout.write_amp" -> "ratio",
    // host and tracing
    "host.steal_ms" -> "ms", "host.loadavg_max" -> "count",
    "trace.spans" -> "count", "trace.bench_self_ms" -> "ms", "trace.blocking_cover" -> "ratio")

  private val unitOf = (endToEnd ++ perLayer).toMap

  /** Zero for per-layer metrics of layers the workload does not drive, so
    * each traced run reports the full set.
    */
  def absent(ctx: Ctx, names: String*): Unit =
    names.foreach(n => if (!ctx.metrics.contains(n)) ctx.metric(n, 0.0, unitOf(n)))

  val stream: Seq[String] = perLayer.map(_._1).filter(_.startsWith("stream."))
  val query: Seq[String] = perLayer.map(_._1).filter(_.startsWith("query."))
  val lifecycleOnly: Seq[String] = Seq("index.rebalance_s", "index.rebalance_jobs", "index.vacuum_ms")
}
