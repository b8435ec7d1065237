package graft.perfbench

/** Turns per-sample values into the result line. Every value is a median
  * over the run's samples, so one slow sample does not move a run. */
object Report {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  private def med(samples: Seq[Map[String, Double]], k: String): Double =
    median(samples.flatMap(_.get(k)))

  /** Name, unit of every end-to-end metric, in `BENCHMARK.json` order. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "events_per_s" -> "events/s",
    "cpu_s_per_mevent" -> "s/Mevent",
    "delivered_ratio" -> "ratio",
    "wire_bytes_per_event" -> "B/event",
    "file_latency_p50_s" -> "s",
    "file_latency_p90_s" -> "s",
    "setup_s" -> "s",
    "peak_rss_mb" -> "MB")

  def endToEnd(samples: Seq[Map[String, Double]], setupS: Double, rssMb: Double): Seq[Metric] =
    EndToEnd.map { case (n, u) =>
      Metric(n, n match {
        case "setup_s" => setupS
        case "peak_rss_mb" => rssMb
        case _ => med(samples, n)
      }, u)
    }

  /** Name, unit of every per-layer metric, in `BENCHMARK.json` order. */
  val PerLayer: Seq[(String, String)] = Seq(
    "list.s" -> "s",
    "route.s" -> "s", "route.uris" -> "count", "route.unmatched" -> "count",
    "footer.s" -> "s", "footer.files" -> "count", "footer.corrupt" -> "count",
    "ledger.filter_s" -> "s", "ledger.record_s" -> "s",
    "transform.s" -> "s", "transform.task_cpu_s" -> "s", "transform.rows_in" -> "count",
    "transform.rows_dlq" -> "count",
    "scan.bytes_read" -> "B", "scan.files" -> "count", "scan.passes" -> "ratio",
    "sink.s" -> "s", "sink.task_cpu_s" -> "s", "sink.self_s" -> "s",
    "sink.batches" -> "count", "sink.bytes_raw" -> "B", "sink.bytes_gz" -> "B",
    "sink.reposts" -> "count",
    "post.attempts" -> "count", "post.retries_429" -> "count", "post.retries_5xx" -> "count",
    "post.exceptions" -> "count", "post.exceptions_timeout" -> "count",
    "post.exceptions_io" -> "count", "post.exceptions_other" -> "count",
    "post.latency_p50_ms" -> "ms", "post.latency_p99_ms" -> "ms", "post.busy_s" -> "s",
    "backoff.s" -> "s",
    "dlq.transform_rows" -> "count", "dlq.api_rows" -> "count", "dlq.write_s" -> "s",
    "stream.batches" -> "count", "stream.batch_p50_s" -> "s", "stream.add_batch_p50_s" -> "s",
    "stream.list_p50_s" -> "s", "stream.commit_p50_s" -> "s", "stream.planning_p50_s" -> "s",
    "stream.jobs_per_batch" -> "count", "stream.backlog_files_max" -> "count",
    "gen.late_ms_max" -> "ms",
    "gc_s" -> "s", "task_cpu_s" -> "s", "steal_s" -> "s",
    "run.s" -> "s", "run.self_s" -> "s", "trace.coverage" -> "ratio",
    "trace.overhead_pct" -> "%")

  /** Traced samples carry the layer values; untraced samples carry only
    * `wall_s` (batch) or `latency_p50_s` (stream) for the overhead. */
  def perLayer(samples: Seq[Map[String, Double]]): Seq[Metric] = {
    val traced = samples.filter(_.contains("run.s"))
    val untraced = samples.filterNot(_.contains("run.s"))
    val key = if (traced.exists(_.contains("latency_p50_s"))) "latency_p50_s" else "wall_s"
    val base = med(untraced, key)
    val overhead = if (base > 0) (med(traced, key) / base - 1) * 100 else 0.0
    PerLayer.map { case (n, u) =>
      Metric(n, if (n == "trace.overhead_pct") overhead else med(traced, n), u)
    }
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def json(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[Metric]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
        .mkString(", ") + "}}"
}
