package graft.perfbench

/** The per-layer metrics a traced run reports. Every workload reports the
  * full list; a layer the workload does not exercise reads 0 (for example
  * `streaming.*` and `server.*` on `curation`, `pipeline.*` off it). Workloads
  * add raw samples under a metric's base name (`server.refresh_ms`) and
  * the suffix picks the statistic (`_p50`, `_p90`, `_p95`, `_p99`);
  * `plans.share_of_query` and `operators.exec_ms.<template>` are
  * medians; other names carry one computed value. */
object LayerMetrics {

  /** (name, unit, better) — BENCHMARK.json's `per_layer` mirrors this. */
  val spec: Seq[(String, String, String)] = Seq(
    ("server.overhead_ms_p50", "ms", "lower"),
    ("server.refresh_ms_p50", "ms", "lower"),
    ("server.response_bytes_p50", "bytes", "lower"),
    ("server.insert_decode_ms_p50", "ms", "lower"),
    ("server.insert_write_ms_p50", "ms", "lower"),
    ("plans.parse_ms_p50", "ms", "lower"),
    ("plans.analyze_ms_p50", "ms", "lower"),
    ("plans.optimize_ms_p50", "ms", "lower"),
    ("plans.share_of_query", "ratio", "lower")) ++
    Templates.names.map(t => (s"operators.exec_ms.$t", "ms", "lower")) ++ Seq(
    ("operators.jobs_per_query", "count", "lower"),
    ("operators.stages_per_query", "count", "lower"),
    ("operators.tasks_per_query", "count", "lower"),
    ("operators.files_read_per_query", "count", "lower"),
    ("operators.bytes_read_per_query", "bytes", "lower"),
    ("operators.rows_scanned_per_row_matched", "ratio", "lower"),
    ("operators.shuffle_bytes_per_query", "bytes", "lower"),
    ("operators.spill_bytes", "bytes", "lower"),
    ("operators.cpu_frac", "ratio", "higher"),
    ("sources.files_per_partition", "count", "lower"),
    ("sources.stored_bytes_per_wire_byte", "ratio", "lower"),
    ("streaming.batches", "count", "lower"),
    ("streaming.rows_per_batch_p50", "count", "higher"),
    ("streaming.trigger_ms_p50", "ms", "lower"),
    ("streaming.trigger_ms_p95", "ms", "lower"),
    ("streaming.add_batch_ms_p50", "ms", "lower"),
    ("streaming.offset_ms_p50", "ms", "lower"),
    ("streaming.commit_ms_p50", "ms", "lower"),
    ("streaming.busy_frac", "ratio", "lower"),
    ("streaming.backlog_events_max", "count", "lower"),
    ("streaming.dlq_rows", "count", "lower"),
    ("streaming.replays", "count", "lower"),
    ("streaming.decode_mb_per_s", "MB/s", "higher"),
    ("ingest.fresh_lag_ms_p50", "ms", "lower"),
    ("ingest.fresh_lag_ms_p90", "ms", "lower"),
    ("ingest.catchup_events_per_s", "1/s", "higher"),
    ("ingest.insert_ms_p50", "ms", "lower"),
    ("ingest.live_query_ms_p50", "ms", "lower"),
    ("pipeline.backbone_s", "s", "lower"),
    ("pipeline.vec_index_s", "s", "lower"),
    ("pipeline.consumers_s", "s", "lower"),
    ("pipeline.shuffle_write_bytes", "bytes", "lower"),
    ("pipeline.shuffle_read_bytes", "bytes", "lower"),
    ("pipeline.spill_bytes", "bytes", "lower"),
    ("pipeline.stages", "count", "lower"),
    ("pipeline.tasks", "count", "lower"),
    ("pipeline.task_skew", "ratio", "lower"),
    ("pipeline.stored_bytes_per_corpus_byte", "ratio", "lower"),
    ("pipeline.candidate_pairs", "count", "lower"),
    ("pipeline.verified_pair_frac", "ratio", "higher"),
    ("jvm.gc_ms", "ms", "lower"),
    ("jvm.gc_count", "count", "lower"),
    ("jvm.jit_ms", "ms", "lower"),
    ("bench.generator_late_ms_p99", "ms", "lower"),
    ("trace.overhead_frac", "ratio", "lower"))

  private val Quantile = """(.*)_p(\d\d)$""".r

  def report(ctx: Ctx): Report = {
    val r = new Report
    spec.foreach { case (name, unit, _) =>
      val v = name match {
        case "trace.overhead_frac" => ctx.overheadFrac
        // medians of per-query samples, under the names the issue uses
        case n if n == "plans.share_of_query" || n.startsWith("operators.exec_ms.") =>
          Stats.median(ctx.samples.get(n))
        case Quantile(base, p) => Stats.q(ctx.samples.get(base), p.toInt / 100.0)
        case other => ctx.samples.get(other).lastOption.getOrElse(0.0)
      }
      r.put(name, v, unit)
    }
    r
  }

  /** Table census: data files per date partition, and stored bytes per
    * wire byte of the events those tables hold. */
  def sources(ctx: Ctx, dataDir: String, wireBytes: Long): Unit = {
    val tables = Option(new java.io.File(dataDir).listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && !d.getName.startsWith("_") && !d.getName.startsWith("."))
    val parts = tables.flatMap(t => Option(t.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("event_date=")))
    val files = tables.flatMap(t => Files.dataFiles(t)).filter(_.getName.endsWith(".parquet"))
    ctx.samples.add("sources.files_per_partition", files.size.toDouble / math.max(1, parts.size))
    ctx.samples.add("sources.stored_bytes_per_wire_byte",
      files.map(_.length).sum.toDouble / math.max(1L, wireBytes))
  }

  /** Per-query operator counts from the traced in-process re-runs. */
  def operators(ctx: Ctx): Unit = {
    Listeners.drain(ctx.spark)
    val c = ctx.sparkCounts.sum("bq-")
    val n = math.max(1, ctx.samples.get("plans.parse_ms").size).toDouble
    val s = ctx.samples
    s.add("operators.jobs_per_query", c.jobs / n)
    s.add("operators.stages_per_query", c.stages / n)
    s.add("operators.tasks_per_query", c.tasks / n)
    s.add("operators.files_read_per_query", s.get("operators.files_read").sum / n)
    s.add("operators.bytes_read_per_query", c.inputBytes / n)
    s.add("operators.rows_scanned_per_row_matched",
      s.get("operators.rows_scanned").sum / math.max(1.0, s.get("operators.rows_matched").sum))
    s.add("operators.shuffle_bytes_per_query", c.shuffleWrite / n)
    s.add("operators.spill_bytes", c.spill.toDouble)
    s.add("operators.cpu_frac", c.cpuNs / 1e6 / math.max(1L, c.runMs))
  }
}
