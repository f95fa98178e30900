package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.EngineSession

/** Everything one benchmark run shares: the session, the seed, the timed
  * window, the tracer and listener counts, and the two result maps
  * (end-to-end metrics; per-layer samples). */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val trace: Boolean, val runDir: java.io.File, val cores: Int,
                val sessionS: Double) {
  val tracer = new Tracer(trace)
  val samples = new Samples
  val outcome = new Outcome
  val result = new Report
  /** Workload-specific user-facing figures (for example ingest freshness),
    * printed on a `BENCH_DETAIL` line ahead of the result. */
  val detail = new Report
  val sparkCounts = new SparkCounts
  val streamCounts = new StreamCounts
  var setupS = 0.0
  var overheadFrac = 0.0
  private val born = System.nanoTime()

  /** Run `n` timed set-up rounds on fresh paths; every round but the last
    * is released untimed. Returns (seconds, result) per round. */
  def setupRounds[T](n: Int)(round: Int => T)(release: T => Unit): Seq[(Double, T)] =
    (1 to n).map { k =>
      val t0 = System.nanoTime()
      val v = tracer.span("setup.round", s"setup-$k")(round(k))
      val s = (System.nanoTime() - t0) / 1e9
      phase(f"set-up round $k took $s%.2f s")
      if (k < n) release(v)
      (s, v)
    }

  /** Log a phase boundary (seconds since the run began) to stderr. */
  def phase(name: String): Unit =
    System.err.println(f"[bench] ${(System.nanoTime() - born) / 1e9}%7.2f s  $name")

  /** Run the timed window: `body` gets the window's end (ns). Returns the
    * window's start (ns). JVM GC/JIT counters are taken across the body. */
  def window(length: Double = seconds)(body: Long => Unit): Long = {
    val gc0 = Jvm.gcMs; val gcn0 = Jvm.gcCount; val jit0 = Jvm.jitMs
    val start = System.nanoTime()
    body(start + (length * 1e9).toLong)
    samples.add("jvm.gc_ms", (Jvm.gcMs - gc0).toDouble)
    samples.add("jvm.gc_count", (Jvm.gcCount - gcn0).toDouble)
    samples.add("jvm.jit_ms", (Jvm.jitMs - jit0).toDouble)
    start
  }

  /** The query metrics from the untraced answers of a window; a traced
    * run also derives the tracing overhead from its traced part. */
  def putQueries(answers: Seq[Answer], startNs: Long): Unit = {
    val untraced = answers.filterNot(_.traced)
    val lat = untraced.map(_.sec * 1000)
    result.put("query_p50_ms", Stats.median(lat), "ms")
    result.put("query_p95_ms", Stats.q(lat, 0.95), "ms")
    // answers over the time until the last of them arrived: a closed loop
    // finishes the queries in flight at the window's end
    val lastNs = untraced.map(_.doneNs).maxOption.getOrElse(startNs)
    result.put("queries_per_s", lat.size / math.max(1e-9, (lastNs - startNs) / 1e9), "1/s")
    if (trace) {
      val tr = answers.filter(_.traced).map(_.sec * 1000)
      overheadFrac = Stats.median(tr) / math.max(1e-9, Stats.median(lat)) - 1
    }
  }
}

/** Benchmark entry point:
  * `BenchMain --workload <ingest_live|curation> --seed <n>
  *  --seconds <s> --trace <0|1> --run-dir <dir> [--trace-out <file>]`.
  * Prints one JSON result object as the last line of stdout and exits
  * non-zero when any output check failed. */
object BenchMain {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "ingest_live" -> IngestLive.run, "curation" -> CurationRun.run)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args.getOrElse("workload", "")
    val run = Workloads.getOrElse(workload, {
      System.err.println(s"unknown workload '$workload'; known: ${Workloads.keys.mkString(", ")}")
      sys.exit(2)
    })
    val runDir = new java.io.File(args("run-dir"))
    runDir.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = EngineSession.local(cores = cores, appName = s"graft-bench-$workload")
    val ctx = new Ctx(spark, args("seed").toLong, args("seconds").toInt,
      args.getOrElse("trace", "0") == "1", runDir, cores, (System.nanoTime() - t0) / 1e9)
    if (ctx.trace) spark.sparkContext.addSparkListener(ctx.sparkCounts)
    val ok =
      try {
        run(ctx)
        ctx.result.put("setup_s", ctx.setupS, "s")
        ctx.result.put("heap_live_peak_mb", Jvm.livePeakMb, "MB")
        val missing = BenchMetrics.endToEnd.map(_._1).filterNot(ctx.result.metrics.contains)
        missing.foreach(m => ctx.outcome.fail(s"metric $m was not measured"))
        ctx.outcome.attempted > 0 && ctx.outcome.failed == 0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          ctx.outcome.fail(s"workload aborted: $e")
          false
      }
    ctx.outcome.failures.foreach(f => System.err.println(s"[bench] check failed: $f"))
    if (ctx.trace) args.get("trace-out").foreach(p => ctx.tracer.write(new java.io.File(p)))
    val out =
      if (ctx.trace) LayerMetrics.report(ctx)
      else {
        val r = new Report
        BenchMetrics.endToEnd.foreach { case (k, u) =>
          r.put(k, ctx.result.metrics.get(k).map(_._1).getOrElse(Double.NaN), u)
        }
        r
      }
    try spark.stop() catch { case _: Throwable => () }
    if (ctx.detail.metrics.nonEmpty) println("BENCH_DETAIL " + ctx.detail.metricsJson)
    println(out.json(ok, math.max(1L, ctx.outcome.attempted), ctx.outcome.failed))
    System.out.flush()
    sys.exit(if (ok) 0 else 1)
  }
}

object BenchMetrics {
  /** End-to-end metrics every workload reports, with units. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "query_p50_ms" -> "ms", "query_p95_ms" -> "ms",
    "queries_per_s" -> "1/s", "batch_s" -> "s", "heap_live_peak_mb" -> "MB")
}
