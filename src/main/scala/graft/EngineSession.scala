package graft

import org.apache.spark.sql.SparkSession

/** Canonical engine session (SURVEY §7-M0): UTC, AQE, right-sized
  * shuffle parallelism, graft extensions installed at build time (native
  * functions, the CH-dialect parser, the CollapseDedup rule, and the
  * SingleStage rule that runs a query over inputs of at most 32 MB as one
  * stage with no exchange). */
object EngineSession {

  /** The runtime SQL settings every engine session starts with. */
  private[graft] val sqlSettings: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    // ENGINE-WIDE default, set at build time rather than sneaked in by
    // the first Tables.events call: TIMESTAMP(NANOS) parquet columns
    // surface as raw int64 (the events loader normalizes them with a
    // unit guard). Restoring the conf per-read is NOT safe — the scan
    // re-reads it at execution, after the schema was already inferred.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // A join whose children are each one partition keeps them at any
    // size. Spark re-shuffles both sides when a child's ESTIMATED size
    // passes this (128 MB by default), and estimates multiply across
    // joins: under the small-input gate (SingleStage, inputs of at most
    // 32 MB) a join over a join of two 12 KB sides estimates 144 MB and
    // got two hash exchanges back. Above the gate only an explicit
    // coalesce(1) or a global aggregate makes both sides one partition.
    "spark.sql.maxSinglePartitionBytes" -> Long.MaxValue.toString)

  def local(cores: Int = Runtime.getRuntime.availableProcessors(),
            appName: String = "graft"): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores)
      // Always use the consolidated sort-based shuffle writers (r18 opt,
      // guide §2.2 "fewer, larger" / §6 small-files): below this
      // threshold Spark picks the BYPASS-merge writer, which opens one
      // file + one compression stream PER REDUCE PARTITION per map task
      // — profiled as the dominant fixed cost of every small exchange
      // (a 32-task stage writing a 32-partition shuffle paid ~1000 file
      // opens: 5.6 s of task time for a 236 KB shuffle; 1.0 s with the
      // consolidated writer). SQL exchanges then ride UnsafeShuffleWriter
      // (one spill file + index per map task) at EVERY partition count —
      // the same writer production uses above the default 200 threshold,
      // so this is not a local-mode tune; it removes the small-shuffle
      // special case.
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.ui.enabled", "false")
    val s = sqlSettings.foldLeft(b) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
