package graft

import org.apache.spark.sql.SparkSession

/** Canonical engine session (SURVEY §7-M0): UTC, AQE, right-sized
  * shuffle parallelism, graft extensions installed at build time (native
  * functions, the CH-dialect parser, the CollapseDedup rule, and the
  * SingleStage rule that runs a query over inputs of at most 32 MB as one
  * stage with no exchange), and a generated-class cache that holds the
  * engine's working set.
  *
  * Spark keeps compiled Janino classes in one JVM-wide LRU cache keyed by
  * (context classloader, generated source), sized by the static
  * `spark.sql.codegen.cache.maxEntries` (default 100). Under `local[n]`
  * a whole-stage class is compiled once on the driver and once more in
  * a task, whose context classloader is the executor's, so one stage
  * takes two entries. From cold, a curation batch compiles about 210
  * such keys and a whole `ingest_live` run about 240, so at 100 entries
  * the cache thrashes: measured with perfbench at seed 7 on 4 vCPUs,
  * every timed curation batch recompiled 222 classes, and the 6 s live
  * phase of `ingest_live` spent 8.3 s of Janino time on 523 compiles.
  * [[CodegenCacheEntries]] holds those working sets with room to spare,
  * so code compiled once is reused across queries and batches, as
  * ClickHouse's compiled-expression cache does
  * (`compiled_expression_cache_elements_size`): a timed batch and the
  * catch-ups then compile nothing, and the live phase 4 classes. Code
  * that changes with every call would churn any fixed size; see
  * `Ingest.sink`. */
object EngineSession {

  /** Generated classes the JVM keeps compiled: about four times the
    * largest measured working set (an `ingest_live` run, about 240). The
    * classes it keeps added 2.4 MB (`curation`) and 3.7 MB
    * (`ingest_live`) to perfbench's peak live heap. */
  private val CodegenCacheEntries = 1000

  /** The runtime SQL settings every engine session starts with. */
  private val sqlSettings: Seq[(String, String)] = Seq(
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
      // static: read once, when the JVM first generates code
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
    val s = sqlSettings.foldLeft(b) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
