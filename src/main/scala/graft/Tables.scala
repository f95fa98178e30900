package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * All queries take a scale-factor directory so the same code runs at
  * sf0.001 (smoke), sf0.01 (t2 correctness) and sf0.1+ (bench). At real
  * scale these would be partitioned tables behind a catalog; the parquet
  * scan path is identical (vectorized reader, predicate pushdown, column
  * pruning all apply).
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    // events must always route through the nanos-normalizing loader;
    // a raw read of it is order-dependent (works only if some earlier
    // query already set the nanosAsLong conf) and otherwise throws
    // PARQUET_TYPE_ILLEGAL.
    memo(spark, dir, name) {
      if (name == "events") eventsLoad(spark, dir)
      else if (name == "documents" || name == "embeddings")
        fanout(spark, spark.read.parquet(s"$dir/$name.parquet"))
      else spark.read.parquet(s"$dir/$name.parquet")
    }

  /** Memoized ANALYZED handle per (session, dir, table, data version) —
    * r18 opt, guide §1.2/§6: every loader call pays a driver file
    * listing plus a one-task footer/schema job at DataFrame-creation
    * time (~10-20 ms), and the fan-out gate below additionally plans the
    * raw scan to count its splits; a catalog run re-opens the same
    * immutable input tables once per key. The handle is file index +
    * schema + the normalization plan — no data; every action still scans
    * the parquet (this is a catalog, not a result cache). The memo key
    * embeds the table's file-metadata version (count, bytes, max mtime —
    * one local stat walk, no Spark job), so a spec that overwrites a
    * temp-dir corpus in place gets a fresh handle, never the stale file
    * index — the same staleness discipline as Warehouse.token. Spark
    * sessions are weakly keyed so stopped test sessions don't pin their
    * handles. */
  private val memoMap = new java.util.WeakHashMap[
    SparkSession, scala.collection.mutable.Map[String, DataFrame]]()
  private def memo(s: SparkSession, dir: String, name: String,
                   variant: String = "")
                  (load: => DataFrame): DataFrame = {
    // Version = md5 over the sorted (file name, length, mtime) triples,
    // walked with the Hadoop FileSystem API (ADVICE r18): a java.io.File
    // walk silently returns a constant for any scheme-qualified dir
    // (s3://, hdfs://, file:/), so a data drop would be served from the
    // stale memoized file index — the Hadoop walk fails loudly instead
    // (FileNotFoundException if the table is missing). Including the
    // part-file NAMES (not just count/bytes/max-mtime) catches an
    // in-place overwrite that preserves count and byte total within
    // mtime granularity: Spark generates fresh random part names on
    // every overwrite, so a same-version collision is practically
    // impossible.
    import org.apache.hadoop.fs.{FileStatus, Path}
    def computeVer: String = {
      val p = new Path(dir, s"$name.parquet")
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      def walk(st: FileStatus): Seq[FileStatus] =
        if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(walk)
        else Seq(st)
      val files = walk(fs.getFileStatus(p))
      java.security.MessageDigest.getInstance("MD5")
        .digest(files.map(f =>
            s"${f.getPath.getName}|${f.getLen}|${f.getModificationTime}")
          .sorted.mkString("\n").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    }
    // walked on every call, so an in-place overwrite is visible
    // IMMEDIATELY (the staleness discipline TablesSpec pins)
    val ver = computeVer
    memoMap.synchronized {
      val m = Option(memoMap.get(s)).getOrElse {
        val mm = scala.collection.mutable.Map[String, DataFrame]()
        memoMap.put(s, mm); mm
      }
      m.getOrElseUpdate(s"$dir|$name|$variant|$ver", load)
    }
  }

  /** Scale-adaptive scan fan-out (optimization guide §2.5 "input skew:
    * one huge unsplittable file — repartition immediately after the
    * read"): the driver's tables are single-row-group parquet files, so
    * every scan is ONE split and all per-row map work (regex/explode/
    * array pipelines over text, vector decode, cast chains) runs
    * single-threaded until the first exchange — measured 1.0-2.2 s
    * single-task stages at sf0.1 on a 32-core session. When the scan
    * yields fewer splits than the session's parallelism AND the input is
    * small enough that re-splitting it is trivia (under maxPartitionBytes
    * per target slice — i.e. the file COULD have been written as that
    * many splits), round-robin it across the cores. Both conditions are
    * derived from the input, not tuned to a core count: at production
    * scale a table this small is a dimension table (no-op either way),
    * and a large table already carries enough splits so the gate never
    * fires. Applied to the CORPUS tables only (documents/embeddings —
    * every consumer runs regex/explode/vector pipelines): the
    * relational/event tables' scans are cheap projections whose first
    * real operator is already a keyed exchange, so a fan-out exchange
    * there is pure addition (measured both ways at sf0.1: event keys
    * +0.25 s each with it, corpus keys −0.3..−1.4 s without it). A plan
    * whose inputs add up to at most [[graft.plans.SingleStage.gateBytes]]
    * (32 MB) drops this keyless repartition: the small-input gate runs
    * the whole plan as one task, so the fan-out only matters above it. */
  private def fanout(s: SparkSession, df: DataFrame): DataFrame = {
    val target = s.sparkContext.defaultParallelism
    val parts = df.rdd.getNumPartitions
    if (parts >= target) return df
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val maxSplit = s.sessionState.conf.filesMaxPartitionBytes
    if (bytes <= BigInt(maxSplit) * target) df.repartition(target) else df
  }

  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  /** events.parquet has shipped `ts` two ways across data drops:
    * TIMESTAMP(NANOS) (which Spark's vectorized reader rejects — read the
    * raw int64 nanos and truncate; integer `div`, a double roundtrip
    * would lose precision above 2^53 ns) and plain TIMESTAMP(MICROS)
    * (read as-is). Normalize both to session-zoned microsecond
    * TimestampType so every downstream query sees one type and ts
    * filters stay pushdown-eligible. */
  def events(s: SparkSession, d: String): DataFrame =
    memo(s, d, "events")(eventsLoad(s, d))

  private def eventsLoad(s: SparkSession, d: String): DataFrame = {
    // DELIBERATELY session-global (EngineSession sets it at build time;
    // this covers hand-rolled sessions): the flag cannot be restored
    // after the read — the scan re-reads it at EXECUTION, so a restore
    // would flip behavior between schema inference and row decode. Under
    // this engine every nanos-typed parquet surfaces as raw int64; only
    // events carries one, and this loader normalizes it.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = s.read.parquet(s"$d/events.parquet")
    (raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // int64 here means TIMESTAMP(NANOS) (surfaced long by the
        // nanosAsLong conf) — but an UNANNOTATED int64 drop would surface
        // identically, and dividing raw micros by 1000 would silently
        // shift every timestamp 1000×. Guard the unit assumption per row
        // (one codegen'd branch): plausible nanos epochs [1990, 2100)
        // only; raw micros (~1e15) or seconds fail loudly instead.
        raw.withColumn("ts", expr(
          """CASE WHEN ts IS NULL THEN CAST(NULL AS TIMESTAMP)
                  WHEN ts >= 631152000000000000 AND ts < 4102444800000000000
                  THEN timestamp_micros(ts div 1000)
                  ELSE raise_error(concat('events.ts int64 value ',
                       CAST(ts AS STRING),
                       ' is outside the plausible nanosecond epoch range',
                       ' [1990-01-01, 2100-01-01) - refusing to assume',
                       ' nanoseconds; check the parquet logical type'))
             END"""))
      case _ =>
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
    })
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** Corpus read WITHOUT the scan fan-out, for AGGREGATE-FIRST consumers
    * (r19 opt — the d_domain_mix regression, VERDICT r18 #1): when the
    * consumer's first real operator is a keyed aggregate that collapses
    * the corpus to a dimension-sized result, the fan-out's round-robin
    * exchange is pure addition — the same measurement that exempted the
    * events tables in r18 (fan-out there cost +0.25 s/key; here it
    * doubled d_domain_mix, 0.14 → 0.26 s). The per-row map work these
    * consumers do (split/size) runs inside the scan task and feeds the
    * partial (map-side) aggregate directly; at production scale a large
    * corpus carries enough splits that the fan-out gate never fires
    * anyway, so this changes nothing there. Memoized under its own
    * variant key so the fanned-out handle and this one coexist. */
  def documentsPreAgg(s: SparkSession, d: String): DataFrame =
    memo(s, d, "documents", variant = "preAgg")(
      s.read.parquet(s"$d/documents.parquet"))
}
