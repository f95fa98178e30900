package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.sources.{Compaction, Parts}

/** The reference's ingestion dataflow (src/main.rs + src/handler.rs) as
  * Structured Streaming:
  *
  *   per-subject pull consumer → one graft-proto `readStream` per subject
  *                              spool dir (the NATS relay or any producer
  *                              writes framed proto3 flush files there)
  *   row/byte/time flush      → the relay's SpoolBatcher cuts the files;
  *                              the Trigger matches flush_interval_ms
  *   ack-after-insert         → checkpoint + IDEMPOTENT batch writes:
  *                              each micro-batch lands in its own
  *                              `ingest_batch=<id>` partition directory
  *                              written with overwrite mode, so checkpoint
  *                              replay after a mid-batch crash rewrites
  *                              exactly that batch's output instead of
  *                              appending duplicates — end-to-end
  *                              effectively-once, same recipe as the
  *                              reference's ack-after-insert (at-least-once
  *                              delivery + dedup-friendly storage; O-W1)
  *   max_deliver (nats.rs:74) → [[RedeliveryBudget]]: a batch that keeps
  *                              failing dead-letters to `_dlq`
  *
  * Scale design: each table write repartitions by event_date and sorts
  * within partitions by (timestamp, event_name) — the MergeTree
  * ORDER BY (migrations ORDER BY lines) re-expressed as parquet row-group
  * min/max locality, giving data-skipping scans; date directories give
  * partition pruning at 100 TB.
  */
object Ingest {

  val DlqTable = "_dlq"

  /** Canonical DLQ reader over `_dlq/subject=X/ingest_batch=N/…`, the
    * one layout [[deadLetterExhausted]] writes. `mergeSchema` reads rows
    * written before the redelivery budget added `deliveries` as null.
    * Like any parquet read it fails on an absent root, so callers that
    * may run before the first dead letter check for data files first. */
  def readDlq(spark: SparkSession, outDir: String): DataFrame =
    spark.read.option("mergeSchema", "true")
      .option("basePath", s"$outDir/$DlqTable").parquet(s"$outDir/$DlqTable")

  /** One lock and one commit generation per table directory, shared by
    * every writer in this JVM. The table's streaming query holds the lock
    * across the compaction after a batch; [[graft.server.HttpSql]]'s
    * INSERT holds it across its append. A compaction swap moves a
    * partition dir aside and renames the rewrite in, so an append landing
    * in between would leave with the old dir. The stream's batch write
    * itself needs no lock: its dynamic overwrite replaces only
    * `ingest_batch=<id>` dirs, and an INSERT appends to `ingest_batch=-1`.
    *
    * The generation counts the writes that touched the table dir. It is
    * bumped at two points, each in a `finally` because a failed write or
    * a healed swap can still have changed files: [[writeTyped]] (the
    * stream batch and the HTTP INSERT) and the compaction step in
    * [[startFromWire]]. [[graft.server.HttpSql]] re-lists a served table
    * only when its generation moved. Only these in-process writers bump
    * it: a file that another process places in a table dir is served
    * after the next in-process commit to that table. */
  private val tableLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private val generations =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def tableKey(outDir: String, table: String): String =
    new org.apache.hadoop.fs.Path(s"$outDir/$table").toString

  private[graft] def withTableLock[T](outDir: String, table: String)(body: => T): T =
    tableLocks.computeIfAbsent(tableKey(outDir, table), _ => new Object)
      .synchronized(body)

  /** The table's commit generation: 0 until an in-process writer first
    * touches it. */
  private[graft] def generation(outDir: String, table: String): Long =
    generations.getOrDefault(tableKey(outDir, table), 0L)

  private def committed(outDir: String, table: String): Unit =
    generations.merge(tableKey(outDir, table), 1L, (a, b) => a + b): Unit

  /** Idempotent sink: every row carries an `ingest_batch` partition column
    * (nested UNDER the leading partition axes, so date pruning is
    * unaffected) and the write is a DYNAMIC partition overwrite — it
    * replaces exactly the (…, ingest_batch=<id>) partitions this batch
    * produces. Micro-batch contents are deterministic under checkpoint
    * replay, so re-running a batch after a mid-batch crash rewrites the
    * same partitions instead of appending duplicates. batchId < 0 (ad-hoc
    * backfill outside a stream) falls back to plain append. */
  private def sink(rows: DataFrame, table: String, outDir: String,
                   batchId: Long, partitionCols: Seq[String]): Unit = {
    val tagged = rows.withColumn("ingest_batch", lit(batchId))
    val w =
      if (batchId >= 0)
        tagged.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      else tagged.write.mode("append")
    w.partitionBy((partitionCols :+ "ingest_batch"): _*).parquet(s"$outDir/$table")
  }

  /** Shared tail of every table write: proto3 default fill (absent scalar
    * fields become ""/0/false — FIXTURES.md invariant 4), epoch-seconds →
    * TimestampType, MergeTree-style sorted/date-partitioned layout, and
    * the idempotent batch sink. `rows` carries the table's typed wire
    * columns (from the graft-proto source or the HTTP INSERT surface —
    * [[graft.server.HttpSql]] reuses this tail with batchId = -1 for a
    * plain ad-hoc append). */
  def writeTyped(rows: DataFrame, table: String, schema: StructType,
                 outDir: String, batchId: Long): Unit = {
    val defaults: Map[String, Any] = schema.fields.collect {
      case StructField(n, StringType, _, _) => n -> ""
      case StructField(n, IntegerType, _, _) => n -> 0
      case StructField(n, LongType, _, _)    => n -> 0L
      case StructField(n, BooleanType, _, _) => n -> false
    }.toMap
    val out = rows
      .na.fill(defaults)
      .withColumn("timestamp", timestamp_seconds(col("timestamp")))
      .withColumn("event_date", to_date(col("timestamp")))
      // RANGE on (date, ts), not hash on date alone: a micro-batch is
      // typically ONE calendar date, which a hash repartition collapses
      // into a single sort+write task no matter the cluster size. The
      // range split keeps the partitionBy(event_date) layout and the
      // per-file time ordering (min/max skipping) while a hot date
      // spreads across tasks; with no explicit partition count AQE
      // coalesces a small batch back to few tasks, so file counts stay
      // compaction-friendly.
      .repartitionByRange(col("event_date"), col("timestamp"))
      .sortWithinPartitions("event_date", "timestamp", "event_name")
    try sink(out, table, outDir, batchId, Seq("event_date"))
    finally committed(outDir, table)
  }

  /** Budget-exhausted dead-letter: the batch stops being retried and its
    * rows land auditable in `_dlq` (reference: past max_deliver NATS stops
    * delivering and emits a MAX_DELIVERIES advisory; we keep the payload).
    * `deliveries` = the failed delivery attempts that exhausted the
    * budget. Each typed row is kept as a JSON payload. The DLQ is
    * partitioned by subject: per-subject queries have overlapping batchId
    * spaces, and an unpartitioned dynamic overwrite would let one
    * subject's batch-3 dead-letters clobber another's. */
  private[streaming] def deadLetterExhausted(batch: DataFrame, subject: String,
                                  outDir: String, batchId: Long,
                                  deliveries: Int): Unit =
    sink(batch.select(lit(subject).as("subject"),
      to_json(struct(batch.columns.map(col).toSeq: _*)).as("payload"),
      lit("max_deliver_exceeded").as("reason"),
      current_timestamp().as("dlq_ts"),
      lit(deliveries).as("deliveries")), DlqTable, outDir, batchId,
      Seq("subject"))

  /** The ingest entry: tail per-subject directories of framed protobuf
    * flush files (what the reference's micro-batcher accumulates per
    * subject, src/handler.rs:62-66) through the graft-proto streaming
    * source — rows arrive ALREADY TYPED (the source decodes frames, with
    * pruning if a view narrows them), so there is no per-batch decode
    * step. One query per event family (SURVEY §1.1's per-family option;
    * each family keeps its own checkpoint/offsets, exactly like the
    * reference's per-subject consumers). The NATS relay
    * ([[NatsBridge.superviseRelay]]) feeds the same directories.
    *
    * Ack-after-write: the subject's offsets commit to the checkpoint only
    * after foreachBatch's idempotent table write returns, so a crash
    * replays the batch into the same `ingest_batch` partition instead of
    * acking unwritten data (src/nats.rs:63-83 consumer contract ↔
    * checkpoint commit). Corrupt frames are fail-stop at the source and
    * retried via checkpoint replay until the redelivery budget
    * dead-letters the batch. With `compaction.enabled`, each query also
    * compacts its own table after every landed batch
    * ([[compactAfterWrite]]). */
  def startFromWire(spark: SparkSession, wireRoot: String, outDir: String,
                    checkpointRoot: String,
                    trigger: Trigger = Trigger.ProcessingTime("1 second"),
                    subjects: Seq[String] = EventSchemas.routes.keys.toSeq,
                    maxDeliver: Int = 3,
                    compaction: graft.CompactionConfig = graft.CompactionConfig())
      : Map[String, StreamingQuery] =
    subjects.map { subject =>
      val table = EventSchemas.routes(subject)
      val schema = EventSchemas.tables(table)
      // max_deliver analog (src/nats.rs:74): checkpoint replay is our
      // redelivery; the ledger bounds it so a poison batch dead-letters
      // on delivery maxDeliver+1 instead of wedging the subject forever
      val budget = new RedeliveryBudget(spark.sessionState.newHadoopConf(),
        s"$checkpointRoot/$table/_graft_deliveries", maxDeliver)
      val q = spark.readStream.format("graft-proto")
        .option("schema", schema.toDDL)
        .load(s"$wireRoot/$subject")
        .writeStream
        .queryName(s"graft-wire-$table")
        .option("checkpointLocation", s"$checkpointRoot/$table")
        .trigger(trigger)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val n = budget.attempt(batchId)
          if (n > budget.maxDeliver)
            deadLetterExhausted(batch, subject, outDir, batchId, n - 1)
          else {
            writeTyped(batch, table, schema, outDir, batchId)
            if (compaction.enabled)
              withTableLock(outDir, table) {
                try compactAfterWrite(spark, s"$outDir/$table", batchId, compaction)
                finally committed(outDir, table)
              }
          }
        }
        .start()
      table -> q
    }.toMap

  /** Writer-side compaction — the analog of MergeTree merging parts while
    * inserts keep flowing (`migrations .sql:18-20`). Runs inside the
    * table's own query right after batch `batchId` landed, under the
    * table lock, so no other writer touches the table during the swap.
    * Only the date partitions this batch wrote can have crossed the
    * threshold, so only they are censused. Streaming starts batch N only
    * after committing N-1, so every lower batch id is settled and
    * [[graft.sources.Compaction.compactIngest]] may pool it; batch N
    * itself stays replayable. A failure heals the swap and is logged: the
    * batch's rows are already written, so it still commits. The caller
    * bumps the table's generation when the step ends; until then a server
    * that registered the table before a swap still reads the swapped-out
    * files, so a statement in that window can fail on a missing file. */
  private def compactAfterWrite(spark: SparkSession, tableDir: String,
                                batchId: Long,
                                cfg: graft.CompactionConfig): Unit =
    try {
      Parts.needingCompaction(spark, tableDir, batchId, cfg.maxFiles,
          cfg.targetBytes)
        .foreach { p =>
          val st = Compaction.compactIngest(spark, p,
            maxCommitted = batchId - 1, targetBytes = cfg.targetBytes)
          println(s"[ingest] compacted $p: ${st.filesBefore} -> " +
            s"${st.filesAfter} files (${st.rows} rows)")
        }
    } catch {
      case e: Throwable =>
        // heal before this writer's next batch: one bak/tmp recovery
        // branch is only safe while the writer is quiet
        scala.util.Try(Compaction.healInterrupted(spark, tableDir)).failed
          .foreach(h => System.err.println(
            s"[ingest] heal of $tableDir failed: ${h.getMessage}"))
        if (!scala.util.control.NonFatal(e)) throw e
        System.err.println(s"[ingest] compaction of $tableDir after batch " +
          s"$batchId failed: ${e.getMessage}")
    }

  /** The batcher envelope's flush_interval_ms (config/default.toml:43 via
    * [[graft.EngineConfig]]) as the streams' processing-time trigger, so
    * the ingest cadence matches the relay's flush cadence. */
  private[graft] def batcherParams(cfg: graft.EngineConfig): Trigger =
    Trigger.ProcessingTime(s"${cfg.batcher.flushIntervalMs} milliseconds")
}
