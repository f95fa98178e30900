package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.sources.{Compaction, Parts}

/** Payload → typed-row decode, kept behind a trait so a binary protobuf
  * decoder (custom Catalyst Expression) can replace the JSON stand-in
  * without touching the pipeline (SURVEY §7-M3, hard part 1).
  * Decode failure yields a NULL struct ⇒ permanent error ⇒ dead-letter,
  * mirroring ClickHouse "Cannot parse" ⇒ AckKind::Term
  * (src/handler.rs:206-212). */
trait EventDecoder {
  /** Adds a `decoded` struct column parsed from `payload`. */
  def decode(df: DataFrame, schema: StructType): DataFrame
}

/** JSON-lines stand-in for the protobuf wire format (same schemas). */
object JsonPayloadDecoder extends EventDecoder {
  def decode(df: DataFrame, schema: StructType): DataFrame =
    // PERMISSIVE from_json yields an all-null struct on malformed rows;
    // the validity test in ingestBatch treats a null event_id as a parse
    // failure (event_id is proto field 1, always set by producers).
    df.withColumn("decoded", from_json(col("payload"), schema))
}

/** True protobuf wire decode: payload is base64-encoded proto3 bytes
  * (binary transport through the JSON-lines file source; a Kafka source
  * would hand us the raw bytes directly). Decode is the native
  * [[graft.functions.ProtoDecode]] expression — one parse straight to a
  * Catalyst struct, inside whole-stage codegen; no UDF, no JSON
  * intermediate. Parse failures → null struct → DLQ (Term analog). */
object ProtoPayloadDecoder extends EventDecoder {
  def decode(df: DataFrame, schema: StructType): DataFrame = {
    graft.functions.GraftExtensions.register(df.sparkSession)
    df.withColumn("decoded",
      expr(s"proto_decode(unbase64(payload), '${schema.toDDL}')"))
  }
}

/** The reference's ingestion dataflow (src/main.rs + src/handler.rs) as
  * Structured Streaming:
  *
  *   NATS pull-consume        → file/Kafka `readStream` micro-batches
  *   subject routing (:15-55) → 9 filtered writes per batch
  *   row/byte/time flush      → Trigger (time-based; byte thresholds are
  *                              approximated by source rate options —
  *                              SURVEY O-T2 documents the difference)
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
  *   Term vs Nak (:206-212)   → decode failures & unroutable subjects to
  *                              `_dlq` with a reason; transient failures
  *                              retried via checkpoint replay
  *
  * Scale design: each table write repartitions by event_date and sorts
  * within partitions by (timestamp, event_name) — the MergeTree
  * ORDER BY (migrations ORDER BY lines) re-expressed as parquet row-group
  * min/max locality, giving data-skipping scans; date directories give
  * partition pruning at 100 TB.
  */
object Ingest {

  val DlqTable = "_dlq"

  /** Canonical DLQ reader. The DLQ has evolved twice: `deliveries` was
    * added for the redelivery budget (mergeSchema reads pre-budget rows
    * as null), and `subject` moved from a data column into the partition
    * key — so a pre-move directory holds `ingest_batch=N/...` while
    * post-move writes land at `subject=X/ingest_batch=N/...`. Spark's
    * partition discovery rejects mixed-depth layouts under one basePath
    * ("Conflicting directory structures"), so the two vintages are read
    * as separate loads and unioned by name; both yield a `subject` column
    * (data column then, partition column now). */
  def readDlq(spark: SparkSession, outDir: String): DataFrame = {
    val root = s"$outDir/$DlqTable"
    // Hadoop FS, not java.io.File: outDir may be hdfs://, s3a://, … —
    // a local-only listing came back empty there and silently skipped
    // the mixed-vintage handling this reader exists for
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val top =
      if (fs.exists(rootPath))
        fs.listStatus(rootPath).filter(_.isDirectory).map(_.getPath.getName)
      else Array.empty[String]
    val newDirs = top.filter(_.startsWith("subject=")).sorted.map(d => s"$root/$d")
    val oldDirs = top.filter(_.startsWith("ingest_batch=")).sorted.map(d => s"$root/$d")
    def load(paths: Seq[String]) =
      spark.read.option("mergeSchema", "true").option("basePath", root)
        .parquet(paths: _*)
    (newDirs.nonEmpty, oldDirs.nonEmpty) match {
      case (true, true) =>
        load(newDirs.toSeq).unionByName(load(oldDirs.toSeq), allowMissingColumns = true)
      case (false, true) => load(oldDirs.toSeq)
      // no legacy dirs (or an empty/absent DLQ): the plain read also
      // covers a root holding bare parquet files from ad-hoc appends
      case _ =>
        spark.read.option("mergeSchema", "true").option("basePath", root)
          .parquet(root)
    }
  }

  /** Pool for concurrent per-table writes inside one micro-batch. The 9
    * routed tables are independent outputs; submitting their jobs from
    * one thread serializes ~9 small Spark jobs per 1-second trigger.
    * Four submitter threads let the scheduler interleave them (each job
    * still uses every executor core). Daemon threads — the pool must not
    * block JVM exit. */
  private lazy val writePool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(4, r => {
        val t = new Thread(r, "graft-ingest-write")
        t.setDaemon(true)
        t
      }))

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

  /** One micro-batch of (subject, payload) through route→decode→write.
    * Exposed for foreachBatch and for batch (backfill) reuse.
    *
    * Job shape per micro-batch: ONE dead-letter write (unroutable subjects
    * unioned with every table's decode failures) + one write per routed
    * table — each subject's slice is decoded exactly once (persisted),
    * shared by the DLQ union and the table write. No pre-count/isEmpty
    * probes: an empty write is cheaper than the extra job. */
  def ingestBatch(batch: DataFrame, outDir: String,
                  decoder: EventDecoder = JsonPayloadDecoder,
                  batchId: Long = -1L, deliveries: Int = 1): Unit = {
    val routable = EventSchemas.routes.keys.toSeq
    val cached = batch.persist()
    // A null struct or null event_id (= malformed under PERMISSIVE) is a
    // permanent decode failure (Term analog, src/handler.rs:206-212).
    val invalid = col("decoded").isNull || col("decoded.event_id").isNull
    val decodedSlices = EventSchemas.routes.toSeq.map { case (subject, table) =>
      val schema = EventSchemas.tables(table)
      (table, schema,
        decoder.decode(cached.filter(col("subject") === subject), schema).persist())
    }
    try {
      val asDlq = (reason: String) => Seq(col("subject"), col("payload"),
        lit(reason).as("reason"), current_timestamp().as("dlq_ts"),
        lit(deliveries).as("deliveries"))
      // Unroutable ⇒ dead-letter (reference terminally drops with Term,
      // src/main.rs:68-72; we keep the rows auditable in _dlq), unioned
      // with per-table decode failures into a single write. This one job
      // also materializes every per-subject decode cache.
      val dlq = decodedSlices
        .map { case (_, _, d) => d.filter(invalid).select(asDlq("decode_error"): _*) }
        .foldLeft(
          // null-safe: a NULL subject makes isin() NULL, and !NULL is
          // NULL → the row would match NO filter (not routed, not
          // dead-lettered) and vanish without audit. coalesce pins the
          // unroutable verdict for NULL subjects.
          cached.filter(!coalesce(col("subject").isin(routable: _*), lit(false)))
            .select(asDlq("unroutable_subject"): _*))(_ union _)
      // DLQ is partitioned by subject: the dynamic ingest_batch overwrite
      // then only replaces (subject, batch) slices this batch produced —
      // independent per-subject queries sharing outDir have independent
      // batchId spaces, and an unpartitioned DLQ would let query A's
      // batch-3 dead-letters clobber query B's (same partition dir).
      sink(dlq, DlqTable, outDir, batchId, Seq("subject"))

      // Per-table writes are independent outputs over the shared decode
      // caches — submit them concurrently so the scheduler interleaves
      // the ~9 small jobs instead of running them back-to-back. A failed
      // write fails the batch; checkpoint replay + idempotent overwrite
      // (sink above) make the retry safe even if sibling writes finished.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val ec = writePool
      val writes = decodedSlices.map { case (table, schema, decoded) => Future {
        writeTyped(decoded.filter(!invalid).select(col("decoded.*")),
          table, schema, outDir, batchId)
      }}
      Await.result(Future.sequence(writes), Duration.Inf)
    } finally {
      decodedSlices.foreach { case (_, _, d) => d.unpersist() }
      cached.unpersist()
    }
  }

  /** Shared tail of every table write: proto3 default fill (absent scalar
    * fields become ""/0/false — FIXTURES.md invariant 4), epoch-seconds →
    * TimestampType, MergeTree-style sorted/date-partitioned layout, and
    * the idempotent batch sink. `rows` carries the table's typed wire
    * columns (from the envelope decode, the graft-proto source, or the
    * HTTP INSERT surface — [[graft.server.HttpSql]] reuses this tail with
    * batchId = -1 for a plain ad-hoc append). */
  def writeTyped(rows: DataFrame, table: String, schema: StructType,
                 outDir: String, batchId: Long): Unit = {
    val defaults: Map[String, Any] = schema.fields.collect {
      case StructField(n, StringType, _, _) if n != "payload" => n -> ""
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
    sink(out, table, outDir, batchId, Seq("event_date"))
  }

  /** Wire-native ingest: tail per-subject directories of framed protobuf
    * flush files (what the reference's micro-batcher accumulates per
    * subject, src/handler.rs:62-66) through the graft-proto streaming
    * source — rows arrive ALREADY TYPED (the source decodes frames, with
    * pruning if a view narrows them), so there is no payload envelope and
    * no per-batch decode step. One query per event family (SURVEY §1.1's
    * per-family option; each family keeps its own checkpoint/offsets,
    * exactly like the reference's per-subject consumers). Corrupt frames
    * are fail-stop at the source and retried via checkpoint replay —
    * payload-level Term/DLQ semantics belong to the envelope path
    * ([[start]]), whose producers are untrusted. */
  def startFromWire(spark: SparkSession, wireRoot: String, outDir: String,
                    checkpointRoot: String,
                    trigger: Trigger = Trigger.ProcessingTime("1 second"),
                    subjects: Seq[String] = EventSchemas.routes.keys.toSeq,
                    maxDeliver: Int = 3)
      : Map[String, StreamingQuery] =
    startFromBroker(spark, FileBroker(wireRoot), outDir, checkpointRoot,
      trigger, subjects, maxDeliver)

  /** Budget-exhausted dead-letter: the batch stops being retried and its
    * rows land auditable in `_dlq` (reference: past max_deliver NATS stops
    * delivering and emits a MAX_DELIVERIES advisory; we keep the payload).
    * `deliveries` = the failed delivery attempts that exhausted the
    * budget. Rows are re-wrapped to the DLQ envelope — typed wire rows
    * get their content preserved as a JSON payload. */
  private[streaming] def deadLetterExhausted(batch: DataFrame, subject: String,
                                  outDir: String, batchId: Long,
                                  deliveries: Int): Unit = {
    val hasEnvelope = batch.columns.contains("payload")
    val payloadCol =
      if (hasEnvelope) col("payload")
      else to_json(struct(batch.columns.map(col).toSeq: _*))
    val subjectCol =
      if (batch.columns.contains("subject")) col("subject") else lit(subject)
    // subject-partitioned for the same clobber-safety reason as the
    // routine DLQ write in ingestBatch: per-subject queries have
    // overlapping batchId spaces
    sink(batch.select(subjectCol.as("subject"), payloadCol.as("payload"),
      lit("max_deliver_exceeded").as("reason"),
      current_timestamp().as("dlq_ts"),
      lit(deliveries).as("deliveries")), DlqTable, outDir, batchId,
      Seq("subject"))
  }

  /** Broker-agnostic form of [[startFromWire]]: one streaming query per
    * subject over any [[BrokerSource]] (directory tailing today, Kafka
    * when the connector jar ships — the consumer-semantics mapping lives
    * on [[KafkaBroker]]). Ack-after-write holds for every source: the
    * subject's offsets commit to the checkpoint only after foreachBatch's
    * idempotent table write returns, so a crash replays the batch into
    * the same `ingest_batch` partition instead of acking unwritten data
    * (src/nats.rs:63-83 consumer contract ↔ checkpoint commit). With
    * `compaction.enabled`, each query also compacts its own table after
    * every landed batch ([[compactAfterWrite]]). */
  def startFromBroker(spark: SparkSession, broker: BrokerSource, outDir: String,
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
      val q = broker.load(spark, subject, schema)
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
              compactAfterWrite(spark, s"$outDir/$table", batchId, compaction)
          }
        }
        .start()
      table -> q
    }.toMap

  /** Writer-side compaction — the analog of MergeTree merging parts while
    * inserts keep flowing (`migrations .sql:18-20`). Runs inside the
    * table's own query right after batch `batchId` landed, so no other
    * streaming writer touches the table during the swap. Streaming starts
    * batch N only after committing N-1, so every lower batch id is
    * settled and [[graft.sources.Compaction.compactIngest]] may pool it;
    * batch N itself stays replayable. A failure heals the swap and is
    * logged: the batch's rows are already written, so it still commits. */
  private def compactAfterWrite(spark: SparkSession, tableDir: String,
                                batchId: Long,
                                cfg: graft.CompactionConfig): Unit =
    try {
      Parts.needingCompaction(spark, tableDir, cfg.maxFiles, cfg.targetBytes)
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

  /** Typed-config form: the batcher envelope (max_bytes, flush_interval_ms
    * — config/default.toml:40-43 via [[graft.EngineConfig]]) drives the
    * source rate cap and trigger, so a reference deployment's TOML drops
    * in unchanged. */
  /** The batcher envelope → streaming knobs, as a pure derivation so the
    * config seam is testable in isolation (and ServeMain shares the same
    * trigger construction instead of re-deriving it). */
  private[graft] def batcherParams(
      cfg: graft.EngineConfig): (Trigger, Long) =
    (Trigger.ProcessingTime(s"${cfg.batcher.flushIntervalMs} milliseconds"),
      cfg.batcher.maxBytes)

  def start(spark: SparkSession, inputDir: String, outDir: String,
            checkpointDir: String, cfg: graft.EngineConfig): StreamingQuery = {
    val (trigger, maxBytes) = batcherParams(cfg)
    start(spark, inputDir, outDir, checkpointDir,
      trigger = trigger, maxBytesPerTrigger = maxBytes)
  }

  /** Start the streaming pipeline over a JSON-lines directory source
    * (this env has no Kafka/NATS connector; the source swap is one line).
    * Input schema: {"subject": "...", "payload": "<json event>"}.
    *
    * Backpressure mirrors the reference's flush envelope (O-T2/O-T6):
    * `maxBytesPerTrigger` = the 60 MB per-flush byte cap
    * (config/default.toml:42), the 1-second trigger = flush_interval_ms
    * (default.toml:43). Row-count capping (max_rows=100k) has no direct
    * file-source knob — the byte cap bounds the same resource. */
  def start(spark: SparkSession, inputDir: String, outDir: String,
            checkpointDir: String,
            decoder: EventDecoder = JsonPayloadDecoder,
            trigger: Trigger = Trigger.ProcessingTime("1 second"),
            maxBytesPerTrigger: Long = 60L * 1000 * 1000,
            maxDeliver: Int = 3): StreamingQuery = {
    val in = spark.readStream
      .schema(StructType(Seq(
        StructField("subject", StringType), StructField("payload", StringType))))
      .option("maxBytesPerTrigger", maxBytesPerTrigger)
      .json(inputDir)
    val budget = new RedeliveryBudget(spark.sessionState.newHadoopConf(),
      s"$checkpointDir/_graft_deliveries", maxDeliver)
    in.writeStream
      .queryName("graft-ingest")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val n = budget.attempt(batchId)
        if (n > budget.maxDeliver)
          deadLetterExhausted(batch, subject = "", outDir, batchId, n - 1)
        else ingestBatch(batch, outDir, decoder, batchId, deliveries = n)
      }
      .start()
  }

  /** O-T12: incrementally-maintained exactly-once view over at-least-once
    * input — streaming dedup by event_id with watermark-bounded state.
    *
    * `dropDuplicatesWithinWatermark`, NOT `dropDuplicates`: under a plain
    * dropDuplicates the state store only evicts when the event-time
    * column is part of the dedup key, so keying by event_id alone retains
    * every id ever seen — unbounded state, the 100 TB killer hiding in
    * the obvious spelling. The WithinWatermark variant dedups ids that
    * arrive within the watermark delay of each other and evicts beyond
    * it — exactly the broker redelivery contract this view exists for
    * (`ack_wait=120s`, `/root/reference/src/nats.rs:71`): a redelivery
    * lands within the ack window or not at all, and an id older than the
    * watermark is dropped as late data rather than re-emitted, so the
    * exactly-once surface is preserved either way. */
  def dedupStream(events: DataFrame, watermark: String = "2 minutes"): DataFrame =
    events.withWatermark("timestamp", watermark)
      .dropDuplicatesWithinWatermark(Seq("event_id"))
}
