package graft.sources

import java.io.{BufferedInputStream, EOFException, InputStream}
import java.util

import graft.streaming.ProtoWire
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSourceV2 batch source for protobuf wire files —
  * `spark.read.format("graft-proto").option("schema", ddl).load(dir)`.
  *
  * File format: concatenated varint-length-delimited proto3 messages —
  * exactly the body shape the reference POSTs to ClickHouse
  * (`INSERT ... FORMAT Protobuf`, src/click_house.rs:75-78; CH's
  * `Protobuf` input format is the standard length-delimited stream) and
  * the batch framing its micro-batcher accumulates (src/handler.rs:62-66).
  * This source makes those at-rest insert payloads directly queryable
  * without a parquet conversion hop.
  *
  * Spark-first structure (the full DSv2 stack, SURVEY §7 hard part 1):
  * TableProvider → Table(BATCH_READ) → ScanBuilder with
  * `SupportsPushDownRequiredColumns` → Batch → PartitionReaderFactory.
  * Column pruning reaches the DECODER: pruned fields are skipped in the
  * wire stream with zero allocation ([[ProtoWire.decodeToRowPruned]]) —
  * the proto analog of parquet's ReadSchema pruning.
  *
  * Scale notes: varint framing has no sync markers, so the split unit is
  * the FILE (one `InputPartition` each, like gzipped text/sequence
  * files); the ingest tier writes many bounded files (60 MB flush cap,
  * config/default.toml:42), which is exactly the sizing that keeps one
  * file ≈ one task. Readers stream frames through a 64 KB buffer —
  * memory is O(largest message), not O(file).
  */
class ProtoFileSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-proto"

  private def ddl(options: CaseInsensitiveStringMap): StructType =
    StructType.fromDDL(Option(options.get("schema")).getOrElse(throw new IllegalArgumentException(
      "graft-proto requires option 'schema' (a DDL string; field order = proto field numbers 1..n)")))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = ddl(options)

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-proto requires a single load/save(path)"))
    // On writes Spark passes the DATAFRAME's schema here (external
    // metadata), not the inferred one — field order IS the wire field
    // numbering, so a silent mismatch would scramble files. Enforce the
    // declared option whenever both are present.
    Option(properties.get("schema")).map(StructType.fromDDL).foreach { declared =>
      require(schema.map(f => (f.name, f.dataType)) == declared.map(f => (f.name, f.dataType)),
        "graft-proto: frame schema must match the declared wire schema exactly " +
          s"(field order = proto field numbers): ${schema.toDDL} vs ${declared.toDDL}")
    }
    new ProtoTable(schema, path)
  }

  override def supportsExternalMetadata(): Boolean = true
}

private[sources] class ProtoTable(tableSchema: StructType, path: String)
  extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graft-proto:$path"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ProtoScanBuilder(tableSchema, path)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(info.schema().map(f => (f.name, f.dataType)) ==
        tableSchema.map(f => (f.name, f.dataType)),
      s"graft-proto write schema must match the declared wire schema exactly " +
        s"(field order = proto field numbers): ${info.schema().toDDL} vs ${tableSchema.toDDL}")
    new ProtoWriteBuilder(tableSchema, path, info.queryId())
  }
}

private[sources] class ProtoScanBuilder(full: StructType, path: String)
  extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownLimit {
  private var required: StructType = full
  private var limit: Int = -1
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  /** Partial push: each reader stops after `limit` frames (never decodes
    * past it), but files are independent partitions so Spark must still
    * apply the global Limit — hence `false`. */
  override def pushLimit(l: Int): Boolean = { limit = l; false }
  override def build(): Scan = new ProtoScan(full, required, path, limit)
}

private[sources] case class ProtoFilePartition(file: String, bytes: Long)
  extends InputPartition

private[sources] class ProtoScan(full: StructType, required: StructType,
                                 path: String, limit: Int)
  extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def description(): String =
    s"graft-proto $path ReadSchema: ${required.toDDL}" +
      (if (limit >= 0) s", PushedLimit: $limit" else "")
  override def toBatch: Batch = this

  private lazy val files = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    val listed =
      if (st.isDirectory)
        fs.listStatus(p).filter(f => f.isFile && {
          val n = f.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        })
      else Array(st)
    listed.sortBy(_.getPath.toString)
  }

  override def planInputPartitions(): Array[InputPartition] =
    files.map(f => ProtoFilePartition(f.getPath.toString, f.getLen): InputPartition)

  /** Wire bytes ≈ decoded bytes (varint-packed scalars vs 8-byte slots
    * roughly cancel against UTF-8 strings stored as-is) — good enough for
    * the broadcast-threshold decision, which is the consumer that
    * matters: a small wire-file dimension auto-broadcasts in joins. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val bytes = files.map(_.getLen).sum
    override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ProtoReaderFactory(full.toDDL,
      required.fields.map(f => full.fieldIndex(f.name)), limit,
      new org.apache.spark.util.SerializableConfiguration(
        SparkSession.active.sessionState.newHadoopConf()))

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new ProtoMicroBatchStream(full, required, path)
}

/** Streaming form of the scan — the reference's consume loop
  * (src/main.rs:84-101): the ingest tier appends one wire file per flush;
  * each file lands in exactly one micro-batch.
  *
  * Offset model: flush files are named monotonically (sequence/epoch in
  * the name), so an offset is simply the highest file name processed —
  * O(1) state, no file-log compaction. Files sorting at-or-below the
  * committed offset are never re-read (exactly-once per file given
  * monotonic names; the at-least-once dedup downstream stays o_w1).
  *
  * The monotonic-name CONTRACT is enforced, not assumed: the offset also
  * carries how many files sat at-or-below `last` when it was taken. If a
  * later listing finds MORE files at-or-below the committed offset, a
  * producer violated monotonicity (batch `part-*` writes into a tailed
  * directory shadowing subsequent `flush-*` files, or non-zero-padded
  * names like flush-9 vs flush-10) and those files would silently never
  * be read — the stream fails loudly instead. Count shrinking is allowed
  * (retention may expire old flush files). Batch writes must never
  * target a tailed directory; use a separate staging dir and a distinct
  * stream. */
private[sources] case class ProtoStreamOffset(last: String, seen: Long = -1L)
  extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = {
    val esc = last.replace("\\", "\\\\").replace("\"", "\\\"")
    s"""{"last":"$esc","seen":$seen}"""
  }
}

private[sources] class ProtoMicroBatchStream(
    full: StructType, required: StructType, path: String)
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private val conf = SparkSession.active.sessionState.newHadoopConf()

  private def listNames(): Array[(String, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return Array.empty
    val st = fs.getFileStatus(p)
    val listed =
      if (st.isDirectory)
        fs.listStatus(p).filter(f => f.isFile && {
          val n = f.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        })
      else Array(st)
    listed.map(f => (f.getPath.toString, f.getLen)).sortBy(_._1)
  }

  override def initialOffset(): Offset = ProtoStreamOffset("", 0L)
  override def latestOffset(): Offset = {
    val names = listNames()
    if (names.isEmpty) ProtoStreamOffset("", 0L)
    else ProtoStreamOffset(names.last._1, names.length.toLong)
  }
  override def deserializeOffset(json: String): Offset = {
    // {"last":"...","seen":N} — tiny fixed shapes, parse without a JSON
    // lib; the seen-less shape is a pre-upgrade checkpoint (seen = -1
    // disables the monotonicity check for that one transition).
    val withSeen = """\{"last":"(.*)","seen":(-?\d+)\}""".r
    val legacy = """\{"last":"(.*)"\}""".r
    def unesc(v: String) = v.replace("\\\"", "\"").replace("\\\\", "\\")
    json match {
      case withSeen(v, n) => ProtoStreamOffset(unesc(v), n.toLong)
      case legacy(v) => ProtoStreamOffset(unesc(v))
      case _ => throw new IllegalArgumentException(s"bad graft-proto offset: $json")
    }
  }
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val so = start.asInstanceOf[ProtoStreamOffset]
    val e = end.asInstanceOf[ProtoStreamOffset].last
    val names = listNames()
    // Monotonic-name contract check (see ProtoStreamOffset): a file that
    // APPEARED at-or-below the committed offset after the offset was taken
    // would be silently skipped forever — fail instead of losing it.
    val below = names.count { case (n, _) => n <= so.last }
    if (so.seen >= 0 && below > so.seen)
      throw new IllegalStateException(
        s"graft-proto stream over $path: ${below - so.seen} file(s) appeared " +
          s"at-or-below the committed offset '${so.last}' — flush names must be " +
          "monotonic (zero-padded sequence/epoch); never batch-write into a " +
          "tailed directory")
    names
      .filter { case (n, _) => n > so.last && n <= e }
      .map { case (n, len) => ProtoFilePartition(n, len): InputPartition }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ProtoReaderFactory(full.toDDL,
      required.fields.map(f => full.fieldIndex(f.name)), -1,
      new org.apache.spark.util.SerializableConfiguration(conf))
}

/** Serializable factory: schema travels as DDL text, the projection as
  * field indices into the full schema. */
private[sources] class ProtoReaderFactory(
    fullDdl: String, projection: Array[Int], limit: Int,
    conf: org.apache.spark.util.SerializableConfiguration)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val part = partition.asInstanceOf[ProtoFilePartition]
    new ProtoPartitionReader(part.file, StructType.fromDDL(fullDdl), projection,
      limit, conf.value)
  }
}

private[sources] class ProtoPartitionReader(
    file: String, full: StructType, projection: Array[Int], limit: Int = -1,
    conf: Configuration = new Configuration())
  extends PartitionReader[InternalRow] {

  private val in: InputStream = {
    val p = new Path(file)
    new BufferedInputStream(p.getFileSystem(conf).open(p), 64 * 1024)
  }
  private var current: InternalRow = _

  /** Frame-length varint off the stream; -1 on clean EOF. A partial
    * varint or truncated body is a corrupt file and throws. */
  private def readFrameLen(): Int = {
    var first = true
    var shift = 0
    var res = 0L
    while (true) {
      val b = in.read()
      if (b < 0) {
        if (first) return -1
        throw new EOFException(s"$file: truncated frame-length varint")
      }
      first = false
      res |= (b & 0x7fL) << shift
      if ((b & 0x80) == 0) return math.toIntExact(res)
      shift += 7
      if (shift > 31) throw new ProtoWire.ProtoParseException(s"$file: frame length varint too long")
    }
    -1
  }

  private var emitted = 0L

  override def next(): Boolean = {
    if (limit >= 0 && emitted >= limit) { current = null; return false }
    val len = readFrameLen()
    if (len < 0) { current = null; false }
    else {
      val buf = in.readNBytes(len)
      if (buf.length != len) throw new EOFException(s"$file: truncated frame body")
      current = ProtoWire.decodeToRowPruned(buf, full, projection)
      emitted += 1
      true
    }
  }

  override def get(): InternalRow = current
  override def close(): Unit = in.close()
}

// ------------------------------- write --------------------------------

/** Append-only write: each task stages `.staged-…` files, the driver
  * commit renames them live — the two-phase protocol that makes task
  * retries and speculative duplicates invisible to readers (a staged
  * file from a losing attempt is simply never renamed). Mirrors the
  * reference's batched insert boundary: one committed file per task ≈
  * one micro-batcher flush (src/handler.rs:140-156). */
private[sources] class ProtoWriteBuilder(schema: StructType, path: String, queryId: String)
  extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  /** mode("overwrite") → truncate-then-append: commit first drops the
    * directory's existing wire files, then publishes the staged ones. */
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new ProtoBatchWrite(schema, path, queryId, doTruncate)
  }
}

private[sources] case class ProtoCommit(staged: String, finalName: String)
  extends WriterCommitMessage

private[sources] class ProtoBatchWrite(schema: StructType, path: String,
                                       queryId: String, truncate: Boolean)
  extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new ProtoWriterFactory(schema.toDDL, path, s"part-$queryId",
      new org.apache.spark.util.SerializableConfiguration(
        SparkSession.active.sessionState.newHadoopConf()))
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // Overwrite = publish new files FIRST, then delete the pre-existing
    // ones (listed before publish). A failure mid-delete leaves old+new
    // mixed — duplicates, never data loss; same non-atomic-directory
    // tradeoff as file-based committers without an atomic dir swap.
    val dir = new Path(path)
    val fs = dir.getFileSystem(SparkSession.active.sessionState.newHadoopConf())
    val ours = messages.collect { case ProtoCommit(staged, _) =>
      new Path(staged).getName }.toSet
    val (preExisting, orphanedStaged) =
      if (truncate && fs.exists(dir)) {
        val all = fs.listStatus(dir).filter(_.isFile).map(_.getPath)
        (all.filter(p => !p.getName.startsWith(".") && !p.getName.startsWith("_")),
          // overwrite asserts exclusive ownership of the directory: clear
          // .staged leftovers from crashed runs (readers skip them, but
          // nothing else ever deletes them)
          all.filter(p => p.getName.startsWith(".staged") && !ours(p.getName)))
      } else (Array.empty[Path], Array.empty[Path])
    ProtoWriteCommit.publish(path, messages)
    (preExisting ++ orphanedStaged).foreach(p => fs.delete(p, false))
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    ProtoWriteCommit.discard(path, messages)
}

private[sources] object ProtoWriteCommit {
  /** Driver-side conf (planning/commit run on the driver). */
  private def hadoopConf() = SparkSession.active.sessionState.newHadoopConf()

  def publish(path: String, messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(hadoopConf())
    fs.mkdirs(dir)
    // SORTED by final name: files become visible in lexicographic order,
    // so the streaming reader's highest-name offset can never skip a
    // lower-named sibling from the same commit.
    messages.collect { case c: ProtoCommit => c }
      .sortBy(_.finalName)
      .foreach { case ProtoCommit(staged, finalName) =>
        val s = new Path(staged)
        val target = new Path(dir, finalName)
        // every write names its files with its own query id, so a name
        // that is already published is a collision: fail, never replace
        if (fs.exists(target)) {
          throw new java.io.IOException(
            s"graft-proto commit: $finalName already exists — file names " +
              "must be unique per directory")
        } else if (!fs.exists(s)) {
          throw new java.io.IOException(
            s"graft-proto commit: staged file missing: $staged")
        } else if (!fs.rename(s, target)) {
          throw new java.io.IOException(s"graft-proto commit: rename failed for $staged")
        }
      }
  }
  def discard(path: String, messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(hadoopConf())
    messages.foreach {
      case ProtoCommit(staged, _) => fs.delete(new Path(staged), false)
      case _ => ()
    }
  }
}

private[sources] class ProtoWriterFactory(
    ddl: String, path: String, prefix: String,
    conf: org.apache.spark.util.SerializableConfiguration)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ProtoDataWriter(StructType.fromDDL(ddl), path,
      f"$prefix-$partitionId%05d.pbstream", taskId, conf.value)
}

private[sources] class ProtoDataWriter(
    schema: StructType, path: String, finalName: String, taskId: Long,
    conf: Configuration = new Configuration())
  extends DataWriter[InternalRow] {

  private val staged = new Path(path, s".staged-$finalName-$taskId")
  // a PRIVATE FileSystem instance: FileSystem.get/getFileSystem returns
  // the JVM-cached shared object, and setWriteChecksum on it would turn
  // off .crc sidecars for EVERY writer in the process (parquet
  // committers, checkpoints) — newInstance scopes the mutation to this
  // writer and is closed with it
  private val fs = org.apache.hadoop.fs.FileSystem.newInstance(
    staged.getFileSystem(conf).getUri, conf)
  private lazy val out = {
    fs.mkdirs(new Path(path))
    fs.setWriteChecksum(false) // no .crc sidecars next to wire files
    new java.io.BufferedOutputStream(fs.create(staged, true), 64 * 1024)
  }

  override def write(row: InternalRow): Unit =
    ProtoWire.writeFrame(out, ProtoWire.encodeRow(row, schema))

  override def commit(): WriterCommitMessage = {
    out.close()
    ProtoCommit(staged.toString, finalName)
  }
  override def abort(): Unit = {
    try out.close() catch { case _: Exception => () }
    fs.delete(staged, false)
  }
  override def close(): Unit =
    try fs.close() catch { case _: Exception => () }
}

/** Catalog surface for the DSv2 source: a distributed round trip over the
  * events table. Each task encodes its partition to one wire file (the
  * micro-batcher's per-flush artifact), then the graft-proto scan reads
  * them back — decoder-level column pruning and all — and aggregates.
  *
  * The oracle mirrors proto3 presence semantics explicitly: zero/empty
  * scalars are NOT serialized, so they come back NULL (`NULLIF` in SQL).
  * That asymmetry is a property of the wire format, not a decode bug —
  * the ingest tier fills defaults downstream (FIXTURES.md invariant 4).
  */
object ProtoSourceQueries {
  type Q = (SparkSession, String) => org.apache.spark.sql.DataFrame

  private val wireDdl =
    "event_id BIGINT, user_id BIGINT, event_type STRING, props STRING"

  /** Per-(dataset, process) staging dirs: repeated invocations within a
    * process rewrite the same files (overwrite mode), and the pid suffix
    * keeps CONCURRENT processes from colliding in one directory
    * (nondeterministic partition order would trip the publish content
    * check). Accretion across processes is handled twice over: a shutdown
    * hook deletes this process's dirs on clean exit, and the first call
    * in each process sweeps dirs left by DEAD pids (SIGKILL/OOM-killed
    * runs never reach their hook). toHexString, not math.abs (negative at
    * Int.MinValue). */
  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rmTree))
    f.delete()
  }
  private val deadPidSweepDone = new java.util.concurrent.atomic.AtomicBoolean(false)
  // value type must be java.lang.Boolean: with scala.Boolean the compiler
  // UNBOXES putIfAbsent's null-when-absent to false, `== null` is then
  // always false, and the hook would never register
  private val cleanupRegistered = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  private def stagingDir(dataset: String): String = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    if (deadPidSweepDone.compareAndSet(false, true)) {
      val pat = """graft_proto_scan_[0-9a-f]+_(\d+)""".r
      Option(tmp.listFiles).foreach(_.foreach { f =>
        f.getName match {
          case pat(pid) if scala.util.Try(
              ProcessHandle.of(pid.toLong).isEmpty).getOrElse(false) =>
            rmTree(f)
          case _ => ()
        }
      })
    }
    val dir = new java.io.File(tmp,
      s"graft_proto_scan_${Integer.toHexString(dataset.hashCode)}_${ProcessHandle.current().pid()}")
    if (cleanupRegistered.putIfAbsent(dir.toString, true) == null)
      Runtime.getRuntime.addShutdownHook(
        new Thread(() => rmTree(dir), "graft-proto-staging-cleanup"))
    dir.toString
  }

  val queries: Map[String, Q] = Map(
    "s_scan2_proto" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val dir = stagingDir(d)
      // distributed DSv2 write: each task stages + commits one wire file
      // (local[n] shares the driver FS; on a real cluster this directory
      // would live on the shared object store)
      graft.Tables.events(s, d)
        .select("event_id", "user_id", "event_type", "props")
        .repartition(4)
        .write.format("graft-proto").option("schema", wireDdl)
        .mode("overwrite").save(dir)
      s.read.format("graft-proto").option("schema", wireDdl).load(dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("uniq_users"),
          min(col("event_id")).as("min_event"),
          max(col("event_id")).as("max_event"))
        .orderBy("event_type")
    })
  )

  val oracles: Map[String, String] = Map(
    "s_scan2_proto" ->
      """SELECT event_type, COUNT(*) AS n,
                COUNT(DISTINCT NULLIF(user_id, 0)) AS uniq_users,
                MIN(NULLIF(event_id, 0)) AS min_event,
                MAX(NULLIF(event_id, 0)) AS max_event
         FROM events GROUP BY event_type ORDER BY event_type"""
  )
}
