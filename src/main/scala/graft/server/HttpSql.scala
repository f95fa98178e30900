package graft.server

import java.io.OutputStream
import java.net.{InetAddress, InetSocketAddress}
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.time.format.DateTimeFormatter
import java.time.ZoneOffset
import java.util.concurrent.{ConcurrentHashMap, Executors, ScheduledFuture, TimeUnit}

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.TemporaryViewRelation
import org.apache.spark.sql.types._

import graft.Tables
import graft.streaming.{EventSchemas, Ingest, ProtoWire}

/** SQL-over-HTTP surface — the analysts' entry point the reference
  * deployment exposes by publishing ClickHouse's HTTP port
  * (`build/docker-compose.yml:8-9`, ports 8123/9000; SURVEY §3.3). The
  * reference itself only ever issues `GET /ping` (`src/click_house.rs:46-59`)
  * and `POST INSERT` against this surface; SELECT traffic arrives from BI
  * tools. This is that interface re-expressed over a SparkSession:
  *
  *   - `GET /ping`                      → `Ok.` (byte-compatible with the
  *     reference's readiness check, which string-matches the body)
  *   - `GET /?query=…` or `POST /` body → `spark.sql(query)` streamed back
  *     in the requested ClickHouse output format: `TabSeparated` (default),
  *     `TabSeparatedWithNames`, `CSV`, `CSVWithNames`, `JSONEachRow`, and
  *     binary `Parquet` and `Protobuf` (each round-trips what the INSERT
  *     path accepts in; Protobuf emits the same varint-framed proto3
  *     stream the reference POSTs, src/click_house.rs:75-84).
  *     A trailing `FORMAT <name>` clause (the CH grammar) is recognized and
  *     stripped before Spark parses the statement; `default_format=` query
  *     parameter is the fallback, mirroring CH precedence. Responses are
  *     gzip-compressed when the client sends `Accept-Encoding: gzip`.
  *   - `POST /?query=INSERT INTO [db.]<table> FORMAT Protobuf [SETTINGS
  *     format_schema='…']` with a BINARY body of concatenated
  *     varint-length-delimited proto3 messages → decoded via
  *     [[graft.streaming.ProtoWire]] against the table's wire schema and
  *     appended through the ingest tail (proto3 default fill, epoch→ts,
  *     sorted date-partitioned layout). This is the one verb the reference
  *     itself issues against this interface (`src/click_house.rs:75-84`);
  *     the inserted rows are immediately SELECTable on the same surface.
  *     Requires a `dataDir` (tables live at `dataDir/<table>`); servers
  *     started without one refuse the verb with the permanent class.
  *
  * Scale shape: results are streamed through `toLocalIterator` — one
  * partition resident on the driver at a time, chunked transfer encoding on
  * the wire — so a SELECT over a 100 TB table holds O(partition) driver
  * memory, not O(result). Query execution itself is whatever Catalyst plans;
  * the server adds no materialization.
  *
  * Error contract mirrors the reference's permanent/transient split
  * (`src/handler.rs:206-212`): parse/analysis failures (the "Cannot parse"
  * class) → HTTP 400; execution failures → HTTP 500. The reference
  * classifies exactly those 4xx codes as dead-letter-permanent.
  *
  * Runaway-query controls (CH settings analog): `max_execution_time=<s>`
  * and `query_id=<id>` URL parameters plus the `KILL QUERY WHERE
  * query_id='…'` statement. Each query runs in its own Spark job group;
  * timeout or kill cancels the group and the handler answers with the CH
  * error class (`TIMEOUT_EXCEEDED` / `QUERY_WAS_CANCELLED`) instead of a
  * generic failure. See [[startCanceller]] for why cancellation is
  * re-asserted rather than fired once.
  *
  * The server binds LOOPBACK unless an explicit `bindAddress` opts into
  * wider exposure: this surface executes arbitrary SQL (including eager
  * commands), so reachable-by-default would hand any network peer the
  * engine. The reference deployment makes the same call explicitly by
  * publishing the port in compose; we require the same explicitness —
  * PLUS a `sharedSecret` before any non-loopback bind is accepted at all.
  * Clients authenticate with the `X-ClickHouse-Key` header (or the
  * `password` URL parameter), CH's own HTTP credential carriers; a
  * missing/wrong secret answers 403 `AUTHENTICATION_FAILED`. `/ping`
  * stays open — it is the readiness probe, answers a constant, and the
  * reference's own check sends no credentials.
  */
final class HttpSql(spark: SparkSession, port: Int = 0,
                    dataDir: Option[String] = None,
                    bindAddress: InetAddress = InetAddress.getLoopbackAddress,
                    sharedSecret: Option[String] = None) {
  require(bindAddress.isLoopbackAddress || sharedSecret.exists(_.nonEmpty),
    "refusing a non-loopback bind without a sharedSecret: this surface " +
      "executes arbitrary SQL — exposure beyond loopback requires auth")

  private var server: HttpServer = _
  private var pool: java.util.concurrent.ExecutorService = _

  /** Constant-time compare — a secret check must not leak prefix length. */
  private def authorized(x: HttpExchange, params: Map[String, String]): Boolean =
    sharedSecret.forall { want =>
      val got = Option(x.getRequestHeaders.getFirst("X-ClickHouse-Key"))
        .orElse(params.get("password")).getOrElse("")
      java.security.MessageDigest.isEqual(got.getBytes(UTF_8), want.getBytes(UTF_8))
    }

  /** CH `max_execution_time` / `KILL QUERY` analog. Every query runs in
    * its own Spark JOB GROUP (set on the handler thread, which is the
    * thread `toLocalIterator` submits jobs from); a timeout or a KILL
    * cancels the group — Spark interrupts the running stages, the
    * iterator throws, and the handler maps the failure to the CH error
    * class (TIMEOUT_EXCEEDED / QUERY_WAS_CANCELLED) instead of a generic
    * 500. State per in-flight query lives in [[running]] keyed by the
    * client-supplied (or generated) `query_id` — the same handle CH's
    * `KILL QUERY WHERE query_id='…'` uses. */
  private final class QueryCtl(val groupId: String) {
    @volatile var timedOut = false
    @volatile var killed = false
    // both guarded by `this`: the canceller may be started from the
    // timeout timer or the KILL handler while the query thread is
    // finishing — an unsynchronized handoff leaked the ScheduledFuture
    // (assigned after the finally block read null), which then re-
    // cancelled a dead group every 2s forever
    var canceller: ScheduledFuture[_] = null
    var done = false
  }
  private val running = new ConcurrentHashMap[String, QueryCtl]()
  private val watchdog = Executors.newSingleThreadScheduledExecutor(r => {
    val t = new Thread(r, "graft-http-watchdog"); t.setDaemon(true); t
  })

  /** Cancel the group and KEEP cancelling until the handler's finally
    * block observes the failure: a single cancelJobGroupAndFutureJobs can
    * race AQE's first stage submission (a cancel landing in the first
    * ~100ms of execution is observably lost; re-asserted 2s later it
    * lands instantly), so the kill is re-asserted until the query exits. */
  private def startCanceller(ctl: QueryCtl): Unit = ctl.synchronized {
    // no-op when the query already exited (its finally ran) or a
    // canceller is already asserting the kill — a second one would
    // orphan the first ScheduledFuture
    if (ctl.done || ctl.canceller != null) return
    ctl.canceller = watchdog.scheduleWithFixedDelay(new Runnable {
      override def run(): Unit =
        spark.sparkContext.cancelJobGroupAndFutureJobs(ctl.groupId)
    }, 0, 2, TimeUnit.SECONDS)
  }

  /** In-flight query ids (ops introspection; used by the KILL spec). */
  def runningQueryIds: Set[String] = {
    import scala.jdk.CollectionConverters._
    running.keySet.asScala.toSet
  }

  /** Ops surface: CH's `system.parts` / `system.query_log` served through
    * the same SQL door as everything else. `system_parts` unions the
    * per-table part census over `dataDir`; `system_query_log` snapshots
    * the in-memory [[graft.sources.QueryLog]] ring installed on this
    * session. Views refresh whenever a statement references them. */
  private val queryLog = graft.sources.QueryLog.install(spark)

  private def refreshSystemTables(): Unit = {
    dataDir.foreach { root =>
      val parts = tableDirs(root).map { t =>
        graft.sources.Parts.forTable(spark, t.toString)
          .withColumn("table", org.apache.spark.sql.functions.lit(t.getName))
      }
      // an empty dataDir still answers `SELECT … FROM system_parts`
      parts.reduceOption(_ unionByName _)
        .getOrElse(spark.emptyDataset(
            org.apache.spark.sql.Encoders.product[graft.sources.Parts.PartInfo])
          .toDF().withColumn("table", org.apache.spark.sql.functions.lit("")))
        .createOrReplaceTempView("system_parts")
    }
    queryLog.toDF(spark).createOrReplaceTempView("system_query_log")
  }

  /** Serve tables the INGEST tier writes under `dataDir` (ServeMain
    * wiring). A temp view snapshots its file LISTING at registration, so
    * a table is re-registered only when that snapshot may be stale:
    *  (a) its commit generation ([[Ingest.generation]]) differs from the
    *      one this server registered it at — an in-process writer
    *      committed since; or
    *  (b) the session's temp view under its name is no longer the one
    *      this server registered (compared with `eq`): another HttpSql on
    *      the session, a user `CREATE TEMP VIEW` or a `stop()` replaced or
    *      dropped it.
    * An unchanged table is not listed at all. The generation is read
    * BEFORE the listing, so a commit that races the listing leaves the
    * older generation on record and the next statement re-lists. Only
    * in-process writers bump generations: a file another process places
    * in a table dir is served after the next in-process commit to that
    * table. Only tables referenced in the statement are checked
    * (substring match — a false positive only keeps one extra table
    * registered), `_`-prefixed dirs (DLQ, staging) stay private, and a
    * dir whose parquet is mid-write stays unregistered, with nothing
    * recorded, so the next statement retries. dataDir owns its names: a
    * same-named pre-registered view is replaced by the served table. */
  private val served =
    new ConcurrentHashMap[String, (Long, TemporaryViewRelation)]()

  /** The table dirs directly under `root`, listed through the Hadoop
    * FileSystem of `root`'s scheme (so a non-`file` dataDir serves and
    * censuses its tables); none when `root` is missing. Underscore/dot
    * dirs (_dlq, _http_stage, metadata) are not tables: they are neither
    * served nor censused to HTTP clients. */
  private def tableDirs(root: String): Seq[org.apache.hadoop.fs.Path] = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = try fs.listStatus(rootPath)
               catch { case _: java.io.IOException => Array.empty }
    dirs.toSeq.filter(_.isDirectory).map(_.getPath)
      .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
  }

  private def refreshDataTables(sqlText: String): Unit =
    dataDir.foreach { root =>
      val lower = sqlText.toLowerCase
      val catalog = spark.sessionState.catalog
      tableDirs(root).map(_.getName)
        .filter(n => lower.contains(n.toLowerCase))
        .foreach { name =>
          val gen = Ingest.generation(root, name)
          val held = Option(served.get(name))
          if (!held.exists { case (g, v) =>
                g == gen && catalog.getRawTempView(name).exists(_ eq v) })
            try {
              val df = spark.read.parquet(s"$root/$name")
              // register and capture as one step, so another server's
              // registration cannot slip between them
              HttpSql.synchronized {
                df.createOrReplaceTempView(name)
                catalog.getRawTempView(name).foreach(v => served.put(name, (gen, v)))
              }
              // first registration by THIS instance claims the name
              // (cross-instance sharing — see HttpSql.viewHolders)
              if (held.isEmpty) HttpSql.retainView(spark, name, this)
            } catch { case _: Exception => () }
        }
    }

  /** Bind + start; returns the actual port (useful with port = 0). */
  def start(): Int = synchronized {
    require(server == null, "already started")
    require(!watchdog.isShutdown,
      "HttpSql is one-shot: construct a new instance after stop()")
    server = HttpServer.create(new InetSocketAddress(bindAddress, port), 0)
    server.createContext("/ping", PingHandler)
    server.createContext("/", QueryHandler)
    // small fixed pool: the server is an access path, not the engine —
    // concurrency of heavy queries belongs to the Spark scheduler
    pool = Executors.newFixedThreadPool(4, r => {
      val t = new Thread(r, "graft-http"); t.setDaemon(true); t
    })
    server.setExecutor(pool)
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = synchronized {
    if (server != null) { server.stop(0); server = null }
    // release BOTH executors: daemon status only hides the threads at
    // JVM exit — a long-lived process starting/stopping servers would
    // otherwise accumulate a watchdog + 4 pool threads per instance
    if (pool != null) { pool.shutdownNow(); pool = null }
    watchdog.shutdownNow()
    spark.listenerManager.unregister(queryLog)
    // a stopped server must not leave its served-table names shadowing
    // the session catalog: temp views resolve before catalog tables, so
    // a later CREATE TABLE login_events would silently read this
    // server's last snapshot otherwise. (The system_* views stay — they
    // carry no table-shadowing risk and may be shared by another live
    // server on the same session.) Drop only when no OTHER live server
    // on this session still holds the name (ADVICE r14: two servers
    // sharing a session register the same served-table names; the first
    // stop must not break the survivor's in-flight reads).
    served.keySet.forEach { v =>
      if (HttpSql.releaseView(spark, v, this))
        spark.catalog.dropTempView(v): Unit
    }
    served.clear()
  }

  private object PingHandler extends HttpHandler {
    override def handle(x: HttpExchange): Unit =
      respond(x, 200, "text/plain", "Ok.\n")
  }

  private object QueryHandler extends HttpHandler {
    override def handle(x: HttpExchange): Unit =
      // the JDK server swallows handler exceptions and drops the
      // connection — catch everything that escapes the per-stage handling
      // below (e.g. malformed percent-encoding in parseQueryString) and
      // answer 400 rather than an EOF
      try handleInner(x)
      catch { case e: Exception =>
        try respond(x, 400, "text/plain", s"Bad request: ${msg(e)}\n")
        catch { case _: Exception => x.close() }
      }

    private def handleInner(x: HttpExchange): Unit = {
      val params = parseQueryString(Option(x.getRequestURI.getRawQuery))
      if (!authorized(x, params)) {
        respond(x, 403, "text/plain",
          "AUTHENTICATION_FAILED: wrong or missing credentials " +
            "(X-ClickHouse-Key header or password parameter)\n")
        return
      }
      val paramQuery = params.get("query").filter(_.nonEmpty).map(_.trim)
      // INSERT … FORMAT Protobuf carries a BINARY body — it must be
      // matched on the URL-param query BEFORE the body is read as UTF-8
      // (the reference's exact request shape, src/click_house.rs:80-84:
      // query in the URL, raw wire bytes as the body)
      paramQuery.flatMap(q =>
          HttpSql.InsertProto.findFirstMatchIn(q).map(_.group(1))) match {
        case Some(table) => handleInsert(x, table); return
        case None        => ()
      }
      val body = new String(x.getRequestBody.readAllBytes(), UTF_8)
      // CH precedence: the `query` URL parameter and the body concatenate
      // (parameterized INSERTs rely on it); for the SELECT surface the
      // practical reading is param-if-present, else body
      val raw = paramQuery.getOrElse(body).trim
      if (raw.isEmpty) { respond(x, 400, "text/plain", "empty query\n"); return }
      val (sqlText, fmtClause) = stripFormatClause(raw)
      // CH `KILL QUERY WHERE query_id='…'` — cancel a running query's job
      // group by its client handle; idempotent per CH semantics
      HttpSql.KillQuery.findFirstMatchIn(sqlText) match {
        case Some(m) =>
          val id = m.group(1)
          Option(running.get(id)) match {
            case Some(ctl) =>
              ctl.killed = true
              startCanceller(ctl)
              respond(x, 200, "text/plain", "canceled\n")
            case None =>
              respond(x, 404, "text/plain", s"no running query with query_id '$id'\n")
          }
          return
        case None => ()
      }
      // system-table analogs are SNAPSHOTS (a DataFrame view captures the
      // listing / ring state at registration) — re-register on reference
      // so `SELECT … FROM system_parts` is as live as CH's system.parts
      if (HttpSql.SystemTable.findFirstIn(sqlText).isDefined)
        refreshSystemTables()
      refreshDataTables(sqlText)
      val fmt = fmtClause.orElse(params.get("default_format"))
        .getOrElse("TabSeparated")
      val fmtKey = fmt.toLowerCase
      if (!HttpSql.formats.contains(fmtKey) &&
          !HttpSql.binaryFormats.contains(fmtKey))
        respond(x, 400, "text/plain", s"unknown FORMAT $fmt\n")
      else {
          // the permanent/transient split the reference's dead-letter
          // classifier keys on (src/handler.rs:206-212): parse/analysis
          // failures are the permanent 400 class; anything at execution
          // time (including eagerly-run commands like INSERT) is 500
          val df =
            try spark.sql(sqlText)
            catch {
              case e @ (_: org.apache.spark.sql.catalyst.parser.ParseException |
                        _: org.apache.spark.sql.AnalysisException) =>
                respond(x, 400, "text/plain", s"Cannot parse query: ${msg(e)}\n")
                return
              case e: Exception =>
                respond(x, 500, "text/plain", s"Query failed: ${msg(e)}\n")
                return
            }
          val queryId = params.get("query_id").filter(_.nonEmpty)
            .getOrElse(java.util.UUID.randomUUID().toString)
          val timeoutMs = params.get("max_execution_time")
            .flatMap(s => scala.util.Try(s.toDouble).toOption)
            .filter(_ > 0).map(t => (t * 1000).toLong)
          // the group id carries a per-execution nonce: Spark 4's
          // cancelJobGroupAndFutureJobs remembers cancelled group ids
          // (bounded FIFO, no unmark API), so reusing the bare query_id
          // after a kill/timeout would fail the NEXT query under that id
          // at submission. CH permits id reuse after a kill; the nonce
          // keeps the cancel scoped to this execution only.
          val ctl = new QueryCtl(s"graft-http-$queryId-" +
            java.util.UUID.randomUUID().toString.take(8))
          // group FIRST, then publish in `running`: a KILL observed via
          // runningQueryIds must always find a cancellable group
          spark.sparkContext.setJobGroup(ctl.groupId,
            s"graft-http query_id=$queryId", interruptOnCancel = true)
          if (running.putIfAbsent(queryId, ctl) != null) {
            spark.sparkContext.clearJobGroup()
            respond(x, 400, "text/plain",
              s"query_id '$queryId' is already running\n")
            return
          }
          val timer: Option[ScheduledFuture[_]] = timeoutMs.map(ms =>
            watchdog.schedule(new Runnable {
              override def run(): Unit = {
                ctl.timedOut = true
                startCanceller(ctl)
              }
            }, ms, TimeUnit.MILLISECONDS))
          try {
            if (fmtKey == "parquet")
              streamParquet(x, df, acceptsGzip(x))
            else if (fmtKey == "protobuf")
              streamProtobuf(x, df, acceptsGzip(x))
            else streamResult(x, df, HttpSql.formats(fmtKey), acceptsGzip(x))
          } catch {
            case _: Exception if ctl.timedOut =>
              respond(x, 500, "text/plain",
                s"TIMEOUT_EXCEEDED: max_execution_time " +
                  s"${timeoutMs.getOrElse(0L) / 1000.0} s elapsed\n")
            case _: Exception if ctl.killed =>
              respond(x, 500, "text/plain",
                s"QUERY_WAS_CANCELLED: killed via query_id '$queryId'\n")
            case e: Exception =>
              respond(x, 500, "text/plain", s"Query failed: ${msg(e)}\n")
          } finally {
            timer.foreach(_.cancel(false))
            // done-first under the ctl lock: a canceller started after
            // this point sees done and never schedules; one started
            // before is cancelled here — no leaked watchdog task
            ctl.synchronized {
              ctl.done = true
              Option(ctl.canceller).foreach(_.cancel(false))
            }
            spark.sparkContext.clearJobGroup()
            running.remove(queryId)
          }
      }
    }
  }

  /** `Accept-Encoding: gzip` (with optional q-values) — CH's HTTP surface
    * honors it via `enable_http_compression`; here it is honored whenever
    * the client asks. */
  private def acceptsGzip(x: HttpExchange): Boolean =
    Option(x.getRequestHeaders.getFirst("Accept-Encoding")).exists(
      _.toLowerCase.split(',').map(_.trim.takeWhile(_ != ';')).contains("gzip"))

  /** The reference's own verb against this surface: binary protobuf body,
    * decoded against the target table's wire schema and appended through
    * the shared ingest tail. Error classes mirror the dead-letter
    * classifier (src/handler.rs:206-212): unknown table → 404, malformed
    * wire bytes → 400 "Cannot parse" (both permanent); write failures →
    * 500 (transient, retryable). Success is CH-shaped: empty 200. */
  private def handleInsert(x: HttpExchange, table: String): Unit = {
    val root = dataDir.getOrElse {
      respond(x, 400, "text/plain",
        "INSERT surface disabled: server started without a dataDir\n")
      return
    }
    val schema = EventSchemas.tables.getOrElse(table, {
      respond(x, 404, "text/plain", s"UNKNOWN_TABLE $table\n")
      return
    })
    val body = x.getRequestBody.readAllBytes()
    val jsons =
      try ProtoWire.splitFrames(body).map(ProtoWire.decodeToJson(_, schema))
      catch { case e: ProtoWire.ProtoParseException =>
        respond(x, 400, "text/plain", s"Cannot parse Protobuf body: ${msg(e)}\n")
        return
      }
    try {
      import spark.implicits._
      val rows = spark.read.schema(schema).json(spark.createDataset(jsons))
      // no view registration here: writeTyped bumps the table's commit
      // generation, so refreshDataTables re-lists it on the next
      // statement that names it and the rows are SELECTable right away.
      // The table lock keeps the append out of a compaction swap the
      // table's own stream may be running.
      Ingest.withTableLock(root, table) {
        Ingest.writeTyped(rows, table, schema, root, batchId = -1L)
      }
      respond(x, 200, "text/plain", "")
    } catch { case e: Exception =>
      respond(x, 500, "text/plain", s"Insert failed: ${msg(e)}\n")
    }
  }

  private def msg(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getSimpleName).linesIterator
      .take(4).mkString(" ")

  /** Chunked streaming of the result set; O(partition) driver memory.
    * The first `hasNext` runs the first Spark job BEFORE the 200 headers
    * go out, so execution failures surface as a clean 500 from the caller
    * (headers-already-sent would otherwise turn every runtime error into
    * a truncated 200). Failures after the first partition can only
    * truncate the chunked stream — inherent to streaming transfer. */
  private def streamResult(x: HttpExchange, df: DataFrame,
                           render: HttpSql.Format, gzip: Boolean): Unit = {
    val schema = df.schema
    val it = df.toLocalIterator()
    val nonEmpty = it.hasNext // first job: throws HERE on execution error
    x.getResponseHeaders.set("Content-Type", render.contentType)
    if (gzip) x.getResponseHeaders.set("Content-Encoding", "gzip")
    x.sendResponseHeaders(200, 0) // 0 ⇒ chunked
    val out: OutputStream =
      if (gzip) new java.util.zip.GZIPOutputStream(x.getResponseBody)
      else x.getResponseBody
    try {
      render.header(schema).foreach(h => out.write(h.getBytes(UTF_8)))
      if (nonEmpty)
        while (it.hasNext) out.write(render.row(it.next(), schema).getBytes(UTF_8))
    } finally { out.close(); x.close() }
  }

  /** `FORMAT Parquet` — binary out, closing the loop with the INSERT path
    * that already accepts binary in: a result set round-trips through any
    * parquet reader (including `spark.read.parquet` on the saved body).
    * A parquet file is footer-framed, so unlike the text formats it cannot
    * be streamed row-by-row: the result is written by the CLUSTER
    * (one-file coalesce — the writer task runs on an executor, the driver
    * never holds rows) to a scratch file, then streamed to the client and
    * deleted. Intended for BI-scale result sets, the same envelope CH's
    * own buffered formats assume; table-scale extraction belongs on the
    * storage tier, not an HTTP body. */
  private def streamParquet(x: HttpExchange, df: DataFrame, gzip: Boolean): Unit = {
    // Stage on storage BOTH driver and executors can reach: a
    // java.nio.tmpdir path only works in local mode (the writer task runs
    // on an executor, whose local disk the driver cannot read). Under a
    // dataDir the stage rides the same shared filesystem the tables live
    // on; without one (loopback dev server) the JVM temp dir is correct
    // because no-dataDir implies no distributed deployment to serve.
    import org.apache.hadoop.fs.Path
    val stageRoot = dataDir.map(d => s"$d/_http_stage")
      .getOrElse(sys.props("java.io.tmpdir"))
    val stage = new Path(s"$stageRoot/pq-${java.util.UUID.randomUUID()}")
    val fs = stage.getFileSystem(spark.sessionState.newHadoopConf())
    try {
      // executes BEFORE headers: failures surface as the caller's clean 500
      df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = fs.listStatus(stage).map(_.getPath)
        .find(_.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException("parquet write produced no file"))
      x.getResponseHeaders.set("Content-Type", "application/vnd.apache.parquet")
      if (gzip) x.getResponseHeaders.set("Content-Encoding", "gzip")
      x.sendResponseHeaders(200, 0)
      val out: OutputStream =
        if (gzip) new java.util.zip.GZIPOutputStream(x.getResponseBody)
        else x.getResponseBody
      val in = fs.open(part)
      try {
        val buf = new Array[Byte](64 * 1024)
        var n = in.read(buf)
        while (n >= 0) { if (n > 0) out.write(buf, 0, n); n = in.read(buf) }
      } finally { in.close(); out.close(); x.close() }
    } finally fs.delete(stage, true)
  }

  /** `FORMAT Protobuf` — varint-framed proto3 messages out, the exact
    * body shape the INSERT path accepts in (src/click_house.rs:75-84's
    * concatenated length-delimited messages), closing the last in/out
    * format asymmetry: `INSERT … FORMAT Protobuf` → `SELECT … FORMAT
    * Protobuf` round-trips byte-decodable rows. Field numbers are
    * positional over the RESULT schema (1-based, the dto.proto
    * convention), so a `SELECT *` over a wire table emits the table's own
    * field numbering. The wire codec speaks dto.proto's complete type set
    * (string/int64/int32/bool/repeated string); what the ingest tail
    * timestamp-ified goes back out as int64 epoch seconds — the symmetric
    * inverse of the INSERT decode — and any other type is rendered as its
    * string form. Row-framed, so unlike parquet it streams with
    * O(partition) driver memory. */
  private def streamProtobuf(x: HttpExchange, df: DataFrame, gzip: Boolean): Unit = {
    import org.apache.spark.sql.functions.col
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case StringType | LongType | IntegerType | BooleanType => col(f.name)
        case ArrayType(StringType, _) => col(f.name)
        case TimestampType => col(f.name).cast(LongType).as(f.name)
        case _ => col(f.name).cast(StringType).as(f.name)
      }
    }
    val pdf = df.select(cols.toIndexedSeq: _*)
    val schema = pdf.schema
    val it = pdf.toLocalIterator()
    val nonEmpty = it.hasNext // first job BEFORE headers (clean 500 path)
    x.getResponseHeaders.set("Content-Type", "application/octet-stream")
    if (gzip) x.getResponseHeaders.set("Content-Encoding", "gzip")
    x.sendResponseHeaders(200, 0)
    val out: OutputStream =
      if (gzip) new java.util.zip.GZIPOutputStream(x.getResponseBody)
      else x.getResponseBody
    try {
      if (nonEmpty) {
        val buf = new java.io.BufferedOutputStream(out, 64 * 1024)
        while (it.hasNext)
          ProtoWire.writeFrame(buf, ProtoWire.encode(it.next().toSeq, schema))
        buf.flush()
      }
    } finally { out.close(); x.close() }
  }

  private def respond(x: HttpExchange, code: Int, ct: String, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    x.getResponseHeaders.set("Content-Type", ct)
    x.sendResponseHeaders(code, bytes.length)
    val out: OutputStream = x.getResponseBody
    try out.write(bytes) finally { out.close(); x.close() }
  }

  /** CH grammar: an outermost trailing `FORMAT <ident>` selects the output
    * format and is not part of the relational statement — Spark must not
    * see it. Anchored at end-of-statement AND restricted to known format
    * names, so `ORDER BY format DESC` (a column that happens to be named
    * format) is never mangled. */
  private def stripFormatClause(q: String): (String, Option[String]) = {
    HttpSql.FormatClause.findFirstMatchIn(q) match {
      case Some(g) if HttpSql.formats.contains(g.group(1).toLowerCase) ||
                      HttpSql.binaryFormats.contains(g.group(1).toLowerCase) =>
        (q.substring(0, g.start).trim, Some(g.group(1)))
      case _ => (q, None)
    }
  }

  private def parseQueryString(raw: Option[String]): Map[String, String] =
    raw.fold(Map.empty[String, String]) { qs =>
      qs.split('&').iterator.filter(_.nonEmpty).map { kv =>
        val i = kv.indexOf('=')
        val k = if (i < 0) kv else kv.substring(0, i)
        val v = if (i < 0) "" else java.net.URLDecoder.decode(kv.substring(i + 1), UTF_8)
        k -> v
      }.toMap
    }
}

object HttpSql {

  /** Holders of served-table temp views per (session, view): temp views
    * are SESSION-scoped, so two HttpSql instances sharing one
    * SparkSession register the SAME names — the first server to stop
    * must not yank views the survivor's in-flight queries read (ADVICE
    * r14). Holder tracking is a WEAK-key map, not a bare counter: a
    * server abandoned without stop() (crash path, leaked instance) gets
    * collected and its claim vanishes, so the surviving server's stop()
    * still drops the view instead of stranding a count forever — and no
    * dead server pins the SparkSession. Best-effort by nature (an
    * uncollected abandoned server holds its claim until GC); the
    * fallback is benign because refreshDataTables re-registers a served
    * name whose session view is no longer the one it registered, so an
    * early drop only costs one re-listing. */
  private val viewHolders = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), java.util.Map[AnyRef, java.lang.Boolean]]()
  private def retainView(s: SparkSession, name: String,
                         holder: AnyRef): Unit = {
    viewHolders.computeIfAbsent((s, name),
        _ => java.util.Collections.synchronizedMap(
          new java.util.WeakHashMap[AnyRef, java.lang.Boolean]()))
      .put(holder, java.lang.Boolean.TRUE): Unit
  }
  /** True when no live holder remains (caller drops the view). */
  private def releaseView(s: SparkSession, name: String,
                          holder: AnyRef): Boolean = {
    val m = viewHolders.get((s, name))
    if (m == null) true
    else {
      m.remove(holder)
      val empty = m.isEmpty // weak keys: collected holders are gone
      if (empty) viewHolders.remove((s, name)): Unit
      empty
    }
  }

  private val FormatClause =
    """(?is)\bFORMAT\s+([A-Za-z]\w*)\s*;?\s*$""".r

  /** CH `KILL QUERY WHERE query_id = '…'` (the SYNC form; graft cancels
    * the job group immediately either way). */
  private[server] val KillQuery =
    """(?is)^\s*KILL\s+QUERY\s+WHERE\s+query_id\s*=\s*'([^']+)'\s*;?\s*$""".r

  /** Statements referencing the ops views trigger a snapshot refresh. */
  private[server] val SystemTable = """(?i)\bsystem_(parts|query_log)\b""".r

  /** `INSERT INTO [db.]<table> FORMAT Protobuf`, with the reference's
    * trailing `SETTINGS format_schema='…'` (src/click_house.rs:75-78)
    * accepted on either side of the FORMAT clause and otherwise ignored —
    * the table name alone binds the wire schema here. */
  private[server] val InsertProto =
    ("""(?is)^\s*INSERT\s+INTO\s+(?:\w+\.)?(\w+)\s+""" +
     """(?:SETTINGS\s+format_schema\s*=\s*'[^']*'\s+)?""" +
     """FORMAT\s+Protobuf\s*""" +
     """(?:SETTINGS\s+format_schema\s*=\s*'[^']*'\s*)?;?\s*$""").r

  /** Register the testdata tables as temp views so HTTP queries address
    * them by name (the CH deployment's `db.table` names play this role). */
  def registerTables(spark: SparkSession, dir: String): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").foreach { t =>
      Tables(spark, dir, t).createOrReplaceTempView(t)
    }

  /** One output format: content type, optional header line, row renderer. */
  final case class Format(contentType: String,
                          header: StructType => Option[String],
                          row: (Row, StructType) => String)

  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    .withZone(ZoneOffset.UTC)

  /** CH-style scalar rendering: timestamps as `yyyy-MM-dd HH:mm:ss` (UTC),
    * arrays as `[…]`, NULL spelled per-format by the caller. */
  private def scalar(v: Any): String = v match {
    case null            => null
    case t: Timestamp    => tsFmt.format(t.toInstant)
    case d: java.sql.Date => d.toString
    case s: Seq[_]       => s.map(e => Option(scalar(e)).getOrElse("NULL"))
                              .mkString("[", ",", "]")
    case b: Array[Byte]  => java.util.Base64.getEncoder.encodeToString(b)
    case other           => other.toString
  }

  private def tsvEscape(s: String): String =
    s.flatMap {
      case '\t' => "\\t"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\\' => "\\\\"
      case c    => c.toString
    }

  private def tsvCell(v: Any): String =
    Option(scalar(v)).map(tsvEscape).getOrElse("\\N") // CH TSV NULL literal

  private def csvCell(v: Any): String = Option(scalar(v)) match {
    case None => "\\N"
    // '\r' must quote too: a bare CR breaks row framing for CRLF parsers
    case Some(s) if s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r') =>
      "\"" + s.replace("\"", "\"\"") + "\""
    case Some(s) => s
  }

  private def jsonEscape(s: String): String = {
    val sb = new StringBuilder
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c    => sb.append(c)
    }
    sb.toString
  }

  private def jsonValue(v: Any, dt: DataType): String = (v, dt) match {
    case (null, _) => "null"
    // non-finite doubles are not JSON; CH JSONEachRow emits null for them
    case (d: java.lang.Double, _) if d.isNaN || d.isInfinite => "null"
    case (f: java.lang.Float, _) if f.isNaN || f.isInfinite  => "null"
    case (_, _: NumericType) | (_, BooleanType) => v.toString
    case (s: Seq[_], ArrayType(et, _)) =>
      s.map(jsonValue(_, et)).mkString("[", ",", "]")
    case _ => "\"" + jsonEscape(scalar(v)) + "\""
  }

  private def tsvRow(r: Row, s: StructType): String =
    s.indices.map(i => tsvCell(r.get(i))).mkString("", "\t", "\n")

  private def csvRow(r: Row, s: StructType): String =
    s.indices.map(i => csvCell(r.get(i))).mkString("", ",", "\n")

  private def jsonRow(r: Row, s: StructType): String =
    s.fields.indices.map { i =>
      "\"" + jsonEscape(s.fields(i).name) + "\":" + jsonValue(r.get(i), s.fields(i).dataType)
    }.mkString("{", ",", "}\n")

  private def namesHeader(sep: String)(s: StructType): Option[String] =
    Some(s.fieldNames.mkString("", sep, "\n"))

  /** Binary output formats, dispatched outside the row-renderer pipeline
    * (a parquet body is footer-framed; a protobuf body is varint-framed
    * binary, not text rows). */
  val binaryFormats: Set[String] = Set("parquet", "protobuf")

  val formats: Map[String, Format] = Map(
    "tabseparated"          -> Format("text/tab-separated-values", _ => None, tsvRow),
    "tsv"                   -> Format("text/tab-separated-values", _ => None, tsvRow),
    "tabseparatedwithnames" -> Format("text/tab-separated-values",
                                      namesHeader("\t"), tsvRow),
    "tsvwithnames"          -> Format("text/tab-separated-values",
                                      namesHeader("\t"), tsvRow),
    "csv"                   -> Format("text/csv", _ => None, csvRow),
    "csvwithnames"          -> Format("text/csv", namesHeader(","), csvRow),
    "jsoneachrow"           -> Format("application/x-ndjson", _ => None, jsonRow)
  )
}
