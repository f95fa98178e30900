package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.server.HttpSql
import graft.streaming.{Ingest, NatsBridge}

/** The reference's main program re-expressed
  * (`/root/reference/src/main.rs:19-106`): load the deployment TOML →
  * connect the broker → run the per-subject typed ingest with the
  * delivery budget → serve SQL over HTTP → graceful drain on shutdown.
  *
  * Lifecycle mapping, piece by piece:
  *  - `AppConfig::load_from_file("config/default.toml")` →
  *    [[EngineConfig.loadFromFile]] (same TOML).
  *  - `Nats::new` + `consume()` → `GRAFT_BROKER=nats`: [[NatsBridge]]
  *    connect (ensure stream/consumer) + a daemon relay thread feeding
  *    the spool the streaming source tails. Default `file`: the spool is
  *    fed externally (this environment ships no broker).
  *  - `ClickHouseClient::ping()` fail-fast → SparkSession construction +
  *    a one-row sanity query before any stream starts.
  *  - `Batcher::run` per-subject flush loop →
  *    [[Ingest.startFromWire]]: one streaming query per subject,
  *    ack-after-write via checkpoint commit, RedeliveryBudget as the
  *    max_deliver analog, DLQ for poison (handler.rs Term ↔ dead-letter,
  *    Nak ↔ checkpoint replay).
  *  - MergeTree background part merges (`migrations .sql:18-20`) →
  *    `[compaction] enabled`: each subject's query compacts the date
  *    partitions of its own table right after writing a batch, while
  *    ingest keeps flowing.
  *  - analyst surface (the reference delegates to ClickHouse HTTP
  *    :8123) → [[HttpSql]] on the warehouse port from the TOML.
  *  - `ctrl_c` → `shutdown.cancel()` → `flush_all` → drain: a JVM
  *    shutdown hook stops each streaming query between batches (the
  *    checkpoint makes the cut clean), stops the relay, closes the
  *    broker connection, then the HTTP server.
  */
object ServeMain {

  /** Running engine handle — everything [[boot]] started, stoppable in
    * reference drain order. Each table's streaming query lives for the
    * whole serve (compaction runs inside it), so `main` can wait on
    * these handles. */
  final class Engine(val spark: SparkSession,
                     val queries: Map[String, StreamingQuery],
                     val http: HttpSql, val httpPort: Int,
                     stopRelay: () => Unit) {
    /** `flush_all` + drain (main.rs:95-105): stop ingest so no new batch
      * starts, then the relay (which closes its broker connection), then
      * the serving surface. */
    def drain(): Unit = {
      queries.values.foreach(q => scala.util.Try(q.stop()))
      stopRelay()
      scala.util.Try(http.stop())
    }
  }

  /** Wire the full engine from config. Separated from `main` so specs
    * can drive the exact production wiring against temp dirs. */
  def boot(cfg: EngineConfig, spark: SparkSession, wireRoot: String,
           outDir: String, ckptRoot: String, httpPort: Int,
           useNats: Boolean): Engine = {
    // ping() analog: fail fast before any stream starts
    require(spark.range(1).count() == 1L, "SparkSession sanity check failed")
    // the tailing file source needs every subject's spool dir to exist
    // before its stream starts (the relay/producer may not have written
    // yet when the engine comes up)
    cfg.broker.subjects.foreach(s =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(wireRoot, s)))
    // heal interrupted compaction swaps BEFORE any writer starts — the
    // bak/tmp recovery has one branch that is only safe with the writer
    // quiet (see Compaction.healInterrupted). UNCONDITIONAL: the damage
    // a crashed swap leaves (a partition dir moved aside to a hidden
    // .bak) persists on disk regardless of whether compaction is still
    // enabled, and rebooting with it disabled must not serve a table
    // with a partition silently missing.
    cfg.broker.subjects.foreach { s =>
      val table = graft.streaming.EventSchemas.routes(s)
      sources.Compaction.healInterrupted(spark, s"$outDir/$table")
        .foreach(p => println(s"[serve] healed interrupted compaction of " +
          s"$table/$p"))
    }

    // both brokers feed the same per-subject spool dirs: with NATS a
    // relay thread writes them, with `file` an external producer does
    val stopRelay: () => Unit =
      if (useNats) {
        // fail fast on a bad config (ping() analog for the broker), then
        // hand the connection to the supervised relay, which owns
        // reconnection from here on
        NatsBridge.connect(cfg).close()
        @volatile var stop = false
        val relay = new Thread(() => NatsBridge.superviseRelay(cfg, wireRoot,
          batch = cfg.batcher.maxRows.min(512L).toInt,
          expiresMs = cfg.batcher.flushIntervalMs, stop = () => stop),
          "graft-nats-relay")
        relay.setDaemon(true)
        relay.start()
        () => { stop = true; relay.join(5000) }
      } else () => ()

    // the TOML batcher envelope applies at the relay: superviseRelay
    // runs each connection through NatsBridge.SpoolBatcher, which cuts
    // spool files on max_rows/max_bytes and drains on flush_interval_ms
    // (the reference's Batcher, src/handler.rs:96-160 — SURVEY §2.9
    // O-T2). Downstream, the streaming queries trigger on the same
    // flush_interval_ms so the ingest cadence matches the flush cadence.
    // with [compaction] enabled each query compacts its own table right
    // after a batch lands (the MergeTree background-merge analog)
    val queries = Ingest.startFromWire(spark, wireRoot, outDir, ckptRoot,
      trigger = Ingest.batcherParams(cfg),
      subjects = cfg.broker.subjects, compaction = cfg.compaction)
    // no leak on a failed boot: if the HTTP server cannot start (port
    // bound), the just-started streaming queries and the relay must not
    // keep running with no handle to stop them
    try {
      val http = new HttpSql(spark, httpPort, dataDir = Some(outDir))
      val port = http.start()
      new Engine(spark, queries, http, port, stopRelay)
    } catch {
      case e: Throwable =>
        queries.values.foreach(q =>
          try q.stop() catch { case scala.util.control.NonFatal(_) => () })
        try stopRelay() catch { case scala.util.control.NonFatal(_) => () }
        throw e
    }
  }

  def main(args: Array[String]): Unit = {
    val cfg = args.headOption.map(EngineConfig.loadFromFile)
      .getOrElse(EngineConfig.default)
    def envOr(k: String, d: String) = sys.env.getOrElse(k, d)
    val root = envOr("GRAFT_DATA_ROOT",
      s"${sys.props("java.io.tmpdir")}/graft_serve")
    val spark = EngineSession.local(appName = "graft-serve")
    val engine = boot(cfg, spark,
      wireRoot = envOr("GRAFT_WIRE_ROOT", s"$root/wire"),
      outDir = envOr("GRAFT_OUT_DIR", s"$root/tables"),
      ckptRoot = envOr("GRAFT_CKPT", s"$root/ckpt"),
      httpPort = envOr("GRAFT_HTTP_PORT", cfg.warehouse.port.toString).toInt,
      useNats = envOr("GRAFT_BROKER", "file") == "nats")
    println(s"[serve] graft engine up: http=${engine.httpPort} " +
      s"subjects=${cfg.broker.subjects.mkString(",")} " +
      s"broker=${envOr("GRAFT_BROKER", "file")}")
    sys.addShutdownHook {
      println("[serve] draining...")
      engine.drain()
      spark.stop()
    }
    engine.queries.values.foreach(_.awaitTermination())
  }
}
