package graft

import java.time.Duration

/** Typed engine configuration — the analog of the reference's TOML config
  * (src/config.rs:5-17 `AppConfig { tracing, nats, clickhouse, batcher }`,
  * defaults in config/default.toml). Parsed from the same TOML shape into
  * case classes, with every default matching default.toml value-for-value,
  * so a reference deployment's config file drops in unchanged.
  *
  * The parser covers exactly the TOML subset the reference's config uses:
  * `[section]` / `[section.sub]` headers, `key = value` with string, int,
  * bool, and string-array values, and `#` comments. Unknown keys are
  * ignored (forward compatibility); type mismatches fail loudly. Only
  * the keys the engine reads are modelled: the reference's `[tracing]`
  * section, `nats.server_port`, `nats.queue`,
  * `nats.stream_config.{no_ack,need_create}` and every `[clickhouse]` key
  * but `port` have no consumer here and load as unknown keys.
  */
/** NATS stream envelope (src/config.rs:58-70). `maxAge` drives the
  * retention job ([[graft.sources.Retention]]) — the reference delegates
  * age expiry to JetStream (`max_age = "24h"`, default.toml:27); here the
  * storage tier owns it. */
final case class StreamEnvelopeConfig(
    name: String = "ClickHouseConsumer",
    retention: String = "workqueue",
    discard: String = "old",
    storage: String = "memory",
    maxConsumers: Int = 100,
    maxAge: String = "24h") {
  def maxAgeDuration: Duration = EngineConfig.parseDuration(maxAge)
}

/** Broker connectivity (src/config.rs:39-56 NatsConfig). */
final case class BrokerConfig(
    clientPort: Int = 4222,
    username: String = "user",
    password: String = "password",
    host: String = "localhost",
    subjects: Seq[String] = Seq("events.login"),
    consumerName: String = "click-consumer",
    streamConfig: StreamEnvelopeConfig = StreamEnvelopeConfig())

/** Warehouse surface (src/config.rs:100-110 ClickHouseConfig): the
  * engine's "warehouse" is the parquet table root, so only the HTTP port
  * the analysts connect to carries over. */
final case class WarehouseConfig(
    port: Int = 8123)

/** Micro-batcher flush envelope (src/config.rs:113-118 BatchConfig,
  * defaults default.toml:40-43) — feeds [[graft.streaming.Ingest]]'s
  * source-rate options and trigger. */
final case class BatcherConfig(
    maxRows: Long = 100000L,
    maxBytes: Long = 60000000L,
    flushIntervalMs: Long = 1000L)

/** Small-file compaction — the analog of MergeTree's continuous part
  * merges (the reference's storage engine merges inserted parts while
  * inserts keep flowing, `migrations .sql:18-20`; SURVEY §4.2 "ours to
  * schedule"). Off by default. When enabled, each streamed table's own
  * ingest query, right after writing a batch, compacts any date
  * partition that batch wrote whose file count exceeds `maxFiles` (and
  * 2× its floor) into ~`targetBytes` files
  * ([[graft.streaming.Ingest.startFromWire]]). Only partitions a stream
  * batch writes are checked: a partition grown only by HTTP INSERT
  * appends (e.g. a backfill of an older date) is never compacted. */
final case class CompactionConfig(
    enabled: Boolean = false,
    maxFiles: Int = 16,
    targetBytes: Long = 128L * 1024 * 1024)

final case class EngineConfig(
    broker: BrokerConfig = BrokerConfig(),
    warehouse: WarehouseConfig = WarehouseConfig(),
    batcher: BatcherConfig = BatcherConfig(),
    compaction: CompactionConfig = CompactionConfig())

object EngineConfig {

  /** Built-in defaults == config/default.toml verbatim. */
  val default: EngineConfig = EngineConfig()

  def loadFromFile(path: String): EngineConfig =
    parse(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8))

  /** "24h" / "30m" / "120s" / "1500ms" → Duration (JetStream max_age
    * grammar as the reference uses it). */
  def parseDuration(s: String): Duration = {
    val m = """(\d+)\s*(ms|s|m|h|d)""".r
    s.trim match {
      case m(n, "ms") => Duration.ofMillis(n.toLong)
      case m(n, "s") => Duration.ofSeconds(n.toLong)
      case m(n, "m") => Duration.ofMinutes(n.toLong)
      case m(n, "h") => Duration.ofHours(n.toLong)
      case m(n, "d") => Duration.ofDays(n.toLong)
      case other => throw new IllegalArgumentException(s"bad duration: '$other'")
    }
  }

  private sealed trait TomlValue
  private case class TStr(v: String) extends TomlValue
  private case class TInt(v: Long) extends TomlValue
  private case class TBool(v: Boolean) extends TomlValue
  private case class TArr(v: Seq[String]) extends TomlValue

  /** Parse the reference's TOML subset into section → key → value. */
  private def parseToml(text: String): Map[String, Map[String, TomlValue]] = {
    var section = ""
    val out = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Map[String, TomlValue]]
    val header = """\[([A-Za-z0-9_.]+)\]""".r
    val kv = """([A-Za-z0-9_]+)\s*=\s*(.+)""".r
    def stripComment(s: String): String = {
      // a '#' outside quotes starts a comment; inside quotes, a backslash
      // escapes the next char (so \" does not toggle the string state)
      var inStr = false
      var esc = false
      val b = new StringBuilder
      for (c <- s) {
        if (esc) { esc = false; b += c }
        else if (inStr && c == '\\') { esc = true; b += c }
        else {
          if (c == '"') inStr = !inStr
          if (c == '#' && !inStr) return b.toString
          b += c
        }
      }
      b.toString
    }
    def unescape(v: String): String = {
      val b = new StringBuilder
      var i = 0
      while (i < v.length) {
        if (v(i) == '\\' && i + 1 < v.length) {
          v(i + 1) match {
            case '"' => b += '"'
            case '\\' => b += '\\'
            case 'n' => b += '\n'
            case 't' => b += '\t'
            case 'r' => b += '\r'
            case o => b += '\\'; b += o
          }
          i += 2
        } else { b += v(i); i += 1 }
      }
      b.toString
    }
    def value(raw: String, line: String): TomlValue = raw.trim match {
      case v if v.startsWith("\"") && v.endsWith("\"") && v.length >= 2 =>
        TStr(unescape(v.substring(1, v.length - 1)))
      case "true" => TBool(true)
      case "false" => TBool(false)
      case v if v.startsWith("[") && v.endsWith("]") =>
        val body = v.substring(1, v.length - 1).trim
        TArr(if (body.isEmpty) Seq.empty
        else body.split(",").toSeq.map(_.trim).map {
          case e if e.startsWith("\"") && e.endsWith("\"") =>
            unescape(e.substring(1, e.length - 1))
          case e => throw new IllegalArgumentException(s"non-string array element '$e' in: $line")
        })
      case v if v.matches("-?\\d+") => TInt(v.toLong)
      case v => throw new IllegalArgumentException(s"unsupported TOML value '$v' in: $line")
    }
    text.linesIterator.map(stripComment).map(_.trim).filter(_.nonEmpty).foreach {
      case header(name) => section = name
      case kv(k, raw) =>
        out.getOrElseUpdate(section, scala.collection.mutable.Map.empty)
          .update(k, value(raw, s"$section.$k"))
      case line => throw new IllegalArgumentException(s"unparseable TOML line: '$line'")
    }
    out.view.mapValues(_.toMap).toMap
  }

  /** Parse TOML text over the built-in defaults: absent sections/keys keep
    * their default.toml values, exactly like serde's struct defaults. */
  def parse(text: String): EngineConfig = {
    val t = parseToml(text)
    def str(sec: String, key: String, dflt: String): String = t.get(sec).flatMap(_.get(key)) match {
      case Some(TStr(v)) => v
      case Some(other) => throw new IllegalArgumentException(s"$sec.$key: expected string, got $other")
      case None => dflt
    }
    def int(sec: String, key: String, dflt: Long): Long = t.get(sec).flatMap(_.get(key)) match {
      case Some(TInt(v)) => v
      case Some(other) => throw new IllegalArgumentException(s"$sec.$key: expected int, got $other")
      case None => dflt
    }
    // Int-ranged fields (ports, connection counts): a bare .toInt would
    // BIT-TRUNCATE an out-of-range TOML value to some unrelated number —
    // "type mismatches fail loudly" must include range
    def int32(sec: String, key: String, dflt: Long): Int = {
      val v = int(sec, key, dflt)
      if (v < Int.MinValue || v > Int.MaxValue)
        throw new IllegalArgumentException(
          s"$sec.$key: $v is outside the 32-bit int range")
      v.toInt
    }
    def bool(sec: String, key: String, dflt: Boolean): Boolean = t.get(sec).flatMap(_.get(key)) match {
      case Some(TBool(v)) => v
      case Some(other) => throw new IllegalArgumentException(s"$sec.$key: expected bool, got $other")
      case None => dflt
    }
    def arr(sec: String, key: String, dflt: Seq[String]): Seq[String] = t.get(sec).flatMap(_.get(key)) match {
      case Some(TArr(v)) => v
      case Some(TStr(v)) => Seq(v)
      case Some(other) => throw new IllegalArgumentException(s"$sec.$key: expected array, got $other")
      case None => dflt
    }
    val d = default
    EngineConfig(
      broker = BrokerConfig(
        clientPort = int32("nats", "client_port", d.broker.clientPort),
        username = str("nats", "username", d.broker.username),
        password = str("nats", "password", d.broker.password),
        host = str("nats", "host", d.broker.host),
        subjects = arr("nats", "subjects", d.broker.subjects),
        consumerName = str("nats", "consumer_name", d.broker.consumerName),
        streamConfig = StreamEnvelopeConfig(
          name = str("nats.stream_config", "name", d.broker.streamConfig.name),
          retention = str("nats.stream_config", "retention", d.broker.streamConfig.retention),
          discard = str("nats.stream_config", "discard", d.broker.streamConfig.discard),
          storage = str("nats.stream_config", "storage", d.broker.streamConfig.storage),
          maxConsumers = int32("nats.stream_config", "max_consumers",
            d.broker.streamConfig.maxConsumers),
          maxAge = str("nats.stream_config", "max_age", d.broker.streamConfig.maxAge))),
      warehouse = WarehouseConfig(
        port = int32("clickhouse", "port", d.warehouse.port)),
      batcher = BatcherConfig(
        maxRows = int("batcher", "max_rows", d.batcher.maxRows),
        maxBytes = int("batcher", "max_bytes", d.batcher.maxBytes),
        flushIntervalMs = int("batcher", "flush_interval_ms", d.batcher.flushIntervalMs)),
      compaction = CompactionConfig(
        enabled = bool("compaction", "enabled", d.compaction.enabled),
        maxFiles = int32("compaction", "max_files", d.compaction.maxFiles),
        targetBytes = int("compaction", "target_bytes", d.compaction.targetBytes)))
  }
}
