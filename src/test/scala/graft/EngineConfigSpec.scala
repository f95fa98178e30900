package graft

import org.scalatest.funsuite.AnyFunSuite

class EngineConfigSpec extends AnyFunSuite {

  test("defaults mirror the reference envelope (config/default.toml)") {
    val c = EngineConfig.default
    assert(c.batcher.maxRows == 100000L)
    assert(c.batcher.maxBytes == 60000000L)
    assert(c.batcher.flushIntervalMs == 1000L)
    assert(c.broker.host == "localhost" && c.broker.clientPort == 4222)
    assert(c.broker.subjects == Seq("events.login"))
    assert(c.broker.streamConfig.maxAge == "24h")
    assert(c.broker.streamConfig.maxAgeDuration == java.time.Duration.ofHours(24))
    assert(c.warehouse.port == 8123)
  }

  test("TOML overlay: present keys override, absent keys keep defaults") {
    val c = EngineConfig.parse(
      """# engine overrides
        |[nats]
        |host = "broker.prod"       # comment after value
        |client_port = 14222
        |subjects = ["events.login", "events.logout", "events.play"]
        |
        |[nats.stream_config]
        |max_age = "48h"
        |storage = "file"
        |
        |[batcher]
        |max_bytes = 5000000
        |""".stripMargin)
    assert(c.broker.host == "broker.prod" && c.broker.clientPort == 14222)
    assert(c.broker.subjects.size == 3 && c.broker.subjects.contains("events.play"))
    assert(c.broker.streamConfig.maxAgeDuration == java.time.Duration.ofHours(48))
    assert(c.broker.streamConfig.storage == "file")
    assert(c.batcher.maxBytes == 5000000L)
    // untouched sections keep default.toml values
    assert(c.batcher.maxRows == 100000L && c.batcher.flushIntervalMs == 1000L)
    assert(c.broker.username == "user" && c.warehouse.port == 8123)
  }

  test("file load + unknown keys ignored + type mismatch fails loudly") {
    val f = java.nio.file.Files.createTempFile("graft_cfg", ".toml")
    java.nio.file.Files.writeString(f,
      """[batcher]
        |flush_interval_ms = 250
        |future_knob = "ignored"
        |
        |# reference keys the engine does not model still load
        |[tracing]
        |level = "debug"
        |format = "json"
        |with_level = false
        |with_target = true
        |with_thread_ids = true
        |with_line_number = true
        |with_file = true
        |
        |[nats]
        |server_port = 8222
        |queue = "clickhouse-queue"
        |
        |[nats.stream_config]
        |no_ack = true
        |need_create = false
        |
        |[clickhouse]
        |host = "ch.prod"
        |port = 18123
        |user = "analyst"
        |password = "secret"
        |database = "events"
        |max_open_conns = 4
        |max_idle_conns = 2
        |debug = true
        |
        |[compaction]
        |interval_ms = 400
        |""".stripMargin)
    val c = EngineConfig.loadFromFile(f.toString)
    assert(c.batcher.flushIntervalMs == 250L)
    assert(c.warehouse.port == 18123)
    assert(c.broker == EngineConfig.default.broker)
    assert(c.compaction == EngineConfig.default.compaction)
    intercept[IllegalArgumentException] {
      EngineConfig.parse("[batcher]\nmax_rows = \"not a number\"")
    }
    intercept[IllegalArgumentException] {
      EngineConfig.parse("just nonsense here")
    }
    // range is part of "fails loudly": an Int-ranged field past 2^31
    // must reject, not bit-truncate to an unrelated port number
    val ex = intercept[IllegalArgumentException] {
      EngineConfig.parse("[nats]\nclient_port = 4294971518")
    }
    assert(ex.getMessage.contains("32-bit"))
  }

  test("escaped quotes survive comment stripping and are unescaped") {
    val c = EngineConfig.parse(
      "[nats]\npassword = \"p\\\"w#1\"   # trailing comment\nhost = \"h\"")
    assert(c.broker.password == "p\"w#1",
      s"got '${c.broker.password}' — a '#' after an escaped quote is not a comment")
    assert(c.broker.host == "h")
  }

  test("duration grammar: ms/s/m/h/d; garbage rejected") {
    import EngineConfig.parseDuration
    assert(parseDuration("1500ms") == java.time.Duration.ofMillis(1500))
    assert(parseDuration("90s") == java.time.Duration.ofSeconds(90))
    assert(parseDuration("30m") == java.time.Duration.ofMinutes(30))
    assert(parseDuration("24h") == java.time.Duration.ofHours(24))
    assert(parseDuration("7d") == java.time.Duration.ofDays(7))
    intercept[IllegalArgumentException] { parseDuration("soon") }
  }

  test("batcher envelope reaches the streaming knobs (Ingest.batcherParams)") {
    // the actual config→trigger seam ServeMain uses, not just TOML
    // parsing (max_rows/max_bytes apply at the relay's SpoolBatcher)
    val cfg = EngineConfig.parse("[batcher]\nmax_bytes = 1234\nflush_interval_ms = 42")
    val trigger = graft.streaming.Ingest.batcherParams(cfg)
    assert(trigger ==
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("42 milliseconds"),
      s"flush_interval_ms must become the processing-time trigger: $trigger")
  }
}
