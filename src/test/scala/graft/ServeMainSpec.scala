package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{EventSchemas, MockNatsServer, NatsWire, ProtoFiles, ProtoWire}

/** Boots the full production wiring ([[ServeMain.boot]] — the main.rs
  * lifecycle analog) against temp dirs, in both broker modes. */
class ServeMainSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private val subject = "events.login"
  private val schema = EventSchemas.tables("login_events")

  private def loginMsg(id: String, user: String, ts: Long): Seq[Any] =
    Seq(id, "login", user, "s-1", "a-1", ts,
      "web", "android", "14", "android", "14", "chrome", "128",
      "mobile", "1080x2400", "UA")

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  private def httpGet(port: Int, q: String): String = {
    val c = HttpClient.newHttpClient()
    val enc = java.net.URLEncoder.encode(q, UTF_8)
    c.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/?query=$enc")).GET().build(),
      HttpResponse.BodyHandlers.ofString()).body()
  }

  test("file-broker boot: wire file -> typed parquet -> HTTP SELECT -> drain") {
    val wire = tmp("serve_wire"); val out = tmp("serve_out"); val ckpt = tmp("serve_ckpt")
    val cfg = EngineConfig.default.copy(
      broker = BrokerConfig(subjects = Seq(subject)))
    val engine = ServeMain.boot(cfg, spark, wire, out, ckpt,
      httpPort = 0, useNats = false)
    try {
      new java.io.File(s"$wire/$subject").mkdirs()
      ProtoFiles.writeLocal(s"$wire/$subject/flush-000001.pbstream",
        Iterator(loginMsg("b-1", "u-1", 1726300800L),
          loginMsg("b-2", "u-2", 1726300801L)), schema)
      engine.queries.values.foreach(_.processAllAvailable())
      assert(spark.read.parquet(s"$out/login_events").count() == 2)
      val body = httpGet(engine.httpPort,
        "SELECT count(*) AS n FROM login_events")
      assert(body.trim == "2", s"HTTP surface over the served tables: $body")
    } finally engine.drain()
  }

  test("scheduled compaction: exploded table compacted mid-serve, zero loss, streaming resumes") {
    import org.apache.spark.sql.functions.{col, max => smax}
    val wire = tmp("cmpct_wire"); val out = tmp("cmpct_out"); val ckpt = tmp("cmpct_ckpt")
    val maxFiles = 6
    val cfg = EngineConfig.default.copy(
      broker = BrokerConfig(subjects = Seq(subject)),
      batcher = BatcherConfig(flushIntervalMs = 100L),
      compaction = CompactionConfig(enabled = true, maxFiles = maxFiles))
    val engine = ServeMain.boot(cfg, spark, wire, out, ckpt,
      httpPort = 0, useNats = false)
    try {
      // compaction runs inside this query's own batches: the handle boot
      // returned serves the whole test
      val q = engine.queries("login_events")
      new java.io.File(s"$wire/$subject").mkdirs()
      // explode the file census: one wire file per micro-batch, one
      // ingest_batch subdir (>=1 parquet file) each
      var id = 0
      (1 to 10).foreach { b =>
        ProtoFiles.writeLocal(f"$wire/$subject/flush-$b%06d.pbstream",
          Iterator.tabulate(3) { _ =>
            id += 1; loginMsg(f"c-$id%04d", s"u-${id % 5}", 1726300800L + id)
          }, schema)
        q.processAllAvailable()
      }
      // 10 batches > maxFiles=6 files: the writer compacted after the
      // batch that crossed the threshold
      val after = sources.Parts.forTable(spark, s"$out/login_events")
        .agg(smax(col("n_files"))).head.getLong(0)
      assert(after <= maxFiles,
        s"writer never brought the partition census under $maxFiles " +
          s"(still $after files)")
      // zero lost / zero duplicated across the compaction swaps
      val table = spark.read.parquet(s"$out/login_events")
      assert(table.count() == 30L, "rows lost or duplicated across compaction")
      assert(table.select("event_id").distinct().count() == 30L)
      // committed micro-batches pooled into the reserved partition
      val dates = new java.io.File(s"$out/login_events").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("event_date="))
      assert(dates.exists(_.listFiles().exists(_.getName == "ingest_batch=-1")),
        "committed batches must pool into ingest_batch=-1")
      assert(httpGet(engine.httpPort,
        "SELECT count(*) AS n FROM login_events").trim == "30")
      // streaming continues on the same handle
      assert(q.isActive)
      ProtoFiles.writeLocal(s"$wire/$subject/flush-resume.pbstream",
        Iterator(loginMsg("c-resume", "u-0", 1726300900L)), schema)
      q.processAllAvailable()
      val resumed = spark.read.parquet(s"$out/login_events")
      assert(resumed.count() == 31L,
        "post-compaction ingest must land on the same query")
      assert(resumed.select("event_id").distinct().count() == 31L)
      assert(q.isActive && q.exception.isEmpty)
    } finally engine.drain()
  }

  test("soak: relay survives injected connection drops — zero lost, bounded duplicates") {
    // The at-least-once contract (src/nats.rs:70-74) under sustained
    // failure: the mock severs the relay's connection right after every
    // 25th pull delivery (messages out, acks lost), ack_wait=1s
    // redelivers, and the engine must land EVERY published event at
    // least once with duplication bounded by the delivery budget —
    // while the HTTP surface keeps answering mid-run.
    val srv = new MockNatsServer
    val wire = tmp("soak_wire"); val out = tmp("soak_out"); val ckpt = tmp("soak_ckpt")
    val nMsgs = 150
    try {
      val cfg = EngineConfig.default.copy(
        broker = BrokerConfig(host = srv.host, clientPort = srv.port,
          subjects = Seq(subject),
          streamConfig = StreamEnvelopeConfig(name = "EVENTS")),
        batcher = BatcherConfig(flushIntervalMs = 100L))
      // pre-create the consumer with a soak-friendly config BEFORE the
      // engine (create is idempotent, first config wins in the mock):
      // 1s ack_wait so redelivery fits the soak window; a deep
      // max_deliver so injected drops can't dead-letter a healthy message
      locally {
        val nc = new NatsWire.Conn(srv.host, srv.port)
        try {
          val js = new NatsWire.JetStream(nc)
          js.ensureStream("EVENTS", Seq(subject))
          js.ensureConsumer("EVENTS", cfg.broker.consumerName, Seq(subject),
            NatsWire.ConsumerConfig(ackWaitSec = 1, maxDeliver = 50))
        } finally nc.close()
      }
      // two fault modes: sever mid-delivery (relay sees a truncated
      // fetch, nothing spooled, clean redelivery) and drop acks AFTER
      // the spool landed (the duplicate-producing window)
      srv.dropEveryNDeliveries = 25
      srv.dropEveryNAcks = 40
      val engine = ServeMain.boot(cfg, spark, wire, out, ckpt,
        httpPort = 0, useNats = true)
      try {
        // steady producer: one unique event every ~50ms (~8s of traffic)
        val prod = new NatsWire.Conn(srv.host, srv.port)
        try {
          (1 to nMsgs).foreach { i =>
            prod.publish(subject,
              ProtoWire.encode(loginMsg(f"soak-$i%04d", s"u-${i % 7}",
                1726300800L + i), schema))
            if (i % 10 == 0) prod.ping(2000)
            Thread.sleep(50)
          }
          prod.ping(2000)
        } finally prod.close()
        assert(srv.streamSize("EVENTS") == nMsgs)

        // mid-run HTTP query while redeliveries are still in flight
        engine.queries.values.foreach(_.processAllAvailable())
        val mid = httpGet(engine.httpPort,
          "SELECT count(*) AS n FROM login_events")
        assert(mid.trim.toLong > 0, s"HTTP surface dead mid-soak: $mid")

        // drain until every unique event landed (redelivery after drops
        // takes ack_wait rounds) or the deadline passes
        val deadline = System.currentTimeMillis() + 45000
        var distinct = 0L
        while (distinct < nMsgs && System.currentTimeMillis() < deadline) {
          engine.queries.values.foreach(_.processAllAvailable())
          distinct = scala.util.Try(
            spark.read.parquet(s"$out/login_events")
              .select("event_id").distinct().count()).getOrElse(0L)
          if (distinct < nMsgs) Thread.sleep(300)
        }
        val total = spark.read.parquet(s"$out/login_events").count()
        assert(distinct == nMsgs,
          s"LOST events under failure injection: $distinct of $nMsgs landed")
        // the ack-drop injection guarantees spooled-then-redelivered
        // messages, so the duplicate path must actually have fired...
        assert(total > nMsgs,
          s"ack drops should produce duplicate rows, got $total for $nMsgs")
        // ...and duplication stays bounded by the redelivery mechanism,
        // not unbounded replay: every duplicate is one lost-ack delivery
        assert(total < nMsgs * 3L,
          s"unbounded duplication: $total rows for $nMsgs events")
        val redeliveries = srv.deliveredCount - nMsgs
        info(f"soak: $nMsgs events, $total rows landed, " +
          f"${total - nMsgs} duplicate rows (${(total - nMsgs) * 100.0 / nMsgs}%.1f%%), " +
          f"$redeliveries wire redeliveries, " +
          f"acked=${srv.ackedCount("EVENTS", cfg.broker.consumerName)}")
        // the dedup view (O-W1) collapses the duplicates for consumers
        assert(spark.read.parquet(s"$out/login_events")
          .dropDuplicates(Seq("event_id")).count() == nMsgs)
        // at-least-once ≠ at-least-twice: the landed multiset diff must be
        // EXACTLY explained by wire redeliveries. Publish order pins
        // stream seq n ↔ event_id soak-%04d, so per id:
        //   occurrences ≤ wire deliveries of its seq (each landed row is
        //   a distinct delivery — nothing is spooled twice per delivery),
        // and every id landing >1 time must have been delivered >1 time.
        val idCounts = spark.read.parquet(s"$out/login_events")
          .groupBy("event_id").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val wire = srv.deliveryCounts("EVENTS", cfg.broker.consumerName)
        val dupIds = idCounts.filter(_._2 > 1).keySet
        val redeliveredIds = wire.collect {
          case (seq, n) if n > 1 => f"soak-$seq%04d" }.toSet
        assert(dupIds.subsetOf(redeliveredIds),
          s"duplicate rows not explained by redelivery: ${dupIds -- redeliveredIds}")
        idCounts.foreach { case (id, n) =>
          val seq = id.stripPrefix("soak-").toLong
          assert(n <= wire.getOrElse(seq, 0).toLong,
            s"$id landed $n times but the wire only delivered it ${wire.getOrElse(seq, 0)} times")
        }
      } finally {
        engine.drain()
        srv.dropEveryNDeliveries = 0
        srv.dropEveryNAcks = 0
      }
    } finally srv.close()
  }

  test("nats boot: publish -> relay spool -> typed parquet; drain stops the relay") {
    val srv = new MockNatsServer
    val wire = tmp("serve_nwire"); val out = tmp("serve_nout"); val ckpt = tmp("serve_nckpt")
    try {
      val cfg = EngineConfig.default.copy(
        broker = BrokerConfig(host = srv.host, clientPort = srv.port,
          subjects = Seq(subject),
          streamConfig = StreamEnvelopeConfig(name = "EVENTS")),
        batcher = BatcherConfig(flushIntervalMs = 100L))
      val engine = ServeMain.boot(cfg, spark, wire, out, ckpt,
        httpPort = 0, useNats = true)
      try {
        // producer on its own connection, like a real deployment
        val prod = new NatsWire.Conn(srv.host, srv.port)
        try {
          (1 to 3).foreach { i =>
            prod.publish(subject,
              ProtoWire.encode(loginMsg(s"b-$i", s"u-$i", 1726300800L + i), schema))
          }
          prod.ping(2000)
        } finally prod.close()
        // relay pulls on its own cadence; poll until rows land
        val deadline = System.currentTimeMillis() + 20000
        var n = 0L
        while (n < 3 && System.currentTimeMillis() < deadline) {
          engine.queries.values.foreach(_.processAllAvailable())
          n = scala.util.Try(
            spark.read.parquet(s"$out/login_events").count()).getOrElse(0L)
          if (n < 3) Thread.sleep(200)
        }
        assert(n == 3, s"expected 3 relayed rows, got $n")
        assert(srv.ackedCount("EVENTS", cfg.broker.consumerName) == 3,
          "relay must ack after the spool write")
      } finally engine.drain()
    } finally srv.close()
  }
}
