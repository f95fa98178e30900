package graft.streaming

import graft.TestSession
import org.scalatest.funsuite.AnyFunSuite

/** Drives the from-scratch NATS wire client + JetStream pull consumer
  * ([[NatsWire]]) and the fetch→spool→ack relay ([[NatsBridge]]) against
  * the wire-accurate in-process mock — the offline stand-in for the
  * reference's broker entry point (src/nats.rs). */
class NatsBridgeSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private val subject = "events.login"
  private val schema = EventSchemas.tables("login_events")

  private def loginMsg(id: String, user: String, ts: Long): Seq[Any] =
    WireFixtures.loginMsg(id, user, ts)

  private def withServer(f: (MockNatsServer, NatsWire.Conn) => Unit): Unit = {
    val srv = new MockNatsServer
    try {
      val nc = new NatsWire.Conn(srv.host, srv.port, Some("user"), Some("password"))
      try f(srv, nc) finally nc.close()
    } finally srv.close()
  }

  test("wire round trip: ensure stream/consumer, publish, pull with ack subjects, ack") {
    withServer { (srv, nc) =>
      val js = new NatsWire.JetStream(nc)
      js.ensureStream("EVENTS", Seq(subject))
      js.ensureStream("EVENTS", Seq(subject)) // idempotent (INFO path)
      js.ensureConsumer("EVENTS", "graft-consumer", Seq(subject))

      // producer publishes proto-encoded wire events over plain PUB
      (1 to 5).foreach { i =>
        nc.publish(subject, ProtoWire.encode(loginMsg(s"b-$i", s"u-$i", 1726300800L + i), schema))
      }
      nc.ping(2000) // flush barrier: all PUBs processed server-side
      assert(srv.streamSize("EVENTS") == 5)

      val msgs = js.fetch("EVENTS", "graft-consumer", batch = 10, expiresMs = 2000)
      assert(msgs.size == 5)
      assert(msgs.forall(_.deliveries == 1))
      assert(msgs.map(_.streamSeq) == Seq(1L, 2L, 3L, 4L, 5L))
      msgs.foreach(js.ack)
      nc.ping(2000) // acks are fire-and-forget PUBs; barrier before assert
      assert(srv.ackedCount("EVENTS", "graft-consumer") == 5)

      // acked messages never redeliver
      assert(js.fetch("EVENTS", "graft-consumer", batch = 10, expiresMs = 300).isEmpty)
    }
  }

  test("spool batcher: rows/bytes caps cut files, interval flushes the rest, acks ride the flush") {
    withServer { (srv, nc) =>
      val js = new NatsWire.JetStream(nc)
      js.ensureStream("EVENTS", Seq(subject, "events.session"))
      js.ensureConsumer("EVENTS", "graft-consumer", Seq(subject, "events.session"))
      val spool = java.nio.file.Files.createTempDirectory("graft_batcher").toString
      val session = NatsBridge.NatsSession(nc, js, "EVENTS", "graft-consumer")
      def spoolFiles(sub: String): Int =
        Option(new java.io.File(spool, sub).listFiles())
          .getOrElse(Array.empty).count(_.getName.endsWith(".pbstream"))

      // ROWS cap: 5 published, maxRows=3 → exactly one 3-row flush; the
      // 2 remaining rows stay pending and UNACKED (ack rides the flush)
      (1 to 5).foreach { i =>
        nc.publish(subject, ProtoWire.encode(loginMsg(s"b-$i", s"u-$i", 1726300800L + i), schema))
      }
      nc.ping(2000)
      val b = new NatsBridge.SpoolBatcher(session, spool,
        maxRows = 3, maxBytes = Long.MaxValue, flushIntervalMs = Long.MaxValue / 2)
      val flushed = b.offer(js.fetch("EVENTS", "graft-consumer", 10, 2000))
      assert(flushed == 3, s"rows cap should flush exactly maxRows, got $flushed")
      assert(b.pendingRows == 2)
      assert(spoolFiles(subject) == 1)
      nc.ping(2000)
      assert(srv.ackedCount("EVENTS", "graft-consumer") == 3,
        "only flushed rows may be acked")

      // interval tick: flushAll drains the remainder and acks it
      assert(b.flushAll() == 2)
      assert(b.pendingRows == 0)
      assert(spoolFiles(subject) == 2)
      nc.ping(2000)
      assert(srv.ackedCount("EVENTS", "graft-consumer") == 5)

      // BYTES cap: per-subject accounting — a small subject stays
      // pending while the loud one crosses the byte budget and flushes
      val payload = ProtoWire.encode(loginMsg("c-1", "u-9", 1726300900L), schema)
      (1 to 4).foreach(_ => nc.publish(subject, payload))
      nc.publish("events.session", payload)
      nc.ping(2000)
      val b2 = new NatsBridge.SpoolBatcher(session, spool,
        maxRows = Int.MaxValue, maxBytes = 3L * payload.length,
        flushIntervalMs = Long.MaxValue / 2)
      val f2 = b2.offer(js.fetch("EVENTS", "graft-consumer", 10, 2000))
      assert(f2 == 3, s"byte cap should flush AT the boundary, got $f2")
      assert(b2.pendingRows == 2,
        "the quiet subject and the post-flush tail must stay pending")
      assert(b2.flushAll() == 2)
    }
  }

  test("relay: fetch -> graft-proto spool -> ack; Spark reads the spool typed") {
    withServer { (srv, nc) =>
      val js = new NatsWire.JetStream(nc)
      js.ensureStream("EVENTS", Seq(subject))
      js.ensureConsumer("EVENTS", "graft-consumer", Seq(subject))
      (1 to 4).foreach { i =>
        nc.publish(subject, ProtoWire.encode(loginMsg(s"b-$i", s"u-$i", 1726300800L + i), schema))
      }
      nc.ping(2000)
      val spool = java.nio.file.Files.createTempDirectory("nats_spool").toString
      val s = NatsBridge.NatsSession(nc, js, "EVENTS", "graft-consumer")
      // a zero interval flushes every cycle's fetch at once
      val b = new NatsBridge.SpoolBatcher(s, spool, flushIntervalMs = 0L)
      assert(b.pumpOnce(batch = 10, expiresMs = 2000) == 4)
      assert(b.pendingRows == 0)
      nc.ping(2000)
      // acked only after the spool file landed
      assert(srv.ackedCount("EVENTS", "graft-consumer") == 4)
      val files = new java.io.File(s"$spool/$subject").listFiles()
      assert(files.nonEmpty && files.forall(f =>
        f.getName.startsWith("nats-") && f.getName.endsWith(".pbstream")))

      // the ingest stream reads the spool typed
      val out = java.nio.file.Files.createTempDirectory("nats_out").toString
      val ckpt = java.nio.file.Files.createTempDirectory("nats_ckpt").toString
      val qs = Ingest.startFromWire(spark, spool, out, ckpt, subjects = Seq(subject))
      try qs.values.foreach(_.processAllAvailable())
      finally qs.values.foreach(_.stop())
      val df = spark.read.parquet(s"$out/login_events")
      assert(df.count() == 4)
      assert(df.select("user_id").collect().map(_.getString(0)).sorted
        === Array("u-1", "u-2", "u-3", "u-4"))

      // idle pull spools nothing and acks nothing further
      assert(b.pumpOnce(batch = 10, expiresMs = 300) == 0)
      assert(files.length == new java.io.File(s"$spool/$subject").listFiles().length)
    }
  }

  test("ack_wait redelivery counts deliveries; max_deliver=3 dead-letters poison") {
    withServer { (srv, nc) =>
      val js = new NatsWire.JetStream(nc)
      js.ensureStream("EVENTS", Seq(subject))
      // 1s ack_wait so the spec can cross it; budget = reference's 3
      js.ensureConsumer("EVENTS", "graft-consumer", Seq(subject),
        NatsWire.ConsumerConfig(ackWaitSec = 1, maxDeliver = 3))
      nc.publish(subject, ProtoWire.encode(loginMsg("b-poison", "u-1", 1726300800L), schema))
      nc.ping(2000)

      def pullOne(): Seq[NatsWire.Msg] =
        js.fetch("EVENTS", "graft-consumer", batch = 10, expiresMs = 1500)

      val d1 = pullOne()
      assert(d1.map(_.deliveries) == Seq(1))
      // no ack → past ack_wait the server redelivers with the count bumped
      Thread.sleep(1100)
      val d2 = pullOne()
      assert(d2.map(_.deliveries) == Seq(2))
      Thread.sleep(1100)
      val d3 = pullOne()
      assert(d3.map(_.deliveries) == Seq(3))
      // budget exhausted: never delivered again, lands on the dead list
      Thread.sleep(1100)
      assert(pullOne().isEmpty)
      assert(srv.deadSeqs("EVENTS", "graft-consumer") == Seq(1L))
    }
  }

  test("NAK redelivers immediately with budget intact; TERM dead-letters without burning it") {
    withServer { (srv, nc) =>
      val js = new NatsWire.JetStream(nc)
      js.ensureStream("EVENTS", Seq(subject))
      js.ensureConsumer("EVENTS", "graft-consumer", Seq(subject),
        NatsWire.ConsumerConfig(ackWaitSec = 120, maxDeliver = 3))
      (1 to 2).foreach { i =>
        nc.publish(subject, ProtoWire.encode(loginMsg(s"b-$i", s"u-$i", 1726300800L + i), schema))
      }
      nc.ping(2000)
      val d1 = js.fetch("EVENTS", "graft-consumer", batch = 10, expiresMs = 2000)
      assert(d1.size == 2)
      // transient failure → NAK: redeliverable NOW despite the 120s
      // ack_wait (src/handler.rs:133); permanent → TERM: gone for good
      // with deliveries untouched (src/handler.rs:131)
      js.nak(d1.head)
      js.term(d1(1))
      nc.ping(2000)
      val d2 = js.fetch("EVENTS", "graft-consumer", batch = 10, expiresMs = 2000)
      assert(d2.map(_.streamSeq) == Seq(d1.head.streamSeq),
        "NAKed message redelivers immediately; TERMed one never does")
      assert(d2.head.deliveries == 2)
      assert(srv.deadSeqs("EVENTS", "graft-consumer") == Seq(d1(1).streamSeq))
    }
  }

  test("binary safety: payloads containing CRLF and protocol keywords round-trip") {
    withServer { (srv, nc) =>
      val js = new NatsWire.JetStream(nc)
      js.ensureStream("EVENTS", Seq(subject))
      js.ensureConsumer("EVENTS", "graft-consumer", Seq(subject))
      // adversarial payloads: frame terminators, protocol verbs, -ERR,
      // NUL bytes, and a seeded random blob — length-prefixed framing
      // must carry them all verbatim
      val rng = new scala.util.Random(7)
      val blob = Array.fill(4096)(rng.nextInt(256).toByte)
      val payloads: Seq[Array[Byte]] = Seq(
        "\r\n-ERR 'fake'\r\n".getBytes("UTF-8"),
        "MSG x 1 5\r\nPING\r\nPONG".getBytes("UTF-8"),
        Array[Byte](0, 13, 10, 0, 45, 69, 82, 82),
        blob)
      payloads.foreach(p => nc.publish(subject, p))
      nc.ping(2000)
      val msgs = js.fetch("EVENTS", "graft-consumer", batch = 10, expiresMs = 2000)
      assert(msgs.size == payloads.size)
      msgs.zip(payloads).foreach { case (m, p) =>
        assert(java.util.Arrays.equals(m.payload, p),
          s"payload corrupted in flight (${p.length} bytes)")
      }
      msgs.foreach(js.ack)
      // the connection is still healthy after hostile payloads
      nc.ping(2000)
    }
  }

  test("relayLoop applies the envelope: rows cap cuts a file mid-stream, the tick drains the rest") {
    withServer { (srv, nc) =>
      val js = new NatsWire.JetStream(nc)
      js.ensureStream("EVENTS", Seq(subject))
      js.ensureConsumer("EVENTS", "graft-consumer", Seq(subject))
      val spool = java.nio.file.Files.createTempDirectory("relay_env").toString
      def spoolFiles: Int =
        Option(new java.io.File(spool, subject).listFiles())
          .getOrElse(Array.empty).count(_.getName.endsWith(".pbstream"))
      (1 to 5).foreach { i =>
        nc.publish(subject, ProtoWire.encode(loginMsg(s"r-$i", s"u-$i", 1726300800L + i), schema))
      }
      nc.ping(2000)
      // the relay thread owns its own Conn (the wire client is single-
      // threaded); the test Conn only publishes and reads server state
      val ncRelay = new NatsWire.Conn(srv.host, srv.port, Some("user"), Some("password"))
      try {
        val session = NatsBridge.NatsSession(ncRelay,
          new NatsWire.JetStream(ncRelay), "EVENTS", "graft-consumer")
        val b = new NatsBridge.SpoolBatcher(session, spool,
          maxRows = 3, maxBytes = Long.MaxValue, flushIntervalMs = 3000L)
        @volatile var stop = false
        val t = new Thread(() =>
          NatsBridge.relayLoop(b, batch = 10, expiresMs = 100, stop = () => stop))
        t.setDaemon(true)
        try {
          t.start()
          // phase 1 — the rows cap fires inside the loop: exactly one
          // 3-row file cut and acked, 2 rows pending UNACKED until the tick
          val d1 = System.currentTimeMillis() + 5000
          while (srv.ackedCount("EVENTS", "graft-consumer") < 3 &&
                 System.currentTimeMillis() < d1) Thread.sleep(20)
          assert(srv.ackedCount("EVENTS", "graft-consumer") == 3,
            "cap flush must ack exactly the cut file before the tick")
          assert(spoolFiles == 1)
          // phase 2 — the interval tick drains the pending remainder
          val d2 = System.currentTimeMillis() + 8000
          while (srv.ackedCount("EVENTS", "graft-consumer") < 5 &&
                 System.currentTimeMillis() < d2) Thread.sleep(50)
          assert(srv.ackedCount("EVENTS", "graft-consumer") == 5,
            "interval tick must flush+ack the sub-cap remainder")
          assert(spoolFiles == 2)
          // phase 3 — a REQUESTED stop drains sub-cap pending rows
          // instead of abandoning them to ack_wait redelivery
          (6 to 7).foreach { i =>
            nc.publish(subject, ProtoWire.encode(loginMsg(s"r-$i", s"u-$i", 1726300800L + i), schema))
          }
          nc.ping(2000)
          // the relay fetches within ~expiresMs (100 ms); 500 ms is far
          // inside the 3 s tick, so the rows sit PENDING when stop flips
          // (the batcher is single-threaded by contract — no cross-
          // thread pendingRows poll here)
          Thread.sleep(500)
          stop = true
          t.join(5000)
          assert(srv.ackedCount("EVENTS", "graft-consumer") == 7,
            "stop must drain the envelope's pending rows")
        } finally { stop = true; t.join(5000) }
        assert(!t.isAlive, "relay loop must honor stop()")
      } finally ncRelay.close()
    }
  }

  test("supervised relay survives a broker restart: reconnect, re-ensure, resume") {
    val srv1 = new MockNatsServer
    val port = srv1.port
    val spool = java.nio.file.Files.createTempDirectory("nats_reconn").toString
    def cfg(host: String) = graft.EngineConfig.default.copy(
      broker = graft.BrokerConfig(host = host, clientPort = port,
        subjects = Seq(subject),
        streamConfig = graft.StreamEnvelopeConfig(name = "EVENTS")),
      batcher = graft.BatcherConfig(flushIntervalMs = 100L))
    val c = cfg(srv1.host)
    @volatile var stop = false
    @volatile var failures = 0
    val relay = new Thread(() => {
      failures = NatsBridge.superviseRelay(c, spool, batch = 64,
        expiresMs = 100, stop = () => stop, maxBackoffMs = 200)
    })
    relay.setDaemon(true)
    try {
      relay.start()
      // wait for the relay's ensureStream before publishing — JetStream
      // only persists into existing streams
      val d0 = System.currentTimeMillis() + 10000
      var landed = false
      while (!landed && System.currentTimeMillis() < d0) {
        val p1 = new NatsWire.Conn(srv1.host, port)
        try {
          p1.publish(subject, ProtoWire.encode(loginMsg("b-1", "u-1", 1726300800L), schema))
          p1.ping(1000)
          landed = srv1.streamSize("EVENTS") > 0
        } finally p1.close()
        if (!landed) Thread.sleep(100)
      }
      assert(landed, "stream never created by the relay")
      val d1 = System.currentTimeMillis() + 10000
      while (srv1.ackedCount("EVENTS", c.broker.consumerName) < 1 &&
             System.currentTimeMillis() < d1) Thread.sleep(50)
      assert(srv1.ackedCount("EVENTS", c.broker.consumerName) == 1)

      srv1.close() // broker dies mid-run; the failure count is the
      // relay's RETURN value, asserted >= 1 after the join below —
      // polling the var here could never observe it mid-run

      // broker comes back on the SAME port: relay must reconnect,
      // re-ensure stream/consumer, and drain new messages
      val srv2 = new MockNatsServer(port)
      try {
        val d3 = System.currentTimeMillis() + 10000
        var delivered = false
        while (!delivered && System.currentTimeMillis() < d3) {
          // publish-with-retry: the relay's ensureStream must land first
          try {
            val p2 = new NatsWire.Conn(srv2.host, port)
            try {
              p2.publish(subject,
                ProtoWire.encode(loginMsg("b-2", "u-2", 1726300801L), schema))
              p2.ping(1000)
              delivered = srv2.streamSize("EVENTS") > 0
            } finally p2.close()
          } catch { case _: Exception => }
          if (!delivered) Thread.sleep(100)
        }
        assert(delivered, "producer never landed a message on the restarted broker")
        val d4 = System.currentTimeMillis() + 10000
        while (srv2.ackedCount("EVENTS", c.broker.consumerName) < 1 &&
               System.currentTimeMillis() < d4) Thread.sleep(50)
        assert(srv2.ackedCount("EVENTS", c.broker.consumerName) == 1,
          "relay must resume pulling after the restart")
      } finally srv2.close()
      // superviseRelay's documented contract: it RETURNS the failure
      // count. The broker died mid-run above, so the supervisor must
      // have counted at least one connection failure — a catch block
      // that swallowed without counting would zero this.
      stop = true
      relay.join(5000)
      assert(!relay.isAlive, "relay must honor stop()")
      assert(failures >= 1,
        s"mid-run broker death must be counted (got $failures)")
    } finally {
      stop = true
      relay.join(5000)
      scala.util.Try(srv1.close())
    }
  }

  test("spool names: zero-padded monotonic, seeded above legacy seq-uuid names") {
    val dir = java.nio.file.Files.createTempDirectory("nats_spoolnames")
    // legacy vintage: unpadded streamSeq + random uuid — the exact shape
    // that breaks ProtoFileSource's monotonic-name offset contract
    // (nats-1025… sorts BELOW nats-513…)
    java.nio.file.Files.createFile(dir.resolve("nats-513-0bb5e390-dead-beef.pbstream"))
    java.nio.file.Files.createFile(dir.resolve("nats-9-aaaaaaaa.pbstream"))
    val subj = dir.getFileName.toString
    val root = dir.getParent.toString
    def spoolOne(id: String): Unit =
      NatsBridge.spool(Seq(NatsWire.Msg(subj, "s1",
        Some(s"$$JS.ACK.EVENTS.c.1.1.1.0.0"),
        ProtoWire.encode(loginMsg(id, "u", 1726300800L), schema))), root)
    (1 to 3).foreach(i => spoolOne(s"b-$i"))
    val names = dir.toFile.listFiles().map(_.getName).filter(_.endsWith(".pbstream")).sorted
    assert(names.length == 5)
    // every new file sorts strictly ABOVE both legacy names, and new
    // names are mutually monotonic — the stream-source offset contract
    val fresh = names.filterNot(n => n.contains("-0bb5") || n.contains("-aaaa"))
    assert(fresh.length == 3)
    assert(fresh.forall(_ > "nats-9-aaaaaaaa.pbstream"))
    assert(fresh.forall(_ > "nats-513-0bb5e390-dead-beef.pbstream"))
    assert(fresh.toSeq == fresh.sorted.toSeq && fresh.distinct.length == 3)
    // restart-safety: a fresh counter (new dir key is cached, so probe
    // seedAbove directly) seeds above everything now present
    val seed = NatsBridge.seedAbove(dir)
    assert(f"nats-$seed%012d.pbstream" > names.max)
  }

  test("ack-subject fields parse by form offset, not tail stripping") {
    def msg(reply: String) = NatsWire.Msg("s", "sid", Some(reply), Array.empty)
    // v1 9-token form
    val v1 = msg("$JS.ACK.EVENTS.c.2.77.5.1726300800.0")
    assert(v1.deliveries == 2 && v1.streamSeq == 77L)
    // v2 domain/account form with a NON-numeric random token
    val v2 = msg("$JS.ACK.dom.acct.EVENTS.c.3.88.6.1726300800.0.Xy9z")
    assert(v2.deliveries == 3 && v2.streamSeq == 88L)
    // v2 with an ALL-DIGIT random token — tail-stripping heuristics shift
    // every field by one here (deliveries would read cseq, streamSeq ts)
    val v2num = msg("$JS.ACK.dom.acct.EVENTS.c.3.88.6.1726300800.0.73912648")
    assert(v2num.deliveries == 3 && v2num.streamSeq == 88L)
    // non-ack reply subjects fall back to defaults
    val plain = msg("INBOX.abc")
    assert(plain.deliveries == 1 && plain.streamSeq == -1L)
  }

  test("pull status arrives as HMSG 404 and terminates the fetch early") {
    withServer { (srv, nc) =>
      val js = new NatsWire.JetStream(nc)
      js.ensureStream("EVENTS", Seq(subject))
      js.ensureConsumer("EVENTS", "graft-consumer", Seq(subject))
      // empty stream: the mock answers the pull with HMSG `NATS/1.0 404
      // No Messages`; the client must treat it as pull termination and
      // return well before the 10 s expires deadline
      val t0 = System.nanoTime()
      val msgs = js.fetch("EVENTS", "graft-consumer", batch = 10, expiresMs = 10000)
      val elapsedMs = (System.nanoTime() - t0) / 1000000L
      assert(msgs.isEmpty)
      assert(elapsedMs < 5000, s"status frame did not terminate the pull (took ${elapsedMs}ms)")
    }
  }

  test("503 no-responders surfaces as a clean API error, not a timeout") {
    val srv = new MockNatsServer
    try {
      srv.jetStreamEnabled = false // core-only server: nothing serves $JS.>
      val nc = new NatsWire.Conn(srv.host, srv.port)
      try {
        val js = new NatsWire.JetStream(nc)
        val e = intercept[IllegalStateException] {
          js.ensureStream("EVENTS", Seq(subject))
        }
        assert(e.getMessage.contains("503"), s"want 503 in: ${e.getMessage}")
        assert(e.getMessage.toLowerCase.contains("no responders"))
      } finally nc.close()
    } finally srv.close()
  }

  test("mid-frame stall closes the connection (desync) instead of faking a clean timeout") {
    // raw socket server: NATS handshake, then a MSG header whose payload
    // never fully arrives — the wire client must NOT return None (clean
    // timeout) with half a frame consumed; it must close and raise so the
    // supervisor reconnects
    val srv = new java.net.ServerSocket(0, 1, java.net.InetAddress.getLoopbackAddress)
    val stall = new Thread(() => {
      try {
        val s = srv.accept()
        val out = s.getOutputStream
        out.write("INFO {\"server_id\":\"stall\"}\r\n".getBytes("US-ASCII"))
        out.flush()
        Thread.sleep(200) // let CONNECT land (never read — irrelevant)
        out.write("MSG foo sid1 10\r\nabc".getBytes("US-ASCII")) // 3 of 10 payload bytes
        out.flush()
        Thread.sleep(60000) // stall forever; spec closes the socket
      } catch { case _: Exception => }
    })
    stall.setDaemon(true)
    stall.start()
    try {
      val nc = new NatsWire.Conn(
        srv.getInetAddress.getHostAddress, srv.getLocalPort)
      intercept[java.io.EOFException] { nc.nextMsg(800) }
      // the connection was closed by desync — further reads fail fast
      intercept[Exception] { nc.ping(300) }
    } finally srv.close()
  }

  test("malformed control lines and undercounted payloads desync, never misparse") {
    // each case: a raw server emits one hostile frame; the client must
    // CLOSE (EOFException desync) — a raw NumberFormat/ArrayIndex escape
    // would leave the socket open with the stream misaligned
    def hostileCase(frame: String): Unit = {
      val srv = new java.net.ServerSocket(0, 1, java.net.InetAddress.getLoopbackAddress)
      val t = new Thread(() => {
        try {
          val s = srv.accept()
          val out = s.getOutputStream
          out.write("INFO {\"server_id\":\"hostile\"}\r\n".getBytes("US-ASCII"))
          out.flush()
          Thread.sleep(150)
          out.write(frame.getBytes("US-ASCII"))
          out.flush()
          Thread.sleep(60000)
        } catch { case _: Exception => }
      })
      t.setDaemon(true); t.start()
      try {
        val nc = new NatsWire.Conn(
          srv.getInetAddress.getHostAddress, srv.getLocalPort)
        intercept[java.io.EOFException] { nc.nextMsg(800) }
      } finally srv.close()
    }
    hostileCase("MSG subj sid abc\r\n")            // non-numeric #bytes
    hostileCase("MSG subj sid\r\n")                // missing #bytes
    hostileCase("HMSG s i 10 5\r\nNATS/1.0\r\n\r\n") // header bytes > total
    // declared #bytes UNDERCOUNTS: stray payload bytes sit where the
    // frame-terminating CRLF belongs — must desync, not silently deliver
    // a truncated message and realign
    hostileCase("MSG subj sid 3\r\nabcdef\r\n")
    // multi-space delimiters are protocol-legal and must NOT fabricate a
    // phantom empty reply-to (parse succeeds, payload intact)
    val srv2 = new java.net.ServerSocket(0, 1, java.net.InetAddress.getLoopbackAddress)
    val t2 = new Thread(() => {
      try {
        val s = srv2.accept()
        val out = s.getOutputStream
        out.write("INFO {\"server_id\":\"sp\"}\r\n".getBytes("US-ASCII"))
        out.flush()
        Thread.sleep(150)
        out.write("MSG subj  sid1   3\r\nxyz\r\n".getBytes("US-ASCII"))
        out.flush()
        Thread.sleep(60000)
      } catch { case _: Exception => }
    })
    t2.setDaemon(true); t2.start()
    try {
      val nc = new NatsWire.Conn(
        srv2.getInetAddress.getHostAddress, srv2.getLocalPort)
      val m = nc.nextMsg(2000).get
      assert(m.subject == "subj" && m.sid == "sid1" && m.replyTo.isEmpty)
      assert(new String(m.payload, "US-ASCII") == "xyz")
    } finally srv2.close()
  }

  test("config-driven connect mirrors the reference NatsConfig shape") {
    val srv = new MockNatsServer
    try {
      val cfg = graft.EngineConfig.default.copy(
        broker = graft.BrokerConfig(
          host = srv.host, clientPort = srv.port,
          subjects = Seq(subject),
          streamConfig = graft.StreamEnvelopeConfig(name = "EVENTS")))
      val session = NatsBridge.connect(cfg)
      try {
        session.nc.publish(subject,
          ProtoWire.encode(loginMsg("b-1", "u-1", 1726300800L), schema))
        session.nc.ping(2000)
        assert(srv.streamSize("EVENTS") == 1)
        val msgs = session.js.fetch("EVENTS", cfg.broker.consumerName,
          batch = 10, expiresMs = 2000)
        assert(msgs.size == 1)
      } finally session.close()
    } finally srv.close()
  }
}
