package graft.streaming

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException}
import java.net.{InetSocketAddress, Socket, SocketTimeoutException}
import java.nio.charset.StandardCharsets.US_ASCII
import java.util.concurrent.atomic.AtomicLong

/** Minimal dependency-free NATS client over the PUBLIC wire protocol
  * (docs.nats.io client protocol: `INFO` / `CONNECT` / `PUB` / `SUB` /
  * `MSG` / `PING` / `PONG` / `+OK` / `-ERR`) plus the JetStream
  * pull-consumer API surface the reference uses
  * (`/root/reference/src/nats.rs:63-83`: durable pull consumer, explicit
  * ack, ack_wait 120 s, max_deliver 3, max_bytes per pull,
  * create-stream-if-missing).
  *
  * No broker connector jar exists in this offline environment, so the
  * protocol layer is written against the published spec and driven
  * end-to-end by the in-process wire-accurate mock in NatsBridgeSpec.
  * Against a real `nats-server` the same bytes apply.
  *
  * Design: a SINGLE-THREADED synchronous client — the JetStream *pull*
  * shape never needs a background reader (the client asks, then reads
  * replies); server `PING`s are answered inline during reads. This is
  * deliberate: the relay that feeds Spark is a sequential
  * fetch→spool→ack loop, and a one-thread client keeps ack ordering
  * trivially correct.
  */
object NatsWire {

  /** One delivered message. `replyTo` carries the JetStream ack subject
    * for pulled messages:
    * `$JS.ACK.<stream>.<consumer>.<delivered>.<sseq>.<cseq>.<ts>.<pending>`.
    * `status`/`statusDesc` come from an HMSG header block's inline status
    * (`NATS/1.0 <code> <desc>`) — how a headers-aware server signals pull
    * terminations (404 no-messages, 408 request-timeout, 409 exceeded)
    * and no-responders (503). */
  final case class Msg(subject: String, sid: String, replyTo: Option[String],
                       payload: Array[Byte],
                       headers: Map[String, String] = Map.empty,
                       status: Option[Int] = None,
                       statusDesc: String = "") {
    /** Ack-subject numeric fields, indexed FROM THE FRONT per form:
      * v1 is the 9-token
      * `$JS.ACK.<stream>.<consumer>.<delivered>.<sseq>.<cseq>.<ts>.<pending>`
      * (numeric run starts at 4); the domain/account v2 form PREPENDS
      * `<domain>.<account>` and APPENDS a random token (run starts at 6).
      * The offset is fixed by token COUNT, never inferred by stripping a
      * non-numeric tail — a v2 random token that happens to be all
      * digits must not shift the field indexing. */
    private def ackTok(offset: Int): Option[Long] = replyTo.flatMap { r =>
      val t = r.split('.')
      if (t.length >= 9 && t(0) == "$JS" && t(1) == "ACK") {
        val base = if (t.length == 9) 4 else 6
        if (base + offset < t.length) t(base + offset).toLongOption else None
      } else None
    }
    /** Delivery attempt count (1 = first delivery) from the ack subject —
      * the counter behind the reference's max_deliver=3 budget. */
    def deliveries: Int = ackTok(0).map(_.toInt).getOrElse(1)
    /** Stream sequence — the stable identity for spool-side dedup. */
    def streamSeq: Long = ackTok(1).getOrElse(-1L)
  }

  private val inboxSeq = new AtomicLong(0)

  /** Blocking protocol connection. Not thread-safe by design (see above). */
  final class Conn(host: String, port: Int, user: Option[String] = None,
                   pass: Option[String] = None, connectTimeoutMs: Int = 5000,
                   payloadTimeoutMs: Int = Conn.DefaultPayloadTimeoutMs)
      extends AutoCloseable {

    private val socket = new Socket()
    socket.connect(new InetSocketAddress(host, port), connectTimeoutMs)
    socket.setTcpNoDelay(true)
    private val in = new BufferedInputStream(socket.getInputStream, 64 * 1024)
    private val out = new BufferedOutputStream(socket.getOutputStream, 64 * 1024)

    /** Server INFO json (raw) from the handshake. */
    val serverInfo: String = {
      val line = readLine(connectTimeoutMs)
      require(line.startsWith("INFO "), s"expected INFO, got: $line")
      val auth = (user, pass) match {
        case (Some(u), Some(p)) => s""","user":${jsonStr(u)},"pass":${jsonStr(p)}"""
        case _ => ""
      }
      // verbose:false => no +OK chatter to interleave with MSG frames;
      // headers:true opts into HMSG delivery (status frames arrive as
      // proper header blocks instead of the legacy empty-MSG downgrade);
      // no_responders:true => requests to unserviced subjects come back
      // immediately as a 503 status instead of timing out
      write(s"""CONNECT {"verbose":false,"pedantic":false,"headers":true,"no_responders":true,"name":"graft","lang":"scala","version":"0.1.0"$auth}\r\n""")
      flush()
      line.stripPrefix("INFO ").trim
    }

    private def jsonStr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""

    private def write(s: String): Unit = out.write(s.getBytes(US_ASCII))
    private def flush(): Unit = out.flush()

    /** A timeout after PART of a frame was consumed leaves the stream
      * desynchronized — the unread remainder would later be parsed as
      * control lines (payload bytes as protocol!). Unrecoverable on this
      * connection: close it and raise EOF (NOT SocketTimeoutException,
      * which callers treat as a clean "no frame yet"), so the supervised
      * relay reconnects and at-least-once redelivery replays the frame. */
    private def desync(what: String): Nothing = {
      try socket.close() catch { case _: java.io.IOException => () }
      throw new EOFException(s"NATS connection desynchronized ($what); closed")
    }

    /** CRLF-terminated ASCII control line. Mid-line timeout ⇒ [[desync]];
      * timeout with zero bytes consumed is a clean frame-boundary timeout
      * and propagates as SocketTimeoutException. */
    private def readLine(timeoutMs: Int): String = {
      socket.setSoTimeout(math.max(1, timeoutMs))
      val sb = new StringBuilder(64)
      var prev = -1
      while (true) {
        val b =
          try in.read()
          catch {
            case e: SocketTimeoutException =>
              if (sb.nonEmpty) desync(s"timeout mid-line after ${sb.length} bytes")
              throw e
          }
        if (b < 0) throw new EOFException("NATS connection closed")
        if (prev == '\r' && b == '\n') return sb.dropRight(1).toString
        sb.append(b.toChar)
        prev = b
      }
      throw new IllegalStateException("unreachable")
    }

    /** Only ever called mid-frame (after a MSG/HMSG control line), so a
      * timeout here is always a desync, never a clean boundary. Sets its
      * OWN generous timeout (`payloadTimeoutMs`, a Conn knob — a slow
      * link that legitimately stalls longer mid-payload can raise it):
      * inheriting the control line's remaining deadline (as low as 1 ms
      * near a fetch deadline) would kill the connection mid-payload for
      * a frame that arrived in time. */
    private def readBytes(n: Int): Array[Byte] = {
      socket.setSoTimeout(math.max(1, payloadTimeoutMs))
      val buf = new Array[Byte](n)
      var off = 0
      while (off < n) {
        val r =
          try in.read(buf, off, n - off)
          catch {
            case _: SocketTimeoutException =>
              desync(s"timeout mid-payload at $off/$n bytes")
          }
        if (r < 0) throw new EOFException("NATS connection closed mid-payload")
        off += r
      }
      buf
    }

    def publish(subject: String, payload: Array[Byte],
                replyTo: Option[String] = None): Unit = {
      val rt = replyTo.map(r => s" $r").getOrElse("")
      write(s"PUB $subject$rt ${payload.length}\r\n")
      out.write(payload)
      write("\r\n")
      flush()
    }

    def subscribe(subject: String, sid: String): Unit = {
      write(s"SUB $subject $sid\r\n"); flush()
    }

    def unsubscribe(sid: String): Unit = {
      write(s"UNSUB $sid\r\n"); flush()
    }

    /** Read ONE protocol frame: a MSG/HMSG (payload fully consumed) or a
      * bare control line. Every reader goes through here, so a leftover
      * in-flight message (e.g. from a fetch that hit its client-side
      * deadline) never desynchronizes the stream — its payload is always
      * consumed before the next control line is parsed, and a timeout
      * mid-frame closes the connection ([[desync]]) rather than leaving
      * half a payload to be misparsed as protocol. */
    private def readFrame(timeoutMs: Int): Either[String, Msg] = {
      val line = readLine(timeoutMs)
      // whitespace-RUN split: the protocol permits multi-space/tab
      // delimiters; split(' ') would fabricate empty tokens that shift
      // every argument (a phantom empty reply-to, sizes in the wrong slot)
      val sp = line.trim.split("\\s+")
      // a malformed size/arity after the control line was consumed is a
      // DESYNC (declared payload length unusable — the remainder of the
      // stream cannot be framed), never a raw NumberFormat/ArrayIndex
      // escape that leaves the connection open and misaligned
      def num(tok: String, what: String): Int =
        tok.toIntOption.filter(_ >= 0)
          .getOrElse(desync(s"malformed $what in control line '$line'"))
      sp(0) match {
        case "MSG" =>
          // MSG <subject> <sid> [reply-to] <#bytes>
          if (sp.length < 4 || sp.length > 5)
            desync(s"malformed MSG control line '$line'")
          val (reply, n) =
            if (sp.length == 5) (Some(sp(3)), num(sp(4), "#bytes"))
            else (None, num(sp(3), "#bytes"))
          val payload = readBytes(n)
          frameCrlf()
          Right(Msg(sp(1), sp(2), reply, payload))
        case "HMSG" =>
          // HMSG <subject> <sid> [reply-to] <#header-bytes> <#total-bytes>
          if (sp.length < 5 || sp.length > 6)
            desync(s"malformed HMSG control line '$line'")
          val (reply, hdrN, totN) =
            if (sp.length == 6) (Some(sp(3)), num(sp(4), "#header-bytes"), num(sp(5), "#total-bytes"))
            else (None, num(sp(3), "#header-bytes"), num(sp(4), "#total-bytes"))
          if (hdrN > totN) desync(s"HMSG header bytes $hdrN > total $totN")
          val hdrBlock = new String(readBytes(hdrN), US_ASCII)
          val payload = readBytes(totN - hdrN)
          frameCrlf()
          val (status, desc, hdrs) = parseHeaders(hdrBlock)
          Right(Msg(sp(1), sp(2), reply, payload, hdrs, status, desc))
        case _ => Left(line)
      }
    }

    /** Trailing CRLF after a message payload — part of the frame, so a
      * timeout here is a desync, not a clean boundary. The line must be
      * EMPTY: stray bytes here mean the declared #bytes undercounted the
      * payload, and silently consuming them would deliver (and ack) a
      * TRUNCATED message while hiding the length mismatch. */
    private def frameCrlf(): Unit = {
      val line =
        try readLine(1000)
        catch {
          case _: SocketTimeoutException => desync("timeout awaiting trailing CRLF")
        }
      if (line.nonEmpty)
        desync(s"expected frame-terminating CRLF, got ${line.length} stray bytes")
    }

    /** Parse an HMSG header block: `NATS/1.0[ <code>[ <desc>]]\r\n` then
      * `Key: Value` lines, blank-line terminated. */
    private def parseHeaders(block: String): (Option[Int], String, Map[String, String]) = {
      val lines = block.split("\r\n").toSeq
      val ver = lines.headOption.getOrElse("")
      require(ver.startsWith("NATS/1.0"), s"bad HMSG header version line: $ver")
      val rest = ver.stripPrefix("NATS/1.0").trim
      val (status, desc) =
        if (rest.isEmpty) (None, "")
        else {
          val cut = rest.indexOf(' ')
          if (cut < 0) (rest.toIntOption, "")
          else (rest.take(cut).toIntOption, rest.drop(cut + 1).trim)
        }
      val hdrs = lines.drop(1).takeWhile(_.nonEmpty).flatMap { l =>
        val c = l.indexOf(':')
        if (c < 0) None else Some(l.take(c).trim -> l.drop(c + 1).trim)
      }.toMap
      (status, desc, hdrs)
    }

    /** Handle a non-MSG control line; true = keep reading. */
    private def control(line: String): Unit = line.split(' ')(0) match {
      case "PING" => write("PONG\r\n"); flush()
      case "PONG" | "+OK" | "" | "INFO" => // ignore
      case "-ERR" =>
        throw new IllegalStateException(s"NATS server error: $line")
      case other =>
        throw new IllegalStateException(s"unexpected NATS frame: $other")
    }

    /** Next MSG frame within `timeoutMs`; answers server PINGs inline;
      * returns None on timeout. `-ERR` raises (protocol error is a bug
      * or an auth failure — never silently dropped). */
    def nextMsg(timeoutMs: Int): Option[Msg] = {
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      while (true) {
        val left = ((deadline - System.nanoTime()) / 1000000L).toInt
        if (left <= 0) return None
        (try readFrame(left)
         catch { case _: SocketTimeoutException => return None }) match {
          case Right(m) => return Some(m)
          case Left(line) => control(line)
        }
      }
      None
    }

    /** Flush barrier: PING → wait for PONG. Per the protocol, the server
      * answers in receive order, so once the PONG is back every prior
      * PUB/SUB on this connection has been processed. Stale in-flight MSG
      * frames (a pull answered after the client-side fetch deadline) are
      * consumed and discarded. */
    def ping(timeoutMs: Int): Unit = {
      write("PING\r\n"); flush()
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      while (true) {
        val left = ((deadline - System.nanoTime()) / 1000000L).toInt
        if (left <= 0) throw new SocketTimeoutException("PONG timeout")
        readFrame(left) match {
          case Left(line) if line.startsWith("PONG") => return
          case Left(line) => control(line)
          case Right(_) => // stale pull delivery: drained, dropped
        }
      }
    }

    /** Point-to-point request over a one-shot inbox. Frames that are not
      * the reply (stale deliveries for other sids) are drained and
      * dropped — without the sid filter a leftover pull message would be
      * returned as the API response. */
    def request(subject: String, payload: Array[Byte],
                timeoutMs: Int): Option[Msg] = {
      val n = inboxSeq.incrementAndGet()
      val inbox = s"_INBOX.graft.$n"
      val sid = s"rq$n"
      subscribe(inbox, sid)
      publish(subject, payload, Some(inbox))
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      var r: Option[Msg] = None
      var open = true
      while (open && r.isEmpty) {
        val left = ((deadline - System.nanoTime()) / 1000000L).toInt
        if (left <= 0) open = false
        else nextMsg(left) match {
          case Some(m) if m.sid == sid => r = Some(m)
          case Some(_) => // stale frame for another sid: dropped
          case None => open = false
        }
      }
      unsubscribe(sid)
      r
    }

    override def close(): Unit = socket.close()
  }

  object Conn {
    /** Mid-payload stall tolerance (see readBytes) — a named default,
      * overridable per-Conn for legitimately slow links. */
    val DefaultPayloadTimeoutMs: Int = 10000
  }

  // ---------------------------------------------------------------------
  // JetStream layer (public $JS.API request/reply surface)
  // ---------------------------------------------------------------------

  /** Pull-consumer config — field-for-field the reference's PullConfig
    * (src/nats.rs:66-76). */
  final case class ConsumerConfig(
      ackWaitSec: Long = 120,
      maxDeliver: Int = 3,
      maxAckPending: Int = 200000,
      maxBytes: Int = 5000000)

  final class JetStream(nc: Conn, apiTimeoutMs: Int = 5000) {

    private def apiText(subject: String, body: String): String =
      nc.request(subject, body.getBytes(US_ASCII), apiTimeoutMs) match {
        case Some(m) if m.status.contains(503) =>
          // no_responders:true turns an unserviced API subject into an
          // immediate 503 instead of a silent timeout — the clearest
          // "JetStream is not enabled here" signal the protocol offers
          throw new IllegalStateException(
            s"no responders (503) on $subject — JetStream not enabled on this server?")
        case Some(m) => new String(m.payload, US_ASCII)
        case None =>
          throw new IllegalStateException(s"JetStream API timeout: $subject")
      }

    private def isErr(resp: String): Boolean = resp.contains("\"error\"")

    /** Mirror of nats.rs get_stream-else-create (src/nats.rs:28-52). */
    def ensureStream(name: String, subjects: Seq[String],
                     retention: String = "workqueue",
                     discard: String = "old",
                     storage: String = "memory",
                     maxConsumers: Int = 100): Unit = {
      val info = apiText(s"$$JS.API.STREAM.INFO.$name", "")
      if (isErr(info)) {
        val subJson = subjects.map(s => s""""$s"""").mkString("[", ",", "]")
        val create = apiText(s"$$JS.API.STREAM.CREATE.$name",
          s"""{"name":"$name","subjects":$subJson,"retention":"$retention",""" +
            s""""discard":"$discard","storage":"$storage","max_consumers":$maxConsumers}""")
        require(!isErr(create), s"stream create failed: $create")
      }
    }

    /** Durable pull consumer with explicit-ack + delivery budget
      * (src/nats.rs:63-76). Idempotent like the reference's
      * create_consumer_on_stream. */
    def ensureConsumer(stream: String, durable: String,
                       filterSubjects: Seq[String],
                       cfg: ConsumerConfig = ConsumerConfig()): Unit = {
      val filt = filterSubjects.map(s => s""""$s"""").mkString("[", ",", "]")
      val resp = apiText(s"$$JS.API.CONSUMER.DURABLE.CREATE.$stream.$durable",
        s"""{"stream_name":"$stream","config":{"durable_name":"$durable",""" +
          s""""ack_policy":"explicit","ack_wait":${cfg.ackWaitSec * 1000000000L},""" +
          s""""max_deliver":${cfg.maxDeliver},"max_ack_pending":${cfg.maxAckPending},""" +
          s""""max_bytes":${cfg.maxBytes},"filter_subjects":$filt}}""")
      require(!isErr(resp) || resp.contains("already"),
        s"consumer create failed: $resp")
    }

    /** One pull: request up to `batch` messages, drain until the batch is
      * full or `expiresMs` passes with the server idle. Messages are NOT
      * acked here — the caller acks after its durable write lands
      * (ack-after-insert, src/handler.rs ↔ the relay's ack-after-spool). */
    def fetch(stream: String, durable: String, batch: Int,
              expiresMs: Long): Seq[Msg] = {
      val n = inboxSeq.incrementAndGet()
      val inbox = s"_INBOX.graft.pull.$n"
      val sid = s"pl$n"
      nc.subscribe(inbox, sid)
      nc.publish(s"$$JS.API.CONSUMER.MSG.NEXT.$stream.$durable",
        s"""{"batch":$batch,"expires":${expiresMs * 1000000L}}""".getBytes(US_ASCII),
        Some(inbox))
      val got = scala.collection.mutable.ArrayBuffer.empty[Msg]
      val deadline = System.nanoTime() + expiresMs * 1000000L
      var open = true
      while (open && got.size < batch && System.nanoTime() < deadline) {
        val left = math.max(1, (deadline - System.nanoTime()) / 1000000L).toInt
        nc.nextMsg(left) match {
          case Some(m) if m.sid != sid => // stale frame from a prior pull
          case Some(m) if m.status.isDefined =>
            // HMSG pull status: 404 no-messages, 408 request-timeout,
            // 409 budget-exceeded — all terminate this pull cleanly
            open = false
          case Some(m) if m.payload.isEmpty && m.replyTo.isEmpty =>
            open = false // legacy status downgrade from a headers-less server
          case Some(m) => got += m
          case None => open = false
        }
      }
      nc.unsubscribe(sid)
      got.toSeq
    }

    /** Explicit ack — publish to the message's JetStream ack subject. */
    def ack(m: Msg): Unit = ackKind(m, "+ACK")

    /** Negative ack: redeliver as soon as possible, delivery count intact
      * (the reference's transient-flush-failure path,
      * src/handler.rs:133 `AckKind::Nak`). */
    def nak(m: Msg): Unit = ackKind(m, "-NAK")

    /** Terminate delivery: never redeliver, regardless of remaining
      * budget (the reference's permanent-error path, src/handler.rs:131
      * `AckKind::Term` on 400/404/422/"Cannot parse" — poison goes to
      * the DLQ tier instead of burning redeliveries). */
    def term(m: Msg): Unit = ackKind(m, "+TERM")

    private def ackKind(m: Msg, kind: String): Unit =
      m.replyTo.foreach(r => nc.publish(r, kind.getBytes(US_ASCII)))
  }
}
