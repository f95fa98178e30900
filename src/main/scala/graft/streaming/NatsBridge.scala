package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import NatsWire.{Conn, ConsumerConfig, JetStream, Msg}

/** NATS JetStream → Spark bridge: the missing real-broker entry point
  * (`/root/reference/src/nats.rs`), built on the from-scratch protocol
  * client in [[NatsWire]].
  *
  * Architecture: a sequential **fetch → spool → ack** relay per stream.
  * Pulled messages are appended as graft-proto wire files (one file per
  * subject per flush, temp-file + atomic rename) into the per-subject
  * spool directories [[Ingest.startFromWire]] tails, and acked ONLY after the
  * rename lands — the reference's ack-after-insert contract
  * (src/handler.rs ack path) moved one durable hop earlier, with
  * Structured Streaming's checkpoint owning replay from the spool
  * onward. The delivery chain end-to-end:
  *
  *   producer → JetStream (at-least-once, ack_wait redelivery,
  *   max_deliver budget) → relay spool (acked after fsync+rename)
  *   → graft-proto stream source (exactly-once per checkpoint)
  *   → ingest (idempotent batch ids + dedup views → effectively-once)
  *
  * A relay crash between rename and ack redelivers the batch → duplicate
  * spool rows; those collapse in the ingest tier's dedup (O-T4/O-W1),
  * keyed by the wire event id. Messages that exhaust `max_deliver`
  * without an ack never reach the spool — that is the server-side twin
  * of the spool-side [[RedeliveryBudget]] (both exist because each
  * guards a different failure: poison-before-spool vs poison-in-spool).
  *
  * Scale shape: one relay thread per stream shard. JetStream caps a pull
  * at `max_bytes` (5 MB, src/nats.rs:73), so relay memory is bounded;
  * spool files rotate per flush.
  */
object NatsBridge {

  /** Connect + ensure the stream/consumer exist, mirroring
    * `Nats::new` + `consume` (src/nats.rs:22-83). */
  def connect(cfg: graft.EngineConfig): NatsSession = {
    val b = cfg.broker
    val nc = new Conn(b.host, b.clientPort,
      Some(b.username).filter(_.nonEmpty), Some(b.password).filter(_.nonEmpty))
    val js = new JetStream(nc)
    js.ensureStream(b.streamConfig.name, b.subjects,
      retention = b.streamConfig.retention,
      discard = b.streamConfig.discard,
      storage = b.streamConfig.storage,
      maxConsumers = b.streamConfig.maxConsumers)
    js.ensureConsumer(b.streamConfig.name, b.consumerName, b.subjects,
      ConsumerConfig(maxBytes = 5000000))
    NatsSession(nc, js, b.streamConfig.name, b.consumerName)
  }

  final case class NatsSession(nc: Conn, js: JetStream,
                               stream: String, durable: String)
      extends AutoCloseable {
    override def close(): Unit = nc.close()
  }

  /** Per-spool-directory monotonic file counters. [[ProtoFileSource]]'s
    * offset is the highest file NAME it has seen and it enforces that new
    * files always sort above it (ProtoFileSource.scala:233-239) — so
    * spool names must be lexicographically monotonic. A streamSeq-based
    * name can't be (unpadded 1025 sorts below 513, and redelivery after a
    * crash replays old seqs), so names come from a zero-padded local
    * counter instead; redelivered duplicates land in fresh files and
    * collapse in the ingest dedup keyed by event id. */
  private val spoolCounters =
    new java.util.concurrent.ConcurrentHashMap[Path, java.util.concurrent.atomic.AtomicLong]()

  /** Smallest counter whose padded name sorts strictly above every
    * existing `.pbstream` name in `dir` — restart-safe seeding, including
    * over legacy `nats-<seq>-<uuid>` names that padded names would
    * otherwise sort below. */
  private[streaming] def seedAbove(dir: Path): Long = {
    val names = Option(dir.toFile.listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(n => n.endsWith(".pbstream") && !n.startsWith("_"))
    if (names.isEmpty) 0L
    else {
      val max = names.max
      // spoolName is monotonic in the counter, so binary-search the
      // smallest k with spoolName(k) > max (legacy unpadded names force
      // this — numeric max+1 is not enough: pad(514) < "nats-513-uuid").
      var lo = 0L; var hi = 999999999999L
      while (lo < hi) {
        val mid = lo + (hi - lo) / 2
        if (spoolName(mid) > max) hi = mid else lo = mid + 1
      }
      lo
    }
  }

  private def spoolName(n: Long): String = f"nats-$n%012d.pbstream"

  /** Write pulled messages into the spool layout:
    * `<root>/<subject>/nats-<counter%012d>.pbstream`, one file per
    * subject per flush, temp + fsync + atomic rename so the tailing stream
    * source never sees a half-written file and an acked batch survives
    * power loss (the ack-after-durable contract in the delivery chain
    * above requires force-to-disk, not just close-to-page-cache).
    * Payloads are already proto-encoded by producers — they re-frame
    * verbatim (no decode on the relay). */
  private[streaming] def spool(msgs: Seq[Msg], spoolRoot: String): Unit =
    msgs.groupBy(_.subject).foreach { case (subject, ms) =>
      val dir = Paths.get(spoolRoot, subject)
      Files.createDirectories(dir)
      val ctr = spoolCounters.computeIfAbsent(dir.toAbsolutePath,
        d => new java.util.concurrent.atomic.AtomicLong(seedAbove(d)))
      val name = spoolName(ctr.getAndIncrement())
      val tmp = dir.resolve(s"_$name")
      val ch = java.nio.channels.FileChannel.open(tmp,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE,
        java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
      try {
        val out = new java.io.BufferedOutputStream(
          java.nio.channels.Channels.newOutputStream(ch), 64 * 1024)
        ms.foreach(m => ProtoWire.writeFrame(out, m.payload))
        out.flush()
        ch.force(true) // data durable before the rename makes it visible
      } finally ch.close()
      Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      fsyncDir(dir) // make the rename itself durable before ack
    }

  /** fsync the directory entry so the rename survives power loss; some
    * filesystems refuse directory FileChannels — best-effort there (the
    * process-crash guarantee still holds via ATOMIC_MOVE). */
  private def fsyncDir(dir: Path): Unit =
    try {
      val ch = java.nio.channels.FileChannel.open(dir,
        java.nio.file.StandardOpenOption.READ)
      try ch.force(true) finally ch.close()
    } catch { case _: java.io.IOException => () }

  /** The reference Batcher's flush envelope made real on the relay path
    * — closing the carried O-T2 gap (src/handler.rs:96-160 `Batcher {
    * max_rows, max_bytes, flush_interval_ms }` + `flush_due`/
    * `flush_all`): fetched messages accumulate PER SUBJECT, a subject's
    * spool file is cut as soon as its rows OR payload bytes cross the
    * caps, and everything flushes on the interval tick. Acks ride the
    * flush (the ack-after-durable contract is per spool file), so
    * `ack_wait` must exceed `flushIntervalMs` — the same deployment
    * constraint the reference's insert-then-ack loop carries. A crash
    * before a flush loses nothing: unacked messages redeliver after
    * ack_wait and the spool+ingest dedup absorbs the overlap. Memory is
    * bounded by maxBytes per subject + one in-flight fetch (itself
    * byte-capped at the consumer's 5 MB).
    *
    * Not thread-safe (one batcher per relay thread, like the wire
    * Conn). Defaults mirror config/default.toml:41-43. */
  final class SpoolBatcher(s: NatsSession, spoolRoot: String,
                           maxRows: Int = 100000,
                           maxBytes: Long = 60000000L,
                           flushIntervalMs: Long = 1000L) {
    private val pend =
      scala.collection.mutable.LinkedHashMap[String, scala.collection.mutable.Buffer[Msg]]()
    private val pendBytes = scala.collection.mutable.Map[String, Long]()
    private var lastTick = System.nanoTime()

    /** Rows waiting, all subjects (spec observability). */
    def pendingRows: Int = pend.valuesIterator.map(_.size).sum

    /** Accumulate fetched messages, checking the caps after EACH row —
      * the reference inserts one message per channel recv and runs
      * `flush_due` after it, so a subject flushes the moment it REACHES
      * a cap (exactly max_rows rows in the file), never arbitrarily
      * past it. Returns rows flushed. */
    def offer(msgs: Seq[Msg]): Int = {
      var n = 0
      msgs.foreach { m =>
        pend.getOrElseUpdate(m.subject,
          scala.collection.mutable.Buffer.empty) += m
        pendBytes(m.subject) =
          pendBytes.getOrElse(m.subject, 0L) + m.payload.length
        if (pend(m.subject).size >= maxRows ||
            pendBytes(m.subject) >= maxBytes)
          n += flushSubject(m.subject)
      }
      if (n > 0) barrier() // one ack barrier per cycle, not per file
      n
    }

    /** Best-effort ack barrier: the spool write already succeeded by the
      * time this runs, so a barrier failure must not tear down the
      * relay — a degraded link would otherwise stall each cap flush up
      * to the ping timeout AND propagate the IOException out of
      * offer/pumpOnce (ADVICE r12). Unconfirmed acks are safe: ack_wait
      * redelivery plus the spool's content dedup absorb the overlap;
      * the stderr line surfaces the degradation. */
    private def barrier(): Unit =
      // NonFatal, not just IOException: ping can also throw
      // IllegalStateException (a server -ERR or unexpected control frame
      // during the PONG wait), and any of them arriving AFTER the spool
      // write succeeded must degrade to a logged failure, not a relay
      // tear-down
      try s.nc.ping(5000)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"[nats-relay] ack barrier failed (${e.getClass.getSimpleName}: " +
            s"${e.getMessage}); relying on ack_wait redelivery + spool dedup")
      }

    /** Interval tick: flush EVERYTHING (handler.rs `flush_all`). One
      * ping barrier for the whole drain — acks only need to be SENT
      * after each file's durable rename; a per-subject round trip would
      * stall a 9-subject tick for up to 9 × the ping timeout on a
      * degraded link. */
    def flushAll(): Int = {
      val n = pend.keys.toSeq.map(flushSubject).sum
      if (n > 0) barrier()
      n
    }

    private def flushSubject(subject: String): Int =
      pend.remove(subject) match {
        case None => 0
        case Some(ms) if ms.isEmpty => 0
        case Some(ms) =>
          pendBytes.remove(subject)
          spool(ms.toSeq, spoolRoot)
          ms.foreach(s.js.ack) // sent post-rename; caller barriers once
          ms.size
      }

    /** One relay cycle under the envelope: fetch, accumulate, cap-flush;
      * interval-flush when the tick elapsed. The tick is checked BEFORE
      * the fetch as well as after — the fetch blocks up to `expiresMs`
      * (= flush_interval_ms under ServeMain's wiring), and a
      * check-after-only loop would let rows pend for up to 2× the
      * configured interval on an idle broker. Returns the number of
      * messages FETCHED — the relay's activity signal (rows may stay
      * pending under the envelope, so "flushed" would read 0 on a busy
      * cycle and stall the loop's backoff logic). */
    def pumpOnce(batch: Int = 512, expiresMs: Long = 1000): Int = {
      tickFlush()
      val msgs = s.js.fetch(s.stream, s.durable, batch, expiresMs)
      if (msgs.nonEmpty) offer(msgs)
      tickFlush()
      msgs.size
    }

    private def tickFlush(): Unit =
      if ((System.nanoTime() - lastTick) / 1000000L >= flushIntervalMs) {
        flushAll()
        lastTick = System.nanoTime()
      }
  }

  object SpoolBatcher {
    /** Config-driven construction — the `[batcher]` TOML section is the
      * reference's BatchConfig (src/config.rs:113-118) verbatim. */
    def apply(s: NatsSession, spoolRoot: String,
              cfg: graft.EngineConfig): SpoolBatcher =
      new SpoolBatcher(s, spoolRoot,
        maxRows = math.min(cfg.batcher.maxRows, Int.MaxValue.toLong).toInt,
        maxBytes = cfg.batcher.maxBytes,
        flushIntervalMs = cfg.batcher.flushIntervalMs)
  }

  /** Run the relay under the batcher envelope until `stop` flips true
    * (daemon-thread loop). Idle backoff only when the broker had
    * nothing AND nothing is pending — with rows pending the loop must
    * keep cycling so the interval flush fires on schedule (the fetch
    * itself blocks up to `expiresMs`, bounding the spin). */
  def relayLoop(b: SpoolBatcher, batch: Int,
                expiresMs: Long, stop: () => Boolean): Unit = {
    while (!stop())
      if (b.pumpOnce(batch, expiresMs) == 0 && b.pendingRows == 0)
        Thread.sleep(expiresMs / 4 + 1) // idle backoff, sub-ack_wait
    // a REQUESTED stop drains the envelope: rows already fetched must
    // not ride out on ack_wait redelivery in some future process when a
    // flush is possible right now (disconnects still rely on redelivery
    // — there the connection is gone and this flush never runs)
    b.flushAll()
  }

  /** Supervised relay: reconnect + re-ensure on connection loss with
    * capped exponential backoff (what async-nats does under the hood for
    * the reference; our single-threaded client surfaces the drop as an
    * exception instead). Unacked in-flight messages redeliver after
    * ack_wait on the new connection — the at-least-once contract holds
    * across reconnects; the spool+ingest dedup absorbs the overlap.
    * Returns the connection-failure count (spec observability). */
  def superviseRelay(cfg: graft.EngineConfig, spoolRoot: String, batch: Int,
                     expiresMs: Long, stop: () => Boolean,
                     maxBackoffMs: Long = 30000): Int = {
    var failures = 0
    var backoff = 100L
    while (!stop()) {
      try {
        val session = connect(cfg)
        try {
          backoff = 100L // healthy connection resets the backoff
          // one batcher per connection: its pending rows die with the
          // session unacked and redeliver after ack_wait — the
          // at-least-once contract needs no flush-on-disconnect
          relayLoop(SpoolBatcher(session, spoolRoot, cfg),
            batch, expiresMs, stop)
        } finally session.close()
      } catch {
        case _: InterruptedException => return failures
        case e: Exception =>
          // a disconnect RACING shutdown must not escape: once stop()
          // is true the loop condition ends the relay on the next check,
          // and the documented contract is 'returns the failure count' —
          // an unguarded rethrow here crashed the relay thread on every
          // shutdown that coincided with a dying connection
          if (stop()) return failures
          failures += 1
          System.err.println(s"[nats-relay] connection lost (${e.getClass.getSimpleName}: " +
            s"${e.getMessage}); reconnecting in ${backoff}ms")
          Thread.sleep(backoff)
          backoff = math.min(backoff * 2, maxBackoffMs)
      }
    }
    failures
  }
}
