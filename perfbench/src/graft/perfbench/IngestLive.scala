package graft.perfbench

import java.io.File
import java.nio.file.{Files => NFiles, StandardCopyOption}

import scala.collection.mutable

import graft.{EngineConfig, ServeMain}
import graft.streaming.{EventSchemas, Ingest, ProtoWire}

/** The spool producer: framed-protobuf flush files, written under a
  * dot-prefixed temp name and renamed to a zero-padded monotonic name
  * (the graft-proto stream's naming contract). `stage` encodes and writes
  * the temp file; `publish` renames it, which is when the engine can see
  * it. Files are published in the order they were staged. */
final class Spool(root: File) {
  private var n = 0L
  val written = mutable.ArrayBuffer.empty[Ev]
  var bytes = 0L
  /** subject → path of the last file published for it. */
  val lastFile = mutable.Map.empty[String, String]
  val files = mutable.ArrayBuffer.empty[File]
  /** (wall ms, events published so far) after each file. */
  val history = mutable.ArrayBuffer.empty[(Long, Long)]

  final case class Staged(subject: String, evs: Seq[Ev], tmp: File, dest: File, size: Int)

  def stage(subject: String, evs: Seq[Ev]): Staged = {
    val dir = new File(root, subject)
    dir.mkdirs()
    val body = Gen.frames(evs)
    val name = f"flush-$n%010d.pb"
    n += 1
    val tmp = new File(dir, s".$name.tmp")
    NFiles.write(tmp.toPath, body)
    Staged(subject, evs, tmp, new File(dir, name), body.length)
  }

  def publish(f: Staged): Unit = {
    NFiles.move(f.tmp.toPath, f.dest.toPath, StandardCopyOption.ATOMIC_MOVE)
    written ++= f.evs
    bytes += f.size
    lastFile(f.subject) = f.dest.getAbsolutePath
    files += f.dest
    history += ((System.currentTimeMillis(), written.size.toLong))
  }

  /** One file per subject, as the relay's flush of everything pending. */
  def stageAll(evs: Seq[Ev]): Seq[Staged] =
    evs.groupBy(_.subject).toSeq.sortBy(_._1).map { case (s, xs) => stage(s, xs) }
}

/** Per-subject event source over one mixed generator: `take` returns a
  * subject's next events (other subjects' events wait in per-subject
  * queues, in order). */
final class SubjectFeed(gen: EventGen) {
  private val queues = mutable.Map.empty[String, mutable.Queue[Ev]]
  def take(subject: String, n: Int): Seq[Ev] = {
    val q = queues.getOrElseUpdate(subject, mutable.Queue.empty)
    while (q.size < n) {
      val e = gen.next()
      queues.getOrElseUpdate(e.subject, mutable.Queue.empty) += e
    }
    Seq.fill(n)(q.dequeue())
  }
}

/** `ingest_live`: the production wiring — `ServeMain.boot` with the file
  * broker and the default engine config — through four phases:
  *  1. load (set-up): a backlog of flush files and one INSERT, committed;
  *     these events are the data set;
  *  2. rest: two closed-loop analysts run the dashboard mix, no writes;
  *  3. live: an open-loop generator writes flush files for eight subjects
  *     in the relay's shape (`NatsBridge.SpoolBatcher` flushes every
  *     pending subject on each one-second tick), the ninth subject
  *     arrives through closed-loop batched `INSERT … FORMAT Protobuf`,
  *     one analyst keeps querying and a probe measures freshness;
  *  4. catch-up: a backlog is dropped at once onto the grown tables and
  *     timed until every file is committed, three times over.
  */
object IngestLive {
  val InsertSubject = "events.sabte_ahval"
  val SpoolSubjects: Seq[String] = Gen.subjectsByWeight.map(_._1).filterNot(_ == InsertSubject)
  /** Open loop: every TickMs (the relay's default flush interval) one
    * file per spool subject, LiveRate events a second split by the
    * subject mix. The rate is a choice, not a published figure: 0.2 % of
    * the 100k rows/s one subject's batcher envelope allows. What loads
    * the engine is the eight files a second, not the events in them. */
  val TickMs = 1000
  val LiveRate = 200
  val perTick: Seq[(String, Int)] = {
    val ws = Gen.subjectsByWeight.filter(w => SpoolSubjects.contains(w._1))
    ws.map { case (s, w) => s -> math.max(1, math.round(LiveRate * w / ws.map(_._2).sum).toInt) }
  }
  /** Catch-up: the backlog a 40 s producer outage leaves at LiveRate,
    * dropped at once as one file per subject (the relay's first flush
    * after it reconnects) and timed until committed. The load phase
    * writes one backlog of the same shape. */
  val Backlog: Int = LiveRate * 40
  /** Catch-ups per run, one after another; a file waits up to one trigger
    * interval for its stream, so a single catch-up is a noisy sample. */
  val CatchUps = 3
  val InsertEvents = 20
  val InsertThinkMs = 250
  val ProbeEveryMs = 500
  val Analysts = 2
  /** Warm-up on the loaded tables: passes of the template cycle, split
    * across the analysts. */
  val WarmCycles = 1
  /** Traced passes of the template cycle a traced run adds after the rest
    * window (each template at least twice). */
  val TracedCycles = 2
  /** Share of the run's seconds spent at rest; the rest runs live. */
  val RestShare = 0.5
  val SetupRounds = 3
  val Probe = s"SELECT max(event_id) FROM ${Templates.Watch}"

  final class Engine(val engine: ServeMain.Engine, val dir: File, val spool: Spool,
                     val bootMs: Long) {
    def tables: File = new File(dir, "tables")
    val inserted = mutable.ArrayBuffer.empty[Ev]
    /** spool event seq → time it was due to be written (ns) */
    val dueNs = mutable.LongMap.empty[Long]
  }

  private val cfg = EngineConfig.default.copy(
    broker = EngineConfig.default.broker.copy(subjects = SpoolSubjects))

  /** Wait until every subject's stream has committed its last written
    * file; true when it happened before the deadline. */
  private def committed(ctx: Ctx, spool: Spool, deadlineMs: Long): Boolean = {
    def done = {
      val ends = ctx.streamCounts.all.map(_.endOffset)
      spool.lastFile.values.forall(path => ends.exists(_.contains(path)))
    }
    while (!done && System.currentTimeMillis() < deadlineMs) Thread.sleep(10)
    done
  }

  /** One set-up round: boot the engine on fresh paths. */
  private def boot(ctx: Ctx, k: Int): Engine = {
    val dir = new File(ctx.runDir, s"live-$k")
    val wire = new File(dir, "wire")
    val bootMs = System.currentTimeMillis()
    val engine = ServeMain.boot(cfg, ctx.spark, wire.getPath, new File(dir, "tables").getPath,
      new File(dir, "ckpt").getPath, httpPort = 0, useNats = false)
    new Engine(engine, dir, new Spool(wire), bootMs)
  }

  /** The data set: a first backlog, one file per subject, and one INSERT,
    * waited on until all of it is committed. */
  private def load(ctx: Ctx, e: Engine, spoolGen: EventGen, insertGen: EventGen): Unit = {
    val evs = Seq.fill(Backlog)(spoolGen.next())
    evs.foreach(ev => e.dueNs(ev.seq) = System.nanoTime())
    e.spool.stageAll(evs).foreach(e.spool.publish)
    val batch = Seq.fill(InsertEvents)(insertGen.next())
    val (status, body, _) = new SqlClient(e.engine.httpPort).insert(
      EventSchemas.routes(InsertSubject), Gen.frames(batch))
    ctx.outcome.check(status == 200, s"set-up insert failed: $status $body")
    if (status == 200) e.inserted ++= batch
    ctx.outcome.check(committed(ctx, e.spool, System.currentTimeMillis() + 60000),
      "set-up flush files not committed within 60 s")
  }

  /** Drop one backlog at once; seconds from the renames until every file
    * is committed. The files are encoded and written beforehand. */
  private def catchUp(ctx: Ctx, live: Engine, gen: EventGen): Double = {
    val staged = live.spool.stageAll(Seq.fill(Backlog)(gen.next()))
    val c0 = System.nanoTime()
    staged.foreach(_.evs.foreach(e => live.dueNs(e.seq) = c0))
    ctx.tracer.span("bench.backlog")(staged.foreach(live.spool.publish))
    ctx.outcome.check(committed(ctx, live.spool, System.currentTimeMillis() + 60000),
      "backlog not committed within 60 s")
    (System.nanoTime() - c0) / 1e9
  }

  def run(ctx: Ctx): Unit = {
    ctx.spark.streams.addListener(ctx.streamCounts)
    // only the last round's engine stays up; the others drain untimed
    val rounds = ctx.setupRounds(SetupRounds)(boot(ctx, _)) { e => e.engine.drain(); Files.rm(e.dir) }
    val live = rounds.last._2
    val spoolGen = new EventGen(ctx.seed, subjects = SpoolSubjects, idPrefix = "e")
    val insertGen = new EventGen(ctx.seed ^ 0x1175L, subjects = Seq(InsertSubject), idPrefix = "i")
    val port = live.engine.httpPort
    val t0 = System.nanoTime()
    ctx.tracer.span("setup.load")(load(ctx, live, spoolGen, insertGen))
    val atRest = (live.spool.written ++ live.inserted).toIndexedSeq.groupBy(_.table)
    ctx.phase("load done")
    // warm-up on the loaded tables: WarmCycles passes of the template cycle,
    // so every template is planned, compiled and run before the window
    val probe = if (ctx.trace) Some(new LayerProbe(ctx.spark, live.tables.getPath, ctx.tracer, ctx.samples)) else None
    val analysts = Analyst.clients(Analysts, port, ctx.seed, probe, ctx.tracer)
    new SqlClient(port).select(Probe)
    Analyst.runCycles(analysts, WarmCycles, phase = "warm-up")
    ctx.setupS = ctx.sessionS + Stats.median(rounds.map(_._1)) + (System.nanoTime() - t0) / 1e9
    Jvm.sampleLiveHeap()
    ctx.phase("set-up done")

    // at rest: the two analysts alone; a traced run then adds TracedCycles
    // traced passes of the template cycle, so every template is probed
    val restStart = ctx.window(ctx.seconds * RestShare) { end =>
      Analyst.runAll(analysts, end, traced = false, phase = "rest")
      if (ctx.trace) Analyst.runCycles(analysts, TracedCycles, phase = "rest", traced = true)
    }

    ctx.phase("rest done")
    // live: generator, inserter and probe beside one analyst
    val dueNs = live.dueNs
    val probes = mutable.ArrayBuffer.empty[(Int, String, Long)]
    val inserts = mutable.ArrayBuffer.empty[Double]
    val feed = new SubjectFeed(spoolGen)
    val start = System.nanoTime()
    val end = start + (ctx.seconds * (1 - RestShare) * 1e9).toLong
    val generator = new Thread(() => {
      var i = 0L
      while (start + i * TickMs * 1000000L < end) {
        val due = start + i * TickMs * 1000000L
        // encode and stage the tick's files ahead of it; publish on time
        val staged = perTick.map { case (subject, n) => live.spool.stage(subject, feed.take(subject, n)) }
        val now = System.nanoTime()
        if (due > now) Thread.sleep((due - now) / 1000000L, ((due - now) % 1000000L).toInt)
        staged.foreach(_.evs.foreach(e => dueNs(e.seq) = due))
        ctx.tracer.span("bench.generate")(staged.foreach(live.spool.publish))
        ctx.samples.add("bench.generator_late_ms", (System.nanoTime() - due) / 1e6)
        staged.foreach(_ => ctx.outcome.attempt())
        i += 1
      }
    }, "bench-generator")
    val inserter = new Thread(() => {
      val client = new SqlClient(port)
      val schema = EventSchemas.tables(EventSchemas.routes(InsertSubject))
      while (System.nanoTime() < end) {
        val batch = Seq.fill(InsertEvents)(insertGen.next())
        val body = Gen.frames(batch)
        val (status, msg, sec) = ctx.tracer.span("server.insert") {
          try client.insert(EventSchemas.routes(InsertSubject), body)
          catch { case e: Exception => (-1, e.toString, 0.0) }
        }
        ctx.outcome.check(status == 200, s"insert failed: $status $msg")
        if (status == 200) { live.inserted ++= batch; inserts += sec * 1000 }
        if (ctx.trace) {
          val d0 = System.nanoTime()
          ctx.tracer.span("server.insert_decode")(
            ProtoWire.splitFrames(body).map(ProtoWire.decodeToJson(_, schema)))
          val decodeMs = (System.nanoTime() - d0) / 1e6
          ctx.samples.add("server.insert_decode_ms", decodeMs)
          ctx.samples.add("server.insert_write_ms", sec * 1000 - decodeMs)
        }
        Thread.sleep(InsertThinkMs)
      }
    }, "bench-inserter")
    val prober = new Thread(() => {
      val client = new SqlClient(port)
      var i = 1L
      while (start + i * ProbeEveryMs * 1000000L < end) {
        val due = start + i * ProbeEveryMs * 1000000L
        val now = System.nanoTime()
        if (due > now) Thread.sleep((due - now) / 1000000L)
        val (status, body, _) = try client.select(Probe)
          catch { case e: Exception => (-1, e.toString, 0.0) }
        probes += ((status, body.trim, System.nanoTime()))
        i += 1
      }
    }, "bench-probe")
    val threads = Seq(generator, inserter, prober)
    threads.foreach(_.start())
    Analyst.runAll(analysts.take(1), end, traced = false, phase = "live")
    threads.foreach(_.join())
    ctx.outcome.check(committed(ctx, live.spool, System.currentTimeMillis() + 60000),
      "live flush files not committed within 60 s of the live phase")

    ctx.phase("live done")
    // catch-up: more backlogs, one after another, onto the grown tables
    val catchup = Stats.median((1 to CatchUps).map(_ => catchUp(ctx, live, spoolGen)))
    Jvm.sampleLiveHeap()
    live.engine.drain()
    ctx.phase("catch-up and drain done")

    // output checks, outside the timed phases
    probes.foreach { case (status, body, _) =>
      ctx.outcome.check(status == 200 && body.startsWith("e") &&
        dueNs.contains(body.drop(1).toLong), s"probe failed: $status $body")
    }
    val all = analysts.flatMap(_.answers)
    // answers on the loaded tables before the live writes have the generator's
    // ground truth; live answers race the writes and must only succeed
    val settled = Set("warm-up", "rest")
    all.filterNot(a => settled(a.phase)).foreach(a => ctx.outcome.check(a.status == 200,
      s"${a.q.template} status=${a.status}: ${a.body.take(200)}"))
    all.filter(a => settled(a.phase)).foreach { a =>
      ctx.outcome.check(a.status == 200 && Templates.matches(a.body, Templates.expected(a.q, atRest)),
        s"${a.q.template} status=${a.status}: ${a.q.sql} -> ${a.body.take(200)}")
    }
    checkExactlyOnce(ctx, live)
    ctx.phase("checks done")

    ctx.putQueries(all.filter(_.phase == "rest"), restStart)
    System.err.println("[bench] rest-phase median ms by template: " +
      all.filter(_.phase == "rest").groupBy(_.q.template).toSeq.sortBy(_._1).map { case (t, as) =>
        f"$t ${Stats.median(as.map(_.sec * 1000))}%.0f (${as.size})"
      }.mkString(", "))
    ctx.result.put("batch_s", catchup, "s")
    // events generated before the live phase count as due when it began
    val lags = probes.collect { case (200, id, at) if dueNs.contains(id.drop(1).toLong) =>
      (at - math.max(dueNs(id.drop(1).toLong), start)) / 1e6
    }
    val liveLat = all.filter(_.phase == "live").map(_.sec * 1000)
    lags.foreach(ctx.samples.add("ingest.fresh_lag_ms", _))
    inserts.foreach(ctx.samples.add("ingest.insert_ms", _))
    liveLat.foreach(ctx.samples.add("ingest.live_query_ms", _))
    ctx.samples.add("ingest.catchup_events_per_s", Backlog / catchup)
    ctx.detail.put("fresh_lag_p50_ms", Stats.median(lags), "ms")
    ctx.detail.put("fresh_lag_p90_ms", Stats.q(lags, 0.9), "ms")
    ctx.detail.put("catchup_events_per_s", Backlog / catchup, "1/s")
    ctx.detail.put("insert_p50_ms", Stats.median(inserts), "ms")
    ctx.detail.put("live_query_p50_ms", Stats.median(liveLat), "ms")
    if (ctx.trace) {
      LayerMetrics.sources(ctx, live.tables.getPath, live.spool.bytes)
      LayerMetrics.operators(ctx)
      streamingMetrics(ctx, live)
    }
  }

  /** Every generated event id is present exactly once; `_dlq` is empty. */
  private def checkExactlyOnce(ctx: Ctx, live: Engine): Unit = {
    import org.apache.spark.sql.functions.col
    val want = (live.spool.written ++ live.inserted).map(_.id)
    val got = EventSchemas.tables.keys.toSeq.flatMap { t =>
      val dir = new File(live.tables, t)
      if (!dir.exists()) Seq.empty
      else ctx.spark.read.parquet(dir.getPath).select(col("event_id")).collect().map(_.getString(0)).toSeq
    }
    val counts = got.groupBy(identity).view.mapValues(_.size).toMap
    val missing = want.count(id => !counts.contains(id))
    val dup = counts.count(_._2 > 1)
    val extra = counts.keySet.size - want.toSet.size
    ctx.outcome.check(missing == 0 && dup == 0 && extra == 0,
      s"exactly-once: ${want.size} generated, $missing missing, $dup duplicated, $extra unexpected")
    val dlq = new File(live.tables, Ingest.DlqTable)
    val dlqRows = if (Files.dataFiles(dlq).exists(_.getName.endsWith(".parquet")))
      Ingest.readDlq(ctx.spark, live.tables.getPath).count() else 0L
    ctx.outcome.check(dlqRows == 0, s"_dlq holds $dlqRows rows")
    ctx.samples.add("streaming.dlq_rows", dlqRows.toDouble)
  }

  /** Streaming-layer counts from `StreamingQueryListener` progress. */
  private def streamingMetrics(ctx: Ctx, live: Engine): Unit = {
    val ps = ctx.streamCounts.all.filter(p => p.query.startsWith("graft-wire-") && p.atMs >= live.bootMs)
    val withRows = ps.filter(_.rows > 0)
    val s = ctx.samples
    s.add("streaming.batches", withRows.size.toDouble)
    withRows.foreach { p =>
      s.add("streaming.rows_per_batch", p.rows.toDouble)
      p.durations.get("triggerExecution").foreach(v => s.add("streaming.trigger_ms", v.toDouble))
      p.durations.get("addBatch").foreach(v => s.add("streaming.add_batch_ms", v.toDouble))
      p.durations.get("latestOffset").foreach(v => s.add("streaming.offset_ms", v.toDouble))
      p.durations.get("commitOffsets").foreach(v => s.add("streaming.commit_ms", v.toDouble))
    }
    val busyMs = ps.flatMap(_.durations.get("triggerExecution")).sum
    val span = (ps.map(_.atMs).max - ps.map(_.atMs).min) / 1000.0
    s.add("streaming.busy_frac", busyMs / 1000.0 / math.max(1e-9, span * SpoolSubjects.size))
    s.add("streaming.replays", ps.groupBy(p => (p.query, p.batchId)).count(_._2.size > 1).toDouble)
    // backlog: events written but not yet committed, at each progress report
    var committedRows = 0L
    s.add("streaming.backlog_events_max", ps.sortBy(_.atMs).map { p =>
      committedRows += p.rows
      live.spool.history.takeWhile(_._1 <= p.atMs).lastOption.map(_._2).getOrElse(0L) - committedRows
    }.foldLeft(0L)(math.max).toDouble)
    // raw decode throughput of the flush files, outside the engine
    val bytes = live.spool.files.map(f => NFiles.readAllBytes(f.toPath))
    val t0 = System.nanoTime()
    live.spool.files.zip(bytes).foreach { case (f, b) =>
      val schema = EventSchemas.tables(EventSchemas.routes(f.getParentFile.getName))
      ProtoWire.splitFrames(b).foreach(ProtoWire.decodeToRow(_, schema))
    }
    s.add("streaming.decode_mb_per_s", bytes.map(_.length).sum / 1048576.0 / ((System.nanoTime() - t0) / 1e9))
  }
}
