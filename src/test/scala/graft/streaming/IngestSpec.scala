package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import graft.TestSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IngestSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("route↔schema consistency (reference bug not replicated)") {
    // Every route target must have a schema — the reference's routing
    // table misspells shahre_farang targets (src/handler.rs:42,46).
    assert(EventSchemas.routes.values.toSet.subsetOf(EventSchemas.tables.keySet))
    assert(EventSchemas.routes.size == 9 && EventSchemas.tables.size == 9)
    // Envelope is a shared prefix of every wire schema.
    EventSchemas.tables.values.foreach { st =>
      assert(st.fields.take(16).toSeq == EventSchemas.envelope)
    }
  }

  test("readDlq unions the legacy flat layout with the subject-partitioned layout") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_dlq_mix").toString
    // legacy vintage (pre subject-partitioning): subject was a DATA
    // column and the layout was _dlq/ingest_batch=N/… — exactly what a
    // deployment that upgraded mid-stream still has on disk. Note: no
    // `deliveries` column either (pre redelivery-budget).
    Seq(("events.legacy", "old payload", "unroutable_subject",
        new Timestamp(1726300800000L)))
      .toDF("subject", "payload", "reason", "dlq_ts")
      .withColumn("ingest_batch", lit(0L))
      .write.partitionBy("ingest_batch").parquet(s"$out/${Ingest.DlqTable}")
    // current vintage through the real write path: subject in the
    // partition key, _dlq/subject=X/ingest_batch=N/…
    Ingest.deadLetterExhausted(Seq("e-9").toDF("event_id"), "events.login",
      out, batchId = 1L, deliveries = 3)
    // mixed-depth partition dirs under one root: a naive read throws
    // "Conflicting directory structures"; readDlq must union both
    val dlq = Ingest.readDlq(spark, out)
    val rows = dlq.select("subject", "payload", "reason")
      .as[(String, String, String)].collect().sortBy(_._1)
    assert(rows.toSeq == Seq(
      ("events.legacy", "old payload", "unroutable_subject"),
      ("events.login", """{"event_id":"e-9"}""", "max_deliver_exceeded")))
    // schema evolution: pre-budget rows read deliveries as null, not crash
    val deliveries = dlq.orderBy("subject").select("deliveries")
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
    assert(deliveries.toSeq == Seq(None, Some(3)))
  }

  test("wire-native ingest: graft-proto flush dirs -> typed sorted tables") {
    val wire = Files.createTempDirectory("graft_wire").toString
    val out = Files.createTempDirectory("graft_wire_out").toString
    val ckpt = Files.createTempDirectory("graft_wire_ckpt").toString
    val t0 = 1726300800L

    def loginMsg(id: String, user: String, ts: Long): Seq[Any] =
      WireFixtures.loginMsg(id, user, ts)
    val loginSchema = EventSchemas.tables("login_events")
    def sessionMsg(id: String, ts: Long, ended: Boolean): Seq[Any] =
      Seq(id, "session", "u-1", "s-1", "a-1", ts,
        "web", "android", "14", "android", "14", "chrome", "128",
        "mobile", "1080x2400", "UA", ended)

    new java.io.File(s"$wire/events.login").mkdirs()
    new java.io.File(s"$wire/events.session").mkdirs()
    graft.sources.ProtoFiles.writeLocal(s"$wire/events.login/flush-000001.pbstream",
      Iterator(loginMsg("e-1", "u-1", t0), loginMsg("e-2", "u-2", t0 + 5),
        loginMsg("e-2", "u-2", t0 + 5), // at-least-once duplicate
        // proto3 "" is absent on the wire
        loginMsg("e-5", "u-4", t0 + 7).updated(loginSchema.fieldIndex("platform"), "")),
      loginSchema)
    graft.sources.ProtoFiles.writeLocal(s"$wire/events.session/flush-000001.pbstream",
      Iterator(sessionMsg("e-3", t0 + 20, ended = false)),
      EventSchemas.tables("session_events"))

    val qs = Ingest.startFromWire(spark, wire, out, ckpt,
      subjects = Seq("events.login", "events.session"))
    try {
      qs.values.foreach(_.processAllAvailable())
      val login = spark.read.parquet(s"$out/login_events")
      assert(login.count() == 4) // duplicates preserved (at-least-once semantics)
      assert(login.select("event_id").distinct().count() == 3)
      assert(login.schema("timestamp").dataType.typeName == "timestamp")
      assert(login.columns.contains("event_date") && login.columns.contains("ingest_batch"))
      // proto3 default fill: an absent string field is "", not null
      assert(login.filter("event_id = 'e-5'").head().getAs[String]("platform") == "")
      val session = spark.read.parquet(s"$out/session_events")
      assert(session.count() == 1)
      // proto3 false is absent on the wire; the default fill restores it
      assert(!session.head().getAs[Boolean]("is_ended"))

      // a second flush file is picked up incrementally, exactly once
      graft.sources.ProtoFiles.writeLocal(s"$wire/events.login/flush-000002.pbstream",
        Iterator(loginMsg("e-4", "u-3", t0 + 50)),
        EventSchemas.tables("login_events"))
      qs("login_events").processAllAvailable()
      assert(spark.read.parquet(s"$out/login_events").count() == 5)
    } finally qs.values.foreach(_.stop())
  }

  test("streaming dedup with watermark (O-T12)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(String, Timestamp)]
    val deduped = Ingest.dedupStream(
      ms.toDF().toDF("event_id", "timestamp"))
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    val base = 1726300800000L
    ms.addData(("e-1", new Timestamp(base)), ("e-2", new Timestamp(base + 1000)),
      ("e-1", new Timestamp(base))) // duplicate within batch
    q.processAllAvailable()
    ms.addData(("e-1", new Timestamp(base))) // duplicate across batches
    q.processAllAvailable()
    assert(spark.table("dedup_out").count() == 2)
    // state is EVICTED once the watermark passes: push it 10 min forward
    // and run a couple of eviction batches — only the new id may remain.
    // (a plain dropDuplicates(event_id) would retain every id forever)
    ms.addData(("e-9", new Timestamp(base + 600000L)))
    q.processAllAvailable()
    ms.addData(("e-10", new Timestamp(base + 601000L)))
    q.processAllAvailable()
    val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    assert(stateRows <= 2,
      s"dedup state must be watermark-bounded, holds $stateRows rows")
    // an id from before the watermark is late data: dropped, not re-emitted
    ms.addData(("e-1", new Timestamp(base)))
    q.processAllAvailable()
    q.stop()
    assert(spark.table("dedup_out").count() == 4) // e-1, e-2, e-9, e-10
  }

  test("streaming sessionization: flag ends emit immediately, abandoned sessions time out by watermark") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val t = (s: Long) => new Timestamp(1726300800000L + s * 1000)
    val ms = MemoryStream[SessionEvent]
    // 5s abandonment timeout, 10s watermark delay — both event-time, so
    // the test is deterministic (no wall clock anywhere).
    val q = Sessions.flagSessions(
        ms.toDS().withWatermark("timestamp", "10 seconds"), timeoutMs = 5000)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    // s-10 ends via flag in-stream; s-11 never ends → timeout path
    ms.addData(
      SessionEvent("s-10", "u-1", t(0), is_ended = false),
      SessionEvent("s-11", "u-2", t(1), is_ended = false))
    q.processAllAvailable()
    ms.addData(SessionEvent("s-10", "u-1", t(30), is_ended = true))
    q.processAllAvailable()
    val afterFlag = spark.table("sess_out").as[SessionSummary].collect()
      .map(s => s.session_id -> s).toMap
    assert(afterFlag.contains("s-10"))
    assert(afterFlag("s-10").ended_by_flag && afterFlag("s-10").n_events == 2)
    // t(30) pushes the watermark to t(20) > s-11's timeout (t(1)+5s):
    // the abandoned session flushes on the watermark-advance batch
    ms.addData(SessionEvent("s-12", "u-3", t(60), is_ended = true))
    q.processAllAvailable()
    q.stop()
    val all = spark.table("sess_out").as[SessionSummary].collect()
      .map(s => s.session_id -> s).toMap
    assert(all.keySet == Set("s-10", "s-11", "s-12"))
    assert(!all("s-11").ended_by_flag && all("s-11").n_events == 1) // abandoned
  }

  test("flag-driven sessionization (is_ended, migrations/007:18)") {
    import spark.implicits._
    val t = (s: Long) => new Timestamp(1726300800000L + s * 1000)
    val ds = Seq(
      SessionEvent("s-1", "u-1", t(0), is_ended = false),
      SessionEvent("s-1", "u-1", t(30), is_ended = false),
      SessionEvent("s-1", "u-1", t(60), is_ended = true),
      SessionEvent("s-2", "u-2", t(10), is_ended = false) // never ended
    ).toDS()
    val out = Sessions.flagSessions(ds).collect().map(s => s.session_id -> s).toMap
    // s-1 ends via flag with 3 events and a 60s span; s-2 has no end flag
    // and no timeout in batch mode ⇒ not emitted.
    assert(out.keySet == Set("s-1"))
    assert(out("s-1").n_events == 3 && out("s-1").ended_by_flag)
    assert(out("s-1").end_ts.getTime - out("s-1").start_ts.getTime == 60000L)
  }
}
