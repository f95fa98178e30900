package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import graft.TestSession
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

  test("readDlq reads the subject-partitioned layout across DLQ schema versions") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_dlq").toString
    // a row written before the redelivery budget: same
    // _dlq/subject=X/ingest_batch=N/… layout, no `deliveries` column
    Seq(("old payload", "max_deliver_exceeded", new Timestamp(1726300800000L)))
      .toDF("payload", "reason", "dlq_ts")
      .withColumn("subject", lit("events.session"))
      .withColumn("ingest_batch", lit(0L))
      .write.partitionBy("subject", "ingest_batch")
      .parquet(s"$out/${Ingest.DlqTable}")
    // current rows through the real write path
    Ingest.deadLetterExhausted(Seq("e-9").toDF("event_id"), "events.login",
      out, batchId = 1L, deliveries = 3)
    val dlq = Ingest.readDlq(spark, out)
    val rows = dlq.select("subject", "payload", "reason")
      .as[(String, String, String)].collect().sortBy(_._1)
    assert(rows.toSeq == Seq(
      ("events.login", """{"event_id":"e-9"}""", "max_deliver_exceeded"),
      ("events.session", "old payload", "max_deliver_exceeded")))
    // schema evolution: pre-budget rows read deliveries as null, not crash
    val deliveries = dlq.orderBy("subject").select("deliveries")
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
    assert(deliveries.toSeq == Seq(Some(3), None))
  }

  test("stream batches of one table compile nothing new: the batch id stays out of generated code") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.IntegerType
    val out = Files.createTempDirectory("graft_tag").toString
    val schema = EventSchemas.tables("login_events")
    def batch(ids: Seq[Int]) = spark.createDataFrame(spark.sparkContext.parallelize(
      ids.map(i => Row.fromSeq(WireFixtures.loginMsg(s"e-$i", s"u-${i % 3}", 1726300800L + i)))),
      schema)
    Ingest.writeTyped(batch(1 to 5), "login_events", schema, out, batchId = 1L)
    val (_, compiled) = TestSession.compiles(
      Ingest.writeTyped(batch(6 to 9), "login_events", schema, out, batchId = 2L))
    assert(compiled == 0, s"the second batch compiled $compiled classes")
    // the layout a LongType tag wrote: one dir per (date, batch), and the
    // tag reads back as the integer partition column
    val table = new java.io.File(s"$out/login_events")
    val dirs = table.listFiles().filter(_.isDirectory).flatMap(d =>
      d.listFiles().filter(_.isDirectory).map(b => s"${d.getName}/${b.getName}")).toSet
    assert(dirs == Set("event_date=2024-09-14/ingest_batch=1",
      "event_date=2024-09-14/ingest_batch=2"))
    val read = spark.read.parquet(table.getPath)
    assert(read.schema("ingest_batch").dataType == IntegerType)
    val rows = read.select("event_id", "ingest_batch").collect()
      .map(r => r.getString(0) -> r.getInt(1)).sortBy(_._1.drop(2).toInt).toSeq
    assert(rows == (1 to 9).map(i => s"e-$i" -> (if (i <= 5) 1 else 2)))
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
    ProtoFiles.writeLocal(s"$wire/events.login/flush-000001.pbstream",
      Iterator(loginMsg("e-1", "u-1", t0), loginMsg("e-2", "u-2", t0 + 5),
        loginMsg("e-2", "u-2", t0 + 5), // at-least-once duplicate
        // proto3 "" is absent on the wire
        loginMsg("e-5", "u-4", t0 + 7).updated(loginSchema.fieldIndex("platform"), "")),
      loginSchema)
    ProtoFiles.writeLocal(s"$wire/events.session/flush-000001.pbstream",
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
      ProtoFiles.writeLocal(s"$wire/events.login/flush-000002.pbstream",
        Iterator(loginMsg("e-4", "u-3", t0 + 50)),
        EventSchemas.tables("login_events"))
      qs("login_events").processAllAvailable()
      assert(spark.read.parquet(s"$out/login_events").count() == 5)
    } finally qs.values.foreach(_.stop())
  }
}
