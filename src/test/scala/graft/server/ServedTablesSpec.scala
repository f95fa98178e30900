package graft.server

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.TimeUnit

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession
import graft.streaming.{EventSchemas, Ingest, LatchedCompactionFs, ListCountingFs,
  ProtoFiles, WireFixtures}

/** How [[HttpSql]] keeps served-table views current: a table is listed
  * again only after an in-process writer commits to it, or when the
  * session's view under its name is no longer the one the server
  * registered. */
class ServedTablesSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private val schema = EventSchemas.tables("login_events")
  private val client = HttpClient.newHttpClient()
  private val day1 = 1725148800L // 2024-09-01
  private val day2 = 1726300800L // 2024-09-14

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  private def count(port: Int): Long = {
    val q = java.net.URLEncoder.encode("SELECT count(*) FROM login_events", UTF_8)
    val r = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/?query=$q")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200, r.body())
    r.body().trim.toLong
  }

  private def insert(port: Int, id: String, ts: Long): Unit = {
    val body = new java.io.ByteArrayOutputStream()
    graft.streaming.ProtoWire.writeFrame(body, graft.streaming.ProtoWire.encode(
      WireFixtures.loginMsg(id, "u-2", ts), schema))
    val q = java.net.URLEncoder.encode("INSERT INTO login_events FORMAT Protobuf", UTF_8)
    val r = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/?query=$q"))
        .POST(HttpRequest.BodyPublishers.ofByteArray(body.toByteArray)).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200, r.body())
  }

  /** Appends rows to `dir/login_events` through the ingest tail. */
  private def append(dir: String, ids: String*): Unit = {
    val rows = ids.map(id => org.apache.spark.sql.Row.fromSeq(
      WireFixtures.loginMsg(id, "u-1", day1)))
    Ingest.writeTyped(spark.createDataFrame(
      spark.sparkContext.parallelize(rows), schema),
      "login_events", schema, dir, batchId = -1L)
  }

  test("an unchanged table is not listed again; each commit is served at once") {
    val wire = tmp("served_wire"); val local = tmp("served_out")
    val ckpt = tmp("served_ckpt")
    spark.sparkContext.hadoopConfiguration.set("fs.countfs.impl",
      classOf[ListCountingFs].getName)
    LatchedCompactionFs.arm()
    val out = s"countfs://$local"
    def flush(b: Int, day: Long): Unit =
      ProtoFiles.writeLocal(f"$wire/events.login/flush-$b%06d.pbstream",
        Iterator(WireFixtures.loginMsg(s"w-$b", "u-1", day + b)), schema)
    new java.io.File(s"$wire/events.login").mkdirs()
    val q = Ingest.startFromWire(spark, wire, out, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"),
      subjects = Seq("events.login"),
      compaction = graft.CompactionConfig(enabled = true, maxFiles = 2))("login_events")
    val srv = new HttpSql(spark, dataDir = Some(out))
    val port = srv.start()
    try {
      flush(0, day1); q.processAllAvailable()
      assert(count(port) == 1)
      ListCountingFs.listed.clear()
      assert(count(port) == 1)
      assert(ListCountingFs.listingsUnder(s"$local/login_events") == 0,
        "a SELECT on an unchanged table listed its dir again")
      insert(port, "h-1", day1 + 100)
      assert(count(port) == 2, "an HTTP INSERT must be served at once")
      // single-row batches into another date: the third one pushes it
      // past max_files
      flush(1, day2); q.processAllAvailable()
      assert(count(port) == 3, "a stream batch must be served at once")
      flush(2, day2); q.processAllAvailable()
      assert(count(port) == 4)
      flush(3, day2)
      assert(LatchedCompactionFs.reached.await(60, TimeUnit.SECONDS),
        "the writer never started a compaction swap")
      // batch 3 landed and the writer is parked before the swap: this
      // statement registers the pre-swap files
      assert(count(port) == 5)
      LatchedCompactionFs.release.countDown()
      q.processAllAvailable()
      assert(count(port) == 5, "a compaction swap must be served at once")
    } finally {
      LatchedCompactionFs.release.countDown()
      srv.stop(); q.stop()
    }
    assert(q.exception.isEmpty, s"${q.exception}")
    assert(new java.io.File(
      s"$local/login_events/event_date=2024-09-14/ingest_batch=-1").isDirectory,
      "the swap must have pooled the settled batches")
  }

  test("system_parts censuses the tables of a non-file dataDir") {
    spark.sparkContext.hadoopConfiguration.set("fs.countfs.impl",
      classOf[ListCountingFs].getName)
    val local = tmp("served_parts")
    append(s"countfs://$local", "p-1", "p-2")
    val srv = new HttpSql(spark, dataDir = Some(s"countfs://$local"))
    val port = srv.start()
    try {
      val q = java.net.URLEncoder.encode(
        "SELECT table, sum(n_files) FROM system_parts GROUP BY table", UTF_8)
      val r = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/?query=$q")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200, r.body())
      val files = new java.io.File(s"$local/login_events").listFiles().toSeq
        .flatMap(d => Option(d.listFiles()).toSeq.flatten)
        .flatMap(d => Option(d.listFiles()).toSeq.flatten)
        .count(_.getName.endsWith(".parquet"))
      assert(files > 0)
      assert(r.body() == s"login_events\t$files\n")
    } finally srv.stop()
  }

  test("two servers on one session each serve their own dataDir's table") {
    val a = tmp("served_a"); val b = tmp("served_b")
    append(a, "a-1"); append(b, "b-1", "b-2")
    val sa = new HttpSql(spark, dataDir = Some(a))
    val sb = new HttpSql(spark, dataDir = Some(b))
    val (pa, pb) = (sa.start(), sb.start())
    try (1 to 3).foreach { _ =>
      assert(count(pa) == 1, "server A answered from B's view")
      assert(count(pb) == 2, "server B answered from A's view")
    } finally { sa.stop(); sb.stop() }
  }

  test("a user temp view under a served name is replaced on the next statement") {
    val a = tmp("served_user")
    append(a, "a-1")
    val srv = new HttpSql(spark, dataDir = Some(a))
    val port = srv.start()
    try {
      assert(count(port) == 1)
      spark.sql("CREATE OR REPLACE TEMP VIEW login_events AS " +
        "SELECT * FROM VALUES (1), (2), (3) AS t(x)")
      assert(count(port) == 1, "dataDir owns its names")
    } finally srv.stop()
  }

  test("stopping one of two servers on a shared dir leaves the other serving") {
    val a = tmp("served_shared")
    append(a, "a-1")
    val s1 = new HttpSql(spark, dataDir = Some(a))
    val s2 = new HttpSql(spark, dataDir = Some(a))
    val (p1, p2) = (s1.start(), s2.start())
    try {
      assert(count(p1) == 1 && count(p2) == 1)
      s1.stop()
      assert(count(p2) == 1)
      append(a, "a-2")
      assert(count(p2) == 2)
    } finally { s1.stop(); s2.stop() }
  }
}
