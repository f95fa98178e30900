package graft.server

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

import graft.TestSession
import org.scalatest.funsuite.AnyFunSuite

/** SQL-over-HTTP surface (SURVEY §3.3; reference exposes ClickHouse's
  * 8123 to analysts — `build/docker-compose.yml:8-9`). */
class HttpSqlSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def withServer[A](f: (HttpClient, Int) => A): A = {
    HttpSql.registerTables(spark, "/root/testdata/sf0.001")
    val srv = new HttpSql(spark)
    val port = srv.start()
    try f(HttpClient.newHttpClient(), port) finally srv.stop()
  }

  private def get(c: HttpClient, port: Int, pathAndQuery: String)
      : HttpResponse[String] =
    c.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$pathAndQuery"))
        .GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def post(c: HttpClient, port: Int, body: String): HttpResponse[String] =
    c.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/"))
        .POST(HttpRequest.BodyPublishers.ofString(body, UTF_8)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def enc(q: String) = java.net.URLEncoder.encode(q, UTF_8)

  test("GET /ping returns Ok. — byte-compatible with the reference's check") {
    withServer { (c, p) =>
      val r = get(c, p, "/ping")
      assert(r.statusCode() == 200)
      assert(r.body() == "Ok.\n")
    }
  }

  test("EXPLAIN and DESCRIBE work over the analysts' surface (CH ops parity)") {
    withServer { (c, p) =>
      // ClickHouse analysts run EXPLAIN/DESCRIBE through the same HTTP
      // port as SELECTs; both are plain result sets on this surface too
      val ex = get(c, p, s"/?query=${enc("EXPLAIN SELECT 1 AS a")}")
      assert(ex.statusCode() == 200, ex.body())
      assert(ex.body().contains("Physical Plan"), ex.body())
      val de = get(c, p, s"/?query=${enc("DESCRIBE QUERY SELECT 1 AS a")}")
      assert(de.statusCode() == 200, de.body())
      assert(de.body().contains("a\tint"), de.body())
    }
  }

  test("query param + FORMAT clause: TSV default, JSONEachRow, CSVWithNames") {
    withServer { (c, p) =>
      // default format = TabSeparated, no header
      val tsv = get(c, p, s"/?query=${enc("SELECT 1 AS a, 'x\ty' AS b")}")
      assert(tsv.statusCode() == 200)
      assert(tsv.body() == "1\tx\\ty\n") // tab in value is escaped, not a separator

      val json = get(c, p, s"/?query=${enc(
        "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey LIMIT 2 FORMAT JSONEachRow")}")
      val lines = json.body().linesIterator.toSeq
      assert(lines.size == 2)
      assert(lines.head.startsWith("{\"r_regionkey\":0,\"r_name\":\""))

      val csv = get(c, p, s"/?query=${enc(
        "SELECT COUNT(*) AS n FROM nation FORMAT CSVWithNames")}")
      assert(csv.body().linesIterator.toSeq.head == "n")
    }
  }

  test("FORMAT Parquet round-trips: response bytes re-read equal the DataFrame") {
    withServer { (c, p) =>
      val q = "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey FORMAT Parquet"
      val r = c.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p/?query=${enc(q)}"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(r.statusCode() == 200)
      assert(r.headers().firstValue("Content-Type").orElse("")
        == "application/vnd.apache.parquet")
      val tmp = java.nio.file.Files.createTempFile("http_pq", ".parquet")
      java.nio.file.Files.write(tmp, r.body())
      val back = spark.read.parquet(tmp.toString)
        .orderBy("r_regionkey").collect().toSeq
      val want = spark.sql("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")
        .collect().toSeq
      assert(back == want)
      java.nio.file.Files.delete(tmp)
    }
  }

  test("Accept-Encoding gzip compresses text and binary responses") {
    withServer { (c, p) =>
      val q = "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"
      def gzGet(pathAndQuery: String): HttpResponse[Array[Byte]] =
        c.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p$pathAndQuery"))
            .header("Accept-Encoding", "gzip").GET().build(),
          HttpResponse.BodyHandlers.ofByteArray())
      val tsv = gzGet(s"/?query=${enc(q)}")
      assert(tsv.headers().firstValue("Content-Encoding").orElse("") == "gzip")
      val gunzipped = new String(
        new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(tsv.body())).readAllBytes(), UTF_8)
      assert(gunzipped == get(c, p, s"/?query=${enc(q)}").body(),
        "gzip body must decode to the identity response")
      // binary path honors it too, and the payload is still valid parquet
      val pq = gzGet(s"/?query=${enc(q + " FORMAT Parquet")}")
      assert(pq.headers().firstValue("Content-Encoding").orElse("") == "gzip")
      val rawPq = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(pq.body())).readAllBytes()
      val tmp = java.nio.file.Files.createTempFile("http_pqgz", ".parquet")
      java.nio.file.Files.write(tmp, rawPq)
      assert(spark.read.parquet(tmp.toString).count() == spark.sql(q).count())
      java.nio.file.Files.delete(tmp)
      // a client that does NOT ask for gzip gets identity
      val plain = get(c, p, s"/?query=${enc(q)}")
      assert(plain.headers().firstValue("Content-Encoding").isEmpty)
    }
  }

  test("auth: non-loopback bind requires a sharedSecret; credentials are enforced") {
    // exposure beyond loopback without auth must be refused outright
    intercept[IllegalArgumentException] {
      new HttpSql(spark, bindAddress = java.net.InetAddress.getByName("0.0.0.0"))
    }
    // with a secret configured, queries need the CH credential carriers
    HttpSql.registerTables(spark, "/root/testdata/sf0.001")
    val srv = new HttpSql(spark, sharedSecret = Some("s3cret"))
    val p = srv.start()
    val c = HttpClient.newHttpClient()
    try {
      val denied = get(c, p, s"/?query=${enc("SELECT 1")}")
      assert(denied.statusCode() == 403)
      assert(denied.body().contains("AUTHENTICATION_FAILED"))
      val wrong = c.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p/?query=${enc("SELECT 1")}"))
          .header("X-ClickHouse-Key", "nope").GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(wrong.statusCode() == 403)
      val viaHeader = c.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p/?query=${enc("SELECT 1")}"))
          .header("X-ClickHouse-Key", "s3cret").GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(viaHeader.statusCode() == 200 && viaHeader.body() == "1\n")
      val viaParam = get(c, p, s"/?query=${enc("SELECT 1")}&password=s3cret")
      assert(viaParam.statusCode() == 200)
      // the readiness probe stays open (the reference's check is unauthenticated)
      assert(get(c, p, "/ping").body() == "Ok.\n")
    } finally srv.stop()
  }

  test("POST body is the query; aggregates over registered tables") {
    withServer { (c, p) =>
      val r = post(c, p,
        "SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY 1 ORDER BY 1 FORMAT TSVWithNames")
      assert(r.statusCode() == 200)
      val lines = r.body().linesIterator.toSeq
      assert(lines.head == "l_returnflag\tn")
      assert(lines.size >= 3) // A, N, R flags at every SF
    }
  }

  test("CH dialect over HTTP: LIMIT n BY and SAMPLE a/b run end-to-end") {
    withServer { (c, p) =>
      // the literal clause an arriving CH analyst types at port 8123
      val r = post(c, p,
        "SELECT o_custkey, o_orderkey FROM orders " +
          "ORDER BY o_totalprice DESC, o_orderkey " +
          "LIMIT 2 BY o_custkey FORMAT TSVWithNames")
      assert(r.statusCode() == 200, r.body())
      val lines = r.body().linesIterator.toSeq
      assert(lines.head == "o_custkey\to_orderkey")
      val perKey = lines.tail.map(_.split('\t')(0))
        .groupBy(identity).view.mapValues(_.size)
      assert(perKey.nonEmpty && perKey.values.max <= 2,
        "LIMIT 2 BY must cap rows per key at 2")
      // SAMPLE without a declared sampling key is the permanent class
      val bad = post(c, p, "SELECT COUNT(*) FROM orders SAMPLE 1/16")
      assert(bad.statusCode() == 400, s"${bad.statusCode()} ${bad.body()}")
      assert(bad.body().contains("sampling key"))
      spark.conf.set("graft.sample.key.orders", "o_orderkey")
      try {
        val ok = post(c, p, "SELECT COUNT(*) AS n FROM orders SAMPLE 1/16")
        assert(ok.statusCode() == 200, ok.body())
        val full = post(c, p, "SELECT COUNT(*) AS n FROM orders")
        val (nS, nF) = (ok.body().trim.toLong, full.body().trim.toLong)
        assert(nS > 0 && nS < nF, s"sample $nS of $nF should be a strict subset")
        // determinism: the same text draws the same rows every time
        assert(post(c, p, "SELECT COUNT(*) AS n FROM orders SAMPLE 1/16")
          .body().trim.toLong == nS)
      } finally spark.conf.unset("graft.sample.key.orders")
    }
  }

  test("CH dialect over HTTP: WITH FILL and LIMIT off, n BY run end-to-end") {
    withServer { (c, p) =>
      // WITH FILL: an integer series with gaps fills to a dense grid
      val r = post(c, p,
        "SELECT o_orderkey AS k, COUNT(*) AS n FROM orders " +
          "WHERE o_orderkey IN (1, 2, 9, 15) GROUP BY o_orderkey " + // gaps
          "ORDER BY k WITH FILL FORMAT TSVWithNames")
      assert(r.statusCode() == 200, r.body())
      val lines = r.body().linesIterator.toSeq
      assert(lines.head == "k\tn")
      val ks = lines.tail.map(_.split('\t')(0).toLong)
      assert(ks == (ks.min to ks.max), s"fill must densify the grid: $ks")
      // orderkeys are sparse (1,2,3,4,5,6,7,32,33,...): filled rows
      // carry CH's NULL marker \N in the n column
      assert(lines.tail.exists(_.split('\t')(1) == "\\N"),
        "filled rows must render NULL measures")
      // LIMIT off, n BY: skip the top order per customer, keep the next
      val lb = post(c, p,
        "SELECT o_custkey, o_orderkey FROM orders " +
          "ORDER BY o_totalprice DESC, o_orderkey " +
          "LIMIT 1, 1 BY o_custkey FORMAT TSVWithNames")
      assert(lb.statusCode() == 200, lb.body())
      val perKey = lb.body().linesIterator.toSeq.tail.map(_.split('\t')(0))
        .groupBy(identity).view.mapValues(_.size)
      assert(perKey.nonEmpty && perKey.values.max <= 1)
      // FROM/TO bounds run end-to-end: the grid is [5, 9) plus the
      // original keys outside the bounds
      val bd = post(c, p,
        "SELECT o_orderkey AS k, COUNT(*) AS n FROM orders " +
          "WHERE o_orderkey IN (1, 2, 9, 15) GROUP BY o_orderkey " +
          "ORDER BY k WITH FILL FROM 5 TO 9 FORMAT TSVWithNames")
      assert(bd.statusCode() == 200, bd.body())
      val bks = bd.body().linesIterator.toSeq.tail.map(_.split('\t')(0).toLong)
      assert(bks == Seq(1L, 2L, 5L, 6L, 7L, 8L, 9L, 15L),
        s"[FROM, TO) grid + out-of-bounds originals: $bks")
      // an unsupported FILL modifier is the permanent (400) error class
      val bad = post(c, p,
        "SELECT o_orderkey AS k FROM orders ORDER BY k " +
          "WITH FILL INTERPOLATE (n)")
      assert(bad.statusCode() == 400, s"${bad.statusCode()} ${bad.body()}")
      assert(bad.body().contains("INTERPOLATE"))
    }
  }

  test("NULL and timestamp rendering follow the CH conventions") {
    withServer { (c, p) =>
      val r = get(c, p, s"/?query=${enc(
        "SELECT CAST(NULL AS INT) AS a, TIMESTAMP '2024-09-14 10:00:00' AS t")}")
      assert(r.body() == "\\N\t2024-09-14 10:00:00\n")
    }
  }

  test("CSV quotes a bare carriage return — CRLF-aware parsers must not split the row") {
    withServer { (c, p) =>
      val r = get(c, p, s"/?query=${enc(
        "SELECT concat('a', char(13), 'b') AS v, 1 AS n FORMAT CSV")}")
      assert(r.statusCode() == 200)
      assert(r.body() == "\"a\rb\",1\n", r.body().getBytes(UTF_8).mkString(","))
    }
  }

  test("error contract: bad SQL is the permanent (400) class, not 500") {
    withServer { (c, p) =>
      val r = get(c, p, s"/?query=${enc("SELEKT 1")}")
      assert(r.statusCode() == 400)
      assert(r.body().startsWith("Cannot parse query:"))
      val empty = get(c, p, "/?query=")
      assert(empty.statusCode() == 400)
    }
  }

  test("error contract: execution failure is 500, before any 200 bytes") {
    withServer { (c, p) =>
      val r = get(c, p, s"/?query=${enc("SELECT raise_error('boom')")}")
      assert(r.statusCode() == 500)
      assert(r.body().startsWith("Query failed:"))
    }
  }

  test("robustness: malformed percent-encoding answers 400, not a dropped connection") {
    withServer { (_, p) =>
      // HttpClient validates URIs client-side; speak raw HTTP to exercise
      // the server's own handling of a bad escape pair
      val sock = new java.net.Socket("127.0.0.1", p)
      try {
        val out = sock.getOutputStream
        out.write(("GET /?query=SELECT%zz1 HTTP/1.1\r\nHost: x\r\n" +
          "Connection: close\r\n\r\n").getBytes(UTF_8))
        out.flush()
        val status = new String(sock.getInputStream.readAllBytes(), UTF_8)
          .linesIterator.next()
        assert(status.contains("400"), s"got: $status")
      } finally sock.close()
    }
  }

  // ------------- INSERT … FORMAT Protobuf (the reference's verb) --------

  private def withInsertServer[A](f: (HttpClient, Int) => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft-http-insert").toString
    val srv = new HttpSql(spark, dataDir = Some(dir))
    val port = srv.start()
    try f(HttpClient.newHttpClient(), port) finally srv.stop()
  }

  private def postBytes(c: HttpClient, port: Int, query: String,
                        body: Array[Byte]): HttpResponse[String] =
    c.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/?query=${enc(query)}"))
        .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  /** One login_events wire message: envelope fields 1-16, epoch seconds. */
  private def loginMsg(eventId: String, userId: String, epoch: Long): Array[Byte] = {
    val schema = graft.streaming.EventSchemas.tables("login_events")
    val values = schema.fieldNames.map {
      case "event_id"   => eventId
      case "event_name" => "login"
      case "user_id"    => userId
      case "timestamp"  => epoch
      case "platform"   => "web"
      case _            => "" // proto3 default: omitted on the wire
    }.toSeq
    graft.streaming.ProtoWire.encode(values, schema)
  }

  private def framed(msgs: Array[Byte]*): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    msgs.foreach(graft.streaming.ProtoWire.writeFrame(out, _))
    out.toByteArray
  }

  test("INSERT FORMAT Protobuf e2e: wire bytes in, rows SELECTable on the same surface") {
    withInsertServer { (c, p) =>
      // the reference's exact query shape, src/click_house.rs:75-78
      val ins = postBytes(c, p,
        "INSERT INTO login_events FORMAT Protobuf SETTINGS format_schema='dto.proto:LoginEvent'",
        framed(loginMsg("e1", "u1", 1726300800L), loginMsg("e2", "u2", 1726304400L)))
      assert(ins.statusCode() == 200, ins.body())

      val sel = get(c, p, s"/?query=${enc(
        "SELECT event_id, user_id, timestamp FROM login_events ORDER BY event_id")}")
      assert(sel.statusCode() == 200, sel.body())
      assert(sel.body() ==
        "e1\tu1\t2024-09-14 08:00:00\ne2\tu2\t2024-09-14 09:00:00\n")

      // second insert APPENDS (ad-hoc batches accumulate like CH parts)
      val again = postBytes(c, p,
        "INSERT INTO graft.login_events FORMAT Protobuf",
        framed(loginMsg("e3", "u1", 1726308000L)))
      assert(again.statusCode() == 200, again.body())
      val n = get(c, p, s"/?query=${enc("SELECT COUNT(*) AS n FROM login_events")}")
      assert(n.body() == "3\n")
    }
  }

  test("FORMAT Protobuf round-trips: INSERT wire bytes, SELECT them back byte-decodable") {
    withInsertServer { (c, p) =>
      val ins = postBytes(c, p, "INSERT INTO login_events FORMAT Protobuf",
        framed(loginMsg("e1", "u1", 1726300800L), loginMsg("e2", "u2", 1726304400L)))
      assert(ins.statusCode() == 200, ins.body())

      // SELECT the wire-shaped columns back out as protobuf
      val q = "SELECT event_id, user_id, timestamp FROM login_events " +
        "ORDER BY event_id FORMAT Protobuf"
      val r = c.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$p/?query=${enc(q)}")).GET().build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(r.statusCode() == 200)
      assert(r.headers().firstValue("Content-Type").orElse("")
        == "application/octet-stream")
      // decode with the same codec against the RESULT schema: timestamp
      // comes back as the int64 epoch seconds the INSERT sent in
      val resultSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("timestamp",
          org.apache.spark.sql.types.LongType)))
      val frames = graft.streaming.ProtoWire.splitFrames(r.body())
      assert(frames.size == 2)
      val rows = frames.map(
        graft.streaming.ProtoWire.decodeToJson(_, resultSchema))
      assert(rows(0).contains("\"event_id\":\"e1\"") && rows(0).contains("1726300800"))
      assert(rows(1).contains("\"event_id\":\"e2\"") && rows(1).contains("1726304400"))
    }
  }

  test("INSERT error classes: unknown table 404, malformed body 400, both permanent") {
    withInsertServer { (c, p) =>
      val unk = postBytes(c, p, "INSERT INTO nope FORMAT Protobuf",
        framed(loginMsg("e1", "u1", 1L)))
      assert(unk.statusCode() == 404)
      assert(unk.body().startsWith("UNKNOWN_TABLE"))

      // frame promises 100 bytes, delivers 2 — truncated body
      val bad = postBytes(c, p, "INSERT INTO login_events FORMAT Protobuf",
        Array[Byte](100, 1, 2))
      assert(bad.statusCode() == 400)
      assert(bad.body().startsWith("Cannot parse Protobuf body"))
    }
  }

  test("INSERT without a dataDir is refused with the permanent class") {
    withServer { (c, p) =>
      val r = postBytes(c, p, "INSERT INTO login_events FORMAT Protobuf",
        framed(loginMsg("e1", "u1", 1L)))
      assert(r.statusCode() == 400)
      assert(r.body().contains("dataDir"))
    }
  }

  test("INSERT-only session: stop leaves no served-table view behind") {
    // a table no other case serves, so only this session can name it
    val table = "angulak_bookmark_events"
    val schema = graft.streaming.EventSchemas.tables(table)
    val msg = graft.streaming.ProtoWire.encode(schema.fieldNames.map {
      case "event_id"  => "bm-1"
      case "timestamp" => 1726300800L
      case _           => ""
    }.toSeq, schema)
    // the name may also be a catalog table (DdlSpec creates the event
    // tables); a leaked temp view would shadow it
    def tempView = spark.catalog.listTables().collect()
      .exists(t => t.isTemporary && t.name == table)
    assert(!tempView)
    withInsertServer { (c, p) =>
      val ins = postBytes(c, p, s"INSERT INTO $table FORMAT Protobuf",
        framed(msg))
      assert(ins.statusCode() == 200, ins.body())
    }
    assert(!tempView, s"$table still resolves to a temp view after stop()")
  }

  test("FORMAT stripping is restricted to known format names") {
    withServer { (c, p) =>
      // unknown trailing ident -> treated as SQL, fails analysis as 400
      val unknown = get(c, p, s"/?query=${enc("SELECT 1 FORMAT Quipu")}")
      assert(unknown.statusCode() == 400)
      // a column actually NAMED format is untouched
      val col = get(c, p, s"/?query=${enc(
        "SELECT * FROM (SELECT 2 AS format) ORDER BY format")}")
      assert(col.statusCode() == 200 && col.body() == "2\n")
    }
  }

  test("system_parts and system_query_log are queryable over HTTP, live") {
    withInsertServer { (c, p) =>
      // before any insert: parts view exists but is empty for this dataDir
      val empty = get(c, p, s"/?query=${enc(
        "SELECT COUNT(*) AS n FROM system_parts")}")
      assert(empty.statusCode() == 200 && empty.body() == "0\n")
      // land rows, then the census must see the new part files LIVE
      val r = postBytes(c, p, "INSERT INTO login_events FORMAT Protobuf",
        framed(loginMsg("e-sys-1", "u-1", 1726300800L)))
      assert(r.statusCode() == 200)
      val after = get(c, p, s"/?query=${enc(
        "SELECT table, n_files FROM system_parts ORDER BY table FORMAT TSVWithNames")}")
      assert(after.statusCode() == 200, after.body())
      val lines = after.body().linesIterator.toSeq
      assert(lines.head.startsWith("table"), s"header: ${lines.head}")
      assert(lines.exists(_.startsWith("login_events")), after.body())
      // the query log has recorded the earlier statements on this session
      val qlog = get(c, p, s"/?query=${enc(
        "SELECT COUNT(*) AS n FROM system_query_log WHERE status = 'OK'")}")
      assert(qlog.statusCode() == 200)
      assert(qlog.body().trim.toLong >= 1, qlog.body())
    }
  }

  test("system_parts hides private underscore dirs (_dlq census must not leak)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-http-priv").toString
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/real_table")
    Seq((2L, "poison")).toDF("id", "err").write.parquet(s"$dir/_dlq")
    val srv = new HttpSql(spark, dataDir = Some(dir))
    val p = srv.start()
    val c = HttpClient.newHttpClient()
    try {
      val r = get(c, p, s"/?query=${enc(
        "SELECT DISTINCT table FROM system_parts ORDER BY table")}")
      assert(r.statusCode() == 200, r.body())
      val tables = r.body().linesIterator.toSeq
      assert(tables.contains("real_table"), r.body())
      assert(!tables.exists(_.startsWith("_")),
        s"private dirs leaked into system_parts: ${tables.mkString(",")}")
    } finally srv.stop()
  }

  // A query that cannot finish in test time but DIES PROMPTLY when its
  // job group is cancelled: 2000 small range partitions (~1s of codegen
  // loop each). A single-partition range would spin uninterruptibly —
  // whole-stage codegen only notices a kill at batch boundaries — but
  // with many short tasks, cancellation drops the queued ones and the
  // job aborts as soon as the handful in flight drain. count, not sum:
  // sum would ANSI-overflow-abort before any timeout fired.
  private val slowSql =
    "SELECT count(*) AS s FROM range(0, 2000000000000, 1, 2000) WHERE id % 7 = 3"

  test("max_execution_time cancels the job group and reports the CH timeout class") {
    withServer { (c, p) =>
      val t0 = System.nanoTime()
      val r = get(c, p, s"/?max_execution_time=1&query=${enc(slowSql)}")
      val elapsedS = (System.nanoTime() - t0) / 1e9
      assert(r.statusCode() == 500)
      assert(r.body().startsWith("TIMEOUT_EXCEEDED"), r.body())
      assert(elapsedS < 60, s"cancellation must be prompt, took $elapsedS s")
      // the server (and the shared session) keep working afterwards
      assert(get(c, p, "/ping").body() == "Ok.\n")
      assert(get(c, p, s"/?query=${enc("SELECT 1 AS a")}").body() == "1\n")
    }
  }

  test("KILL QUERY WHERE query_id cancels a running query; unknown id is 404") {
    HttpSql.registerTables(spark, "/root/testdata/sf0.001")
    val srv = new HttpSql(spark)
    val p = srv.start()
    val c = HttpClient.newHttpClient()
    try {
      import java.util.concurrent.{Executors, TimeUnit}
      val pool = Executors.newSingleThreadExecutor()
      val victim = pool.submit(new java.util.concurrent.Callable[HttpResponse[String]] {
        override def call(): HttpResponse[String] =
          get(c, p, s"/?query_id=doomed&query=${enc(slowSql)}")
      })
      val deadline = System.nanoTime() + 30_000_000_000L
      while (!srv.runningQueryIds.contains("doomed") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(srv.runningQueryIds.contains("doomed"), "victim query never registered")
      val kill = get(c, p, s"/?query=${enc("KILL QUERY WHERE query_id = 'doomed'")}")
      assert(kill.statusCode() == 200 && kill.body() == "canceled\n")
      val r = victim.get(60, TimeUnit.SECONDS)
      assert(r.statusCode() == 500)
      assert(r.body().startsWith("QUERY_WAS_CANCELLED"), r.body())
      val gone = get(c, p, s"/?query=${enc("KILL QUERY WHERE query_id = 'doomed'")}")
      assert(gone.statusCode() == 404)
      // CH permits reusing a query_id after its kill: the job-group id
      // carries a per-execution nonce, so Spark's cancelled-group memory
      // (cancelJobGroupAndFutureJobs has no unmark) must not poison the
      // NEXT query under the same id
      val reuse = get(c, p, s"/?query_id=doomed&query=${enc("SELECT 41 + 1")}")
      assert(reuse.statusCode() == 200 && reuse.body() == "42\n",
        s"killed query_id not reusable: ${reuse.statusCode()} ${reuse.body()}")
      pool.shutdown()
    } finally { srv.stop() }
  }

  test("a duplicate in-flight query_id is refused") {
    HttpSql.registerTables(spark, "/root/testdata/sf0.001")
    val srv = new HttpSql(spark)
    val p = srv.start()
    val c = HttpClient.newHttpClient()
    try {
      import java.util.concurrent.{Executors, TimeUnit}
      val pool = Executors.newSingleThreadExecutor()
      val first = pool.submit(new java.util.concurrent.Callable[HttpResponse[String]] {
        override def call(): HttpResponse[String] =
          get(c, p, s"/?query_id=dup&query=${enc(slowSql)}")
      })
      val deadline = System.nanoTime() + 30_000_000_000L
      while (!srv.runningQueryIds.contains("dup") && System.nanoTime() < deadline)
        Thread.sleep(20)
      val second = get(c, p, s"/?query_id=dup&query=${enc("SELECT 1")}")
      assert(second.statusCode() == 400)
      assert(second.body().contains("already running"))
      get(c, p, s"/?query=${enc("KILL QUERY WHERE query_id = 'dup'")}")
      first.get(60, TimeUnit.SECONDS)
      pool.shutdown()
    } finally { srv.stop() }
  }

  test("stop releases the pools; the instance is one-shot") {
    val srv = new HttpSql(spark)
    val p = srv.start()
    val c = HttpClient.newHttpClient()
    assert(get(c, p, "/ping").statusCode() == 200)
    srv.stop()
    // the watchdog/handler pools are shut down with the server — a
    // restart on the same instance would schedule onto a dead executor,
    // so it must refuse up front
    val ex = intercept[IllegalArgumentException] { srv.start() }
    assert(ex.getMessage.contains("one-shot"))
    // a fresh instance binds fine (no port/thread leak from the stop)
    val srv2 = new HttpSql(spark)
    val p2 = srv2.start()
    try assert(get(c, p2, "/ping").statusCode() == 200)
    finally srv2.stop()
  }
}
