package graft.streaming

import graft.TestSession
import org.scalatest.funsuite.AnyFunSuite

class BrokerSourceSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("startFromBroker over FileBroker: typed rows land per table, ack-after-write") {
    val wire = java.nio.file.Files.createTempDirectory("broker_wire").toString
    val out = java.nio.file.Files.createTempDirectory("broker_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("broker_ckpt").toString
    val t0 = 1726300800L
    def loginMsg(id: String, user: String, ts: Long): Seq[Any] =
      WireFixtures.loginMsg(id, user, ts)
    new java.io.File(s"$wire/events.login").mkdirs()
    graft.sources.ProtoFiles.writeLocal(s"$wire/events.login/flush-000001.pbstream",
      Iterator(loginMsg("b-1", "u-1", t0)), EventSchemas.tables("login_events"))
    val qs = Ingest.startFromBroker(spark, FileBroker(wire), out, ckpt,
      subjects = Seq("events.login"))
    try {
      qs.values.foreach(_.processAllAvailable())
      val login = spark.read.parquet(s"$out/login_events")
      assert(login.count() == 1)
      assert(login.columns.contains("event_date") && login.columns.contains("ingest_batch"))
      // the committed checkpoint exists only after the write landed
      assert(new java.io.File(s"$ckpt/login_events/commits").listFiles.nonEmpty,
        "offsets must be committed (acked) after the batch write")
    } finally qs.values.foreach(_.stop())
  }

  test("DLQ writes from different subjects with the same batch id coexist") {
    val out = java.nio.file.Files.createTempDirectory("dlq_iso").toString
    import spark.implicits._
    // two independent per-subject queries, both dead-lettering batch 0 —
    // without subject partitioning the second dynamic overwrite would
    // replace the first's ingest_batch=0 partition
    Ingest.deadLetterExhausted(
      Seq("p1").toDF("payload"), "events.login", out,
      batchId = 0L, deliveries = 4)
    Ingest.deadLetterExhausted(
      Seq("p2").toDF("payload"), "events.session", out,
      batchId = 0L, deliveries = 4)
    val dlq = Ingest.readDlq(spark, out)
    assert(dlq.count() == 2, "same-batch-id dead letters must not clobber")
    assert(dlq.select("subject").distinct().count() == 2)
  }

  test("RedeliveryBudget counts attempts per batch and persists across instances") {
    val dir = java.nio.file.Files.createTempDirectory("budget").toString
    val conf = spark.sessionState.newHadoopConf()
    val b = new RedeliveryBudget(conf, s"$dir/ledger", maxDeliver = 3)
    assert(b.attempt(0L) == 1)
    assert(b.attempt(0L) == 2)
    // a driver restart builds a fresh instance over the same ledger file
    val b2 = new RedeliveryBudget(conf, s"$dir/ledger", maxDeliver = 3)
    assert(b2.attempt(0L) == 3)
    // a new batch resets the count — only the in-flight batch is tracked
    assert(b2.attempt(1L) == 1)
  }

  test("max_deliver analog: a batch that keeps failing dead-letters with its delivery count") {
    val wire = java.nio.file.Files.createTempDirectory("budget_wire").toString
    val out = java.nio.file.Files.createTempDirectory("budget_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("budget_ckpt").toString
    val t0 = 1726300800L
    def loginMsg(id: String, user: String, ts: Long): Seq[Any] =
      WireFixtures.loginMsg(id, user, ts)
    new java.io.File(s"$wire/events.login").mkdirs()
    graft.sources.ProtoFiles.writeLocal(s"$wire/events.login/flush-000001.pbstream",
      Iterator(loginMsg("b-1", "u-1", t0)), EventSchemas.tables("login_events"))
    // poison the table path: a regular FILE where the write wants a
    // directory makes every delivery fail "transiently"
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/login_events"),
      "blocker".getBytes)

    def deliverOnce(): Option[Throwable] = {
      val qs = Ingest.startFromBroker(spark, FileBroker(wire), out, ckpt,
        subjects = Seq("events.login"), maxDeliver = 2)
      try {
        qs.values.foreach(_.processAllAvailable()); None
      } catch { case e: Throwable => Some(e) }
      finally qs.values.foreach(_.stop())
    }
    assert(deliverOnce().isDefined, "delivery 1 must fail on the blocked path")
    assert(deliverOnce().isDefined, "delivery 2 must fail on the blocked path")
    // budget (2) exhausted: delivery 3 dead-letters the batch and ACKS it
    assert(deliverOnce().isEmpty, "past the budget the stream must proceed")
    val dlq = spark.read.parquet(s"$out/_dlq")
    assert(dlq.count() == 1)
    val row = dlq.head()
    assert(row.getAs[String]("reason") == "max_deliver_exceeded")
    assert(row.getAs[Int]("deliveries") == 2,
      "deliveries must record the failed attempts that exhausted the budget")
    assert(row.getAs[String]("payload").contains("b-1"),
      "the poison rows stay auditable in the DLQ payload")
    // the batch is acked: unblocking the path and restarting must NOT
    // resurrect it, and a new healthy batch flows normally
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$out/login_events"))
    graft.sources.ProtoFiles.writeLocal(s"$wire/events.login/flush-000002.pbstream",
      Iterator(loginMsg("b-2", "u-2", t0 + 60)), EventSchemas.tables("login_events"))
    assert(deliverOnce().isEmpty)
    val landed = spark.read.parquet(s"$out/login_events")
    assert(landed.select("event_id").collect().map(_.getString(0)).toSet == Set("b-2"),
      "dead-lettered rows must not reappear in the table")
  }

  test("writer-side compaction failure: logged, batch commits, no DLQ, no replay") {
    val wire = java.nio.file.Files.createTempDirectory("cfault_wire").toString
    val local = java.nio.file.Files.createTempDirectory("cfault_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cfault_ckpt").toString
    // the table lives on a local filesystem whose rename refuses to move
    // a partition aside, so every compaction swap fails mid-way
    spark.sparkContext.hadoopConfiguration.set("fs.faultfs.impl",
      classOf[CompactionFaultFs].getName)
    val out = s"faultfs://$local"
    val ledger = java.nio.file.Paths.get(s"$ckpt/login_events/_graft_deliveries")
    val errBuf = new java.io.ByteArrayOutputStream()
    val prevErr = System.err
    System.setErr(new java.io.PrintStream(errBuf, true))
    val qs = try Ingest.startFromBroker(spark, FileBroker(wire), out, ckpt,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"),
        subjects = Seq("events.login"),
        compaction = graft.CompactionConfig(enabled = true, maxFiles = 2))
      catch { case e: Throwable => System.setErr(prevErr); throw e }
    val q = qs("login_events")
    try {
      new java.io.File(s"$wire/events.login").mkdirs()
      (0 until 4).foreach { b =>
        graft.sources.ProtoFiles.writeLocal(f"$wire/events.login/flush-$b%06d.pbstream",
          Iterator.tabulate(2)(i => WireFixtures.loginMsg(s"f-$b-$i", "u-1",
            1726300800L + 2 * b + i)), EventSchemas.tables("login_events"))
        q.processAllAvailable()
        // the delivery ledger holds the latest batch's attempt count
        assert(new String(java.nio.file.Files.readAllBytes(ledger)).trim ==
          s"$b\t1", s"batch $b must run exactly once")
      }
    } finally { q.stop(); System.setErr(prevErr) }
    assert(q.exception.isEmpty, s"a compaction failure failed the query: ${q.exception}")
    assert(errBuf.toString.contains("[ingest] compaction of") &&
      errBuf.toString.contains("injected rename fault"),
      s"the failure must be logged; stderr was: $errBuf")
    val commits = new java.io.File(s"$ckpt/login_events/commits").list()
      .filter(_.forall(_.isDigit)).map(_.toInt).toSet
    assert(commits == Set(0, 1, 2, 3), s"every batch commits: $commits")
    val table = spark.read.parquet(s"$local/login_events")
    assert(table.count() == 8 && table.select("event_id").distinct().count() == 8)
    // the failed swap was healed: nothing pooled, no staging left behind
    val leftovers = new java.io.File(s"$local/login_events").list()
      .filter(n => n.startsWith(".") && n.contains("_compact_"))
    assert(leftovers.isEmpty, s"unhealed swap: ${leftovers.mkString(",")}")
    assert(table.filter("ingest_batch = -1").isEmpty)
    assert(!new java.io.File(s"$local/${Ingest.DlqTable}").exists(),
      "a compaction failure must not dead-letter rows")
  }

  test("KafkaBroker option mapping mirrors the reference consumer config") {
    val kb = KafkaBroker("broker:9092", groupPrefix = "click-consumer",
      maxOffsetsPerTrigger = 100000L)
    val o = kb.options("events.login")
    assert(o("kafka.bootstrap.servers") == "broker:9092")
    assert(o("subscribe") == "events.login")
    assert(o("kafka.group.id") == "click-consumer-events.login",
      "durable_name analog: stable per-subject group id")
    assert(o("maxOffsetsPerTrigger") == "100000")
    assert(o("failOnDataLoss") == "true", "retention gaps must be loud")
    // config-driven construction from the [nats]/[batcher] sections
    val cfg = graft.EngineConfig.parse(
      "[nats]\nhost = \"kbroker\"\nclient_port = 9092\nconsumer_name = \"cc\"\n" +
        "[batcher]\nmax_rows = 5000")
    val fromCfg = KafkaBroker.fromConfig(cfg)
    assert(fromCfg.bootstrapServers == "kbroker:9092")
    assert(fromCfg.groupPrefix == "cc" && fromCfg.maxOffsetsPerTrigger == 5000L)
  }

  test("KafkaBroker without the connector jar fails with a clear pointer") {
    val ex = intercept[Exception] {
      KafkaBroker("broker:9092").load(spark, "events.login",
        EventSchemas.tables("login_events"))
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + " " + msgs(t.getCause)
    assert(msgs(ex).toLowerCase.contains("kafka"), s"unexpected error: $ex")
  }
}

/** The local filesystem under the `faultfs` scheme, except that renaming
  * a directory to a compaction backup (`.<partition>_compact_bak`)
  * always fails. */
class CompactionFaultFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, Path}
  override def getScheme: String = "faultfs"
  override def getUri: java.net.URI = java.net.URI.create("faultfs:///")
  // the local status loads its permissions through a file: URI, which
  // this scheme is not; listings need only the plain fields
  override def getFileStatus(p: Path): FileStatus = {
    val st = super.getFileStatus(p)
    new FileStatus(st.getLen, st.isDirectory, st.getReplication,
      st.getBlockSize, st.getModificationTime, st.getPath)
  }
  override def rename(src: Path, dst: Path): Boolean =
    if (dst.getName.endsWith("_compact_bak"))
      throw new java.io.IOException(s"injected rename fault: $src -> $dst")
    else super.rename(src, dst)
}
