package graft.streaming

import graft.TestSession
import org.scalatest.funsuite.AnyFunSuite

class BrokerSourceSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("startFromWire: typed rows land per table, ack-after-write") {
    val wire = java.nio.file.Files.createTempDirectory("broker_wire").toString
    val out = java.nio.file.Files.createTempDirectory("broker_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("broker_ckpt").toString
    val t0 = 1726300800L
    def loginMsg(id: String, user: String, ts: Long): Seq[Any] =
      WireFixtures.loginMsg(id, user, ts)
    new java.io.File(s"$wire/events.login").mkdirs()
    ProtoFiles.writeLocal(s"$wire/events.login/flush-000001.pbstream",
      Iterator(loginMsg("b-1", "u-1", t0)), EventSchemas.tables("login_events"))
    val qs = Ingest.startFromWire(spark, wire, out, ckpt,
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
    ProtoFiles.writeLocal(s"$wire/events.login/flush-000001.pbstream",
      Iterator(loginMsg("b-1", "u-1", t0)), EventSchemas.tables("login_events"))
    // poison the table path: a regular FILE where the write wants a
    // directory makes every delivery fail "transiently"
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/login_events"),
      "blocker".getBytes)

    def deliverOnce(): Option[Throwable] = {
      val qs = Ingest.startFromWire(spark, wire, out, ckpt,
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
    ProtoFiles.writeLocal(s"$wire/events.login/flush-000002.pbstream",
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
    val qs = try Ingest.startFromWire(spark, wire, out, ckpt,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"),
        subjects = Seq("events.login"),
        compaction = graft.CompactionConfig(enabled = true, maxFiles = 2))
      catch { case e: Throwable => System.setErr(prevErr); throw e }
    val q = qs("login_events")
    try {
      new java.io.File(s"$wire/events.login").mkdirs()
      (0 until 4).foreach { b =>
        ProtoFiles.writeLocal(f"$wire/events.login/flush-$b%06d.pbstream",
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

  test("writer-side compaction censuses only the partitions the batch wrote") {
    val wire = java.nio.file.Files.createTempDirectory("census_wire").toString
    val out = java.nio.file.Files.createTempDirectory("census_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("census_ckpt").toString
    val schema = EventSchemas.tables("login_events")
    // an older date partition left fragmented by four backfill appends
    val oldDay = 1725148800L // 2024-09-01
    (0 until 4).foreach { i =>
      val row = org.apache.spark.sql.Row.fromSeq(
        WireFixtures.loginMsg(s"old-$i", "u-1", oldDay + i))
      Ingest.writeTyped(spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(row)), schema),
        "login_events", schema, out, batchId = -1L)
    }
    def files(partition: String): Long =
      graft.sources.Parts.forTable(spark, s"$out/login_events").collect()
        .find(_.getAs[String]("partition") == partition)
        .map(_.getAs[Long]("n_files")).getOrElse(0L)
    assert(files("event_date=2024-09-01") == 4)
    val qs = Ingest.startFromWire(spark, wire, out, ckpt,
      subjects = Seq("events.login"),
      compaction = graft.CompactionConfig(enabled = true, maxFiles = 2))
    val q = qs("login_events")
    try {
      new java.io.File(s"$wire/events.login").mkdirs()
      (0 until 3).foreach { b =>
        ProtoFiles.writeLocal(f"$wire/events.login/flush-$b%06d.pbstream",
          Iterator(WireFixtures.loginMsg(s"new-$b", "u-1", 1726300800L + b)), schema)
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(q.exception.isEmpty, s"${q.exception}")
    // batch 2 wrote the third file into 2024-09-14: that partition was
    // pooled; 2024-09-01, which no batch wrote, was left alone
    assert(files("event_date=2024-09-14") == 2)
    assert(files("event_date=2024-09-01") == 4,
      "a partition the batch did not write must keep its file count")
    assert(spark.read.parquet(s"$out/login_events").count() == 7)
  }

  test("HTTP INSERT into a partition mid-compaction survives exactly once") {
    val wire = java.nio.file.Files.createTempDirectory("lock_wire").toString
    val local = java.nio.file.Files.createTempDirectory("lock_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("lock_ckpt").toString
    spark.sparkContext.hadoopConfiguration.set("fs.latchfs.impl",
      classOf[LatchedCompactionFs].getName)
    LatchedCompactionFs.arm()
    val out = s"latchfs://$local"
    val schema = EventSchemas.tables("login_events")
    def flush(b: Int): Unit =
      ProtoFiles.writeLocal(f"$wire/events.login/flush-$b%06d.pbstream",
        Iterator(WireFixtures.loginMsg(s"w-$b", "u-1", 1726300800L + b)), schema)
    new java.io.File(s"$wire/events.login").mkdirs()
    val qs = Ingest.startFromWire(spark, wire, out, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"),
      subjects = Seq("events.login"),
      compaction = graft.CompactionConfig(enabled = true, maxFiles = 2))
    val q = qs("login_events")
    val srv = new graft.server.HttpSql(spark, dataDir = Some(out))
    val port = srv.start()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    try {
      flush(0); q.processAllAvailable()
      flush(1); q.processAllAvailable()
      // the third single-file batch pushes 2024-09-14 past max_files: the
      // writer starts a swap and parks before moving the partition aside
      flush(2)
      assert(LatchedCompactionFs.reached.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the writer never started a compaction swap")
      val body = new java.io.ByteArrayOutputStream()
      ProtoWire.writeFrame(body,
        ProtoWire.encode(WireFixtures.loginMsg("h-1", "u-2", 1726300810L), schema))
      val insert = Future {
        java.net.http.HttpClient.newHttpClient().send(
          java.net.http.HttpRequest.newBuilder(java.net.URI.create(
            s"http://127.0.0.1:$port/?query=" + java.net.URLEncoder.encode(
              "INSERT INTO login_events FORMAT Protobuf", "UTF-8")))
            .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(body.toByteArray))
            .build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
      }
      // an INSERT that does not wait for the swap lands in these seconds
      scala.util.Try(Await.ready(insert, 3.seconds))
      LatchedCompactionFs.release.countDown()
      val resp = Await.result(insert, 60.seconds)
      assert(resp.statusCode() == 200, resp.body())
      q.processAllAvailable()
    } finally {
      LatchedCompactionFs.release.countDown()
      srv.stop(); q.stop()
    }
    assert(q.exception.isEmpty, s"${q.exception}")
    val table = spark.read.parquet(s"$local/login_events")
    assert(table.filter("ingest_batch = -1 AND event_id = 'w-0'").count() == 1,
      "the swap must have pooled the settled batches")
    assert(table.select("event_id").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("h-1", "w-0", "w-1", "w-2"), "every row exactly once")
  }
}

/** The local filesystem under another scheme. The local status loads its
  * permissions through a file: URI, which these schemes are not;
  * listings need only the plain fields. */
abstract class LocalSchemeFs(scheme: String)
    extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, Path}
  override def getScheme: String = scheme
  override def getUri: java.net.URI = java.net.URI.create(s"$scheme:///")
  override def getFileStatus(p: Path): FileStatus = {
    val st = super.getFileStatus(p)
    new FileStatus(st.getLen, st.isDirectory, st.getReplication,
      st.getBlockSize, st.getModificationTime, st.getPath)
  }
}

/** `latchfs`: renaming a directory to a compaction backup
  * (`.<partition>_compact_bak`) first counts down
  * [[LatchedCompactionFs.reached]], then waits for
  * [[LatchedCompactionFs.release]]. */
class LatchedCompactionFs(scheme: String) extends LocalSchemeFs(scheme) {
  import org.apache.hadoop.fs.Path
  def this() = this("latchfs")
  override def rename(src: Path, dst: Path): Boolean = {
    if (dst.getName.endsWith("_compact_bak")) {
      LatchedCompactionFs.reached.countDown()
      LatchedCompactionFs.release.await(60, java.util.concurrent.TimeUnit.SECONDS)
    }
    super.rename(src, dst)
  }
}

object LatchedCompactionFs {
  @volatile var reached = new java.util.concurrent.CountDownLatch(1)
  @volatile var release = new java.util.concurrent.CountDownLatch(1)
  def arm(): Unit = {
    reached = new java.util.concurrent.CountDownLatch(1)
    release = new java.util.concurrent.CountDownLatch(1)
  }
}

/** `countfs`: `latchfs` that also records every directory it lists. */
class ListCountingFs extends LatchedCompactionFs("countfs") {
  import org.apache.hadoop.fs.{FileStatus, Path}
  override def listStatus(p: Path): Array[FileStatus] = {
    ListCountingFs.listed.add(p.toUri.getPath)
    super.listStatus(p)
  }
}

object ListCountingFs {
  val listed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  /** Listings of `dir` or of a path under it since `listed` was cleared. */
  def listingsUnder(dir: String): Int = {
    import scala.jdk.CollectionConverters._
    listed.asScala.count(p => p == dir || p.startsWith(s"$dir/"))
  }
}

/** `faultfs`: renaming a directory to a compaction backup
  * (`.<partition>_compact_bak`) always fails. */
class CompactionFaultFs extends LocalSchemeFs("faultfs") {
  import org.apache.hadoop.fs.Path
  override def rename(src: Path, dst: Path): Boolean =
    if (dst.getName.endsWith("_compact_bak"))
      throw new java.io.IOException(s"injected rename fault: $src -> $dst")
    else super.rename(src, dst)
}
