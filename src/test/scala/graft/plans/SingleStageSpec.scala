package graft.plans

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, QueryExecution,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange,
  ShuffleExchangeExec}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions.{broadcast, col, count, rand, sum}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession
import graft.pipeline.Materialize
import graft.server.HttpSql
import graft.streaming.{EventSchemas, Ingest}

/** [[SingleStage]]: a query over small inputs plans no exchange and runs
  * as one Spark job, with the same answer and the same files read as with
  * the gate off — over files, local rows, caches and `Materialize.drop`
  * checkpoints, through broadcast-hinted joins and keyless repartitions,
  * and under a plain file write. Inputs above the gate, nondeterministic
  * plans, streaming plans, RDD leaves no checkpoint noted and writes that
  * range their rows keep the plan they get with the gate off. */
class SingleStageSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSession.spark

  private val dir = java.nio.file.Files.createTempDirectory("single_stage").toString
  private val Watch = "angulak_watch_events"
  private val day0 = 1725148800L // 2024-09-01 00:00 UTC

  /** One wire row of `table` by field name; other fields take proto3
    * defaults. */
  private def row(table: String, values: (String, Any)*): Row = {
    val m = values.toMap
    Row.fromSeq(EventSchemas.tables(table).fields.toSeq.map(f =>
      m.getOrElse(f.name, f.dataType match {
        case StringType  => ""
        case IntegerType => 0
        case LongType    => 0L
        case BooleanType => false
        case _           => Seq.empty[String]
      })))
  }

  /** `rows` as a `LocalRelation`, a leaf the gate sizes. */
  private def local(table: String, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, EventSchemas.tables(table))

  private def table(name: String): DataFrame = spark.read.parquet(s"$dir/$name")

  // three ingest batches per table over four dates: several files in
  // each date partition, so pruning shows in the files read
  private def writeTables(): Unit = {
    val r = new scala.util.Random(8)
    val names = Seq("play", "progress", "complete")
    (0 until 3).foreach { b =>
      val watch = for (d <- 0 until 4; u <- 1 to 12; k <- 0 until 4) yield
        row(Watch, "event_id" -> s"w-$b-$d-$u-$k", "event_name" -> names(r.nextInt(3)),
          "user_id" -> f"u$u%05d", "timestamp" -> (day0 + d * 86400L + r.nextInt(86400)),
          "item_type" -> (if (r.nextBoolean()) "movie" else "series"),
          "item_id" -> s"i${r.nextInt(5)}", "video_position" -> r.nextInt(3600),
          "event_details" ->
            s"""{"cdn":"cdn${r.nextInt(3)}","bitrate":${500 + r.nextInt(4000)}}""")
      Ingest.writeTyped(local(Watch, watch), Watch, EventSchemas.tables(Watch), dir, b)
      Seq("login_events", "session_events").foreach { t =>
        val evs = for (d <- 0 until 4; u <- 1 to 12 if r.nextInt(3) > 0) yield
          row(t, "event_id" -> s"$t-$b-$d-$u", "event_name" -> t,
            "user_id" -> f"u$u%05d", "timestamp" -> (day0 + d * 86400L + r.nextInt(86400)))
        Ingest.writeTyped(local(t, evs), t, EventSchemas.tables(t), dir, b)
      }
    }
  }

  /** The eight perfbench analyst template shapes at fixed parameters. */
  private val templates: Seq[(String, String)] = Seq(
    "t_range_count" -> (s"SELECT count(*) AS c FROM $Watch WHERE timestamp >= " +
      "TIMESTAMP '2024-09-02 06:00:00' AND timestamp < TIMESTAMP '2024-09-02 07:00:00'"),
    "t_user_timeline" -> (s"SELECT event_id, timestamp, event_name, item_id FROM $Watch " +
      "WHERE user_id = 'u00003' AND event_date = DATE '2024-09-02' " +
      "ORDER BY timestamp, event_id LIMIT 20"),
    "t_dau_uniq" -> ("SELECT event_date, count(DISTINCT user_id) AS dau FROM login_events " +
      "WHERE event_date >= DATE '2024-09-02' AND event_date <= DATE '2024-09-03' " +
      "GROUP BY event_date ORDER BY event_date"),
    "t_watch_quantiles" -> ("SELECT item_type, count(*) AS n, " +
      "percentile(video_position, 0.5) AS p50, percentile(video_position, 0.9) AS p90 " +
      s"FROM $Watch WHERE event_date = DATE '2024-09-02' GROUP BY item_type ORDER BY item_type"),
    "t_funnel" -> ("SELECT level, count(*) AS users FROM (SELECT user_id, " +
      "window_funnel(3600000000, timestamp, event_name = 'play', " +
      "event_name = 'progress', event_name = 'complete') AS level " +
      s"FROM $Watch WHERE event_date = DATE '2024-09-02' GROUP BY user_id) f " +
      "GROUP BY level ORDER BY level"),
    "t_retention" -> ("SELECT sum(r[0]) AS d0, sum(r[1]) AS d1, sum(r[2]) AS d2 FROM (" +
      "SELECT user_id, retention(event_date = DATE '2024-09-01', " +
      "event_date = DATE '2024-09-02', event_date = DATE '2024-09-03') AS r " +
      "FROM session_events WHERE event_date >= DATE '2024-09-01' AND " +
      "event_date <= DATE '2024-09-03' GROUP BY user_id) t"),
    "t_topk_limit_by" -> (s"SELECT event_date, item_id, count(*) AS c FROM $Watch " +
      "WHERE event_date >= DATE '2024-09-02' AND event_date <= DATE '2024-09-03' " +
      "GROUP BY event_date, item_id ORDER BY event_date, c DESC, item_id " +
      "LIMIT 3 BY event_date"),
    "t_json_details" -> ("SELECT get_json_object(event_details, '$.cdn') AS cdn, " +
      "count(*) AS n, sum(CAST(get_json_object(event_details, '$.bitrate') AS BIGINT)) " +
      s"AS kbps FROM $Watch WHERE event_date = DATE '2024-09-02' GROUP BY 1 ORDER BY 1"))

  private val jobGroups = new ConcurrentLinkedQueue[String]()
  private val stageGroups = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val groupTasks = new ConcurrentLinkedQueue[(String, Int)]()
  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach { g => jobGroups.add(g); e.stageIds.foreach(stageGroups.put(_, g)) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageGroups.get(e.stageInfo.stageId))
        .foreach(g => groupTasks.add(g -> e.stageInfo.numTasks))
  }
  private val executions = new ConcurrentLinkedQueue[(String, QueryExecution)]()
  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      executions.add((f, qe))
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  override def beforeAll(): Unit = {
    writeTables()
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
  }

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }
  private def exchanges(p: SparkPlan): Seq[Exchange] =
    nodes(p).collect { case e: Exchange => e }
  private def gated(p: SparkPlan): Boolean = nodes(p).exists(_.isInstanceOf[CoalesceExec])
  private def filesRead(p: SparkPlan): Long =
    nodes(p).collect { case s: FileSourceScanExec => s.metrics("numFiles").value }.sum

  /** Runs `df` on this thread with the gate at `bytes`. */
  private def runAt(bytes: Long)(df: => DataFrame): (DataFrame, Array[Row]) =
    SingleStage.withGateBytes(bytes) { val d = df; (d, d.collect()) }

  /** `body`'s value, and the jobs and tasks it ran under job group `group`. */
  private def counted[T](group: String)(body: => T): (T, Int, Int) = {
    val sc = spark.sparkContext
    ListenerBus.drain(sc)
    sc.setJobGroup(group, group)
    val v = try body finally sc.clearJobGroup()
    ListenerBus.drain(sc)
    (v, jobGroups.asScala.count(_ == group),
      groupTasks.asScala.collect { case (`group`, n) => n }.sum)
  }

  private def sorted(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  /** `df` runs as one job with no exchange at the default gate and
    * answers as with the gate off, where it plans an exchange. `df` is
    * planned once per gate, so it must not open a table itself: that
    * runs a schema-inference job. */
  private def assertOneStage(what: String)(df: => DataFrame): Unit = {
    val (off, offRows) = runAt(0)(df)
    assert(exchanges(off.queryExecution.executedPlan).nonEmpty,
      s"$what: no exchange to remove:\n${off.queryExecution.executedPlan}")
    val ((on, onRows), jobs, _) = counted(s"one-stage-$what")(runAt(SingleStage.gateBytes)(df))
    val plan = on.queryExecution.executedPlan
    assert(gated(plan), s"$what was not gated:\n$plan")
    assert(exchanges(plan).isEmpty, s"$what planned an exchange:\n$plan")
    assert(jobs == 1, s"$what ran $jobs jobs")
    assert(sorted(onRows) == sorted(offRows), s"$what answered differently with the gate on")
  }

  private def get(port: Int, sql: String, queryId: String): String = {
    val q = java.net.URLEncoder.encode(sql, UTF_8)
    val r = HttpClient.newHttpClient().send(HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:$port/?query=$q&query_id=$queryId")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200, r.body())
    r.body()
  }

  test("each analyst template runs over HTTP as one job with no exchange, " +
      "answering and pruning as with the gate off") {
    val srv = new HttpSql(spark, dataDir = Some(dir))
    val port = srv.start()
    val tsv = HttpSql.formats("tabseparated")
    try templates.foreach { case (name, sql) =>
      ListenerBus.drain(spark.sparkContext)
      jobGroups.clear(); executions.clear()
      val body = get(port, sql, s"gated-$name")
      ListenerBus.drain(spark.sparkContext)
      val served = executions.asScala.collect { case ("toLocalIterator", qe) => qe }.toSeq
      assert(served.size == 1, s"$name: ${executions.asScala.map(_._1)}")
      val plan = served.head.executedPlan
      assert(gated(plan), s"$name was not gated:\n$plan")
      assert(exchanges(plan).isEmpty, s"$name planned an exchange:\n$plan")
      val jobs = jobGroups.asScala.count(_.startsWith(s"graft-http-gated-$name-"))
      assert(jobs == 1, s"$name ran $jobs jobs")

      // the same statement with the gate off, on this thread (the served
      // views are registered in the session)
      val (off, offRows) = runAt(0)(spark.sql(sql))
      val offPlan = off.queryExecution.executedPlan
      assert(!gated(offPlan))
      if (name != "t_user_timeline") // TakeOrderedAndProject: no exchange either way
        assert(exchanges(offPlan).nonEmpty, s"$name: no exchange to remove:\n$offPlan")
      assert(body == offRows.map(tsv.row(_, off.schema)).mkString,
        s"$name answered differently with the gate on")
      assert(filesRead(plan) == filesRead(offPlan), s"$name read other files")
    } finally srv.stop()
    // date filters still prune with the gate on
    val (q, _) = runAt(SingleStage.gateBytes)(spark.read.parquet(s"$dir/$Watch")
      .filter(col("event_date") === "2024-09-02").groupBy("item_type").count())
    val onDay = java.nio.file.Files.walk(java.nio.file.Paths.get(
      s"$dir/$Watch/event_date=2024-09-02")).iterator.asScala
      .count(_.toString.endsWith(".parquet"))
    assert(gated(q.queryExecution.executedPlan))
    assert(filesRead(q.queryExecution.executedPlan) == onDay &&
      onDay < table(Watch).inputFiles.length, "one date must read only its files")
  }

  /** `df` planned with the gate at `bytes` keeps the plan it gets with
    * the gate off, exchanges included. */
  private def assertKept(what: String, bytes: Long = SingleStage.gateBytes)(
      df: => DataFrame): Unit = {
    val (on, onRows) = runAt(bytes)(df)
    val (off, offRows) = runAt(0)(df)
    val plan = on.queryExecution.executedPlan
    assert(!gated(plan) && exchanges(plan).nonEmpty, s"$what was gated:\n$plan")
    assert(on.queryExecution.optimizedPlan.sameResult(off.queryExecution.optimizedPlan),
      s"$what: the plan changed:\n${on.queryExecution.optimizedPlan}")
    assert(onRows.length == offRows.length)
  }

  test("an input above the gate keeps its plan; the gate counts exact file bytes") {
    val q = () => table(Watch).groupBy("item_type").count()
    val bytes = table(Watch).queryExecution.optimizedPlan.collectFirst {
      case lr: LogicalRelation => lr.relation.asInstanceOf[HadoopFsRelation].location.sizeInBytes
    }.get
    assert(gated(runAt(bytes)(q())._1.queryExecution.executedPlan),
      "an input of exactly the gate's bytes is gated")
    assertKept("an input one byte above the gate", bytes - 1)(q())
  }

  test("a nondeterministic plan keeps its plan") {
    assertKept("a rand() filter")(
      table(Watch).filter(rand(7) < 0.5).groupBy("item_type").count())
  }

  test("an RDD leaf keeps its plan: the INSERT path's spark.read.json(Dataset)") {
    val jsons = (1 to 20).map(i => s"""{"event_id":"j-$i","event_name":"e${i % 3}"}""")
    val rows = spark.read.schema(EventSchemas.tables("login_events"))
      .json(spark.createDataset(jsons)(Encoders.STRING))
    assertKept("a LogicalRDD leaf")(rows.groupBy("event_name").count())
  }

  test("a streaming plan keeps its plan") {
    val ckpt = java.nio.file.Files.createTempDirectory("single_stage_ckpt").toString
    val q = spark.readStream.schema(table(Watch).schema).parquet(s"$dir/$Watch")
      .groupBy("item_type").count()
      .writeStream.outputMode("complete").format("memory")
      .queryName("single_stage_stream").option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(TimeUnit.MINUTES.toMillis(2)), "stream did not finish")
    finally q.stop()
    val last = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
    assert(last.optimizedPlan.exists {
      case lr: LogicalRelation => lr.isStreaming
      case _ => false
    }, s"expected a streaming file relation:\n${last.optimizedPlan}")
    assert(!gated(last.executedPlan) && exchanges(last.executedPlan).nonEmpty,
      s"a streaming batch was gated:\n${last.executedPlan}")
    assert(spark.table("single_stage_stream").count() == 2)
  }

  test("writes keep their plans: Ingest.writeTyped's range exchange, a plain write") {
    val out = java.nio.file.Files.createTempDirectory("single_stage_write").toString
    val rows = local("login_events", (1 to 30).map(i =>
      row("login_events", "event_id" -> s"l-$i", "user_id" -> s"u$i",
        "timestamp" -> (day0 + i * 3600L))))
    // the same local rows ARE gated when queried
    assert(gated(runAt(SingleStage.gateBytes)(
      rows.groupBy("user_id").count())._1.queryExecution.executedPlan))
    ListenerBus.drain(spark.sparkContext)
    executions.clear()
    Ingest.writeTyped(rows, "login_events", EventSchemas.tables("login_events"), out, 0L)
    ListenerBus.drain(spark.sparkContext)
    val plans = executions.asScala.toSeq.flatMap { case (_, qe) => nodes(qe.executedPlan) }
    assert(plans.exists {
      case s: ShuffleExchangeExec => s.outputPartitioning.isInstanceOf[RangePartitioning]
      case _ => false
    }, s"the write lost its range exchange:\n${plans.headOption.getOrElse("")}")
    assert(!plans.exists(_.isInstanceOf[CoalesceExec]), "the write was gated")
    assert(spark.read.parquet(s"$out/login_events").count() == 30)

    // a small write without a keyed repartition of its own is gated:
    // one task writes one file, with the rows of the gate-off aggregate
    val ((), jobs, tasks) = counted("plain-write")(
      rows.groupBy("user_id").count().write.parquet(s"$out/counts"))
    val files = new java.io.File(s"$out/counts").listFiles().count(_.getName.endsWith(".parquet"))
    assert(jobs >= 1 && tasks == 1 && files == 1,
      s"the aggregate write ran $tasks tasks in $jobs jobs and wrote $files files")
    assert(sorted(spark.read.parquet(s"$out/counts").collect()) ==
      sorted(runAt(0)(rows.groupBy("user_id").count())._2))
  }

  test("a query over a small persist()ed frame runs as one job with no exchange") {
    val cached = table(Watch).select("user_id", "item_type", "video_position").persist()
    try {
      cached.count() // materialized: the job counted below is the query's
      assertOneStage("a persisted input")(cached.groupBy("item_type")
        .agg(count("*").as("n"), sum("video_position").as("pos")))
    } finally cached.unpersist()
  }

  test("a query over a Materialize.drop checkpoint runs as one job with no exchange") {
    val ckpt = Materialize.drop(table(Watch).groupBy("user_id", "item_type").count())
    assertOneStage("a checkpointed input")(
      ckpt.groupBy("item_type").agg(sum("count").as("n")))
  }

  test("a broadcast-hinted join under the gate plans no broadcast and no exchange") {
    val (watch, logins) = (table(Watch), table("login_events"))
    val q = () => watch.join(broadcast(logins
        .select(col("user_id"), col("event_id").as("login_id"))), "user_id")
      .groupBy("item_type").agg(count("*").as("n"))
    val off = runAt(0)(q())._1.queryExecution.executedPlan
    assert(nodes(off).exists(_.isInstanceOf[BroadcastExchangeExec]),
      s"the hint did not broadcast with the gate off:\n$off")
    assertOneStage("a broadcast-hinted join")(q())
  }

  test("keyless repartitions are dropped under the gate; a keyed one is kept") {
    val watch = table(Watch)
    assertOneStage("repartition(4)")(watch.repartition(4).groupBy("item_type").count())
    assertOneStage("a REBALANCE hint")(watch.hint("rebalance").groupBy("item_type").count())
    val keyed = () => watch.repartitionByRange(4, col("timestamp"))
      .groupBy("item_type").count()
    val (on, onRows) = runAt(SingleStage.gateBytes)(keyed())
    val plan = on.queryExecution.executedPlan
    assert(gated(plan), s"the keyed plan was not gated:\n$plan")
    assert(exchanges(plan).exists(_.outputPartitioning.isInstanceOf[RangePartitioning]),
      s"the range repartition was dropped:\n$plan")
    assert(sorted(onRows) == sorted(runAt(0)(keyed())._2))
  }

  test("a cache over inputs above the gate and an RDD no checkpoint noted keep their plans") {
    val cached = table(Watch).select("user_id", "item_type").persist()
    try {
      val bytes = SingleStage.inputBytes(table(Watch).queryExecution.optimizedPlan).get
      assertKept("a cache one byte above the gate", (bytes - 1).toLong)(
        cached.groupBy("item_type").count())
    } finally cached.unpersist()
    val ckpt = table(Watch).localCheckpoint()
    assertKept("a localCheckpoint Materialize.drop did not make")(
      ckpt.groupBy("item_type").count())
  }

  test("under the engine's SQL settings a join over a join runs as one job with no exchange") {
    val (watch, logins, sessions) =
      (table(Watch), table("login_events"), table("session_events"))
    val q = () => watch.join(logins.select(col("user_id"), col("event_id").as("l")), "user_id")
      .join(sessions.select(col("user_id"), col("event_id").as("s")), "user_id")
      .join(watch.select(col("event_id"), col("item_id").as("again")), "event_id")
      .groupBy("item_type").agg(count("*").as("n"))
    // the join estimates multiply past Spark's single-partition bound,
    // so the session default re-shuffles both sides of the outer join
    val dflt = runAt(SingleStage.gateBytes)(q())._1.queryExecution.executedPlan
    assert(gated(dflt) && exchanges(dflt).nonEmpty, s"no exchange to keep out:\n$dflt")
    val conf = spark.conf
    val prev = graft.EngineSession.sqlSettings.map { case (k, _) => k -> conf.getOption(k) }
    graft.EngineSession.sqlSettings.foreach { case (k, v) => conf.set(k, v) }
    try assertOneStage("a join over a join")(q())
    finally prev.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
