package graft.sources

import graft.TestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `system.query_log` analog: per-action telemetry queryable in-engine. */
class QueryLogSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("actions land as OK entries with durations; the log is itself queryable") {
    val log = QueryLog.install(spark)
    try {
      // listener events are delivered asynchronously — wait for them
      def await(n: Int): Unit = {
        val deadline = System.nanoTime() + 10_000_000_000L
        while (log.size < n && System.nanoTime() < deadline) Thread.sleep(20)
      }
      spark.range(1000).selectExpr("sum(id)").collect()
      spark.range(10).count()
      await(2)
      val df = log.toDF(spark)
      val rows = df.filter(col("status") === "OK").count()
      assert(rows >= 2, s"expected >=2 OK entries, log:\n${df.collect().mkString("\n")}")
      assert(df.filter(col("duration_ms") < 0 && col("status") === "OK").count() == 0)
      // the log supports ordinary SQL over it — the ops query shape
      df.createOrReplaceTempView("query_log")
      val top = spark.sql(
        "SELECT func, COUNT(*) AS n FROM query_log GROUP BY func ORDER BY n DESC")
      assert(top.count() >= 1)
    } finally spark.listenerManager.unregister(log)
  }

  test("failures are recorded with the FAIL status and a one-line error") {
    val log = QueryLog.install(spark)
    try {
      intercept[Exception] {
        spark.range(10).selectExpr("raise_error('qlog boom')").collect()
      }
      val deadline = System.nanoTime() + 10_000_000_000L
      while (log.toDF(spark).filter(col("status") === "FAIL").count() == 0 &&
             System.nanoTime() < deadline) Thread.sleep(20)
      val fails = log.toDF(spark).filter(col("status") === "FAIL").collect()
      assert(fails.nonEmpty, "failed action must be logged")
      val err = fails.head.getAs[String]("error")
      assert(!err.contains("\n"), "error is collapsed to one line")
    } finally spark.listenerManager.unregister(log)
  }

  test("max_group_events gauges the parametric aggregates' whale headroom") {
    import spark.implicits._
    graft.functions.GraftExtensions.register(spark)
    val log = QueryLog.install(spark)
    try {
      graft.functions.ParametricAgg.peakAndReset() // clear prior suites' peak
      val rnd = new scala.util.Random(1741)
      val types = Seq("signup", "click", "purchase", "view")
      val df = (0 until 600).map { i =>
        (rnd.nextInt(10).toLong, types(rnd.nextInt(types.size)),
          new java.sql.Timestamp(1726300800000L + i * 60000L))
      }.toDF("user_id", "event_type", "ts")
      // ground truth: the hottest group's condition-matching row count —
      // the aggregate buffers exactly these, and the final merge/update
      // observes the full group size
      val expected = df.filter(col("event_type") =!= "view")
        .groupBy("user_id").count().agg(max("count")).head.getLong(0)
      df.groupBy("user_id")
        .agg(expr("window_funnel(43200000000, ts, event_type = 'signup', " +
          "event_type = 'click', event_type = 'purchase')").as("lv"))
        .collect()
      val deadline = System.nanoTime() + 10_000_000_000L
      def gauge(): Option[Long] = log.toDF(spark)
        .filter(col("max_group_events") > 0)
        .orderBy(col("seq").desc).collect().headOption
        .map(_.getAs[Long]("max_group_events"))
      while (gauge().isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      assert(gauge().contains(expected),
        s"gauge ${gauge()} != hottest group $expected")
      // read-and-reset: the action consumed the figure
      assert(graft.functions.ParametricAgg.peakAndReset() == 0L)
    } finally spark.listenerManager.unregister(log)
  }

  test("the ring is bounded: only the newest `capacity` entries survive") {
    val log = new QueryLog(capacity = 5)
    (0 until 20).foreach { i =>
      log.onSuccess(s"f$i", null, i * 1000000L)
    }
    assert(log.size == 5)
    val kept = log.toDF(spark).orderBy("seq").collect().map(_.getAs[String]("func"))
    assert(kept.toSeq == (15 until 20).map(i => s"f$i"),
      s"newest five must survive, got ${kept.toSeq}")
  }

  test("clear resets the eviction counter: the log keeps accepting entries") {
    // regression: clear() emptied the queue but left `count` at capacity,
    // so every later add evicted itself and the log stayed empty forever
    val log = new QueryLog(capacity = 5)
    (0 until 7).foreach(i => log.onSuccess(s"f$i", null, 0L))
    assert(log.size == 5)
    log.clear()
    assert(log.size == 0)
    (0 until 3).foreach(i => log.onSuccess(s"g$i", null, 0L))
    assert(log.size == 3, "post-clear adds must survive")
    (0 until 7).foreach(i => log.onSuccess(s"h$i", null, 0L))
    assert(log.size == 5, "the bound re-establishes after refill")
  }
}
