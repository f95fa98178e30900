package graft.sources

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** `system.query_log` analog — the other half of the CH ops surface next
  * to [[Parts]] (`system.parts`): every deployment that exposes a query
  * port ([ddl] build/docker-compose.yml:8-9) gets per-query telemetry
  * (duration, status, error class) queryable IN the engine itself.
  *
  * Spark-native shape: a [[QueryExecutionListener]] registered on the
  * session. The listener fires on the driver after each ACTION with the
  * execution's wall time and outcome; entries accumulate in a bounded
  * in-memory ring (the newest `capacity` survive — telemetry must never
  * become the memory leak it is meant to catch) and surface as a
  * DataFrame via [[toDF]], so the log is queryable through the same SQL
  * surface as everything else, HTTP included.
  *
  * What this deliberately is NOT: per-executor task metrics (Spark's
  * status store / event log own those) or a persisted audit trail — for
  * durability, pipe `toDF.write` on a schedule like any other table.
  */
final class QueryLog(capacity: Int = 10000) extends QueryExecutionListener {
  import QueryLog.Entry

  private val seq = new AtomicLong(0L)
  private val entries = new ConcurrentLinkedQueue[Entry]()
  // ConcurrentLinkedQueue.size is an O(n) traversal — track the count
  // alongside so the eviction check is O(1) on the listener-bus thread
  private val count = new java.util.concurrent.atomic.AtomicInteger(0)

  private def add(e: Entry): Unit = {
    entries.add(e)
    count.incrementAndGet()
    // bounded ring: evict oldest past capacity (races can momentarily
    // overshoot by a handful of entries; the bound re-establishes itself)
    while (count.get > capacity) {
      if (entries.poll() != null) count.decrementAndGet()
      else return // raced with another evictor draining the queue
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit =
    add(Entry(seq.getAndIncrement(), System.currentTimeMillis(), funcName,
      durationNs / 1000000L, "OK", "",
      graft.functions.ParametricAgg.peakAndReset()))

  override def onFailure(funcName: String, qe: QueryExecution,
                         error: Exception): Unit =
    add(Entry(seq.getAndIncrement(), System.currentTimeMillis(), funcName,
      -1L, "FAIL",
      Option(error.getMessage).getOrElse(error.getClass.getSimpleName)
        .linesIterator.take(1).mkString,
      graft.functions.ParametricAgg.peakAndReset()))

  /** Snapshot as a DataFrame (one row per completed action, insertion
    * order by `seq`) — `SELECT * FROM query_log ORDER BY seq DESC` style
    * ops queries run on it like on any table. */
  def toDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    entries.iterator().asScala.toSeq.toDF()
  }

  def size: Int = entries.size

  /** Drain and re-zero. The counter must follow the queue: clearing only
    * `entries` would leave `count` at capacity, making every later add
    * evict itself immediately (a permanently empty log). Drain via poll
    * so adds racing the clear stay consistent with the counter. */
  def clear(): Unit =
    while (entries.poll() != null) count.decrementAndGet()
}

object QueryLog {
  /** One completed action (top level so Spark can derive its Encoder).
    * `max_group_events` is the whale-headroom gauge: the peak buffered
    * events any parametric event aggregate (window_funnel /
    * sequence_count / sequence_match / sequence_next_node) held for ONE
    * group during the action, vs the per-group cap
    * (`ParametricAgg.maxEvents`, 1M) — 0 when no buffering aggregate ran. Read-and-reset per action;
    * under concurrent actions the figure attributes to whichever
    * completes first (one shared gauge, stated in ParametricAgg). */
  final case class Entry(seq: Long, event_ms: Long, func: String,
                         duration_ms: Long, status: String, error: String,
                         max_group_events: Long = 0L)

  /** Install a log on the session; returns it for [[QueryLog.toDF]] /
    * uninstall via `spark.listenerManager.unregister`. */
  def install(spark: SparkSession, capacity: Int = 10000): QueryLog = {
    val log = new QueryLog(capacity)
    spark.listenerManager.register(log)
    log
  }
}
