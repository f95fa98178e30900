package graft.perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One answered analyst query. */
final case class Answer(q: Query, status: Int, body: String, sec: Double,
                        traced: Boolean, phase: String, doneNs: Long)

/** Re-runs a statement in-process, phase by phase, inside spans: the
  * server's per-statement table re-listing, parse, analyze, optimize,
  * then execution, tagged with its own Spark job group so listener
  * counts attribute to it. Used by traced runs only. */
final class LayerProbe(spark: SparkSession, dataDir: String, tracer: Tracer,
                       samples: Samples) {
  private val n = new java.util.concurrent.atomic.AtomicLong()

  def probe(q: Query, httpSec: Double, bytes: Int): Unit = {
    val id = s"bq-${q.template}-${n.incrementAndGet()}"
    tracer.span("server.refresh", id) {
      Templates.tables(q.template).foreach { t =>
        val t0 = System.nanoTime()
        spark.read.parquet(s"$dataDir/$t")
        samples.add("server.refresh_ms", (System.nanoTime() - t0) / 1e6)
      }
    }
    def timed[T](name: String)(f: => T): (T, Double) = tracer.span(name, id) {
      val t0 = System.nanoTime(); val v = f; (v, (System.nanoTime() - t0) / 1e6)
    }
    val (plan, parseMs) = timed("plans.parse")(spark.sessionState.sqlParser.parsePlan(q.sql))
    val (qe, analyzeMs) = timed("plans.analyze") {
      val qe = spark.sessionState.executePlan(plan); qe.assertAnalyzed(); qe
    }
    val (_, optimizeMs) = timed("plans.optimize")(qe.optimizedPlan)
    spark.sparkContext.setJobGroup(id, "benchmark layer probe")
    val (df, totalMs) = try timed("operators.exec") {
      val df = spark.sql(q.sql); df.collect(); df
    } finally spark.sparkContext.clearJobGroup()
    val planMs = parseMs + analyzeMs + optimizeMs
    samples.add("plans.parse_ms", parseMs)
    samples.add("plans.analyze_ms", analyzeMs)
    samples.add("plans.optimize_ms", optimizeMs)
    samples.add("plans.share_of_query", planMs / math.max(totalMs, 1e-3))
    samples.add(s"operators.exec_ms.${q.template}", math.max(0.0, totalMs - planMs))
    samples.add("server.overhead_ms", httpSec * 1000 - totalMs)
    samples.add("server.response_bytes", bytes.toDouble)
    val scan = PlanStats.scan(df.queryExecution.executedPlan)
    samples.add("operators.files_read", scan.files.toDouble)
    samples.add("operators.rows_scanned", scan.rowsScanned.toDouble)
    samples.add("operators.rows_matched", scan.rowsMatched.toDouble)
  }
}

/** A closed-loop analyst: sends the weighted template mix (a fixed cycle
  * entered at `offset`, with seeded parameters) over one HTTP connection,
  * the next query only after the previous answer. */
final class Analyst(port: Int, seed: Long, offset: Int, probe: Option[LayerProbe], tracer: Tracer) {
  private val client = new SqlClient(port)
  private val rng = new SplittableRandom(seed)
  private var slot = offset
  val answers = mutable.ArrayBuffer.empty[Answer]

  def ask(q: Query, traced: Boolean, phase: String): Answer = {
    val (status, body, sec) = tracer.span("server.http", s"q-${q.template}") {
      try client.select(q.sql)
      catch { case e: Exception => (-1, e.toString, 0.0) }
    }
    if (traced && status == 200) probe.foreach(_.probe(q, sec, body.length))
    val a = Answer(q, status, body, sec, traced, phase, System.nanoTime())
    answers += a
    a
  }

  def next(): Query = {
    val t = Templates.cycle(slot % Templates.cycle.size)
    slot += 1
    Templates.instantiate(t, rng)
  }

  /** Closed loop until `deadlineNs`, answers tagged with `phase`. */
  def loop(deadlineNs: Long, traced: Boolean, phase: String): Unit =
    while (System.nanoTime() < deadlineNs) ask(next(), traced, phase)
}

object Analyst {
  /** `n` analysts entering the template cycle at evenly spread offsets. */
  def clients(n: Int, port: Int, seed: Long, probe: Option[LayerProbe], tracer: Tracer): Seq[Analyst] =
    (0 until n).map(c => new Analyst(port, seed * 1000 + c, c * Templates.cycle.size / n, probe, tracer))

  /** `cycles` passes of the template cycle split across the analysts, in
    * parallel: a fixed amount of work, whatever the engine's speed. The
    * analysts enter the cycle at evenly spread offsets, so one pass runs
    * every slot of the cycle once. */
  def runCycles(analysts: Seq[Analyst], cycles: Int, phase: String,
                traced: Boolean = false): Unit = {
    val each = cycles * Templates.cycle.size / analysts.size
    val ts = analysts.map(a => new Thread(() =>
      (1 to each).foreach(_ => a.ask(a.next(), traced, phase)), "bench-cycles"))
    ts.foreach(_.start())
    ts.foreach(_.join())
  }

  /** Run `clients` closed-loop analysts in parallel until the deadline. */
  def runAll(analysts: Seq[Analyst], deadlineNs: Long, traced: Boolean, phase: String): Unit = {
    val ts = analysts.map(a => new Thread(() => a.loop(deadlineNs, traced, phase), "bench-analyst"))
    ts.foreach(_.start())
    ts.foreach(_.join())
  }
}
