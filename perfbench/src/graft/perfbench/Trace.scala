package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory spans around the benchmark's calls into each layer. A span
  * has a name, start, end, parent and trace id; spans nest per thread.
  * Disabled (the untraced run) a span is just its body. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Long, name: String, trace: String, parent: Long,
                        startNs: Long, var endNs: Long = -1L)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong()
  private val stack = ThreadLocal.withInitial[List[Span]](() => Nil)

  def span[T](name: String, trace: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.get.headOption
      val s = Span(ids.incrementAndGet(), name,
        if (trace.nonEmpty) trace else parent.map(_.trace).getOrElse(name),
        parent.map(_.id).getOrElse(0L), System.nanoTime())
      stack.set(s :: stack.get)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack.set(stack.get.tail)
        spans.add(s)
      }
    }

  def all: Seq[Span] = { import scala.jdk.CollectionConverters._; spans.asScala.toSeq }

  /** Self time per span name (ms): span time minus the time its direct
    * children cover (children of one span are serial per thread). */
  def selfMs: Map[String, Double] = {
    val xs = all
    val childNs = xs.groupBy(_.parent).view.mapValues(_.map(c => c.endNs - c.startNs).sum).toMap
    xs.groupBy(_.name).view.mapValues(ss =>
      ss.map(s => (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)).max(0L)).sum / 1e6).toMap
  }

  /** Write the spans as JSON lines, then one self-time line per span name. */
  def write(path: java.io.File): Unit = if (enabled) {
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      all.sortBy(_.startNs).foreach { s =>
        w.println(s"""{"id":${s.id},"name":"${s.name}","trace":"${s.trace}",""" +
          s""""parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      }
      selfMs.toSeq.sortBy(_._1).foreach { case (n, ms) =>
        w.println(s"""{"self_ms":{"name":"$n","ms":$ms}}""")
      }
    } finally w.close()
  }
}

/** Spark listener counts, attributed to the job group that submitted
  * them (the benchmark tags each traced call with its own group). */
final class Counts {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  var inputBytes = 0L; var runMs = 0L; var cpuNs = 0L
  /** Per-stage (max task ms / median task ms), for stages with ≥ 2 tasks. */
  val skews = mutable.ArrayBuffer.empty[Double]
}

final class SparkCounts extends SparkListener {
  private val byGroup = mutable.Map.empty[String, Counts]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  private def counts(g: String): Counts = byGroup.getOrElseUpdate(g, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    counts(g).jobs += 1
    e.stageIds.foreach(id => stageGroup(id) = g)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    val c = counts(stageGroup.getOrElse(id, ""))
    c.stages += 1
    taskMs.remove(id).filter(_.size >= 2).foreach { ts =>
      val s = ts.sorted
      val med = s(s.size / 2).max(1L)
      c.skews += s.last.toDouble / med
    }
  }

  /** Counts of every group whose name starts with `prefix`, summed. */
  def sum(prefix: String): Counts = synchronized {
    val out = new Counts
    byGroup.filter(_._1.startsWith(prefix)).values.foreach { c =>
      out.jobs += c.jobs; out.stages += c.stages; out.tasks += c.tasks
      out.shuffleRead += c.shuffleRead; out.shuffleWrite += c.shuffleWrite
      out.spill += c.spill; out.inputBytes += c.inputBytes
      out.runMs += c.runMs; out.cpuNs += c.cpuNs; out.skews ++= c.skews
    }
    out
  }
}

/** Streaming progress as reported by `StreamingQueryListener`. */
final case class Progress(query: String, batchId: Long, rows: Long,
                          durations: Map[String, Long], endOffset: String,
                          atMs: Long)

final class StreamCounts extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    import scala.jdk.CollectionConverters._
    val p = e.progress
    progress.add(Progress(p.name, p.batchId, p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.sources.headOption.map(_.endOffset).getOrElse(""), System.currentTimeMillis()))
  }
  def all: Seq[Progress] = { import scala.jdk.CollectionConverters._; progress.asScala.toSeq }
}

object Listeners {
  /** Block until the listener bus has delivered every posted event. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.graftbench.BusAccess.waitUntilEmpty(spark.sparkContext)
}
