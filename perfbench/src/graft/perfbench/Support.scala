package graft.perfbench

import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Duration

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One HTTP connection to the engine's SQL surface (closed-loop client). */
final class SqlClient(port: Int) {
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()
  private val base = s"http://127.0.0.1:$port/"

  /** (status, body, seconds from send to last body byte). */
  def select(sql: String): (Int, String, Double) = {
    val req = HttpRequest.newBuilder(URI.create(base + "?query=" + URLEncoder.encode(sql, UTF_8)))
      .timeout(Duration.ofSeconds(120)).GET().build()
    val t0 = System.nanoTime()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofByteArray())
    (resp.statusCode(), new String(resp.body(), UTF_8), (System.nanoTime() - t0) / 1e9)
  }

  /** `INSERT INTO <table> FORMAT Protobuf` with a framed binary body. */
  def insert(table: String, body: Array[Byte]): (Int, String, Double) = {
    val q = URLEncoder.encode(s"INSERT INTO $table FORMAT Protobuf", UTF_8)
    val req = HttpRequest.newBuilder(URI.create(base + "?query=" + q))
      .timeout(Duration.ofSeconds(120))
      .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build()
    val t0 = System.nanoTime()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofByteArray())
    (resp.statusCode(), new String(resp.body(), UTF_8), (System.nanoTime() - t0) / 1e9)
  }
}

object Stats {
  /** Linear-interpolated quantile of the samples (0 on no samples). */
  def q(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = (s.length - 1) * p
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = q(xs, 0.5)
}

/** JVM-level gauges: live heap after GC, GC and JIT time. */
object Jvm {
  private val mem = java.lang.management.ManagementFactory.getMemoryMXBean
  private var peakLiveMb = 0.0

  /** Collect, then record the heap still in use (MB). Called only at
    * phase boundaries outside timed windows. The second collection runs
    * after Spark's cleaner has released what the first one queued. */
  def sampleLiveHeap(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    val mb = mem.getHeapMemoryUsage.getUsed / 1048576.0
    peakLiveMb = math.max(peakLiveMb, mb)
    mb
  }
  def livePeakMb: Double = peakLiveMb

  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum
  def gcCount: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionCount).filter(_ >= 0).sum
  def jitMs: Long = java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime
}

/** Outcome bookkeeping shared by every workload: attempted and failed
  * operations, plus the reasons of the first few failures. */
final class Outcome {
  private val attemptedN = new java.util.concurrent.atomic.AtomicLong()
  private val failedN = new java.util.concurrent.atomic.AtomicLong()
  private val reasons = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def attempt(): Unit = attemptedN.incrementAndGet(): Unit
  def fail(reason: String): Unit = {
    failedN.incrementAndGet()
    if (reasons.size < 20) reasons.add(reason)
  }
  /** Record one checked operation. */
  def check(ok: Boolean, reason: => String): Unit = {
    attempt()
    if (!ok) fail(reason)
  }
  def attempted: Long = attemptedN.get
  def failed: Long = failedN.get
  def failures: Seq[String] = reasons.asScala.toSeq
}

/** Thread-safe sample lists keyed by name. */
final class Samples {
  private val m = new java.util.concurrent.ConcurrentHashMap[String, java.util.Vector[Double]]()
  def add(k: String, v: Double): Unit =
    m.computeIfAbsent(k, _ => new java.util.Vector[Double]()).add(v)
  def get(k: String): Seq[Double] = Option(m.get(k)).map(_.asScala.toSeq).getOrElse(Seq.empty)
}

/** The result line: metric name → (value, unit), printed as one JSON
  * object on the last line of stdout. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  def metricsJson: String = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
    metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
  }

  def json(correct: Boolean, attempted: Long, failed: Long): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $metricsJson}"""
}

object Files {
  def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(): Unit
  }
  /** Every regular file under `root` whose path has no `_`/`.` segment. */
  def dataFiles(root: java.io.File): Seq[java.io.File] =
    Option(root.listFiles()).toSeq.flatten
      .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
      .flatMap(f => if (f.isDirectory) dataFiles(f) else Seq(f))
  def bytes(root: java.io.File): Long = dataFiles(root).map(_.length).sum
}
