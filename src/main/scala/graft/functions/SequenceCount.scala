package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._

/** ClickHouse `sequenceCount` with pattern `'(?1).*(?2)'` / `'(?1)(?t<=w)(?2)'` as a
  * SQL aggregate (CH 22.3 parametric-aggregate family, next to
  * [[WindowFunnelAgg]]) — the engine's one implementation of the
  * greedy non-overlapping count, behind the o_a18* catalog keys. The
  * automaton collapses to "count events matching `second` whose
  * immediately preceding condition-matching event matches `first`"
  * (proof at the o_a18 oracle in [[graft.operators.EventAnalytics]]),
  * optionally gap-bounded.
  *
  * `sequence_count(window_us, ts, tie, first, second)` → BIGINT.
  * `window_us = 0` means UNBOUNDED (the `.*` pattern — no time
  * constraint); positive w is the `(?t<=w)` bound. `tie` is an explicit
  * BIGINT tie-break for equal timestamps: CH leaves tie order
  * engine-private, but this engine's determinism rules (and the DuckDB
  * differential) demand a total order, so the caller names it — the
  * catalog uses event_id.
  * An event matching BOTH conditions counts as `first` (arms, never
  * fires). Events matching neither carry no information and are not
  * buffered; state is O(matching events per group), capped by
  * [[ParametricAgg]].
  */
object SequenceCount {

  /** The lag-collapse pass over the (ts, tie) total order; mask bit 0
    * is `first` (an event matching both reads as `first`). */
  def count(s: EventBuffer, windowMicros: Long): Long = {
    if (s.n == 0) return 0L
    var fired = 0L
    var prevA = false
    var prevUs = 0L
    var i = 0
    while (i < s.n) {
      val isA = (s.mask(i) & 1) != 0
      if (!isA && prevA &&
          (windowMicros == 0 || s.us(i) - prevUs <= windowMicros))
        fired += 1
      prevA = isA; prevUs = s.us(i)
      i += 1
    }
    fired
  }
}

/** `sequence_count(window_us, ts, tie, first, second)` → BIGINT. */
case class SequenceCountAgg(
    windowMicros: Long,
    children: Seq[Expression],
    maxEvents: Int = ParametricAgg.maxEvents,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends BufferedEventAgg {

  def this(es: Seq[Expression]) =
    this(DDSketch.foldableDouble(es.head, "sequence_count window_us").toLong,
      es)

  require(windowMicros >= 0,
    s"sequence_count: window $windowMicros us must be >= 0 (0 = unbounded)")
  require(children.size == 5,
    "sequence_count(window_us, ts, tie, first, second) takes 5 arguments")

  override protected def tsExpr = children(1)
  override protected def tieExpr = children(2)
  private def firstExpr = children(3)
  private def secondExpr = children(4)
  override protected def maskConds = Seq(firstExpr, secondExpr)

  override def checkInputDataTypes(): TypeCheckResult = {
    val tsOk = tsExpr.dataType == TimestampType || tsExpr.dataType == LongType
    val ok = tsOk && tieExpr.dataType == LongType &&
      firstExpr.dataType == BooleanType && secondExpr.dataType == BooleanType
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (foldable window_us, TIMESTAMP|BIGINT ts, " +
        s"BIGINT tie, BOOLEAN first, BOOLEAN second), got " +
        children.map(_.dataType.sql).mkString(", "))
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "sequence_count"

  override protected def result(s: EventBuffer): Any =
    SequenceCount.count(s, windowMicros)

  override def withNewMutableAggBufferOffset(o: Int): SequenceCountAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SequenceCountAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SequenceCountAgg =
    copy(children = newChildren)
}
