package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** ClickHouse `sequenceNextNode(direction, base)(ts, value, cond1, …,
  * condN)` as a SQL aggregate — the exploratory sibling of sequenceMatch
  * ("what happens NEXT/BEFORE the pattern"), now at CH 22.3's full
  * operating surface: direction ∈ {forward, backward} × base ∈ {head,
  * tail, first_match, last_match} with N chain conditions.
  *
  * `sequence_next_node('direction', 'base', ts, tie, value, cond1, …,
  * condN)` → STRING; the historical 5-argument form
  * `sequence_next_node(ts, tie, value, cond1, cond2)` is
  * ('forward', 'first_match') with two conditions (the o_a21 contract,
  * unchanged).
  *
  * Contract (the engine's deterministic reading of CH's surface — CH
  * leaves same-second order engine-private; the explicit BIGINT tie
  * pins the total order):
  *
  *  - TRAVERSAL order u = the buffered rows sorted by (ts, tie),
  *    ascending for `forward`, descending for `backward`. ALL rows are
  *    buffered (adjacency is in the full stream — interventions of any
  *    kind break a chain, like `window_funnel('strict_order')`).
  *  - The CHAIN is N consecutive traversal positions p..p+N-1 matching
  *    cond1..condN in order.
  *  - BASE fixes the anchor p: `head` = the TIME-first event's
  *    traversal position, `tail` = the time-last's (so backward+tail
  *    walks the chain back from the end of the stream — CH's canonical
  *    backward pairing); `first_match` / `last_match` = the first/last
  *    traversal position where the whole chain matches. head/tail
  *    chains that don't match at their fixed anchor yield NULL.
  *  - RESULT: the `value` of traversal position p+N — the event just
  *    after the chain in traversal order (= just before it in time for
  *    `backward`). 'NONE' is reserved for p+N past the stream end; a
  *    present event whose value column is NULL returns NULL-the-value
  *    (r16 ADVICE: conflating it with 'NONE' misread "null value" as
  *    "stream end"). NULL with no marker = no chain matched.
  *
  * The [[EventBuffer]] holds (us, tie, cond-mask, value) for every row
  * under the [[ParametricAgg]] cap; the o_a21* catalog keys' DuckDB
  * oracles re-derive the answer with lead()/lag() windows.
  */
object SequenceNextNode {

  val directions = Set("forward", "backward")
  val bases = Set("head", "tail", "first_match", "last_match")
}

/** `sequence_next_node('dir', 'base', ts, tie, value, cond1, …)` → STRING,
  * and (hasBaseCond) `sequence_next_node_base('dir', 'base', ts, tie,
  * value, base_cond, cond1, …)` — CH's FULL signature, whose
  * `base_condition` positional argument gates the ANCHOR: head/tail
  * require the fixed anchor event to satisfy it (else NULL, never a
  * different anchor), and first_match/last_match scan for the
  * first/last traversal position where the whole chain matches AND the
  * anchor event satisfies it (this engine's whole-chain reading of
  * *_match, stated in the object doc; CH anchors on the first event1
  * match and the two readings differ only when an event1+base match
  * fails to continue the chain). A separate registered name because the
  * with/without-base arities overlap (both are ts/tie/value + booleans).
  * Children carry the two literals so one layout serves the historical
  * 5-arg form (builder prepends 'forward','first_match'), the full
  * surface, and the base_condition surface. */
case class SequenceNextNodeAgg(
    direction: String,
    base: String,
    hasBaseCond: Boolean,
    children: Seq[Expression],
    maxEvents: Int = ParametricAgg.maxEvents,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends BufferedEventAgg {

  // extract the literals ONCE at build time: the planner later rewrites
  // children to agg-buffer attributes (merge phase), so re-parsing them
  // from children on copy() would see attributes, not literals
  def this(es: Seq[Expression], withBase: Boolean) =
    this(SequenceMatchPattern.foldableString(es(0),
        "sequence_next_node direction"),
      SequenceMatchPattern.foldableString(es(1), "sequence_next_node base"),
      withBase,
      es)
  def this(es: Seq[Expression]) = this(es, false)

  private def fnName =
    if (hasBaseCond) "sequence_next_node_base" else "sequence_next_node"

  require(children.size >= (if (hasBaseCond) 7 else 6),
    s"$fnName('direction', 'base', ts, tie, value, " +
      (if (hasBaseCond) "base_cond, " else "") +
      "cond1, ...) needs a direction, a base" +
      (if (hasBaseCond) ", a base condition" else "") +
      ", and at least one condition")
  require(children.size <= (if (hasBaseCond) 6 else 5) + 30,
    s"$fnName supports at most 30 conditions (bitmask bound)")

  require(SequenceNextNode.directions(direction),
    s"$fnName direction '$direction' must be 'forward' | 'backward'")
  require(SequenceNextNode.bases(base),
    s"$fnName base '$base' must be 'head' | 'tail' | " +
      "'first_match' | 'last_match'")
  // forward+tail / backward+head anchor at the traversal END: a chain of
  // N>=2 can never fit there and N=1 can only ever read past the stream
  // ('NONE') — structurally degenerate, so reject loudly like CH rather
  // than silently returning NULL forever (r17 ADVICE)
  require(!(direction == "forward" && base == "tail") &&
    !(direction == "backward" && base == "head"),
    s"$fnName('$direction', '$base'): the anchor sits at the END of the " +
      "traversal, so no chain can ever be followed — use forward+head, " +
      "backward+tail, or a *_match base")

  override protected def tsExpr = children(2)
  override protected def tieExpr = children(3)
  override protected def valueExpr = children(4)
  private def baseCondExpr: Option[Expression] =
    if (hasBaseCond) Some(children(5)) else None
  private def conds = children.drop(if (hasBaseCond) 6 else 5)
  private def nConds = conds.size
  // the base-condition flag rides the bit after the chain conditions
  // (conds capped at 30, so bit 30 at most); NULL reads false
  override protected def maskConds = conds ++ baseCondExpr
  // mask-0 rows ARE buffered: adjacency is in the full stream, so
  // non-matching events are the interventions that break chains
  override protected def keepUnmatched = true

  override def checkInputDataTypes(): TypeCheckResult = {
    val tsOk = tsExpr.dataType == TimestampType || tsExpr.dataType == LongType
    val ok = tsOk && tieExpr.dataType == LongType &&
      valueExpr.dataType == StringType &&
      baseCondExpr.forall(_.dataType == BooleanType) &&
      conds.forall(_.dataType == BooleanType)
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (literal direction, literal base, " +
        s"TIMESTAMP|BIGINT ts, BIGINT tie, STRING value, " +
        (if (hasBaseCond) "BOOLEAN base_cond, " else "") +
        s"BOOLEAN conds...), " +
        s"got ${children.map(_.dataType.sql).mkString(", ")}")
  }

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = fnName

  override protected def result(b: EventBuffer): Any = {
    val n = b.n
    if (n == 0) return null
    val fwd = direction == "forward"
    val N = nConds
    val baseBit = 1 << N
    // traversal position p -> buffered row (ascending time for forward,
    // descending for backward)
    @inline def at(p: Int): Int = if (fwd) p else n - 1 - p
    // the full chain matches at traversal anchor p, whose event also
    // satisfies the base condition when one was given (the anchor gate)
    def chainAt(p: Int): Boolean = {
      if (p < 0 || p + N > n) return false
      if (hasBaseCond &&
          (b.mask(at(p)) & baseBit) == 0) return false
      var i = 0
      while (i < N) {
        if ((b.mask(at(p + i)) & (1 << i)) == 0) return false
        i += 1
      }
      true
    }
    val anchor: Int = base match {
      case "head" => if (fwd) 0 else n - 1 // time-first event
      case "tail" => if (fwd) n - 1 else 0 // time-last event
      case "first_match" =>
        var p = 0
        while (p + N <= n && !chainAt(p)) p += 1
        if (p + N <= n) p else -1
      case "last_match" =>
        var p = n - N
        while (p >= 0 && !chainAt(p)) p -= 1
        p
    }
    if (!chainAt(anchor)) return null
    val q = anchor + N
    if (q >= n) return UTF8String.fromString("NONE") // traversal end
    val v = b.value(at(q))
    // a PRESENT next event with a NULL value is the value null, not
    // 'NONE' — 'NONE' is reserved for the stream end (r16 ADVICE)
    if (v == null) null else UTF8String.fromString(v)
  }

  override def withNewMutableAggBufferOffset(o: Int): SequenceNextNodeAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SequenceNextNodeAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SequenceNextNodeAgg =
    copy(children = newChildren)
}
