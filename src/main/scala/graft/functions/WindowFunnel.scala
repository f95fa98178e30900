package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._

/** ClickHouse `windowFunnel(window)(ts, cond1, …, condN)` as a SQL
  * aggregate (CH 22.3 parametric-aggregate signature; a reference user
  * writes this in SQL, not through a DataFrame API) — the engine's one
  * implementation of the funnel contract, behind the o_a15* catalog
  * keys. EXISTS-chain semantics, checked against the keys' DuckDB
  * oracles: level ≥ k iff a strictly-increasing-timestamp chain
  * e1 < … < ek exists with the k stage predicates and
  * ek.ts ≤ e1.ts + window. NOTE: this is CH's `strict_increase` mode
  * (ties never chain), chosen for determinism — CH's DEFAULT mode lets
  * equal-timestamp events chain in engine-private order, which no
  * differential oracle can pin.
  *
  * Evaluation is a max-chain-start dominance argument run as a sort +
  * single pass at eval time: if a chain with start t1 reaches an event,
  * any later valid start also does, so each level needs only its
  * MAXIMUM reachable chain start. Events are buffered per group in an
  * [[EventBuffer]] (CH's windowFunnel buffers identically), sorted by
  * timestamp, and equal-timestamp groups apply their updates
  * ATOMICALLY against the pre-group state — the strict `<` the chain
  * definition demands. State is O(condition-matching events per
  * group), capped by [[ParametricAgg]].
  *
  * `window_funnel(window_us, ts, c1, …, cN)` → INT: the maximum level
  * reached, 0 when the group has no stage-1 event. Rows where every
  * condition is false are skipped (CH ignores non-matching events);
  * NULL timestamps are skipped.
  */
object WindowFunnel {

  /** The dominance pass over ts-sorted events, equal-ts groups applied
    * atomically, best(k) = max chain start among level-k chains.
    * `windowMicros < 0` means UNBOUNDED (the `.*` pattern —
    * [[SequenceMatchAgg]]'s no-constraint mode; the admit check is a
    * subtraction so an unbounded sentinel can never overflow). */
  def level(s: EventBuffer, nStages: Int, windowMicros: Long): Int = {
    if (s.n == 0) return 0
    val MIN = Long.MinValue
    val best = Array.fill(nStages + 1)(MIN)
    val cand = Array.fill(nStages + 1)(MIN)
    var maxLevel = 0
    var i = 0
    while (i < s.n) {
      var j = i
      val t = s.us(i)
      java.util.Arrays.fill(cand, MIN)
      while (j < s.n && s.us(j) == t) {
        val m = s.mask(j)
        if ((m & 1) != 0 && t > cand(1)) cand(1) = t
        var k = 2
        while (k <= nStages) {
          if ((m & (1 << (k - 1))) != 0 && best(k - 1) != MIN &&
              (windowMicros < 0 || t - best(k - 1) <= windowMicros) &&
              best(k - 1) > cand(k))
            cand(k) = best(k - 1)
          k += 1
        }
        j += 1
      }
      var k = 1
      while (k <= nStages) {
        if (cand(k) > best(k)) best(k) = cand(k)
        if (best(k) != MIN && k > maxLevel) maxLevel = k
        k += 1
      }
      i = j
    }
    maxLevel
  }
}

/** `window_funnel(window_us, ts, cond1, …, condN)` → INT max level. */
case class WindowFunnelAgg(
    windowMicros: Long,
    children: Seq[Expression],
    maxEvents: Int = ParametricAgg.maxEvents,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends BufferedEventAgg {

  def this(es: Seq[Expression]) =
    this(DDSketch.foldableDouble(es.head, "window_funnel window_us").toLong,
      es)

  // strictly positive, not >= 0: CH's windowFunnel window is mandatory,
  // and 0 is DEGENERATE under strict-before ties (no chain can satisfy
  // t - start <= 0, so level caps at 1) while sibling sequence_count /
  // sequence_match treat 0 as unbounded — rejecting it kills the
  // inconsistent-convention footgun at analysis time
  require(windowMicros > 0,
    s"window_funnel: window $windowMicros us must be > 0 (0 would be " +
      "degenerate: strict-before ties mean no chain ever fits; CH's " +
      "windowFunnel window is mandatory)")
  require(children.size >= 3,
    "window_funnel(window_us, ts, cond1, ...) needs at least one condition")
  require(children.size <= 2 + 30,
    "window_funnel supports at most 30 stages (bitmask bound)")

  override protected def tsExpr = children(1)
  override protected def maskConds = children.drop(2)

  override def checkInputDataTypes(): TypeCheckResult = {
    val tsOk = tsExpr.dataType == TimestampType || tsExpr.dataType == LongType
    val condsOk = maskConds.forall(_.dataType == BooleanType)
    if (tsOk && condsOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (foldable window_us, TIMESTAMP|BIGINT ts, " +
        s"BOOLEAN conds...), got ${children.map(_.dataType.sql).mkString(", ")}")
  }

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def prettyName: String = "window_funnel"

  override protected def result(s: EventBuffer): Any =
    WindowFunnel.level(s, maskConds.size, windowMicros)

  override def withNewMutableAggBufferOffset(o: Int): WindowFunnelAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): WindowFunnelAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): WindowFunnelAgg =
    copy(children = newChildren)
}

/** ClickHouse `windowFunnel(window, 'mode')(ts, cond1, …, condN)` —
  * the MODE surface as a SQL aggregate:
  * `window_funnel(window_us, 'mode', ts, tie, cond1, …)` with mode ∈
  * {`strict_order`, `strict_dedup`, `strict_order,strict_dedup`} (CH
  * accepts comma-joined modes; order-insensitive here). All modes are
  * ROW-ORDER semantics (which event is "next"/"last" matters), so
  * unlike the default strict-increase form they take an explicit
  * BIGINT tie column — CH leaves tie order engine-private; this
  * engine's oracles demand the (ts, tie) total order.
  *
  *  - `strict_order` (CH: no interventions): the chain must be
  *    CONSECUTIVE in the per-user event stream — ANY other event
  *    between two steps breaks it, including events matching no
  *    condition, so this mode buffers EVERY row of the group (mask 0
  *    rows are the breakers). Eval: prefix-match at each stage-1
  *    position, window measured from the chain start; the o_a15d
  *    oracle is its lead() formulation.
  *  - `strict_dedup` standalone: THIS ENGINE'S OWN "last-of-type"
  *    dedup reading, stated as such — each step's event must be the
  *    LAST of its type before the next step's event; a repeat of
  *    stage k's type between steps k and k+1 re-anchors (and possibly
  *    invalidates) the chain rather than CH's "repeating event
  *    interrupts further processing". The two readings coincide on
  *    single-occurrence streams but differ on repeats (signup, click,
  *    click, purchase: last-of-type re-anchors on the second click
  *    and reaches level 3; CH's interrupt rule would stop at 2). The
  *    reading is pinned by the o_a15b oracle it shares and cannot be
  *    differentially verified against a live CH here — callers
  *    wanting CH's interrupt behavior compose it below. Eval: one
  *    sequential pass carrying, per stage, the chain start the LAST
  *    stage-k event offers (possibly invalid — a later repeat
  *    overwrites); updates read pre-event state (strictly-before).
  *    The o_a15b oracle is its running-window formulation.
  *  - `strict_order,strict_dedup` combined: the consecutive-chain
  *    scan with CH's documented deduplication INTERRUPT rule — a step
  *    candidate that ALSO satisfies a condition already matched by an
  *    earlier step of the in-flight chain interrupts it (meaningful
  *    only with overlapping conditions; under adjacency the
  *    standalone last-of-type reading is vacuous, since nothing can
  *    sit between adjacent events, so the interrupt rule is the only
  *    meaningful dedup composition). Oracle: o_a15i's lead() plan
  *    with the repeat-exclusion predicates.
  *
  * The [[EventBuffer]] holds (us, tie, mask) under the [[ParametricAgg]]
  * cap.
  */
case class WindowFunnelModeAgg(
    windowMicros: Long,
    mode: String,
    children: Seq[Expression],
    maxEvents: Int = ParametricAgg.maxEvents,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends BufferedEventAgg {

  def this(es: Seq[Expression]) =
    this(DDSketch.foldableDouble(es.head, "window_funnel window_us").toLong,
      SequenceMatchPattern.foldableString(es(1), "window_funnel mode"), es)

  require(windowMicros > 0,
    s"window_funnel: window $windowMicros us must be > 0")
  /** Comma-joined mode set (CH convention), order-insensitive. */
  private val modes: Set[String] = mode.split(',').map(_.trim).toSet
  require(modes.nonEmpty && modes.subsetOf(Set("strict_order", "strict_dedup")),
    s"window_funnel mode '$mode' not supported: 'strict_order' | " +
      "'strict_dedup' | 'strict_order,strict_dedup' (the default " +
      "strict-increase form is window_funnel(window_us, ts, cond...) " +
      "without a mode)")
  // standalone strict_dedup keeps this engine's documented last-of-type
  // reading, which DIVERGES from CH's repeat-interrupt rule on repeated
  // stage types (class doc above) — silent at call time until r17
  // ADVICE: warn ONCE per JVM so a migrating CH analyst learns the
  // delta without every query paying a log line
  if (modes == Set("strict_dedup")) WindowFunnelModeAgg.warnStandaloneDedup()
  require(children.size >= 5,
    "window_funnel(window_us, mode, ts, tie, cond1, ...) needs at least " +
      "one condition")
  require(children.size <= 4 + 30,
    "window_funnel supports at most 30 stages (bitmask bound)")

  override protected def tsExpr = children(2)
  override protected def tieExpr = children(3)
  override protected def maskConds = children.drop(4)
  // strict_order buffers breakers (mask 0) — interventions matter
  override protected def keepUnmatched = modes("strict_order")
  override protected def capName = s"$prettyName('$mode')"

  override def checkInputDataTypes(): TypeCheckResult = {
    val tsOk = tsExpr.dataType == TimestampType || tsExpr.dataType == LongType
    val ok = tsOk && tieExpr.dataType == LongType &&
      maskConds.forall(_.dataType == BooleanType)
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (foldable window_us, foldable mode, " +
        s"TIMESTAMP|BIGINT ts, BIGINT tie, BOOLEAN conds...), got " +
        children.map(_.dataType.sql).mkString(", "))
  }

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def prettyName: String = "window_funnel"

  override protected def result(s: EventBuffer): Any = {
    val n = s.n
    if (n == 0) return 0
    val nStages = maskConds.size
    val us = s.us
    val mk = s.mask
    val MIN = Long.MinValue
    if (modes("strict_order")) {
      // prefix match at each stage-1 position; window from chain start.
      // With strict_dedup composed: a step candidate ALSO matching a
      // condition already matched by an earlier step interrupts the
      // chain (CH's documented interrupt rule — the composition's only
      // meaningful dedup effect, since adjacency leaves no room between
      // steps for the standalone last-of-type reading to act on)
      val dedup = modes("strict_dedup")
      var best = 0
      var i = 0
      while (i < n) {
        if ((mk(i) & 1) != 0) {
          var lvl = 1
          var k = 2
          var ok = true
          while (ok && k <= nStages && i + k - 1 < n) {
            val p = i + k - 1
            if ((mk(p) & (1 << (k - 1))) != 0 &&
                us(p) - us(i) <= windowMicros &&
                (!dedup || (mk(p) & ((1 << (k - 1)) - 1)) == 0)) {
              lvl = k; k += 1
            }
            else ok = false
          }
          if (lvl > best) best = lvl
        }
        i += 1
      }
      best
    } else {
      // strict_dedup: last(k) = the chain start carried by the LAST
      // stage-k event (possibly invalid); updates read pre-event state
      val last = Array.fill(nStages)(MIN)
      val has = Array.fill(nStages)(false)
      val upd = new Array[Long](nStages)
      var i = 0
      while (i < n) {
        val m = mk(i)
        var k = 0
        while (k < nStages) {
          if ((m & (1 << k)) != 0)
            upd(k) =
              if (k == 0) us(i)
              else if (last(k - 1) != MIN && us(i) - last(k - 1) <= windowMicros)
                last(k - 1)
              else MIN
          else upd(k) = Long.MaxValue // sentinel: no update
          k += 1
        }
        k = 0
        while (k < nStages) {
          if (upd(k) != Long.MaxValue) {
            last(k) = upd(k)
            if (upd(k) != MIN) has(k) = true
          }
          k += 1
        }
        i += 1
      }
      if (!has(0)) 0 else has.takeWhile(identity).length
    }
  }

  override def withNewMutableAggBufferOffset(o: Int): WindowFunnelModeAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): WindowFunnelModeAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): WindowFunnelModeAgg =
    copy(children = newChildren)
}

object WindowFunnelModeAgg {
  @volatile private var warned = false
  /** One-time (per JVM) divergence notice for standalone
    * `strict_dedup` (r17 ADVICE: the delta vs CH was documented but
    * silent at call time). */
  private[functions] def warnStandaloneDedup(): Unit =
    if (!warned) synchronized {
      if (!warned) {
        warned = true
        org.slf4j.LoggerFactory.getLogger(classOf[WindowFunnelModeAgg])
          .warn("window_funnel('strict_dedup') standalone uses this " +
            "engine's last-of-type reading, which differs from " +
            "ClickHouse's repeat-interrupt rule on repeated stage types " +
            "(signup,click,click,purchase reads level 3 here, 2 in CH); " +
            "use 'strict_order,strict_dedup' for CH's documented " +
            "interrupt behavior")
      }
    }
}

/** ClickHouse `sequenceMatch` with pattern `'(?1).*(?2)…'` (optionally with a
  * chain-start time bound) as a SQL aggregate —
  * `sequence_match(window_us, ts, cond1, …, condN)` → BOOLEAN: true iff
  * a strictly-increasing-timestamp chain hits every stage, i.e.
  * [[WindowFunnelAgg]]'s level == N. `window_us = 0` means UNBOUNDED —
  * CH's sequenceMatch has no time constraint, and 0-as-unbounded
  * matches [[SequenceCountAgg]]'s convention (contrast `window_funnel`,
  * where the window is mandatory per CH's own signature). "No stage-1
  * event" and "chain incomplete" both read false —
  * restrict to stage-1 users where the CH result universe matters (the
  * catalog key does). */
case class SequenceMatchAgg(
    windowMicros: Long,
    children: Seq[Expression],
    maxEvents: Int = ParametricAgg.maxEvents,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends BufferedEventAgg {

  def this(es: Seq[Expression]) =
    this(DDSketch.foldableDouble(es.head, "sequence_match window_us").toLong,
      es)

  require(windowMicros >= 0,
    s"sequence_match: window $windowMicros us must be >= 0 (0 = unbounded)")
  require(children.size >= 3,
    "sequence_match(window_us, ts, cond1, ...) needs at least one condition")
  require(children.size <= 2 + 30,
    "sequence_match supports at most 30 stages (bitmask bound)")

  // the level() sentinel: negative = no time constraint
  private def effWindow: Long = if (windowMicros == 0) -1L else windowMicros
  override protected def tsExpr = children(1)
  override protected def maskConds = children.drop(2)

  override def checkInputDataTypes(): TypeCheckResult = {
    val tsOk = tsExpr.dataType == TimestampType || tsExpr.dataType == LongType
    val condsOk = maskConds.forall(_.dataType == BooleanType)
    if (tsOk && condsOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (foldable window_us, TIMESTAMP|BIGINT ts, " +
        s"BOOLEAN conds...), got ${children.map(_.dataType.sql).mkString(", ")}")
  }

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "sequence_match"

  override protected def result(s: EventBuffer): Any = {
    val nStages = maskConds.size
    WindowFunnel.level(s, nStages, effWindow) == nStages
  }

  override def withNewMutableAggBufferOffset(o: Int): SequenceMatchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SequenceMatchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SequenceMatchAgg =
    copy(children = newChildren)
}
