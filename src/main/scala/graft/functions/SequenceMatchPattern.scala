package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.types._

/** ClickHouse `sequenceMatch` — `('pattern')(ts, cond1, …, condN)` — with the
  * REAL pattern grammar (CH 22.3) — the general form behind the
  * funnel-completion subset [[SequenceMatchAgg]] covers:
  *
  *  - `(?N)`      — an event satisfying condition N (1-based);
  *  - *nothing*   — two adjacent `(?N)(?M)` atoms must match ADJACENT
  *                  events of the buffered stream (CH's documented
  *                  behavior: an intervening event matching ANY listed
  *                  condition breaks the chain; events matching no
  *                  condition are invisible);
  *  - `.`         — exactly one buffered event between (repeatable:
  *                  `..` = exactly two);
  *  - `.*`        — any number of buffered events between;
  *  - `(?t OP n)` — time constraint between the two neighboring matched
  *                  events, OP ∈ {<, <=, >, >=, ==}; `n` is in SECONDS
  *                  when ts is TIMESTAMP (the CH reading) and in raw
  *                  units when ts is BIGINT. Composes with any
  *                  separator: `(?1)(?t<=3600).*(?2)` bounds the gap
  *                  between the matched pair regardless of events
  *                  between.
  *  - `(?!N)`     — negation: NO event satisfying condition N may occur
  *                  STRICTLY BETWEEN the two neighboring matched events
  *                  (the matched step events themselves are exempt even
  *                  if they also satisfy condition N). Composes with any
  *                  separator and time constraint in the same gap:
  *                  `(?1)(?!2).*(?3)` is "a 1 eventually followed by a 3
  *                  with no 2 in between" — the churn-style query the
  *                  funnel subset cannot express. At most one negation
  *                  per gap. Note events matching NO listed condition
  *                  are never buffered, so only condition-visible events
  *                  can violate a negation (consistent with the CH
  *                  ignore rule — and (?!N) names a listed condition, so
  *                  its events are always visible).
  *
  * NOT supported (stated per the function-doc contract): lookahead —
  * the parser rejects it loudly rather than mis-matching.
  *
  * Determinism: CH leaves same-second event order engine-private; this
  * engine's differential oracles demand a total order, so the caller
  * names an explicit BIGINT tie column — the chain advances STRICTLY in
  * the (ts, tie) total order and ties may chain with gap 0 (the
  * [[SequenceCountAgg]] convention; contrast the windowed
  * funnel-completion form, which inherits window_funnel's
  * strict-increase ts semantics).
  *
  * `sequence_match('pattern', ts, tie, cond1, …, condN)` → BOOLEAN.
  * An [[EventBuffer]] holds the condition-matching events per group
  * ([[ParametricAgg]]-capped); evaluation sorts once and runs a
  * feasible-set DP over the pattern steps — O(events × steps) per
  * group (the `==` gap keeps a hash of seen chain times; every other
  * op is a running min/max), so a whale group inside the cap costs the
  * sort, not a quadratic pass.
  */
object SequenceMatchPattern {

  sealed trait Skip
  case object Adjacent extends Skip
  final case class Exactly(k: Int) extends Skip
  case object AnyRun extends Skip

  /** ts(step k) − ts(step k−1) must satisfy `op value` (value in ts
    * units after construction-time scaling). */
  final case class Gap(op: String, value: Long)

  /** One pattern step: its condition (0-based) plus the separator, time
    * constraint and negated condition (0-based) RELATIVE TO THE PREVIOUS
    * step (all ignored on the first step). */
  final case class Step(cond: Int, gap: Option[Gap], skip: Skip,
                        neg: Option[Int] = None)

  private val supported =
    "supported: (?N), ., .*, (?t<=n) / (?t<n) / (?t>=n) / (?t>n) / " +
      "(?t==n), (?!N)"

  /** Parse or die loudly. The pattern must start and end with a
    * condition atom; between atoms at most one separator run and at
    * most one time constraint. */
  def parse(pattern: String, nConds: Int): Vector[Step] = {
    def fail(why: String): Nothing = throw new IllegalArgumentException(
      s"sequence_match pattern '$pattern': $why ($supported)")
    if (pattern.isEmpty) fail("empty pattern")
    val steps = Vector.newBuilder[Step]
    var i = 0
    var first = true
    var pendingSkip: Option[Skip] = None
    var pendingGap: Option[Gap] = None
    var pendingNeg: Option[Int] = None
    while (i < pattern.length) {
      pattern.charAt(i) match {
        case '(' =>
          if (i + 1 >= pattern.length || pattern.charAt(i + 1) != '?')
            fail(s"expected '(?' at position $i")
          if (i + 2 < pattern.length && pattern.charAt(i + 2) == 't') {
            // (?t OP n)
            var j = i + 3
            val opStart = j
            while (j < pattern.length && "<>=!".contains(pattern.charAt(j))) j += 1
            val op = pattern.substring(opStart, j) match {
              case "<" => "<"
              case "<=" => "<="
              case ">" => ">"
              case ">=" => ">="
              case "==" | "=" => "=="
              case other => fail(s"unsupported time operator '$other'")
            }
            val numStart = j
            while (j < pattern.length && pattern.charAt(j).isDigit) j += 1
            if (j == numStart) fail(s"time constraint needs a number at position $numStart")
            if (j >= pattern.length || pattern.charAt(j) != ')')
              fail(s"unterminated time constraint at position $i")
            val v = pattern.substring(numStart, j).toLong
            if (first) fail("a time constraint cannot precede the first condition")
            if (pendingGap.isDefined) fail("two time constraints between one pair of conditions")
            pendingGap = Some(Gap(op, v))
            i = j + 1
          } else if (i + 2 < pattern.length && pattern.charAt(i + 2) == '!') {
            // (?!N) — negated condition constraining the CURRENT gap
            var j = i + 3
            val numStart = j
            while (j < pattern.length && pattern.charAt(j).isDigit) j += 1
            if (j == numStart)
              fail(s"expected a condition number at position ${i + 3}")
            if (j >= pattern.length || pattern.charAt(j) != ')')
              fail(s"unterminated negation atom at position $i")
            val n = pattern.substring(numStart, j).toInt
            if (n < 1 || n > nConds)
              fail(s"condition (?!$n) out of range 1..$nConds")
            if (first) fail("a negation cannot precede the first condition")
            if (pendingNeg.isDefined)
              fail("two negations between one pair of conditions")
            pendingNeg = Some(n - 1)
            i = j + 1
          } else {
            // (?N)
            var j = i + 2
            val numStart = j
            while (j < pattern.length && pattern.charAt(j).isDigit) j += 1
            if (j == numStart) fail(s"expected a condition number at position ${i + 2}")
            if (j >= pattern.length || pattern.charAt(j) != ')')
              fail(s"unterminated condition atom at position $i")
            val n = pattern.substring(numStart, j).toInt
            if (n < 1 || n > nConds)
              fail(s"condition (?$n) out of range 1..$nConds")
            steps += Step(n - 1, pendingGap, pendingSkip.getOrElse(Adjacent),
              pendingNeg)
            pendingSkip = None
            pendingGap = None
            pendingNeg = None
            first = false
            i = j + 1
          }
        case '.' =>
          if (first) fail("a separator cannot precede the first condition")
          if (i + 1 < pattern.length && pattern.charAt(i + 1) == '*') {
            pendingSkip match {
              case Some(AnyRun) => fail("repeated '.*'")
              case Some(_) => fail("cannot combine '.' and '.*' in one gap")
              case None => pendingSkip = Some(AnyRun)
            }
            i += 2
          } else {
            pendingSkip match {
              case Some(AnyRun) => fail("cannot combine '.' and '.*' in one gap")
              case Some(Exactly(k)) => pendingSkip = Some(Exactly(k + 1))
              case Some(Adjacent) => fail("unreachable skip state")
              case None => pendingSkip = Some(Exactly(1))
            }
            i += 1
          }
        case c => fail(s"unexpected character '$c' at position $i")
      }
    }
    // trailing .* is a harmless no-op (CH-compat); trailing '.' or a
    // trailing time constraint would constrain a step that doesn't exist
    pendingSkip match {
      case Some(Exactly(_)) => fail("pattern must end with a condition atom, not '.'")
      case _ => ()
    }
    if (pendingGap.isDefined)
      fail("pattern must end with a condition atom, not a time constraint")
    if (pendingNeg.isDefined)
      fail("pattern must end with a condition atom, not a negation")
    val out = steps.result()
    if (out.isEmpty) fail("no condition atoms")
    out
  }

  /** The feasible-set DP over the (ts, tie)-sorted events: feas_k(j) = "event j can be the k-th matched
    * step". Fixed-offset separators are a shifted AND; `.*` folds the
    * prefix with the running aggregate its gap op needs. A negation
    * `(?!f)` stays in the same single pass: fixed offsets check a
    * prefix-count of forbidden events over the in-between positions;
    * `.*` RESETS its running aggregate whenever a forbidden event goes
    * by — every feasible previous-step candidate strictly before the
    * forbidden position is dead for all later steps (the forbidden event
    * would sit inside the gap), while a candidate AT the forbidden
    * position survives (strictly-between excludes the endpoints), hence
    * the clear-then-add order. Still O(events × steps). */
  def matches(s: EventBuffer, steps: Vector[Step], unitMicros: Long): Boolean = {
    val n = s.n
    if (n == 0) return false
    val us = s.us
    val mk = s.mask
    def condOk(j: Int, c: Int): Boolean = (mk(j) & (1 << c)) != 0
    def gapOk(g: Gap, from: Long, to: Long): Boolean = {
      val d = to - from
      val v = g.value * unitMicros
      g.op match {
        case "<" => d < v
        case "<=" => d <= v
        case ">" => d > v
        case ">=" => d >= v
        case "==" => d == v
      }
    }
    var prev = Array.tabulate(n)(j => condOk(j, steps.head.cond))
    var k = 1
    while (k < steps.length) {
      val st = steps(k)
      val cur = new Array[Boolean](n)
      // bit of the condition forbidden in this gap (0 = no negation,
      // matches no event)
      val fbit = st.neg.map(f => 1 << f).getOrElse(0)
      @inline def forb(j: Int): Boolean = (mk(j) & fbit) != 0
      st.skip match {
        case Adjacent | Exactly(_) =>
          val off = st.skip match { case Exactly(m) => m + 1; case _ => 1 }
          // prefix count of forbidden events, only when the gap negates:
          // fc(b) - fc(a+1) = forbidden events at positions a+1 .. b-1
          val fc: Array[Int] = if (fbit == 0) null else {
            val a = new Array[Int](n + 1)
            var j = 0
            while (j < n) {
              a(j + 1) = a(j) + (if (forb(j)) 1 else 0); j += 1
            }
            a
          }
          var j = off
          while (j < n) {
            cur(j) = prev(j - off) && condOk(j, st.cond) &&
              st.gap.forall(g => gapOk(g, us(j - off), us(j))) &&
              (fc == null || fc(j) - fc(j - off + 1) == 0)
            j += 1
          }
        case AnyRun =>
          st.gap match {
            case None =>
              var any = false
              var j = 0
              while (j < n) {
                cur(j) = any && condOk(j, st.cond)
                if (forb(j)) any = false
                any ||= prev(j)
                j += 1
              }
            case Some(g @ Gap("<" | "<=", _)) =>
              // need a feasible i<j with us(j) - us(i) small: the LATEST
              // feasible time dominates
              var latest = Long.MinValue
              var j = 0
              while (j < n) {
                cur(j) = latest != Long.MinValue && condOk(j, st.cond) &&
                  gapOk(g, latest, us(j))
                if (forb(j)) latest = Long.MinValue
                if (prev(j)) latest = math.max(latest, us(j))
                j += 1
              }
            case Some(g @ Gap(">" | ">=", _)) =>
              // the EARLIEST feasible time dominates
              var earliest = Long.MaxValue
              var j = 0
              while (j < n) {
                cur(j) = earliest != Long.MaxValue && condOk(j, st.cond) &&
                  gapOk(g, earliest, us(j))
                if (forb(j)) earliest = Long.MaxValue
                if (prev(j)) earliest = math.min(earliest, us(j))
                j += 1
              }
            case Some(g @ Gap("==", _)) =>
              // exact gap: membership in the set of feasible times
              val seen = new java.util.HashSet[java.lang.Long]()
              var j = 0
              while (j < n) {
                cur(j) = condOk(j, st.cond) &&
                  seen.contains(us(j) - g.value * unitMicros)
                if (forb(j)) seen.clear()
                if (prev(j)) seen.add(us(j)): Unit
                j += 1
              }
            case Some(g) =>
              throw new IllegalStateException(s"unreachable gap op ${g.op}")
          }
      }
      prev = cur
      k += 1
    }
    prev.exists(identity)
  }

  private[functions] def foldableString(e: Expression, what: String): String =
    e match {
      case lit: Literal if lit.foldable && lit.value != null &&
          lit.dataType == StringType => lit.value.toString
      case _ => throw new IllegalArgumentException(
        s"$what must be a literal STRING")
    }
}

/** `sequence_match('pattern', ts, tie, cond1, …, condN)` → BOOLEAN. */
case class SequenceMatchPatternAgg(
    pattern: String,
    children: Seq[Expression],
    maxEvents: Int = ParametricAgg.maxEvents,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends BufferedEventAgg {

  def this(es: Seq[Expression]) =
    this(SequenceMatchPattern.foldableString(es.head,
      "sequence_match pattern"), es)

  require(children.size >= 4,
    "sequence_match(pattern, ts, tie, cond1, ...) needs at least one condition")
  require(children.size <= 3 + 30,
    "sequence_match supports at most 30 conditions (bitmask bound)")

  override protected def tsExpr = children(1)
  override protected def tieExpr = children(2)
  override protected def maskConds = children.drop(3)

  // parse eagerly so a bad pattern fails at analysis, not per-task;
  // the bound check keeps value * unitMicros (micros scaling for
  // TIMESTAMP ts) from overflowing silently into a wrong comparison
  @transient private lazy val steps =
    SequenceMatchPattern.parse(pattern, maskConds.size)
  require(steps.forall(_.gap.forall(_.value <= Long.MaxValue / 1000000L)),
    s"sequence_match pattern '$pattern': a time bound exceeds the " +
      "representable range (would overflow at microsecond scaling)")
  require(steps.nonEmpty)

  // (?t n) is in SECONDS on a TIMESTAMP column (CH's reading; micros
  // internally), raw units on a BIGINT ts
  private def unitMicros: Long =
    if (tsExpr.dataType == TimestampType) 1000000L else 1L

  override def checkInputDataTypes(): TypeCheckResult = {
    val tsOk = tsExpr.dataType == TimestampType || tsExpr.dataType == LongType
    val ok = tsOk && tieExpr.dataType == LongType &&
      maskConds.forall(_.dataType == BooleanType)
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (literal STRING pattern, TIMESTAMP|BIGINT ts, " +
        s"BIGINT tie, BOOLEAN conds...), got " +
        children.map(_.dataType.sql).mkString(", "))
  }

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "sequence_match"

  override protected def result(s: EventBuffer): Any =
    SequenceMatchPattern.matches(s, steps, unitMicros)

  override def withNewMutableAggBufferOffset(o: Int): SequenceMatchPatternAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SequenceMatchPatternAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SequenceMatchPatternAgg =
    copy(children = newChildren)
}
