package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension registering graft's native expressions for SQL use
  * (`SELECT simhash64(text) ...`), the CH-dialect parser, and three plan
  * rules: [[graft.plans.CollapseDedup]] (post-hoc resolution),
  * [[graft.plans.SingleStage]] (pre-CBO: small inputs plan no exchange)
  * and the [[graft.plans.GraftStrategies]] planner strategy. Install via
  * `spark.sql.extensions=graft.functions.GraftExtensions`;
  * [[GraftExtensions.register]] gives a live session the functions and
  * the as-of strategy, but not the rules, which a live session cannot
  * gain.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.specs.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    GraftExtensions.tableSpecs.foreach { case (name, info, builder) =>
      ext.injectTableFunction((FunctionIdentifier(name), info, builder))
    }
    ext.injectPostHocResolutionRule(_ => graft.plans.CollapseDedup)
    ext.injectPreCBORule(_ => graft.plans.SingleStage)
    ext.injectPlannerStrategy(_ => graft.plans.GraftStrategies)
    // CH SQL-dialect clauses (LIMIT n BY k, SAMPLE a/b) on the analyst
    // entry point — parse-time rewrite into standard window/filter plans
    ext.injectParser((session, delegate) =>
      new graft.plans.GraftSqlParser(session, delegate))
  }
}

object GraftExtensions {
  private type Builder = Seq[Expression] => Expression

  /** Arity check BEFORE any es.head/es(i) access: a zero-argument SQL
    * call like `window_funnel()` must surface as a readable signature
    * error at analysis, not a raw `empty.head` UnsupportedOperation. */
  private def arity(es: Seq[Expression], min: Int, max: Int,
                    signature: String): Unit =
    if (es.size < min || es.size > max) throw new IllegalArgumentException(
      s"$signature — got ${es.size} argument(s)")

  private val specs: Seq[(String, ExpressionInfo, Builder)] = Seq(
    ("simhash64",
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (es: Seq[Expression]) => SimHash64(es.head)),
    ("rolling_hash64",
      new ExpressionInfo(classOf[RollingHash64].getName, "rolling_hash64"),
      (es: Seq[Expression]) => RollingHash64(es.head)),
    ("float_dot",
      new ExpressionInfo(classOf[FloatDot].getName, "float_dot"),
      (es: Seq[Expression]) => FloatDot(es.head, es(1))),
    ("proto_decode",
      new ExpressionInfo(classOf[ProtoDecode].getName, "proto_decode"),
      (es: Seq[Expression]) => ProtoDecode(es.head, es(1))),
    ("hilbert_index",
      new ExpressionInfo(classOf[HilbertIndex].getName, "hilbert_index"),
      (es: Seq[Expression]) => HilbertIndex(es.head, es(1))),
    ("ddsketch_agg",
      new ExpressionInfo(classOf[DDSketchAgg].getName, "ddsketch_agg"),
      (es: Seq[Expression]) => new DDSketchAgg(es.head, es(1))),
    ("ddsketch_merge",
      new ExpressionInfo(classOf[DDSketchMergeAgg].getName, "ddsketch_merge"),
      (es: Seq[Expression]) => DDSketchMergeAgg(es.head)),
    ("ddsketch_quantile",
      new ExpressionInfo(classOf[DDSketchQuantile].getName, "ddsketch_quantile"),
      (es: Seq[Expression]) => DDSketchQuantile(es.head, es(1))),
    ("topk_agg",
      new ExpressionInfo(classOf[TopKSketchAgg].getName, "topk_agg"),
      (es: Seq[Expression]) => new TopKSketchAgg(es.head, es(1))),
    ("topk_weighted_agg",
      new ExpressionInfo(classOf[TopKWeightedAgg].getName, "topk_weighted_agg"),
      (es: Seq[Expression]) => new TopKWeightedAgg(es.head, es(1), es(2))),
    ("topk_merge",
      new ExpressionInfo(classOf[TopKMergeAgg].getName, "topk_merge"),
      (es: Seq[Expression]) => TopKMergeAgg(es.head)),
    ("topk_extract",
      new ExpressionInfo(classOf[TopKExtract].getName, "topk_extract"),
      (es: Seq[Expression]) => TopKExtract(es.head, es(1))),
    ("bitmap_agg",
      new ExpressionInfo(classOf[BitmapAgg].getName, "bitmap_agg"),
      (es: Seq[Expression]) => BitmapAgg(es.head)),
    ("bitmap_merge",
      new ExpressionInfo(classOf[BitmapMergeAgg].getName, "bitmap_merge"),
      (es: Seq[Expression]) => BitmapMergeAgg(es.head)),
    ("bitmap_count",
      new ExpressionInfo(classOf[BitmapCount].getName, "bitmap_count"),
      (es: Seq[Expression]) => BitmapCount(es.head)),
    ("bitmap_and_count",
      new ExpressionInfo(classOf[BitmapAndCount].getName, "bitmap_and_count"),
      (es: Seq[Expression]) => BitmapAndCount(es.head, es(1))),
    ("bitmap_or_count",
      new ExpressionInfo(classOf[BitmapOrCount].getName, "bitmap_or_count"),
      (es: Seq[Expression]) => BitmapOrCount(es.head, es(1))),
    ("bitmap_andnot_count",
      new ExpressionInfo(classOf[BitmapAndnotCount].getName, "bitmap_andnot_count"),
      (es: Seq[Expression]) => BitmapAndnotCount(es.head, es(1))),
    ("window_funnel",
      new ExpressionInfo(classOf[WindowFunnelAgg].getName, "window_funnel"),
      (es: Seq[Expression]) => {
        arity(es, 3, 34,
          "window_funnel(window_us, ts, cond1, ..., condN) or " +
            "window_funnel(window_us, 'mode', ts, tie, cond1, ...) needs a " +
            "window, an optional mode, a timestamp, and 1-30 stage conditions")
        // a string SECOND argument selects the CH mode surface
        // (strict_order / strict_dedup, row-order semantics with an
        // explicit tie); otherwise the default strict-increase form
        es(1) match {
          case lit: org.apache.spark.sql.catalyst.expressions.Literal
              if lit.dataType == org.apache.spark.sql.types.StringType =>
            arity(es, 5, 34,
              "window_funnel(window_us, 'mode', ts, tie, cond1, ...) needs " +
                "a window, a mode, a timestamp, a BIGINT tie, and 1-30 " +
                "stage conditions")
            new WindowFunnelModeAgg(es)
          case _ => new WindowFunnelAgg(es)
        }
      }),
    ("sequence_count",
      new ExpressionInfo(classOf[SequenceCountAgg].getName, "sequence_count"),
      (es: Seq[Expression]) => {
        arity(es, 5, 5,
          "sequence_count(window_us, ts, tie, first, second) takes exactly " +
            "5 arguments")
        new SequenceCountAgg(es)
      }),
    ("sequence_match",
      new ExpressionInfo(classOf[SequenceMatchAgg].getName, "sequence_match"),
      (es: Seq[Expression]) => {
        arity(es, 3, 33,
          "sequence_match(window_us, ts, cond1, ..., condN) or " +
            "sequence_match('pattern', ts, tie, cond1, ..., condN) needs a " +
            "window/pattern, a timestamp, and 1-30 conditions")
        // dispatch on the first argument: a STRING literal selects the
        // full CH pattern grammar ((?N), ., .*, (?t op n)); a numeric
        // window keeps the funnel-completion form
        es.head match {
          case lit: org.apache.spark.sql.catalyst.expressions.Literal
              if lit.dataType == org.apache.spark.sql.types.StringType =>
            arity(es, 4, 33,
              "sequence_match('pattern', ts, tie, cond1, ..., condN) needs " +
                "a pattern, a timestamp, a BIGINT tie, and 1-30 conditions")
            new SequenceMatchPatternAgg(es)
          case _ => new SequenceMatchAgg(es)
        }
      }),
    ("retention",
      new ExpressionInfo(classOf[RetentionAgg].getName, "retention"),
      (es: Seq[Expression]) => {
        arity(es, 1, 32,
          "retention(cond1, ..., condN) needs 1-32 boolean conditions")
        RetentionAgg(es)
      }),
    ("sequence_next_node",
      new ExpressionInfo(classOf[SequenceNextNodeAgg].getName,
        "sequence_next_node"),
      (es: Seq[Expression]) => {
        arity(es, 5, 35,
          "sequence_next_node(ts, tie, value, cond1, cond2) or " +
            "sequence_next_node('direction', 'base', ts, tie, value, " +
            "cond1, ..., condN) needs 5 arguments (historical form) or a " +
            "direction, base, ts, tie, value and 1-30 conditions")
        // a string FIRST argument selects the full CH operating surface
        // (direction x base, N conditions); the historical 5-arg form IS
        // ('forward', 'first_match') with two conditions — one layout,
        // the builder prepends the literals
        es.head match {
          case lit: org.apache.spark.sql.catalyst.expressions.Literal
              if lit.dataType == org.apache.spark.sql.types.StringType =>
            arity(es, 6, 35,
              "sequence_next_node('direction', 'base', ts, tie, value, " +
                "cond1, ..., condN) needs a direction, a base, a " +
                "timestamp, a BIGINT tie, a STRING value, and 1-30 " +
                "conditions")
            new SequenceNextNodeAgg(es)
          case _ =>
            arity(es, 5, 5,
              "sequence_next_node(ts, tie, value, cond1, cond2) takes " +
                "exactly 5 arguments (use the 'direction', 'base' form " +
                "for N conditions)")
            import org.apache.spark.sql.catalyst.expressions.Literal
            new SequenceNextNodeAgg(
              Literal("forward") +: Literal("first_match") +: es)
        }
      }),
    // CH's FULL sequenceNextNode signature carries a base_condition
    // positional argument between the value column and the chain
    // conditions; with/without-base arities overlap (both tails are all
    // BOOLEAN), so the base form gets its own name rather than a
    // heuristic dispatch that would misread a 7-arg call
    ("sequence_next_node_base",
      new ExpressionInfo(classOf[SequenceNextNodeAgg].getName,
        "sequence_next_node_base"),
      (es: Seq[Expression]) => {
        arity(es, 7, 36,
          "sequence_next_node_base('direction', 'base', ts, tie, value, " +
            "base_cond, cond1, ..., condN) needs a direction, a base, a " +
            "timestamp, a BIGINT tie, a STRING value, a BOOLEAN base " +
            "condition, and 1-30 conditions")
        new SequenceNextNodeAgg(es, true)
      }))

  /** SQL table functions (FROM-clause relations). The graft_asof builder
    * returns a lazy [[graft.plans.AsOfJoinByName]] over UnresolvedRelation
    * children — the analyzing session's catalog resolves the tables, so it
    * is multi-session-safe and works both injected and runtime-registered
    * (GraftStrategies lowers it at planning; no analyzer rule needed). */
  private val tableSpecs
      : Seq[(String, ExpressionInfo,
             Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] =
    Seq(("graft_asof",
      new ExpressionInfo("graft.plans.AsOfJoin", "graft_asof"),
      (es: Seq[Expression]) => graft.plans.AsOfJoin.tvfBuilder(es)))

  /** Runtime registration for sessions built without the extension
    * (functions only — analyzer rules can't be added to a live session;
    * CollapseDedup needs the `spark.sql.extensions` path). */
  def register(spark: SparkSession): Unit = {
    specs.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
    tableSpecs.foreach { case (name, _, builder) =>
      spark.sessionState.tableFunctionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
    // graft_asof plans lower through GraftStrategies — live sessions can
    // still gain planner strategies via the experimental hook.
    graft.plans.AsOfJoin.install(spark)
  }
}
