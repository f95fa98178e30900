package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Differential fuzz main for the parametric event aggregates
  * (`window_funnel` / `sequence_count` / `sequence_match` /
  * `retention`) — the dimension the catalog keys can't cover: RANDOM
  * windows, gap bounds and patterns, drawn per seed. Each aggregate,
  * run under real partial aggregation and shuffle serialization, is
  * compared with an independent formulation of its contract:
  *
  *  - the in-memory brute-force references in
  *    [[operators.EventAnalytics.Reference]] over the collected corpus
  *    (funnel chain level, the greedy pair-count automaton, funnel
  *    completion), or
  *  - a mechanically-generated lead()/running-max window plan (the
  *    pattern grammar and the funnel modes) or join plan (retention).
  *
  * The two sides share no evaluation code, so any divergence is a real
  * contract violation. `pipefuzz.py` runs this per seed on its planted
  * event corpus (which carries duplicate timestamps by construction —
  * the tie-order hazard) right after the DuckDB differential; the
  * catalog keys' fixed 12 h instances stay covered by the oracle
  * compare, this main covers the window/pattern SPACE.
  *
  * Usage: `graft.FuzzParametric <corpusDir> <seed>`; exit 1 on any
  * divergence, with the failing window/pattern printed for standalone
  * reproduction.
  */
object FuzzParametric {

  private def fail(what: String): Nothing = {
    System.err.println(s"[fuzz-parametric] DIVERGENCE: $what")
    sys.exit(1)
  }

  private def toMap[V](df: DataFrame)(v: org.apache.spark.sql.Row => V)
      : Map[Long, V] =
    df.collect().map(r => r.getLong(0) -> v(r)).toMap

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: FuzzParametric <corpusDir> <seed>")
    val dir = args(0)
    val seed = args(1).toLong
    val rnd = new scala.util.Random(seed)
    val spark = EngineSession.local(appName = s"graft-fuzz-parametric-$seed")
    functions.GraftExtensions.register(spark)
    val e = Tables.events(spark, dir)
    val hourUs = 3600L * 1000000

    val sign = col("event_type") === "signup"
    val click = col("event_type") === "click"
    val buy = col("event_type") === "purchase"

    import operators.EventAnalytics.Reference.{Event, byUser, chainLevel,
      chainMatched, pairCount}
    val corpus = byUser(e)
    val chain = Seq("signup", "click", "purchase")
    // the reference over the users holding an event of a `kinds` type
    def reference[V](kinds: String => Boolean)(v: Seq[Event] => V): Map[Long, V] =
      corpus.collect { case (u, evs) if evs.exists(x => kinds(x.kind)) => u -> v(evs) }

    // ---- window_funnel: 3 random windows + 1 tight -------------------
    // the tight window is the span of one user's shortest full chain:
    // one microsecond below it that user's level drops, so an
    // off-by-one admit check diverges even when no random window lands
    // on a boundary
    val tightest = corpus.values.flatMap { evs =>
      def after(kind: String, t: Long) = evs.find(x => x.kind == kind && x.us > t)
      evs.filter(_.kind == "signup").flatMap(s => after("click", s.us)
        .flatMap(c => after("purchase", c.us)).map(_.us - s.us)).minOption
    }.toIndexedSeq.sorted
    val windows = Seq.fill(3)((1 + rnd.nextInt(48)).toLong * hourUs) ++
      tightest.lift(rnd.nextInt(tightest.size max 1))
    windows.foreach { wU =>
      // every user: the aggregate reads level 0 without a signup
      val ref = reference(_ => true)(chainLevel(_, chain, Some(wU)))
      val sql = toMap(e.groupBy("user_id").agg(expr(
        s"window_funnel($wU, ts, event_type = 'signup', " +
          "event_type = 'click', event_type = 'purchase')").as("lv")))(_.getInt(1))
      if (sql != ref) fail(s"window_funnel w=$wU: agg != reference " +
        s"(${(sql.toSet -- ref.toSet).take(3)} / ${(ref.toSet -- sql.toSet).take(3)})")
      println(s"[fuzz-parametric] window_funnel w=${wU}us ok " +
        s"(${ref.count(_._2 > 0)} users)")
    }

    // ---- sequence_count: unbounded + 3 random windows ------------------
    (0 to 3).foreach { i =>
      val wU = if (i == 0) 0L else (1 + rnd.nextInt(48)).toLong * hourUs
      val ref = reference(Set("signup", "purchase"))(
        pairCount(_, "signup", "purchase", Option(wU).filter(_ > 0)))
      val sql = toMap(e.filter(sign || buy).groupBy("user_id").agg(expr(
        s"sequence_count($wU, ts, event_id, event_type = 'signup', " +
          "event_type = 'purchase')").as("c")))(_.getLong(1))
      if (sql != ref) fail(s"sequence_count w=$wU: agg != reference " +
        s"(${(sql.toSet -- ref.toSet).take(3)} / ${(ref.toSet -- sql.toSet).take(3)})")
      println(s"[fuzz-parametric] sequence_count w=${wU / hourUs}h ok " +
        s"(${ref.size} users)")
    }

    // ---- sequence_match (window form): unbounded + 2 random windows ----
    (0 to 2).foreach { i =>
      val wU = if (i == 0) 0L else (1 + rnd.nextInt(72)).toLong * hourUs
      val ref = reference(_ == "signup")(evs =>
        if (chainMatched(evs, chain, Option(wU).filter(_ > 0))) 1 else 0)
      val sql = toMap(
        e.filter(col("event_type").isin(chain: _*))
          .groupBy("user_id")
          .agg(expr(s"sequence_match($wU, ts, event_type = 'signup', " +
              "event_type = 'click', event_type = 'purchase')")
            .cast("int").as("m"),
            max(when(sign, 1).otherwise(0)).as("h"))
          .filter(col("h") === 1))(_.getInt(1))
      if (sql != ref) fail(s"sequence_match w=$wU: agg != reference")
      println(s"[fuzz-parametric] sequence_match w=${wU / hourUs}h ok")
    }

    // ---- sequence_match (pattern grammar) vs generated window plans ----
    // Shape A: all-adjacent '(?1)(?t OP1 a)(?2)(?t OP2 b)(?3)' == lead()
    // prefix checks; Shape B: '(?1).*(?2)(?t OP c).(?3)' == signup-before
    // flag + lead(2) position + gap test. Ops and bounds drawn per
    // round; bounds on a 15-minute grid so exact-boundary hits occur.
    val filtered = e.filter(col("event_type").isin("signup", "click", "purchase"))
    val wOrd = Window.partitionBy("user_id")
      .orderBy(col("ts").asc_nulls_last, col("event_id"))
    def gapTest(op: String, later: Column, earlier: Column, us: Long): Column = {
      val d = unix_micros(later) - unix_micros(earlier)
      op match {
        case "<" => d < us; case "<=" => d <= us
        case ">" => d > us; case ">=" => d >= us
      }
    }
    val ops = Seq("<", "<=", ">", ">=")
    (1 to 3).foreach { _ =>
      val (op1, op2) = (ops(rnd.nextInt(4)), ops(rnd.nextInt(4)))
      val aSec = (1 + rnd.nextInt(96)) * 900L
      val bSec = (1 + rnd.nextInt(96)) * 900L
      // Shape A
      val patA = s"(?1)(?t$op1$aSec)(?2)(?t$op2$bSec)(?3)"
      val sqlA = toMap(filtered.groupBy("user_id")
        .agg(expr(s"sequence_match('$patA', ts, event_id, " +
            "event_type = 'signup', event_type = 'click', " +
            "event_type = 'purchase')").cast("int").as("m"),
          max(when(sign, 1).otherwise(0)).as("h"))
        .filter(col("h") === 1))(_.getInt(1))
      val winA = toMap(filtered
        .withColumn("t1", lead(col("event_type"), 1).over(wOrd))
        .withColumn("s1", lead(col("ts"), 1).over(wOrd))
        .withColumn("t2", lead(col("event_type"), 2).over(wOrd))
        .withColumn("s2", lead(col("ts"), 2).over(wOrd))
        .withColumn("m", when(sign && col("t1") === "click" &&
          gapTest(op1, col("s1"), col("ts"), aSec * 1000000) &&
          col("t2") === "purchase" &&
          gapTest(op2, col("s2"), col("s1"), bSec * 1000000), 1).otherwise(0))
        .groupBy("user_id")
        .agg(max("m").as("m"), max(when(sign, 1).otherwise(0)).as("h"))
        .filter(col("h") === 1))(_.getInt(1))
      if (sqlA != winA) fail(s"pattern '$patA': agg != window plan " +
        s"(${sqlA.count(_._2 == 1)} vs ${winA.count(_._2 == 1)} matched)")
      // Shape B
      val patB = s"(?1).*(?2)(?t$op2$bSec).(?3)"
      val sqlB = toMap(filtered.groupBy("user_id")
        .agg(expr(s"sequence_match('$patB', ts, event_id, " +
            "event_type = 'signup', event_type = 'click', " +
            "event_type = 'purchase')").cast("int").as("m"),
          max(when(sign, 1).otherwise(0)).as("h"))
        .filter(col("h") === 1))(_.getInt(1))
      val winB = toMap(filtered
        .withColumn("sb", max(when(sign, 1).otherwise(0))
          .over(wOrd.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("t2", lead(col("event_type"), 2).over(wOrd))
        .withColumn("s2", lead(col("ts"), 2).over(wOrd))
        .withColumn("m", when(col("event_type") === "click" &&
          col("sb") === 1 && col("t2") === "purchase" &&
          gapTest(op2, col("s2"), col("ts"), bSec * 1000000), 1).otherwise(0))
        .groupBy("user_id")
        .agg(max("m").as("m"), max(when(sign, 1).otherwise(0)).as("h"))
        .filter(col("h") === 1))(_.getInt(1))
      if (sqlB != winB) fail(s"pattern '$patB': agg != window plan")
      // Shape C: negation '(?1)(?!2)[(?t OP c)].*(?3)' == the
      // last-signup-or-click window plan (o_a17e's shape): a click kills
      // every earlier signup, so feasibility collapses to "the LATEST
      // preceding signup/click is a signup" — and for < / <= bounds the
      // latest signup also minimizes the gap, so the one window pair
      // decides (the > ops need the EARLIEST surviving signup instead;
      // those stay covered by the spec's brute-force differential)
      val cSec = (1 + rnd.nextInt(96)) * 900L
      val opC = Seq("<", "<=")(rnd.nextInt(2))
      val gapC = if (rnd.nextBoolean()) Some(opC -> cSec) else None
      val patC = gapC match {
        case Some((op, c)) => s"(?1)(?!2)(?t$op$c).*(?3)"
        case None => "(?1)(?!2).*(?3)"
      }
      val sqlC = toMap(filtered.groupBy("user_id")
        .agg(expr(s"sequence_match('$patC', ts, event_id, " +
            "event_type = 'signup', event_type = 'click', " +
            "event_type = 'purchase')").cast("int").as("m"),
          max(when(sign, 1).otherwise(0)).as("h"))
        .filter(col("h") === 1))(_.getInt(1))
      val preRows = wOrd.rowsBetween(Window.unboundedPreceding, -1)
      val winC = toMap(filtered
        .withColumn("lsc", last(when(sign || click, col("event_type")),
          ignoreNulls = true).over(preRows))
        .withColumn("lts", last(when(sign || click, col("ts")),
          ignoreNulls = true).over(preRows))
        .withColumn("m", when(buy && col("lsc") === "signup" &&
          gapC.map(g => gapTest(g._1, col("ts"), col("lts"),
            g._2 * 1000000)).getOrElse(lit(true)), 1).otherwise(0))
        .groupBy("user_id")
        .agg(max("m").as("m"), max(when(sign, 1).otherwise(0)).as("h"))
        .filter(col("h") === 1))(_.getInt(1))
      if (sqlC != winC) fail(s"pattern '$patC': agg != window plan " +
        s"(${sqlC.count(_._2 == 1)} vs ${winC.count(_._2 == 1)} matched)")
      println(s"[fuzz-parametric] patterns '$patA' / '$patB' / '$patC' ok " +
        s"(${sqlA.count(_._2 == 1)}/${sqlB.count(_._2 == 1)}/" +
        s"${sqlC.count(_._2 == 1)} matched)")
    }

    // ---- window_funnel modes vs generated window plans, random windows -
    // strict_order == the o_a15d lead()-prefix plan over ALL events;
    // strict_dedup == the o_a15b last-of-type running-window plan over
    // the condition-filtered stream — per-user levels, random windows.
    (1 to 2).foreach { _ =>
      val wU = (1 + rnd.nextInt(48)).toLong * hourUs
      val wIv = expr(s"INTERVAL ${wU / 1000000} SECONDS")
      def modeLv(mode: String, df: DataFrame) =
        toMap(df.groupBy("user_id").agg(expr(
          s"window_funnel($wU, '$mode', ts, event_id, " +
            "event_type = 'signup', event_type = 'click', " +
            "event_type = 'purchase')").as("lv")))(_.getInt(1))
      // strict_order window plan (o_a15d's shape at window wU)
      val soWin = toMap(e
        .withColumn("n1t", lead(col("event_type"), 1).over(wOrd))
        .withColumn("n1s", lead(col("ts"), 1).over(wOrd))
        .withColumn("n2t", lead(col("event_type"), 2).over(wOrd))
        .withColumn("n2s", lead(col("ts"), 2).over(wOrd))
        .withColumn("lvl", when(sign,
          lit(1) +
            when(col("n1t") === "click" && col("n1s") <= col("ts") + wIv, 1)
              .otherwise(0) +
            when(col("n1t") === "click" && col("n1s") <= col("ts") + wIv &&
              col("n2t") === "purchase" && col("n2s") <= col("ts") + wIv, 1)
              .otherwise(0)))
        .groupBy("user_id").agg(max("lvl").as("lvl"))
        .filter(col("lvl").isNotNull))(_.getInt(1))
      val soAgg = modeLv("strict_order", e).filter(_._2 >= 1)
      if (soAgg != soWin) fail(s"window_funnel strict_order w=$wU: " +
        s"agg != lead() plan (${(soAgg.toSet -- soWin.toSet).take(3)})")
      // strict_dedup window plan (o_a15b's shape at window wU)
      val pre = wOrd.rowsBetween(Window.unboundedPreceding, -1)
      // year-1 sentinel, not 1970: see o_a15b — near-epoch corpora made
      // the epoch sentinel spuriously admit early purchases
      val sentinel = lit("0001-01-01 00:00:00").cast("timestamp")
      val sdWin = toMap(filtered
        .withColumn("ls", max(when(sign, col("ts"))).over(pre))
        .withColumn("c2", when(click && col("ls").isNotNull &&
          col("ts") <= col("ls") + wIv, col("ls")))
        .withColumn("c2m", when(click, coalesce(col("c2"), sentinel)))
        .withColumn("lc", last(col("c2m"), ignoreNulls = true).over(pre))
        .groupBy("user_id")
        .agg(max(when(sign, 1).otherwise(0)).as("h1"),
          max(when(col("c2").isNotNull, 1).otherwise(0)).as("h2"),
          max(when(buy && col("lc").isNotNull &&
            col("ts") <= col("lc") + wIv, 1).otherwise(0)).as("h3"))
        .filter(col("h1") === 1)
        .select(col("user_id"),
          (lit(1) + col("h2") + col("h3")).cast("int").as("lvl")))(_.getInt(1))
      val sdAgg = modeLv("strict_dedup", filtered).filter(_._2 >= 1)
      if (sdAgg != sdWin) fail(s"window_funnel strict_dedup w=$wU: " +
        s"agg != running-window plan (${(sdAgg.toSet -- sdWin.toSet).take(3)})")
      // combined 'strict_order,strict_dedup' with OVERLAPPING stage 3
      // (click OR purchase): the dedup interrupt rule excludes a step-3
      // click (repeats matched cond2), netting the lead() plan to
      // purchase-only at step 3; mode order must not matter
      val cbCall = (m: String) => toMap(e.groupBy("user_id").agg(expr(
        s"window_funnel($wU, '$m', ts, event_id, " +
          "event_type = 'signup', event_type = 'click', " +
          "event_type IN ('click', 'purchase'))").as("lv")))(_.getInt(1))
        .filter(_._2 >= 1)
      val cbAgg = cbCall("strict_order,strict_dedup")
      if (cbAgg != cbCall("strict_dedup,strict_order"))
        fail(s"window_funnel combined w=$wU: mode order changed the result")
      val cbWin = toMap(e
        .withColumn("n1t", lead(col("event_type"), 1).over(wOrd))
        .withColumn("n1s", lead(col("ts"), 1).over(wOrd))
        .withColumn("n2t", lead(col("event_type"), 2).over(wOrd))
        .withColumn("n2s", lead(col("ts"), 2).over(wOrd))
        .withColumn("lvl", when(sign,
          lit(1) +
            when(col("n1t") === "click" && col("n1s") <= col("ts") + wIv, 1)
              .otherwise(0) +
            when(col("n1t") === "click" && col("n1s") <= col("ts") + wIv &&
              col("n2t") === "purchase" && col("n2s") <= col("ts") + wIv, 1)
              .otherwise(0)))
        .groupBy("user_id").agg(max("lvl").as("lvl"))
        .filter(col("lvl").isNotNull))(_.getInt(1))
      if (cbAgg != cbWin) fail(s"window_funnel combined w=$wU: " +
        s"agg != lead() plan (${(cbAgg.toSet -- cbWin.toSet).take(3)})")
      println(s"[fuzz-parametric] window_funnel modes w=${wU / hourUs}h ok " +
        s"(${soAgg.size}/${sdAgg.size}/${cbAgg.size} users)")
    }

    // ---- retention vs the join formulation, random horizons ------------
    (1 to 2).foreach { _ =>
      val h1 = 1 + rnd.nextInt(10)
      val h2 = h1 + rnd.nextInt(10)
      val t0 = e.filter(sign).groupBy("user_id").agg(min("ts").as("t0"))
      val agg = toMap(e.join(t0, "user_id").groupBy("user_id")
        .agg(expr("retention(event_type = 'signup' AND ts = t0, " +
          s"event_type = 'click' AND ts > t0 AND ts <= t0 + INTERVAL $h1 DAYS, " +
          s"event_type = 'purchase' AND ts > t0 AND ts <= t0 + INTERVAL $h2 DAYS)")
          .as("r")))(r => r.getSeq[Int](1).toList)
      val joined = toMap(t0.as("f")
        .join(e.filter(click).as("c"),
          col("c.user_id") === col("f.user_id") && col("c.ts") > col("f.t0") &&
            col("c.ts") <= col("f.t0") + expr(s"INTERVAL $h1 DAYS"), "left")
        .groupBy(col("f.user_id").as("user_id"), col("f.t0").as("t0"))
        .agg(max(when(col("c.ts").isNotNull, 1).otherwise(0)).as("clicked"))
        .as("fc")
        .join(e.filter(buy).as("p"),
          col("p.user_id") === col("fc.user_id") && col("p.ts") > col("fc.t0") &&
            col("p.ts") <= col("fc.t0") + expr(s"INTERVAL $h2 DAYS"), "left")
        .groupBy(col("fc.user_id"), col("fc.clicked"))
        .agg(max(when(col("p.ts").isNotNull, 1).otherwise(0)).as("purchased"))
        .select(col("user_id"), col("clicked"), col("purchased")))(
        r => List(1, r.getInt(1), r.getInt(2)))
      if (agg != joined)
        fail(s"retention h1=$h1 h2=$h2: agg != join formulation " +
          s"(diff=${(agg.toSet -- joined.toSet).take(3)})")
      println(s"[fuzz-parametric] retention h=${h1}d/${h2}d ok (${agg.size} users)")
    }

    println(s"[fuzz-parametric] seed=$seed: ALL CHECKS PASSED")
    spark.stop()
  }
}
