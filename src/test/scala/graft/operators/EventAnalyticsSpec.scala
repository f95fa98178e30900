package graft.operators

import graft.TestSession
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class EventAnalyticsSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  private val stages = Seq("signup", "view", "click", "purchase")
  private val stageConds = stages.map(st => s"event_type = '$st'").mkString(", ")
  private val day = 24L * 3600 * 1000000 // 24h in micros
  private val R = EventAnalytics.Reference

  /** `agg` per user of `df`, read by `v`. */
  private def perUser[V](df: DataFrame, agg: String)(v: Row => V): Map[Long, V] = {
    graft.functions.GraftExtensions.register(spark)
    df.groupBy("user_id").agg(expr(agg)).collect()
      .map(r => r.getLong(0) -> v(r)).toMap
  }

  private def fixture = graft.Tables.events(spark, sf)

  test("funnelLevels == brute-force greedy chain search (4 stages, 24h)") {
    // the EXISTS-chain funnel level, by the window_funnel aggregate and
    // by the reference's greedy search per chain start
    val got = perUser(fixture, s"window_funnel($day, ts, $stageConds)")(_.getInt(1))
    val want = R.byUser(fixture).map { case (u, evs) =>
      u -> R.chainLevel(evs, stages, Some(day)) }
    assert(got.keySet == want.keySet)
    val diffs = got.collect { case (u, l) if want(u) != l => (u, l, want(u)) }
    assert(diffs.isEmpty, s"level mismatches: $diffs")
    assert(got.values.max >= 3, "fixture should exercise deep chains")
  }

  test("window None == unbounded; levels monotone under window widening") {
    val evs = R.byUser(fixture)
    val unbounded = evs.map { case (u, e) => u -> R.chainLevel(e, stages, None) }
    val huge = perUser(fixture,
      s"window_funnel(${3650 * day}, ts, $stageConds)")(_.getInt(1))
    assert(huge == unbounded, "a window beyond the data span must equal None")
    // sequence_match's window 0 is the unbounded chain
    val matched = perUser(fixture, s"sequence_match(0, ts, $stageConds)")(_.getBoolean(1))
    assert(matched == unbounded.map { case (u, l) => u -> (l == stages.size) })
    val narrow = perUser(fixture,
      s"window_funnel(${day / 2}, ts, $stageConds)")(_.getInt(1))
    assert(narrow.forall { case (u, l) => l <= unbounded(u) },
      "widening the window can only raise levels")
    assert(narrow.exists { case (u, l) => l < unbounded(u) },
      "fixture should contain chains the 12h window cuts")
  }

  test("sequenceCount == brute-force greedy automaton") {
    val e = fixture.filter(col("event_type").isin("signup", "purchase"))
    val got = perUser(e, "sequence_count(0, ts, event_id, " +
      "event_type = 'signup', event_type = 'purchase')")(_.getLong(1))
    val want = R.byUser(e).map { case (u, evs) =>
      u -> R.pairCount(evs, "signup", "purchase", None) }
    assert(got == want)
    assert(got.values.max >= 2, "fixture should exercise multi-fire users")
  }

  test("sequenceMatch == funnel completion") {
    // sequence_match's window form is window_funnel reaching the last
    // stage, by two aggregates and by the reference
    val matched = perUser(fixture,
      s"sequence_match($day, ts, $stageConds)")(_.getBoolean(1))
    val levels = perUser(fixture,
      s"window_funnel($day, ts, $stageConds)")(_.getInt(1))
    assert(matched == levels.map { case (u, l) => u -> (l == stages.size) })
    assert(matched == R.byUser(fixture).map { case (u, evs) =>
      u -> R.chainMatched(evs, stages, Some(day)) })
    assert(matched.values.count(identity) > 0, "fixture should contain full matches")
  }

  test("o_a17: a signup TIED to the click's ts must not mask an earlier in-window one") {
    import spark.implicits._
    // user 1: signup 10:00, signup 10:30 (same ts as the click, earlier
    // event_id), click 10:30, purchase 11:00. The EXISTS chain holds via
    // the 10:00 signup; a form that let the tied signup open the chain
    // or hide the earlier one would report the wrong answer. User 2:
    // its only signup ties the click, and its purchase ties the click
    // too — no strict chain, so no match.
    def t(m: Int) = new java.sql.Timestamp(1726300800000L + m * 60000L)
    val rows = Seq(
      (1L, "signup", t(0), 1L, 0.0, "{}"),
      (1L, "signup", t(30), 2L, 0.0, "{}"),
      (1L, "click", t(30), 3L, 0.0, "{}"),
      (1L, "purchase", t(60), 4L, 0.0, "{}"),
      (2L, "signup", t(30), 5L, 0.0, "{}"),
      (2L, "click", t(30), 6L, 0.0, "{}"),
      (2L, "purchase", t(90), 7L, 0.0, "{}"),
      (2L, "signup", t(100), 8L, 0.0, "{}"),
      (2L, "click", t(110), 9L, 0.0, "{}"),
      (2L, "purchase", t(110), 10L, 0.0, "{}"))
      .toDF("user_id", "event_type", "ts", "event_id", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("seqtie").toString
    rows.write.parquet(s"$dir/events.parquet")
    val out = graft.SparkEntry.queries("o_a17_seqmatch")(spark, dir)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(out == Map(0 -> 1L, 1 -> 1L), s"tie-masked match: $out")
  }

  test("sequenceCountWindowed == brute-force windowed automaton; bound filters") {
    val w = 12L * 3600 * 1000000
    val e = fixture.filter(col("event_type").isin("signup", "purchase"))
    def counts(win: Long) = perUser(e, s"sequence_count($win, ts, event_id, " +
      "event_type = 'signup', event_type = 'purchase')")(_.getLong(1))
    val got = counts(w)
    assert(got == R.byUser(e).map { case (u, evs) =>
      u -> R.pairCount(evs, "signup", "purchase", Some(w)) })
    val unbounded = counts(0)
    assert(got.forall { case (u, n) => n <= unbounded(u) },
      "the gap bound can only drop pairs")
    assert(got.values.sum < unbounded.values.sum,
      "fixture should contain pairs the 12h bound expires")
  }

  test("window_funnel SQL aggregate == funnelLevels (4 stages, fixture)") {
    // the catalog funnels against the reference's level distribution
    // over stage-1 users: o_a15/o_a15e/o_a15f (3 stages, 12h) and
    // o_a15c (4 stages, 24h)
    def dist(k: String) = graft.SparkEntry.queries(k)(spark, sf)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    def want(st: Seq[String], w: Long) = R.byUser(fixture).values
      .map(R.chainLevel(_, st, Some(w))).filter(_ >= 1)
      .groupBy(identity).map { case (l, ls) => l -> ls.size.toLong }
    val three = want(Seq("signup", "click", "purchase"), day / 2)
    assert(three.keySet == Set(1, 2, 3), three)
    Seq("o_a15_funnel", "o_a15e_funnel_chunked", "o_a15f_funnel_sql")
      .foreach(k => assert(dist(k) == three, k))
    assert(dist("o_a15c_funnel_4stage") == want(stages, day))
  }

  test("window_funnel: strict-before ties block; window expiry caps the chain") {
    import spark.implicits._
    graft.functions.GraftExtensions.register(spark)
    def t(m: Int) = new java.sql.Timestamp(1726300800000L + m * 60000L)
    val rows = Seq(
      // user 1: click TIES the signup — strictly-before fails, level 1
      (1L, "signup", t(0)), (1L, "click", t(0)), (1L, "purchase", t(30)),
      // user 2: purchase lands beyond the 1h window from the chain
      // start — level 2
      (2L, "signup", t(0)), (2L, "click", t(5)), (2L, "purchase", t(90)),
      // user 3: the full chain inside the window — level 3
      (3L, "signup", t(0)), (3L, "click", t(5)), (3L, "purchase", t(30)))
      .toDF("user_id", "event_type", "ts")
    val lv = rows.groupBy("user_id").agg(expr(
        "window_funnel(3600000000, ts, event_type = 'signup', " +
          "event_type = 'click', event_type = 'purchase')").as("lv"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(lv == Map(1L -> 1, 2L -> 2, 3L -> 3), lv.toString)
  }

  test("window_funnel == funnelLevels on randomized event streams") {
    import spark.implicits._
    val rnd = new scala.util.Random(1503)
    val types = Seq("signup", "view", "click", "purchase", "scroll")
    val chain = Seq("signup", "click", "purchase")
    (0 until 3).foreach { draw =>
      val rows = (0 until 500).map { i =>
        val user = rnd.nextInt(10).toLong
        val base = rnd.nextInt(40).toLong * 6L * 3600 * 1000000
        val us = if (rnd.nextBoolean()) base + rnd.nextInt(14 * 3600).toLong * 1000000
                 else rnd.nextLong(240L * 3600 * 1000000)
        (i.toLong, user, types(rnd.nextInt(types.size)),
          new java.sql.Timestamp(us / 1000))
      }
      val e = rows.toDF("event_id", "user_id", "event_type", "ts")
      val sqlLv = perUser(e, "window_funnel(43200000000, ts, event_type = 'signup', " +
          "event_type = 'click', event_type = 'purchase')")(_.getInt(1))
      val ref = R.byUser(e).map { case (u, evs) =>
        u -> R.chainLevel(evs, chain, Some(day / 2)) }
      val diffs = ref.collect { case (u, l) if sqlLv(u) != l => (u, l, sqlLv(u)) }
      assert(sqlLv.keySet == ref.keySet && diffs.isEmpty,
        s"draw $draw mismatches: ${diffs.take(5)}")
    }
  }

  test("sequence_count SQL aggregate == library forms, unbounded and windowed") {
    import spark.implicits._
    val w = 12L * 3600 * 1000000
    val pair = col("event_type").isin("signup", "purchase")
    def sqlCounts(e: DataFrame, win: Long) =
      perUser(e.filter(pair), s"sequence_count($win, ts, event_id, " +
          "event_type = 'signup', event_type = 'purchase')")(_.getLong(1))
    def refCounts(e: DataFrame, win: Option[Long]) =
      R.byUser(e.filter(pair)).map { case (u, evs) =>
        u -> R.pairCount(evs, "signup", "purchase", win) }
    // fixture, both windows
    assert(sqlCounts(fixture, 0) == refCounts(fixture, None))
    assert(sqlCounts(fixture, w) == refCounts(fixture, Some(w)))
    // randomized streams with planted ties (the explicit tie argument is
    // what makes the aggregate deterministic where CH leaves it private)
    val rnd = new scala.util.Random(1504)
    val types = Seq("signup", "purchase", "view")
    (0 until 3).foreach { draw =>
      val rows = (0 until 500).map { i =>
        val user = rnd.nextInt(10).toLong
        val us = (rnd.nextInt(200) * 3600L + rnd.nextInt(4) * 900L) * 1000000
        (i.toLong, user, types(rnd.nextInt(types.size)),
          new java.sql.Timestamp(us / 1000))
      }
      val e = rows.toDF("event_id", "user_id", "event_type", "ts")
      assert(sqlCounts(e, 0) == refCounts(e, None), s"draw $draw unbounded diverged")
      assert(sqlCounts(e, w) == refCounts(e, Some(w)), s"draw $draw windowed diverged")
    }
  }

  test("sequence_match SQL aggregate == library sequenceMatch, unbounded and windowed") {
    import spark.implicits._
    val chain = Seq("signup", "click", "purchase")
    def sqlMatched(e: DataFrame, win: Long) =
      e.filter(col("event_type").isin(chain: _*))
        .groupBy("user_id")
        .agg(expr(s"sequence_match($win, ts, event_type = 'signup', " +
            "event_type = 'click', event_type = 'purchase')").as("m"),
          max(when(col("event_type") === "signup", 1).otherwise(0)).as("h"))
        .filter(col("h") === 1)
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // the stage-1 universe: users with a signup
    def refMatched(e: DataFrame, w: Option[Long]) = R.byUser(e)
      .filter(_._2.exists(_.kind == "signup"))
      .map { case (u, evs) => u -> R.chainMatched(evs, chain, w) }
    assert(sqlMatched(fixture, 0) == refMatched(fixture, None))
    assert(sqlMatched(fixture, 43200000000L) == refMatched(fixture, Some(day / 2)))
    val rnd = new scala.util.Random(1505)
    val types = Seq("signup", "click", "purchase", "view")
    (0 until 3).foreach { draw =>
      val rows = (0 until 400).map { i =>
        val user = rnd.nextInt(10).toLong
        val us = (rnd.nextInt(200) * 3600L + rnd.nextInt(4) * 900L) * 1000000
        (i.toLong, user, types(rnd.nextInt(types.size)),
          new java.sql.Timestamp(us / 1000))
      }
      val e = rows.toDF("event_id", "user_id", "event_type", "ts")
      assert(sqlMatched(e, 0) == refMatched(e, None), s"draw $draw unbounded diverged")
      assert(sqlMatched(e, 43200000000L) == refMatched(e, Some(day / 2)),
        s"draw $draw windowed diverged")
    }
  }

  test("window_funnel mode aggregates == o_a15d / o_a15b catalog forms on the fixture") {
    // the mode keys against the stacked-window formulations o_a15d
    // (strict_order: lead() prefix match at each signup) and o_a15b
    // (strict_dedup: last-of-type running windows) once ran
    val e = fixture.select("user_id", "event_type", "ts", "event_id")
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val winH = expr("INTERVAL 12 HOURS")
    def dist(df: DataFrame) = df.filter(col("lv").isNotNull)
      .groupBy("lv").agg(count(lit(1))).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val l2 = lead(col("event_type"), 1).over(w) === "click" &&
      lead(col("ts"), 1).over(w) <= col("ts") + winH
    val l3 = l2 && lead(col("event_type"), 2).over(w) === "purchase" &&
      lead(col("ts"), 2).over(w) <= col("ts") + winH
    val strict = dist(e.withColumn("lvl", when(col("event_type") === "signup",
        lit(1) + when(l2, 1).otherwise(0) + when(l3, 1).otherwise(0)))
      .groupBy("user_id").agg(max("lvl").cast("int").as("lv")))
    val pre = w.rowsBetween(Window.unboundedPreceding, -1)
    val sentinel = lit("0001-01-01 00:00:00").cast("timestamp")
    val dedup = dist(e.filter(col("event_type").isin("signup", "click", "purchase"))
      .withColumn("ls", max(when(col("event_type") === "signup", col("ts"))).over(pre))
      .withColumn("c2", when(col("event_type") === "click" &&
        col("ls").isNotNull && col("ts") <= col("ls") + winH, col("ls")))
      .withColumn("lc", last(when(col("event_type") === "click",
        coalesce(col("c2"), sentinel)), ignoreNulls = true).over(pre))
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "signup", 1).otherwise(0)).as("has1"),
        max(when(col("c2").isNotNull, 1).otherwise(0)).as("has2"),
        max(when(col("event_type") === "purchase" && col("lc").isNotNull &&
          col("ts") <= col("lc") + winH, 1).otherwise(0)).as("has3"))
      .filter(col("has1") === 1)
      .select((lit(1) + col("has2") + col("has3")).cast("int").as("lv")))
    def key(k: String) = graft.SparkEntry.queries(k)(spark, sf)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(key("o_a15g_funnel_sql_strict") == strict)
    assert(key("o_a15h_funnel_sql_dedup") == dedup)
    assert(strict.size >= 2, "fixture should discriminate strict_order levels")
  }

  test("window_funnel modes == brute-force references on randomized tied streams") {
    import spark.implicits._
    graft.functions.GraftExtensions.register(spark)
    val rnd = new scala.util.Random(1605)
    val types = Seq("signup", "click", "purchase", "view")
    val w = 12L * 3600 * 1000000
    (0 until 3).foreach { draw =>
      val rows = (0 until 500).map { i =>
        val us = (rnd.nextInt(200) * 3600L + rnd.nextInt(4) * 900L) * 1000000
        (i.toLong, rnd.nextInt(10).toLong, types(rnd.nextInt(types.size)),
          new java.sql.Timestamp(us / 1000))
      }
      val e = rows.toDF("event_id", "user_id", "event_type", "ts")
      def sqlLv(mode: String, df: org.apache.spark.sql.DataFrame) =
        df.groupBy("user_id").agg(expr(
            s"window_funnel($w, '$mode', ts, event_id, " +
              "event_type = 'signup', event_type = 'click', " +
              "event_type = 'purchase')").as("lv"))
          .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      // sorted per-user streams: (us, event_id) total order
      val byUser = rows.groupBy(_._2).map { case (u, evs) =>
        u -> evs.map(r => (r._4.getTime * 1000, r._1, r._3))
          .sortBy(t => (t._1, t._2))
      }
      // strict_order reference: prefix match at each signup over ALL
      // events; window from the chain start
      val stOrder = byUser.map { case (u, evs) =>
        val lv = evs.indices.filter(i => evs(i)._3 == "signup").map { i =>
          var lvl = 1
          if (i + 1 < evs.size && evs(i + 1)._3 == "click" &&
              evs(i + 1)._1 - evs(i)._1 <= w) {
            lvl = 2
            if (i + 2 < evs.size && evs(i + 2)._3 == "purchase" &&
                evs(i + 2)._1 - evs(i)._1 <= w) lvl = 3
          }
          lvl
        }
        u -> (if (lv.isEmpty) 0 else lv.max)
      }
      assert(sqlLv("strict_order", e) == stOrder, s"draw $draw strict_order")
      // strict_dedup reference, the "last of its type before the next
      // step" reading over the condition-filtered stream: has2 = some
      // click whose LAST preceding signup admits it; has3 = some
      // purchase whose LAST preceding click carries a valid chain
      val filt = byUser.map { case (u, evs) =>
        u -> evs.filter(t => t._3 != "view")
      }
      val stDedup = filt.map { case (u, evs) =>
        def lastBefore(i: Int, tp: String): Option[(Long, Long, String)] =
          (0 until i).reverse.map(evs).find(_._3 == tp)
        val has1 = evs.exists(_._3 == "signup")
        def chainOfClick(i: Int): Option[Long] =
          lastBefore(i, "signup").collect {
            case s if evs(i)._1 - s._1 <= w => s._1
          }
        val has2 = evs.indices.exists(i =>
          evs(i)._3 == "click" && chainOfClick(i).isDefined)
        val has3 = evs.indices.exists { i =>
          evs(i)._3 == "purchase" &&
            evs.indices.take(i).reverse.find(j => evs(j)._3 == "click")
              .flatMap(chainOfClick)
              .exists(cs => evs(i)._1 - cs <= w)
        }
        u -> (if (!has1) 0 else 1 + (if (has2) 1 else 0) +
          (if (has2 && has3) 1 else 0))
      }
      val eFilt = e.filter(col("event_type").isin("signup", "click", "purchase"))
      assert(sqlLv("strict_dedup", eFilt) == stDedup, s"draw $draw strict_dedup")
    }
  }

  test("combined 'strict_order,strict_dedup' == interrupt-rule reference; mode order free") {
    import spark.implicits._
    graft.functions.GraftExtensions.register(spark)
    val rnd = new scala.util.Random(1606)
    val types = Seq("signup", "click", "purchase", "view")
    val w = 12L * 3600 * 1000000
    var discriminated = false
    (0 until 3).foreach { draw =>
      val rows = (0 until 500).map { i =>
        val us = (rnd.nextInt(200) * 3600L + rnd.nextInt(4) * 900L) * 1000000
        (i.toLong, rnd.nextInt(10).toLong, types(rnd.nextInt(types.size)),
          new java.sql.Timestamp(us / 1000))
      }
      val e = rows.toDF("event_id", "user_id", "event_type", "ts")
      // overlapping stage 3 (click OR purchase) — the only shape where
      // the dedup interrupt adds to strict_order (under adjacency the
      // last-of-type reading has no room to act)
      def sqlLv(mode: String) =
        e.groupBy("user_id").agg(expr(
            s"window_funnel($w, '$mode', ts, event_id, " +
              "event_type = 'signup', event_type = 'click', " +
              "event_type IN ('click', 'purchase'))").as("lv"))
          .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val byUser = rows.groupBy(_._2).map { case (u, evs) =>
        u -> evs.map(r => (r._4.getTime * 1000, r._1, r._3))
          .sortBy(t => (t._1, t._2))
      }
      // interrupt-rule reference: prefix match; a step-3 click repeats
      // the matched cond2 and interrupts, so step 3 nets to purchase
      val ref = byUser.map { case (u, evs) =>
        val lv = evs.indices.filter(i => evs(i)._3 == "signup").map { i =>
          var lvl = 1
          if (i + 1 < evs.size && evs(i + 1)._3 == "click" &&
              evs(i + 1)._1 - evs(i)._1 <= w) {
            lvl = 2
            if (i + 2 < evs.size && evs(i + 2)._3 == "purchase" &&
                evs(i + 2)._1 - evs(i)._1 <= w) lvl = 3
          }
          lvl
        }
        u -> (if (lv.isEmpty) 0 else lv.max)
      }
      val combined = sqlLv("strict_order,strict_dedup")
      assert(combined == ref, s"draw $draw combined != interrupt reference")
      assert(sqlLv("strict_dedup,strict_order") == combined,
        s"draw $draw: mode order changed the result")
      val so = sqlLv("strict_order")
      assert(combined.forall { case (u, l) => l <= so(u) },
        s"draw $draw: combined exceeded strict_order somewhere")
      if (combined.exists { case (u, l) => l < so(u) }) discriminated = true
    }
    assert(discriminated,
      "streams should contain a signup,click,click chain the interrupt cuts")
  }

  test("sequence_next_node SQL aggregate == o_a21 lead()-window form") {
    import spark.implicits._
    // per-user next node by the aggregate and by the lead() window
    // formulation o_a21 once ran: the first consecutive signup→click
    // pair in (ts, event_id) order, 'NONE' at stream end
    def agg(e: DataFrame) = e.groupBy("user_id")
      .agg(expr("sequence_next_node(ts, event_id, event_type, " +
          "event_type = 'signup', event_type = 'click')").as("nn"))
      .filter(col("nn").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def win(e: DataFrame) = {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      e.withColumn("n1", lead(col("event_type"), 1).over(w))
        .withColumn("n2", lead(col("event_type"), 2).over(w))
        .filter(col("event_type") === "signup" && col("n1") === "click")
        .groupBy("user_id")
        .agg(min_by(coalesce(col("n2"), lit("NONE")),
          struct(col("ts"), col("event_id"))).as("nn"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    graft.functions.GraftExtensions.register(spark)
    // fixture: per-user values, and the catalog key's distribution
    val want = win(fixture)
    assert(agg(fixture) == want)
    val d21 = graft.SparkEntry.queries("o_a21_seq_next_node")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(d21 == want.values.groupBy(identity).map { case (v, vs) => v -> vs.size.toLong })
    assert(d21.size >= 2, "fixture should produce several next-node types")
    // randomized tied streams
    val rnd = new scala.util.Random(1606)
    val types = Seq("signup", "click", "purchase", "view")
    (0 until 3).foreach { draw =>
      val rows = (0 until 400).map { i =>
        val us = (rnd.nextInt(150) * 3600L + rnd.nextInt(4) * 900L) * 1000000
        (i.toLong, rnd.nextInt(10).toLong, types(rnd.nextInt(types.size)),
          new java.sql.Timestamp(us / 1000))
      }
      val e = rows.toDF("event_id", "user_id", "event_type", "ts")
      val (a, b) = (agg(e), win(e))
      assert(a == b, s"draw $draw: agg=${a.toSeq.sorted.take(5)} " +
        s"win=${b.toSeq.sorted.take(5)}")
    }
  }

  test("o_a15b near the epoch: an invalid click must not admit an early purchase") {
    // r16 fuzz catch (pipefuzz seed 23): the dedup funnel's
    // invalid-chain sentinel was 1970-01-01, so on a corpus starting at
    // epoch 0 a purchase within the 12h window OF THE SENTINEL passed
    // `ts <= lc + w` with no valid chain at all — the buffered
    // strict_dedup aggregate rejected it and the differential caught
    // the gap. Plant exactly that shape: click with NO signup before
    // it, purchase 2h later, signup only afterwards.
    import spark.implicits._
    graft.functions.GraftExtensions.register(spark)
    def t(m: Int) = new java.sql.Timestamp(m * 60000L) // minutes from epoch
    val rows = Seq(
      (1L, "click", t(10), 1L, 0.0, "{}"),
      (1L, "purchase", t(130), 2L, 0.0, "{}"),
      (1L, "signup", t(200), 3L, 0.0, "{}"))
      .toDF("user_id", "event_type", "ts", "event_id", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("epochdedup").toString
    rows.write.parquet(s"$dir/events.parquet")
    Seq("o_a15b_funnel_dedup", "o_a15h_funnel_sql_dedup").foreach { k =>
      val out = graft.SparkEntry.queries(k)(spark, dir)
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(out == Map(1 -> 1L),
        s"$k: the chain-less purchase must not raise the level, got $out")
    }
  }

  test("retention SQL aggregate == o_a16 join formulation on the fixture") {
    // the cohort report by the retention aggregate (o_a16/o_a16b) and
    // by the per-stage left joins o_a16 once ran
    def stage(t: String) = fixture.filter(col("event_type") === t).select("user_id", "ts")
    val joined = stage("signup").groupBy("user_id").agg(min("ts").as("t0")).as("f")
      .join(stage("click").as("c"),
        col("c.user_id") === col("f.user_id") && col("c.ts") > col("f.t0") &&
          col("c.ts") <= col("f.t0") + expr("INTERVAL 3 DAYS"), "left")
      .groupBy(col("f.user_id").as("user_id"), col("f.t0").as("t0"))
      .agg(max(when(col("c.ts").isNotNull, 1).otherwise(0)).as("clicked"))
      .as("fc")
      .join(stage("purchase").as("p"),
        col("p.user_id") === col("fc.user_id") && col("p.ts") > col("fc.t0") &&
          col("p.ts") <= col("fc.t0") + expr("INTERVAL 7 DAYS"), "left")
      .groupBy(col("fc.user_id"), col("fc.t0"), col("fc.clicked"))
      .agg(max(when(col("p.ts").isNotNull, 1).otherwise(0)).as("purchased"))
      .groupBy(to_date(col("t0")).as("cohort_date"))
      .agg(count(lit(1)), sum("clicked").cast("long"), sum("purchased").cast("long"))
    def rows(df: DataFrame) = df.collect().map(r => (r.getDate(0).toString,
      r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val a = rows(joined)
    val b = rows(graft.SparkEntry.queries("o_a16b_retention_sql")(spark, sf))
    assert(a == b, s"retention aggregate diverged from the join form:\n" +
      s"only-join: ${(a -- b).take(3)}\nonly-agg: ${(b -- a).take(3)}")
    assert(a.nonEmpty && a.exists(_._3 > 0),
      "fixture should contain retained users")
  }

  test("retention flags: r(0) gates everything; conditions are orderless") {
    import spark.implicits._
    graft.functions.GraftExtensions.register(spark)
    // group 1: cond1 and cond3 seen (cond2 never)  -> [1, 0, 1]
    // group 2: cond2/cond3 seen but cond1 NEVER    -> [0, 0, 0]
    // group 3: cond3 BEFORE cond1 in time          -> [1, 0, 1] (orderless)
    def t(m: Int) = new java.sql.Timestamp(1726300800000L + m * 60000L)
    val rows = Seq(
      (1L, "a", t(0)), (1L, "c", t(1)),
      (2L, "b", t(0)), (2L, "c", t(1)),
      (3L, "c", t(0)), (3L, "a", t(1)))
      .toDF("user_id", "event_type", "ts")
    val got = rows.groupBy("user_id")
      .agg(expr("retention(event_type = 'a', event_type = 'b', " +
        "event_type = 'c')").as("r"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    assert(got == Map(1L -> List(1, 0, 1), 2L -> List(0, 0, 0),
      3L -> List(1, 0, 1)), got.toString)
  }

  test("parametric aggregates: max_events cap fires loudly, naming the library scale path") {
    import spark.implicits._
    import graft.functions.ParametricAgg
    graft.functions.GraftExtensions.register(spark)
    def t(m: Int) = new java.sql.Timestamp(1726300800000L + m * 60000L)
    // one group, 40 condition-matching events — over a cap of 32
    val rows = (0 until 40).map(i =>
      (i.toLong, 1L, if (i % 2 == 0) "signup" else "purchase", t(i)))
      .toDF("event_id", "user_id", "event_type", "ts")
    val conds = "event_type = 'signup', event_type = 'purchase'"
    Seq(
      s"window_funnel(3600000000, ts, $conds)",
      s"window_funnel(3600000000, 'strict_order', ts, event_id, $conds)",
      s"sequence_count(0, ts, event_id, $conds)",
      s"sequence_match(0, ts, $conds)",
      s"sequence_match('(?1).*(?2)', ts, event_id, $conds)",
      s"sequence_next_node('forward', 'first_match', ts, event_id, " +
        s"event_type, $conds)")
      .foreach { agg =>
        // the cap is read when the aggregate is built and ships with
        // it: the query runs outside the override
        val q = ParametricAgg.withMaxEvents(32)(
          rows.groupBy("user_id").agg(expr(agg)))
        val e = intercept[org.apache.spark.SparkException](q.collect())
        val msg = Option(e.getCause).map(_.getMessage).getOrElse(e.getMessage)
        assert(msg != null && msg.contains("maxEventsPerGroup") &&
          msg.contains(agg.takeWhile(_ != '(')) && msg.contains("buffered"),
          s"$agg: cap error must name the function, the count and the cap: $msg")
      }
    // under the cap the same stream still evaluates
    val lv = ParametricAgg.withMaxEvents(64)(rows.groupBy("user_id").agg(
        expr(s"window_funnel(3600000000, ts, $conds)").as("lv")))
      .collect().map(_.getInt(1))
    assert(lv.sameElements(Array(2)))
  }

  test("buffered sequence aggregates: same answers when each group spans several partial buffers") {
    import spark.implicits._
    graft.functions.GraftExtensions.register(spark)
    val rnd = new scala.util.Random(1609)
    val types = Seq("signup", "click", "purchase", "view")
    // 6 users x ~60 events on a 30-minute grid: equal timestamps occur
    // by construction, so the (ts, tie) order matters
    val events = (0 until 360).map { i =>
      (i.toLong, rnd.nextInt(6).toLong, types(rnd.nextInt(types.size)),
        new java.sql.Timestamp(rnd.nextInt(48) * 1800000L))
    }.toDF("event_id", "user_id", "event_type", "ts")
    val c3 = "event_type = 'signup', event_type = 'click', " +
      "event_type = 'purchase'"
    val c2 = "event_type = 'signup', event_type = 'click'"
    val w = 6L * 3600 * 1000000
    val aggs = Seq(
      s"window_funnel($w, ts, $c3)",
      s"window_funnel($w, 'strict_order', ts, event_id, $c3)",
      s"sequence_match($w, ts, $c3)",
      s"sequence_match('(?1)(?t<=7200).*(?2).*(?3)', ts, event_id, $c3)",
      s"sequence_count($w, ts, event_id, $c2)",
      s"sequence_next_node('forward', 'first_match', ts, event_id, " +
        s"event_type, $c2)")
    def run(df: org.apache.spark.sql.DataFrame) = {
      val q = df.groupBy("user_id")
        .agg(expr(aggs.head), aggs.tail.map(a => expr(a)): _*)
      val got = q.collect().map(r =>
        r.getLong(0) -> r.toSeq.tail.map(String.valueOf)).toMap
      (got, q.queryExecution.executedPlan.toString)
    }
    // gated: one partition, so each group reaches merge() as ONE partial
    // buffer merged into an empty one — no exchange in the plan
    val (one, onePlan) = run(events)
    assert(!onePlan.contains("Exchange"), onePlan)
    // gate off, round-robin over 4 partitions: each group's events sit
    // in several partial buffers, serialized through the hash exchange
    // and merged pairwise in the final aggregate
    val (split, splitPlan) = graft.plans.SingleStage.withGateBytes(0) {
      val spread = events.repartition(4)
        .select(col("user_id"), spark_partition_id().as("p"))
        .groupBy("user_id").agg(countDistinct("p"))
        .collect().map(_.getLong(1))
      assert(spread.length == 6 && spread.forall(_ >= 2), spread.toSeq)
      run(events.repartition(4))
    }
    assert(splitPlan.contains("RoundRobinPartitioning(4)") &&
      splitPlan.contains("hashpartitioning(user_id"), splitPlan)
    assert(split == one, s"partitioning changed the answers:\n" +
      s"one partition: $one\nfour partitions: $split")
    // the answers discriminate: a merge that lost events would read a
    // level-1 funnel, no match, no count and no next node
    val cols = aggs.indices.map(i => one.values.map(_(i)).toSet)
    assert(cols(0).exists(_.toInt >= 2) && cols(1).exists(_.toInt >= 2) &&
      cols(2)("true") && cols(3)("true") && cols(4).exists(_.toLong > 0) &&
      cols(5).exists(v => v != "null"), cols)
  }

  test("window_funnel rejects window 0 and bad arity with readable errors") {
    import spark.implicits._
    graft.functions.GraftExtensions.register(spark)
    val e = Seq((1L, "signup", new java.sql.Timestamp(0L)))
      .toDF("user_id", "event_type", "ts")
    // window 0 is degenerate under strict-before ties — rejected at
    // construction (CH's windowFunnel window is mandatory anyway)
    val z = intercept[Exception] {
      e.groupBy("user_id")
        .agg(expr("window_funnel(0, ts, event_type = 'signup')")).collect()
    }
    assert(z.getMessage.contains("must be > 0"), z.getMessage)
    // zero-argument call: readable signature error, not empty.head
    Seq("window_funnel()", "sequence_count(ts)", "sequence_match()")
      .foreach { call =>
        val a = intercept[Exception] {
          e.groupBy("user_id").agg(expr(call)).collect()
        }
        assert(a.getMessage != null && !a.getMessage.contains("empty.head") &&
          a.getMessage.contains("argument"),
          s"$call must fail with a signature message: ${a.getMessage}")
      }
  }

  test("single-stage funnel degenerates to the stage-1 user set at level 1") {
    val lv = perUser(fixture, "window_funnel(3600000000, ts, event_type = 'signup')")(_.getInt(1))
    val signups = fixture.filter(col("event_type") === "signup")
      .select("user_id").distinct().collect().map(_.getLong(0)).toSet
    assert(signups.nonEmpty && lv.filter(_._2 == 1).keySet == signups &&
      lv.values.forall(l => l == 0 || l == 1), lv.toString)
    intercept[Exception] {
      perUser(fixture, "window_funnel(3600000000, ts)")(_.getInt(1))
    }
  }
}
