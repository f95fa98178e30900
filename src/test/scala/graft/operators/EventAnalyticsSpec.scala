package graft.operators

import graft.TestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class EventAnalyticsSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  private val stages = Seq("signup", "view", "click", "purchase")
  private val windowMicros = 24L * 3600 * 1000000 // 24h in micros

  /** In-memory reference: for each chain start, extend greedily with the
    * earliest feasible event per stage (optimal — the same dominance
    * argument the distributed reduction relies on, executed by a
    * different mechanism entirely). */
  private def bruteLevels(): Map[Long, Int] = {
    val rows = graft.Tables.events(spark, sf)
      .filter(col("event_type").isin(stages: _*))
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    rows.groupBy(_._1).flatMap { case (user, evs) =>
      val byStage = stages.map(st => evs.filter(_._2 == st).map(_._3).sorted)
      if (byStage.head.isEmpty) None
      else {
        val best = byStage.head.map { t1 =>
          var level = 1
          var t = t1
          var blocked = false
          byStage.drop(1).foreach { cand =>
            if (!blocked) cand.find(ts => ts > t && ts <= t1 + windowMicros) match {
              case Some(ts) => t = ts; level += 1
              case None => blocked = true
            }
          }
          level
        }.max
        Some(user -> best)
      }
    }
  }

  test("funnelLevels == brute-force greedy chain search (4 stages, 24h)") {
    val got = EventAnalytics.funnelLevels(graft.Tables.events(spark, sf),
        stages.map(st => col("event_type") === st),
        Some(expr("INTERVAL 24 HOURS")))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val want = bruteLevels()
    assert(got.keySet == want.keySet, "user universe = users with a stage-1 event")
    val diffs = got.collect { case (u, l) if want(u) != l => (u, l, want(u)) }
    assert(diffs.isEmpty, s"level mismatches: $diffs")
    assert(got.values.max >= 3, "fixture should exercise deep chains")
  }

  test("window None == unbounded; levels monotone under window widening") {
    val conds = stages.map(st => col("event_type") === st)
    val e = graft.Tables.events(spark, sf)
    val unbounded = EventAnalytics.funnelLevels(e, conds, None)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val huge = EventAnalytics.funnelLevels(e, conds, Some(expr("INTERVAL 3650 DAYS")))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(unbounded == huge, "a window beyond the data span must equal None")
    val narrow = EventAnalytics.funnelLevels(e, conds, Some(expr("INTERVAL 12 HOURS")))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(narrow.forall { case (u, l) => l <= unbounded(u) },
      "widening the window can only raise levels")
  }

  test("sequenceCount == brute-force greedy automaton") {
    val got = EventAnalytics.sequenceCount(graft.Tables.events(spark, sf),
        col("event_type") === "signup", col("event_type") === "purchase")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = graft.Tables.events(spark, sf)
      .filter(col("event_type").isin("signup", "purchase"))
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val want = rows.groupBy(_._1).map { case (u, evs) =>
      var armed = false
      var n = 0L
      evs.sortBy(e => (e._3, e._4)).foreach {
        case (_, "signup", _, _) => armed = true
        case (_, "purchase", _, _) => if (armed) { n += 1; armed = false }
        case _ => ()
      }
      u -> n
    }
    assert(got == want)
    assert(got.values.max >= 2, "fixture should exercise multi-fire users")
  }

  test("sequenceMatch == funnel completion") {
    val conds = stages.map(st => col("event_type") === st)
    val e = graft.Tables.events(spark, sf)
    val matched = EventAnalytics.sequenceMatch(e, conds, Some(expr("INTERVAL 24 HOURS")))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val levels = EventAnalytics.funnelLevels(e, conds, Some(expr("INTERVAL 24 HOURS")))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(matched.keySet == levels.keySet)
    assert(matched.forall { case (u, m) => m == (if (levels(u) == stages.size) 1 else 0) })
    assert(matched.values.sum > 0, "fixture should contain full matches")
  }

  test("o_a17: a signup TIED to the click's ts must not mask an earlier in-window one") {
    import spark.implicits._
    // user 1: signup 10:00, signup 10:30 (same ts as the click, earlier
    // event_id), click 10:30, purchase 11:00. The EXISTS chain holds via
    // the 10:00 signup; a ROWS-frame max would see 10:30, fail the
    // strict-before check, and wrongly report no match.
    def t(m: Int) = new java.sql.Timestamp(1726300800000L + m * 60000L)
    val rows = Seq(
      (1L, "signup", t(0), 1L, 0.0, "{}"),
      (1L, "signup", t(30), 2L, 0.0, "{}"),
      (1L, "click", t(30), 3L, 0.0, "{}"),
      (1L, "purchase", t(60), 4L, 0.0, "{}"))
      .toDF("user_id", "event_type", "ts", "event_id", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("seqtie").toString
    rows.write.parquet(s"$dir/events.parquet")
    val out = graft.SparkEntry.queries("o_a17_seqmatch")(spark, dir)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(out == Map(1 -> 1L), s"tie-masked match: $out")
  }

  test("funnelLevelsChunked == funnelLevels on the fixture across chunk sizes") {
    // the chunked decomposition's whole contract: same answer as the
    // plain windowed funnel, including the chunk == window edge (every
    // event duplicated into the previous chunk's tail) and chunk >>
    // window (few chunks, mostly the plain shape)
    val stageCols = Seq(col("event_type") === "signup",
      col("event_type") === "view", col("event_type") === "click",
      col("event_type") === "purchase")
    val e = graft.Tables.events(spark, sf)
    val plain = EventAnalytics.funnelLevels(e, stageCols,
        Some(expr("INTERVAL 24 HOURS")))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(plain.nonEmpty)
    Seq(windowMicros, 2 * windowMicros, 7 * windowMicros).foreach { chunk =>
      val chunked = EventAnalytics.funnelLevelsChunked(e, stageCols,
          windowMicros, chunk)
        .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
      assert(chunked == plain,
        s"chunk=$chunk diverged: " +
          s"${(chunked.toSet -- plain.toSet).take(5)} / " +
          s"${(plain.toSet -- chunked.toSet).take(5)}")
    }
  }

  test("funnelLevelsChunked == funnelLevels on randomized event streams") {
    // random users × random event types × timestamps clustered AND
    // spread so chains regularly straddle raw chunk boundaries — the
    // overlap logic is the thing under test
    import spark.implicits._
    val rnd = new scala.util.Random(1501)
    val types = Seq("signup", "view", "click", "purchase", "scroll")
    val stageCols = Seq(col("event_type") === "signup",
      col("event_type") === "click", col("event_type") === "purchase")
    (0 until 3).foreach { draw =>
      val rows = (0 until 600).map { i =>
        val user = rnd.nextInt(12).toLong
        // mixture: half tight bursts (chains), half uniform spread
        val base = rnd.nextInt(40).toLong * 6L * 3600 * 1000000
        val us = if (rnd.nextBoolean()) base + rnd.nextInt(14 * 3600).toLong * 1000000
                 else rnd.nextLong(240L * 3600 * 1000000)
        (i.toLong, user, types(rnd.nextInt(types.size)),
          new java.sql.Timestamp(us / 1000))
      }
      val e = rows.toDF("event_id", "user_id", "event_type", "ts")
      val w = 12L * 3600 * 1000000
      val plain = EventAnalytics.funnelLevels(e, stageCols,
          Some(expr("INTERVAL 12 HOURS")))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
      Seq(w, w + 1, 3 * w).foreach { chunk =>
        val chunked = EventAnalytics.funnelLevelsChunked(e, stageCols,
            w, chunk)
          .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
        assert(chunked == plain,
          s"draw $draw chunk=$chunk diverged: " +
            s"${(chunked.toSet -- plain.toSet).take(5)} / " +
            s"${(plain.toSet -- chunked.toSet).take(5)}")
      }
    }
  }

  test("funnelLevelsChunked refuses a chunk smaller than the window") {
    val e = graft.Tables.events(spark, sf)
    intercept[IllegalArgumentException] {
      EventAnalytics.funnelLevelsChunked(e,
        Seq(col("event_type") === "signup", col("event_type") === "click"),
        windowMicros, windowMicros - 1)
    }
  }

  test("sequenceCountWindowed == brute-force windowed automaton; bound filters") {
    val w = 12L * 3600 * 1000000
    val got = EventAnalytics.sequenceCountWindowed(graft.Tables.events(spark, sf),
        col("event_type") === "signup", col("event_type") === "purchase", w)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = graft.Tables.events(spark, sf)
      .filter(col("event_type").isin("signup", "purchase"))
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // reference: adjacent-pair scan with the gap bound — fire iff the
    // immediately preceding condition event is an un-consumed signup
    // within w (the '(?1)(?t<=w)(?2)' reading)
    val want = rows.groupBy(_._1).map { case (u, evs) =>
      var n = 0L
      evs.sortBy(e => (e._3, e._4)).foldLeft(Option.empty[(String, Long)]) {
        case (prev, (_, t, us, _)) =>
          if (t == "purchase" && prev.exists(p => p._1 == "signup" && us <= p._2 + w))
            n += 1
          Some((t, us))
      }
      u -> n
    }
    assert(got == want)
    val unbounded = EventAnalytics.sequenceCount(graft.Tables.events(spark, sf),
        col("event_type") === "signup", col("event_type") === "purchase")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.forall { case (u, n) => n <= unbounded(u) },
      "the gap bound can only drop pairs")
    assert(got.values.sum < unbounded.values.sum,
      "fixture should contain pairs the 12h bound expires")
  }

  test("sequenceCountChunked == sequenceCountWindowed on the fixture across chunk sizes") {
    val w = 12L * 3600 * 1000000
    val e = graft.Tables.events(spark, sf)
    val first = col("event_type") === "signup"
    val second = col("event_type") === "purchase"
    val plain = EventAnalytics.sequenceCountWindowed(e, first, second, w)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(plain.nonEmpty)
    Seq(w, 2 * w, 11 * w).foreach { chunk =>
      val chunked = EventAnalytics.sequenceCountChunked(e, first, second, w, chunk)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(chunked == plain,
        s"chunk=$chunk diverged: " +
          s"${(chunked.toSet -- plain.toSet).take(5)} / " +
          s"${(plain.toSet -- chunked.toSet).take(5)}")
    }
    intercept[IllegalArgumentException] {
      EventAnalytics.sequenceCountChunked(e, first, second, w, w - 1)
    }
  }

  test("sequenceCountChunked == sequenceCountWindowed on randomized event streams") {
    // pairs regularly straddle raw chunk boundaries; the charge-to-the-
    // a's-primary-chunk rule and the overlap copy are the things under
    // test (a double-count or a boundary miss shows up as a sum, not a
    // max, so this family is MORE sensitive to charging bugs than the
    // funnel's flag-max)
    import spark.implicits._
    val rnd = new scala.util.Random(1502)
    val types = Seq("signup", "purchase", "view")
    val first = col("event_type") === "signup"
    val second = col("event_type") === "purchase"
    (0 until 3).foreach { draw =>
      val rows = (0 until 600).map { i =>
        val user = rnd.nextInt(10).toLong
        val base = rnd.nextInt(40).toLong * 6L * 3600 * 1000000
        val us = if (rnd.nextBoolean()) base + rnd.nextInt(14 * 3600).toLong * 1000000
                 else rnd.nextLong(240L * 3600 * 1000000)
        (i.toLong, user, types(rnd.nextInt(types.size)),
          new java.sql.Timestamp(us / 1000))
      }
      val e = rows.toDF("event_id", "user_id", "event_type", "ts")
      val w = 12L * 3600 * 1000000
      val plain = EventAnalytics.sequenceCountWindowed(e, first, second, w)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      Seq(w, w + 1, 3 * w).foreach { chunk =>
        val chunked = EventAnalytics.sequenceCountChunked(e, first, second, w, chunk)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        assert(chunked == plain,
          s"draw $draw chunk=$chunk diverged: " +
            s"${(chunked.toSet -- plain.toSet).take(5)} / " +
            s"${(plain.toSet -- chunked.toSet).take(5)}")
      }
    }
  }

  test("window_funnel SQL aggregate == funnelLevels (4 stages, fixture)") {
    graft.functions.GraftExtensions.register(spark)
    val e = graft.Tables.events(spark, sf)
    val sqlLv = e.groupBy("user_id").agg(expr(
        "window_funnel(86400000000, ts, event_type = 'signup', " +
          "event_type = 'view', event_type = 'click', " +
          "event_type = 'purchase')").as("lv"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val df = EventAnalytics.funnelLevels(e,
        stages.map(st => col("event_type") === st),
        Some(expr("INTERVAL 24 HOURS")))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // funnelLevels reports stage-1 users; the aggregate reports every
    // grouped user, level 0 for the rest — the two mechanisms (buffered
    // dominance pass vs stacked RANGE-frame chain columns) must agree
    // exactly on the shared domain
    assert(df.keySet.subsetOf(sqlLv.keySet))
    val diffs = df.collect { case (u, l) if sqlLv(u) != l => (u, l, sqlLv(u)) }
    assert(diffs.isEmpty, s"level mismatches: ${diffs.take(5)}")
    assert(sqlLv.filterNot(kv => df.contains(kv._1)).values.forall(_ == 0),
      "non-stage-1 users must read level 0")
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
    graft.functions.GraftExtensions.register(spark)
    val rnd = new scala.util.Random(1503)
    val types = Seq("signup", "view", "click", "purchase", "scroll")
    val stageCols = Seq(col("event_type") === "signup",
      col("event_type") === "click", col("event_type") === "purchase")
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
      val sqlLv = e.groupBy("user_id").agg(expr(
          "window_funnel(43200000000, ts, event_type = 'signup', " +
            "event_type = 'click', event_type = 'purchase')").as("lv"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val df = EventAnalytics.funnelLevels(e, stageCols,
          Some(expr("INTERVAL 12 HOURS")))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val diffs = df.collect { case (u, l) if sqlLv(u) != l => (u, l, sqlLv(u)) }
      assert(diffs.isEmpty, s"draw $draw mismatches: ${diffs.take(5)}")
      assert(sqlLv.filterNot(kv => df.contains(kv._1)).values.forall(_ == 0),
        s"draw $draw: non-stage-1 users must read level 0")
    }
  }

  test("sequence_count SQL aggregate == library forms, unbounded and windowed") {
    import spark.implicits._
    graft.functions.GraftExtensions.register(spark)
    val w = 12L * 3600 * 1000000
    val first = col("event_type") === "signup"
    val second = col("event_type") === "purchase"
    def sqlCounts(e: org.apache.spark.sql.DataFrame, win: Long) =
      e.filter(first || second).groupBy("user_id")
        .agg(expr(s"sequence_count($win, ts, event_id, " +
            "event_type = 'signup', event_type = 'purchase')")
          .as("c"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // fixture, both windows
    val e0 = graft.Tables.events(spark, sf)
    assert(sqlCounts(e0, 0) ==
      EventAnalytics.sequenceCount(e0, first, second)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(sqlCounts(e0, w) ==
      EventAnalytics.sequenceCountWindowed(e0, first, second, w)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
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
      assert(sqlCounts(e, 0) ==
        EventAnalytics.sequenceCount(e, first, second)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
        s"draw $draw unbounded diverged")
      assert(sqlCounts(e, w) ==
        EventAnalytics.sequenceCountWindowed(e, first, second, w)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
        s"draw $draw windowed diverged")
    }
  }

  test("sequence_match SQL aggregate == library sequenceMatch, unbounded and windowed") {
    import spark.implicits._
    graft.functions.GraftExtensions.register(spark)
    val stageCols = Seq(col("event_type") === "signup",
      col("event_type") === "click", col("event_type") === "purchase")
    def sqlMatched(e: org.apache.spark.sql.DataFrame, win: Long) =
      e.filter(col("event_type").isin("signup", "click", "purchase"))
        .groupBy("user_id")
        .agg(expr(s"sequence_match($win, ts, event_type = 'signup', " +
            "event_type = 'click', event_type = 'purchase')")
          .cast("int").as("m"),
          max(when(col("event_type") === "signup", 1).otherwise(0)).as("h"))
        .filter(col("h") === 1)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    def libMatched(e: org.apache.spark.sql.DataFrame,
                   w: Option[org.apache.spark.sql.Column]) =
      EventAnalytics.sequenceMatch(e, stageCols, w)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val e0 = graft.Tables.events(spark, sf)
    assert(sqlMatched(e0, 0) == libMatched(e0, None))
    assert(sqlMatched(e0, 43200000000L) ==
      libMatched(e0, Some(expr("INTERVAL 12 HOURS"))))
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
      assert(sqlMatched(e, 0) == libMatched(e, None),
        s"draw $draw unbounded diverged")
      assert(sqlMatched(e, 43200000000L) ==
        libMatched(e, Some(expr("INTERVAL 12 HOURS"))),
        s"draw $draw windowed diverged")
    }
  }

  test("window_funnel mode aggregates == o_a15d / o_a15b catalog forms on the fixture") {
    graft.functions.GraftExtensions.register(spark)
    def dist(k: String) = graft.SparkEntry.queries(k)(spark, sf)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(dist("o_a15g_funnel_sql_strict") == dist("o_a15d_funnel_strict"))
    assert(dist("o_a15h_funnel_sql_dedup") == dist("o_a15b_funnel_dedup"))
    assert(dist("o_a15d_funnel_strict").size >= 2,
      "fixture should discriminate strict_order levels")
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
    graft.functions.GraftExtensions.register(spark)
    // fixture: the two catalog keys must agree exactly
    def dist(k: String) = graft.SparkEntry.queries(k)(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val d21 = dist("o_a21_seq_next_node")
    assert(dist("o_a21b_seq_next_node_sql") == d21)
    assert(d21.size >= 2, "fixture should produce several next-node types")
    // randomized tied streams: per-user values vs the window formulation
    val rnd = new scala.util.Random(1606)
    val types = Seq("signup", "click", "purchase", "view")
    (0 until 3).foreach { draw =>
      val rows = (0 until 400).map { i =>
        val us = (rnd.nextInt(150) * 3600L + rnd.nextInt(4) * 900L) * 1000000
        (i.toLong, rnd.nextInt(10).toLong, types(rnd.nextInt(types.size)),
          new java.sql.Timestamp(us / 1000))
      }
      val e = rows.toDF("event_id", "user_id", "event_type", "ts")
      val agg = e.groupBy("user_id")
        .agg(expr("sequence_next_node(ts, event_id, event_type, " +
            "event_type = 'signup', event_type = 'click')").as("nn"))
        .filter(col("nn").isNotNull)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val win = e
        .withColumn("n1", lead(col("event_type"), 1).over(w))
        .withColumn("n2", lead(col("event_type"), 2).over(w))
        .filter(col("event_type") === "signup" && col("n1") === "click")
        .groupBy("user_id")
        .agg(min_by(coalesce(col("n2"), lit("NONE")),
          struct(col("ts"), col("event_id"))).as("nn"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(agg == win, s"draw $draw: agg=${agg.toSeq.sorted.take(5)} " +
        s"win=${win.toSeq.sorted.take(5)}")
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
    graft.functions.GraftExtensions.register(spark)
    val a = graft.SparkEntry.queries("o_a16_retention")(spark, sf)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val b = graft.SparkEntry.queries("o_a16b_retention_sql")(spark, sf)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
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
          msg.contains("graft.operators.EventAnalytics"),
          s"$agg: cap error must name the cap and the library scale path: $msg")
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
    val lv = EventAnalytics.funnelLevels(graft.Tables.events(spark, sf),
      Seq(col("event_type") === "signup"), None).collect()
    assert(lv.nonEmpty && lv.forall(_.getInt(1) == 1))
    intercept[IllegalArgumentException] {
      EventAnalytics.funnelLevels(graft.Tables.events(spark, sf), Seq.empty, None)
    }
  }
}
