package graft.perfbench

import java.util.SplittableRandom

/** One instantiated analyst query: template name, SQL text, and the
  * parameters its ground truth needs. */
final case class Query(template: String, sql: String, params: Map[String, Any])

/** The eight ClickHouse-style dashboard templates, their seeded weighted
  * mix, and an oracle that recomputes each answer from the generated
  * events (the generator's ground truth — the engine never sees it). */
object Templates {

  val Watch = "angulak_watch_events"
  val FunnelWindowUs: Long = 3600L * 1000000L

  /** (template, weight): short lookups weigh most, like real dashboards. */
  val weights: Seq[(String, Int)] = Seq(
    "t_range_count" -> 20, "t_user_timeline" -> 20, "t_dau_uniq" -> 10,
    "t_watch_quantiles" -> 10, "t_funnel" -> 10, "t_retention" -> 10,
    "t_topk_limit_by" -> 10, "t_json_details" -> 10)
  val names: Seq[String] = weights.map(_._1)

  /** The tables each template reads (for the traced re-listing probe). */
  def tables(template: String): Seq[String] = template match {
    case "t_dau_uniq" => Seq("login_events")
    case "t_retention" => Seq("session_events")
    case _ => Seq(Watch)
  }

  /** The mix as a fixed weighted cycle; parameters stay seeded. */
  val cycle: IndexedSeq[String] = Gen.cycle(weights)

  private val userZ = new Zipf(3000, 1.1)

  def instantiate(t: String, r: SplittableRandom): Query = {
    val day = r.nextInt(Gen.Days)
    def d(k: Int) = Gen.dateStr(k)
    t match {
      case "t_range_count" =>
        val from = Gen.Base + r.nextInt(Gen.Days * 24) * 3600L
        Query(t, s"SELECT count(*) AS c FROM $Watch WHERE timestamp >= " +
          s"TIMESTAMP '${Gen.tsStr(from)}' AND timestamp < TIMESTAMP '${Gen.tsStr(from + 3600)}'",
          Map("from" -> from))
      case "t_dau_uniq" =>
        val a = r.nextInt(Gen.Days - 1)
        Query(t, s"SELECT event_date, count(DISTINCT user_id) AS dau FROM login_events " +
          s"WHERE event_date >= DATE '${d(a)}' AND event_date <= DATE '${d(a + 1)}' " +
          "GROUP BY event_date ORDER BY event_date", Map("a" -> a))
      case "t_watch_quantiles" =>
        Query(t, s"SELECT item_type, count(*) AS n, percentile(video_position, 0.5) AS p50, " +
          s"percentile(video_position, 0.9) AS p90 FROM $Watch WHERE event_date = DATE '${d(day)}' " +
          "GROUP BY item_type ORDER BY item_type", Map("day" -> day))
      case "t_funnel" =>
        Query(t, "SELECT level, count(*) AS users FROM (SELECT user_id, " +
          s"window_funnel($FunnelWindowUs, timestamp, event_name = 'play', " +
          "event_name = 'progress', event_name = 'complete') AS level " +
          s"FROM $Watch WHERE event_date = DATE '${d(day)}' GROUP BY user_id) f " +
          "GROUP BY level ORDER BY level", Map("day" -> day))
      case "t_retention" =>
        val a = r.nextInt(Gen.Days - 2)
        Query(t, "SELECT sum(r[0]) AS d0, sum(r[1]) AS d1, sum(r[2]) AS d2 FROM (" +
          s"SELECT user_id, retention(event_date = DATE '${d(a)}', event_date = DATE '${d(a + 1)}', " +
          s"event_date = DATE '${d(a + 2)}') AS r FROM session_events " +
          s"WHERE event_date >= DATE '${d(a)}' AND event_date <= DATE '${d(a + 2)}' GROUP BY user_id) t",
          Map("a" -> a))
      case "t_topk_limit_by" =>
        val a = r.nextInt(Gen.Days - 1)
        Query(t, s"SELECT event_date, item_id, count(*) AS c FROM $Watch " +
          s"WHERE event_date >= DATE '${d(a)}' AND event_date <= DATE '${d(a + 1)}' " +
          "GROUP BY event_date, item_id ORDER BY event_date, c DESC, item_id LIMIT 3 BY event_date",
          Map("a" -> a))
      case "t_user_timeline" =>
        val user = f"u${userZ.sample(r)}%05d"
        Query(t, s"SELECT event_id, timestamp, event_name, item_id FROM $Watch " +
          s"WHERE user_id = '$user' AND event_date = DATE '${d(day)}' " +
          "ORDER BY timestamp, event_id LIMIT 20", Map("user" -> user, "day" -> day))
      case "t_json_details" =>
        Query(t, "SELECT get_json_object(event_details, '$.cdn') AS cdn, count(*) AS n, " +
          "sum(CAST(get_json_object(event_details, '$.bitrate') AS BIGINT)) AS kbps " +
          s"FROM $Watch WHERE event_date = DATE '${d(day)}' GROUP BY 1 ORDER BY 1",
          Map("day" -> day))
    }
  }

  /** Spark's exact `percentile`: linear interpolation at (n-1)·p. */
  private def percentile(sorted: Array[Int], p: Double): Double = {
    val pos = (sorted.length - 1) * p
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    if (lo == hi) sorted(lo).toDouble
    else (hi - pos) * sorted(lo) + (pos - lo) * sorted(hi)
  }

  /** Max strict-increase funnel level within the window (CH windowFunnel
    * semantics): stage k extends a stage k-1 chain only from a strictly
    * earlier timestamp and within `window` of the chain's start. */
  private[perfbench] def funnelLevel(evs: Seq[(Long, Int)], stages: Int, windowUs: Long): Int = {
    // best(k): latest start time of any chain reaching level k so far
    val best = Array.fill(stages + 1)(Long.MinValue)
    var level = 0
    evs.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (t, group) =>
      val upd = best.clone()
      group.foreach { case (_, stage) =>
        if (stage == 1) upd(1) = math.max(upd(1), t)
        else if (best(stage - 1) != Long.MinValue && t - best(stage - 1) <= windowUs)
          upd(stage) = math.max(upd(stage), best(stage - 1))
      }
      Array.copy(upd, 0, best, 0, best.length)
      (1 to stages).foreach(k => if (best(k) != Long.MinValue) level = math.max(level, k))
    }
    level
  }

  /** Expected TabSeparated rows for a query over the given events. */
  def expected(q: Query, byTable: Map[String, IndexedSeq[Ev]]): Seq[Seq[String]] = {
    val watch = byTable.getOrElse(Watch, IndexedSeq.empty)
    def onDay(evs: IndexedSeq[Ev], day: Int) = evs.filter(_.day == day)
    q.template match {
      case "t_range_count" =>
        val from = q.params("from").asInstanceOf[Long]
        Seq(Seq(watch.count(e => e.ts >= from && e.ts < from + 3600).toString))
      case "t_dau_uniq" =>
        val a = q.params("a").asInstanceOf[Int]
        val login = byTable.getOrElse("login_events", IndexedSeq.empty)
        (a to a + 1).flatMap { k =>
          val users = onDay(login, k).map(_.str("user_id")).distinct
          if (users.isEmpty) None else Some(Seq(Gen.dateStr(k), users.size.toString))
        }
      case "t_watch_quantiles" =>
        onDay(watch, q.params("day").asInstanceOf[Int]).groupBy(_.str("item_type"))
          .toSeq.sortBy(_._1).map { case (it, evs) =>
            val pos = evs.map(_.get("video_position").asInstanceOf[Int]).toArray.sorted
            Seq(it, pos.length.toString, percentile(pos, 0.5).toString,
              percentile(pos, 0.9).toString)
          }
      case "t_funnel" =>
        val stageOf = Map("play" -> 1, "progress" -> 2, "complete" -> 3)
        onDay(watch, q.params("day").asInstanceOf[Int]).groupBy(_.str("user_id"))
          .values.map { evs =>
            funnelLevel(evs.flatMap(e => stageOf.get(e.str("event_name"))
              .map(s => (e.ts * 1000000L, s))), 3, FunnelWindowUs)
          }.groupBy(identity).toSeq.sortBy(_._1)
          .map { case (lvl, us) => Seq(lvl.toString, us.size.toString) }
      case "t_retention" =>
        val a = q.params("a").asInstanceOf[Int]
        val sess = byTable.getOrElse("session_events", IndexedSeq.empty)
        def users(k: Int) = onDay(sess, k).map(_.str("user_id")).toSet
        val u0 = users(a)
        if (sess.exists(e => e.day >= a && e.day <= a + 2))
          Seq(Seq(u0.size, (u0 & users(a + 1)).size, (u0 & users(a + 2)).size).map(_.toString))
        else Seq(Seq("\\N", "\\N", "\\N"))
      case "t_topk_limit_by" =>
        val a = q.params("a").asInstanceOf[Int]
        (a to a + 1).flatMap { k =>
          onDay(watch, k).groupBy(_.str("item_id")).toSeq
            .map { case (it, evs) => (it, evs.size) }
            .sortBy { case (it, c) => (-c, it) }.take(3)
            .map { case (it, c) => Seq(Gen.dateStr(k), it, c.toString) }
        }
      case "t_user_timeline" =>
        val user = q.params("user").asInstanceOf[String]
        onDay(watch, q.params("day").asInstanceOf[Int]).filter(_.str("user_id") == user)
          .sortBy(e => (e.ts, e.id)).take(20)
          .map(e => Seq(e.id, Gen.tsStr(e.ts), e.str("event_name"), e.str("item_id")))
      case "t_json_details" =>
        val re = """\{"cdn":"([^"]+)","bitrate":(\d+)\}""".r
        onDay(watch, q.params("day").asInstanceOf[Int]).map { e =>
          val re(cdn, br) = e.str("event_details"); (cdn, br.toLong)
        }.groupBy(_._1).toSeq.sortBy(_._1).map { case (cdn, xs) =>
          Seq(cdn, xs.size.toString, xs.map(_._2).sum.toString)
        }
    }
  }

  /** Compare a TabSeparated body with the expected rows; numeric cells
    * compare with a relative tolerance (interpolated percentiles). */
  def matches(body: String, want: Seq[Seq[String]]): Boolean = {
    val got = body.split("\n", -1).toSeq.filter(_.nonEmpty).map(_.split("\t", -1).toSeq)
    def cellEq(a: String, b: String) = a == b || ((a.toDoubleOption, b.toDoubleOption) match {
      case (Some(x), Some(y)) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
      case _ => false
    })
    got.size == want.size && got.zip(want).forall { case (g, w) =>
      g.size == w.size && g.zip(w).forall { case (a, b) => cellEq(a, b) }
    }
  }
}
