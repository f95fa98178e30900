package graft.operators

import graft.Tables
import graft.functions.GraftExtensions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ClickHouse's event-analytics catalog — `windowFunnel`,
  * `sequenceMatch`, `sequenceCount`, `sequenceNextNode` and
  * `retention`, the queries the reference's 9 event tables exist to
  * serve (CH 22.3 [implied]; a video-streaming product's
  * signup→engage→convert reporting over the migration DDLs' ORDER BY
  * (timestamp, event_name) layouts).
  *
  * Each contract has one implementation, the SQL aggregate in
  * [[graft.functions]] (`window_funnel`, `sequence_match`,
  * `sequence_count`, `sequence_next_node`, `retention`), as in
  * ClickHouse. Every key below groups the events by user, evaluates one
  * such aggregate and counts users per value; keys that name the same
  * contract share one query. Each key's DuckDB oracle in [[oracles]]
  * re-derives the answer with joins or window functions, so the
  * differential compare checks the aggregate against an independent
  * formulation. [[Reference]] holds in-memory brute-force references
  * for the random-window fuzz and the specs.
  *
  * Semantics are chosen to be EXACTLY SQL-expressible (so every key is
  * fully DuckDB-oracled, unlike CH's greedy cursor variant whose
  * tie-handling is engine-private):
  *  - funnel level (window w): level >= k iff an increasing-timestamp
  *    chain e1 < e2 < ... < ek exists with the k stage predicates and
  *    ek.ts <= e1.ts + w (the EXISTS-chain reading of windowFunnel);
  *  - retention: per cohort (first-signup date), the share of users with
  *    a follow-up event inside a fixed horizon after their first signup.
  *
  * Scale shape: one user_id-keyed exchange per key; the aggregate
  * buffers a user's events, capped per group by
  * [[graft.functions.ParametricAgg]] (retention keeps O(1) state).
  */
object EventAnalytics {
  type Q = (SparkSession, String) => DataFrame

  /** The shape every key shares: group the events (only `types`, when
    * given) by user, evaluate the SQL aggregate `agg` as `out`, keep the
    * users `keep` admits and count users per value of `out`.
    * `signupUsers` narrows the result to users with a signup, the
    * stage-1 universe of the sequence_match keys. */
  private def usersPerValue(out: String, agg: String,
                            types: Seq[String] = Nil,
                            keep: Column = lit(true),
                            signupUsers: Boolean = false): Q = (s, d) => {
    GraftExtensions.register(s)
    val e = Tables.events(s, d)
    val in = if (types.isEmpty) e else e.filter(col("event_type").isin(types: _*))
    val signup = max(when(col("event_type") === "signup", 1).otherwise(0))
    val perUser =
      if (signupUsers)
        in.groupBy("user_id").agg(expr(agg).as(out), signup.as("_h"))
          .filter(keep && col("_h") === 1)
      else in.groupBy("user_id").agg(expr(agg).as(out)).filter(keep)
    perUser.groupBy(out).agg(count(lit(1)).as("n_users")).orderBy(out)
  }

  private val chainTypes = Seq("signup", "click", "purchase")
  private val pairTypes = Seq("signup", "purchase")
  private val reached = col("funnel_level") >= 1
  private val found = col("next_node").isNotNull

  /** windowFunnel(12 hours)(signup, click, purchase). 12h picked because
    * it yields all three levels at every test SF (7 days saturates:
    * every signup converts). The aggregate returns level 0 for users
    * with no signup; they are outside the funnel's universe. */
  private val funnel3 = usersPerValue("funnel_level",
    "window_funnel(43200000000, ts, event_type = 'signup', " +
      "event_type = 'click', event_type = 'purchase')", keep = reached)

  /** windowFunnel(12h, 'strict_dedup'): consecutive-step dedup — each
    * step's event must be the LAST of its type before the next step's
    * event, over the condition types only. */
  private val funnelDedup = usersPerValue("funnel_level",
    "window_funnel(43200000000, 'strict_dedup', ts, event_id, " +
      "event_type = 'signup', event_type = 'click', " +
      "event_type = 'purchase')", types = chainTypes, keep = reached)

  /** windowFunnel(12h, 'strict_order'): no interventions — any other
    * event between two steps breaks the chain, so it runs over ALL
    * events (CH doc example: A->B->D->C stops at D with level 2). */
  private val funnelStrict = usersPerValue("funnel_level",
    "window_funnel(43200000000, 'strict_order', ts, event_id, " +
      "event_type = 'signup', event_type = 'click', " +
      "event_type = 'purchase')", keep = reached)

  /** CH sequenceCount, pattern '(?1).*(?2)': GREEDY non-overlapping
    * signup→purchase occurrences per user, over users with either event. */
  private val seqCount = usersPerValue("seq_count",
    "sequence_count(0, ts, event_id, " +
      "event_type = 'signup', event_type = 'purchase')", types = pairTypes)

  /** CH sequenceCount, pattern '(?1)(?t<=12h)(?2)': adjacent
    * signup→purchase pairs at most 12h apart. 12h picked like the
    * funnel's window: it splits the fixture's pairs into fired and
    * expired at every test SF. */
  private val seqCount12h = usersPerValue("seq_count",
    "sequence_count(43200000000, ts, event_id, " +
      "event_type = 'signup', event_type = 'purchase')", types = pairTypes)

  /** sequenceNextNode(forward, first_match): per user, the event type
    * immediately after the FIRST consecutive signup→click pair in the
    * full stream ('NONE' at stream end; NULL = no pair, out of the
    * universe). */
  private val seqNextNode = usersPerValue("next_node",
    "sequence_next_node(ts, event_id, event_type, " +
      "event_type = 'signup', event_type = 'click')", keep = found)

  /** retention(cond1, …, condN): per first-signup cohort date, users
    * returning with a click within 3 days / purchasing within 7 days.
    * Time enters through the conditions (the CH idiom — `ts <= t0 +
    * INTERVAL 3 DAYS` predicates against the user's first-signup time),
    * and r[0] is always 1 on this universe because every user's t0 row
    * satisfies cond1. One user-keyed min-agg and one user-keyed join +
    * group riding the same partitioning, O(1) bitmask state per user. */
  private val retention: Q = (s, d) => {
    GraftExtensions.register(s)
    val e = Tables.events(s, d)
    val t0 = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("t0"))
    e.join(t0, "user_id")
      .groupBy(col("user_id"), col("t0"))
      .agg(expr(
        "retention(event_type = 'signup' AND ts = t0, " +
          "event_type = 'click' AND ts > t0 AND ts <= t0 + INTERVAL 3 DAYS, " +
          "event_type = 'purchase' AND ts > t0 AND ts <= t0 + INTERVAL 7 DAYS)")
        .as("r"))
      .groupBy(to_date(col("t0")).as("cohort_date"))
      .agg(count(lit(1)).as("n_users"),
        sum(expr("r[1]")).cast("long").as("n_clicked"),
        sum(expr("r[2]")).cast("long").as("n_purchased"))
      .orderBy("cohort_date")
  }

  /** A sequence_match key over the signup/click/purchase stream, with
    * 0/1 per signup user. */
  private def seqMatch(agg: String): Q = usersPerValue("matched",
    s"CAST($agg AS INT)", types = chainTypes, signupUsers = true)

  val queries: Map[String, Q] = Map(
    // O-A15: windowFunnel(12h)(signup -> click -> purchase). O-A15e named
    // the time-chunked whale plan and O-A15f the SQL surface; the
    // aggregate is the one implementation, so all three run it and
    // share one oracle.
    "o_a15_funnel" -> funnel3,
    "o_a15e_funnel_chunked" -> funnel3,
    "o_a15f_funnel_sql" -> funnel3,

    // O-A15c: four stages — signup→view→click→purchase inside 24h.
    "o_a15c_funnel_4stage" -> usersPerValue("funnel_level",
      "window_funnel(86400000000, ts, event_type = 'signup', " +
        "event_type = 'view', event_type = 'click', " +
        "event_type = 'purchase')", keep = reached),

    // O-A15b/h: strict_dedup mode; O-A15d/g: strict_order mode. Ordering
    // is the (ts, event_id) total order — deterministic under timestamp
    // ties, pinned identically in the oracles (CH's greedy cursor leaves
    // tie order engine-private; ours is part of the contract).
    "o_a15b_funnel_dedup" -> funnelDedup,
    "o_a15h_funnel_sql_dedup" -> funnelDedup,
    "o_a15d_funnel_strict" -> funnelStrict,
    "o_a15g_funnel_sql_strict" -> funnelStrict,

    // O-A15i: COMBINED modes — windowFunnel(w, 'strict_order,
    // strict_dedup') (CH accepts comma-joined modes): the consecutive
    // chain with the deduplication INTERRUPT rule — a step candidate
    // also satisfying an already-matched condition kills the chain.
    // Discriminating needs OVERLAPPING conditions (stage 3 here accepts
    // click OR purchase): signup→click→click reads level 3 under
    // strict_order alone but the second click repeats the matched
    // cond2 and interrupts at 2 under the combination.
    "o_a15i_funnel_sql_combined" -> usersPerValue("funnel_level",
      "window_funnel(43200000000, 'strict_order,strict_dedup', ts, " +
        "event_id, event_type = 'signup', event_type = 'click', " +
        "event_type IN ('click', 'purchase'))", keep = reached),

    // O-A21/b: sequenceNextNode(forward, first_match) — CH's "what
    // happens NEXT after a pattern", the exploratory sibling of
    // sequenceMatch. Buffers every row (adjacency in the full stream,
    // like strict_order).
    "o_a21_seq_next_node" -> seqNextNode,
    "o_a21b_seq_next_node_sql" -> seqNextNode,

    // O-A21c: sequenceNextNode(backward, first_match) — "what happened
    // BEFORE the pattern": per user, traversal is time-DESCENDING, the
    // chain is purchase-then-click in traversal order (= a click
    // immediately before a purchase in time, adjacency in the FULL
    // stream), first_match = the time-LATEST such pair, and the result
    // is the value of the event just before the click in time ('NONE'
    // when the click opens the stream).
    "o_a21c_seq_next_node_backward" -> usersPerValue("prev_node",
      "sequence_next_node('backward', 'first_match', ts, event_id, " +
        "event_type, event_type = 'purchase', event_type = 'click')",
      keep = col("prev_node").isNotNull),

    // O-A21d: sequenceNextNode(forward, head) — the chain must match at
    // the stream HEAD: for users whose time-FIRST event is a signup,
    // what do they do next ('NONE' for the one-event stream)? The
    // canonical CH head query (tail/last_match are spec-pinned vs a
    // brute-force reference on randomized tied streams).
    "o_a21d_seq_next_node_head" -> usersPerValue("next_node",
      "sequence_next_node('forward', 'head', ts, event_id, " +
        "event_type, event_type = 'signup')", keep = found),

    // O-A21e: CH's FULL sequenceNextNode signature — the base_condition
    // positional argument (registered as sequence_next_node_base) gates
    // the ANCHOR event: the first adjacent signup→click pair whose
    // SIGNUP also carries value > 50 ("chains starting from a qualified
    // event"). NULL value reads false like the chain conditions.
    "o_a21e_seq_next_node_base" -> usersPerValue("next_node",
      "sequence_next_node_base('forward', 'first_match', ts, " +
        "event_id, event_type, value > 50, " +
        "event_type = 'signup', event_type = 'click')", keep = found),

    // O-A17: per signup user, 1 iff a click occurs within 1 hour AFTER
    // a signup and a purchase occurs any time after that click — an
    // EXISTS chain strict in ts at both steps. The pattern grammar
    // chains in (ts, tie) order and lets tied events chain with gap 0,
    // so the tie column sorts clicks BEFORE signups and purchases at an
    // equal ts: a signup tied to a click then follows it and cannot
    // open its chain, which makes '(?t<=3600)' the strict 0 < gap <= 1h
    // bound, while '(?t>0)' makes the purchase strictly later. Ties
    // within one type, or between signup and purchase, are never steps
    // of one gap, so their order does not matter.
    "o_a17_seqmatch" -> seqMatch(
      "sequence_match('(?1)(?t<=3600).*(?2)(?t>0).*(?3)', ts, " +
        "CASE WHEN event_type = 'click' THEN 0L ELSE 1L END, " +
        "event_type = 'signup', event_type = 'click', " +
        "event_type = 'purchase')"),

    // O-A17b: funnel completion at the 12h chain-start bound. The
    // unbounded `.*` mode exists (window_us = 0) but SATURATES this
    // fixture's long per-user streams to all-matched, so the catalog
    // pins the bounded instance where the differential discriminates.
    "o_a17b_seqmatch_sql" -> seqMatch(
      "sequence_match(43200000000, ts, event_type = 'signup', " +
        "event_type = 'click', event_type = 'purchase')"),

    // O-A17c: the FULL CH pattern grammar — per-gap time bounds,
    // '(?1)(?t<=43200)(?2)(?t>600)(?3)': a click DIRECTLY following the
    // signup in the condition-filtered stream (CH adjacency — an
    // intervening signup/click/purchase breaks it) within 12h, then a
    // purchase directly after the click and MORE than 10 minutes later.
    // Neither bound is a chain-start window, so the funnel-completion
    // form (o_a17b) cannot express this.
    "o_a17c_seqmatch_gaps" -> seqMatch(
      "sequence_match('(?1)(?t<=43200)(?2)(?t>600)(?3)', ts, " +
        "event_id, event_type = 'signup', event_type = 'click', " +
        "event_type = 'purchase')"),

    // O-A17d: strict-next '.' — '(?1).*(?2)(?t<=14400).(?3)': a signup
    // anywhere before a click, then a purchase with EXACTLY ONE
    // buffered event between it and the click ('.' matches one
    // condition-matching event; rows matching no condition are
    // invisible, the CH ignore rule) and at most 4h later (the
    // unbounded '.' saturates these long per-user streams).
    "o_a17d_seqmatch_strictnext" -> seqMatch(
      "sequence_match('(?1).*(?2)(?t<=14400).(?3)', ts, event_id, " +
        "event_type = 'signup', event_type = 'click', " +
        "event_type = 'purchase')"),

    // O-A17e: pattern-grammar NEGATION — '(?1)(?!2)(?t<=14400).*(?3)':
    // a purchase at most 4h after a signup with NO click strictly
    // between them (the churn-style "X not followed by Y before Z"
    // query). The 4h bound keeps the fixture discriminating.
    "o_a17e_seqmatch_negation" -> seqMatch(
      "sequence_match('(?1)(?!2)(?t<=14400).*(?3)', ts, event_id, " +
        "event_type = 'signup', event_type = 'click', " +
        "event_type = 'purchase')"),

    // O-A18/d: CH sequenceCount, pattern '(?1).*(?2)'; O-A18b/c/e: the
    // time-constrained '(?1)(?t<=12h)(?2)'. O-A18c named the
    // time-chunked whale plan, O-A18d/e the SQL surface.
    "o_a18_seqcount" -> seqCount,
    "o_a18d_seqcount_sql" -> seqCount,
    "o_a18b_seqcount_windowed" -> seqCount12h,
    "o_a18c_seqcount_chunked" -> seqCount12h,
    "o_a18e_seqcount_sql_windowed" -> seqCount12h,

    // O-A16/b: cohort retention.
    "o_a16_retention" -> retention,
    "o_a16b_retention_sql" -> retention
  )

  /** In-memory brute-force references for the chain contracts, over one
    * user's events sorted by (ts, event_id). They share no code with the
    * SQL aggregates, so `graft.FuzzParametric` and the specs use them as
    * the oracle of `window_funnel`, `sequence_match` and
    * `sequence_count` at any window. The funnel search is quadratic per
    * user: meant for corpora of a few thousand events. */
  private[graft] object Reference {
    final case class Event(us: Long, id: Long, kind: String)

    /** Per-user events of `df` (user_id, ts, event_id, event_type) in
      * (ts, event_id) order; rows with a NULL ts are skipped, as the
      * aggregates skip them. */
    def byUser(df: DataFrame): Map[Long, IndexedSeq[Event]] =
      df.select(col("user_id"), unix_micros(col("ts")), col("event_id"),
          col("event_type"))
        .collect()
        .filter(r => !r.isNullAt(1))
        .groupBy(_.getLong(0))
        .map { case (u, rs) =>
          u -> rs.map(r => Event(r.getLong(1), r.getLong(2), r.getString(3)))
            .sortBy(e => (e.us, e.id)).toIndexedSeq
        }

    /** EXISTS-chain funnel level: the largest k such that events of
      * `stages(0)` … `stages(k-1)` exist with strictly increasing ts and
      * the last within `window` micros of the first (None = unbounded);
      * 0 without a stage-1 event. For each chain start it extends
      * greedily with the earliest feasible event per stage, which is
      * optimal: an earlier step only widens the choices of the next. */
    def chainLevel(evs: Seq[Event], stages: Seq[String],
                   window: Option[Long]): Int = {
      val byStage = stages.map(st => evs.filter(_.kind == st).map(_.us))
      byStage.head.map { t1 =>
        val limit = window.fold(Long.MaxValue)(t1 + _)
        var t = t1
        var level = 1
        var open = true
        for (cand <- byStage.tail if open)
          cand.find(us => us > t && us <= limit) match {
            case Some(us) => t = us; level += 1
            case None => open = false
          }
        level
      }.maxOption.getOrElse(0)
    }

    /** sequence_match's funnel-completion form: the chain reaches the
      * last stage. */
    def chainMatched(evs: Seq[Event], stages: Seq[String],
                     window: Option[Long]): Boolean =
      chainLevel(evs, stages, window) == stages.size

    /** The greedy sequenceCount automaton over the `first`/`second`
      * events: `first` arms (a later `first` re-arms at its own time),
      * `second` fires when armed within `window` micros of the arming
      * event (None = unbounded) and always disarms. */
    def pairCount(evs: Seq[Event], first: String, second: String,
                  window: Option[Long]): Long = {
      var armedAt = Option.empty[Long]
      var n = 0L
      evs.foreach { e =>
        if (e.kind == first) armedAt = Some(e.us)
        else if (e.kind == second) {
          if (armedAt.exists(a => window.forall(e.us <= a + _))) n += 1
          armedAt = None
        }
      }
      n
    }
  }

  /** The 3-stage 12h funnel oracle — shared by o_a15_funnel, o_a15e
    * and o_a15f, which run one query. */
  private val funnel3OracleSql =
      """WITH s AS (SELECT user_id, ts FROM events WHERE event_type = 'signup'),
            c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
            p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
            l2p AS (
              SELECT s.user_id, s.ts AS t1, c.ts AS t2
              FROM s JOIN c ON c.user_id = s.user_id
                AND c.ts > s.ts AND c.ts <= s.ts + INTERVAL 12 HOUR),
            l2 AS (SELECT DISTINCT user_id FROM l2p),
            l3 AS (
              SELECT DISTINCT l.user_id
              FROM l2p l JOIN p ON p.user_id = l.user_id
                AND p.ts > l.t2 AND p.ts <= l.t1 + INTERVAL 12 HOUR),
            u AS (SELECT DISTINCT user_id FROM s)
         SELECT CAST(1 + (l2.user_id IS NOT NULL)::INT + (l3.user_id IS NOT NULL)::INT AS INT)
                  AS funnel_level,
                COUNT(*) AS n_users
         FROM u LEFT JOIN l2 USING (user_id) LEFT JOIN l3 USING (user_id)
         GROUP BY funnel_level ORDER BY funnel_level"""

  /** The unbounded greedy pair-count oracle — shared by o_a18 and
    * o_a18d. The greedy automaton (arm on signup, fire+disarm on
    * purchase) collapses to a lag(): over the per-user signup/purchase
    * stream in (ts, event_id) order, a purchase fires iff its immediate
    * predecessor is a signup. Proof: if the predecessor is a signup the
    * machine is armed (that signup armed it); if the predecessor is a
    * purchase, that purchase either fired (disarming) or was itself
    * unarmed — either way no signup has occurred since the last fire,
    * so the machine is unarmed. */
  private val seqcountOracleSql =
      """WITH e AS (SELECT user_id, event_type, ts, event_id FROM events
                    WHERE event_type IN ('signup','purchase')),
         l AS (SELECT user_id, event_type,
                      lag(event_type) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS prev
               FROM e),
         u AS (SELECT user_id,
                      CAST(SUM(CASE WHEN event_type = 'purchase' AND prev = 'signup'
                                    THEN 1 ELSE 0 END) AS BIGINT) AS seq_count
               FROM l GROUP BY user_id)
         SELECT seq_count, COUNT(*) AS n_users FROM u
         GROUP BY seq_count ORDER BY seq_count"""

  /** The 12h-windowed signup→purchase pair-count oracle — shared by
    * o_a18b, o_a18c and o_a18e. The gap bound only FILTERS fired pairs,
    * it never re-arms, so the lag() collapse carries over with one
    * extra lag(ts). */
  private val seqcount12hOracleSql =
      """WITH e AS (SELECT user_id, event_type, ts, event_id FROM events
                    WHERE event_type IN ('signup','purchase')),
         l AS (SELECT user_id, event_type, ts,
                      lag(event_type) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS prev,
                      lag(ts) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS pts
               FROM e),
         u AS (SELECT user_id,
                      CAST(SUM(CASE WHEN event_type = 'purchase' AND prev = 'signup'
                                     AND ts <= pts + INTERVAL 12 HOUR
                                    THEN 1 ELSE 0 END) AS BIGINT) AS seq_count
               FROM l GROUP BY user_id)
         SELECT seq_count, COUNT(*) AS n_users FROM u
         GROUP BY seq_count ORDER BY seq_count"""

  /** The first-pair next-node oracle — shared by o_a21 and o_a21b. */
  private val seqNextNodeOracleSql =
      """WITH p AS (
           SELECT user_id, event_type, ts, event_id,
                  lead(event_type, 1) OVER w AS n1,
                  lead(event_type, 2) OVER w AS n2
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         m AS (
           SELECT user_id, coalesce(n2, 'NONE') AS nn, ts, event_id FROM p
           WHERE event_type = 'signup' AND n1 = 'click'),
         f AS (
           SELECT user_id, nn,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS rk
           FROM m)
         SELECT nn AS next_node, COUNT(*) AS n_users FROM f WHERE rk = 1
         GROUP BY 1 ORDER BY 1"""

  /** The backward/first_match next-node oracle (o_a21c): lag() reads the
    * chain in time order; first match in BACKWARD traversal = the
    * time-latest pair, hence rk over (ts, event_id) DESC. */
  private val seqPrevNodeOracleSql =
      """WITH p AS (
           SELECT user_id, event_type, ts, event_id,
                  lag(event_type, 1) OVER w AS b1,
                  lag(event_type, 2) OVER w AS b2
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         m AS (
           SELECT user_id, coalesce(b2, 'NONE') AS nn, ts, event_id FROM p
           WHERE event_type = 'purchase' AND b1 = 'click'),
         f AS (
           SELECT user_id, nn,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rk
           FROM m)
         SELECT nn AS prev_node, COUNT(*) AS n_users FROM f WHERE rk = 1
         GROUP BY 1 ORDER BY 1"""

  /** The forward/head next-node oracle (o_a21d): the chain is anchored
    * at each user's time-first row. */
  private val seqHeadNodeOracleSql =
      """WITH p AS (
           SELECT user_id, event_type,
                  lead(event_type, 1) OVER w AS n1,
                  row_number() OVER w AS rn
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         m AS (
           SELECT user_id, coalesce(n1, 'NONE') AS next_node FROM p
           WHERE rn = 1 AND event_type = 'signup')
         SELECT next_node, COUNT(*) AS n_users FROM m
         GROUP BY 1 ORDER BY 1"""

  /** The strict_dedup funnel oracle — shared by o_a15b and o_a15h.
    * The dedup reading is window-expressible: the only level-2 chain
    * ending at a click is (last signup before it, click), and the only
    * level-3 chain ending at a purchase extends (last click before it).
    * The invalid-chain sentinel is year 1, not 1970: the pipefuzz
    * planted corpora start at epoch 0, and a purchase within the window
    * of an epoch sentinel spuriously passed (r16 fuzz catch, seed 23). */
  private val funnelDedupOracleSql =
      """WITH e AS (SELECT user_id, event_type, ts, event_id FROM events
                    WHERE event_type IN ('signup','click','purchase')),
         p1 AS (
           SELECT user_id, event_type, ts, event_id,
                  max(CASE WHEN event_type = 'signup' THEN ts END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ls
           FROM e),
         p2 AS (
           SELECT *, CASE WHEN event_type = 'click' AND ls IS NOT NULL
                            AND ts <= ls + INTERVAL 12 HOUR THEN ls END AS c2
           FROM p1),
         p3 AS (
           SELECT *,
                  last_value(CASE WHEN event_type = 'click'
                                  THEN coalesce(c2, TIMESTAMP '0001-01-01') END
                             IGNORE NULLS)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lc
           FROM p2),
         u AS (
           SELECT user_id,
                  MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS has1,
                  MAX(CASE WHEN c2 IS NOT NULL THEN 1 ELSE 0 END) AS has2,
                  MAX(CASE WHEN event_type = 'purchase' AND lc IS NOT NULL
                             AND ts <= lc + INTERVAL 12 HOUR THEN 1 ELSE 0 END) AS has3
           FROM p3 GROUP BY user_id)
         SELECT 1 + has2 + has3 AS funnel_level, COUNT(*) AS n_users
         FROM u WHERE has1 = 1 GROUP BY 1 ORDER BY 1"""

  /** The strict_order funnel oracle — shared by o_a15d and o_a15g.
    * Consecutiveness turns the chain search into a prefix match at each
    * signup, read off lead() over the (ts, event_id) total order. */
  private val funnelStrictOracleSql =
      """WITH p AS (
           SELECT user_id, event_type, ts, event_id,
                  lead(event_type, 1) OVER w AS n1t,
                  lead(ts, 1)         OVER w AS n1s,
                  lead(event_type, 2) OVER w AS n2t,
                  lead(ts, 2)         OVER w AS n2s
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         l AS (
           SELECT user_id,
                  CASE WHEN event_type = 'signup' THEN
                    1 + CASE WHEN n1t = 'click' AND n1s <= ts + INTERVAL 12 HOUR
                             THEN 1 ELSE 0 END
                      + CASE WHEN n1t = 'click' AND n1s <= ts + INTERVAL 12 HOUR
                                  AND n2t = 'purchase' AND n2s <= ts + INTERVAL 12 HOUR
                             THEN 1 ELSE 0 END
                  END AS lvl
           FROM p),
         u AS (SELECT user_id, MAX(lvl) AS funnel_level FROM l GROUP BY user_id)
         SELECT funnel_level, COUNT(*) AS n_users FROM u
         WHERE funnel_level IS NOT NULL
         GROUP BY funnel_level ORDER BY funnel_level"""

  /** The cohort-retention oracle — shared by o_a16 and o_a16b: the
    * join formulation of the retention aggregate's report. */
  private val retentionOracleSql =
      """WITH f AS (
           SELECT user_id, MIN(ts) AS t0 FROM events
           WHERE event_type = 'signup' GROUP BY user_id
         ), flags AS (
           SELECT f.user_id, f.t0,
                  MAX(CASE WHEN c.ts IS NOT NULL THEN 1 ELSE 0 END) AS clicked,
                  MAX(CASE WHEN p.ts IS NOT NULL THEN 1 ELSE 0 END) AS purchased
           FROM f
           LEFT JOIN events c ON c.event_type = 'click' AND c.user_id = f.user_id
             AND c.ts > f.t0 AND c.ts <= f.t0 + INTERVAL 3 DAY
           LEFT JOIN events p ON p.event_type = 'purchase' AND p.user_id = f.user_id
             AND p.ts > f.t0 AND p.ts <= f.t0 + INTERVAL 7 DAY
           GROUP BY f.user_id, f.t0
         )
         SELECT CAST(t0 AS DATE) AS cohort_date,
                COUNT(*) AS n_users,
                CAST(SUM(clicked) AS BIGINT) AS n_clicked,
                CAST(SUM(purchased) AS BIGINT) AS n_purchased
         FROM flags GROUP BY cohort_date ORDER BY cohort_date"""

  val oracles: Map[String, String] = Map(
    "o_a15_funnel" -> funnel3OracleSql,
    "o_a15e_funnel_chunked" -> funnel3OracleSql,
    "o_a15f_funnel_sql" -> funnel3OracleSql,

    "o_a15c_funnel_4stage" ->
      """WITH s1 AS (SELECT DISTINCT user_id, ts AS t1 FROM events
                     WHERE event_type = 'signup'),
         c2 AS (SELECT s1.user_id, t1, MIN(e.ts) AS tk FROM s1 JOIN events e
                ON e.event_type = 'view' AND e.user_id = s1.user_id
                   AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL 24 HOUR
                GROUP BY 1, 2),
         c3 AS (SELECT c2.user_id, t1, MIN(e.ts) AS tk FROM c2 JOIN events e
                ON e.event_type = 'click' AND e.user_id = c2.user_id
                   AND e.ts > c2.tk AND e.ts <= c2.t1 + INTERVAL 24 HOUR
                GROUP BY 1, 2),
         c4 AS (SELECT c3.user_id, t1, MIN(e.ts) AS tk FROM c3 JOIN events e
                ON e.event_type = 'purchase' AND e.user_id = c3.user_id
                   AND e.ts > c3.tk AND e.ts <= c3.t1 + INTERVAL 24 HOUR
                GROUP BY 1, 2),
         u AS (SELECT DISTINCT user_id FROM s1)
         SELECT 1 + (u.user_id IN (SELECT user_id FROM c2))::INT
                  + (u.user_id IN (SELECT user_id FROM c3))::INT
                  + (u.user_id IN (SELECT user_id FROM c4))::INT AS funnel_level,
                COUNT(*) AS n_users
         FROM u GROUP BY 1 ORDER BY 1""",

    "o_a15b_funnel_dedup" -> funnelDedupOracleSql,
    "o_a15h_funnel_sql_dedup" -> funnelDedupOracleSql,
    "o_a15d_funnel_strict" -> funnelStrictOracleSql,
    "o_a15g_funnel_sql_strict" -> funnelStrictOracleSql,

    // combined strict_order + dedup-interrupt: the o_a15d lead() shape
    // with the repeat-exclusion predicate — stage 3 accepts click OR
    // purchase in the query text, but a click at step 3 repeats the
    // already-matched cond2 and interrupts, netting to purchase-only
    "o_a15i_funnel_sql_combined" ->
      """WITH p AS (
           SELECT user_id, event_type, ts, event_id,
                  lead(event_type, 1) OVER w AS n1t,
                  lead(ts, 1)         OVER w AS n1s,
                  lead(event_type, 2) OVER w AS n2t,
                  lead(ts, 2)         OVER w AS n2s
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         l AS (
           SELECT user_id,
                  CASE WHEN event_type = 'signup' THEN
                    1 + CASE WHEN n1t = 'click' AND n1s <= ts + INTERVAL 12 HOUR
                             THEN 1 ELSE 0 END
                      + CASE WHEN n1t = 'click' AND n1s <= ts + INTERVAL 12 HOUR
                                  AND n2t = 'purchase' AND n2s <= ts + INTERVAL 12 HOUR
                             THEN 1 ELSE 0 END
                  END AS lvl
           FROM p),
         u AS (SELECT user_id, MAX(lvl) AS funnel_level FROM l GROUP BY user_id)
         SELECT funnel_level, COUNT(*) AS n_users FROM u
         WHERE funnel_level IS NOT NULL
         GROUP BY funnel_level ORDER BY funnel_level""",

    "o_a21_seq_next_node" -> seqNextNodeOracleSql,
    "o_a21b_seq_next_node_sql" -> seqNextNodeOracleSql,
    "o_a21c_seq_next_node_backward" -> seqPrevNodeOracleSql,
    "o_a21d_seq_next_node_head" -> seqHeadNodeOracleSql,

    // o_a21's lead() oracle with the anchor predicate widened by the
    // base condition (value > 50 gates the signup that opens the pair)
    "o_a21e_seq_next_node_base" ->
      """WITH p AS (
           SELECT user_id, event_type, value, ts, event_id,
                  lead(event_type, 1) OVER w AS n1,
                  lead(event_type, 2) OVER w AS n2
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         m AS (
           SELECT user_id, coalesce(n2, 'NONE') AS nn, ts, event_id FROM p
           WHERE event_type = 'signup' AND n1 = 'click' AND value > 50),
         f AS (
           SELECT user_id, nn,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS rk
           FROM m)
         SELECT nn AS next_node, COUNT(*) AS n_users FROM f WHERE rk = 1
         GROUP BY 1 ORDER BY 1""",

    "o_a17_seqmatch" ->
      """WITH e AS (SELECT user_id, event_type, ts, event_id FROM events
                    WHERE event_type IN ('signup','click','purchase')),
         m AS (
           SELECT user_id, event_type,
                  CASE WHEN event_type = 'click'
                         AND max(CASE WHEN event_type = 'signup' THEN ts END)
                             OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                                   RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                             >= ts - INTERVAL 1 HOUR
                         AND max(CASE WHEN event_type = 'purchase' THEN ts END)
                             OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) > ts
                       THEN 1 ELSE 0 END AS mid
           FROM e),
         u AS (SELECT user_id,
                      MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS has_signup,
                      MAX(mid) AS matched
               FROM m GROUP BY user_id)
         SELECT matched, COUNT(*) AS n_users FROM u WHERE has_signup = 1
         GROUP BY matched ORDER BY matched""",

    // funnel completion at the 12h chain-start bound over stage-1
    // users — the SQL sequence_match aggregate's contract (the
    // funnel3OracleSql chain CTEs, collapsed to the level-3 flag)
    "o_a17b_seqmatch_sql" ->
      """WITH s AS (SELECT user_id, ts FROM events WHERE event_type = 'signup'),
            c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
            p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
            l2p AS (
              SELECT s.user_id, s.ts AS t1, c.ts AS t2
              FROM s JOIN c ON c.user_id = s.user_id
                AND c.ts > s.ts AND c.ts <= s.ts + INTERVAL 12 HOUR),
            l3 AS (
              SELECT DISTINCT l.user_id
              FROM l2p l JOIN p ON p.user_id = l.user_id
                AND p.ts > l.t2 AND p.ts <= l.t1 + INTERVAL 12 HOUR),
            u AS (SELECT DISTINCT user_id FROM s)
         SELECT CAST((l3.user_id IS NOT NULL) AS INT) AS matched,
                COUNT(*) AS n_users
         FROM u LEFT JOIN l3 USING (user_id)
         GROUP BY matched ORDER BY matched""",

    // the per-gap pattern read off lead() over the condition-filtered
    // per-user stream in (ts, event_id) order: adjacency in the
    // buffered stream == lead(1)/lead(2), each gap checked against its
    // own bound ((?t<=43200) then (?t>600))
    "o_a17c_seqmatch_gaps" ->
      """WITH e AS (SELECT user_id, event_type, ts, event_id FROM events
                    WHERE event_type IN ('signup','click','purchase')),
         p AS (
           SELECT user_id, event_type, ts,
                  lead(event_type, 1) OVER w AS t1, lead(ts, 1) OVER w AS s1,
                  lead(event_type, 2) OVER w AS t2, lead(ts, 2) OVER w AS s2
           FROM e
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         u AS (
           SELECT user_id,
                  MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS has_signup,
                  MAX(CASE WHEN event_type = 'signup' AND t1 = 'click'
                             AND s1 <= ts + INTERVAL 12 HOUR
                             AND t2 = 'purchase' AND s2 > s1 + INTERVAL 10 MINUTE
                           THEN 1 ELSE 0 END) AS matched
           FROM p GROUP BY user_id)
         SELECT matched, COUNT(*) AS n_users FROM u WHERE has_signup = 1
         GROUP BY matched ORDER BY matched""",

    // '.*' = any signup strictly before in the (ts, event_id) order;
    // '(?t<=14400).' = the purchase sits exactly two positions after
    // the click in the buffered stream (one event between) and at most
    // 4 hours later
    "o_a17d_seqmatch_strictnext" ->
      """WITH e AS (SELECT user_id, event_type, ts, event_id FROM events
                    WHERE event_type IN ('signup','click','purchase')),
         p AS (
           SELECT user_id, event_type, ts, event_id,
                  MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS sb,
                  lead(event_type, 2)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t2,
                  lead(ts, 2)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS s2
           FROM e),
         u AS (
           SELECT user_id,
                  MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS has_signup,
                  MAX(CASE WHEN event_type = 'click' AND sb = 1
                             AND t2 = 'purchase'
                             AND s2 <= ts + INTERVAL 4 HOUR THEN 1 ELSE 0 END) AS matched
           FROM p GROUP BY user_id)
         SELECT matched, COUNT(*) AS n_users FROM u WHERE has_signup = 1
         GROUP BY matched ORDER BY matched""",

    // negation '(?!2)': a purchase matches iff the LATEST preceding
    // signup-or-click is a signup within the 4h bound — a click kills
    // every earlier signup, and among the surviving (later) signups the
    // latest minimizes the gap, so "exists feasible signup" collapses
    // to one last_value window pair (type + ts read off the same row)
    "o_a17e_seqmatch_negation" ->
      """WITH e AS (SELECT user_id, event_type, ts, event_id FROM events
                    WHERE event_type IN ('signup','click','purchase')),
         p AS (
           SELECT user_id, event_type, ts,
                  last_value(CASE WHEN event_type IN ('signup','click')
                                  THEN event_type END IGNORE NULLS)
                    OVER w AS lsc,
                  last_value(CASE WHEN event_type IN ('signup','click')
                                  THEN ts END IGNORE NULLS) OVER w AS lts
           FROM e
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         u AS (
           SELECT user_id,
                  MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS has1,
                  MAX(CASE WHEN event_type = 'purchase' AND lsc = 'signup'
                             AND ts <= lts + INTERVAL 4 HOUR
                           THEN 1 ELSE 0 END) AS matched
           FROM p GROUP BY user_id)
         SELECT matched, COUNT(*) AS n_users FROM u WHERE has1 = 1
         GROUP BY matched ORDER BY matched""",

    "o_a18_seqcount" -> seqcountOracleSql,
    "o_a18d_seqcount_sql" -> seqcountOracleSql,
    "o_a18b_seqcount_windowed" -> seqcount12hOracleSql,
    "o_a18c_seqcount_chunked" -> seqcount12hOracleSql,
    "o_a18e_seqcount_sql_windowed" -> seqcount12hOracleSql,
    "o_a16_retention" -> retentionOracleSql,
    "o_a16b_retention_sql" -> retentionOracleSql
  )
}
