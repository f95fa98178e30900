package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator catalog — SURVEY.md §2.2 (filters/projection),
  * §2.3 (joins), §2.4 (aggregations), §2.6 (sort/limit), §2.7 (set ops),
  * §2.8 (scalar function families).
  *
  * Every query is a declarative DataFrame plan: Catalyst handles predicate
  * pushdown, column pruning and join selection; AQE rewrites shuffles at
  * runtime. Determinism discipline for the DuckDB oracle (SURVEY §5):
  *   - every query ends in ORDER BY over a unique key,
  *   - monetary double sums go through DECIMAL(18,2) so the result is
  *     exact and summation-order independent at any parallelism,
  *   - NULL sort order is made explicit where NULLs can occur (Spark
  *     defaults to NULLS FIRST on ASC, DuckDB to NULLS LAST).
  */
object Relational {
  type Q = (SparkSession, String) => DataFrame

  /** Order-independent exact sum for 2-decimal monetary doubles
    * (ClickHouse would store these as Decimal; reference cols like
    * `video_duration` are ints — see /root/reference/migrations/006:26-27). */
  private def dsum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")

  // ===================== §2.2 projection / filter ======================

  val queries: Map[String, Q] = Map(
    // O-P1: projection + column pruning — scan should read only 3 columns.
    "o_p1_project" -> ((s, d) => {
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // O-F1: equality + time-range filter on the event envelope — the
    // predicate shape the reference's ORDER BY (timestamp, event_name)
    // exists for (migrations/*:18-20); pushed to parquet row-group stats.
    "o_f1_filter_range" -> ((s, d) => {
      Tables.events(s, d)
        .filter(col("event_type") === "purchase" &&
          col("ts") >= to_timestamp(lit("2024-01-08 00:00:00")) &&
          col("ts") < to_timestamp(lit("2024-01-15 00:00:00")))
        .select("event_id", "ts", "user_id", "value")
        .orderBy("event_id")
    }),

    // O-F2: LIKE / contains predicates (reference error classifier shape,
    // src/handler.rs:206-212).
    "o_f2_like" -> ((s, d) => {
      Tables.part(s, d)
        .filter(col("p_type").like("%ECONOMY%") || col("p_name").contains("red"))
        .select("p_partkey", "p_name", "p_type")
        .orderBy("p_partkey")
    }),

    // O-F3: set-membership (reference subject routing, src/handler.rs:16-53).
    "o_f3_isin" -> ((s, d) => {
      Tables.orders(s, d)
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }),

    // O-F4: null/empty normalization (proto3 defaults arrive as ""/0/false,
    // never NULL — FIXTURES.md invariant 4).
    "o_f4_nulls" -> ((s, d) => {
      Tables.customer(s, d)
        .select(col("c_custkey"),
          coalesce(expr("nullif(c_mktsegment, '')"), lit("UNKNOWN")).as("seg"),
          when(col("c_acctbal") < 0, lit(null)).otherwise(col("c_acctbal")).as("pos_bal"))
        .orderBy("c_custkey")
    }),

    // ========================= §2.3 joins ==============================

    // O-J1: inner equi-join fact⋈fact-dim; shuffles both sides on the key,
    // AQE may convert to broadcast at runtime if one side is small.
    "o_j1_inner" -> ((s, d) => {
      val li = Tables.lineitem(s, d); val o = Tables.orders(s, d)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(dsum(col("l_extendedprice")).as("revenue"), count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
    }),

    // O-J2: broadcast hash join — dimension is explicitly broadcast so the
    // 100 TB fact side never shuffles.
    "o_j2_broadcast" -> ((s, d) => {
      val li = Tables.lineitem(s, d); val p = Tables.part(s, d)
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_items"), avg("l_quantity").as("avg_qty"))
        .orderBy("p_brand")
    }),

    // O-J3: left outer join preserving zero-order customers.
    "o_j3_left" -> ((s, d) => {
      val c = Tables.customer(s, d); val o = Tables.orders(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(c("c_custkey"))
        .agg(count(o("o_orderkey")).as("n_orders"),
          coalesce(dsum(o("o_totalprice")), lit(0.0)).as("spend"))
        .orderBy("c_custkey")
    }),

    // O-J4: left semi (EXISTS).
    "o_j4_semi" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val urgent = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
      c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }),

    // O-J5: left anti (NOT EXISTS) — customers with no urgent order
    // (unfiltered variant is empty in this data: every customer orders).
    "o_j5_anti" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val urgent = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
      c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }),

    // O-J6 (native): the same as-of join through graft's custom physical
    // operator (AsOfJoinPlan → GraftStrategies → AsOfJoinExec): one
    // shuffle per side, sorted-merge with O(1) running state — no union
    // blowup, no window sort. Same oracle as o_j6_asof.
    "o_j6b_asof_native" -> ((s, d) => {
      val ev = Tables.events(s, d).filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      // o_orderdate is TIMESTAMP_NTZ in the parquet; cast once to the
      // session-zone timestamp used both as join time and output (keeps
      // the schema identical to o_j6_asof / the oracle).
      val od = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("timestamp").as("o_odts"))
      graft.plans.AsOfJoin.asof(ev, od,
          Seq("user_id"), Seq("o_custkey"), "ts", "o_odts",
          tieBreak = Seq("o_orderkey"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("o_orderkey"), col("o_odts").as("o_orderdate"))
        .orderBy("event_id")
    }),

    // O-J6 via the SQL table-function surface: same plan as o_j6b (the
    // native AsOfJoinExec), reached from pure SQL — the entry point a
    // ClickHouse `ASOF JOIN` user migrates to. Views registered
    // idempotently; graft_asof resolves them through the session catalog.
    "o_j6d_asof_sql" -> ((s, d) => {
      graft.functions.GraftExtensions.register(s)
      Tables.events(s, d).filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
        .createOrReplaceTempView("g_asof_ev")
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("timestamp").as("o_odts"))
        .createOrReplaceTempView("g_asof_od")
      s.sql("""SELECT event_id, user_id, ts, o_orderkey, o_odts AS o_orderdate
               FROM graft_asof('g_asof_ev', 'g_asof_od',
                               'user_id', 'o_custkey', 'ts', 'o_odts',
                               '', 'o_orderkey')
               ORDER BY event_id""")
    }),

    // O-J6 (native, forward direction): CH ASOF's >= variant — the FIRST
    // purchase event at-or-after each order's date, per customer. (Events
    // postdate orders in this dataset, so forward must look from orders
    // into events.)
    "o_j6c_asof_forward" -> ((s, d) => {
      val od = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate").cast("timestamp").as("o_odts"))
      val ev = Tables.events(s, d).filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"))
      graft.plans.AsOfJoin.asof(od, ev,
          Seq("o_custkey"), Seq("user_id"), "o_odts", "ts",
          tieBreak = Seq("event_id"), forward = true)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_odts").as("o_orderdate"), col("event_id"), col("ts"))
        .orderBy("o_orderkey")
    }),

    // O-J6: as-of join (ClickHouse ASOF JOIN): latest order at-or-before
    // each purchase event. Implemented the scalable way — union both
    // streams, single shuffle on the key, last(ignoreNulls) over an
    // ordered window — instead of a range join that multiplies rows.
    "o_j6_asof" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d).filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("t"), lit(1).as("is_event"),
          col("event_id"), lit(null).cast("long").as("o_orderkey"),
          lit(null).cast("timestamp").as("o_orderdate"))
      val od = Tables.orders(s, d)
        .select(col("o_custkey").as("user_id"), col("o_orderdate").as("t"),
          lit(0).as("is_event"), lit(null).cast("long").as("event_id"),
          col("o_orderkey"), col("o_orderdate"))
      // Tie rules: at equal t, orders (is_event=0) sort before events so
      // "at-or-before" is inclusive; among same-date orders the max
      // o_orderkey wins (o_orderkey ASC + last()).
      val w = Window.partitionBy("user_id").orderBy("t", "is_event", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.unionByName(od)
        .withColumn("ok", last("o_orderkey", ignoreNulls = true).over(w))
        .withColumn("od", last("o_orderdate", ignoreNulls = true).over(w))
        .filter(col("is_event") === 1 && col("ok").isNotNull)
        .select(col("event_id"), col("user_id"), col("t").as("ts"),
          col("ok").as("o_orderkey"), col("od").as("o_orderdate"))
        .orderBy("event_id")
    }),

    // O-J7: range (interval) join with an equi prefix: clicks within 24h
    // after each signup, same user. The equi key keeps this a shuffled
    // hash/sort-merge join with a range post-filter — no cartesian blowup.
    "o_j7_range" -> ((s, d) => {
      val e = Tables.events(s, d)
      val a = e.filter(col("event_type") === "signup")
        .select(col("event_id").as("signup_id"), col("user_id"), col("ts").as("t0"))
      val b = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("t1"))
      a.join(b, Seq("user_id"))
        .filter(col("t1") >= col("t0") && col("t1") < col("t0") + expr("INTERVAL 24 HOURS"))
        .groupBy("signup_id", "user_id").agg(count(lit(1)).as("n_clicks"))
        .orderBy("signup_id")
    }),

    // O-J8: self join — order pairs of the same customer within 7 days.
    "o_j8_self" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val a = o.select(col("o_custkey").as("custkey"), col("o_orderkey").as("k1"),
        col("o_orderdate").as("d1"))
      val b = o.select(col("o_custkey").as("custkey"), col("o_orderkey").as("k2"),
        col("o_orderdate").as("d2"))
      a.join(b, Seq("custkey"))
        .filter(col("k1") < col("k2") && abs(datediff(col("d2"), col("d1"))) <= 7)
        .groupBy("custkey").agg(count(lit(1)).as("n_pairs"))
        .orderBy("custkey")
    }),

    // O-J9: cross join (small × small calendar/dimension spine).
    "o_j9_cross" -> ((s, d) => {
      val r = Tables.region(s, d)
      val st = Tables.orders(s, d).select("o_orderstatus").distinct()
      r.crossJoin(st).select("r_name", "o_orderstatus")
        .orderBy("r_name", "o_orderstatus")
    }),

    // ====================== §2.4 aggregations ==========================

    // O-A1: partial+final hash aggregate (TPC-H Q1 shape). Decimal-cast
    // sums are exact => identical at any shuffle parallelism.
    "o_a1_hashagg" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      li.groupBy("l_returnflag", "l_linestatus").agg(
          sum("l_quantity").as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(24,6)")).cast("double").as("sum_disc"),
          (sum("l_quantity") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // O-A2: exact distinct count (ClickHouse uniqExact) — DAU per type.
    "o_a2_distinct" -> ((s, d) => {
      Tables.events(s, d).groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("dau"), count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    // O-A3: approximate distinct (ClickHouse uniq/uniqHLL12) — HLL++.
    // No oracle: approx result is engine-specific by design.
    "o_a3_approx_distinct" -> ((s, d) => {
      Tables.events(s, d).groupBy("event_type")
        .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"))
        .orderBy("event_type")
    }),

    // O-A4: quantiles (ClickHouse quantile()) — exact interpolated here;
    // percentile_approx is the 100 TB path.
    "o_a4_quantile" -> ((s, d) => {
      Tables.lineitem(s, d).groupBy("l_returnflag").agg(
          expr("round(percentile(l_quantity, 0.5), 6)").as("p50"),
          expr("round(percentile(l_quantity, 0.9), 6)").as("p90"))
        .orderBy("l_returnflag")
    }),

    // O-A5: argMax (ClickHouse argMax). Spelled max(struct(ts,
    // event_id)).event_id rather than max_by(event_id, ts): a user with
    // two DIFFERENT events at the same extreme ts makes bare max_by
    // nondeterministic (whichever row a partition feeds first wins,
    // flaking across runs and engines); the struct's lexicographic
    // ordering pins ties to the larger/smaller event_id on both sides.
    // NULL-ts rows are excluded from the struct (min/max skip NULL
    // inputs on both engines): a bare struct would rank NULL ts lowest
    // in Spark but highest in DuckDB nested comparisons, and argMax over
    // a NULL ordering value is meaningless anyway (CH argMax skips them).
    "o_a5_argmax" -> ((s, d) => {
      Tables.events(s, d).groupBy("user_id").agg(
          max(when(col("ts").isNotNull, struct(col("ts"), col("event_id"))))
            .getField("event_id").as("last_event_id"),
          min(when(col("ts").isNotNull, struct(col("ts"), col("event_id"))))
            .getField("event_id").as("first_event_id"),
          max("ts").as("last_ts"))
        .orderBy("user_id")
    }),

    // O-A6: collect-to-array (ClickHouse groupArray); sorted + joined to a
    // string so the oracle compare is order-stable.
    "o_a6_collect" -> ((s, d) => {
      Tables.orders(s, d).groupBy("o_custkey")
        .agg(array_join(array_sort(collect_set(col("o_orderstatus"))), ",").as("statuses"))
        .orderBy("o_custkey")
    }),

    // O-A7: conditional aggregates (ClickHouse countIf/sumIf).
    "o_a7_condagg" -> ((s, d) => {
      Tables.events(s, d).groupBy("event_type").agg(
          expr("count_if(value > 100.0)").as("n_big"),
          coalesce(sum(when(col("value") > 100.0, col("value").cast("decimal(18,2)")))
            .cast("double"), lit(0.0)).as("sum_big"))
        .orderBy("event_type")
    }),

    // O-A8: rollup hierarchy report with explicit grouping bits. Spark SQL
    // path: the Dataset rollup API trips DetectAmbiguousSelfJoin when
    // grouping() + ORDER BY reference Expand-duplicated attributes.
    "o_a8_rollup" -> ((s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("v_customer")
      Tables.nation(s, d).createOrReplaceTempView("v_nation")
      Tables.region(s, d).createOrReplaceTempView("v_region")
      s.sql("""
        SELECT r_name, n_name, COUNT(*) AS n_cust,
               CAST(grouping(r_name) * 2 + grouping(n_name) AS INT) AS gid
        FROM v_customer
        JOIN v_nation ON c_nationkey = n_nationkey
        JOIN v_region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP(r_name, n_name)
        ORDER BY gid, r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""")
    }),

    // O-A8b: full cube over two independent dimensions.
    "o_a8b_cube" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("v_orders")
      s.sql("""
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS INT) AS gid
        FROM v_orders
        GROUP BY CUBE(o_orderstatus, o_orderpriority)
        ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""")
    }),

    // O-A8c: explicit grouping sets (non-hierarchical slices in one pass).
    "o_a8c_grouping_sets" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("v_orders")
      s.sql("""
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS INT) AS gid
        FROM v_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""")
    }),

    // O-A11: pivot (ClickHouse-style sumIf/countIf matrix as columns).
    "o_a11_pivot" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0)
        .orderBy("user_id")
    }),

    // O-A9: per-table row counts (ops monitoring, src/handler.rs:120).
    "o_a9_counts" -> ((s, d) => {
      val one = (t: String) => Tables(s, d, t).agg(count(lit(1)).as("n"))
        .select(lit(t).as("tbl"), col("n"))
      one("lineitem").unionByName(one("orders")).unionByName(one("customer"))
        .unionByName(one("events")).orderBy("tbl")
    }),

    // O-A10: histogram / bucketed aggregation.
    "o_a10_histogram" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(floor(col("value") / 50).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    }),

    // O-A19: CH `sumMap` combinator — per-date event_type → exact sum,
    // emitted as entry rows with a deterministic ordinal (map iteration
    // order is engine-private, and the adjudication harness can't sort a
    // map/list cell in pandas — entry rows carry the same information).
    // Decimal sums keep both engines bit-identical. ord is just the rank
    // of the entry key within its date: one row_number over the (tiny)
    // aggregate output, no collect/posexplode round trip.
    "o_a19_summap" -> ((s, d) => {
      val w = Window.partitionBy("event_date").orderBy("event_type")
      Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("event_date"), col("event_type"))
        .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
        .select(col("event_date"),
          (row_number().over(w) - 1).cast("int").as("ord"),
          col("event_type"), col("total"))
        .orderBy("event_date", "ord")
    }),

    // O-A20: CH `uniqUpTo(50)` — exact distinct count saturated at N+1
    // ("more than 10" is all a report needs; the saturated form lets an
    // engine cap its hash-set state per group at N+1 entries).
    "o_a20_uniq_upto" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("event_date"), col("event_type"))
        .agg(least(countDistinct(col("user_id")), lit(51L)).as("uniq_upto_50"))
        .orderBy("event_date", "event_type")
    }),

    // O-A22: CH `minMap`/`maxMap` combinators — the order-statistic
    // siblings of o_a19's sumMap: per-date event_type → (min, max) value
    // as ordinal-keyed entry rows (same pandas-adjudication shape as
    // o_a19, same single row_number over the aggregate output). min/max
    // are exact picks (no summation-order hazard), so plain doubles
    // hash-compare.
    "o_a22_minmaxmap" -> ((s, d) => {
      val w = Window.partitionBy("event_date").orderBy("event_type")
      Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("event_date"), col("event_type"))
        .agg(min("value").as("vmin"), max("value").as("vmax"))
        .select(col("event_date"),
          (row_number().over(w) - 1).cast("int").as("ord"),
          col("event_type"), col("vmin"), col("vmax"))
        .orderBy("event_date", "ord")
    }),

    // O-A26: CH statistical aggregates (`stddevSamp`/`varPop`/`corr`/
    // `covarSamp`) — moment-based, partial+final mergeable like any sum.
    // round(6) per the SURVEY §5 determinism rule: the merge tree shape
    // differs between engines, so last-ulp summation order may too.
    "o_a26_stats" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
          round(var_pop(col("l_quantity")), 6).as("var_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 6).as("cov_qp"))
        .orderBy("l_returnflag")
    }),

    // O-A27: CH `quantileExactWeighted` — weighted median where each
    // value carries an integer weight (row = l_quantity units shipped at
    // that price). Pure ORDER STATISTICS: the answer is the smallest
    // value whose cumulative weight reaches half the total — exact
    // picks, no summation-order hazard (weights are exact BIGINTs).
    // The cumulative column comes from OrderStats.weightedCdf — the
    // two-phase distributed prefix sum — NOT a window partitioned by
    // l_returnflag: 3 distinct flags would serialize the whole corpus
    // into 3 sort tasks, the plan that dies at 100x.
    "o_a27_weighted_median" -> ((s, d) => {
      // VALUE-granular CDF (r19 opt): the median pick is invariant to
      // the (l_orderkey, l_linenumber) tiebreak ordering — a tied price
      // group qualifies iff its shared end-of-group cum does — so the
      // tiebreak columns drop out of the scan (ReadSchema 5 → 3 cols),
      // the exchange, and the sort key (see weightedCdfByValuePlan).
      val src = Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_extendedprice").as("val"),
          col("l_quantity").cast("bigint").as("wt"))
      val (cdf, caches) = OrderStats.weightedCdfByValuePlan(src,
        "l_returnflag", Seq("val"), "wt")
      // checkpoint BEFORE the output sort (r18 opt): a final orderBy is
      // a range exchange whose boundary sampling executes the whole
      // un-materialized subtree below it a second time — here the full
      // window chain (profiled: two identical ~1 s window stages, the
      // sample pass writing no shuffle). Sorting the checkpointed rows
      // reads blocks twice instead of computing twice; same rows, same
      // order.
      graft.pipeline.Materialize.drop(
        cdf.filter(col("cum") * 2 >= col("tot"))
          .groupBy("l_returnflag")
          .agg(min("val").as("wmedian")), caches: _*)
        .orderBy("l_returnflag")
    }),

    // O-A27b: CH `quantilesExactWeighted(0.25,0.5,0.75,0.9)` — the
    // multi-quantile form, emitted as (flag, q_pct, qval) rows (arrays
    // are unadjudicable). Same distributed CDF as o_a27; the four
    // picks are conditional MINs over the same cum/tot columns — no row
    // multiplication, no extra shuffle — then stack() unpivots 4 columns
    // into rows. Integer arithmetic (cum*100 >= tot*q) keeps every
    // comparison exact.
    "o_a27b_weighted_quantiles" -> ((s, d) => {
      // value-granular CDF — same tiebreak-free scan/sort as o_a27; all
      // four quantile picks are cum-monotone threshold predicates
      val src = Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_extendedprice").as("val"),
          col("l_quantity").cast("bigint").as("wt"))
      val (cdf, caches) = OrderStats.weightedCdfByValuePlan(src,
        "l_returnflag", Seq("val"), "wt")
      graft.pipeline.Materialize.drop(
        cdf.groupBy("l_returnflag")
          .agg(
            min(when(col("cum") * 100 >= col("tot") * 25, col("val"))).as("q25"),
            min(when(col("cum") * 100 >= col("tot") * 50, col("val"))).as("q50"),
            min(when(col("cum") * 100 >= col("tot") * 75, col("val"))).as("q75"),
            min(when(col("cum") * 100 >= col("tot") * 90, col("val"))).as("q90"))
          .selectExpr("l_returnflag",
            "stack(4, 25, q25, 50, q50, 75, q75, 90, q90) AS (q_pct, qval)"),
        caches: _*)
        .orderBy("l_returnflag", "q_pct") // sort AFTER the cut — see o_a27
    }),

    // O-A30: CH `avgWeighted` + `skewPop`/`kurtPop` — weighted mean and
    // population shape moments. Engines disagree on skew/kurt DEFINITIONS
    // (sample vs population, bias correction), so both sides compute the
    // same raw-moment formula explicitly. Exactness: l_quantity ≤ 50, so
    // sums of x..x⁴ stay integral doubles < 2^53 (exact under any
    // order); the weighted mean sums decimal×bigint. The only
    // non-arithmetic op is sqrt (IEEE correctly rounded — identical),
    // ^1.5 spelled v*sqrt(v) to avoid pow(); round(6) caps the rest.
    "o_a30_moments" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            col("l_quantity").cast("bigint")).as("swx"),
          sum(col("l_quantity").cast("bigint")).as("sw"),
          count(lit(1)).cast("double").as("n"),
          sum(col("l_quantity")).as("s1"),
          sum(col("l_quantity") * col("l_quantity")).as("s2"),
          sum(col("l_quantity") * col("l_quantity") * col("l_quantity")).as("s3"),
          sum(col("l_quantity") * col("l_quantity") * col("l_quantity") *
            col("l_quantity")).as("s4"))
        .select(col("l_returnflag"),
          round(col("swx").cast("double") / col("sw").cast("double"), 6)
            .as("avg_weighted"),
          (col("s1") / col("n")).as("m1"),
          (col("s2") / col("n")).as("m2"),
          (col("s3") / col("n")).as("m3"),
          (col("s4") / col("n")).as("m4"))
        .withColumn("v", col("m2") - col("m1") * col("m1"))
        .select(col("l_returnflag"), col("avg_weighted"),
          round((col("m3") - lit(3.0) * col("m1") * col("m2") +
            lit(2.0) * col("m1") * col("m1") * col("m1")) /
            (col("v") * sqrt(col("v"))), 6).as("skew_pop"),
          round((col("m4") - lit(4.0) * col("m1") * col("m3") +
            lit(6.0) * col("m1") * col("m1") * col("m2") -
            lit(3.0) * col("m1") * col("m1") * col("m1") * col("m1")) /
            (col("v") * col("v")) - lit(3.0), 6).as("kurt_pop"))
        .orderBy("l_returnflag")
    }),

    // O-A28: CH `deltaSum` — total of the POSITIVE deltas between
    // consecutive values in event order (monotone-counter ingestion:
    // odometer resets contribute nothing; rises sum). Decimal deltas keep
    // the sum exact and order-independent; one user_id shuffle.
    "o_a28_delta_sum" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc_nulls_last, col("event_id")) // DuckDB NULLS LAST parity
      Tables.events(s, d)
        .filter(col("value").isNotNull)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("value").cast("decimal(18,2)").as("v"))
        .withColumn("prev", lag("v", 1).over(w))
        .groupBy("user_id")
        .agg(sum(when(col("v") > col("prev"), col("v") - col("prev"))
            .otherwise(lit(0).cast("decimal(18,2)")))
            .cast("double").as("delta_sum"),
          count(lit(1)).as("n"))
        .orderBy("user_id")
    }),

    // O-A29: CH `boundingRatio` — slope of the bounding box: (value at
    // the last event - value at the first) / elapsed seconds, per user.
    // first/last picked by max_by/min_by over the (ts, event_id) struct —
    // exact order statistics; the single division is the only double op
    // (rounded per the §5 determinism rule), and a zero time span yields
    // NULL via nullif. Value rows with NULL are excluded on both sides so
    // the boundary picks agree.
    "o_a29_bounding_ratio" -> ((s, d) => {
      Tables.events(s, d)
        .filter(col("value").isNotNull)
        .groupBy("user_id")
        .agg(
          min_by(col("value"), struct(col("ts"), col("event_id"))).as("v_first"),
          max_by(col("value"), struct(col("ts"), col("event_id"))).as("v_last"),
          (max(unix_timestamp(col("ts"))) - min(unix_timestamp(col("ts"))))
            .as("span_s"))
        .select(col("user_id"),
          (round((col("v_last") - col("v_first")) /
            nullif(col("span_s"), lit(0)).cast("double"), 6) + lit(0.0))
            .as("bounding_ratio"),
          col("span_s"))
        .orderBy("user_id")
    }),

    // O-A23: CH `groupBitAnd`/`groupBitOr`/`groupBitXor` — bitwise
    // aggregates over integer columns (permission masks, feature flags).
    // Associative+commutative, so partials combine map-side like any sum.
    "o_a23_bitagg" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(bit_and(col("user_id")).as("band"),
          bit_or(col("user_id")).as("bor"),
          bit_xor(col("user_id")).as("bxor"))
        .orderBy("event_type")
    }),

    // O-A24: CH `intervalLengthSum` — total length of the UNION of
    // per-key intervals (coverage seconds, not double-counting overlaps).
    // Each event opens a 5-minute activity interval; overlapping/adjacent
    // intervals merge. Classic sweep-line as ONE keyed window pass:
    // an interval starts an island iff it begins after the running max
    // end of everything before it; island id = running count of starts;
    // then island length = max(end) - min(start), summed per user.
    // Integer epoch-second arithmetic end to end — exact in both engines.
    // One user_id shuffle; island state is O(1) per row.
    "o_a24_interval_union" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("s", "event_id")
      val prevMaxEnd = max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1))
      // ts IS NOT NULL on both sides: an interval needs a start time, and
      // a NULL s sorts first in Spark's window but last in DuckDB's —
      // island segmentation would diverge on the same rows
      Tables.events(s, d).filter(col("ts").isNotNull)
        .select(col("user_id"), col("event_id"),
          unix_timestamp(col("ts")).as("s"),
          (unix_timestamp(col("ts")) + 300).as("e"))
        .withColumn("new_island",
          when(prevMaxEnd.isNull || col("s") > prevMaxEnd, 1).otherwise(0))
        .withColumn("island",
          sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "island")
        .agg((max("e") - min("s")).as("len"))
        .groupBy("user_id")
        .agg(sum("len").as("covered_seconds"), count(lit(1)).as("n_islands"))
        .orderBy("user_id")
    }),

    // ===================== §2.6 sort / limit / topk ====================

    // NULLS LAST on ts: Spark's default asc puts NULLs first, DuckDB's
    // puts them last — this is the one ORDER-SENSITIVE ts sort in the
    // catalog, reachable since Tables.events admits NULL int64 ts.
    "o_s1_sort" -> ((s, d) =>
      Tables.events(s, d).select("event_id", "ts")
        .orderBy(col("ts").asc_nulls_last, col("event_id"))),

    "o_s2_limit_offset" -> ((s, d) =>
      Tables.orders(s, d).select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey").offset(50).limit(100)),

    // O-S3: order+limit fuses to TakeOrderedAndProject — no global sort.
    "o_s3_topk" -> ((s, d) =>
      Tables.orders(s, d).select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(10)),

    "o_s4_distinct" -> ((s, d) =>
      Tables.lineitem(s, d).select("l_returnflag", "l_linestatus").distinct()
        .orderBy("l_returnflag", "l_linestatus")),

    // O-S5: ClickHouse `ORDER BY … WITH FILL` — gap-filled hourly series,
    // zero-filled between the observed bounds. The spine is generated
    // from the 1-row bounds aggregate (sequence+explode — rows ≈ the
    // series length, data-size independent) and left-joins the hourly
    // aggregate; at 100 TB both sides are tiny post-agg.
    "o_s5_with_fill" -> ((s, d) => {
      val hourly = Tables.events(s, d).filter(col("event_type") === "purchase")
        .groupBy(date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"))
      val spine = hourly.agg(min("hour").as("lo"), max("hour").as("hi"))
        .select(explode(expr("sequence(lo, hi, interval 1 hour)")).as("hour"))
      spine.join(hourly, Seq("hour"), "left")
        .select(col("hour"), coalesce(col("n"), lit(0L)).as("n"))
        .orderBy("hour")
    }),

    // O-S6: CH `SAMPLE k` clause — deterministic hash-based sampling (CH
    // samples by a hash of the sampling key, NOT an RNG), so the same
    // fraction of the same rows is drawn on every run, every engine,
    // every cluster size. 1/16 sample = first md5 hex digit of the key
    // (same device as d_sample_split); a pure pushed-down filter, no
    // shuffle beyond the aggregate on top proving the statistical use.
    "o_s6_sample" -> ((s, d) => {
      Tables.events(s, d)
        .filter(substring(md5(col("event_id").cast("string").cast("binary")),
          1, 1) === "0")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("users"))
        .orderBy("event_type")
    }),

    // O-S7: the CH SQL-dialect clause `LIMIT n BY k` THROUGH spark.sql —
    // the literal text an arriving ClickHouse analyst types (the most
    // idiomatic CH-ism; reference routes it to a deployed CH 22.3,
    // build/docker-compose.yml:8-9), accepted by the parse-time rewrite
    // (plans.GraftSqlParser, injected by GraftExtensions) into the o_w2
    // row_number window plan. PlanSpec asserts the windowed physical
    // form; HttpSqlSpec drives the same text end-to-end over HTTP.
    "o_s7_limit_by_sql" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql("""SELECT o_custkey, o_orderkey, o_totalprice
               FROM orders
               ORDER BY o_totalprice DESC, o_orderkey
               LIMIT 3 BY o_custkey""")
    }),

    // O-S8: the CH `SAMPLE a/b` clause THROUGH spark.sql — deterministic
    // hash sampling (the o_s6 md5 device, CH samples by hash of the
    // declared sampling key, never an RNG), with the sampling key named
    // on the session conf as the engine's stand-in for CH's `SAMPLE BY`
    // table clause. The rewrite is a pushdown-friendly md5-prefix
    // filter aliased back to the table name.
    "o_s8_sample_sql" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("events")
      s.conf.set("graft.sample.key.events", "event_id")
      s.sql("""SELECT event_type, COUNT(*) AS n FROM events SAMPLE 1/16
               GROUP BY event_type ORDER BY event_type""")
    }),

    // O-S7b: CH's LIMIT-BY grammar also takes a per-key OFFSET —
    // `LIMIT off, n BY k` skips the first `off` rows per key and keeps
    // the next n ("the 2nd and 3rd biggest orders per customer", the
    // pagination idiom). Same parse-time rewrite as o_s7 with the rank
    // predicate widened to a band (__graft_rn > off AND <= off + n).
    "o_s7b_limit_by_offset_sql" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql("""SELECT o_custkey, o_orderkey, o_totalprice
               FROM orders
               ORDER BY o_totalprice DESC, o_orderkey
               LIMIT 1, 2 BY o_custkey""")
    }),

    // O-S9: the CH `ORDER BY … WITH FILL [STEP n]` clause THROUGH
    // spark.sql — the last of the three CH SELECT-isms (after LIMIT BY
    // and SAMPLE): the literal text an arriving analyst types to
    // gap-fill an hourly series, rewritten at parse time to the o_s5
    // spine shape (base CTE, sequence+explode spine over scalar min/max
    // subqueries UNION the base's own fill values, LEFT JOIN back).
    // Filled measure columns are NULL — this engine's stated delta vs
    // CH's type-default fill (the oracle pins NULL, and COALESCE
    // restores CH's 0 per query when wanted). Spine rows ≈ series
    // length; at 100 TB both join sides are post-aggregate tiny.
    "o_s9_with_fill_sql" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("events")
      s.sql("""SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS n
               FROM events WHERE event_type = 'purchase'
               GROUP BY date_trunc('hour', ts)
               ORDER BY hour WITH FILL STEP INTERVAL 1 HOUR""")
    }),

    // O-S9b: WITH FILL with CH's FROM/TO bounds — the generated grid is
    // [FROM, TO) (TO exclusive, CH's documented reading), while the
    // base's own rows OUTSIDE the bounds are still kept; a literal
    // two-day window inside the fixture's month discriminates all
    // three behaviors (holes inside the bounds fill, the boundary hour
    // at TO does not, January rows outside the window survive).
    "o_s9b_with_fill_bounds_sql" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("events")
      s.sql("""SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS n
               FROM events WHERE event_type = 'purchase'
               GROUP BY date_trunc('hour', ts)
               ORDER BY hour
               WITH FILL FROM timestamp '2024-01-05 00:00:00'
                         TO timestamp '2024-01-07 00:00:00'
                         STEP INTERVAL 1 HOUR""")
    }),

    // ========================= §2.7 set ops ============================

    // O-U1: union-all of event families over the shared envelope
    // (the reference's 9-table common prefix, SURVEY §1.4).
    "o_u1_union" -> ((s, d) => {
      val e = Tables.events(s, d)
      val a = e.filter(col("event_type") === "click")
        .select(col("user_id").as("id"), lit("click").as("src"))
      val b = e.filter(col("event_type") === "view")
        .select(col("user_id").as("id"), lit("view").as("src"))
      a.unionByName(b).groupBy("id", "src").agg(count(lit(1)).as("n"))
        .orderBy("id", "src")
    }),

    "o_u2_intersect" -> ((s, d) => {
      val e = Tables.events(s, d)
      e.filter(col("event_type") === "purchase").select("user_id")
        .intersect(e.filter(col("event_type") === "error").select("user_id"))
        .orderBy("user_id")
    }),

    // O-U3: except — customers who ordered but never urgently.
    "o_u3_except" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val all = o.select(col("o_custkey").as("custkey"))
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("custkey"))
      all.except(urgent).orderBy("custkey")
    }),

    // ==================== §2.8 scalar function families =================

    // O-X1: strings (screen_resolution/user_agent-style parsing,
    // migrations/*:16-17).
    "o_x1_string" -> ((s, d) => {
      Tables.customer(s, d).select(col("c_custkey"),
          upper(col("c_name")).as("name_upper"),
          length(col("c_name")).as("name_len"),
          substring(col("c_name"), 1, 8).as("prefix"),
          regexp_extract(col("c_name"), "([0-9]+)", 1).as("digits"),
          concat(col("c_mktsegment"), lit(":"), col("c_name")).as("tagged"))
        .orderBy("c_custkey")
    }),

    // O-X2: date/time (epoch↔DateTime is the reference's one real type
    // coercion — dto.proto int64 seconds → DateTime, SURVEY §1.3).
    "o_x2_datetime" -> ((s, d) => {
      Tables.orders(s, d).select(col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("dom"),
          date_trunc("month", col("o_orderdate")).as("month_start"),
          (col("o_orderdate") + expr("INTERVAL 7 DAYS")).as("plus7"),
          datediff(lit("2002-01-01").cast("date"), col("o_orderdate")).as("age_days"),
          unix_timestamp(col("o_orderdate")).as("epoch_s"))
        .orderBy("o_orderkey")
    }),

    // O-X3: math (completion-ratio shapes, migrations/006:26-27).
    "o_x3_math" -> ((s, d) => {
      Tables.lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
          // raw IEEE products: bitwise identical across engines; rounding
          // a 4-decimal product to 2 places is engine-dependent at .xx5.
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("net"),
          (col("l_extendedprice") * (lit(1.0) + col("l_tax"))).as("taxed"),
          floor(col("l_extendedprice")).as("fl"),
          round(abs(col("l_discount") - col("l_tax")), 6).as("ab"),
          greatest(col("l_discount"), col("l_tax")).as("g"),
          round(col("l_quantity") / 50.0, 6).as("ratio"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // O-X4: conditionals (CASE WHEN / if / coalesce).
    "o_x4_case" -> ((s, d) => {
      Tables.orders(s, d).select(col("o_orderkey"),
          when(col("o_orderstatus") === "F", "finished")
            .when(col("o_orderstatus") === "O", "open")
            .otherwise("partial").as("status_label"),
          when(col("o_totalprice") > 200000.0, "big")
            .when(col("o_totalprice") > 50000.0, "mid")
            .otherwise("small").as("size_class"))
        .orderBy("o_orderkey")
    }),

    // O-X5: arrays (ClickHouse has/length/arrayJoin — migrations/009:24-27).
    "o_x5_array" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("words", split(col("text"), " "))
        .select(col("doc_id"),
          size(col("words")).as("n_words"),
          array_contains(col("words"), "spark").as("has_spark"),
          size(array_distinct(col("words"))).as("n_uniq"),
          array_join(slice(array_sort(array_distinct(col("words"))), 1, 5), ",").as("top5"))
        .orderBy("doc_id")
    }),

    // O-X5b: generator/UDTF surface — posexplode (ClickHouse arrayJoin,
    // migrations/009:24-27), bounded slice for output size.
    "o_x5b_explode" -> ((s, d) => {
      Tables.documents(s, d).filter(col("doc_id") < 20)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
        .orderBy("doc_id", "pos")
    }),

    // O-X6: map via from_json (props JSON plays the Map role, FIXTURES.md).
    "o_x6_map" -> ((s, d) => {
      Tables.events(s, d)
        .withColumn("m", from_json(col("props"),
          org.apache.spark.sql.types.DataType.fromDDL("map<string,int>")))
        .select(col("event_id"),
          element_at(col("m"), "k").as("k_val"),
          size(map_keys(col("m"))).as("n_keys"))
        .orderBy("event_id")
    }),

    // O-X7: JSON extraction (event_details String — migrations/006:33).
    "o_x7_json" -> ((s, d) => {
      Tables.events(s, d).select(col("event_id"),
          get_json_object(col("props"), "$.k").as("k_str"))
        .orderBy("event_id")
    }),

    // O-X8: hashing (dedup keys, SURVEY O-X8).
    "o_x8_hash" -> ((s, d) => {
      Tables.customer(s, d).select(col("c_custkey"),
          md5(col("c_name").cast("binary")).as("name_md5"),
          sha2(col("c_name").cast("binary"), 256).as("name_sha256"))
        .orderBy("c_custkey")
    }),

    // O-X9: CH array-scan functions `arrayCumSum` / `arrayDifference` —
    // per order, the line quantities in linenumber order, their running
    // sum, and their first differences (CH convention: element 0 is 0).
    // Scalar-row output (the adjudication harness can't sort list cells
    // in pandas), so the natural plan is ONE keyed window pass — ordinal,
    // running sum, and lag all ride a single l_orderkey exchange+sort.
    // No collect/HOF/posexplode round trip: that detour only paid for
    // itself when the OUTPUT was the array. Quantities are integral
    // doubles, so the running sum is exact under any summation order.
    "o_x9_array_cum" -> ((s, d) => {
      // quantity IS NOT NULL both sides (NULL would poison cum/diff);
      // (l_linenumber, l_quantity) order because the synthetic lineitem
      // has duplicate linenumbers per order — ties broken by value make
      // cum/diff deterministic (equal values commute through both).
      val w = Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber", "q")
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.lineitem(s, d)
        .filter(col("l_quantity").isNotNull)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").as("q"))
        .select(col("l_orderkey"),
          (row_number().over(w) - 1).cast("int").as("ord"),
          col("q"),
          sum("q").over(run).as("cum"),
          coalesce(col("q") - lag("q", 1).over(w), lit(0.0)).as("diff"))
        .orderBy("l_orderkey", "ord")
    }),

    // O-X10: CH external dictionaries (`dictGet`/`dictGetOrDefault`/
    // `dictHas`) — enum-like id resolution as a FUNCTION, not a join.
    // The nation table loads once into a RAM dictionary (bounded collect,
    // CH dictionary-refresh scale); every probe is then an O(1) hash
    // lookup inside WholeStageCodegen — the plan has no join node at all.
    // DictionarySpec pins the no-join plan shape; the oracle is the
    // equivalent LEFT join.
    "o_x10_dictget" -> ((s, d) => {
      val dict = graft.sources.Dictionary.load(
        Tables.nation(s, d), "nation", "n_nationkey", Seq("n_name", "n_regionkey"))
      Tables.customer(s, d).select(col("c_custkey"),
          dict.get("n_name", col("c_nationkey")).as("nation_name"),
          dict.get("n_regionkey", col("c_nationkey")).as("region_key"),
          dict.getOrDefault("n_name", col("c_nationkey") + 100, lit("unknown"))
            .as("missing_name"),
          dict.has(col("c_nationkey")).as("known"))
        .orderBy("c_custkey")
    }),

    // S-SCAN1: sort-key-prefix scan — filter + narrow projection must both
    // reach the parquet reader (PushedFilters / ReadSchema in explain).
    "s_scan1_pushdown" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),

    // S-PROJ: CH PROJECTION analog — a materialized rollup that covered
    // aggregates are routed to TRANSPARENTLY by an optimizer rule
    // (plans.ProjectionRewrite). The entry materializes the rollup,
    // registers it, PROVES the rewrite fired (the optimized plan must
    // scan the projection, not the base), executes eagerly, and
    // deregisters — so no other catalog query rides the rule. The oracle
    // aggregates the base table directly: answer-preservation is the
    // whole contract.
    "s_proj_rewrite" -> ((s, d) => {
      import graft.plans.{AggSpec, Projection, ProjectionRewrite}
      // build-once per corpus version (r18 opt): CH projections are
      // materialized once and maintained on insert — the serving path
      // this key certifies is REGISTER + transparent rewrite + read,
      // not a per-query rebuild. Same Warehouse discipline as the
      // backbone stores: version-tokened path + `_graft_built` marker
      // (a lineitem data drop rebuilds), per-JVM tmp root by default.
      val projSpec = Seq(AggSpec("sum", "l_quantity"), AggSpec("count", "*"),
        AggSpec("min", "l_extendedprice"), AggSpec("max", "l_extendedprice"))
      val projGroup = Seq("l_returnflag", "l_linestatus")
      val out = s"${graft.pipeline.Warehouse.versionDir(s, d,
        "lineitem.parquet", "proj_")}/lineitem_rollup"
      graft.pipeline.Warehouse.ensure(s, out) {
        Projection.materialize(Tables.lineitem(s, d), "lineitem_rollup",
          projGroup, projSpec, out): Unit
      }
      val pd = Projection.define(Tables.lineitem(s, d), "lineitem_rollup",
        projGroup, projSpec, out)
      ProjectionRewrite.register(s, pd)
      try {
        val q = Tables.lineitem(s, d)
          .filter(col("l_returnflag") =!= "X")
          .groupBy("l_returnflag", "l_linestatus")
          .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"),
            min("l_extendedprice").as("min_price"),
            max("l_extendedprice").as("max_price"))
          .orderBy("l_returnflag", "l_linestatus")
        val scanned = q.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.location.rootPaths.map(_.toString)
              case _ => Nil
            }
        }.flatten
        require(scanned.exists(_.contains("/lineitem_rollup")),
          s"projection rewrite did not fire; scans=$scanned")
        q.localCheckpoint(true)
      } finally ProjectionRewrite.deregister("lineitem_rollup")
    }),

    // S-PING: health check (GET /ping ⇒ "Ok.", src/click_house.rs:46-59).
    "s_ping" -> ((s, _) => {
      import s.implicits._
      Seq("Ok.").toDF("ping")
    }),

    // O-A4b: approximate quantiles — the 100 TB path for O-A4 (single
    // pass, mergeable sketches; exact percentile needs a global sort of
    // the group). No oracle: approximation is engine-specific.
    "o_a4b_quantile_approx" -> ((s, d) => {
      Tables.lineitem(s, d).groupBy("l_returnflag").agg(
          expr("percentile_approx(l_quantity, 0.5, 1000)").as("p50_approx"),
          expr("percentile_approx(l_quantity, 0.9, 1000)").as("p90_approx"))
        .orderBy("l_returnflag")
    }),

    // S-ROUTE: subject→table demultiplex as a batch CASE fanout
    // (src/handler.rs:9-55; unroutable ⇒ dead-letter, src/main.rs:68-72).
    "s_route_fanout" -> ((s, d) => {
      Tables.events(s, d)
        .withColumn("route",
          when(col("event_type").isin("click", "view"), "engagement_events")
            .when(col("event_type") === "purchase", "purchase_events")
            .when(col("event_type") === "signup", "registration_events")
            .otherwise("_dlq"))
        .groupBy("route").agg(count(lit(1)).as("n"))
        .orderBy("route")
    })
  )

  // ======================= DuckDB oracle SQL ==========================

  val oracles: Map[String, String] = Map(
    "o_p1_project" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         ORDER BY l_orderkey, l_linenumber""",

    "o_f1_filter_range" ->
      """SELECT event_id, ts, user_id, value FROM events
         WHERE event_type = 'purchase'
           AND ts >= TIMESTAMP '2024-01-08 00:00:00'
           AND ts <  TIMESTAMP '2024-01-15 00:00:00'
         ORDER BY event_id""",

    "o_f2_like" ->
      """SELECT p_partkey, p_name, p_type FROM part
         WHERE p_type LIKE '%ECONOMY%' OR p_name LIKE '%red%'
         ORDER BY p_partkey""",

    "o_f3_isin" ->
      """SELECT o_orderpriority, COUNT(*) AS n FROM orders
         WHERE o_orderpriority IN ('1-URGENT','2-HIGH')
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "o_f4_nulls" ->
      """SELECT c_custkey,
                COALESCE(NULLIF(c_mktsegment, ''), 'UNKNOWN') AS seg,
                CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS pos_bal
         FROM customer ORDER BY c_custkey""",

    "o_j1_inner" ->
      """SELECT o_orderstatus,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
                COUNT(*) AS n
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "o_j2_broadcast" ->
      """SELECT p_brand, COUNT(*) AS n_items, AVG(l_quantity) AS avg_qty
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand ORDER BY p_brand""",

    "o_j3_left" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
                COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS spend
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey ORDER BY c_custkey""",

    "o_j4_semi" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""",

    "o_j5_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""",

    "o_j6b_asof_native" ->
      """SELECT event_id, user_id, ts, o_orderkey, o_orderdate FROM (
           SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate
           FROM events e JOIN orders o
             ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
           WHERE e.event_type = 'purchase'
           QUALIFY row_number() OVER (PARTITION BY e.event_id
                     ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) = 1)
         ORDER BY event_id""",

    "o_j6d_asof_sql" ->
      """SELECT event_id, user_id, ts, o_orderkey, o_orderdate FROM (
           SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate
           FROM events e JOIN orders o
             ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
           WHERE e.event_type = 'purchase'
           QUALIFY row_number() OVER (PARTITION BY e.event_id
                     ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) = 1)
         ORDER BY event_id""",

    "o_j6c_asof_forward" ->
      """SELECT o_orderkey, o_custkey, o_orderdate, event_id, ts FROM (
           SELECT o.o_orderkey, o.o_custkey,
                  CAST(o.o_orderdate AS TIMESTAMP) AS o_orderdate,
                  e.event_id, e.ts
           FROM orders o JOIN events e
             ON o.o_custkey = e.user_id AND e.ts >= o.o_orderdate
           WHERE e.event_type = 'purchase'
           QUALIFY row_number() OVER (PARTITION BY o.o_orderkey
                     ORDER BY e.ts ASC, e.event_id ASC) = 1)
         ORDER BY o_orderkey""",

    "o_j6_asof" ->
      """SELECT event_id, user_id, ts, o_orderkey, o_orderdate FROM (
           SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate
           FROM events e JOIN orders o
             ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
           WHERE e.event_type = 'purchase'
           QUALIFY row_number() OVER (PARTITION BY e.event_id
                     ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) = 1)
         ORDER BY event_id""",

    "o_j7_range" ->
      """SELECT e1.event_id AS signup_id, e1.user_id AS user_id, COUNT(*) AS n_clicks
         FROM events e1 JOIN events e2
           ON e1.user_id = e2.user_id
          AND e2.ts >= e1.ts AND e2.ts < e1.ts + INTERVAL 24 HOUR
         WHERE e1.event_type = 'signup' AND e2.event_type = 'click'
         GROUP BY 1, 2 ORDER BY 1""",

    "o_j8_self" ->
      """SELECT a.o_custkey AS custkey, COUNT(*) AS n_pairs
         FROM orders a JOIN orders b
           ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
          AND abs(date_diff('day', a.o_orderdate, b.o_orderdate)) <= 7
         GROUP BY 1 ORDER BY 1""",

    "o_j9_cross" ->
      """SELECT r_name, o_orderstatus
         FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders)
         ORDER BY r_name, o_orderstatus""",

    "o_a1_hashagg" ->
      """SELECT l_returnflag, l_linestatus,
                SUM(l_quantity) AS sum_qty,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
                CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS sum_disc,
                SUM(l_quantity) / COUNT(*) AS avg_qty,
                COUNT(*) AS n
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",

    "o_a2_distinct" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS dau, COUNT(*) AS n
         FROM events GROUP BY event_type ORDER BY event_type""",

    "o_a4_quantile" ->
      """SELECT l_returnflag,
                round(quantile_cont(l_quantity, 0.5), 6) AS p50,
                round(quantile_cont(l_quantity, 0.9), 6) AS p90
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "o_a5_argmax" ->
      """SELECT user_id,
                (max(CASE WHEN ts IS NOT NULL
                     THEN struct_pack(ts := ts, eid := event_id) END)).eid AS last_event_id,
                (min(CASE WHEN ts IS NOT NULL
                     THEN struct_pack(ts := ts, eid := event_id) END)).eid AS first_event_id,
                MAX(ts) AS last_ts
         FROM events GROUP BY user_id ORDER BY user_id""",

    "o_a6_collect" ->
      """SELECT o_custkey,
                array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses
         FROM orders GROUP BY o_custkey ORDER BY o_custkey""",

    "o_a7_condagg" ->
      """SELECT event_type,
                COUNT(*) FILTER (WHERE value > 100.0) AS n_big,
                COALESCE(CAST(SUM(CASE WHEN value > 100.0
                  THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS sum_big
         FROM events GROUP BY event_type ORDER BY event_type""",

    "o_a8_rollup" ->
      """SELECT r_name, n_name, COUNT(*) AS n_cust,
                CAST(GROUPING(r_name) * 2 + GROUPING(n_name) AS INT) AS gid
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP(r_name, n_name)
         ORDER BY gid, r_name NULLS FIRST, n_name NULLS FIRST""",

    "o_a8b_cube" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
                CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS INT) AS gid
         FROM orders
         GROUP BY CUBE(o_orderstatus, o_orderpriority)
         ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",

    "o_a8c_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
                CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS INT) AS gid
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
         ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",

    "o_a11_pivot" ->
      """SELECT user_id,
                COUNT(*) FILTER (WHERE event_type = 'click') AS click,
                COUNT(*) FILTER (WHERE event_type = 'error') AS error,
                COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
                COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
                COUNT(*) FILTER (WHERE event_type = 'view') AS view
         FROM events GROUP BY user_id ORDER BY user_id""",

    "o_a19_summap" ->
      """WITH g AS (
           SELECT CAST(ts AS DATE) AS event_date, event_type,
                  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
           FROM events GROUP BY 1, 2)
         SELECT event_date,
                CAST(row_number() OVER (PARTITION BY event_date
                                        ORDER BY event_type) - 1 AS INT) AS ord,
                event_type, total
         FROM g ORDER BY event_date, ord""",

    "o_a20_uniq_upto" ->
      """SELECT CAST(ts AS DATE) AS event_date, event_type,
                LEAST(COUNT(DISTINCT user_id), 51) AS uniq_upto_50
         FROM events GROUP BY 1, 2 ORDER BY event_date, event_type""",

    "o_a26_stats" ->
      """SELECT l_returnflag,
                round(stddev_samp(l_quantity), 6) AS sd_qty,
                round(var_pop(l_quantity), 6) AS var_qty,
                round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
                round(covar_samp(l_quantity, l_extendedprice), 6) AS cov_qp
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "o_a27_weighted_median" ->
      """WITH t AS (
           SELECT l_returnflag, l_extendedprice AS val,
                  SUM(CAST(l_quantity AS BIGINT))
                    OVER (PARTITION BY l_returnflag
                          ORDER BY l_extendedprice, l_orderkey, l_linenumber
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                  SUM(CAST(l_quantity AS BIGINT))
                    OVER (PARTITION BY l_returnflag) AS tot
           FROM lineitem)
         SELECT l_returnflag, MIN(val) AS wmedian
         FROM t WHERE cum * 2 >= tot
         GROUP BY l_returnflag ORDER BY l_returnflag""",

    "o_a27b_weighted_quantiles" ->
      """WITH t AS (
           SELECT l_returnflag, l_extendedprice AS val,
                  SUM(CAST(l_quantity AS BIGINT))
                    OVER (PARTITION BY l_returnflag
                          ORDER BY l_extendedprice, l_orderkey, l_linenumber
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                  SUM(CAST(l_quantity AS BIGINT))
                    OVER (PARTITION BY l_returnflag) AS tot
           FROM lineitem),
         m AS (
           SELECT l_returnflag,
                  MIN(CASE WHEN cum * 100 >= tot * 25 THEN val END) AS q25,
                  MIN(CASE WHEN cum * 100 >= tot * 50 THEN val END) AS q50,
                  MIN(CASE WHEN cum * 100 >= tot * 75 THEN val END) AS q75,
                  MIN(CASE WHEN cum * 100 >= tot * 90 THEN val END) AS q90
           FROM t GROUP BY l_returnflag)
         SELECT l_returnflag, q_pct, qval FROM (
           SELECT l_returnflag, 25 AS q_pct, q25 AS qval FROM m
           UNION ALL SELECT l_returnflag, 50, q50 FROM m
           UNION ALL SELECT l_returnflag, 75, q75 FROM m
           UNION ALL SELECT l_returnflag, 90, q90 FROM m)
         ORDER BY l_returnflag, q_pct""",

    "o_a30_moments" ->
      """WITH g AS (
           SELECT l_returnflag,
                  SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(l_quantity AS BIGINT)) AS swx,
                  SUM(CAST(l_quantity AS BIGINT)) AS sw,
                  CAST(COUNT(*) AS DOUBLE) AS n,
                  SUM(l_quantity) AS s1,
                  SUM(l_quantity * l_quantity) AS s2,
                  SUM(l_quantity * l_quantity * l_quantity) AS s3,
                  SUM(l_quantity * l_quantity * l_quantity * l_quantity) AS s4
           FROM lineitem GROUP BY l_returnflag),
         mm AS (
           SELECT l_returnflag,
                  round(CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE), 6) AS avg_weighted,
                  s1 / n AS m1, s2 / n AS m2, s3 / n AS m3, s4 / n AS m4
           FROM g),
         v AS (SELECT *, m2 - m1 * m1 AS var0 FROM mm)
         SELECT l_returnflag, avg_weighted,
                round((m3 - 3.0 * m1 * m2 + 2.0 * m1 * m1 * m1)
                      / (var0 * sqrt(var0)), 6) AS skew_pop,
                round((m4 - 4.0 * m1 * m3 + 6.0 * m1 * m1 * m2
                       - 3.0 * m1 * m1 * m1 * m1)
                      / (var0 * var0) - 3.0, 6) AS kurt_pop
         FROM v ORDER BY l_returnflag""",

    "o_s6_sample" ->
      """SELECT event_type, COUNT(*) AS n,
                COUNT(DISTINCT user_id) AS users
         FROM events
         WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 1) = '0'
         GROUP BY event_type ORDER BY event_type""",

    // the LIMIT n BY rewrite's contract, written out: first 3 rows per
    // key in result order
    "o_s7_limit_by_sql" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) WHERE rn <= 3
         ORDER BY o_totalprice DESC, o_orderkey""",

    // SAMPLE 1/16 == md5 hex prefix < '1' == the o_s6 '= 0' device
    "o_s8_sample_sql" ->
      """SELECT event_type, COUNT(*) AS n
         FROM events
         WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 1) < '1'
         GROUP BY event_type ORDER BY event_type""",

    // LIMIT 1, 2 BY == rank band (1, 3] per key in result order
    "o_s7b_limit_by_offset_sql" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) WHERE rn > 1 AND rn <= 3
         ORDER BY o_totalprice DESC, o_orderkey""",

    // WITH FILL == the observed-bounds hourly grid UNION the base's own
    // fill values, LEFT JOIN base; filled n stays NULL (stated delta vs
    // CH's type-default 0 — contrast o_s5's COALESCE form)
    "o_s9_with_fill_sql" ->
      """WITH hourly AS (SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS n
                         FROM events WHERE event_type = 'purchase' GROUP BY 1),
            b AS (SELECT CAST(min(hour) AS TIMESTAMP) AS lo,
                         CAST(max(hour) AS TIMESTAMP) AS hi FROM hourly),
            spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
                      FROM b
                      UNION
                      SELECT hour FROM hourly)
         SELECT spine.hour, n
         FROM spine LEFT JOIN hourly USING (hour) ORDER BY hour""",

    // FROM/TO bounds: the grid is [FROM, TO) — generate_series is
    // end-inclusive like sequence(), so the same < TO filter applies —
    // UNIONed with ALL base hours (rows outside the bounds survive)
    "o_s9b_with_fill_bounds_sql" ->
      """WITH hourly AS (SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS n
                         FROM events WHERE event_type = 'purchase' GROUP BY 1),
            spine AS (SELECT g AS hour FROM (
                        SELECT unnest(generate_series(
                          TIMESTAMP '2024-01-05 00:00:00',
                          TIMESTAMP '2024-01-07 00:00:00',
                          INTERVAL 1 HOUR)) AS g)
                      WHERE g < TIMESTAMP '2024-01-07 00:00:00'
                      UNION
                      SELECT hour FROM hourly)
         SELECT spine.hour, n
         FROM spine LEFT JOIN hourly USING (hour) ORDER BY hour""",

    "o_a28_delta_sum" ->
      """WITH t AS (
           SELECT user_id,
                  CAST(value AS DECIMAL(18,2)) AS v,
                  lag(CAST(value AS DECIMAL(18,2)))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           FROM events WHERE value IS NOT NULL)
         SELECT user_id,
                CAST(SUM(CASE WHEN v > prev THEN v - prev
                              ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS delta_sum,
                COUNT(*) AS n
         FROM t GROUP BY user_id ORDER BY user_id""",

    "o_a29_bounding_ratio" ->
      """WITH f AS (
           SELECT user_id, ts, event_id, value FROM events
           WHERE value IS NOT NULL),
         w AS (
           SELECT user_id, value, ts,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS rn_a,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn_d
           FROM f)
         SELECT user_id,
                round((MAX(CASE WHEN rn_d = 1 THEN value END)
                       - MAX(CASE WHEN rn_a = 1 THEN value END))
                      / CAST(NULLIF(MAX(CAST(floor(epoch(ts)) AS BIGINT))
                                    - MIN(CAST(floor(epoch(ts)) AS BIGINT)), 0)
                             AS DOUBLE), 6) + 0.0 AS bounding_ratio,
                MAX(CAST(floor(epoch(ts)) AS BIGINT))
                  - MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS span_s
         FROM w GROUP BY user_id ORDER BY user_id""",

    "o_a23_bitagg" ->
      """SELECT event_type,
                bit_and(user_id) AS band,
                bit_or(user_id) AS bor,
                bit_xor(user_id) AS bxor
         FROM events GROUP BY event_type ORDER BY event_type""",

    "o_a24_interval_union" ->
      """WITH iv AS (
           SELECT user_id, event_id,
                  -- floor, not cast: epoch() keeps the fractional second
                  -- and DuckDB CAST rounds; Spark unix_timestamp truncates
                  CAST(floor(epoch(ts)) AS BIGINT) AS s,
                  CAST(floor(epoch(ts)) AS BIGINT) + 300 AS e
           FROM events WHERE ts IS NOT NULL),
         marked AS (
           SELECT user_id, s, e,
                  CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                         IS NULL
                         OR s > max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       THEN 1 ELSE 0 END AS new_island,
                  event_id
           FROM iv),
         islands AS (
           SELECT user_id, s, e,
                  SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS island
           FROM marked),
         per AS (
           SELECT user_id, island, MAX(e) - MIN(s) AS len
           FROM islands GROUP BY 1, 2)
         SELECT user_id, CAST(SUM(len) AS BIGINT) AS covered_seconds,
                COUNT(*) AS n_islands
         FROM per GROUP BY user_id ORDER BY user_id""",

    "o_a22_minmaxmap" ->
      """WITH g AS (
           SELECT CAST(ts AS DATE) AS event_date, event_type,
                  MIN(value) AS vmin, MAX(value) AS vmax
           FROM events GROUP BY 1, 2)
         SELECT event_date,
                CAST(row_number() OVER (PARTITION BY event_date
                                        ORDER BY event_type) - 1 AS INT) AS ord,
                event_type, vmin, vmax
         FROM g ORDER BY event_date, ord""",

    "o_x9_array_cum" ->
      """SELECT l_orderkey,
                -- (linenumber, quantity) sort key: the synthetic lineitem
                -- has duplicate linenumbers per order, and Spark's
                -- array_sort over the (ln, qty) struct breaks ties by qty.
                -- Scalar-row form of the array scan: ord = position,
                -- cum = running sum (integral doubles — exact), diff[0] = 0.
                CAST(row_number() OVER w - 1 AS INT) AS ord,
                l_quantity AS q,
                SUM(l_quantity) OVER (PARTITION BY l_orderkey
                                      ORDER BY l_linenumber, l_quantity
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND CURRENT ROW) AS cum,
                COALESCE(l_quantity - lag(l_quantity) OVER w, 0.0) AS diff
         FROM lineitem WHERE l_quantity IS NOT NULL
         WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity)
         ORDER BY l_orderkey, ord""",

    "s_proj_rewrite" ->
      """SELECT l_returnflag, l_linestatus,
                SUM(l_quantity) AS sum_qty, COUNT(*) AS n,
                MIN(l_extendedprice) AS min_price,
                MAX(l_extendedprice) AS max_price
         FROM lineitem WHERE l_returnflag <> 'X'
         GROUP BY 1, 2 ORDER BY 1, 2""",

    "o_x10_dictget" ->
      """SELECT c_custkey,
                n.n_name AS nation_name,
                n.n_regionkey AS region_key,
                COALESCE(n2.n_name, 'unknown') AS missing_name,
                n.n_nationkey IS NOT NULL AS known
         FROM customer c
         LEFT JOIN nation n  ON c.c_nationkey = n.n_nationkey
         LEFT JOIN nation n2 ON c.c_nationkey + 100 = n2.n_nationkey
         ORDER BY c_custkey""",

    "o_a9_counts" ->
      """SELECT tbl, n FROM (
           SELECT 'lineitem' AS tbl, COUNT(*) AS n FROM lineitem
           UNION ALL SELECT 'orders', COUNT(*) FROM orders
           UNION ALL SELECT 'customer', COUNT(*) FROM customer
           UNION ALL SELECT 'events', COUNT(*) FROM events)
         ORDER BY tbl""",

    "o_a10_histogram" ->
      """SELECT CAST(FLOOR(value / 50) AS BIGINT) AS bucket, COUNT(*) AS n
         FROM events GROUP BY 1 ORDER BY 1""",

    "o_s1_sort" ->
      "SELECT event_id, ts FROM events ORDER BY ts, event_id",

    "o_s2_limit_offset" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_orderkey LIMIT 100 OFFSET 50""",

    "o_s3_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",

    "o_s4_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
         ORDER BY l_returnflag, l_linestatus""",

    "o_s5_with_fill" ->
      """WITH hourly AS (SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS n
                         FROM events WHERE event_type = 'purchase' GROUP BY 1),
            b AS (SELECT CAST(min(hour) AS TIMESTAMP) AS lo,
                         CAST(max(hour) AS TIMESTAMP) AS hi FROM hourly),
            spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
                      FROM b)
         SELECT spine.hour, COALESCE(n, 0) AS n
         FROM spine LEFT JOIN hourly USING (hour) ORDER BY hour""",

    "o_u1_union" ->
      """SELECT id, src, COUNT(*) AS n FROM (
           SELECT user_id AS id, 'click' AS src FROM events WHERE event_type = 'click'
           UNION ALL
           SELECT user_id, 'view' FROM events WHERE event_type = 'view')
         GROUP BY id, src ORDER BY id, src""",

    "o_u2_intersect" ->
      """SELECT user_id FROM events WHERE event_type = 'purchase'
         INTERSECT
         SELECT user_id FROM events WHERE event_type = 'error'
         ORDER BY user_id""",

    "o_u3_except" ->
      """SELECT o_custkey AS custkey FROM orders
         EXCEPT SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
         ORDER BY custkey""",

    "o_x1_string" ->
      """SELECT c_custkey, upper(c_name) AS name_upper,
                CAST(length(c_name) AS INT) AS name_len,
                substring(c_name, 1, 8) AS prefix,
                regexp_extract(c_name, '([0-9]+)', 1) AS digits,
                c_mktsegment || ':' || c_name AS tagged
         FROM customer ORDER BY c_custkey""",

    "o_x2_datetime" ->
      """SELECT o_orderkey,
                CAST(year(o_orderdate) AS INT) AS y,
                CAST(month(o_orderdate) AS INT) AS m,
                CAST(day(o_orderdate) AS INT) AS dom,
                date_trunc('month', o_orderdate) AS month_start,
                o_orderdate + INTERVAL 7 DAY AS plus7,
                CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INT) AS age_days,
                CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
         FROM orders ORDER BY o_orderkey""",

    "o_x3_math" ->
      """SELECT l_orderkey, l_linenumber,
                l_extendedprice * (1.0 - l_discount) AS net,
                l_extendedprice * (1.0 + l_tax) AS taxed,
                CAST(floor(l_extendedprice) AS BIGINT) AS fl,
                round(abs(l_discount - l_tax), 6) AS ab,
                greatest(l_discount, l_tax) AS g,
                round(l_quantity / 50.0, 6) AS ratio
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",

    "o_x4_case" ->
      """SELECT o_orderkey,
                CASE o_orderstatus WHEN 'F' THEN 'finished' WHEN 'O' THEN 'open'
                     ELSE 'partial' END AS status_label,
                CASE WHEN o_totalprice > 200000.0 THEN 'big'
                     WHEN o_totalprice > 50000.0 THEN 'mid'
                     ELSE 'small' END AS size_class
         FROM orders ORDER BY o_orderkey""",

    "o_x5_array" ->
      """SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS INT) AS n_words,
                list_contains(string_split(text, ' '), 'spark') AS has_spark,
                CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_uniq,
                array_to_string(list_slice(list_sort(list_distinct(string_split(text, ' '))), 1, 5), ',') AS top5
         FROM documents ORDER BY doc_id""",

    "o_x5b_explode" ->
      """SELECT doc_id, CAST(i - 1 AS INT) AS pos, w[i] AS word
         FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id < 20),
              unnest(generate_series(1, len(w))) AS t(i)
         ORDER BY doc_id, pos""",

    "o_x6_map" ->
      """SELECT event_id,
                CAST(json_extract_string(props, '$.k') AS INT) AS k_val,
                CAST(len(json_keys(props)) AS INT) AS n_keys
         FROM events ORDER BY event_id""",

    "o_x7_json" ->
      """SELECT event_id, json_extract_string(props, '$.k') AS k_str
         FROM events ORDER BY event_id""",

    "o_x8_hash" ->
      """SELECT c_custkey, md5(c_name) AS name_md5, sha256(c_name) AS name_sha256
         FROM customer ORDER BY c_custkey""",

    "s_ping" -> "SELECT 'Ok.' AS ping",

    "s_scan1_pushdown" ->
      """SELECT l_returnflag, COUNT(*) AS n FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1997-01-01'
           AND l_shipdate <  TIMESTAMP '1998-01-01'
         GROUP BY l_returnflag ORDER BY l_returnflag""",

    "s_route_fanout" ->
      """SELECT CASE WHEN event_type IN ('click','view') THEN 'engagement_events'
                     WHEN event_type = 'purchase' THEN 'purchase_events'
                     WHEN event_type = 'signup' THEN 'registration_events'
                     ELSE '_dlq' END AS route, COUNT(*) AS n
         FROM events GROUP BY 1 ORDER BY 1"""
  )
}
