package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan quality gates — the ".explain and iterate" discipline
  * codified. These assert the properties that matter at 100 TB: filters
  * and projections reach the parquet scan, small dimensions broadcast,
  * aggregates run partial→final, and sorted-prefix scans don't shuffle
  * more than once.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  /** The plan as it runs above the small-input gate: the fixtures are far
    * below it, so exchange-shape assertions pin the scale path with the
    * gate off. */
  private def scalePlan(name: String): String =
    graft.plans.SingleStage.withGateBytes(0)(plan(name))

  test("s_scan1: filter pushed to parquet, schema pruned") {
    val p = plan("s_scan1_pushdown")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      s"no pushed filter in:\n$p")
    assert(p.contains("ReadSchema: struct<l_returnflag:string,l_shipdate:timestamp"),
      s"schema not pruned to 2 cols in:\n$p")
  }

  test("o_p1: projection pruned at the scan") {
    val p = plan("o_p1_project")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_extendedprice:double>"))
  }

  test("o_j2: dimension join is a broadcast hash join") {
    val p = scalePlan("o_j2_broadcast")
    assert(p.contains("BroadcastHashJoin"), s"expected BroadcastHashJoin in:\n$p")
    assert(!p.contains("SortMergeJoin"))
  }

  test("o_a1: hash aggregate is partial then final, inside codegen") {
    val df = SparkEntry.queries("o_a1_hashagg")(spark, sf)
    df.collect() // finalize the adaptive plan so codegen stages materialize
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("partial_sum"), s"expected partial aggregation:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"expected partial+final HashAggregate:\n$p")
    // codegen stages print as "*(n)" in the adaptive final-plan string
    assert(p.contains("*("), "agg should run inside whole-stage codegen")
  }

  test("o_w2: rank filter gets the WindowGroupLimit physical path (LIMIT BY)") {
    val p = plan("o_w2_topn")
    // Spark's InferWindowGroupLimit turns rn<=k into a per-group limit
    // pushed below the window — the efficient ClickHouse LIMIT-BY shape.
    assert(p.contains("WindowGroupLimit"), s"expected WindowGroupLimit in:\n$p")
  }

  test("o_s7: literal CH 'LIMIT n BY' parses into the windowed group-limit plan") {
    // the text goes through spark.sql via the injected CH-dialect parser;
    // the physical plan must be the o_w2 shape — a row_number window with
    // the rn<=k filter pushed to WindowGroupLimit, NOT a global sort+scan
    val p = plan("o_s7_limit_by_sql")
    assert(p.contains("WindowGroupLimit"), s"expected WindowGroupLimit in:\n$p")
    assert(p.contains("row_number"), s"expected a row_number window in:\n$p")
  }

  test("o_s8: literal CH 'SAMPLE a/b' becomes a deterministic pushed filter") {
    val df = SparkEntry.queries("o_s8_sample_sql")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the md5-prefix predicate filters BEFORE the aggregate (no sample
    // operator, no RNG — substring(md5(..)) < bound inside the scan stage)
    assert(p.contains("md5"), s"expected the md5 device in:\n$p")
    assert(!p.toLowerCase.contains("sample"), s"no RNG sampler expected in:\n$p")
  }

  test("o_w6: leaderboard position rides the slice CDF, not an n_orders window") {
    // the catalog entry Materialize.drops its (small) result, hiding the
    // plan — so the shape that REPLACED the hazard (row_number over a
    // ~40-value n_orders partition) is pinned on the same building
    // block the query uses: the unit-weight CDF over (neg_orders,
    // o_custkey). Every window over the corpus-sized side must key on
    // the slice id, never the bounded value domain alone.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.functions.{col => c, count => cnt, lit}
    val base = graft.Tables.orders(spark, sf).groupBy("o_custkey")
      .agg(cnt(lit(1)).as("n_orders"))
    val (cdf, caches) = graft.plans.SingleStage.withGateBytes(0)(
      graft.operators.OrderStats.weightedCdfPlan(
        base.withColumn("g", lit(1)).withColumn("one", lit(1L))
          .withColumn("neg_orders", -c("n_orders")),
        "g", Seq("neg_orders", "o_custkey"), "one"))
    cdf.collect()
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case _ => p +: p.children.flatMap(nodes)
    }
    val wins = nodes(cdf.queryExecution.executedPlan).collect { case w: WindowExec => w }
    assert(wins.nonEmpty, "expected the slice-local cumulative window")
    // the corpus-sized cumulative window keys on (pid, g); the offset
    // branch's windows run over the slices x keys table (tiny). None may
    // be empty-partitioned (single task at scale).
    assert(wins.forall(_.partitionSpec.nonEmpty),
      s"global-order window found — single-partition at scale:\n${wins.mkString("\n")}")
    assert(wins.exists(_.partitionSpec.exists(_.toString.contains("pid"))),
      s"the cumulative window must be slice-keyed:\n${wins.mkString("\n")}")
    caches.foreach(_.unpersist())
  }

  test("o_s3: top-k fuses to TakeOrderedAndProject (no global sort)") {
    val p = plan("o_s3_topk")
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrderedAndProject in:\n$p")
  }

  test("o_j6 as-of: single shuffle on the join key, no row-multiplying join") {
    val p = plan("o_j6_asof")
    // union + window approach: no Join node at all
    assert(!p.contains("Join"), s"as-of should be join-free (union+window):\n$p")
    assert(p.contains("Window"), "expected window operator")
  }

  test("d_knn_cosine: query side broadcast, no shuffle of candidates") {
    val p = plan("d_knn_cosine")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"queries must broadcast:\n$p")
  }

  test("proto decode runs inside whole-stage codegen with no UDF node") {
    graft.functions.GraftExtensions.register(spark)
    val ddl = graft.streaming.EventSchemas.tables("login_events").toDDL
    // non-foldable input: with a literal payload the optimizer constant-
    // folds the whole decode away (itself worth having — UDFs never fold)
    val df = spark.range(2)
      .selectExpr(s"proto_decode(cast(cast(id AS STRING) AS BINARY), '$ddl') AS d")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("UDF"), s"decode must not be a UDF:\n$p")
    assert(p.contains("proto_decode"), s"native expression missing:\n$p")
    assert(p.contains("*("), s"decode should sit inside whole-stage codegen:\n$p")
  }

  test("o_a12 sketch rollup: partial merge through ObjectHashAggregate, no raw re-scan at merge") {
    val df = SparkEntry.queries("o_a12_sketch_merge")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // sketch aggs are object aggregates; both the partial (sketch_agg) and
    // the merge (union_agg) levels must appear
    assert(p.contains("ObjectHashAggregate"), s"expected ObjectHashAggregate:\n$p")
    assert(p.contains("hll_sketch_agg") && p.contains("hll_union_agg"),
      s"expected sketch build + union:\n$p")
  }

  test("o_a13/o_a14 sketch rollups: object aggregates, partial build + merge levels") {
    Seq(("o_a13_quantile_sketch", "ddsketch_agg", "ddsketch_merge"),
        ("o_a14_topk", "topk_agg", "topk_merge")).foreach {
      case (name, build, merge) =>
        val df = SparkEntry.queries(name)(spark, sf)
        df.collect()
        val p = df.queryExecution.executedPlan.toString
        assert(p.contains("ObjectHashAggregate"),
          s"$name: expected ObjectHashAggregate:\n$p")
        assert(p.contains(build) && p.contains(merge),
          s"$name: expected $build + $merge levels:\n$p")
    }
  }

  test("s_scan2_proto: unused wire fields pruned at the proto decoder") {
    val df = SparkEntry.queries("s_scan2_proto")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("graft-proto"), s"expected graft-proto scan:\n$p")
    // props is encoded in the wire files but unused by the aggregate —
    // the scan's ReadSchema must not include it
    assert(p.contains("ReadSchema: event_id BIGINT,user_id BIGINT,event_type STRING"),
      s"proto scan should prune props:\n$p")
  }

  test("d_dedup_minhash: result reads the stored backbone, never a driver collect") {
    val df = SparkEntry.queries("d_dedup_minhash")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // r11: the catalog query is a READ of the materialized backbone pair
    // table (one LSH+verify evaluation per corpus, shared by the whole
    // cascade) — the plan must be a parquet scan, and never a
    // LocalTableScan, which would mean the pair list round-tripped
    // through the driver (the 100 TB driver-OOM anti-pattern).
    assert(!p.contains("LocalTableScan"),
      s"minhash result must not pass through the driver:\n$p")
    assert(p.contains("FileScan parquet") && p.contains("graft-backbone"),
      s"minhash should scan the stored backbone pair table:\n$p")
  }

  test("cascade consumers share ONE backbone evaluation (plan audit)") {
    // d_dedup_cluster / keep_best / curation / delta all read the stored
    // label/pair/fingerprint tables: none of their executed plans may
    // contain the LSH derivation (no documents-scan + band explode), and
    // each must scan the backbone store.
    Seq("d_dedup_cluster", "d_dedup_keep_best", "d_dedup_delta")
      .foreach { name =>
        val df = SparkEntry.queries(name)(spark, sf)
        val p = df.queryExecution.executedPlan.toString
        assert(p.contains("graft-backbone"),
          s"$name should read the stored backbone:\n$p")
      }
    // r12s3 (fps2 quality columns): the whole nightly cascade rescans
    // NO document text — decisions, keeper policy, drift, the token
    // budget, and the shard delta all ride stored tables end to end
    Seq("d_dedup_cluster", "d_dedup_keep_best", "d_curation_apply",
        "d_curation_drift", "d_token_budget", "d_shard_delta")
      .foreach { name =>
        val p = SparkEntry.queries(name)(spark, sf)
          .queryExecution.executedPlan.toString
        assert(!p.contains("documents.parquet"),
          s"$name must not re-scan the corpus:\n$p")
      }
  }

  test("d_dedup_minhash: verification joins shuffle by doc_id above the broadcast gate") {
    // Default gate (corpus << 1M docs): the two per-doc set-table joins
    // broadcast — plus the shingle-alphabet dim — so >=3 broadcast joins.
    // Planned above the small-input gate, which would run every join of
    // this fixture as a shuffled hash join in one stage.
    graft.plans.SingleStage.withGateBytes(0) {
      val smallPlan = pipeline.TextDedup.minhashPairsPlan(spark, sf)
      val broadcasts = "BroadcastHashJoin".r
      val nSmall = broadcasts.findAllIn(
        smallPlan.pairs.queryExecution.executedPlan.toString).size
      assert(nSmall >= 3, s"expected alphabet + 2 set-table broadcasts, got $nSmall")
      smallPlan.caches.foreach(_.unpersist())
      // Gate forced to 0 (simulating a >1M-doc corpus): the set-table hint
      // is dropped, both verification joins become doc_id-keyed shuffles,
      // and ONLY the explicitly-hinted alphabet dim still broadcasts. The
      // auto-broadcast threshold is disabled for the same reason the gate
      // exists: at sf0.001 the un-hinted table is tiny enough for Catalyst
      // to re-broadcast it from size stats, which a 1M-doc corpus's size
      // estimate would not allow.
      val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val bigPlan = pipeline.TextDedup.withMaxBroadcastDocs(0)(
          pipeline.TextDedup.minhashPairsPlan(spark, sf))
        val p = bigPlan.pairs.queryExecution.executedPlan.toString
        val nBig = broadcasts.findAllIn(p).size
        assert(nBig < nSmall, s"gate must drop set-table broadcasts: $nBig vs $nSmall\n$p")
        assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
          s"verification joins must shuffle by doc_id above the gate:\n$p")
        bigPlan.caches.foreach(_.unpersist())
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      }
    }
  }

  test("d_decontam: benchmark grams broadcast; distinct is partial before shuffle") {
    // audit the exposed un-materialized plan: the catalog entry routes
    // through Materialize.drop (releasing the persisted gram stream),
    // which cuts lineage before the executed plan could be read; planned
    // above the small-input gate (its cached gram stream is gated input)
    val (r, caches) = graft.plans.SingleStage.withGateBytes(0)(
      pipeline.Curation.decontamPlan(spark, sf))
    try {
      val p = graft.plans.SingleStage.withGateBytes(0) {
        r.count()
        r.queryExecution.executedPlan.toString
      }
      assert(p.contains("BroadcastHashJoin"), s"bench gram set must broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"), s"corpus side must not shuffle for the join:\n$p")
      assert(p.contains("partial_count(distinct"), s"count-distinct must have a partial level:\n$p")
    } finally caches.foreach(_.unpersist())
  }

  test("d_emb_outlier: centroid broadcast, partial sums, top-3 via WindowGroupLimit") {
    // audit the exposed un-materialized plan (same pattern as
    // d_decontam): since r19 the catalog entry persists the exploded
    // branch and cuts lineage via Materialize.drop, so the entry's
    // executed plan is a checkpoint scan; planned above the small-input
    // gate (its cached exploded branch is gated input)
    val (r, caches) = graft.plans.SingleStage.withGateBytes(0)(
      pipeline.Curation.embOutlierPlan(spark, sf))
    try {
      val p = graft.plans.SingleStage.withGateBytes(0)(r.queryExecution.executedPlan.toString)
      assert(p.contains("BroadcastHashJoin"), s"640-row centroid table must broadcast:\n$p")
      assert(p.contains("partial_sum"), s"distance sum must combine map-side:\n$p")
      // rnk<=3 must push below the window as a per-group limit
      assert(p.contains("WindowGroupLimit"), s"expected WindowGroupLimit:\n$p")
      // the exploded stream must be evaluated ONCE across the centroid
      // and distance branches (r19 opt): both consumers read the cache
      assert(p.contains("InMemoryTableScan"),
        s"exploded branch should be persisted (single evaluation):\n$p")
    } finally caches.foreach(_.unpersist())
  }

  test("pii scrub / repetition are single-pass projections (no join, no agg)") {
    Seq("d_pii_scrub", "d_repetition").foreach { name =>
      val p = scalePlan(name)
      assert(!p.contains("Join") && !p.contains("HashAggregate"),
        s"$name should be a pure projection:\n$p")
      // only the deterministic output sort may shuffle the data SIDEWAYS;
      // the gated single-split scan fan-out (Tables.fanout, r18 opt) adds
      // a round-robin exchange directly over the scan — assert it stays
      // round-robin (pure parallelism, no keyed movement)
      val keyed = "Exchange (?!RoundRobinPartitioning)".r.findAllIn(p).size
      assert(keyed == 1, s"$name should shuffle once (sort):\n$p")
    }
  }

  test("o_a15d/o_a24: one user_id exchange, no joins (lead/sweep-line shapes)") {
    Seq("o_a15d_funnel_strict", "o_a24_interval_union").foreach { name =>
      val p = scalePlan(name)
      assert(!p.contains("Join"), s"$name should be join-free:\n$p")
      // the data-sized shuffle happens ONCE: window + per-user aggregate
      // ride the same user_id partitioning (the tiny result-distribution
      // aggregate after it may add its own exchange)
      assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
        s"$name should shuffle the stream on user_id exactly once:\n$p")
    }
  }

  test("o_w8: window and collect ride one user_id exchange") {
    val p = scalePlan("o_w8_moving_collect")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"window + groupBy should reuse the same user_id partitioning:\n$p")
  }

  test("o_a25: pair join reads ONE persisted segment table, no rescan") {
    // audit the exposed un-materialized plan (the catalog entry wraps it
    // in Materialize.drop, which hides the join behind the lineage cut)
    val (r, caches) = operators.IncrementalRollup.bitmapSegmentsPlan(spark, sf)
    try {
      r.count()
      val p = r.queryExecution.executedPlan.toString
      // both join sides must read the persisted segment table — the
      // events parquet scan appears only under InMemoryTableScan's build
      assert(p.contains("InMemoryTableScan"),
        s"o_a25 join should read the persisted segment table:\n$p")
      assert(p.contains("BroadcastNestedLoopJoin"),
        s"tiny theta self-join should broadcast:\n$p")
    } finally caches.foreach(_.unpersist())
  }

  test("o_x9/o_a19/o_a22: scalar-row reshapes are one window pass, no re-group") {
    // the array detour (collect_list + posexplode) is gone: ordinal,
    // running sum, and lag ride ONE keyed exchange, nothing explodes
    Seq("o_x9_array_cum", "o_a19_summap", "o_a22_minmaxmap").foreach { name =>
      val p = scalePlan(name)
      assert(!p.contains("Generate"), s"$name should not posexplode:\n$p")
      assert(!p.contains("collect_list"), s"$name should not collect arrays:\n$p")
    }
    assert("Exchange hashpartitioning\\(l_orderkey".r
      .findAllIn(scalePlan("o_x9_array_cum")).size == 1,
      "o_x9: one l_orderkey exchange carries all three window functions")
  }

  test("o_a27/o_a27b: weighted CDF parallelizes by slice, not by the 3-value flag") {
    // the catalog entries Materialize.drop their tiny results (plan
    // hidden behind ExistingRDD), so the contract is pinned on the
    // un-materialized CDF plan over the same lineitem projection
    import org.apache.spark.sql.functions.{col => c}
    val src = graft.Tables.lineitem(spark, sf)
      .select(c("l_returnflag"), c("l_extendedprice").as("val"),
        c("l_orderkey"), c("l_linenumber"),
        c("l_quantity").cast("bigint").as("wt"))
    val (cdf, caches) = graft.plans.SingleStage.withGateBytes(0)(
      graft.operators.OrderStats.weightedCdfPlan(
        src, "l_returnflag", Seq("val", "l_orderkey", "l_linenumber"), "wt"))
    val agg = cdf.filter(c("cum") * 2 >= c("tot"))
      .groupBy("l_returnflag").agg(
        org.apache.spark.sql.functions.min("val").as("wmedian"))
    // above the gate, like the CDF: its cached slices are gated input
    val p = graft.plans.SingleStage.withGateBytes(0) {
      agg.collect()
      agg.queryExecution.executedPlan.toString
    }
    // the corpus-sized cumulative window shuffles by (pid, flag) — the
    // slice space — never by the 3-value flag alone
    assert(p.contains("hashpartitioning(pid"),
      s"local cum must partition by the slice id:\n$p")
    // the old hazard's signature is gone: no sort keyed (flag, val) —
    // that was the corpus sorting inside 3 flag partitions. Flag-keyed
    // exchanges still exist, but only over aggregated rows (the offset
    // table and the final 3-row pick), never the corpus.
    assert("Sort \\[l_returnflag#\\d+ ASC NULLS FIRST, val#".r
      .findFirstIn(p).isEmpty,
      s"corpus must never sort inside bare-flag partitions:\n$p")
    // both CDF consumers read the one persisted slice table
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      s"offset + local-cum branches must share the cached slices:\n$p")
    caches.foreach(_.unpersist())
  }

  test("o_x10: dictGet plans no join and stays inside codegen") {
    val df = SparkEntry.queries("o_x10_dictget")(spark, sf)
    df.collect() // finalize the adaptive plan so codegen spans are visible
    val p = df.queryExecution.executedPlan.toString
    assert(!p.toLowerCase.contains("join"), s"dictGet must not plan a join:\n$p")
    assert(p.contains("dict_get"), s"expected dict_get expression in:\n$p")
    // "*(n)" prefixes are the WholeStageCodegen stage markers — the
    // Project carrying dict_get must sit inside one
    assert("""\*\(\d+\) Project \[.*dict_get""".r.findFirstIn(p).isDefined,
      s"probe should be codegen'd:\n$p")
  }

  test("d_pack_sequences: one bucket exchange feeding the streaming fold") {
    val df = SparkEntry.queries("d_pack_sequences")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning\\(bucket".r.findAllIn(p).size == 1,
      s"packing shuffles once, on bucket:\n$p")
    assert(!p.contains("Join") && !p.contains("Generate"),
      s"packing is a single stateful scan, no joins/explodes:\n$p")
  }

  test("d_lm_score: count joins are key-shuffles, never row-multiplying") {
    val p = plan("d_lm_score")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"LM scoring joins must be equi-joins on vocab keys:\n$p")
  }

  test("d_dup_spans: one exploded scan into partial->final gram aggregation, no join") {
    val p = plan("d_dup_spans")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      s"span counting must be a hash aggregate:\n$p")
    assert(!p.contains("Join"), s"span detection is agg-only, no join:\n$p")
  }

  test("d_dup_span_ratio: dup-set join is gram-keyed, never row-multiplying") {
    val p = plan("d_dup_span_ratio")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"ratio join must be an equi-join on the gram key:\n$p")
  }

  test("d_text_normalize: pure per-row projection — no aggregate, sort is the only exchange") {
    val p = plan("d_text_normalize")
    assert(!p.contains("HashAggregate") && !p.contains("Join"),
      s"normalization must not shuffle data sideways:\n$p")
    // the scan fan-out's round-robin exchange (Tables.fanout, r18 opt)
    // is parallelism, not sideways movement — count keyed exchanges only
    val exchanges = "Exchange (?!RoundRobinPartitioning)".r.findAllIn(p).size
    assert(exchanges <= 1, s"expected at most the final sort's exchange, got $exchanges:\n$p")
  }

  test("d_shard_delta: stored-state reads, pushed prev-filter, map-side manifest agg") {
    val p = plan("d_shard_delta")
    // both cascade evaluations ride the stored backbone tables
    assert(p.contains("graft-backbone"),
      s"shard delta must read the stored backbone:\n$p")
    // the previous-version side scans only history docs: the doc_id <
    // split predicate must reach the parquet scan
    assert(p.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id"),
      s"prev-side split filter must push to the scan:\n$p")
    // the shard manifest aggregation combines map-side (16-256 groups at
    // any corpus size — the reduce side must only see partials)
    assert(p.contains("partial_sum"),
      s"manifest totals must aggregate partial->final:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"all joins are doc_id/fp equi-joins:\n$p")
  }

  test("d_semantic_drift: pure stored-label reads — no clustering work in the plan") {
    val p = plan("d_semantic_drift")
    // both versions' labels come from committed warehouse tables
    assert(p.contains("graft-backbone") && p.contains("vec_"),
      s"drift must read the committed vector label tables:\n$p")
    // no candidate generation, verification, or CC in the audit plan:
    // no bucket self-join artifacts, no embeddings scan at all
    assert(!p.contains("embeddings.parquet"),
      s"drift must not rescan embeddings:\n$p")
    assert(!p.contains("Generate"), s"no explode belongs in the audit:\n$p")
  }

  test("catalog queries avoid cartesian products except the declared cross joins") {
    val allowed = Set("o_j9_cross", "d_knn_cosine", "d_dedup_cosine", "d_ann_lsh")
    // at scale: under the small-input gate a join of one-partition
    // sides drops its broadcast hint, and an inner non-equi join of them
    // may plan as a one-task CartesianProduct
    SparkEntry.queries.keys.filterNot(allowed).foreach { name =>
      val p = scalePlan(name)
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian product:\n$p")
    }
  }

  test("CollapseDedup rule removes the redundant second dedup") {
    val e = Tables.events(spark, sf)
    val doubled = e.dropDuplicates(Seq("event_id"))
      .dropDuplicates(Seq("event_id", "user_id"))
    // TestSession runs the full extension path (r17), so CollapseDedup
    // fires as a post-hoc resolution rule DURING analysis — the analyzed
    // plan arrives already collapsed; the rule must also be idempotent
    val analyzed = doubled.queryExecution.analyzed
    assert("Deduplicate".r.findAllIn(analyzed.toString).size == 1,
      s"extension should collapse at analysis:\n$analyzed")
    val collapsed = graft.plans.CollapseDedup(analyzed)
    assert("Deduplicate".r.findAllIn(collapsed.toString).size == 1,
      s"rule must be idempotent, got:\n$collapsed")
    // non-subset keys must NOT collapse (outer (user_id) ⊄ inner (event_id))
    val mixed = e.dropDuplicates(Seq("event_id")).dropDuplicates(Seq("user_id"))
      .queryExecution.analyzed
    assert("Deduplicate".r.findAllIn(graft.plans.CollapseDedup(mixed).toString).size == 2)
    // semantics preserved
    assert(doubled.count() == e.dropDuplicates(Seq("event_id")).count())
  }
}
