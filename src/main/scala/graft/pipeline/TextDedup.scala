package graft.pipeline

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data deduplication over the `documents` table — the operators
  * a 100 TB pretraining pipeline needs (BASELINE.json north star).
  *
  * Scale design notes:
  *  - exact dedup is one hash-shuffle on the fingerprint;
  *  - MinHash+LSH is linear in corpus size: tokens → 8 minhashes → 4
  *    banded keys → candidates only for colliding buckets — never the
  *    O(n²) pair space. Hashes are md5-hex (deterministic, engine-portable)
  *    so the whole pipeline is DuckDB-oracle-checkable; at production
  *    scale you'd swap in xxhash64 (same shape, one line).
  *  - the quadratic n-gram Jaccard variant is deliberately bounded to a
  *    doc_id slice — it is the *verifier*, not the scale path.
  */
object TextDedup {
  type Q = (SparkSession, String) => DataFrame

  /** Word bigrams ("shingles") — the corpus vocabulary is tiny, so unigram
    * sets degenerate (every doc ≈ whole vocab); bigrams discriminate. */
  private def bigramsCol: Column = expr(
    """CASE WHEN size(words) >= 2
         THEN transform(sequence(1, size(words) - 1),
                        i -> concat(element_at(words, i), ' ', element_at(words, i + 1)))
         ELSE array() END""")

  /** Exploded (doc_id, bigram) stream, duplicates retained — min-hash and
    * collect_set are duplicate-insensitive, so the scale path never pays
    * the distinct's shuffle. */
  private def rawTokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("words", split(col("text"), " "))
      .select(col("doc_id"), explode(bigramsCol).as("bg"))

  /** Distinct (doc_id, bigram) rows — needed where a pairwise COUNT(*)
    * stands in for set-intersection size (the n-gram verifier). */
  private def tokens(s: SparkSession, d: String): DataFrame =
    rawTokens(s, d).distinct()

  /** Audit-window bound shared by the exact verifier and the recall
    * audit. Covers the planted near-dup pairs at every SF (pairs like
    * 8↔245 straddle 200); keeps the quadratic bounded at sf0.1+. */
  private val auditWindow = 500

  /** Exact ground-truth near-dup pairs within the audit window,
    * MATERIALIZED once per corpus version (shared by the n-gram verifier
    * and the recall audit — both read the stored table; the O(window²)
    * verification runs once, not per query). */
  private def truthStore(s: SparkSession, d: String): DataFrame = {
    val path =
      s"${Warehouse.versionDir(s, d, "documents.parquet")}/audit_truth"
    Warehouse.ensure(s, path) {
      val (truth, t) = exactPairsWindow(s, d)
      try Warehouse.writeSized(truth, path)
      finally t.unpersist()
    }
    Warehouse.readParquet(s, path)
  }

  /** Exact ground-truth near-dup pairs within the audit window: shared-
    * bigram equi-join + COUNT(*) intersection, Jaccard ≥ 0.5 (the
    * cascade's θ). Returns (truth pairs UNORDERED, the token cache to
    * drop after materialization). */
  private def exactPairsWindow(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val t = tokens(s, d).filter(col("doc_id") < auditWindow).persist()
    val sz = t.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = t.as("a").join(t.as("b"),
        col("a.bg") === col("b.bg") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("inter"))
    val truth = inter
      .join(broadcast(sz).as("sa"), col("da") === col("sa.doc_id"))
      .join(broadcast(sz).as("sb"), col("db") === col("sb.doc_id"))
      .select(col("da"), col("db"),
        round(col("inter") / (col("sa.n") + col("sb.n") - col("inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
    (truth, t)
  }


  val queries: Map[String, Q] = Map(
    // Exact dedup: hash-groupBy on the STORED fingerprint table (built
    // once per corpus by the backbone); keeper = min doc_id.
    "d_dedup_exact" -> ((s, d) => {
      Backbone.fingerprints(s, d)
        .groupBy("fp")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("fp")
    }),

    // n-gram (bigram) Jaccard near-dup pairs — exact quadratic verifier on
    // a bounded slice (doc_id < 500). The LSH query below is the scale
    // path. (Measured: the codegen'd token equi-join + count beats an
    // all-pairs array_intersect 2x at sf0.1 — per-pair set construction
    // costs more than the narrow join rows it avoids.)
    "d_dedup_ngram" -> ((s, d) =>
      truthStore(s, d).orderBy("da", "db")),

    // LSH RECALL AUDIT — production observability for the band geometry.
    // At 100 TB nobody can verify dedup exhaustively; instead an audit
    // window (the same bounded slice as the exact verifier) computes the
    // exact ground-truth near-dup pairs and checks each one against the
    // STORED band table's bucket collisions (pushed-down doc_id filter —
    // a metadata-pruned read, never a re-sign). recall = avg(caught); a
    // window recall materially below the S-curve bound 1-(1-θ^r)^b says
    // the geometry under-catches at its threshold and bands/rows need
    // retuning — measured on live data, not assumed from the formula.
    // Cost: O(window²) verification + one filtered band-table read;
    // corpus-scale work never happens.
    "d_dedup_recall" -> ((s, d) => {
      val truth = truthStore(s, d)
      val b = Backbone.bands(s, d).filter(col("doc_id") < auditWindow)
      val caught = b.as("x").join(b.as("y"),
          col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
        .distinct().withColumn("caught", lit(1))
      truth
        .join(caught, Seq("da", "db"), "left")
        .select(col("da"), col("db"), col("jaccard"),
          coalesce(col("caught"), lit(0)).as("caught"))
        .orderBy("da", "db")
    }),

    // MinHash + LSH near-dup detection: 8 minhashes, 4 bands × 2 rows;
    // candidate pairs from band-bucket collisions, then exact Jaccard
    // verification on candidates only.
    "d_dedup_minhash" -> ((s, d) => minhashPairs(s, d)),

    // Near-duplicate CLUSTERS: connected components over the minhash
    // pair graph, so each dup group gets one canonical keeper (min
    // doc_id) — the step that turns pairwise dedup output into an
    // actionable keep/drop list. Components are found by iterative
    // min-label propagation (each round: label := min over self +
    // neighbors), the standard scalable CC loop (cf. large-star/
    // small-star): per round one join + one aggregate over the EDGE
    // list only — never the corpus — and rounds are bounded by
    // component diameter (near-dup clusters are shallow). Convergence
    // is detected by the label-sum signature, which strictly decreases
    // while any label changes (labels only ever decrease).
    // r11: labels come from the STORED backbone (one CC evaluation per
    // corpus, shared with keep-best / curation / e2e) — this query is the
    // cluster-size window over that table.
    "d_dedup_cluster" -> ((s, d) => {
      Backbone.labels(s, d)
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy("cluster_id")))
        .orderBy("doc_id")
    }),

    "d_dedup_simhash" -> ((s, d) => simhashPairs(s, d)),

    // INCREMENTAL backbone maintenance — the warehouse step that keeps
    // the stored cluster labels current as batches land, without ever
    // re-clustering history: sign the batch, probe the stored band
    // table, union the stored pair table, re-solve ONLY the touched
    // components (contracted to stars) together with the new edges.
    // Output shape and oracle are shared with d_dedup_cluster — the
    // incrementally-advanced labels must equal the full rebuild
    // bit-for-bit, which is the whole contract.
    "d_backbone_incr" -> ((s, d) => {
      Backbone.advance(s, d)
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy("cluster_id")))
        .orderBy("doc_id")
    }),

    // DELTA dedup — the production shape at 100 TB: verdicts for a NEW
    // batch (the upper half of the corpus by doc_id) against accumulated
    // HISTORY (the lower half), without re-deduplicating history. Exact =
    // fingerprint join against the history keeper table; near = minhash
    // cross pairs (history × batch only). One row per batch doc: what it
    // duplicates, how many history near-dups it has, and the admit/drop
    // verdict. Reads the STORED backbone fingerprint/pair tables; the
    // d_dedup_delta_stored variant below goes further and probes
    // separately-persisted history tables with batch-only signatures.
    "d_dedup_delta" -> ((s, d) => deltaVerdicts(s, d, rowsPerBand = 2)),

    // The same delta contract at the r=4 operating point (16 hashes,
    // 4 rows per band) — the knob SCALE.md's sweep prescribes once
    // history is large: the cross-corpus candidate floor shrinks as
    // J_background^r (measured 4.4× fewer candidates/doc), trading
    // recall near the 0.5 threshold. Same plan shape, one constant.
    "d_dedup_delta_r4" -> ((s, d) => deltaVerdicts(s, d, rowsPerBand = 4)),

    // The delta contract with history storage REAL: the history half's
    // keeper/band/shingle-set tables are PERSISTED parquet (Backbone
    // .history — in production, yesterday's warehouse state), and this
    // query touches history ONLY through them. The batch side reads the
    // batchSignature STORE (signed once per batch — |batch| scans at
    // build, shared with the incremental advance), probes the stored
    // band table for candidates, verifies against the stored set table,
    // and joins the stored keeper table for exact verdicts. Agrees row-
    // for-row with d_dedup_delta (same oracle), proving the stored probe
    // ≡ the full-corpus cross filter.
    "d_dedup_delta_stored" -> ((s, d) => {
      val split = deltaSplit(s, d)
      val h = Backbone.history(s, d, split)
      // batch signatures from the STORE — signed once per batch
      // (Backbone.batchSignature), shared with the incremental advance:
      // the probe itself rescans no document text on either side
      val bt = Backbone.batchSignature(s, d, split)
      // candidate = stored history bucket × arriving batch bucket
      val cands = bt.bands.as("x").join(h.bands.as("y"),
          col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey"))
        .select(col("y.doc_id").as("da"), col("x.doc_id").as("db"))
        .distinct()
      // ordered=false: the groupBy below destroys order — the default's
      // orderBy(da, db) would be a wasted range exchange + sort
      val near = verifyPairs(cands, h.sets, Backbone.corpusCount(s, d),
          setsB = bt.sets, ordered = false)
        .groupBy(col("db").as("doc_id"))
        .agg(min("da").as("near_dup_of"), count(lit(1)).as("n_near"))
      val exact = bt.fps
        .join(h.keepers.withColumnRenamed("keep_id", "exact_dup_of"),
          Seq("fp"), "left")
        .select(col("doc_id"), col("exact_dup_of"))
      exact.join(near, Seq("doc_id"), "left")
        .select(col("doc_id"), col("exact_dup_of"), col("near_dup_of"),
          coalesce(col("n_near"), lit(0L)).as("n_near"),
          when(col("exact_dup_of").isNotNull, "dup_exact")
            .when(col("near_dup_of").isNotNull, "dup_near")
            .otherwise("new").as("verdict"))
        .orderBy("doc_id")
    }),

    // Repeated n-gram SPAN detection — word-level exact-substring dedup,
    // the "memorized span" pass a pretraining pipeline runs AFTER
    // doc-level dedup (cf. Lee et al. 2022, "Deduplicating Training Data
    // Makes Language Models Better"): any 5-word window that occurs in
    // more than one document is a removable/flaggable span. Shape: one
    // explode + one hash agg keyed by the gram — linear in corpus size,
    // map-side combined; at 100 TB the gram string would be replaced by
    // its 8-byte hash in the same plan (the count survives collisions
    // statistically; exact spans re-checked on the flagged tail).
    "d_dup_spans" -> ((s, d) => {
      // two-level agg instead of countDistinct-next-to-plain-aggs: the
      // mixed form plans an Expand that doubles the corpus-scale gram
      // stream before the shuffle; (gram, doc) partials combine map-side
      // and the second agg runs on the already-collapsed pairs
      Tables.documents(s, d)
        .withColumn("w", split(lower(col("text")), " "))
        .filter(size(col("w")) >= 5)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(1, size(w) - 4),
                       i -> concat_ws(' ', slice(w, i, 5)))""")).as("gram"))
        .groupBy("gram", "doc_id").agg(count(lit(1)).as("n"))
        .groupBy("gram")
        .agg(sum(col("n")).as("n_occ"),
          count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_doc"))
        .filter(col("n_docs") >= 2)
        .orderBy("gram")
    }),

    // Keep-best dedup SELECTION — the policy step after clustering: each
    // near-dup cluster keeps its highest-quality member (max uniq_ratio,
    // ties to the lowest doc_id) instead of the arbitrary min-id keeper.
    // This is what production curation actually ships: dedup should keep
    // the BEST copy, not the first-crawled one. Shape: the cluster labels
    // (edge-bounded CC) left-joined onto the corpus, one window keyed by
    // cluster_id — a single doc-keyed shuffle on top of the pair plan;
    // skew-safe because near-dup clusters are diameter-bounded and small.
    "d_dedup_keep_best" -> ((s, d) => {
      // no lineage cut needed since r11: the plan is a backbone-table read
      // plus one window — nothing persisted, nothing to release
      val (keep, _) = clusterKeepers(s, d)
      keep
        .select(col("doc_id"), col("cluster_id"), col("keep_id"),
          (col("doc_id") === col("keep_id")).cast("int").as("kept"))
        .orderBy("doc_id")
    }),

    // End-to-end curation APPLY — the composed keep/drop verdict a
    // pretraining pipeline materializes before tokenization, with the
    // standard precedence: exact dup (keep min doc_id per fingerprint) >
    // near-dup non-keeper (keep-best policy above) > quality gate
    // (uniq_ratio < 0.3) > kept. One row per doc with its decision, so
    // the drop set is auditable per reason. Adds only the fingerprint
    // window (one hash-keyed shuffle) on top of the keep-best plan.
    "d_curation_apply" -> ((s, d) =>
      curationDecisions(s, d).orderBy("doc_id")),

    // Curation DRIFT report — the cross-version audit a production
    // pipeline runs when a corpus advances: for every doc, yesterday's
    // decision (the cascade evaluated over the STORED history state —
    // labels and exact keepers for the previous version, the same tables
    // the delta queries probe) next to today's decision (the cascade
    // over the current backbone), with a changed flag. New docs read
    // 'absent'. The interesting rows are decisions that FLIP without
    // the doc changing — a new batch member can steal a keeper slot or
    // bridge two clusters, demoting previously-kept history docs; this
    // is the table that makes those flips auditable before a trainer
    // consumes the corpus. Cost: stored-table reads + one cluster
    // window + two fp/doc-keyed joins — no signature or CC work.
    "d_curation_drift" -> ((s, d) => {
      val cur = curationDecisions(s, d)
      cur.join(prevDecisions(s, d), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("decision_prev"), lit("absent")).as("decision_prev"),
          col("decision"))
        .withColumn("changed",
          (col("decision_prev") =!= col("decision")).cast("int"))
        .orderBy("doc_id")
    }),

    // Per-document duplicated-span RATIO — the actionable filter signal
    // derived from d_dup_spans: what fraction of a doc's 5-gram positions
    // carry a gram that also appears in another document. Docs above a
    // threshold get dropped/trimmed in a curation pass. Two shuffles,
    // both gram-keyed and linear: the dup-gram set, then a left join
    // back to per-position rows aggregated per doc.
    "d_dup_span_ratio" -> ((s, d) => {
      val g = Tables.documents(s, d)
        .withColumn("w", split(lower(col("text")), " "))
        .filter(size(col("w")) >= 5)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(1, size(w) - 4),
                       i -> concat_ws(' ', slice(w, i, 5)))""")).as("gram"))
      val dup = g.groupBy("gram")
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2)
        .select(col("gram"), lit(1L).as("is_dup"))
      g.join(dup, Seq("gram"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(coalesce(col("is_dup"), lit(0L))).as("n_dup"))
        .withColumn("dup_ratio", round(col("n_dup") / col("n_grams"), 6))
        .orderBy("doc_id")
    }),

    // Exact-substring SCRUB — the removal half of d_dup_spans (Lee et
    // al. 2022's "cut the duplicated span", the production alternative
    // to dropping whole docs): every word position covered by a 5-gram
    // that occurs in >=2 documents is cut, and the doc is rewritten from
    // the surviving positions. Shape: the same gram explode, the dup-gram
    // set (gram-keyed agg), start positions collected per doc (doc-keyed
    // agg — the array is bounded by doc length, never corpus-sized), one
    // join back, then a pure per-row array rewrite that stays inside
    // whole-stage codegen. Per-doc cost is O(words x dup_starts), both
    // bounded by document length, so the rewrite is linear in corpus
    // size; at 100 TB the gram string would carry as its 8-byte hash in
    // the same plan (collisions only over-cut, re-checked on the tail).
    "d_span_scrub" -> ((s, d) =>
      spanScrub(Tables.documents(s, d)).orderBy("doc_id")),

    // The at-scale geometry of the same operator (see [[spanScrubHashed]])
    // — oracled against the SAME exact-string SQL: the hash substitution
    // must be output-invisible at every tested corpus.
    "d_span_scrub_hashed" -> ((s, d) =>
      spanScrubHashed(Tables.documents(s, d)).orderBy("doc_id"))
  )

  /** Exact-substring scrub plan (see the `d_span_scrub` catalog doc).
    * @param docs needs `doc_id` and `text`. */
  private[graft] def spanScrub(docs0: DataFrame): DataFrame = {
    val docs = docs0.select(col("doc_id"), split(lower(col("text")), " ").as("w"))
    val g = docs.filter(size(col("w")) >= 5)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(w) - 4),
                     i -> struct(i AS i, concat_ws(' ', slice(w, i, 5)) AS gram))""")).as("e"))
      .select(col("doc_id"), col("e.i").as("i"), col("e.gram").as("gram"))
    val dup = g.groupBy("gram")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select("gram")
    val starts = g.join(dup, Seq("gram"))
      .groupBy("doc_id").agg(collect_set(col("i")).as("starts"))
    docs.join(starts, Seq("doc_id"), "left")
      .withColumn("kept", expr(
        """filter(sequence(1, size(w)),
                  j -> size(filter(coalesce(starts, cast(array() as array<int>)),
                                   p -> p <= j AND j <= p + 4)) = 0)"""))
      .select(col("doc_id"), size(col("w")).as("n_words"),
        size(col("kept")).as("n_kept"),
        expr("array_join(transform(kept, j -> element_at(w, j)), ' ')")
          .as("scrub_text"))
  }

  /** [[spanScrub]] with the gram STRING replaced by `xxhash64(gram)` in
    * the dup-set aggregation and the join back — the 100 TB geometry:
    * every gram-keyed shuffle row carries 8 bytes instead of a ~40-byte
    * string, and the hot-path comparisons are long-equality. A hash
    * collision can only OVER-cut (two distinct grams reading as one),
    * never under-cut; at 2^64 key space the expected collision count
    * over even 10^12 distinct grams is ~0.03, and on every tested corpus
    * the output is bit-identical to the exact-string form (the catalog
    * entry shares d_span_scrub's oracle; SpanScrubSpec pins equality on
    * random corpora). */
  private[graft] def spanScrubHashed(docs0: DataFrame): DataFrame = {
    val docs = docs0.select(col("doc_id"), split(lower(col("text")), " ").as("w"))
    val g = docs.filter(size(col("w")) >= 5)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(w) - 4),
                     i -> struct(i AS i,
                                 xxhash64(concat_ws(' ', slice(w, i, 5))) AS gh))""")).as("e"))
      .select(col("doc_id"), col("e.i").as("i"), col("e.gh").as("gh"))
    val dup = g.groupBy("gh")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select("gh")
    val starts = g.join(dup, Seq("gh"))
      .groupBy("doc_id").agg(collect_set(col("i")).as("starts"))
    docs.join(starts, Seq("doc_id"), "left")
      .withColumn("kept", expr(
        """filter(sequence(1, size(w)),
                  j -> size(filter(coalesce(starts, cast(array() as array<int>)),
                                   p -> p <= j AND j <= p + 4)) = 0)"""))
      .select(col("doc_id"), size(col("w")).as("n_words"),
        size(col("kept")).as("n_kept"),
        expr("array_join(transform(kept, j -> element_at(w, j)), ' ')")
          .as("scrub_text"))
  }

  /** Verification set-table broadcast gate. Below this many documents the
    * per-doc shingle-set table is broadcast into the two candidate joins
    * (one hash probe per candidate, no shuffle); above it the hint is
    * DROPPED and both joins hash-shuffle by doc_id — a corpus-sized build
    * side must never be replicated to every executor. The default assumes
    * ~1 KB of shingle set per doc (≲1 GB broadcast). */
  private val broadcastDocsOverride =
    new scala.util.DynamicVariable[Long](1000000L)

  private def maxBroadcastDocs: Long = broadcastDocsOverride.value

  /** Plans the verification joins in `body` with the gate at `n`
    * documents on this thread (0 forces the shuffle path — PlanSpec pins
    * that plan on a tiny fixture). */
  private[graft] def withMaxBroadcastDocs[T](n: Long)(body: => T): T =
    broadcastDocsOverride.withValue(n)(body)

  /** Verified near-dup pairs from the stored backbone table (built once
    * per corpus; see [[Backbone]]). */
  private def minhashPairs(s: SparkSession, d: String): DataFrame =
    Backbone.pairs(s, d).orderBy("da", "db")

  /** History/batch split point: half the corpus by doc_id, derived from
    * the row count so the modeled scenario (an accumulated history of
    * comparable size to the arriving batch) holds at every scale factor
    * instead of silently inverting above sf0.01. Mirrored in the oracle
    * as a scalar subquery. */
  private[graft] def deltaSplit(s: SparkSession, d: String): Long =
    Backbone.corpusCount(s, d) / 2

  /** THE cascade precedence — one definition for every evaluation site
    * (the apply/drift queries here, the composed pipeline in EndToEnd):
    * exact dup > near-dup non-keeper > quality gate > kept, over the
    * conventional column names (doc_id, exact_keep, keep_id,
    * uniq_ratio). The composed plans are only equivalent to the
    * standalone operator while every site applies the byte-identical
    * expression — the SQL oracles mirror it textually. */
  private[pipeline] def decisionCol: Column =
    when(col("doc_id") =!= col("exact_keep"), "drop_exact")
      .when(col("doc_id") =!= col("keep_id"), "drop_near_dup")
      .when(col("uniq_ratio") < 0.3, "drop_quality")
      .otherwise("kept")

  /** The composed curation verdict over the CURRENT corpus — shared by
    * `d_curation_apply` and the drift report. Keeper-per-fingerprint as
    * agg + join, NOT a window — see [[exactKeeperDecisions]] (the
    * `3440f12` skew fix, pinned by DedupSkewSpec). Fingerprints come
    * from the stored backbone table, not a fresh corpus scan. */
  private[pipeline] def curationDecisions(
      s: SparkSession, d: String): DataFrame = {
    val (keep, _) = clusterKeepers(s, d)
    // trim to (doc_id, fp): fps2's quality columns would collide with
    // clusterKeepers' own uniq_ratio across the join
    val exact = exactKeeperDecisions(
      Backbone.fingerprints(s, d).select("doc_id", "fp"))
    keep.join(exact, Seq("doc_id"))
      .select(col("doc_id"), decisionCol.as("decision"))
  }

  /** PREVIOUS-version decisions — the cascade evaluated over the STORED
    * history state (cluster labels + exact keepers for docs below the
    * half-split, the same tables the delta queries probe). One row per
    * history doc: (doc_id, decision_prev). Shared by the drift report
    * and the shard-delta manifest ([[Shards.deltaManifest]]); cost is
    * stored-table reads + one cluster window + two keyed joins — no
    * signature or CC work. */
  private[pipeline] def prevDecisions(
      s: SparkSession, d: String): DataFrame = {
    val spl = deltaSplit(s, d)
    val h = Backbone.history(s, d, spl)
    // the history side's per-doc inputs come from the fps2 store (the
    // split filter pushes to the parquet scan) — no text rescans here
    val prevDocs = Backbone.fingerprints(s, d).filter(col("doc_id") < spl)
      .select(col("doc_id"), col("fp"), col("uniq_ratio"))
    val labeled = prevDocs
      .join(h.labels.select(col("doc_id"), col("cluster_id").as("cid")),
        Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cid"), col("doc_id")))
    val keepPrev = labeled.withColumn("keep_id",
      first(col("doc_id")).over(Window.partitionBy("cluster_id")
        .orderBy(col("uniq_ratio").desc, col("doc_id"))))
    keepPrev
      .join(h.keepers.select(col("fp"), col("keep_id").as("exact_keep")),
        Seq("fp"))
      .select(col("doc_id"), decisionCol.as("decision_prev"))
  }

  /** THE exact-dedup fingerprint — md5 over the lowercased text. One
    * definition shared by the backbone builder, the delta queries and
    * the streaming history writer, so stored fingerprint tables are
    * comparable across all three producers. */
  private[graft] def fpCol: Column =
    md5(lower(col("text")).cast("binary"))

  /** THE quality score — distinct-word ratio over a `words` array
    * column, round(6). One definition shared by the fps2 store build
    * (which every cascade consumer reads) and the standalone
    * d_text_quality scorer, so the two can never drift apart. */
  private[graft] def uniqRatioCol: Column =
    round(size(array_distinct(col("words"))) /
      size(col("words")).cast("double"), 6)

  /** Shared body of the delta queries: verdicts for the batch half
    * (doc_id >= deltaSplit) against history (doc_id < deltaSplit) at the
    * given band geometry. */
  private def deltaVerdicts(s: SparkSession, d: String,
                            rowsPerBand: Int): DataFrame = {
    val split = deltaSplit(s, d)
    val fps = Backbone.fingerprints(s, d)
    val exact = fps.filter(col("doc_id") >= split)
      .join(fps.filter(col("doc_id") < split)
        .groupBy("fp").agg(min("doc_id").as("exact_dup_of")), Seq("fp"), "left")
      .select(col("doc_id"), col("exact_dup_of"))
    // the stored pair table at the requested geometry — the delta reads
    // the backbone the batch pipeline maintains, it never re-derives LSH
    val near = Backbone.pairs(s, d, nBands = 4, rowsPerBand = rowsPerBand)
      .filter(col("da") < split && col("db") >= split)
      .groupBy(col("db").as("doc_id"))
      .agg(min("da").as("near_dup_of"), count(lit(1)).as("n_near"))
    exact.join(near, Seq("doc_id"), "left")
      .select(col("doc_id"), col("exact_dup_of"), col("near_dup_of"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        when(col("exact_dup_of").isNotNull, "dup_exact")
          .when(col("near_dup_of").isNotNull, "dup_near")
          .otherwise("new").as("verdict"))
      .orderBy("doc_id")
  }

  /** Near-dup cluster labels joined onto the corpus with the keep-best
    * policy resolved: every document gets (cluster_id, uniq_ratio,
    * keep_id) where keep_id is the cluster member with the highest
    * uniq_ratio (ties to the lowest doc_id). Singletons — docs in no
    * near-dup cluster — are their own cluster (cluster_id = doc_id), so
    * one window keyed on cluster_id covers the whole corpus uniformly.
    * A min-label cluster id is always one of its members' ids, so a
    * singleton's own id can never collide with another cluster's label.
    *
    * Scale shape: the CC loop runs over the EDGE list only; the corpus
    * pays one doc-keyed left join against the (tiny) label table plus
    * one cluster-keyed window — and near-dup clusters are
    * diameter-bounded and small, so the window partition is skew-free.
    * Returns the per-doc frame plus the persisted intermediates for the
    * caller to release via [[Materialize.drop]] after its action. */
  private[graft] def clusterKeepers(
      s: SparkSession, d: String): (DataFrame, Seq[DataFrame]) = {
    // r11: labels read from the STORED backbone — the CC loop runs once
    // per corpus (at backbone build), not once per consuming query.
    // r12s3: the quality column too — fps2 stores uniq_ratio, so the
    // keeper policy rescans no text
    val labels = Backbone.labels(s, d)
    val docs = Backbone.fingerprints(s, d)
      .select(col("doc_id"), col("uniq_ratio"))
    val labeled = docs
      .join(labels.select(col("doc_id"), col("cluster_id").as("cid")),
        Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cid"), col("doc_id")))
      .drop("cid")
    val keep = labeled.withColumn("keep_id",
      first(col("doc_id")).over(Window.partitionBy("cluster_id")
        .orderBy(col("uniq_ratio").desc, col("doc_id"))))
    (keep, Seq.empty)
  }

  /** Exact-dup keeper per fingerprint as AGGREGATE + JOIN, deliberately
    * NOT a fingerprint-partitioned window (the `3440f12` skew fix): a
    * window puts every copy of a hot boilerplate document into ONE task
    * and AQE cannot split a window partition, while here the partial
    * aggregate absorbs the hot key map-side (one row per map partition
    * reaches the reducer) and the join back is AQE-skew-splittable.
    * DedupSkewSpec plants a 50%-boilerplate corpus and pins both halves
    * of that claim with task-level shuffle-read measurements.
    *
    * The round-robin `repartition(n)` on the aggregated side is load-
    * bearing: AQE's OptimizeSkewedJoin only matches a sort-merge join
    * whose children are Sort DIRECTLY over a shuffle stage — with the
    * final HashAggregate planned between the keeper side's Sort and its
    * fp-exchange, the rule never fires and the hot fingerprint lands
    * whole on one probe task (measured before the fix: max task read =
    * all hot copies; a same-key `repartition(col("fp"))` is pruned as
    * redundant and does not help). Deliberately BREAKING the keeper
    * table's fp-alignment forces the join to plan its own bare
    * fp-exchange on that child, restoring the splittable shape. The
    * price — one extra all-to-all pass over the keeper table — is paid
    * on the DEDUPED side (one row per distinct fingerprint) and buys
    * adaptive skew protection on the corpus-sized probe side.
    * Input: needs (doc_id, fp); output: the input columns minus fp,
    * plus exact_keep — passthrough columns let callers carry payload
    * (e.g. n_chars) without a second doc-keyed join. */
  private[graft] def exactKeeperDecisions(fps: DataFrame): DataFrame = {
    val n = fps.sparkSession.sessionState.conf.numShufflePartitions
    val keeper = fps.groupBy("fp").agg(min("doc_id").as("exact_keep"))
      .repartition(n)
    fps.join(keeper, Seq("fp")).drop("fp")
  }

  /** Un-materialized minhash plan: the verified pair list, the banded
    * signature table it derives from (stored by [[Backbone]] next to the
    * pairs), and the persisted intermediates the plan rides on. */
  private[graft] final case class MinhashPlan(
      pairs: DataFrame, bands: DataFrame, caches: Seq[DataFrame])

  /** MinHash+LSH near-dup pairs — shared by d_dedup_minhash (the pair
    * list) and d_dedup_cluster (connected components over the pairs).
    * Returns the un-materialized plan plus the persisted intermediates it
    * rides on, so callers (and PlanSpec) can inspect or extend the plan
    * before the lineage cut. */
  /** Band geometry: `nBands` bands of `rowsPerBand` minhash rows each
    * (nBands·rowsPerBand seeded hashes total). Two docs become candidates
    * iff some band's rows ALL agree — P(candidate) = 1−(1−J^r)^b — so
    * `rowsPerBand` (r) is THE spurious-collision knob at corpus scale:
    * the cross-corpus collision floor shrinks as J_background^r while
    * near-threshold recall trades off. The catalog default (4×2 = the 8
    * hashes the DuckDB oracle pins) keeps r=2; SCALE.md records the
    * r=2 vs r=4 floors side by side. */
  /** Banded signatures + per-doc shingle sets for an ARBITRARY document
    * slice — the corpus-independent half of the minhash pipeline, shared
    * by the full-corpus plan and the stored-delta path (which signs the
    * arriving batch only: daily cost = |batch|, never |corpus|). */
  private[graft] final case class SignaturePlan(
      bands: DataFrame, docSets: DataFrame, caches: Seq[DataFrame])

  private[graft] def signaturePlan(
      docs: DataFrame, nBands: Int, rowsPerBand: Int): SignaturePlan = {
      val nh = nBands * rowsPerBand
      // The exploded token stream feeds the signature agg AND the per-doc
      // set table — cache it rather than re-exploding. (~n_docs × shingles
      // rows; at cluster scale this is a persisted intermediate table.)
      val t = docs
        .withColumn("words", split(col("text"), " "))
        .select(col("doc_id"), explode(bigramsCol).as("bg"))
        .persist()
      // The shingle ALPHABET is tiny (vocab² bigrams ≈ 1k distinct values)
      // while the token stream is |docs|×|shingles| — so the seeded md5s
      // are computed once per DISTINCT shingle into a broadcast dim and
      // joined back, turning nh·|tokens| md5 calls into nh·|alphabet|.
      val bgHash = t.select("bg").distinct().select(
        col("bg") +: (0 until nh).map(i =>
          substring(md5(concat(lit(s"$i|"), col("bg")).cast("binary")), 1, 16)
            .as(s"bh$i")): _*)
      // All minhashes in ONE hash aggregate keyed by doc_id: the mins
      // combine map-side (partial min), so the only shuffle carries one
      // row per (doc × nh hashes) instead of nh exploded rows per token.
      val hs = (0 until nh).map(i => min(col(s"bh$i")).as(s"h$i"))
      val sigs = t.join(broadcast(bgHash), "bg")
        .groupBy("doc_id").agg(hs.head, hs.tail: _*)
      // band b ⇒ seeds {b, b+nBands, b+2·nBands, …} (stride layout; at the
      // 4×2 default that is {b, b+4}, matching the oracle's string_agg
      // ORDER BY seed). Persisted: it feeds BOTH sides of the bucket
      // self-join, and without the cache each side would recompute the
      // whole signature pipeline.
      val bandStructs = (0 until nBands).map { b =>
        struct(lit(b).as("band"),
          concat((0 until rowsPerBand).map(i => col(s"h${b + i * nBands}")): _*)
            .as("bkey"))
      }
      val bands = sigs.select(col("doc_id"),
          explode(array(bandStructs: _*)).as("b"))
        .select(col("doc_id"), col("b.band").as("band"), col("b.bkey").as("bkey"))
        .persist()
      // Verification via per-doc shingle SETS (one row per doc, ~|shingles|
      // strings each) — see the candidate-join comment in minhashPairsPlan.
      val docSets = t.groupBy("doc_id").agg(collect_set(col("bg")).as("bgs"))
      SignaturePlan(bands, docSets, Seq(t, bands))
  }

  private[graft] def minhashPairsPlan(
      s: SparkSession, d: String,
      nBands: Int = 4, rowsPerBand: Int = 2): MinhashPlan = {
      val sp = signaturePlan(Tables.documents(s, d), nBands, rowsPerBand)
      val bands = sp.bands
      val cands = bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
        .distinct()
      // Candidates resolve both shingle sets with two joins and an
      // array_intersect — no token-table shuffle, nothing quadratic. The
      // set table is docs-sized, so the broadcast hint is SIZE-GATED on
      // the corpus's row count (a cheap parquet-metadata count): small
      // corpora broadcast, big ones shuffle both joins by doc_id.
      val nDocs = Backbone.corpusCount(s, d)
      val verified = verifyPairs(cands, sp.docSets, nDocs)
      MinhashPlan(verified, bands, sp.caches)
  }

  /** Exact-Jaccard verification of an LSH candidate list against per-doc
    * shingle-set tables (broadcast-gated on corpus size) — shared by the
    * full-corpus plan and the stored-delta probe. `setsB` defaults to
    * `setsA` for the within-corpus self-join case. `ordered = false`
    * skips the output sort for callers that feed the pairs into a union
    * or the CC loop, where a per-side range exchange buys nothing. */
  private[graft] def verifyPairs(cands: DataFrame, setsA: DataFrame,
                                 nDocs: Long,
                                 setsB: DataFrame = null,
                                 ordered: Boolean = true): DataFrame = {
      val gated = (df: DataFrame) =>
        if (nDocs <= maxBroadcastDocs) broadcast(df) else df
      val sb = Option(setsB).getOrElse(setsA)
      val verified = cands
        .join(gated(setsA).as("sa"), col("da") === col("sa.doc_id"))
        .join(gated(sb).as("sb"), col("db") === col("sb.doc_id"))
        .select(col("da"), col("db"),
          size(array_intersect(col("sa.bgs"), col("sb.bgs"))).cast("long").as("inter"),
          size(col("sa.bgs")).cast("long").as("na"),
          size(col("sb.bgs")).cast("long").as("nb"))
        .select(col("da"), col("db"),
          round(col("inter") / (col("na") + col("nb") - col("inter")), 6).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
      if (ordered) verified.orderBy("da", "db") else verified
  }

  /** SimHash near-dup pairs via the native codegen'd SimHash64
    * expression: 4×16-bit chunk banding (pigeonhole: hamming ≤ 8 pairs
    * share at least one exact chunk at distance ≤ 3·16… conservatively
    * candidates = any shared chunk), verified by bit_count(xor).
    * FULLY oracled: the fingerprint is deterministic FNV-1a + splitmix64
    * bit-voting (SimHash.scala), and DuckDB recomputes it bit-for-bit in
    * SQL — 64-bit modular arithmetic via HUGEINT with split multiplies —
    * so the differential check covers tokenize → hash → vote → band →
    * hamming end-to-end; TextDedupSpec additionally cross-checks recall
    * against the minhash pairs. */
  private def simhashPairs(s: SparkSession, d: String): DataFrame = {
      graft.functions.GraftExtensions.register(s)
      // Hash the bigram token stream, not raw words: with this corpus's
      // ~31-word vocabulary nearly all docs share most words, so word-level
      // simhashes collide en masse (79k pairs at sf0.1); bigrams carry the
      // same discriminating signal the minhash pipeline shingles on.
      // Persisted: the fingerprint scan (tokenize + simhash64 over the full
      // text) is the expensive leg, and it feeds BOTH sides of the bucket
      // self-join — one row (doc_id, sh) per doc, tiny to cache.
      val docs = Tables.documents(s, d)
        .withColumn("words", split(lower(col("text")), " "))
        .select(col("doc_id"),
          expr("simhash64(array_join(" +
            """CASE WHEN size(words) >= 2
                 THEN transform(sequence(1, size(words) - 1),
                        i -> concat(element_at(words, i), '_', element_at(words, i + 1)))
                 ELSE words END, ' '))""").as("sh"))
        .persist()
      val chunks = docs.select(col("doc_id"), col("sh"),
        explode(expr(
          """transform(sequence(0, 3),
               i -> struct(i AS ci,
                           CAST(shiftrightunsigned(sh, i * 16) & 65535 AS INT) AS ck))"""))
          .as("c"))
        .select(col("doc_id"), col("sh"), col("c.ci").as("ci"), col("c.ck").as("ck"))
      // hamming is computed and filtered BEFORE the dedup-distinct: on a
      // low-entropy corpus most chunk collisions fail the distance test,
      // so filtering first shrinks the distinct's shuffle input from
      // |collisions| to |near-dups| (hamming is a function of the pair, so
      // the result set is unchanged).
      Materialize.drop(chunks.as("a").join(chunks.as("b"),
          col("a.ci") === col("b.ci") && col("a.ck") === col("b.ck") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
          bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
        .filter(col("hamming") <= 8)
        .distinct(), docs)
        .orderBy("da", "db") // sort AFTER the cut — see o_a27 (r18 opt)
  }

  /** CTE builders are parameterized by a name SUFFIX and a doc-filter
    * WHERE clause so one query can compose the cascade over TWO corpus
    * versions (the drift oracle); the un-suffixed, unfiltered instances
    * reproduce the original single-version chains. */
  private def bigramCteFor(x: String, where: String) =
    s"""toks$x AS (
         SELECT DISTINCT doc_id, bg FROM (
           SELECT doc_id,
                  unnest(list_transform(generate_series(1, len(w) - 1),
                         i -> w[i] || ' ' || w[i + 1])) AS bg
           FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents $where)))"""

  private val bigramCte = bigramCteFor("", "")

  /** Shared keep-best tail: corpus quality + cluster labels → per-doc
    * keeper, mirroring [[clusterKeepers]]. Composes after [[clustersCte]]. */
  private def keeperCteFor(x: String, where: String) =
    s"""q$x AS (
         SELECT doc_id,
                round(len(list_distinct(w)) / CAST(len(w) AS DOUBLE), 6) AS uniq_ratio
         FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents $where)),
       lab$x AS (
         SELECT q$x.doc_id, COALESCE(c.cluster_id, q$x.doc_id) AS cluster_id,
                q$x.uniq_ratio
         FROM q$x LEFT JOIN clusters$x c ON q$x.doc_id = c.doc_id),
       k$x AS (
         SELECT doc_id, cluster_id, uniq_ratio,
                first_value(doc_id) OVER (
                  PARTITION BY cluster_id
                  ORDER BY uniq_ratio DESC, doc_id) AS keep_id
         FROM lab$x)"""

  private[pipeline] val keeperCte = keeperCteFor("", "")

  /** The shared minhash chain up to VERIFIED pairs `pairsj(da, db,
    * jaccard)` — tokens → `nh` seeded minhashes → 4 banded keys → bucket
    * candidates → exact-Jaccard verification, the DuckDB mirror of
    * [[minhashPairsPlan]] at `rowsPerBand = nh / 4` (the `seed % 4`
    * banding with seed-ordered string_agg reproduces the stride layout
    * at any rows-per-band). Composed by the minhash, cluster, keep-best,
    * curation and delta oracles. */
  private def pairsCteNFor(nh: Int, x: String, where: String): String =
      s"""${bigramCteFor(x, where)},
          sigs$x AS (
            SELECT doc_id, seed,
                   MIN(substr(md5(CAST(seed AS VARCHAR) || '|' || bg), 1, 16)) AS h
            FROM toks$x CROSS JOIN range(0, $nh) r(seed)
            GROUP BY doc_id, seed),
          bands$x AS (
            SELECT doc_id, seed % 4 AS band, string_agg(h, '' ORDER BY seed) AS bkey
            FROM sigs$x GROUP BY 1, 2),
          cands$x AS (
            SELECT DISTINCT bx.doc_id AS da, by_.doc_id AS db
            FROM bands$x bx JOIN bands$x by_
              ON bx.band = by_.band AND bx.bkey = by_.bkey AND bx.doc_id < by_.doc_id),
          sz$x AS (SELECT doc_id, COUNT(*) AS n FROM toks$x GROUP BY 1),
          prs$x AS (
            SELECT da, db, COUNT(*) AS inter
            FROM cands$x
            JOIN toks$x ta ON da = ta.doc_id
            JOIN toks$x tb ON db = tb.doc_id AND ta.bg = tb.bg
            GROUP BY 1, 2),
          pairsj$x AS (
            SELECT da, db, round(inter / (sa.n + sb.n - inter), 6) AS jaccard
            FROM prs$x
            JOIN sz$x sa ON da = sa.doc_id JOIN sz$x sb ON db = sb.doc_id
            WHERE round(inter / (sa.n + sb.n - inter), 6) >= 0.5)"""

  private[pipeline] def pairsCteN(nh: Int): String = pairsCteNFor(nh, "", "")

  private[pipeline] val pairsCte = pairsCteN(8)

  /** Delta-verdict SELECT composed after a pairs chain. The history/batch
    * split is half the corpus row count (scalar subquery), mirroring
    * [[deltaSplit]] so the modeled scenario holds at every scale factor. */
  private val deltaTail =
    """spl AS (SELECT COUNT(*) // 2 AS v FROM documents),
       near AS (
         SELECT db AS doc_id, MIN(da) AS near_dup_of, COUNT(*) AS n_near
         FROM pairsj
         WHERE da < (SELECT v FROM spl) AND db >= (SELECT v FROM spl)
         GROUP BY db),
       fp AS (SELECT doc_id, md5(lower(text)) AS fp FROM documents),
       exref AS (SELECT fp, MIN(doc_id) AS exact_dup_of
                 FROM fp WHERE doc_id < (SELECT v FROM spl) GROUP BY fp),
       batch AS (
         SELECT f.doc_id, r.exact_dup_of
         FROM fp f LEFT JOIN exref r ON f.fp = r.fp
         WHERE f.doc_id >= (SELECT v FROM spl))
       SELECT b.doc_id, b.exact_dup_of, n.near_dup_of,
              COALESCE(n.n_near, 0) AS n_near,
              CASE WHEN b.exact_dup_of IS NOT NULL THEN 'dup_exact'
                   WHEN n.near_dup_of IS NOT NULL THEN 'dup_near'
                   ELSE 'new' END AS verdict
       FROM batch b LEFT JOIN near n ON b.doc_id = n.doc_id
       ORDER BY b.doc_id"""

  /** The minhash-pair → symmetrized-edge → recursive-closure chain that
    * yields `clusters(doc_id, cluster_id)` — the DuckDB mirror of
    * Graph.minLabelComponents over minhashPairs. Callers open with
    * `WITH RECURSIVE` and compose their SELECT after it. */
  private def clustersCteFor(x: String, where: String): String =
      s"""${pairsCteNFor(8, x, where)},
          edges$x AS (SELECT da AS a, db AS b FROM pairsj$x
                    UNION SELECT db, da FROM pairsj$x),
          reach$x(a, b) AS (
            SELECT a, b FROM edges$x
            UNION
            SELECT r.a, e.b FROM reach$x r JOIN edges$x e ON r.b = e.a),
          members$x AS (SELECT DISTINCT a AS doc_id FROM edges$x),
          clusters$x AS (
            SELECT m.doc_id, LEAST(m.doc_id, MIN(r.b)) AS cluster_id
            FROM members$x m LEFT JOIN reach$x r ON r.a = m.doc_id
            GROUP BY 1)"""

  private[pipeline] val clustersCte = clustersCteFor("", "")

  /** Shared two-version cascade prefix for cross-version audits —
    * `cur(doc_id, decision)` over the full corpus next to
    * `prev(doc_id, decision_prev)` over the half-split previous version
    * (suffix `p` CTEs). Composed by the drift report here and the
    * shard-delta manifest oracle in [[Shards]]; callers open with
    * `WITH RECURSIVE` and put their SELECT after it. Mirrors
    * [[curationDecisions]] / [[prevDecisions]] textually. */
  private[pipeline] val twoVersionCtes: String =
    s"""${clustersCteFor("", "")},
          ${keeperCteFor("", "")},
          ex AS (
            SELECT doc_id,
                   MIN(doc_id) OVER (PARTITION BY md5(lower(text))) AS exact_keep
            FROM documents),
          cur AS (
            SELECT k.doc_id,
                   CASE WHEN k.doc_id <> e.exact_keep THEN 'drop_exact'
                        WHEN k.doc_id <> k.keep_id THEN 'drop_near_dup'
                        WHEN k.uniq_ratio < 0.3 THEN 'drop_quality'
                        ELSE 'kept' END AS decision
            FROM k JOIN ex e ON k.doc_id = e.doc_id),
          spl AS (SELECT COUNT(*) // 2 AS v FROM documents),
          ${clustersCteFor("p", "WHERE doc_id < (SELECT v FROM spl)")},
          ${keeperCteFor("p", "WHERE doc_id < (SELECT v FROM spl)")},
          exprev AS (
            SELECT doc_id,
                   MIN(doc_id) OVER (PARTITION BY md5(lower(text))) AS exact_keep
            FROM documents WHERE doc_id < (SELECT v FROM spl)),
          prev AS (
            SELECT kp.doc_id,
                   CASE WHEN kp.doc_id <> e.exact_keep THEN 'drop_exact'
                        WHEN kp.doc_id <> kp.keep_id THEN 'drop_near_dup'
                        WHEN kp.uniq_ratio < 0.3 THEN 'drop_quality'
                        ELSE 'kept' END AS decision_prev
            FROM kp JOIN exprev e ON kp.doc_id = e.doc_id)"""

  val oracles: Map[String, String] = Map(
    // Bit-for-bit SimHash64 recompute (FNV-1a offset/prime, splitmix64
    // finalize, per-bit voting) in DuckDB SQL. 64-bit wrap-around lives
    // in HUGEINT with `% 2^64`; the two splitmix multipliers exceed 64
    // bits' headroom even in HUGEINT (64×64→128 can overflow signed
    // 128), so each is split c = ch·2^32 + cl and multiplied as
    // (a·cl + ((a·ch mod 2^32)·2^32)) mod 2^64. Then the same 4×16-bit
    // chunk banding + hamming ≤ 8 as the Spark side.
    "d_dedup_simhash" ->
      """WITH w0 AS (
           SELECT doc_id, string_split(lower(text), ' ') AS w
           FROM documents),
         bg AS (
           SELECT doc_id,
                  CASE WHEN len(w) >= 2
                       THEN list_transform(range(1, len(w)),
                              i -> w[i] || '_' || w[i + 1])
                       ELSE w END AS toks
           FROM w0),
         tok AS (SELECT doc_id, unnest(toks) AS t FROM bg),
         fnv AS (
           SELECT doc_id,
                  list_reduce(
                    list_prepend(CAST(14695981039346656037 AS UBIGINT),
                      list_transform(range(1, len(t) + 1),
                        i -> CAST(unicode(t[i]) AS UBIGINT))),
                    (acc, b) -> CAST((CAST(xor(acc, b) AS HUGEINT) * 1099511628211)
                                     % CAST(18446744073709551616 AS HUGEINT) AS UBIGINT)) AS h
           FROM tok),
         s1 AS (
           SELECT doc_id,
                  CAST((CAST(h AS HUGEINT) + 11400714819323198485)
                       % CAST(18446744073709551616 AS HUGEINT) AS UBIGINT) AS z
           FROM fnv),
         s2 AS (SELECT doc_id, xor(z, z >> 30) AS a FROM s1),
         s3 AS (
           SELECT doc_id,
                  CAST(((CAST(a AS HUGEINT) * 484763065
                         + ((CAST(a AS HUGEINT) * 3210233709) % 4294967296) * 4294967296)
                        % CAST(18446744073709551616 AS HUGEINT)) AS UBIGINT) AS z
           FROM s2),
         s4 AS (SELECT doc_id, xor(z, z >> 27) AS a FROM s3),
         s5 AS (
           SELECT doc_id,
                  CAST(((CAST(a AS HUGEINT) * 321982955
                         + ((CAST(a AS HUGEINT) * 2496678331) % 4294967296) * 4294967296)
                        % CAST(18446744073709551616 AS HUGEINT)) AS UBIGINT) AS z
           FROM s4),
         th AS (SELECT doc_id, xor(z, z >> 31) AS h FROM s5),
         votes AS (
           SELECT doc_id, b.bit,
                  SUM(CASE WHEN ((h >> CAST(b.bit AS UBIGINT)) & 1) = 1
                           THEN 1 ELSE -1 END) AS v
           FROM th CROSS JOIN (SELECT unnest(range(0, 64)) AS bit) b
           GROUP BY 1, 2),
         shs AS (
           SELECT doc_id,
                  SUM(CASE WHEN v > 0
                           THEN CAST(1 AS HUGEINT) << CAST(bit AS INT)
                           ELSE 0 END) AS shh
           FROM votes GROUP BY 1),
         shx AS (
           SELECT doc_id,
                  CAST(shh % CAST(18446744073709551616 AS HUGEINT) AS UBIGINT) AS sh
           FROM shs),
         chunks AS (
           SELECT doc_id, sh, c.ci,
                  (sh >> CAST(c.ci * 16 AS UBIGINT)) & 65535 AS ck
           FROM shx CROSS JOIN (SELECT unnest(range(0, 4)) AS ci) c)
         SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
                CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
         FROM chunks a JOIN chunks b
           ON a.ci = b.ci AND a.ck = b.ck AND a.doc_id < b.doc_id
         WHERE bit_count(xor(a.sh, b.sh)) <= 8
         ORDER BY da, db""",

    "d_dedup_exact" ->
      """SELECT md5(lower(text)) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
         FROM documents GROUP BY 1 ORDER BY fp""",

    "d_dedup_delta" ->
      s"""WITH $pairsCte,
          $deltaTail""",

    "d_dedup_delta_r4" ->
      s"""WITH ${pairsCteN(16)},
          $deltaTail""",

    // Same contract as d_dedup_delta — the stored-history probe must
    // agree row-for-row with the full-corpus derivation.
    "d_dedup_delta_stored" ->
      s"""WITH $pairsCte,
          $deltaTail""",

    "d_dup_spans" ->
      """WITH w AS (
           SELECT doc_id, string_split(lower(text), ' ') AS w
           FROM documents WHERE len(string_split(lower(text), ' ')) >= 5),
         g AS (
           SELECT doc_id,
                  unnest(list_transform(range(1, len(w) - 3),
                                        i -> array_to_string(w[i:i+4], ' '))) AS gram
           FROM w)
         SELECT gram, COUNT(*) AS n_occ,
                COUNT(DISTINCT doc_id) AS n_docs,
                MIN(doc_id) AS min_doc
         FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
         ORDER BY gram""",

    "d_dup_span_ratio" ->
      """WITH w AS (
           SELECT doc_id, string_split(lower(text), ' ') AS w
           FROM documents WHERE len(string_split(lower(text), ' ')) >= 5),
         g AS (
           SELECT doc_id,
                  unnest(list_transform(range(1, len(w) - 3),
                                        i -> array_to_string(w[i:i+4], ' '))) AS gram
           FROM w),
         d AS (SELECT gram FROM g GROUP BY gram
               HAVING COUNT(DISTINCT doc_id) >= 2)
         SELECT g.doc_id, COUNT(*) AS n_grams,
                COUNT(d.gram) AS n_dup,
                round(CAST(COUNT(d.gram) AS DOUBLE) / COUNT(*), 6) AS dup_ratio
         FROM g LEFT JOIN d ON g.gram = d.gram
         GROUP BY g.doc_id ORDER BY g.doc_id""",

    "d_span_scrub" ->
      """WITH w AS (
           SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
         g AS (
           SELECT doc_id, i, array_to_string(w[i:i+4], ' ') AS gram
           FROM (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i
                 FROM w WHERE len(w) >= 5)),
         dup AS (SELECT gram FROM g GROUP BY gram
                 HAVING COUNT(DISTINCT doc_id) >= 2),
         st AS (SELECT g.doc_id, list(g.i) AS starts
                FROM g JOIN dup ON g.gram = dup.gram GROUP BY g.doc_id),
         k AS (
           SELECT w.doc_id, w.w,
                  list_filter(range(1, len(w.w) + 1),
                    j -> len(list_filter(coalesce(st.starts, CAST([] AS BIGINT[])),
                                         p -> p <= j AND j <= p + 4)) = 0) AS kept
           FROM w LEFT JOIN st USING (doc_id))
         SELECT doc_id, len(w) AS n_words, len(kept) AS n_kept,
                -- duckdb's array_to_string([]) is NULL; a fully-cut doc
                -- must read as the empty string, matching array_join
                coalesce(array_to_string(list_transform(kept, j -> w[j]), ' '), '')
                  AS scrub_text
         FROM k ORDER BY doc_id""",

    // The hashed geometry must be output-INVISIBLE: same exact-string
    // oracle as d_span_scrub, so any hash-collision over-cut at test
    // scale would fail the hash compare.
    "d_span_scrub_hashed" ->
      """WITH w AS (
           SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
         g AS (
           SELECT doc_id, i, array_to_string(w[i:i+4], ' ') AS gram
           FROM (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i
                 FROM w WHERE len(w) >= 5)),
         dup AS (SELECT gram FROM g GROUP BY gram
                 HAVING COUNT(DISTINCT doc_id) >= 2),
         st AS (SELECT g.doc_id, list(g.i) AS starts
                FROM g JOIN dup ON g.gram = dup.gram GROUP BY g.doc_id),
         k AS (
           SELECT w.doc_id, w.w,
                  list_filter(range(1, len(w.w) + 1),
                    j -> len(list_filter(coalesce(st.starts, CAST([] AS BIGINT[])),
                                         p -> p <= j AND j <= p + 4)) = 0) AS kept
           FROM w LEFT JOIN st USING (doc_id))
         SELECT doc_id, len(w) AS n_words, len(kept) AS n_kept,
                coalesce(array_to_string(list_transform(kept, j -> w[j]), ' '), '')
                  AS scrub_text
         FROM k ORDER BY doc_id""",

    "d_dedup_ngram" ->
      s"""WITH $bigramCte,
          t AS (SELECT * FROM toks WHERE doc_id < 500),
          sz AS (SELECT doc_id, COUNT(*) AS n FROM t GROUP BY 1),
          pairs AS (
            SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
            FROM t a JOIN t b ON a.bg = b.bg AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
          SELECT da, db,
                 round(inter / (sa.n + sb.n - inter), 6) AS jaccard
          FROM pairs
          JOIN sz sa ON da = sa.doc_id JOIN sz sb ON db = sb.doc_id
          WHERE round(inter / (sa.n + sb.n - inter), 6) >= 0.5
          ORDER BY da, db""",

    "d_dedup_minhash" ->
      s"""WITH $pairsCte
          SELECT da, db, jaccard FROM pairsj ORDER BY da, db""",

    // Recall audit: exact truth within the window vs band-bucket catches.
    // The sigs/bands CTEs recompute the window docs' signatures with the
    // same seeded-md5 chain as pairsCte — a doc's band keys depend only
    // on its own text, so the window-local recompute equals the stored
    // full-corpus band table the Spark side reads.
    "d_dedup_recall" ->
      s"""WITH $bigramCte,
          t AS (SELECT * FROM toks WHERE doc_id < 500),
          sz AS (SELECT doc_id, COUNT(*) AS n FROM t GROUP BY 1),
          tp AS (
            SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
            FROM t a JOIN t b ON a.bg = b.bg AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
          truth AS (
            SELECT da, db, round(inter / (sa.n + sb.n - inter), 6) AS jaccard
            FROM tp JOIN sz sa ON da = sa.doc_id JOIN sz sb ON db = sb.doc_id
            WHERE round(inter / (sa.n + sb.n - inter), 6) >= 0.5),
          sigs AS (
            SELECT doc_id, seed,
                   MIN(substr(md5(CAST(seed AS VARCHAR) || '|' || bg), 1, 16)) AS h
            FROM t CROSS JOIN range(0, 8) r(seed)
            GROUP BY doc_id, seed),
          bands AS (
            SELECT doc_id, seed % 4 AS band, string_agg(h, '' ORDER BY seed) AS bkey
            FROM sigs GROUP BY 1, 2),
          cands AS (
            SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
            FROM bands x JOIN bands y
              ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
          SELECT truth.da, truth.db, truth.jaccard,
                 CAST(c.da IS NOT NULL AS INT) AS caught
          FROM truth LEFT JOIN cands c ON truth.da = c.da AND truth.db = c.db
          ORDER BY truth.da, truth.db""",

    // Transitive closure over the (symmetrized) minhash near-dup pairs;
    // cluster_id = min reachable doc_id (incl. self), matching the
    // min-label-propagation fixpoint on the Spark side.
    "d_dedup_cluster" ->
      s"""WITH RECURSIVE $clustersCte
          SELECT doc_id, cluster_id,
                 COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
          FROM clusters ORDER BY doc_id""",

    // Same oracle as d_dedup_cluster BY DESIGN: the incremental advance
    // must reproduce the full-rebuild clustering exactly.
    "d_backbone_incr" ->
      s"""WITH RECURSIVE $clustersCte
          SELECT doc_id, cluster_id,
                 COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
          FROM clusters ORDER BY doc_id""",

    // Keep-best selection: clusters (recursive closure, as above) left-
    // joined onto the corpus; singletons are their own cluster; keeper =
    // max uniq_ratio, ties to the lowest doc_id — the same window the
    // Spark side runs.
    "d_dedup_keep_best" ->
      s"""WITH RECURSIVE $clustersCte,
          $keeperCte
          SELECT doc_id, cluster_id, keep_id,
                 CAST(doc_id = keep_id AS INT) AS kept
          FROM k ORDER BY doc_id""",

    // Drift: the current cascade (unsuffixed CTEs) and the previous-
    // version cascade (suffix `p`, docs below the half-split) composed
    // in one statement; prev decisions left-joined onto current.
    "d_curation_drift" ->
      s"""WITH RECURSIVE $twoVersionCtes
          SELECT c.doc_id,
                 COALESCE(p.decision_prev, 'absent') AS decision_prev,
                 c.decision,
                 CAST(COALESCE(p.decision_prev, 'absent') <> c.decision AS INT)
                   AS changed
          FROM cur c LEFT JOIN prev p ON c.doc_id = p.doc_id
          ORDER BY c.doc_id""",

    // Composed curation verdict with the standard precedence:
    // exact dup > near-dup non-keeper > quality gate > kept.
    "d_curation_apply" ->
      s"""WITH RECURSIVE $clustersCte,
          $keeperCte,
          ex AS (
            SELECT doc_id,
                   MIN(doc_id) OVER (PARTITION BY md5(lower(text))) AS exact_keep
            FROM documents)
          SELECT k.doc_id,
                 CASE WHEN k.doc_id <> e.exact_keep THEN 'drop_exact'
                      WHEN k.doc_id <> k.keep_id THEN 'drop_near_dup'
                      WHEN k.uniq_ratio < 0.3 THEN 'drop_quality'
                      ELSE 'kept' END AS decision
          FROM k JOIN ex e ON k.doc_id = e.doc_id
          ORDER BY k.doc_id"""
  )

}
