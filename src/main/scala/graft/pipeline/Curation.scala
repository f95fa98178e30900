package graft.pipeline

import graft.Tables
import graft.operators.OrderStats
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a pretraining-data pipeline runs between
  * raw ingest and training: benchmark decontamination, PII scrubbing,
  * stratified sampling, intra-document repetition scoring, and
  * embedding-space centroid/outlier analysis.
  *
  * Scale design notes:
  *  - decontamination joins the corpus n-gram stream against the
  *    DISTINCT benchmark n-gram set — the benchmark side is orders of
  *    magnitude smaller than the corpus, so it broadcasts and the 100 TB
  *    side is one scan + one map-side join, no corpus shuffle;
  *  - PII scrubbing / repetition scoring are pure per-row projections
  *    (codegen'd regex/array built-ins): embarrassingly parallel;
  *  - the stratified sample ranks by a HASH of the key, not an RNG —
  *    reproducible across runs, engines, and cluster sizes (CH SAMPLE
  *    semantics, same rationale as d_sample_split);
  *  - centroids aggregate per (label, dim) with map-side partial sums in
  *    DECIMAL (exact, order-independent — a plain double sum would be
  *    partition-order-dependent and unreproducible under AQE/retries).
  */
object Curation {
  type Q = (SparkSession, String) => DataFrame

  /** md5-hex of the doc_id — the deterministic sampling/splitting key
    * (first hex digit '0' = val split, '1' = test split, rest train). */
  private def splitHash = substring(
    md5(col("doc_id").cast("string").cast("binary")), 1, 1)

  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
  private val ipRe = "(?:[0-9]{1,3}\\.){3}[0-9]{1,3}"

  /** Un-materialized decontamination plan (exposed so PlanSpec can audit
    * the join strategy; the catalog entry wraps it in Materialize.drop
    * with no caches).
    *
    * DELIBERATELY uncached, both scans kept: the bench side and the
    * probe side each re-derive grams from the parquet scan. Caching was
    * tried both ways and measured SLOWER at sf0.1 (gram-stream cache 2x,
    * pre-explode base cache ~1.4x): the explode dominates and runs per
    * consumer regardless of caching, so a cache only converts a cheap
    * columnar re-scan into cache-write + cache-read overhead. The same
    * holds at 100 TB — a corpus-sized cache spills to executor disk,
    * and reading spill is no cheaper than re-reading pruned parquet. */
  private[graft] def decontamPlan(s: SparkSession,
                                  d: String): (DataFrame, Seq[DataFrame]) = {
    val w = Tables.documents(s, d)
      .withColumn("h", splitHash)
      .withColumn("w", split(lower(col("text")), " "))
    val grams = w.filter(size(col("w")) >= 5)
      .select(col("doc_id"), col("h"), explode(expr(
        "transform(sequence(1, size(w) - 4), i -> array_join(slice(w, i, 5), ' '))"))
        .as("g"))
    val bench = grams.filter(col("h") === "1").select("g").distinct()
    (grams.filter(!col("h").isin("0", "1"))
      .join(broadcast(bench), "g")
      .groupBy("doc_id").agg(countDistinct(col("g")).as("n_shared"))
      .orderBy("doc_id"), Seq.empty)
  }

  /** Un-materialized d_emb_outlier plan: (top-3-per-label result
    * UNORDERED, caches to release after the action). The exploded
    * (vec_id, label, dim, x) stream feeds TWO aggregates — the per-label
    * centroids and the per-vector distances — so without a cache the
    * scan + explode pipeline evaluates once per branch (r18 profiled it
    * as two separate parquet-scan stages, ~0.3 s at sf0.1, a cost that
    * multiplies with corpus size). The persist pins ONE evaluation; the
    * four narrow columns spill to disk at scale, and the caller releases
    * via Materialize.drop. PlanSpec audits THIS plan (broadcast
    * centroids, partial sums, WindowGroupLimit) — the catalog entry's
    * lineage is cut by the checkpoint. */
  private[graft] def embOutlierPlan(s: SparkSession,
                                    d: String): (DataFrame, Seq[DataFrame]) = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .persist()
    val pos = e.select(col("vec_id"), col("label"),
      posexplode(col("v")).as(Seq("p", "x")))
    // 640-row centroid table (|labels| × 64 dims): broadcast dimension.
    val cent = pos
      .groupBy(col("label").as("cl"), (col("p") + 1).as("i"))
      .agg((sum(col("x").cast("decimal(20,14)")).cast("double") /
        count(lit(1))).as("c"))
    val dist = pos
      .join(broadcast(cent), col("label") === col("cl") && (col("p") + 1) === col("i"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(((col("x") - col("c")) * (col("x") - col("c")))
        .cast("decimal(20,14)")).as("s2"))
      .select(col("vec_id"), col("label"),
        round(sqrt(col("s2").cast("double")), 6).as("dist"))
    val ranked = dist.withColumn("rnk", row_number().over(
        Window.partitionBy("label").orderBy(col("dist").desc, col("vec_id"))))
      .filter(col("rnk") <= 3)
    (ranked, Seq(e))
  }

  private[graft] val bloomSeed1 = 42L
  private[graft] val bloomSeed2 = 7919L

  /** Build the pair of independently-seeded bloom filters over a gram
    * column `g` — both fill in ONE pass over the input. `bitsPerItem`
    * defaults to 24/filter (~6 B/gram for the pair), which makes the
    * conjunction FP-free at every tested scale; at production probe
    * volumes size it with the probe count — the pair's per-probe fp is
    * ~(1/m')^2 where m' is each filter's effective KM floor, so for P
    * probes pick bitsPerItem such that P/(m')^2 << 1 (e.g. 10^12 probes
    * over a 10^8-gram suite wants ~40 bits/item, still ~1 GB for the
    * pair). The eval-set cardinality is known/small in production; here
    * one count job on the already-distinct side sizes them. */
  private[graft] def bloomPair(bench: DataFrame, bitsPerItem: Long = 24L)
      : (Array[Byte], Array[Byte]) = {
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val n = math.max(1L, bench.count())
    def agg(seed: Long) = Bridge.column(new BloomFilterAggregate(
      new XxHash64(Seq(Bridge.expression(col("g"))), seed),
      Literal(n), Literal(n * bitsPerItem)).toAggregateExpression())
    val r = bench.agg(agg(bloomSeed1).as("bf1"), agg(bloomSeed2).as("bf2")).head
    (r.getAs[Array[Byte]](0), r.getAs[Array[Byte]](1))
  }

  /** Codegen'd might-contain probe of `v` against one filter. Works on
    * plain columns AND on higher-order-function lambda variables (the
    * expression resolves like any builtin), so it can ride inside
    * `functions.filter` for the per-row streaming shape below. */
  private[graft] def bloomProbeOn(v: org.apache.spark.sql.Column, bf: Array[Byte],
                                  seed: Long): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.types.BinaryType
    Bridge.column(BloomFilterMightContain(Literal(bf, BinaryType),
      new XxHash64(Seq(Bridge.expression(v)), seed)))
  }

  private[graft] def bloomProbe(bf: Array[Byte], seed: Long): org.apache.spark.sql.Column =
    bloomProbeOn(col("g"), bf, seed)

  /** The eval-suite filter pair built ONCE per corpus version under the
    * warehouse discipline and memoized in-JVM — the production shape:
    * filters are cut when the eval suite is released, and every
    * consumer (the catalog query, the composed pipeline, streams) loads
    * the KB-scale artifact instead of re-scanning the suite. */
  private val bloomMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (Array[Byte], Array[Byte])]()
  private[pipeline] def bloomPairStored(s: SparkSession, d: String,
      bench: => DataFrame): (Array[Byte], Array[Byte]) = {
    val dir =
      s"${Warehouse.versionDir(s, d, "documents.parquet")}/eval_bloom"
    // get/build/putIfAbsent, NOT computeIfAbsent: the build acquires the
    // Warehouse monitor, and Warehouse.ensure build bodies (the composed
    // pipeline) call back into this method — running Spark work under a
    // CHM bin lock would deadlock that pair of paths
    val got = bloomMemo.get(dir)
    if (got != null) return got
    Warehouse.ensure(s, dir) { writeBloomPair(s, bench, dir) }
    val pair = readBloomPair(s, dir)
    bloomMemo.putIfAbsent(dir, pair)
    pair
  }

  /** Persist the eval-set filter pair (one tiny parquet row) so streams
    * and later runs probe WITHOUT rebuilding — production builds the
    * filters once per eval-suite release and every ingest job loads
    * them; the artifact is KBs-to-MBs regardless of corpus size. */
  def writeBloomPair(s: SparkSession, bench: DataFrame, dir: String): Unit = {
    val (bf1, bf2) = bloomPair(bench)
    import s.implicits._
    Seq((bf1, bf2)).toDF("bf1", "bf2")
      .repartition(1).write.mode("overwrite").parquet(dir)
  }

  def readBloomPair(s: SparkSession, dir: String): (Array[Byte], Array[Byte]) =
    // ensure-guarded artifact, KB-to-MB regardless of corpus size — the
    // collected value memoizes like the other sidecars (r18 opt)
    Warehouse.sidecarValue(s, s"bloom:$dir") {
      val r = Warehouse.readParquet(s, dir).head
      (r.getAs[Array[Byte]]("bf1"), r.getAs[Array[Byte]]("bf2"))
    }

  /** STATELESS per-row contamination score: how many distinct 5-grams of
    * `text` hit the eval-set filter pair. Pure expression — no explode,
    * no shuffle, no state — so it is the ingest-time decontam shape: run
    * it in a streaming select (append mode) with filters built once from
    * the settled eval corpus, and every arriving doc carries its
    * contamination verdict. Equals the batch `d_decontam` n_shared per
    * doc whenever the filters are fp-free (the seeded-pair sizing). */
  def contaminationScore(text: org.apache.spark.sql.Column,
                         bf1: Array[Byte], bf2: Array[Byte]): org.apache.spark.sql.Column = {
    val w = split(lower(text), " ")
    val n = size(w) - lit(4)
    val grams = when(n >= 1, array_distinct(
      transform(sequence(lit(1), n),
        i => concat_ws(" ", slice(w, i, lit(5))))))
      .otherwise(lit(Array.empty[String]))
    size(filter(grams, g =>
      bloomProbeOn(g, bf1, bloomSeed1) && bloomProbeOn(g, bf2, bloomSeed2)))
  }

  val queries: Map[String, Q] = Map(
    // Benchmark decontamination: train docs sharing any word-5-gram with
    // the held-out test split (the standard n-gram overlap contamination
    // check). Here the "benchmark" is the h='1' hash split — ~1/16 of the
    // corpus's distinct 5-grams, small enough to broadcast at test scale
    // but NOT at 100 TB. In production the benchmark side is a genuinely
    // small held-out eval table (MMLU/GSM8K-sized, thousands of grams) and
    // the broadcast holds; against a large split, drop the broadcast hint
    // and let AQE pick the join — the corpus side then shuffles on g once.
    // no lineage cut: the plan persists nothing (see decontamPlan)
    "d_decontam" -> ((s, d) => decontamPlan(s, d)._1),

    // Decontamination, BLOOM-FILTER scale path — the 100 TB shape of
    // d_decontam. The broadcast-join form ships the benchmark gram SET
    // (strings) to every executor; this form ships only bloom filters
    // over the grams' xxhash64 (~6 bytes/gram total at the 2x24
    // bits/item sizing below), so an eval suite of 10^8 grams rides in
    // ~600 MB instead of multi-GB of strings, and the probe is a
    // codegen'd bit test — the corpus side stays one scan, zero shuffle
    // before the per-doc agg.
    //
    // Why TWO independently-seeded filters: Spark's sketch bloom uses
    // Kirsch-Mitzenmacher double hashing (bit_i = h1 + i*h2 mod m), which
    // has a false-positive FLOOR of ~1/m independent of the hash count —
    // when a probe's h2 mod m degenerates (0 or a tiny-period value), all
    // k probes land on few distinct bits and the fp collapses to the
    // filter's fill ratio. Measured: 21 FPs per 1M probes on an 87k-bit
    // filter whose textbook fp at k=31 would be 4e-10. A single filter
    // can therefore never be sized into oracle-exactness. Two filters
    // with DIFFERENT xxhash64 seeds have independent h2 degeneracies, so
    // the conjunction multiplies the floors: ~(2e-5)^2 ≈ 4e-10 per probe
    // at 24 bits/item each. That makes the result a CONSERVATIVE
    // SUPERSET of the exact join in general (fps only ever ADD shared-
    // gram flags, never drop one) and exact at tested scales — at the
    // 100 TB regime (~10^12 probes over a 10^8-gram suite) expected fps
    // are in the hundreds, so size `bloomPair(bitsPerItem=)` up with
    // probe volume (see its scaladoc) when bit-exactness matters there.
    // The oracle below is the exact join; it matches bit-for-bit at the
    // default sizing on every tested corpus.
    // Deterministic: fixed seeds, so the result is a pure function of
    // the data. FP semantics: might-contain can only ADD shared-gram
    // hits (never drop a true one).
    "d_decontam_bloom" -> ((s, d) => {
      val w = Tables.documents(s, d)
        .withColumn("h", splitHash)
        .withColumn("w", split(lower(col("text")), " "))
      val grams = w.filter(size(col("w")) >= 5)
        .select(col("doc_id"), col("h"), explode(expr(
          "transform(sequence(1, size(w) - 4), i -> array_join(slice(w, i, 5), ' '))"))
          .as("g"))
      val bench = grams.filter(col("h") === "1").select("g").distinct()
      val (bf1, bf2) = bloomPairStored(s, d, bench)
      grams.filter(!col("h").isin("0", "1"))
        .filter(bloomProbe(bf1, bloomSeed1) && bloomProbe(bf2, bloomSeed2))
        .groupBy("doc_id").agg(countDistinct(col("g")).as("n_shared"))
        .orderBy("doc_id")
    }),

    // PII scrubbing: redact emails, IPv4s, then any residual digit runs;
    // report per-doc redaction counts and the scrubbed-text fingerprint.
    // The corpus text is digit-free by construction, so a deterministic
    // PII suffix derived from doc_id is appended first — the regex paths
    // are exercised on every row and the oracle stays exact.
    "d_pii_scrub" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("s", concat(col("text"),
          lit(" contact-"), col("doc_id").cast("string"),
          lit("@mail.example ip 10.0."), (col("doc_id") % 256).cast("string"),
          lit(".7 id "), (col("doc_id") * 7919).cast("string")))
        .select(col("doc_id"),
          regexp_count(col("s"), lit(emailRe)).as("n_emails"),
          regexp_count(col("s"), lit(ipRe)).as("n_ips"),
          md5(regexp_replace(regexp_replace(regexp_replace(col("s"),
            emailRe, "<EMAIL>"), ipRe, "<IP>"), "[0-9]+", "<NUM>")
            .cast("binary")).as("scrub_md5"))
        .orderBy("doc_id")
    }),

    // Deterministic stratified sample: top-5 docs per language by md5
    // rank — per-stratum quota sampling that survives re-shards and
    // backfills. One hash-shuffle on the stratum key; the per-stratum
    // sort is a top-k (rank ≤ 5), not a full sort.
    "d_strat_sample" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("lang"), col("doc_id"),
          row_number().over(Window.partitionBy("lang")
            .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id")))
            .as("rnk"))
        .filter(col("rnk") <= 5)
        .orderBy("lang", "rnk")
    }),

    // Intra-document repetition (Gopher-style duplicate-n-gram fraction):
    // share of repeated bigrams within each doc — a pure projection.
    "d_repetition" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("w", split(lower(col("text")), " "))
        .withColumn("bgs", expr(
          """CASE WHEN size(w) >= 2
               THEN transform(sequence(1, size(w) - 1),
                      i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))
               ELSE array() END"""))
        .select(col("doc_id"),
          size(col("bgs")).as("n_bg"),
          size(array_distinct(col("bgs"))).as("n_uniq_bg"),
          // guarded: a sub-2-word doc has n_bg = 0, where Spark's x/0.0
          // yields NULL but DuckDB's yields NaN — pin 0.0 on BOTH sides
          // (no bigrams = nothing repeated)
          when(size(col("bgs")) === 0, lit(0.0))
            .otherwise(round(lit(1) - size(array_distinct(col("bgs"))) /
              size(col("bgs")).cast("double"), 6)).as("dup_frac"))
        .orderBy("doc_id")
    }),

    // Embedding-space outliers: distance of every vector to its label's
    // centroid, top-3 per label — the cluster-quality / mislabel filter.
    // Centroid sums run in DECIMAL so the result is exact and identical
    // under any partitioning (double sums are addition-order-dependent);
    // the per-vector distance fold is in-row and order-fixed.
    // Plan body lives in [[embOutlierPlan]] (r19 opt: the exploded
    // branch is persisted and evaluated ONCE across the centroid and
    // distance aggregates; PlanSpec audits the un-materialized plan).
    "d_emb_outlier" -> ((s, d) => {
      val (ranked, caches) = embOutlierPlan(s, d)
      // lineage cut + cache release (the r18 "no release point" blocker
      // was the entry's own shape — Materialize.drop IS the release
      // point, same as the 14 other cache-carrying entries); sort AFTER
      // the cut so range-boundary sampling reads checkpoint blocks
      Materialize.drop(ranked, caches: _*).orderBy("label", "rnk")
    }),

    // Token-budget SELECTION — "the best B tokens out of the corpus", the
    // data-selection step between quality scoring and tokenization: rank
    // docs by quality (uniq_ratio, ties to doc_id), admit in rank order
    // until the cumulative token count exhausts the budget. The budget is
    // half the corpus' total tokens (scale-invariant — a fixed constant
    // would silently model a different fraction at every SF). The
    // cumulative count is a GLOBAL prefix sum over a corpus-sized total
    // order — exactly the shape that dies as a single-task window — so it
    // rides OrderStats.weightedCdf (token counts as weights, negated
    // quality as the ascending sort key): parallelism-unbounded, and
    // `tot` doubles as the corpus total, making the budget threshold one
    // exact integer comparison (cum*2 <= tot), no second pass.
    "d_token_budget" -> ((s, d) => {
      // r12s3: quality and token counts come from the fps2 store (one
      // text scan per corpus version, shared with the whole cascade)
      val scored = Backbone.fingerprints(s, d)
        .select(col("doc_id"), col("n_tokens"),
          col("uniq_ratio").as("quality"))
        .withColumn("g", lit(1))
        .withColumn("neg_q", -col("quality"))
      val (cdf, caches) = OrderStats.weightedCdfPlan(
        scored, "g", Seq("neg_q", "doc_id"), "n_tokens")
      Materialize.drop(cdf
        .select(col("doc_id"), col("n_tokens"),
          (-col("neg_q")).as("quality"),
          col("cum").as("cum_tokens"),
          (col("cum") * 2 <= col("tot")).cast("int").as("selected"))
        , caches: _*)
        .orderBy("doc_id") // sort AFTER the cut - see o_a27 (r18 opt)
    }),

    // Training CURRICULUM — the phase schedule between curation and the
    // data loader: the cascade's KEPT docs are ranked by quality and cut
    // into ten token-equal phases (phase 0 = the cleanest tokens first,
    // the standard curriculum-learning shape; token-sized, not
    // doc-sized, because training phases are token budgets). Rides the
    // fps2 store for quality/token columns and the stored backbone for
    // the kept set, and the corpus-sized global prefix sum rides
    // OrderStats.weightedCdf — never a single-task window. Phase is an
    // exact integer expression ((cum-1)*10 div tot), so both engines cut
    // the same docs at every boundary at any scale.
    "d_curriculum" -> ((s, d) => {
      val kept = TextDedup.curationDecisions(s, d)
        .filter(col("decision") === "kept").select("doc_id")
      val scored = Backbone.fingerprints(s, d)
        .join(kept, Seq("doc_id"))
        .select(col("doc_id"), col("n_tokens"),
          col("uniq_ratio").as("quality"))
        .withColumn("g", lit(1))
        .withColumn("neg_q", -col("quality"))
      val (cdf, caches) = OrderStats.weightedCdfPlan(
        scored, "g", Seq("neg_q", "doc_id"), "n_tokens")
      Materialize.drop(cdf
        .select(col("doc_id"), col("n_tokens"),
          (-col("neg_q")).as("quality"),
          col("cum").as("cum_tokens"),
          expr("cast(((cum - 1) * 10) div tot as int)").as("phase"))
        , caches: _*)
        .orderBy("doc_id") // sort AFTER the cut - see o_a27 (r18 opt)
    }),

    // Token-budget selection under the TRAINED BPE table (r17 VERDICT
    // #3): same rank-by-quality prefix-sum admission as d_token_budget,
    // but n_tokens comes from d_text_tokens_bpe's stored merge table
    // instead of the whitespace count — subword precision for the
    // budget threshold (the estimate variant stays for comparison). The
    // corpus-global prefix sum still rides OrderStats.weightedCdf;
    // encoding is per-row codegen'd string work on top of the same fps2
    // quality read, so the scale shape is unchanged.
    "d_token_budget_bpe" -> ((s, d) => {
      val scored = Backbone.fingerprints(s, d)
        .select(col("doc_id"), col("uniq_ratio").as("quality"))
        .join(TextAnalysis.bpeTokenCounts(s, d), Seq("doc_id"))
        .withColumn("g", lit(1))
        .withColumn("neg_q", -col("quality"))
      val (cdf, caches) = OrderStats.weightedCdfPlan(
        scored, "g", Seq("neg_q", "doc_id"), "n_tokens")
      Materialize.drop(cdf
        .select(col("doc_id"), col("n_tokens"),
          (-col("neg_q")).as("quality"),
          col("cum").as("cum_tokens"),
          (col("cum") * 2 <= col("tot")).cast("int").as("selected"))
        , caches: _*)
        .orderBy("doc_id") // sort AFTER the cut - see o_a27 (r18 opt)
    }),

    // Curriculum phases under the trained BPE table — d_curriculum with
    // subword-precise token sizing. One delta the ws-token variant never
    // faces: a BPE count can be ZERO (text normalizing to empty), so the
    // phase expression clamps cum to >= 1 — Spark's `div` truncates
    // toward zero while DuckDB's `//` floors, and (cum-1)*10 at cum=0
    // would split the engines on the sign.
    "d_curriculum_bpe" -> ((s, d) => {
      val kept = TextDedup.curationDecisions(s, d)
        .filter(col("decision") === "kept").select("doc_id")
      val scored = Backbone.fingerprints(s, d)
        .join(kept, Seq("doc_id"))
        .select(col("doc_id"), col("uniq_ratio").as("quality"))
        .join(TextAnalysis.bpeTokenCounts(s, d), Seq("doc_id"))
        .withColumn("g", lit(1))
        .withColumn("neg_q", -col("quality"))
      val (cdf, caches) = OrderStats.weightedCdfPlan(
        scored, "g", Seq("neg_q", "doc_id"), "n_tokens")
      Materialize.drop(cdf
        .select(col("doc_id"), col("n_tokens"),
          (-col("neg_q")).as("quality"),
          col("cum").as("cum_tokens"),
          expr("cast(((greatest(cum, 1L) - 1) * 10) div tot as int)")
            .as("phase"))
        , caches: _*)
        .orderBy("doc_id") // sort AFTER the cut - see o_a27 (r18 opt)
    }),

    // Domain mix APPLY — the step that turns d_domain_mix's weights into
    // an actual training-mix manifest: a corpus-sized mix where source s
    // contributes floor(N * w_s) documents (N = corpus size). Within a
    // source, docs are taken in md5-rank order (the d_strat_sample
    // determinism discipline); a source whose target exceeds its size
    // repeats docs epoch-wise — n_copies = full epochs + 1 for the
    // rank-prefix covering the remainder, exactly how data-mixing
    // pipelines upsample small domains. Per-source rank rides
    // OrderStats.weightedCdf (source is a ~|domains|-cardinality key
    // over a corpus-sized input — the regime where a plain window
    // serializes into |domains| tasks); the weight table is the same
    // |sources|-row aggregate d_domain_mix builds, broadcast onto the
    // ranked stream. Output: one row per doc IN the mix with its copy
    // count — an auditable manifest, not an exploded row set.
    "d_mix_apply" -> ((s, d) => {
      val ranked0 = Tables.documents(s, d)
        .select(col("doc_id"), col("source"))
        .withColumn("hk", md5(col("doc_id").cast("string").cast("binary")))
        .withColumn("one", lit(1L))
      val (cdf, caches) = OrderStats.weightedCdfPlan(
        ranked0, "source", Seq("hk", "doc_id"), "one")
      val all = Window.partitionBy(lit(1))
      // weights rounded to 6 on BOTH sides before the floor — the same
      // rounded doubles the d_domain_mix oracle already certifies equal,
      // so floor(N*w) cannot split on an engine ulp
      val wts = Tables.documentsPreAgg(s, d) // aggregate-first branch (r19)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
        .withColumn("share",
          col("n_tokens").cast("double") / sum("n_tokens").over(all))
        .withColumn("pw", pow(col("share"), lit(0.7)))
        .withColumn("mw", round(col("pw") / sum("pw").over(all), 6))
        .withColumn("total_docs", sum("n_docs").over(all))
        .withColumn("target", floor(col("total_docs") * col("mw")).cast("long"))
        .select(col("source"), col("n_docs"), col("target"))
      Materialize.drop(cdf
        .join(broadcast(wts), "source")
        .withColumn("n_copies",
          // `div` is integral long division; `/` on longs is double
          // division whose truncation diverges from the oracle's
          // integer `//` once quotients leave double's 2^53 exact range
          expr("target div n_docs") +
            when(col("cum") <= col("target") % col("n_docs"), 1L).otherwise(0L))
        .filter(col("n_copies") >= 1)
        .select(col("doc_id"), col("source"),
          col("cum").as("rank_in_source"), col("n_copies"))
        , caches: _*)
        .orderBy("doc_id") // sort AFTER the cut - see o_a27 (r18 opt)
    }),

    // Domain MIXING weights — per-source sampling weights for training-
    // mix construction: token share per source, temperature-flattened as
    // share^alpha (alpha=0.7, the standard multinomial-temperature
    // resampling that upweights small domains), renormalized to sum 1.
    // One hash agg on source; the windows below run over the ALREADY
    // AGGREGATED |sources|-row table (a bounded dimension, not the
    // corpus), so the single-partition window is a no-op cost — the
    // o_a27/o_w6 low-cardinality-window hazard applies to corpus-sized
    // inputs, not to post-aggregate dimension tables.
    "d_domain_mix" -> ((s, d) => {
      // aggregate-first corpus consumer: the groupBy collapses the scan
      // to |sources| rows, so the corpus fan-out exchange is pure
      // overhead here (r19 opt — see Tables.documentsPreAgg)
      val per = Tables.documentsPreAgg(s, d)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      val all = Window.partitionBy(lit(1))
      per
        .withColumn("share",
          col("n_tokens").cast("double") / sum("n_tokens").over(all))
        .withColumn("pw", pow(col("share"), lit(0.7)))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(col("share"), 6).as("token_share"),
          round(col("pw") / sum("pw").over(all), 6).as("mix_weight"))
        .orderBy("source")
    })
  )

  val oracles: Map[String, String] = Map(
    "d_decontam" ->
      """WITH w AS (SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS h,
                           string_split(lower(text), ' ') AS w FROM documents),
         grams AS (SELECT doc_id, h,
                  unnest(list_transform(generate_series(1, len(w) - 4),
                         i -> array_to_string(w[i:i+4], ' '))) AS g
                  FROM w WHERE len(w) >= 5),
         bench AS (SELECT DISTINCT g FROM grams WHERE h = '1')
         SELECT t.doc_id, COUNT(DISTINCT t.g) AS n_shared
         FROM grams t JOIN bench USING (g)
         WHERE t.h NOT IN ('0', '1')
         GROUP BY 1 ORDER BY 1""",

    // The bloom path must reproduce the EXACT join semantics: the filter
    // is sized FP-free at tested scales (~4e-10/probe) and deterministic,
    // so the oracle is the same query as d_decontam.
    "d_decontam_bloom" ->
      """WITH w AS (SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS h,
                           string_split(lower(text), ' ') AS w FROM documents),
         grams AS (SELECT doc_id, h,
                  unnest(list_transform(generate_series(1, len(w) - 4),
                         i -> array_to_string(w[i:i+4], ' '))) AS g
                  FROM w WHERE len(w) >= 5),
         bench AS (SELECT DISTINCT g FROM grams WHERE h = '1')
         SELECT t.doc_id, COUNT(DISTINCT t.g) AS n_shared
         FROM grams t JOIN bench USING (g)
         WHERE t.h NOT IN ('0', '1')
         GROUP BY 1 ORDER BY 1""",

    "d_pii_scrub" ->
      """WITH synth AS (
           SELECT doc_id,
                  text || ' contact-' || CAST(doc_id AS VARCHAR) ||
                  '@mail.example ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) ||
                  '.7 id ' || CAST(doc_id * 7919 AS VARCHAR) AS s
           FROM documents)
         SELECT doc_id,
                CAST(len(regexp_extract_all(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+')) AS INT) AS n_emails,
                CAST(len(regexp_extract_all(s, '(?:[0-9]{1,3}\.){3}[0-9]{1,3}')) AS INT) AS n_ips,
                md5(regexp_replace(regexp_replace(regexp_replace(s,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
                    '(?:[0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g'),
                    '[0-9]+', '<NUM>', 'g')) AS scrub_md5
         FROM synth ORDER BY doc_id""",

    "d_strat_sample" ->
      """SELECT lang, doc_id, rnk FROM (
           SELECT lang, doc_id,
                  CAST(row_number() OVER (PARTITION BY lang
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS rnk
           FROM documents) WHERE rnk <= 5
         ORDER BY lang, rnk""",

    "d_repetition" ->
      """WITH b AS (
           SELECT doc_id, CASE WHEN len(w) >= 2
                    THEN list_transform(generate_series(1, len(w) - 1),
                           i -> w[i] || ' ' || w[i + 1])
                    ELSE [] END AS bgs
           FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents))
         SELECT doc_id, CAST(len(bgs) AS INT) AS n_bg,
                CAST(len(list_distinct(bgs)) AS INT) AS n_uniq_bg,
                CASE WHEN len(bgs) = 0 THEN 0.0
                     ELSE round(1 - len(list_distinct(bgs)) / CAST(len(bgs) AS DOUBLE), 6)
                END AS dup_frac
         FROM b ORDER BY doc_id""",

    "d_emb_outlier" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         cent AS (
           SELECT label, CAST(i AS INT) AS i,
                  CAST(SUM(CAST(v[i] AS DECIMAL(20,14))) AS DOUBLE) / COUNT(*) AS c
           FROM e, unnest(generate_series(1, 64)) AS t(i)
           GROUP BY label, i),
         dist AS (
           SELECT e.vec_id, e.label,
                  SUM(CAST((v[t.i] - c) * (v[t.i] - c) AS DECIMAL(20,14))) AS s2
           FROM e, unnest(generate_series(1, 64)) AS t(i)
           JOIN cent ON cent.label = e.label AND cent.i = t.i
           GROUP BY 1, 2)
         SELECT vec_id, label, round(sqrt(CAST(s2 AS DOUBLE)), 6) AS dist, rnk
         FROM (SELECT vec_id, label, s2,
                      CAST(row_number() OVER (PARTITION BY label
                        ORDER BY round(sqrt(CAST(s2 AS DOUBLE)), 6) DESC, vec_id) AS INT) AS rnk
               FROM dist)
         WHERE rnk <= 3 ORDER BY label, rnk""",

    "d_token_budget" ->
      """WITH t AS (
           SELECT doc_id,
                  CAST(len(w) AS BIGINT) AS n_tokens,
                  round(len(list_distinct(w)) / CAST(len(w) AS DOUBLE), 6) AS quality
           FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
         c AS (
           SELECT doc_id, n_tokens, quality,
                  CAST(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
                  CAST(SUM(n_tokens) OVER () AS BIGINT) AS tot
           FROM t)
         SELECT doc_id, n_tokens, quality, cum_tokens,
                CAST(CASE WHEN cum_tokens * 2 <= tot THEN 1 ELSE 0 END AS INT) AS selected
         FROM c ORDER BY doc_id""",

    // Curriculum: the cascade (recursive CTEs shared with the curation
    // oracles) selects the kept set; token-equal phases via the same
    // windowed prefix sum as the token budget, integer phase cut.
    "d_curriculum" ->
      s"""WITH RECURSIVE ${TextDedup.clustersCte},
          ${TextDedup.keeperCte},
          ex AS (
            SELECT doc_id,
                   MIN(doc_id) OVER (PARTITION BY md5(lower(text))) AS exact_keep
            FROM documents),
          kept AS (
            SELECT k.doc_id
            FROM k JOIN ex e ON k.doc_id = e.doc_id
            WHERE k.doc_id = e.exact_keep AND k.doc_id = k.keep_id
              AND k.uniq_ratio >= 0.3),
          t AS (
            SELECT d.doc_id,
                   CAST(len(w) AS BIGINT) AS n_tokens,
                   round(len(list_distinct(w)) / CAST(len(w) AS DOUBLE), 6)
                     AS quality
            FROM (SELECT doc_id, string_split(text, ' ') AS w
                  FROM documents) d
            JOIN kept USING (doc_id)),
          c AS (
            SELECT doc_id, n_tokens, quality,
                   CAST(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
                   CAST(SUM(n_tokens) OVER () AS BIGINT) AS tot
            FROM t)
          SELECT doc_id, n_tokens, quality, cum_tokens,
                 CAST(((cum_tokens - 1) * 10) // tot AS INT) AS phase
          FROM c ORDER BY doc_id""",

    // BPE-precise budget: the d_text_tokens_bpe training/encoding CTEs
    // replayed, composed into the same rank-by-quality prefix sum
    "d_token_budget_bpe" ->
      s"""WITH ${TextAnalysis.bpeCtes},
          tok AS (SELECT doc_id, ${TextAnalysis.bpeCountSql} AS n_tokens
                  FROM s${TextAnalysis.BPE_MERGES}),
          bq AS (SELECT doc_id,
                       round(len(list_distinct(w)) / CAST(len(w) AS DOUBLE), 6)
                         AS quality
                FROM (SELECT doc_id, string_split(text, ' ') AS w
                      FROM documents)),
          t AS (SELECT doc_id, n_tokens, quality
                FROM tok JOIN bq USING (doc_id)),
          c AS (SELECT doc_id, n_tokens, quality,
                       CAST(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
                       CAST(SUM(n_tokens) OVER () AS BIGINT) AS tot
                FROM t)
          SELECT doc_id, n_tokens, quality, cum_tokens,
                 CAST(CASE WHEN cum_tokens * 2 <= tot THEN 1 ELSE 0 END AS INT)
                   AS selected
          FROM c ORDER BY doc_id""",

    // BPE-precise curriculum: the cascade's kept set (recursive CTEs
    // shared with d_curriculum) sized by the replayed BPE counts; the
    // phase cut clamps cum >= 1 because a BPE count can be zero and
    // Spark `div` truncates where DuckDB `//` floors
    "d_curriculum_bpe" ->
      s"""WITH RECURSIVE ${TextDedup.clustersCte},
          ${TextDedup.keeperCte},
          ex AS (
            SELECT doc_id,
                   MIN(doc_id) OVER (PARTITION BY md5(lower(text))) AS exact_keep
            FROM documents),
          kept AS (
            SELECT k.doc_id
            FROM k JOIN ex e ON k.doc_id = e.doc_id
            WHERE k.doc_id = e.exact_keep AND k.doc_id = k.keep_id
              AND k.uniq_ratio >= 0.3),
          ${TextAnalysis.bpeCtes},
          tok AS (SELECT doc_id, ${TextAnalysis.bpeCountSql} AS n_tokens
                  FROM s${TextAnalysis.BPE_MERGES}),
          bq AS (SELECT doc_id,
                       round(len(list_distinct(w)) / CAST(len(w) AS DOUBLE), 6)
                         AS quality
                FROM (SELECT doc_id, string_split(text, ' ') AS w
                      FROM documents)),
          t AS (SELECT doc_id, n_tokens, quality
                FROM tok JOIN bq USING (doc_id) JOIN kept USING (doc_id)),
          c AS (SELECT doc_id, n_tokens, quality,
                       CAST(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
                       CAST(SUM(n_tokens) OVER () AS BIGINT) AS tot
                FROM t)
          SELECT doc_id, n_tokens, quality, cum_tokens,
                 CAST(((greatest(cum_tokens, 1) - 1) * 10) // tot AS INT)
                   AS phase
          FROM c ORDER BY doc_id""",

    "d_mix_apply" ->
      """WITH per AS (
           SELECT source, COUNT(*) AS n_docs,
                  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
           FROM documents GROUP BY source),
         w AS (
           SELECT source, n_docs,
                  n_tokens / CAST(SUM(n_tokens) OVER () AS DOUBLE) AS share,
                  CAST(SUM(n_docs) OVER () AS BIGINT) AS total_docs
           FROM per),
         t AS (
           SELECT source, n_docs, total_docs,
                  CAST(FLOOR(total_docs *
                    round(pow(share, 0.7) / SUM(pow(share, 0.7)) OVER (), 6))
                    AS BIGINT) AS target
           FROM w),
         r AS (
           SELECT doc_id, source,
                  CAST(row_number() OVER (PARTITION BY source
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rnk
           FROM documents)
         SELECT r.doc_id, r.source, r.rnk AS rank_in_source,
                CAST(target // n_docs +
                     CASE WHEN rnk <= target % n_docs THEN 1 ELSE 0 END
                     AS BIGINT) AS n_copies
         FROM r JOIN t USING (source)
         WHERE target // n_docs + CASE WHEN rnk <= target % n_docs THEN 1 ELSE 0 END >= 1
         ORDER BY doc_id""",

    "d_domain_mix" ->
      """WITH s AS (
           SELECT source, COUNT(*) AS n_docs,
                  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
           FROM documents GROUP BY source),
         t AS (
           SELECT source, n_docs, n_tokens,
                  n_tokens / CAST(SUM(n_tokens) OVER () AS DOUBLE) AS share
           FROM s)
         SELECT source, n_docs, n_tokens,
                round(share, 6) AS token_share,
                round(pow(share, 0.7) / SUM(pow(share, 0.7)) OVER (), 6) AS mix_weight
         FROM t ORDER BY source"""
  )
}
