package graft.pipeline

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The composed curation pipeline — normalize → dedup → quality gate →
  * sequence packing — as ONE catalog query, so the whole
  * corpus-to-training-shards path is a single Spark plan instead of four
  * materialized passes.
  *
  * Composition semantics (each stage is the already-oracled operator):
  *  - normalize feeds the EXACT-dup fingerprint: md5 over the
  *    canonicalized text (`d_text_normalize`'s regex chain), so byte-level
  *    variants of the same document collapse before near-dup ever runs;
  *  - near-dup keep-best + quality gate are `d_curation_apply`'s cascade
  *    verbatim (precedence: exact > near-dup non-keeper > quality);
  *  - survivors pack into 2048-token sequences over 32 buckets
  *    (`d_pack_sequences`'s fold); dropped docs carry NULL pack columns so
  *    the output stays one auditable row per document.
  *
  * Scale shape: composing adds NO shuffle beyond the parts' own — the
  * fingerprint window and the decision join ride the same doc-keyed
  * exchanges `d_curation_apply` already pays, packing adds its one
  * bucket repartition, and the final left join is doc-keyed like the
  * decision join (EndToEndSpec pins the exchange count). At 100 TB this
  * is the difference between re-scanning the corpus four times and
  * scanning it once.
  */
object EndToEnd {

  /** The d_text_normalize canonicalization — shared single definition
    * (TextAnalysis.normCol), so the composed pipeline's fingerprint can
    * never drift from the standalone operator's. */
  private[pipeline] def normCol = TextAnalysis.normCol

  /** The un-materialized composed plan (exposed for the plan-audit spec:
    * Materialize.drop cuts lineage, so the audit needs the raw tree). */
  private[pipeline] def plan(
      s: SparkSession, d: String): (DataFrame, Seq[DataFrame]) = {
    val (keep, caches) = TextDedup.clusterKeepers(s, d)
    // THE shared exact-keeper shape (TextDedup.exactKeeperDecisions —
    // the `3440f12` skew fix): agg + join with a round-robin
    // repartition of the keeper side, so hot boilerplate fingerprints
    // stay map-side-combinable AND the join is AQE-skew-splittable. An
    // earlier inline copy here omitted the repartition and kept the
    // single-task hot-key shape the helper exists to prevent.
    // fps is PERSISTED because exactKeeperDecisions consumes it twice by
    // construction (the keeper agg side and the corpus probe side of the
    // fp join) and its lineage carries the full regex-normalize + md5
    // chain over every document — uncached, that chain (and the corpus
    // scan under it) executed twice per query (profiled r19: two ~3.8 s
    // CPU stages of identical normalization work; guide §1.2 "don't
    // compute things you throw away"). Three narrow columns per doc,
    // same cost class as the decision cache below; released with it.
    val fps = Tables.documents(s, d).select(col("doc_id"), col("n_chars"),
      md5(normCol.cast("binary")).as("fp"))
      .persist()
    val exact = TextDedup.exactKeeperDecisions(fps)
    // dec feeds BOTH the output rows and the packing branch; without the
    // persist Spark plans the whole keep/exact subtree twice (two corpus
    // scans, double the exchanges — measured 14 exchanges / 4 scans vs
    // 8 / 2 cached). Three narrow columns per doc, cheap to cache; at
    // cluster scale this is the decision table you'd materialize anyway.
    val dec = keep.join(exact, Seq("doc_id"))
      .select(col("doc_id"), col("n_chars"),
        TextDedup.decisionCol.as("decision"))
      .persist()
    val packed = Packing.packSequences(
      dec.filter(col("decision") === "kept").select("doc_id", "n_chars"),
      capacity = 2048, buckets = 32)
    // UNORDERED — the catalog entry sorts AFTER Materialize.drop's
    // lineage cut (r18 opt: a final orderBy's range-boundary sampling
    // would re-execute this whole join tail a second time)
    val out = dec.select("doc_id", "decision")
      .join(packed.select("doc_id", "bucket", "seq_no", "n_tokens", "seq_fill"),
        Seq("doc_id"), "left")
    (out, caches :+ dec :+ fps)
  }

  /** The curation → decontamination → exact-substring-scrub composition
    * (`d_pipeline_scrubbed`): the `d_curation_apply` cascade decides
    * keep/drop per TRAIN doc, bloom-pair decontamination
    * (`d_decontam_bloom`'s filters, probed by the STATELESS per-row
    * `contaminationScore` — no gram explode, no shuffle) adds
    * `drop_contaminated`, and the SURVIVORS are span-scrubbed.
    *
    * The scrub runs over survivors ONLY — deliberately: a near-dup
    * cluster's kept member shares most of its 5-grams with the members
    * that were just dropped, so scrubbing against the full corpus would
    * gut every kept doc's text with spans whose duplicates no longer
    * exist. Dup spans must be recounted among what actually ships
    * (EndToEndSpec pins that full-corpus scrubbing would cut strictly
    * more). Scale shape: the cascade's own exchanges + one narrow
    * decision cache + the scrub's two gram-keyed shuffles over the
    * (smaller) survivor set; the bloom probe is a per-row bit test. */
  private[pipeline] def scrubbedPlan(
      s: SparkSession, d: String): (DataFrame, Seq[DataFrame]) = {
    val (dec, scrub) = scrubbedStore(s, d)
    val out = dec
      .join(scrub.select(col("doc_id"), col("n_kept").as("n_words_scrubbed")),
        Seq("doc_id"), "left")
    (out, Seq.empty) // unordered — catalog entry sorts after the cut
  }

  /** The MATERIALIZED curated-corpus artifact: the scrubbed pipeline's
    * decision table and survivor scrub output, persisted once per
    * corpus version under the [[Warehouse]] discipline. This is the
    * production shape: a curation run materializes its decisions and
    * its scrubbed text ONCE, and every consumer — the audit query
    * (`d_pipeline_scrubbed`), the trainer handoff
    * (`d_pipeline_sharded`), a re-run diff — READS the artifact instead
    * of re-deriving the cascade+decontam+scrub chain per query. Same
    * contract as the dedup backbone tables: build cost is a one-time
    * line item, reads are table scans. */
  private[pipeline] def scrubbedStore(
      s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val base =
      s"${Warehouse.versionDir(s, d, "documents.parquet", "pipe_")}/scrubbed"
    Warehouse.ensure(s, base) {
      val (dec, scrub, caches) = scrubbedParts(s, d)
      // unpersist in finally: a failed write (disk full, killed stage)
      // must not leak the persisted decision/keeper blocks for the rest
      // of the JVM — every retry would stack another set
      try {
        Warehouse.writeSized(dec, s"$base/dec")
        Warehouse.writeSized(scrub, s"$base/scrub")
      } finally caches.foreach(_.unpersist())
    }
    (Warehouse.readParquet(s, s"$base/dec"), Warehouse.readParquet(s, s"$base/scrub"))
  }

  /** Shared middle of the scrubbed pipeline: (decision table,
    * survivor-only span-scrub output incl. the scrubbed TEXT, caches).
    * `scrubbedPlan` reports per-doc decisions; `shardedPlan` ships the
    * surviving bytes to the trainer. */
  private[pipeline] def scrubbedParts(
      s: SparkSession, d: String): (DataFrame, DataFrame, Seq[DataFrame]) = {
    val (keep, caches) = TextDedup.clusterKeepers(s, d)
    // trimmed to (doc_id, fp): fps2's quality columns would collide
    // with clusterKeepers' uniq_ratio across the doc_id join
    val exact = TextDedup.exactKeeperDecisions(
      Backbone.fingerprints(s, d).select("doc_id", "fp"))
    val dec0 = keep.join(exact, Seq("doc_id"))
      .select(col("doc_id"), TextDedup.decisionCol.as("decision0"))
    val docs = Tables.documents(s, d).withColumn("h",
      substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1))
    val bench = docs.filter(col("h") === "1")
      .withColumn("w", split(lower(col("text")), " "))
      .filter(size(col("w")) >= 5)
      .select(explode(expr(
        "transform(sequence(1, size(w) - 4), i -> array_join(slice(w, i, 5), ' '))"))
        .as("g"))
      .distinct()
    // the same eval-suite pair the catalog query uses — loaded from the
    // once-per-corpus-version stored artifact, not rebuilt here
    val (bf1, bf2) = Curation.bloomPairStored(s, d, bench)
    // contaminationScore sits in a CaseWhen branch: it only evaluates for
    // rows the cascade kept, and the cache stays two narrow columns
    val dec = docs.filter(!col("h").isin("0", "1"))
      .join(dec0, Seq("doc_id"))
      .select(col("doc_id"),
        when(col("decision0") =!= "kept", col("decision0"))
          .when(Curation.contaminationScore(col("text"), bf1, bf2) > 0,
            "drop_contaminated")
          .otherwise("kept").as("decision"))
      .persist()
    val survivors = docs.select("doc_id", "text")
      .join(dec.filter(col("decision") === "kept").select("doc_id"), Seq("doc_id"))
    val scrub = TextDedup.spanScrub(survivors)
    (dec, scrub, caches :+ dec)
  }

  /** Trainer HANDOFF on the composed pipeline (`d_pipeline_sharded`):
    * the scrubbed survivors — the bytes that actually ship — hashed into
    * training shards and summarized as the [[Shards.manifest]] table, so
    * the catalog-visible artifact is the audit a trainer consumes.
    * (`d_shard_manifest` manifests the RAW corpus; this entry manifests
    * the pipeline's actual output.) Adds only the manifest's one
    * shard-keyed hash agg on top of the scrubbed plan; the fingerprints
    * cover the SCRUBBED text, so the content envelope certifies exactly
    * the shipped bytes. */
  private[pipeline] def shardedPlan(
      s: SparkSession, d: String): (DataFrame, Seq[DataFrame]) = {
    val (_, scrub) = scrubbedStore(s, d)
    val shipped = scrub.select(col("doc_id"),
      col("scrub_text").as("text"),
      length(col("scrub_text")).cast("long").as("n_chars"))
    (Shards.manifest(shipped, hexChars = 1), Seq.empty)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d_pipeline_e2e" -> ((s, d) => {
      val (out, caches) = plan(s, d)
      Materialize.drop(out, caches: _*).orderBy("doc_id")
    }),

    "d_pipeline_scrubbed" -> ((s, d) => {
      val (out, caches) = scrubbedPlan(s, d)
      Materialize.drop(out, caches: _*).orderBy("doc_id")
    }),

    "d_pipeline_sharded" -> ((s, d) => {
      val (out, caches) = shardedPlan(s, d)
      Materialize.drop(out, caches: _*).orderBy("shard_id")
    })
  )

  val oracles: Map[String, String] = Map(
    // The parts' oracles composed: cluster closure + keep-best window
    // (TextDedup), the cascade with a NORMALIZED exact fingerprint, then
    // the packing fold (Packing) over the kept set only.
    "d_pipeline_e2e" ->
      s"""WITH RECURSIVE ${TextDedup.clustersCte},
          ${TextDedup.keeperCte},
          ex AS (
            SELECT doc_id, n_chars,
                   MIN(doc_id) OVER (
                     PARTITION BY md5(trim(regexp_replace(regexp_replace(
                       lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')))
                   ) AS exact_keep
            FROM documents),
          dec AS (
            SELECT k.doc_id, e.n_chars,
                   CASE WHEN k.doc_id <> e.exact_keep THEN 'drop_exact'
                        WHEN k.doc_id <> k.keep_id THEN 'drop_near_dup'
                        WHEN k.uniq_ratio < 0.3 THEN 'drop_quality'
                        ELSE 'kept' END AS decision
            FROM k JOIN ex e ON k.doc_id = e.doc_id),
          ord AS (
            SELECT doc_id, doc_id % 32 AS bucket,
                   CAST(ceil(n_chars / 4.0) AS BIGINT) AS t,
                   row_number() OVER (PARTITION BY doc_id % 32
                                      ORDER BY doc_id) AS i
            FROM dec WHERE decision = 'kept'),
          pack AS (
            SELECT bucket, i, doc_id, t,
                   CAST(0 AS BIGINT) AS seq_no, t AS seq_fill
            FROM ord WHERE i = 1
            UNION ALL
            SELECT o.bucket, o.i, o.doc_id, o.t,
                   CASE WHEN p.seq_fill + o.t > 2048
                        THEN p.seq_no + 1 ELSE p.seq_no END,
                   CASE WHEN p.seq_fill + o.t > 2048
                        THEN o.t ELSE p.seq_fill + o.t END
            FROM pack p JOIN ord o ON o.bucket = p.bucket AND o.i = p.i + 1)
          SELECT d.doc_id, d.decision,
                 p.bucket, p.seq_no, p.t AS n_tokens, p.seq_fill
          FROM dec d LEFT JOIN pack p ON d.doc_id = p.doc_id
          ORDER BY d.doc_id""",

    // Curation cascade (d_curation_apply's exact fingerprint) + bloom
    // decontam (exact-join semantics — the filters are fp-free by the
    // seeded-pair sizing) + span scrub recomputed among SURVIVORS only.
    "d_pipeline_scrubbed" ->
      s"""$scrubChainCtes,
          scr AS (
            SELECT sw.doc_id,
                   len(list_filter(range(1, len(sw.w) + 1),
                     j -> len(list_filter(coalesce(sst.starts, CAST([] AS BIGINT[])),
                                          p -> p <= j AND j <= p + 4)) = 0))
                     AS n_words_scrubbed
            FROM sw LEFT JOIN sst ON sw.doc_id = sst.doc_id)
          SELECT dec.doc_id, dec.decision, scr.n_words_scrubbed
          FROM dec LEFT JOIN scr ON dec.doc_id = scr.doc_id
          ORDER BY dec.doc_id""",

    // The same chain, ending at the trainer handoff: the scrubbed
    // survivor TEXT is materialized, shard-hashed, and manifested —
    // fingerprints cover the shipped (scrubbed) bytes.
    "d_pipeline_sharded" ->
      s"""$scrubChainCtes,
          scr AS (
            SELECT sw.doc_id,
                   array_to_string(
                     list_transform(
                       list_filter(range(1, len(sw.w) + 1),
                         j -> len(list_filter(coalesce(sst.starts, CAST([] AS BIGINT[])),
                                              p -> p <= j AND j <= p + 4)) = 0),
                       j -> sw.w[j]), ' ') AS stext
            FROM sw LEFT JOIN sst ON sw.doc_id = sst.doc_id)
          SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard_id,
                 COUNT(*) AS n_docs,
                 CAST(SUM(len(string_split(stext, ' '))) AS BIGINT) AS n_tokens,
                 CAST(SUM(len(stext)) AS BIGINT) AS n_chars,
                 MIN(md5(lower(stext))) AS min_fp,
                 MAX(md5(lower(stext))) AS max_fp
          FROM scr GROUP BY 1 ORDER BY 1"""
  )

  /** The cascade → decontam → survivor-gram CTE chain shared by the
    * d_pipeline_scrubbed and d_pipeline_sharded oracles (they diverge
    * only in what they derive from the scrub: a word count vs the
    * shipped text + manifest). */
  private def scrubChainCtes: String =
    s"""WITH RECURSIVE ${TextDedup.clustersCte},
          ${TextDedup.keeperCte},
          ex AS (
            SELECT doc_id,
                   MIN(doc_id) OVER (PARTITION BY md5(lower(text))) AS exact_keep
            FROM documents),
          dec0 AS (
            SELECT k.doc_id,
                   CASE WHEN k.doc_id <> e.exact_keep THEN 'drop_exact'
                        WHEN k.doc_id <> k.keep_id THEN 'drop_near_dup'
                        WHEN k.uniq_ratio < 0.3 THEN 'drop_quality'
                        ELSE 'kept' END AS decision0
            FROM k JOIN ex e ON k.doc_id = e.doc_id),
          w2 AS (
            SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS h,
                   string_split(lower(text), ' ') AS w
            FROM documents),
          tg AS (
            SELECT doc_id, h,
                   unnest(list_transform(range(1, len(w) - 3),
                          i -> array_to_string(w[i:i+4], ' '))) AS g
            FROM w2 WHERE len(w) >= 5),
          bench AS (SELECT DISTINCT g FROM tg WHERE h = '1'),
          cont AS (
            SELECT DISTINCT t.doc_id FROM tg t JOIN bench USING (g)
            WHERE t.h NOT IN ('0', '1')),
          dec AS (
            SELECT w2.doc_id,
                   CASE WHEN d0.decision0 <> 'kept' THEN d0.decision0
                        WHEN c.doc_id IS NOT NULL THEN 'drop_contaminated'
                        ELSE 'kept' END AS decision
            FROM w2 JOIN dec0 d0 ON w2.doc_id = d0.doc_id
            LEFT JOIN cont c ON w2.doc_id = c.doc_id
            WHERE w2.h NOT IN ('0', '1')),
          sw AS (
            SELECT w2.doc_id, w2.w FROM w2
            JOIN dec ON w2.doc_id = dec.doc_id
            WHERE dec.decision = 'kept'),
          sg AS (
            SELECT doc_id, i, array_to_string(w[i:i+4], ' ') AS gram
            FROM (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i
                  FROM sw WHERE len(w) >= 5)),
          sdup AS (SELECT gram FROM sg GROUP BY gram
                   HAVING COUNT(DISTINCT doc_id) >= 2),
          sst AS (SELECT sg.doc_id, list(sg.i) AS starts
                  FROM sg JOIN sdup ON sg.gram = sdup.gram GROUP BY sg.doc_id)"""
}
