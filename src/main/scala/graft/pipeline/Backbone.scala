package graft.pipeline

import scala.collection.mutable

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The materialized dedup BACKBONE — the stored signature / pair / label
  * tables every query in the curation cascade reads, built ONCE per
  * (corpus, band geometry) and shared.
  *
  * Rationale (the production shape at 100 TB): a curation *run* executes
  * exact dedup, near-dup clustering, keep-best selection, the composed
  * apply pass and the nightly delta — all on the SAME minhash+CC
  * backbone. Re-deriving it per query means four extra corpus scans and
  * four extra LSH+CC evaluations; materializing it once turns every
  * downstream query into a read of a docs-sized (fingerprints, labels)
  * or pairs-sized table. This is the "stored signature table" contract
  * the delta queries document: the tables live in the warehouse and are
  * maintained incrementally ([[advanceAndStore]]); batch queries never
  * recompute them.
  *
  * Storage: parquet under `graft.backbone.dir` (default: a per-JVM
  * scratch dir reclaimed on exit). An explicit warehouse path is used
  * AS-IS and REUSED across JVMs — a completed build leaves a
  * `_graft_built` marker, and the corpus token embeds the documents
  * parquet's file-metadata version, so a data drop at the same path
  * gets a fresh subtree (staleness-by-construction without per-JVM
  * scoping). Keyed by corpus token + band geometry. Build is all-Spark
  * (the existing [[TextDedup.minhashPairsPlan]] /
  * [[Graph.minLabelComponents]] plans); the only driver traffic is the
  * CC loop's convergence scalar.
  */
private[graft] object Backbone {

  // Storage mechanics (root resolution, build-once markers, corpus
  // tokens, instance ids) are shared with the embedding-side
  // [[VecBackbone]] — see [[Warehouse]] for the discipline.
  private def instanceRoot: String = Warehouse.instanceRoot
  private def token(s: SparkSession, d: String): String =
    Warehouse.token(s, d, "documents.parquet")
  // version-subtree root: resolving it stamps the _graft_corpus sidecar
  // Warehouse.gc's keep-K retention + reader grace window key off
  private def verRoot(s: SparkSession, d: String): String =
    Warehouse.versionDir(s, d, "documents.parquet")
  private def ensure(s: SparkSession, path: String)(build: => Unit): Boolean =
    Warehouse.ensure(s, path)(build)
  private def instanceId(o: AnyRef): Long = Warehouse.instanceId(o)

  /** TEST HOOK: drop the in-JVM built/count memos so a spec can exercise
    * the cross-JVM path (the on-disk `_graft_built` marker) without
    * forking a JVM. Production code never calls this. */
  private[graft] def resetMemoForTest(): Unit = synchronized {
    Warehouse.resetBuiltForTest(); counts.clear()
  }

  /** Memoized corpus row count (per JVM, keyed by dir). A parquet-
    * metadata count is cheap, but each invocation is still one driver
    * job; the cascade sizes its broadcast gates and the delta split off
    * this once per corpus instead of once per consuming query. */
  private val counts = mutable.Map[String, Long]()
  def corpusCount(s: SparkSession, d: String): Long = synchronized {
    counts.getOrElseUpdate(token(s, d), Tables.documents(s, d).count())
  }

  /** Fingerprint + static per-doc columns: (doc_id, fp, uniq_ratio,
    * n_tokens, n_chars) with fp = md5(lower(text)) — one corpus scan,
    * stored once, read by the exact query, the curation cascade, the
    * token budget and the shard manifests. Joining this table against a
    * frame that carries its own quality column? Trim to the columns you
    * need first (`select("doc_id", "fp")`) or the join output ends up
    * with an ambiguous uniq_ratio. */
  def fingerprints(s: SparkSession, d: String): DataFrame = {
    // layout v2 ("fps2"): the static per-doc quality/size columns ride
    // the same build scan, so cascade consumers (keep-best quality,
    // drift, token budget, the shard manifests) read THIS table instead
    // of rescanning corpus text per call — at 100 TB the nightly cascade
    // then touches text only in the span/scrub family. The path bump
    // matters: a marker-complete v1 dir must never satisfy v2 readers.
    val path = s"${verRoot(s, d)}/fps2"
    ensure(s, path) {
      val base = Tables.documents(s, d)
      // synthetic spec corpora may omit n_chars; it is len(text) by
      // definition (pinned true of the fixtures), so derive it then
      val chars = if (base.columns.contains("n_chars")) base
        else base.withColumn("n_chars", length(col("text")))
      Warehouse.writeSized(chars
        .withColumn("words", split(col("text"), " "))
        .select(col("doc_id"), TextDedup.fpCol.as("fp"),
          TextDedup.uniqRatioCol.as("uniq_ratio"),
          size(col("words")).cast("long").as("n_tokens"),
          col("n_chars").cast("long").as("n_chars")), path)
    }
    Warehouse.readParquet(s, path)
  }

  /** Writes the banded-signature and verified-pair tables for a band
    * geometry in ONE evaluation of the minhash plan (bands feeds the
    * pair derivation; both land as parquet). */
  private def ensureMinhash(s: SparkSession, d: String,
                            nBands: Int, rowsPerBand: Int): String = {
    val base = s"${verRoot(s, d)}/mh${nBands}x$rowsPerBand"
    ensure(s, base) {
      val plan = TextDedup.minhashPairsPlan(s, d, nBands, rowsPerBand)
      Warehouse.writeSized(plan.bands, s"$base/bands")
      Warehouse.writeSized(plan.pairs, s"$base/pairs")
      plan.caches.foreach(_.unpersist())
    }
    base
  }

  /** Stored banded signatures (doc_id, band, bkey) — the table a nightly
    * delta probes. */
  def bands(s: SparkSession, d: String,
            nBands: Int = 4, rowsPerBand: Int = 2): DataFrame =
    Warehouse.readParquet(s, s"${ensureMinhash(s, d, nBands, rowsPerBand)}/bands")

  /** Stored VERIFIED near-dup pairs (da, db, jaccard >= 0.5). */
  def pairs(s: SparkSession, d: String,
            nBands: Int = 4, rowsPerBand: Int = 2): DataFrame =
    Warehouse.readParquet(s, s"${ensureMinhash(s, d, nBands, rowsPerBand)}/pairs")

  /** Stored cluster labels (doc_id, cluster_id) — connected components
    * over the default-geometry pair graph; docs in no near-dup pair are
    * absent (callers coalesce to doc_id for singleton semantics). */
  def labels(s: SparkSession, d: String): DataFrame = {
    val path = s"${verRoot(s, d)}/labels"
    ensure(s, path) {
      val edges = Graph.symmetrize(pairs(s, d), "da", "db").persist()
      val (lbl, caches) = Graph.minLabelComponents(edges)
      Warehouse.writeSized(
        lbl.select(col("id").as("doc_id"), col("lbl").as("cluster_id")), path)
      (edges +: caches).foreach(_.unpersist())
    }
    Warehouse.readParquet(s, path)
  }

  /** Separately-persisted HISTORY tables for the stored-delta contract
    * (`d_dedup_delta_stored`) and the incremental-advance contract
    * (`d_backbone_incr`): keeper-per-fingerprint, banded signatures,
    * shingle sets, verified near-dup pairs and cluster labels for
    * documents below `split` ONLY. In production these are yesterday's
    * warehouse tables, maintained incrementally; the nightly delta
    * probes them with batch-only signatures and never scans history
    * text again. */
  final case class HistoryTables(keepers: DataFrame, bands: DataFrame,
                                 sets: DataFrame, pairs: DataFrame,
                                 labels: DataFrame)

  /** Geometry suffix for stored-path keys — empty at the 4x2 default so
    * existing warehouse layouts stay addressable; the r=4 operating
    * point (`d_dedup_delta_r4`, VERDICT r11 #4) gets its own subtree. */
  private def gSuffix(nBands: Int, rowsPerBand: Int): String =
    if (nBands == 4 && rowsPerBand == 2) "" else s"_g${nBands}x$rowsPerBand"

  def history(s: SparkSession, d: String, split: Long,
              nBands: Int = 4, rowsPerBand: Int = 2): HistoryTables = {
    val base =
      s"${verRoot(s, d)}/hist$split${gSuffix(nBands, rowsPerBand)}"
    ensure(s, base) {
      val hist = Tables.documents(s, d).filter(col("doc_id") < split)
      val sp = TextDedup.signaturePlan(hist, nBands, rowsPerBand)
      Warehouse.writeSized(sp.bands, s"$base/bands")
      Warehouse.writeSized(sp.docSets, s"$base/sets")
      Warehouse.writeSized(hist.select(col("doc_id"), TextDedup.fpCol.as("fp"))
        .groupBy("fp").agg(min("doc_id").as("keep_id")), s"$base/keepers")
      // yesterday's pair graph + cluster labels — the state the
      // incremental advance starts from (derived from the written
      // band/set parquet, so the signature plan is not re-evaluated)
      derivePairsAndLabels(s, base, corpusCount(s, d))
      sp.caches.foreach(_.unpersist())
    }
    readHistory(s, base)
  }

  /** [[history]]'s derive step: band-bucket candidate self-join →
    * exact-Jaccard verification against the set table → CC labels,
    * written next to the inputs. */
  private def derivePairsAndLabels(s: SparkSession, base: String,
                                   nDocs: Long): Unit = {
    val hb = Warehouse.readParquet(s, s"$base/bands")
    val cands = hb.as("x").join(hb.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .distinct()
    Warehouse.writeSized(
      TextDedup.verifyPairs(cands, Warehouse.readParquet(s, s"$base/sets"), nDocs),
      s"$base/pairs")
    val edges = Graph.symmetrize(
      Warehouse.readParquet(s, s"$base/pairs"), "da", "db").persist()
    val (lbl, caches) = Graph.minLabelComponents(edges)
    Warehouse.writeSized(
      lbl.select(col("id").as("doc_id"), col("lbl").as("cluster_id")),
      s"$base/labels")
    (edges +: caches).foreach(_.unpersist())
  }

  private def readHistory(s: SparkSession, base: String): HistoryTables =
    HistoryTables(
      Warehouse.readParquet(s, s"$base/keepers"),
      Warehouse.readParquet(s, s"$base/bands"),
      Warehouse.readParquet(s, s"$base/sets"),
      Warehouse.readParquet(s, s"$base/pairs"),
      Warehouse.readParquet(s, s"$base/labels"))

  /** Stored BATCH-side signature tables — banded signatures, shingle
    * sets and fingerprints for documents in [split, batchEnd) — signed
    * ONCE per batch and shared by every consumer that probes history
    * with them (the stored-delta query and the incremental advance both
    * need exactly these); a nightly run then probes/commits WITHOUT
    * rescanning batch text.
    * The build is the only `documents` scan, batch-filtered and pushed
    * to parquet (BackboneAdvanceSpec pins both halves). */
  final case class BatchTables(bands: DataFrame, sets: DataFrame,
                               fps: DataFrame)

  def batchSignature(s: SparkSession, d: String, split: Long,
                     batchEnd: Long = Long.MaxValue,
                     nBands: Int = 4, rowsPerBand: Int = 2): BatchTables = {
    val base = s"${verRoot(s, d)}/batch${split}e$batchEnd" +
      gSuffix(nBands, rowsPerBand)
    ensure(s, base) {
      val batch = Tables.documents(s, d)
        .filter(col("doc_id") >= split && col("doc_id") < batchEnd)
      val sp = TextDedup.signaturePlan(batch, nBands, rowsPerBand)
      Warehouse.writeSized(sp.bands, s"$base/bands")
      Warehouse.writeSized(sp.docSets, s"$base/sets")
      Warehouse.writeSized(
        batch.select(col("doc_id"), TextDedup.fpCol.as("fp")), s"$base/fps")
      sp.caches.foreach(_.unpersist())
    }
    BatchTables(
      Warehouse.readParquet(s, s"$base/bands"),
      Warehouse.readParquet(s, s"$base/sets"),
      Warehouse.readParquet(s, s"$base/fps"))
  }

  /** Incrementally ADVANCE the stored backbone from history (docs below
    * the delta split) to the full corpus — the warehouse maintenance
    * step a daily curation run executes. Daily cost is sized by the
    * BATCH, never the history:
    *
    *  - batch signatures come from the [[batchSignature]] STORE, signed
    *    once per batch (|batch| text scans in the build, filter pushed
    *    to the parquet scan) and shared with the stored-delta probe —
    *    the advance plan itself rescans no document text at all;
    *  - new candidate pairs = intra-batch band self-join + batch bands
    *    probed against the STORED history band table (equi-join on the
    *    bucket key; history text/signatures are never recomputed);
    *  - verified new pairs union the STORED history pair table — a
    *    history×history candidate cannot newly arise (history bands are
    *    unchanged), so the merged table equals a full-corpus rebuild;
    *  - cluster labels update INCREMENTALLY: components touched by no
    *    new edge pass through from the stored label table verbatim;
    *    touched components are contracted to star edges
    *    (member → cluster_id) and re-solved together with the new edges
    *    — CC work is O(|new pairs| + |touched members|), independent of
    *    corpus size. Min-label ids survive contraction (every member,
    *    including the min, rides a star edge), so labels — not just the
    *    partition — match the full rebuild exactly.
    *
    * Returns (doc_id, cluster_id) for every doc in a near-dup pair —
    * bit-for-bit the full-rebuild [[labels]] (BackboneAdvanceSpec and
    * the shared `d_dedup_cluster` oracle both pin this). */
  def advance(s: SparkSession, d: String): DataFrame = {
    val (advanced, caches) = advancePlan(s, d)
    Materialize.drop(advanced, caches: _*)
  }

  /** The un-materialized advance plan plus its persisted intermediates —
    * exposed so BackboneAdvanceSpec can assert the plan property that IS
    * the contract (the only `documents` scan is the batch-filtered one)
    * before the lineage cut hides it, and so the specs can sweep the
    * history/batch split independently of the catalog's halfway default
    * (`splitOverride` < 0 → [[TextDedup.deltaSplit]]). */
  private[graft] def advancePlan(
      s: SparkSession, d: String,
      splitOverride: Long = -1L,
      histOverride: Option[HistoryTables] = None,
      nBands: Int = 4, rowsPerBand: Int = 2): (DataFrame, Seq[DataFrame]) = {
    val p = advanceParts(s, d, splitOverride, histOverride,
      nBands = nBands, rowsPerBand = rowsPerBand)
    (p.labels, p.caches)
  }

  /** Everything a committed advance produces, un-materialized:
    * the advanced label table plus the NEW-state ingredients
    * ([[advanceAndStore]] writes them as tomorrow's history). */
  private[graft] final case class AdvanceParts(
      labels: DataFrame, newPairs: DataFrame, batchBands: DataFrame,
      batchSets: DataFrame, batchFps: DataFrame, h: HistoryTables,
      caches: Seq[DataFrame])

  /** `histOverride` lets a caller advance FROM PREVIOUSLY COMMITTED
    * state (an [[advanceAndStore]] result) instead of a fresh-built
    * history, and `batchEnd` bounds the batch's upper doc_id — together
    * they express the real multi-day chain: day N's committed tables are
    * day N+1's history (BackboneAdvanceSpec's two-day test). */
  private def advanceParts(
      s: SparkSession, d: String,
      splitOverride: Long,
      histOverride: Option[HistoryTables],
      batchEnd: Long = Long.MaxValue,
      nBands: Int = 4, rowsPerBand: Int = 2): AdvanceParts = {
    val split =
      if (splitOverride >= 0) splitOverride else TextDedup.deltaSplit(s, d)
    val h = histOverride.getOrElse(history(s, d, split, nBands, rowsPerBand))
    val nDocs = corpusCount(s, d)
    // batch signatures come from the STORE (signed once per batch by
    // batchSignature — shared with d_dedup_delta_stored): the advance
    // plan itself never rescans batch text
    val bt = batchSignature(s, d, split, batchEnd, nBands, rowsPerBand)
    val intraCands = bt.bands.as("x").join(bt.bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .distinct()
    val intra = TextDedup.verifyPairs(intraCands, bt.sets, nDocs,
      ordered = false)
    val crossCands = bt.bands.as("x").join(h.bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey"))
      .select(col("y.doc_id").as("da"), col("x.doc_id").as("db"))
      .distinct()
    val cross = TextDedup.verifyPairs(crossCands, h.sets, nDocs,
      setsB = bt.sets, ordered = false)
    // new edges feed endpoint extraction AND the CC loop's every round —
    // persist, release after the caller's action
    val newPairs = cross.unionByName(intra).persist()
    val eps = newPairs.select(col("da").as("doc_id"))
      .unionByName(newPairs.select(col("db").as("doc_id"))).distinct()
    val touchedClusters = h.labels.join(eps, Seq("doc_id"))
      .select("cluster_id").distinct()
    val stars = h.labels.join(touchedClusters, Seq("cluster_id"))
      .select(col("doc_id").as("da"), col("cluster_id").as("db"))
    val edges = Graph.symmetrize(
        newPairs.select("da", "db").unionByName(stars), "da", "db")
      .persist()
    val (lbl, ccCaches) = Graph.minLabelComponents(edges)
    val untouched = h.labels
      .join(touchedClusters, Seq("cluster_id"), "left_anti")
      .select("doc_id", "cluster_id")
    val advanced = untouched.unionByName(
      lbl.select(col("id").as("doc_id"), col("lbl").as("cluster_id")))
    AdvanceParts(advanced, newPairs, bt.bands, bt.sets, bt.fps, h,
      (newPairs +: edges +: ccCaches))
  }

  /** COMMIT the advance: write the advanced state as tomorrow's stored
    * history — band/set/fingerprint-keeper/pair/label tables for the
    * full corpus, derived incrementally (history text untouched; only
    * the batch was scanned). The closure property that makes the daily
    * loop sound: the committed tables equal what a from-scratch
    * [[history]] build over the whole corpus would store, bit-for-bit
    * (BackboneAdvanceSpec pins all five) — so day N+1's delta/advance
    * reads state indistinguishable from a full rebuild, and drift can
    * never accumulate across days. Returns the committed tables. */
  private[graft] def advanceAndStore(
      s: SparkSession, d: String,
      splitOverride: Long = -1L,
      histOverride: Option[HistoryTables] = None,
      batchEnd: Long = Long.MaxValue): HistoryTables = {
    val split =
      if (splitOverride >= 0) splitOverride else TextDedup.deltaSplit(s, d)
    // the memo key must distinguish WHICH history the advance started
    // from — two calls with the same split/batchEnd but different
    // histOverride tables are different commits (instanceId keys the
    // in-JVM instance stably; a miss rebuilds, which is safe — a stale
    // hit would silently return day-1 state)
    val histId = histOverride
      .map(h => s"h${instanceId(h)}").getOrElse("fresh")
    // histOverride commits are instance-keyed → per-JVM subtree; the
    // "fresh" (stored-history) commit is corpus-token-derived and stays
    // warehouse-reusable across JVMs (the nightly contract) — resolved
    // via verRoot so the commit itself stamps the version sidecar
    val base =
      if (histOverride.isDefined)
        s"$instanceRoot/${token(s, d)}/adv${split}e${batchEnd}_$histId"
      else s"${verRoot(s, d)}/adv${split}e${batchEnd}_$histId"
    val committed = ensure(s, base) {
      val p = advanceParts(s, d, split, histOverride, batchEnd)
      Warehouse.writeSized(p.h.bands.unionByName(p.batchBands),
        s"$base/bands")
      Warehouse.writeSized(p.h.sets.unionByName(p.batchSets),
        s"$base/sets")
      // merged keeper: min over {history keeper} ∪ {batch members} per
      // fingerprint — the history keeper already is the history min
      Warehouse.writeSized(p.h.keepers.select(col("fp"), col("keep_id").as("doc_id"))
        .unionByName(p.batchFps.select(col("fp"), col("doc_id")))
        .groupBy("fp").agg(min("doc_id").as("keep_id")), s"$base/keepers")
      Warehouse.writeSized(p.h.pairs.unionByName(p.newPairs),
        s"$base/pairs")
      Warehouse.writeSized(p.labels, s"$base/labels")
      p.caches.foreach(_.unpersist())
    }
    // opt-in keep-K prune ONLY when this call committed — serving-path
    // callers that hit the memo must not pay a warehouse scan
    if (committed) Warehouse.autoGc(s)
    readHistory(s, base)
  }
}
