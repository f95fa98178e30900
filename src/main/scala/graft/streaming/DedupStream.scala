package graft.streaming

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap

import scala.concurrent.duration.FiniteDuration

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession, functions => F}
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.util.LongAccumulator

case class DocEvent(doc_id: Long, text: String)

/** One emitted row per (unordered) near-dup candidate pair discovered in
  * the micro-batch where its second member arrived; `est_jaccard` is the
  * standard minhash estimator (agreeing hashes / 8). The same pair can
  * surface from more than one band — consumers `distinct` on (da, db),
  * exactly like the batch pipeline's candidate stage. */
case class NearDupPair(da: Long, db: Long, est_jaccard: Double)

/** First-seen-wins exact-dedup verdict for each arriving document. */
case class ExactDecision(doc_id: Long, keep_id: Long, is_dup: Boolean)

/** Quality-aware keeper verdict (streaming keep-best): the keeper-so-far
  * for the arriving document's duplicate group at processing time — the
  * ingest-time decision log. Final attribution after a better copy
  * arrives later lives in state; redelivering a doc re-emits its CURRENT
  * verdict, which is also the supported state-readout protocol (see
  * DedupStreamSpec's probe wave). */
case class KeepBestDecision(doc_id: Long, keep_id: Long, quality: Double,
                            kept: Boolean)

private[streaming] case class BandRow(band_key: String, doc_id: Long,
                                      sig: Seq[String])
private[streaming] case class BucketState(members: Seq[(Long, Seq[String])])
private[streaming] case class FpState(keep_id: Long)
private[streaming] case class KeepState(keep_id: Long, quality: Double)

/** Ingest-time deduplication (the streaming form of `d_dedup_exact` /
  * `d_dedup_minhash`): verdicts as documents ARRIVE, instead of a batch
  * pass over the corpus at rest. At 100 TB this is the operator that
  * keeps a crawl's working set clean without re-scanning history — state
  * carries only fingerprints and band signatures, never text.
  *
  * Hash scheme = the batch pipeline's, bit for bit (seeded md5-hex-16
  * minhashes over word bigrams, 4 bands × 2 rows — `TextDedup
  * .minhashPairsPlan`; DedupStreamSpec pins streaming band keys ==
  * batch `bands` rows). Near-dup verification differs by design: batch
  * verifies candidates with exact Jaccard over shingle sets; the stream
  * estimates Jaccard from the 8 stored hashes (keeping state O(1) per
  * doc per band — sets would grow with text size). At 8 hashes the
  * estimator's granularity is 1/8, so `minAgree` is the knob: 4/8
  * ≈ the batch 0.5 threshold.
  *
  * State boundedness:
  *  - exact: one long per distinct fingerprint (the keeper id);
  *  - near-dup: per band bucket, member (id, 8 hashes) tuples — bucket
  *    occupancy tracks dup-group size plus the collision floor
  *    (measured ~1.5 pairs/doc, SCALE.md), NOT corpus size. `maxBucket`
  *    hard-caps a pathological boilerplate bucket: beyond it new members
  *    are dropped from state (no further emission from that bucket) —
  *    at that occupancy the bucket is boilerplate, and the batch
  *    cascade's exact-dedup stage is the right tool for it.
  * At-least-once inputs are safe: near-dup recognizes a redelivered
  * doc_id in state and neither re-emits nor double-inserts; exact
  * re-emits the SAME verdict (idempotent for consumers — state stays one
  * long per fingerprint instead of tracking every seen id).
  *
  * Total state grows with DISTINCT corpus content (inherent to dedup:
  * forgetting a fingerprint re-admits its duplicates). It is sharded by
  * group key across partitions; at corpus scale run it on the RocksDB
  * state store (`spark.sql.streaming.stateStore.providerClass` =
  * RocksDBStateStoreProvider) so state spills off-heap, and size
  * shuffle partitions to the key cardinality, not the session default.
  */
/** Minhash band geometry: `nBands` bands of `rowsPerBand` hashes over
  * nBands*rowsPerBand seeded minhashes, in the batch plan's stride
  * layout. [[BandGeometry.Default]] (4x2) is the catalog operating
  * point; [[BandGeometry.R4]] (4x4, 16 hashes) is the floor-suppressing
  * geometry `d_dedup_delta_r4` / SCALE.md prescribe once history is
  * large — parameterizing the stream (VERDICT r11 #4) lets the
  * streaming history writer maintain EITHER geometry's tables, matching
  * whatever the batch delta probes. */
final case class BandGeometry(nBands: Int, rowsPerBand: Int) {
  require(nBands >= 1 && rowsPerBand >= 1, s"bad geometry ${nBands}x$rowsPerBand")
  val nHashes: Int = nBands * rowsPerBand
}

object BandGeometry {
  val Default: BandGeometry = BandGeometry(4, 2)
  val R4: BandGeometry = BandGeometry(4, 4)
}

object DedupStream {

  // MessageDigest is not thread-safe and getInstance is a per-call JCA
  // lookup — one reused instance per executor thread instead
  private val mdLocal: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))
  private val hexChars = "0123456789abcdef".toCharArray

  /** Lowercase hex of the first `nBytes` digest bytes — identical to the
    * matching prefix of the batch plan's `md5()` hex (DedupStreamSpec
    * pins band-key equality bit-for-bit). Table-driven: the former
    * per-byte `"%02x".format` ran the whole Formatter machinery 32
    * times per hash on the memo-miss path. */
  private def md5Hex(s: String, nBytes: Int = 16): String = {
    val md = mdLocal.get(); md.reset()
    val d = md.digest(s.getBytes(StandardCharsets.UTF_8))
    val out = new Array[Char](nBytes * 2)
    var i = 0
    while (i < nBytes) {
      out(2 * i) = hexChars((d(i) >> 4) & 0xf)
      out(2 * i + 1) = hexChars(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Per-executor memo of the 8 seeded hashes per DISTINCT bigram — the
    * streaming analog of the batch plan's broadcast alphabet dim
    * (`bgHash`): real text is Zipf-distributed, so the hot alphabet is
    * far smaller than the token stream and hashes amortize to ~one
    * compute per distinct hot bigram. Capped at 2^16 entries (≈ 50
    * MB/executor). At the cap the memo CLEARS and
    * refills — under drift or an oversized alphabet the hot set
    * re-establishes in one pass, where the previous fill-once policy
    * degraded to a permanent miss for every late-arriving bigram
    * (measured as the x1→x4 throughput cliff in SCALE.md). Correctness
    * never depends on a hit. */
  private val bgMemoCap = 1 << 16
  private val bgMemo = new ConcurrentHashMap[String, Array[String]]()
  // memo key carries the hash count: a JVM serving both geometries must
  // not hand a 4x2 stream an 8-hash array when 16 were asked for
  private def bigramHashes(bg: String, nHashes: Int): Array[String] = {
    val key = s"$nHashes|$bg"
    val hit = bgMemo.get(key)
    if (hit != null) return hit
    val hs = Array.tabulate(nHashes)(i => md5Hex(s"$i|$bg", 8))
    if (bgMemo.size >= bgMemoCap) bgMemo.clear()
    bgMemo.putIfAbsent(key, hs)
    hs
  }

  /** Seeded minhash signature over word bigrams — same tokenization and
    * seeded-hash layout as the batch plan (`rawTokens` + `bgHash`);
    * empty for docs with < 2 words (absent from batch bands too). */
  private[graft] def signature(text: String,
      g: BandGeometry = BandGeometry.Default): Seq[String] = {
    // limit -1: Spark's split() keeps trailing empty tokens; Java's
    // default drops them — "a b " must tokenize identically on both
    // sides or its band keys diverge from the batch table
    val w = text.split(" ", -1)
    if (w.length < 2) return Seq.empty
    val bgs = (0 until w.length - 1).map(i => w(i) + " " + w(i + 1)).distinct
    val mins = Array.fill(g.nHashes)("￿")
    bgs.foreach { bg =>
      val hs = bigramHashes(bg, g.nHashes)
      var i = 0
      while (i < g.nHashes) {
        if (hs(i) < mins(i)) mins(i) = hs(i)
        i += 1
      }
    }
    mins.toSeq
  }

  /** Band keys in the batch plan's stride layout: band b concatenates
    * hashes {b, b + nBands, b + 2*nBands, ...}. */
  private[graft] def bandKeys(sig: Seq[String],
      g: BandGeometry = BandGeometry.Default): Seq[(Int, String)] =
    (0 until g.nBands).map(b =>
      b -> (0 until g.rowsPerBand).map(r => sig(b + r * g.nBands)).mkString)

  private[graft] def estJaccard(a: Seq[String], b: Seq[String]): Double =
    a.zip(b).count { case (x, y) => x == y }.toDouble / a.length

  private def bandRows(d: DocEvent, g: BandGeometry): Seq[BandRow] = {
    val sig = signature(d.text, g)
    if (sig.isEmpty) Seq.empty
    else bandKeys(sig, g).map { case (b, k) => BandRow(s"$b|$k", d.doc_id, sig) }
  }

  /** Per-SparkContext recall-loss counter: incremented once per (band,
    * doc) DROPPED because its bucket hit `maxBucket` — the signal ADVICE
    * r10 asked for, so operators SEE cap-induced recall loss (a full
    * bucket silently reads as "no near-dups" downstream) instead of
    * inferring it. A doc counted here may still be admitted by its
    * other bands; 4 increments for one doc_id mean it is fully dark. */
  private val overflowAccs =
    new ConcurrentHashMap[SparkContext, LongAccumulator]()
  def bucketOverflows(sc: SparkContext): LongAccumulator =
    overflowAccs.computeIfAbsent(sc,
      c => c.longAccumulator("graft.dedupStream.bucketOverflow"))

  private def bucketUpdate(minAgree: Int, maxBucket: Int,
                           ttl: Option[FiniteDuration],
                           overflow: LongAccumulator)(
      key: String, rows: Iterator[BandRow],
      state: GroupState[BucketState]): Iterator[NearDupPair] = {
    // TTL expiry: drop the bucket wholesale. Semantics are documented
    // recall-trading: a duplicate arriving after the TTL re-admits as
    // "new" (and re-seeds the bucket) — inherent to any dedup eviction.
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    var members = state.getOption.map(_.members).getOrElse(Seq.empty)
    val out = Seq.newBuilder[NearDupPair]
    // doc_id order inside the batch: emission independent of
    // partition-internal row order (determinism under replay)
    val arrivals = rows.toSeq
    arrivals.sortBy(_.doc_id).foreach { r =>
      if (!members.exists(_._1 == r.doc_id)) {
        if (members.size < maxBucket) {
          members.foreach { case (mid, msig) =>
            val est = estJaccard(msig, r.sig)
            if (est * msig.length >= minAgree)
              out += NearDupPair(math.min(mid, r.doc_id),
                math.max(mid, r.doc_id), est)
          }
          members = members :+ (r.doc_id -> r.sig)
        } else overflow.add(1)
      }
    }
    state.update(BucketState(members))
    // processing-time TTL, refreshed on every touch: a bucket expires
    // only after `ttl` of NO traffic, bounding total state by arrival
    // recency instead of all-time distinct content. NOT armed on the
    // history-seeding invocation (batch 1 calls the function with no
    // rows for initial-state keys): seeded history is the authoritative
    // dedup base — idle-evicting it would turn known duplicates into
    // false "new" verdicts mid-stream. A seeded bucket joins the TTL
    // regime on first touch (see nearDupPairsWithHistory's scaladoc).
    if (arrivals.nonEmpty) ttl.foreach(t => state.setTimeoutDuration(t.toMillis))
    out.result().iterator
  }

  /** Streaming near-dup candidate pairs. `minAgree` = minimum agreeing
    * hashes of `geometry.nHashes` (-1, the default, resolves to
    * nHashes/2 ≈ jaccard 0.5 at ANY geometry — a fixed count would
    * silently halve the admit threshold when a caller switches to the
    * 16-hash R4 geometry). `ttl` (None = keep state forever)
    * trades recall for bounded state: buckets idle for longer than the
    * TTL are evicted, so a later duplicate of an evicted doc reads as
    * new — the knob a 100 TB ingest runs with, sized to the horizon
    * inside which duplicates actually arrive. Cap overflow is counted
    * in [[bucketOverflows]]. */
  def nearDupPairs(docs: Dataset[DocEvent], minAgree: Int = -1,
                   maxBucket: Int = 1024,
                   ttl: Option[FiniteDuration] = None,
                   geometry: BandGeometry = BandGeometry.Default)
      : Dataset[NearDupPair] = {
    import docs.sparkSession.implicits._
    val agree = if (minAgree < 0) geometry.nHashes / 2 else minAgree
    val overflow = bucketOverflows(docs.sparkSession.sparkContext)
    val timeout = if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
                  else GroupStateTimeout.NoTimeout
    docs.flatMap(d => bandRows(d, geometry))
      .groupByKey(_.band_key)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(
        bucketUpdate(agree, maxBucket, ttl, overflow))
  }

  /** [[nearDupPairs]] with its bucket state BOOTSTRAPPED from an already-
    * deduplicated history corpus — the streaming half of the
    * `d_dedup_delta` contract: new documents are checked against
    * accumulated history from the first micro-batch on, without
    * re-streaming history. Seeding emits nothing (history is settled;
    * only arriving docs produce verdicts), and the daily state build
    * cost is |history| signatures — in production this reads the stored
    * signature table the batch pipeline maintains.
    *
    * TTL scope (deliberate, spec-pinned): `ttl` bounds STREAM-accreted
    * and stream-touched state only. Seeded history buckets that receive
    * no traffic persist — the seeding invocation (batch 1, no rows)
    * deliberately skips arming the timeout, because history is the
    * authoritative dedup base and idle-evicting it would silently
    * un-know settled documents (an idle history doc is still a
    * duplicate source — eviction would yield false "new" verdicts, a
    * correctness hazard, not just recall). State bound under TTL =
    * |history| + O(buckets touched within the TTL horizon); to shrink
    * the history term, compact the history corpus itself (the batch
    * keep-best pass), don't wait for eviction. A seeded bucket once
    * TOUCHED joins the TTL regime like any other. */
  def nearDupPairsWithHistory(docs: Dataset[DocEvent],
                              history: Dataset[DocEvent], minAgree: Int = -1,
                              maxBucket: Int = 1024,
                              ttl: Option[FiniteDuration] = None,
                              geometry: BandGeometry = BandGeometry.Default)
      : Dataset[NearDupPair] = {
    import docs.sparkSession.implicits._
    val agree = if (minAgree < 0) geometry.nHashes / 2 else minAgree
    val overflow = bucketOverflows(docs.sparkSession.sparkContext)
    val timeout = if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
                  else GroupStateTimeout.NoTimeout
    val initial = history.flatMap(d => bandRows(d, geometry))
      .groupByKey(_.band_key)
      .mapGroups { (k, rs) =>
        k -> BucketState(rs.toSeq.sortBy(_.doc_id)
          .map(r => r.doc_id -> r.sig).distinct.take(maxBucket))
      }
      .groupByKey(_._1).mapValues(_._2)
    docs.flatMap(d => bandRows(d, geometry))
      .groupByKey(_.band_key)
      .flatMapGroupsWithState(OutputMode.Append, timeout,
        initial)(bucketUpdate(agree, maxBucket, ttl, overflow))
  }

  private val exactUpdate =
    (_: String, rows: Iterator[(String, Long)], state: GroupState[FpState]) => {
      val ids = rows.map(_._2).toSeq.sorted
      val keep = state.getOption.map(_.keep_id).getOrElse(ids.head)
      if (!state.exists) state.update(FpState(keep))
      ids.distinct.map(id => ExactDecision(id, keep, id != keep)).iterator
    }

  /** Streaming exact-dedup verdicts: keeper = first doc seen per
    * fingerprint (== the batch min-doc_id keeper when the stream arrives
    * in doc_id order; the general difference is documented — a stream
    * has no "min over the future"). */
  def exactDecisions(docs: Dataset[DocEvent]): Dataset[ExactDecision] = {
    import docs.sparkSession.implicits._
    docs.map(d => (md5Hex(d.text.toLowerCase(java.util.Locale.ROOT)), d.doc_id))
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        exactUpdate)
  }

  /** uniq_ratio quality, the batch keep-best policy's score (share of
    * distinct words, rounded to 6 places with the same HALF_UP rule as
    * Spark's round()). */
  private[graft] def uniqRatio(text: String): Double = {
    val w = text.split(" ", -1) // keep trailing empties — Spark split parity
    BigDecimal(w.distinct.length.toDouble / w.length)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  private val keepBestUpdate =
    (_: String, rows: Iterator[(String, Long, Double)],
     state: GroupState[KeepState]) => {
      // doc_id order inside the batch: determinism under replay
      val arrivals = rows.toSeq.sortBy(_._2)
      var cur = state.getOption
      val out = arrivals.map { case (_, id, q) =>
        val better = cur.forall(c =>
          q > c.quality || (q == c.quality && id < c.keep_id))
        if (better) cur = Some(KeepState(id, q))
        val c = cur.get
        KeepBestDecision(id, c.keep_id, q, c.keep_id == id)
      }
      cur.foreach(state.update)
      out.iterator
    }

  /** Streaming KEEP-BEST — the `d_dedup_keep_best` policy at ingest
    * time, per exact-duplicate group: state keeps the best-so-far member
    * (max uniq_ratio, ties to the lowest doc_id) per fingerprint, and
    * every arriving doc gets the keeper-so-far verdict. After a full
    * corpus replay the state keeper per group equals the batch
    * per-fingerprint keep-best exactly (order-independent: "best of all
    * seen" is associative). Near-dup CLUSTER-level keep-best at ingest
    * additionally needs the nightly cluster labels the batch backbone
    * maintains (a cluster is a CC fixpoint, not a streamable per-key
    * fold) — that composition is the delta contract's job, not this
    * operator's. */
  def keepBestDecisions(docs: Dataset[DocEvent]): Dataset[KeepBestDecision] = {
    import docs.sparkSession.implicits._
    docs.map(d => (md5Hex(d.text.toLowerCase(java.util.Locale.ROOT)), d.doc_id, uniqRatio(d.text)))
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        keepBestUpdate)
  }

  /** [[keepBestDecisions]] with the per-fingerprint best BOOTSTRAPPED
    * from a settled history corpus (max uniq_ratio, ties to the lowest
    * doc_id — the batch keep-best policy): an arriving duplicate of a
    * high-quality history copy is marked non-keeper from its first
    * micro-batch, and a better batch copy takes the keeper over —
    * exactly the keep-best delta contract at ingest time. */
  def keepBestDecisionsWithHistory(
      docs: Dataset[DocEvent],
      history: Dataset[DocEvent]): Dataset[KeepBestDecision] = {
    import docs.sparkSession.implicits._
    val initial = history
      .map(d => (md5Hex(d.text.toLowerCase(java.util.Locale.ROOT)), d.doc_id, uniqRatio(d.text)))
      .groupByKey(_._1)
      .mapGroups { (fp, rs) =>
        val best = rs.minBy { case (_, id, q) => (-q, id) }
        fp -> KeepState(best._2, best._3)
      }
      .groupByKey(_._1).mapValues(_._2)
    docs.map(d => (md5Hex(d.text.toLowerCase(java.util.Locale.ROOT)), d.doc_id, uniqRatio(d.text)))
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout,
        initial)(keepBestUpdate)
  }

  /** [[exactDecisions]] with the fingerprint→keeper table BOOTSTRAPPED
    * from a settled history corpus (min doc_id per fingerprint, the
    * batch `d_dedup_exact` keeper): arriving docs that duplicate history
    * are flagged against the HISTORY keeper from the first micro-batch. */
  def exactDecisionsWithHistory(docs: Dataset[DocEvent],
                                history: Dataset[DocEvent]): Dataset[ExactDecision] = {
    import docs.sparkSession.implicits._
    val initial = history.map(d => (md5Hex(d.text.toLowerCase(java.util.Locale.ROOT)), d.doc_id))
      .groupByKey(_._1)
      .mapGroups((fp, rs) => fp -> FpState(rs.map(_._2).min))
      .groupByKey(_._1).mapValues(_._2)
    docs.map(d => (md5Hex(d.text.toLowerCase(java.util.Locale.ROOT)), d.doc_id))
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout,
        initial)(exactUpdate)
  }

  /** Streaming HISTORY WRITER — the ingest half of the warehouse loop
    * the backbone documents: as documents arrive, persist the raw
    * fingerprint / banded-signature / shingle-set tables that the
    * stored-delta probe (`d_dedup_delta_stored`) and the incremental
    * advance (`Backbone.advance`) consume. The batch pipeline never
    * re-scans ingested text: the stream already paid that scan once.
    *
    * Layout: `baseDir/{fps,bands,sets}/batch=<id>/…` — one overwritten
    * partition directory per micro-batch, so a replayed batch (the
    * at-least-once case foreachBatch exposes) rewrites its own partition
    * instead of appending duplicates; readers get exactly-once tables by
    * construction. Derivations (signature plan, fingerprint column) are
    * the batch pipeline's own, so stream-written tables equal
    * `Backbone.history`'s bit-for-bit (HistoryWriterSpec pins all
    * three). Keepers/pairs/labels are AGGREGATED state — derived at
    * read/compaction time ([[readHistoryTables]], `Backbone.advance`),
    * not appended by the stream. */
  private[graft] def writeHistoryBatch(batch: DataFrame, batchId: Long,
                                       baseDir: String,
                                       g: BandGeometry = BandGeometry.Default)
      : Unit = {
    val sp = graft.pipeline.TextDedup.signaturePlan(
      batch, nBands = g.nBands, rowsPerBand = g.rowsPerBand)
    sp.bands.write.mode("overwrite").parquet(s"$baseDir/bands/batch=$batchId")
    sp.docSets.write.mode("overwrite").parquet(s"$baseDir/sets/batch=$batchId")
    batch.select(F.col("doc_id"), graft.pipeline.TextDedup.fpCol.as("fp"))
      .write.mode("overwrite").parquet(s"$baseDir/fps/batch=$batchId")
    sp.caches.foreach(_.unpersist())
  }

  /** The streaming query writer for [[writeHistoryBatch]]; caller sets
    * checkpointLocation/trigger and starts it. */
  def historyWriter(docs: Dataset[DocEvent], baseDir: String,
                    geometry: BandGeometry = BandGeometry.Default)
      : DataStreamWriter[DocEvent] =
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[DocEvent], batchId: Long) =>
        writeHistoryBatch(batch.toDF(), batchId, baseDir, geometry)
      }

  /** Read stream-written history back as the probe-ready tables
    * (keepers derived from raw fingerprints; `batch` partition column
    * dropped — it is write-side bookkeeping, not data). */
  def readHistoryTables(s: SparkSession, baseDir: String):
      (DataFrame, DataFrame, DataFrame) = {
    val fps = s.read.parquet(s"$baseDir/fps").drop("batch")
    val keepers = fps.groupBy("fp").agg(F.min("doc_id").as("keep_id"))
    val bands = s.read.parquet(s"$baseDir/bands").drop("batch")
    val sets = s.read.parquet(s"$baseDir/sets").drop("batch")
    (keepers, bands, sets)
  }
}
