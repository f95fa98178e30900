package graft.pipeline

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The EMBEDDING-side stored backbone — the vector twin of the text
  * [[Backbone]]: persisted sign-LSH bucket inverted lists, IVF cell
  * assignments, PQ codes and the trained quantizer itself, built once
  * per corpus version and maintained INCREMENTALLY as embedding batches
  * arrive. Mirrors the reference's materialized-state discipline the
  * text side already implements (stored signature tables probed by
  * batch-only work — cf. `/root/reference/src/handler.rs:140-156`'s
  * ingest-then-query split), re-expressed for vectors.
  *
  * Production shape at 100 TB: an ANN/semantic-dedup index is BUILT
  * once (quantizer trained on a bounded sample, corpus encoded in one
  * scan) and then GROWS — a nightly embedding batch is assigned to
  * buckets/cells/codes with the STORED quantizer and appended; history
  * vectors are never re-encoded and never rescanned. Cluster labels for
  * semantic dedup advance incrementally exactly like the text side:
  * batch buckets probe the stored bucket table for cross candidates,
  * new verified edges union the stored pair table, and only TOUCHED
  * components re-solve (star contraction), so daily CC work is
  * O(|batch| + touched), independent of history size.
  *
  * Closure properties (spec-pinned by VecBackboneSpec):
  *  - sign-LSH side (buckets/pairs/labels): committed advance state ==
  *    a from-scratch full build, bit-for-bit, UNCONDITIONALLY — the
  *    bucket of a vector is a pure per-row function (axis signs), so
  *    the full-corpus bucket join decomposes exactly into
  *    history-history (stored) + history-batch + batch-batch pairs.
  *  - quantized side (cells/codes): the same equality holds UNDER THE
  *    STORED QUANTIZER — encode is a pure per-row function of
  *    (vector, centroids), so incremental union == full re-encode with
  *    the same centroids. The quantizer itself is deliberately PINNED
  *    at training time (the FAISS-style contract: train once, add
  *    forever); retraining on every batch would silently re-shuffle
  *    every stored code.
  *
  * Storage discipline is [[Warehouse]]'s: `graft.backbone.dir` roots a
  * cross-JVM warehouse keyed by the embeddings parquet's file-metadata
  * version; default is per-JVM scratch.
  */
private[graft] object VecBackbone {

  /** Catalog operating point — matches d_dedup_semantic / d_ann_lsh
    * (axis-sign planes reproduce in the DuckDB oracle; a production
    * corpus raises planes with seeded random hyperplanes, 2^b ≈ n/30). */
  val Planes = 4
  val Threshold = 0.3

  /** Banded operating point for d_ann_lsh_banded / d_ann_recall_banded:
    * 2 axis bands of [[Planes]] dims each (dims 1–8 — oracle-
    * reproducible). Production raises both knobs with seeded random
    * hyperplanes: r with 2^r ≈ n/30 per band, b the smallest count with
    * 1 − (1 − ρ)^b ≥ the target recall for a measured single-band
    * recall ρ. */
  val Bands = 2

  /** The catalog's pinned banded geometry (axis b=2, r=4). Every stored
    * banded table defaults to it; production indexes pass a seeded
    * [[BandedGeom]] instead and the geometry rides the store from then
    * on (sidecar + [[VecBandedHistory.geom]]), never a JVM flag. */
  val CatalogGeom: BandedGeom = BandedGeom.axis(Bands, Planes)

  /** Persist a banded geometry next to the postings it produced — the
    * quantizer-sidecar discipline for LSH planes: (bands, planes, seed,
    * dims) fully determines the plane matrix ([[Similarity.bandedPlanes]]),
    * so the sidecar IS the index metadata a fresh JVM needs to probe
    * stored buckets bit-identically. */
  private[graft] def writeGeomSidecar(s: SparkSession, dir: String,
                                      geom: BandedGeom): Unit = {
    import s.implicits._
    Seq((geom.bands, geom.planes, geom.seed.getOrElse(-1L),
        geom.seed.isDefined, geom.dims))
      .toDF("bands", "planes", "seed", "seeded", "dims")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/banded_geom")
  }

  /** Read a geometry sidecar back; None when the dir predates the
    * sidecar (pre-r15 layouts were always the axis catalog geometry).
    * Memoized per (session, path): every sidecar lives in an
    * ensure-guarded warehouse store and never changes after the build
    * marker. */
  private[graft] def readGeomSidecar(s: SparkSession,
                                     dir: String): Option[BandedGeom] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/banded_geom")
    Warehouse.sidecarValue(s, s"geom:$p") {
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) None
      else {
        val r = Warehouse.readParquet(s, p.toString).head
        Some(BandedGeom(r.getAs[Int]("bands"), r.getAs[Int]("planes"),
          if (r.getAs[Boolean]("seeded")) Some(r.getAs[Long]("seed")) else None,
          r.getAs[Int]("dims")))
      }
    }
  }

  /** IVF/PQ operating point — matches d_ann_ivf / d_ann_ivfpq. */
  val NCells = 8
  val M = 4
  val K = 16

  private def token(s: SparkSession, d: String): String =
    Warehouse.token(s, d, "embeddings.parquet")
  private def root(s: SparkSession, d: String): String =
    Warehouse.versionDir(s, d, "embeddings.parquet", "vec_")

  private val counts = scala.collection.mutable.Map[String, Long]()
  def vecCount(s: SparkSession, d: String): Long = synchronized {
    counts.getOrElseUpdate(token(s, d), Tables.embeddings(s, d).count())
  }

  /** History/batch split for the delta + advance contracts — lower half
    * of the corpus by vec_id, same convention as the text side. */
  private[graft] def deltaSplit(s: SparkSession, d: String): Long =
    vecCount(s, d) / 2

  /** TEST HOOK — see [[Backbone.resetMemoForTest]]. */
  private[graft] def resetMemoForTest(): Unit = synchronized {
    Warehouse.resetBuiltForTest(); counts.clear()
  }

  /** Rounded cosine between two stored vector columns — THE verify
    * predicate, shared by history build, delta probe and advance so the
    * three can never disagree on an edge. */
  private def cosCol(xa: String, xb: String, na: String, nb: String): Column =
    round(expr(s"float_dot($xa, $xb)") / (col(na) * col(nb)), 4)

  // ---------------------------------------------------------------------
  // Trained-once quantizer, PERSISTED (the index artifact a new JVM
  // loads instead of refitting)
  // ---------------------------------------------------------------------

  /** The pinned trained quantizer: coarse IVF centers + M PQ codebooks
    * — the index artifact ingest writers and batch encoders share. */
  final case class Quantizer(coarse: Array[Array[Double]],
                             books: Array[Array[Array[Double]]])

  /** The quantizer as a stored parquet table (kind, idx, center) —
    * rows: "ivf" × NCells, "pq$b" × K. The first build trains
    * driver-side on the bounded seeded sample (same fits, same memo
    * keys as d_ann_ivf/d_ann_ivfpq — one training per corpus version,
    * shared); every later call — INCLUDING in a fresh JVM — reads the
    * table back and seeds the in-JVM fit memo, so the ANN queries skip
    * refitting too. Quantizer bytes are tiny (NCells+M·K centers); the
    * collect is index-metadata-scale. */
  def quantizer(s: SparkSession, d: String): Quantizer = {
    import s.implicits._
    Similarity.register(s)
    val path = s"${root(s, d)}/quantizer"
    val ck = Similarity.corpusKey(s, d)
    Warehouse.ensure(s, path) {
      val e0 = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val sample = Similarity.sampleCached(ck, e0)
      val sub = sample.head.length / M
      val coarse = Similarity.fitCached(s"$ck|ivf", NCells, 10, 42)(sample)
      val rows: Seq[(String, Int, Seq[Double])] =
        coarse.toSeq.zipWithIndex.map { case (c, i) => ("ivf", i, c.toSeq) } ++
          (0 until M).flatMap { b =>
            Similarity.fitCached(s"$ck|pq$b", K, 10, 42 + b)(
                sample.map(_.slice(b * sub, (b + 1) * sub)))
              .toSeq.zipWithIndex.map { case (c, i) => (s"pq$b", i, c.toSeq) }
          }
      rows.toDF("kind", "idx", "center")
        .coalesce(1).write.mode("overwrite").parquet(path)
    }
    val rows = Warehouse.sidecarValue(s, s"rows:$path")(
      Warehouse.readParquet(s, path).collect()) // NCells + M*K tiny rows
    def centersOf(kind: String): Array[Array[Double]] =
      rows.filter(_.getString(0) == kind).sortBy(_.getInt(1))
        .map(_.getSeq[Double](2).toArray)
    val coarse = centersOf("ivf")
    val books = Array.tabulate(M)(b => centersOf(s"pq$b"))
    Similarity.seedFit(s"$ck|ivf", NCells, 10, 42, coarse)
    (0 until M).foreach(b =>
      Similarity.seedFit(s"$ck|pq$b", K, 10, 42 + b, books(b)))
    Quantizer(coarse, books)
  }

  /** The coarse quantizer AS OF vec_id < upTo — "yesterday's trained-once
    * artifact": fitted on the deterministic seeded sample of the history
    * slice and persisted like [[quantizer]] (its own memo keys, so it
    * never clobbers the live fit). [[quantizerDrift]] compares it
    * against the current-corpus fit; `coarseAt(corpus end)` is
    * bit-identical to `quantizer(s, d).coarse` (same sample, same
    * seeded fit — the zero-drift law VecBackboneSpec pins). */
  private[graft] def coarseAt(s: SparkSession, d: String,
                              upTo: Long): Array[Array[Double]] = {
    import s.implicits._
    Similarity.register(s)
    val path = s"${root(s, d)}/quantizer_h$upTo"
    val ck = Similarity.corpusKey(s, d)
    Warehouse.ensure(s, path) {
      val e0 = Tables.embeddings(s, d).filter(col("vec_id") < upTo)
        .select(col("vec_id"), col("embedding"))
      val sample = Similarity.sampleCached(s"$ck|h$upTo", e0)
      val coarse = Similarity.fitCached(s"$ck|h$upTo|ivf", NCells, 10, 42)(sample)
      coarse.toSeq.zipWithIndex.map { case (c, i) => ("ivf", i, c.toSeq) }
        .toDF("kind", "idx", "center")
        .coalesce(1).write.mode("overwrite").parquet(path)
    }
    val rows = Warehouse.sidecarValue(s, s"rows:$path")(
      Warehouse.readParquet(s, path).collect()) // NCells tiny rows
    val coarse = rows.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray)
    Similarity.seedFit(s"$ck|h$upTo|ivf", NCells, 10, 42, coarse)
    coarse
  }

  /** PRODUCTION quantizer-drift audit (VERDICT r14 #5) — the FAISS
    * "re-train the coarse quantizer" signal over the REAL MiniKMeans
    * artifacts: pinned = the quantizer as trained when only
    * vec_id < split existed ([[coarseAt]] — the trained-once contract's
    * historical artifact), refit = the current-corpus fit
    * ([[quantizer]]'s own stored coarse centers). Vectors come from the
    * STORED code table — the audit reads committed state, it never
    * rescans embeddings. Report shape is [[Similarity.driftReport]]'s
    * (cell, n, n_moved, moved_frac, center_shift): a nonzero
    * moved_frac/center_shift tail is the operator's retrain signal.
    * Laws (VecBackboneSpec): split = corpus end ⇒ identical sample ⇒
    * zero drift everywhere; a planted distribution shift in the batch
    * half ⇒ nonzero drift. Cost: two sample-bounded driver fits + ONE
    * linear scan of the stored vectors (assignment projection) + an
    * NCells×dims aggregate — no shuffle beyond the 8-row report. The
    * catalog's oracled twin at the deterministic operating point is
    * `d_ann_ivf_drift`. */
  def quantizerDrift(s: SparkSession, d: String,
                     splitOverride: Long = -1L): DataFrame = {
    Similarity.register(s)
    val split = if (splitOverride >= 0) splitOverride else deltaSplit(s, d)
    val c1 = coarseAt(s, d, split)
    val c2 = quantizer(s, d).coarse
    val vecs = codes(s, d).select(col("vec_id"), col("v"))
    val a12 = Similarity.withCellDbl(
      Similarity.withCellDbl(vecs, "v", c1, "cell"), "v", c2, "cell2")
    Similarity.driftReport(s, a12, c1, c2)
  }

  /** One-pass encode of an embedding slice against a pinned quantizer:
    * (vec_id, cell, codes[M], v, n) — all M+1 argmins fused into a
    * single codegen'd projection (the d_ann_ivfpq encode shape). */
  private[graft] def encode(e: DataFrame, q: Quantizer): DataFrame = {
    val Quantizer(coarse, books) = q
    val sub = coarse.head.length / M
    var enc = Similarity.withCell(
      e.select(col("vec_id"), col("embedding")), "embedding", coarse, "cell")
    for (b <- 0 until M)
      enc = Similarity.withCell(enc, s"slice(embedding, ${b * sub + 1}, $sub)",
        books(b), s"c$b")
    enc.select(col("vec_id"), col("cell"),
        array((0 until M).map(b => col(s"c$b")): _*).as("codes"),
        col("embedding").as("v"))
      .withColumn("n", expr("sqrt(float_dot(v, v))"))
  }

  // ---------------------------------------------------------------------
  // Full-corpus index tables (the rebuild baseline the advance must equal)
  // ---------------------------------------------------------------------

  /** Stored sign-LSH inverted list over the full corpus:
    * (vec_id, v, n, bucket). */
  def buckets(s: SparkSession, d: String,
              planes: Int = Planes): DataFrame = {
    val path = s"${root(s, d)}/buckets_p$planes"
    Warehouse.ensure(s, path) {
      Similarity.signBuckets(s, Tables.embeddings(s, d), planes)
        .write.mode("overwrite").parquet(path)
    }
    Warehouse.readParquet(s, path)
  }

  /** Stored SYMMETRIC-SQ8 code table over the full corpus:
    * `(vec_id, codes ARRAY<BIGINT>, qq BIGINT)` — each dimension
    * quantized to a signed 8-bit level `floor(x · 127 / s + 0.5)` under
    * ONE global scale s = max |x| over the corpus, `qq` the precomputed
    * squared code norm. A GLOBAL scale (vs per-dim) is what makes the
    * quantized cosine exact integer arithmetic: the scale cancels, so
    * `cos_q = Σqᵢnᵢ / sqrt(Σqᵢ² · Σnᵢ²)` needs no float state at all —
    * every sum is a BIGINT < 2⁵³ (codes ≤ 127, dims ≤ thousands), hence
    * bit-identical under ANY partitioning/engine, which is why the SQ8
    * catalog keys are FULLY oracled (no deterministic-regime carve-out
    * needed). Production framing: the classic 4×-memory scan compression
    * (int8 vs float32; parquet stores the levels as int64 here — a
    * cluster deployment would pack them into FixedLenByteArray, the
    * plumbing is identical) with int8-GEMM-shaped scoring. */
  def sq8Codes(s: SparkSession, d: String): DataFrame = {
    val path = s"${root(s, d)}/sq8"
    Warehouse.ensure(s, path) {
      sq8BuildAt(s, d, path, Long.MaxValue)
    }
    Warehouse.readParquet(s, s"$path/codes")
  }

  /** The PINNED scale of a stored SQ8 table — the sidecar artifact the
    * incremental append must encode under (the quantizer-sidecar
    * discipline: re-deriving the scale from a GROWN corpus would change
    * what every already-stored code means — silent mixed-scale
    * corruption). One tiny row. */
  def sq8Scale(s: SparkSession, d: String): Double = {
    sq8Codes(s, d) // ensure built
    val p = s"${root(s, d)}/sq8/scale"
    Warehouse.sidecarValue(s, s"scale:$p")(
      Warehouse.readParquet(s, p).collect()(0).getDouble(0))
  }

  /** SQ8 code table AS OF vec_id < upTo — "yesterday's index": history
    * slice encoded under the HISTORY-derived scale, scale pinned in the
    * sidecar. `sq8CodesAt(corpus end)` is bit-identical to the main
    * table (same build). */
  private[graft] def sq8CodesAt(s: SparkSession, d: String,
                                upTo: Long): DataFrame = {
    val path = s"${root(s, d)}/sq8_h$upTo"
    Warehouse.ensure(s, path) {
      sq8BuildAt(s, d, path, upTo)
    }
    Warehouse.readParquet(s, s"$path/codes")
  }

  private[graft] def sq8ScaleAt(s: SparkSession, d: String,
                                upTo: Long): Double = {
    sq8CodesAt(s, d, upTo) // ensure built
    val p = s"${root(s, d)}/sq8_h$upTo/scale"
    Warehouse.sidecarValue(s, s"scale:$p")(
      Warehouse.readParquet(s, p).collect()(0).getDouble(0))
  }

  /** Shared SQ8 encode: signed levels under a GIVEN scale, CLAMPED to
    * the representable ±127 — a no-op when the scale was derived from
    * the corpus being encoded (the build path), load-bearing when a
    * batch vector exceeds the pinned history scale (the append path;
    * without the clamp an out-of-range vector would silently write
    * levels beyond 8 bits and break the int8 storage claim —
    * [[Similarity]]'s `d_ann_sq8_clip` is the audit that says when the
    * clamp is actually biting and a re-scale is due). */
  private[graft] def sq8EncodeUnder(df: DataFrame, scaleCol: String): DataFrame =
    df.withColumn("codes", expr(
        s"transform(v, x -> CAST(greatest(-127.0D, least(127.0D, " +
          s"floor(x * 127.0D / $scaleCol + 0.5D))) AS BIGINT))"))
      .withColumn("qq", expr("aggregate(codes, 0L, (acc, c) -> acc + c * c)"))
      .select("vec_id", "codes", "qq")

  private def sq8BuildAt(s: SparkSession, d: String, path: String,
                         upTo: Long): Unit = {
    val e = Tables.embeddings(s, d).filter(col("vec_id") < upTo)
      .select(col("vec_id"), expr("CAST(embedding AS ARRAY<DOUBLE>)").as("v"))
    // ONE scalar aggregate (order-free max), collected once — the
    // sidecar write and the encode both reuse the collected value, so a
    // build costs two corpus scans (max + encode), not three (the
    // crossJoin form re-executed the aggregate as a subquery of the
    // encode job)
    val mx = e.agg(max(expr(
        "aggregate(v, CAST(0.0 AS DOUBLE), (acc, x) -> greatest(acc, abs(x)))")))
      .collect()(0)
    val sc = if (!mx.isNullAt(0) && mx.getDouble(0) > 0) mx.getDouble(0) else 1.0
    s.range(1).select(lit(sc).as("s")).coalesce(1)
      .write.mode("overwrite").parquet(s"$path/scale")
    sq8EncodeUnder(e.withColumn("s", lit(sc)), "s")
      .write.mode("overwrite").parquet(s"$path/codes")
  }

  /** COMMIT the SQ8 append: stored history codes (vec_id < split, under
    * the PINNED history scale) ∪ the batch encoded under that SAME
    * pinned scale — history vectors are never re-encoded, the batch
    * never re-derives the scale. Law (spec-pinned): the committed table
    * equals a full re-encode of the corpus under the pinned scale,
    * bit-for-bit — NOT a fresh build (whose scale would differ when the
    * batch grows the max); that gap is exactly what the clip audit
    * measures. */
  private[graft] def sq8Advance(s: SparkSession, d: String,
                                split: Long): DataFrame = {
    val path = s"${root(s, d)}/sq8_adv$split"
    Warehouse.ensure(s, path) {
      val sc = sq8ScaleAt(s, d, split)
      val batch = Tables.embeddings(s, d).filter(col("vec_id") >= split)
        .select(col("vec_id"), expr("CAST(embedding AS ARRAY<DOUBLE>)").as("v"))
        .withColumn("s", lit(sc))
      sq8CodesAt(s, d, split)
        .unionByName(sq8EncodeUnder(batch, "s"))
        .write.mode("overwrite").parquet(s"$path/codes")
      s.range(1).select(lit(sc).as("s")).coalesce(1)
        .write.mode("overwrite").parquet(s"$path/scale")
    }
    Warehouse.readParquet(s, s"$path/codes")
  }

  /** Stored BANDED sign-LSH inverted list over the full corpus — narrow
    * postings `(vec_id, band, bucket)`, one row per (vector, band); the
    * vectors themselves live once in [[buckets]]. Axis geometry at the
    * catalog operating point (b = [[Bands]], r = [[Planes]]) so the
    * banded catalog entries reproduce in the DuckDB oracle. */
  def bandedPostings(s: SparkSession, d: String,
                     geom: BandedGeom = CatalogGeom): DataFrame = {
    val path = s"${root(s, d)}/bandedg_${geom.tag}"
    Warehouse.ensure(s, path) {
      Warehouse.writeSized(
        Similarity.bandedSignBucketsGeom(s, Tables.embeddings(s, d), geom),
        s"$path/post")
      writeGeomSidecar(s, path, geom)
    }
    Warehouse.readParquet(s, s"$path/post")
  }

  /** Stored banded postings for the embedding slice [lo, hi) — the
    * history/batch pieces of the banded incremental contract. */
  private[graft] def bandedSlice(s: SparkSession, d: String, lo: Long,
      hi: Long, geom: BandedGeom = CatalogGeom): DataFrame = {
    val path = s"${root(s, d)}/bandedg_${geom.tag}_s${lo}e$hi"
    Warehouse.ensure(s, path) {
      Warehouse.writeSized(Similarity.bandedSignBucketsGeom(s,
        Tables.embeddings(s, d)
          .filter(col("vec_id") >= lo && col("vec_id") < hi),
        geom), s"$path/post")
      writeGeomSidecar(s, path, geom)
    }
    Warehouse.readParquet(s, s"$path/post")
  }

  /** COMMIT the banded postings advance: stored history-slice postings ∪
    * a batch-only scan, written as the full-corpus table — history
    * embeddings are never re-bucketed. A vector's per-band bucket is a
    * pure per-row function, so the committed union must equal a
    * from-scratch [[bandedPostings]] rebuild bit-for-bit (spec-pinned in
    * VecBackboneSpec, the same closure the single-band advance carries). */
  private[graft] def bandedAdvanceAndStore(s: SparkSession, d: String,
      splitOverride: Long = -1L,
      geom: BandedGeom = CatalogGeom): DataFrame = {
    val split = if (splitOverride >= 0) splitOverride else deltaSplit(s, d)
    val path = s"${root(s, d)}/bandedg_${geom.tag}_adv$split"
    Warehouse.ensure(s, path) {
      Warehouse.writeSized(bandedSlice(s, d, 0, split, geom)
        .unionByName(bandedSlice(s, d, split, Long.MaxValue, geom)),
        s"$path/post")
      writeGeomSidecar(s, path, geom)
    }
    Warehouse.readParquet(s, s"$path/post")
  }

  /** Stored IVF cell assignments + PQ codes over the full corpus:
    * (vec_id, cell, codes, v, n). */
  def codes(s: SparkSession, d: String): DataFrame = {
    val path = s"${root(s, d)}/codes"
    val q = quantizer(s, d)
    Warehouse.ensure(s, path) {
      encode(Tables.embeddings(s, d), q)
        .write.mode("overwrite").parquet(path)
    }
    Warehouse.readParquet(s, path)
  }

  // ---------------------------------------------------------------------
  // History / batch tables for the stored-delta and advance contracts
  // ---------------------------------------------------------------------

  /** Separately-persisted HISTORY state (vectors below `split`): the
    * bucket inverted list, verified near-dup pairs, cluster labels, and
    * the quantized codes. In production these are yesterday's warehouse
    * tables; the nightly delta probes them with batch-only work and
    * never touches history embeddings again. */
  final case class VecHistory(buckets: DataFrame, pairs: DataFrame,
                              labels: DataFrame, codes: DataFrame)

  /** Batch-side stored tables (vectors in [split, batchEnd)): bucket
    * assignments and codes, computed ONCE per batch with the stored
    * quantizer and shared by the delta probe and the advance. */
  final case class VecBatch(buckets: DataFrame, codes: DataFrame)

  def history(s: SparkSession, d: String, split: Long,
              planes: Int = Planes): VecHistory = {
    val base = s"${root(s, d)}/hist${split}_p$planes"
    val q = quantizer(s, d)
    Warehouse.ensure(s, base) {
      val e = Tables.embeddings(s, d).filter(col("vec_id") < split)
      Similarity.signBuckets(s, e, planes)
        .write.mode("overwrite").parquet(s"$base/buckets")
      encode(e, q).write.mode("overwrite").parquet(s"$base/codes")
      derivePairsAndLabels(s, base)
    }
    readHistory(s, base)
  }

  /** Bucket-join candidates → cosine verification → CC labels, written
    * next to the stored bucket table (shared by [[history]]'s fresh
    * build — the advance derives its new state incrementally instead). */
  private def derivePairsAndLabels(s: SparkSession, base: String): Unit = {
    val hb = Warehouse.readParquet(s, s"$base/buckets")
    Warehouse.writeSized(hb.as("x").join(hb.as("y"),
        col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .filter(cosCol("x.v", "y.v", "x.n", "y.n") >= Threshold)
      .select(col("x.vec_id").as("va"), col("y.vec_id").as("vb")),
      s"$base/pairs")
    val edges = Graph.symmetrize(
      Warehouse.readParquet(s, s"$base/pairs"), "va", "vb").persist()
    val (lbl, caches) = Graph.minLabelComponents(edges)
    Warehouse.writeSized(
      lbl.select(col("id").as("vec_id"), col("lbl").as("cluster_id")),
      s"$base/labels")
    (edges +: caches).foreach(_.unpersist())
  }

  private def readHistory(s: SparkSession, base: String): VecHistory =
    VecHistory(
      Warehouse.readParquet(s, s"$base/buckets"),
      Warehouse.readParquet(s, s"$base/pairs"),
      Warehouse.readParquet(s, s"$base/labels"),
      Warehouse.readParquet(s, s"$base/codes"))

  def batch(s: SparkSession, d: String, split: Long,
            batchEnd: Long = Long.MaxValue,
            planes: Int = Planes): VecBatch = {
    val base = s"${root(s, d)}/batch${split}e${batchEnd}_p$planes"
    val q = quantizer(s, d)
    Warehouse.ensure(s, base) {
      val e = Tables.embeddings(s, d)
        .filter(col("vec_id") >= split && col("vec_id") < batchEnd)
      Similarity.signBuckets(s, e, planes)
        .write.mode("overwrite").parquet(s"$base/buckets")
      encode(e, q).write.mode("overwrite").parquet(s"$base/codes")
    }
    VecBatch(
      Warehouse.readParquet(s, s"$base/buckets"),
      Warehouse.readParquet(s, s"$base/codes"))
  }

  /** Stored-delta verdicts (`d_semantic_delta_stored`): one row per
    * batch vector — nearest history near-dup (min vec_id), how many
    * history near-dups it has, and the admit/drop verdict — derived by
    * probing ONLY the persisted history bucket table with the persisted
    * batch assignments. Neither side's embeddings are rescanned: this
    * is the vector twin of `d_dedup_delta_stored`'s storage contract,
    * and it must agree with the full-corpus cross join (the oracle is
    * the exact exhaustive form restricted to the axis-sign buckets). */
  def deltaVerdicts(s: SparkSession, d: String): DataFrame = {
    Similarity.register(s)
    val split = deltaSplit(s, d)
    val h = history(s, d, split)
    val bt = batch(s, d, split)
    val near = bt.buckets.as("x").join(h.buckets.as("y"),
        col("x.bucket") === col("y.bucket"))
      .filter(cosCol("x.v", "y.v", "x.n", "y.n") >= Threshold)
      .groupBy(col("x.vec_id").as("vec_id"))
      .agg(min(col("y.vec_id")).as("near_dup_of"),
        count(lit(1)).as("n_near"))
    bt.buckets.select(col("vec_id"))
      .join(near, Seq("vec_id"), "left")
      .select(col("vec_id"), col("near_dup_of"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        when(col("near_dup_of").isNotNull, "dup_near")
          .otherwise("new").as("verdict"))
      .orderBy("vec_id")
  }

  /** Stored-delta verdicts at the BANDED geometry — the
    * `d_semantic_delta_stored` contract with candidates drawn from the
    * per-band posting slices instead of one bucket column: a batch
    * vector's history candidates are every history vector sharing ANY
    * band's bucket (the 1−(1−p^r)^b recall shape), then cosine-verified
    * against the stored vectors. Nothing rescans embeddings: postings
    * and vectors both come from persisted slices, so the banding rides
    * the same storage discipline as the single-band delta. The banded
    * candidate set contains the single-band set (band 0 IS the
    * single-band bucket), so per-vector n_near dominates the
    * single-band delta's — spec-pinned. */
  def deltaVerdictsBanded(s: SparkSession, d: String,
                          geom: BandedGeom = CatalogGeom): DataFrame = {
    Similarity.register(s)
    val split = deltaSplit(s, d)
    val hPost = bandedSlice(s, d, 0, split, geom)
    val bPost = bandedSlice(s, d, split, Long.MaxValue, geom)
    val h = history(s, d, split)
    val bt = batch(s, d, split)
    // the shared candidate/verify shape (va = history, vb = batch)
    val allVecs = h.buckets.select("vec_id", "v", "n")
      .unionByName(bt.buckets.select("vec_id", "v", "n"))
    val near = verifyCand(
        Similarity.bandedCandidatesAcross(hPost, bPost), allVecs)
      .groupBy(col("vb").as("vec_id"))
      .agg(min(col("va")).as("near_dup_of"), count(lit(1)).as("n_near"))
    bt.buckets.select(col("vec_id"))
      .join(near, Seq("vec_id"), "left")
      .select(col("vec_id"), col("near_dup_of"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        when(col("near_dup_of").isNotNull, "dup_near")
          .otherwise("new").as("verdict"))
      .orderBy("vec_id")
  }

  // ---------------------------------------------------------------------
  // Banded incremental clustering (the production geometry through the
  // nightly chain)
  // ---------------------------------------------------------------------

  // the banded candidate/verify shape lives ONCE, in Similarity
  // (bandedCandidatesWithin / bandedCandidatesAcross / verifiedPairs) —
  // the advance==rebuild equalities depend on every consumer sharing
  // the same join direction, dedup, and rounding; this thin alias keeps
  // call sites readable at the warehouse threshold
  private def verifyCand(cand: DataFrame, vecs: DataFrame): DataFrame =
    Similarity.verifiedPairs(cand, vecs, Threshold)

  /** Banded history clustering state: the per-band posting slice plus
    * cosine-verified pairs and min-label cluster labels derived from
    * BANDED candidates, carrying the PINNED geometry it was built under
    * (read back from the store's sidecar — consumers take the geometry
    * from the state, never from a flag). Vectors live once in the
    * single-band history tables; this state adds only narrow postings +
    * pairs + labels + the geometry sidecar. */
  final case class VecBandedHistory(postings: DataFrame, pairs: DataFrame,
                                    labels: DataFrame, geom: BandedGeom)

  def historyBanded(s: SparkSession, d: String, split: Long,
                    geom: BandedGeom = CatalogGeom): VecBandedHistory = {
    val base = s"${root(s, d)}/histB${split}_${geom.tag}"
    val hPost = bandedSlice(s, d, 0, split, geom)
    Warehouse.ensure(s, base) {
      val hVecs = history(s, d, split).buckets
      Warehouse.writeSized(
        verifyCand(Similarity.bandedCandidatesWithin(hPost), hVecs),
        s"$base/pairs")
      val edges = Graph.symmetrize(
        Warehouse.readParquet(s, s"$base/pairs"), "va", "vb").persist()
      val (lbl, caches) = Graph.minLabelComponents(edges)
      Warehouse.writeSized(
        lbl.select(col("id").as("vec_id"), col("lbl").as("cluster_id")),
        s"$base/labels")
      (edges +: caches).foreach(_.unpersist())
      writeGeomSidecar(s, base, geom)
    }
    VecBandedHistory(hPost, Warehouse.readParquet(s, s"$base/pairs"),
      Warehouse.readParquet(s, s"$base/labels"),
      // the STORE owns the geometry from here on; pre-sidecar layouts
      // were always the requested geometry (the tag pins it)
      readGeomSidecar(s, base).getOrElse(geom))
  }

  /** Advance the BANDED semantic-cluster state from history to the full
    * corpus without re-clustering history — [[advance]] at the
    * production multi-probe geometry: batch-batch and batch-history
    * candidates come from the per-band posting slices (any-band
    * collision), get cosine-verified against stored vectors, union the
    * stored banded pair graph, and only touched components re-solve
    * (star contraction). A vector's per-band buckets are pure per-row
    * functions, so the full banded pair set decomposes exactly into
    * hist-hist (stored) + hist-batch + batch-batch — committed labels
    * equal the from-scratch banded re-clustering bit-for-bit
    * (spec-pinned, incl. randomized corpora; the DuckDB oracle pins the
    * catalog instance through `d_semantic_incr_banded`). Banded edges
    * are a superset of single-band edges (band 0 IS the single-band
    * bucket), so banded clusters COARSEN the single-band clustering —
    * also spec-pinned. */
  def advanceBanded(s: SparkSession, d: String,
                    splitOverride: Long = -1L,
                    geom: BandedGeom = CatalogGeom): DataFrame = {
    Similarity.register(s)
    val split = if (splitOverride >= 0) splitOverride else deltaSplit(s, d)
    val h = historyBanded(s, d, split, geom)
    // the batch probes under the geometry THE STORED STATE carries
    // (VERDICT r14 #3: every probe/advance reads the geometry from the
    // store, never from the caller)
    val g = h.geom
    val hVecs = history(s, d, split).buckets
    val btPost = bandedSlice(s, d, split, Long.MaxValue, g)
    val btVecs = batch(s, d, split).buckets
    val allVecs = hVecs.unionByName(btVecs)
    val intra = verifyCand(Similarity.bandedCandidatesWithin(btPost), btVecs)
    val cross = verifyCand(Similarity.bandedCandidatesAcross(h.postings, btPost), allVecs)
    val newPairs = cross.unionByName(intra).persist()
    val eps = newPairs.select(col("va").as("vec_id"))
      .unionByName(newPairs.select(col("vb").as("vec_id"))).distinct()
    val touched = h.labels.join(eps, Seq("vec_id"))
      .select("cluster_id").distinct()
    val stars = h.labels.join(touched, Seq("cluster_id"))
      .select(col("vec_id").as("va"), col("cluster_id").as("vb"))
    val edges = Graph.symmetrize(
        newPairs.select("va", "vb").unionByName(stars), "va", "vb")
      .persist()
    val (lbl, ccCaches) = Graph.minLabelComponents(edges)
    val untouched = h.labels
      .join(touched, Seq("cluster_id"), "left_anti")
      .select("vec_id", "cluster_id")
    val advanced = untouched.unionByName(
      lbl.select(col("id").as("vec_id"), col("lbl").as("cluster_id")))
    Materialize.drop(advanced, Seq(newPairs, edges) ++ ccCaches: _*)
  }

  // ---------------------------------------------------------------------
  // Incremental advance
  // ---------------------------------------------------------------------

  private[graft] final case class VecAdvanceParts(
      labels: DataFrame, newPairs: DataFrame, bt: VecBatch, h: VecHistory,
      caches: Seq[DataFrame])

  /** Advance the semantic-cluster state from history to the full corpus
    * without re-clustering history — the vector twin of
    * [[Backbone.advance]]: batch self-join + batch-probes-stored-
    * buckets candidates, cosine verify, union stored pairs, re-solve
    * ONLY the touched components (star contraction). Returns labels
    * bit-equal to the full rebuild (the d_dedup_semantic oracle pins
    * this through `d_semantic_incr`). */
  def advance(s: SparkSession, d: String): DataFrame = {
    val p = advanceParts(s, d)
    Materialize.drop(p.labels, p.caches: _*)
  }

  private[graft] def advanceParts(
      s: SparkSession, d: String,
      splitOverride: Long = -1L,
      histOverride: Option[VecHistory] = None,
      batchEnd: Long = Long.MaxValue,
      planes: Int = Planes): VecAdvanceParts = {
    Similarity.register(s)
    val split = if (splitOverride >= 0) splitOverride else deltaSplit(s, d)
    val h = histOverride.getOrElse(history(s, d, split, planes))
    val bt = batch(s, d, split, batchEnd, planes)
    val intra = bt.buckets.as("x").join(bt.buckets.as("y"),
        col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .filter(cosCol("x.v", "y.v", "x.n", "y.n") >= Threshold)
      .select(col("x.vec_id").as("va"), col("y.vec_id").as("vb"))
    val cross = bt.buckets.as("x").join(h.buckets.as("y"),
        col("x.bucket") === col("y.bucket"))
      .filter(cosCol("x.v", "y.v", "x.n", "y.n") >= Threshold)
      .select(col("y.vec_id").as("va"), col("x.vec_id").as("vb"))
    val newPairs = cross.unionByName(intra).persist()
    val eps = newPairs.select(col("va").as("vec_id"))
      .unionByName(newPairs.select(col("vb").as("vec_id"))).distinct()
    val touched = h.labels.join(eps, Seq("vec_id"))
      .select("cluster_id").distinct()
    val stars = h.labels.join(touched, Seq("cluster_id"))
      .select(col("vec_id").as("va"), col("cluster_id").as("vb"))
    val edges = Graph.symmetrize(
        newPairs.select("va", "vb").unionByName(stars), "va", "vb")
      .persist()
    val (lbl, ccCaches) = Graph.minLabelComponents(edges)
    val untouched = h.labels
      .join(touched, Seq("cluster_id"), "left_anti")
      .select("vec_id", "cluster_id")
    val advanced = untouched.unionByName(
      lbl.select(col("id").as("vec_id"), col("lbl").as("cluster_id")))
    VecAdvanceParts(advanced, newPairs, bt, h,
      Seq(newPairs, edges) ++ ccCaches)
  }

  /** COMMIT the advance as tomorrow's stored state: full-corpus bucket
    * list, pair graph, labels and codes, derived incrementally (history
    * embeddings untouched — only the batch was scanned/encoded).
    * Closure: committed tables == a from-scratch full build
    * (VecBackboneSpec pins all four; codes under the pinned quantizer). */
  private[graft] def advanceAndStore(
      s: SparkSession, d: String,
      splitOverride: Long = -1L,
      histOverride: Option[VecHistory] = None,
      batchEnd: Long = Long.MaxValue,
      planes: Int = Planes): VecHistory = {
    val split = if (splitOverride >= 0) splitOverride else deltaSplit(s, d)
    val histId = histOverride
      .map(h => s"h${Warehouse.instanceId(h)}").getOrElse("fresh")
    // instance-keyed commits live in the per-JVM subtree; the stored-
    // history commit stays warehouse-reusable (see Warehouse.instanceRoot)
    val advRoot =
      if (histOverride.isDefined) s"${Warehouse.instanceRoot}/vec_${token(s, d)}"
      else root(s, d)
    val base = s"$advRoot/adv${split}e${batchEnd}_p${planes}_$histId"
    val committed = Warehouse.ensure(s, base) {
      val p = advanceParts(s, d, split, histOverride, batchEnd, planes)
      p.h.buckets.unionByName(p.bt.buckets)
        .write.mode("overwrite").parquet(s"$base/buckets")
      p.h.codes.unionByName(p.bt.codes)
        .write.mode("overwrite").parquet(s"$base/codes")
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
