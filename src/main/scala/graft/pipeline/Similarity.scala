package graft.pipeline

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (Array[Float] column).
  *
  * - `d_knn_cosine`: brute-force cosine top-k — the exactness baseline.
  *   The (small) query set is broadcast; the candidate side streams, so
  *   at 100 TB this is one scan, no shuffle of the big side. Dot products
  *   run through codegen'd higher-order functions (zip_with/aggregate),
  *   not UDFs.
  * - `d_ann_lsh` (rows-only): sign-bit LSH bucketing — the sub-linear
  *   scale path: bucket once (linear), then search only within buckets.
  */
object Similarity {
  type Q = (SparkSession, String) => DataFrame

  /** Exact sequential dot product in double via the native allocation-free
    * [[graft.functions.FloatDot]] expression — same accumulation order as
    * the composable `aggregate(zip_with(...))` fold it replaced (the
    * DuckDB oracles hash-match either way), minus the per-pair
    * intermediate array. Queries call [[register]] before using these. */
  private[graft] def register(s: SparkSession): Unit =
    graft.functions.GraftExtensions.register(s)

  private def dot(a: String, b: String) = expr(s"float_dot($a, $b)")

  private def norm(a: String) = expr(s"sqrt(float_dot($a, $a))")

  /** Collect a BOUNDED, seeded sample of embedding vectors to the driver
    * for quantizer training (coarse IVF cells, PQ codebooks). Centroid
    * quality saturates long before corpus size, so `cap` rows suffice at
    * any scale — this is the one deliberate driver materialization in the
    * ANN stack and it is sample-scale, never corpus-scale. */
  private[graft] def sampleVectors(e0: DataFrame, cap: Long = 2000L,
                                   seed: Long = 42): Array[Array[Double]] = {
    val n = e0.count()
    val sampled = if (n <= cap) e0
                  else e0.sample(withReplacement = false, cap.toDouble / n, seed)
    sampled.select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
  }

  /** Per-JVM memo of trained quantizers keyed by (corpus, params) — a
    * production ANN index is TRAINED ONCE and queried many times; the
    * training sample and k-means fits are derived artifacts exactly like
    * the dedup backbone's tables (same memo discipline as
    * `Backbone.corpusCount`). First call pays the bounded sample collect
    * + driver fit; subsequent queries of the same corpus reuse it.
    * Catalog callers key by [[corpusKey]] (path + file-metadata version),
    * so overwriting the parquet at the same path retrains instead of
    * serving centroids fitted to the replaced data. */
  private val sampleMemo =
    scala.collection.concurrent.TrieMap[String, Array[Array[Double]]]()
  private[graft] def sampleCached(key: String,
                                  e0: => DataFrame): Array[Array[Double]] =
    sampleMemo.getOrElseUpdate(key, sampleVectors(e0))
  private val fitMemo =
    scala.collection.concurrent.TrieMap[String, Array[Array[Double]]]()
  private[pipeline] def fitCached(key: String, k: Int, iters: Int, seed: Long)(
      sample: => Array[Array[Double]]): Array[Array[Double]] =
    fitMemo.getOrElseUpdate(s"$key|$k|$iters|$seed",
      MiniKMeans.fit(sample, k, iters, seed))

  /** Seed the fit memo from a PERSISTED quantizer table
    * ([[VecBackbone.quantizer]]): a fresh JVM that loads the stored
    * index reuses its training instead of refitting — putIfAbsent, so
    * an already-fitted key (same composite key ⇒ same deterministic
    * fit) is never clobbered. */
  private[pipeline] def seedFit(key: String, k: Int, iters: Int, seed: Long,
                                centers: Array[Array[Double]]): Unit = {
    fitMemo.putIfAbsent(s"$key|$k|$iters|$seed", centers); ()
  }

  /** Memo key for a corpus dir: the path plus a file-metadata version
    * stamp (file count, total bytes, max mtime) of the embeddings
    * parquet. One driver FS listing per call — negligible next to the
    * query it guards, and it makes a data drop at the SAME path a memo
    * MISS (retrain) instead of a stale centroid hit. */
  private[graft] def corpusKey(s: SparkSession, d: String): String = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    val p = new Path(s"$d/embeddings.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    def walk(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(walk)
      else Seq(st)
    val files = walk(fs.getFileStatus(p))
    s"$d@${files.length}_${files.map(_.getLen).sum}_" +
      s"${files.map(_.getModificationTime).max}"
  }

  /** Literal SQL centroid table: `ARRAY<ARRAY<FLOAT>>` baked into the
    * plan, so assignment needs no join and no broadcast variable — the
    * centroids ride inside the codegen'd expression. */
  private def centersSql(cs: Array[Array[Double]]): String =
    cs.map(c => s"CAST(array(${c.mkString(",")}) AS ARRAY<FLOAT>)")
      .mkString("array(", ",", ")")

  /** Per-centroid ranking scores for `vecSql` against a literal centroid
    * table: score_i = |c_i|² − 2·v·c_i, which orders identically to
    * |v − c_i|² (the |v|² term is constant per row). One codegen'd
    * zip_with + the native float_dot per row — no per-row Vector
    * conversion, no ML-model UDF, the corpus stays inside whole-stage
    * codegen. */
  private[graft] def withCentroidScores(df: DataFrame, vecSql: String,
      centers: Array[Array[Double]], out: String): DataFrame =
    df.withColumn(out, expr(
      s"""zip_with(${centersSql(centers)},
                   CAST(array(${centers.map(_.map(x => x * x).sum).mkString(",")})
                        AS ARRAY<DOUBLE>),
                   (c, cc) -> cc - 2.0D * float_dot($vecSql, c))"""))

  /** Nearest-centroid assignment as a single projection: argmin over the
    * literal centroid scores, ties to the lowest index (deterministic). */
  private[graft] def withCell(df: DataFrame, vecSql: String,
      centers: Array[Array[Double]], out: String): DataFrame = {
    val tmp = s"__scores_$out"
    withCentroidScores(df, vecSql, centers, tmp)
      .withColumn(out, expr(s"CAST(array_position($tmp, array_min($tmp)) - 1 AS INT)"))
      .drop(tmp)
  }

  /** Quantized cosine under the int-exact SQ8 scoring contract — ONE
    * definition shared by `d_ann_sq8` and the recall audit (the audit
    * is only meaningful while it ranks with the byte-identical
    * expression the operator it audits uses). */
  private def sq8CosQ(qc: String, nc: String,
                      qqq: String, nqq: String): Column =
    when(col(qqq) === 0 || col(nqq) === 0, lit(0.0))
      .otherwise(round(
        expr(s"aggregate(zip_with($qc, $nc, (a, b) -> a * b), 0L, " +
             "(acc, x) -> acc + x)").cast("double") /
          sqrt((col(qqq) * col(nqq)).cast("double")), 4))

  val queries: Map[String, Q] = Map(
    // Brute-force cosine top-5 neighbors for query vectors vec_id < 10.
    "d_knn_cosine" -> ((s, d) => {
      register(s)
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
        .withColumn("qn", norm("qv"))
      val cand = e.select(col("vec_id").as("n_id"), col("embedding").as("nv"))
        .withColumn("nn", norm("nv"))
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
      cand.crossJoin(broadcast(q))
        .filter(col("q_id") =!= col("n_id"))
        .withColumn("cos", round(dot("qv", "nv") / (col("qn") * col("nn")), 4))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("rnk"), col("n_id"), col("cos"))
        .orderBy("q_id", "rnk")
    }),

    // Sign-bit LSH ANN: 4-bit bucket from the signs of the first 4 dims
    // (bucket count tuned to corpus size: 2^b ≈ n/30); exact cosine
    // re-rank within the query's bucket only. FULLY oracled — the
    // axis-sign bucketing is deterministic and reproduces in DuckDB SQL
    // (same trick as the d_dedup_semantic oracle), so the differential
    // check covers the complete approximate pipeline: bucket assignment,
    // bucket-restricted candidate join, cosine re-rank, tie-breaks.
    "d_ann_lsh" -> ((s, d) => {
      register(s)
      // the STORED bucket inverted list (vec_id, v, n, bucket) — the
      // production read path: bucketing + norms were paid once at index
      // build ([[VecBackbone.buckets]], same axis-sign expression), the
      // query reads the index instead of re-deriving it per call
      val e = VecBackbone.buckets(s, d)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("n").as("qn"), col("bucket").as("qb"))
      val cand = e.select(col("vec_id").as("n_id"), col("v").as("nv"),
        col("n").as("nn"), col("bucket"))
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
      cand.join(broadcast(q), col("bucket") === col("qb"))
        .filter(col("q_id") =!= col("n_id"))
        .withColumn("cos", round(dot("qv", "nv") / (col("qn") * col("nn")), 4))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("rnk"), col("n_id"), col("cos"), col("bucket"))
        .orderBy("q_id", "rnk")
    }),

    // BANDED sign-LSH ANN — the production recall shape: b independent
    // plane sets OR-ed at candidate time (1 − (1 − p^r)^b composite
    // recall, the vector twin of the text side's 4-band minhash). The
    // candidate side reads the STORED per-band inverted list — narrow
    // (vec_id, band, bucket) postings; vectors/norms join in ONCE from
    // the stored vector table, never duplicated per band. bands_hit
    // (how many bands caught the pair) rides along: it is the multi-
    // probe confidence signal a production ranker would cut on. FULLY
    // oracled: axis bands (band i = signs of dims [4i+1, 4i+4]) are
    // deterministic and reproduce in DuckDB SQL, so the differential
    // check pins the whole pipeline — per-band bucketing, the
    // (band, bucket) candidate join, cross-band dedup + count, cosine
    // re-rank, tie-breaks.
    "d_ann_lsh_banded" -> ((s, d) => {
      register(s)
      val post = VecBackbone.bandedPostings(s, d)
      val vec = VecBackbone.buckets(s, d).select(col("vec_id"), col("v"), col("n"))
      val qp = post.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("band"), col("bucket"))
      // candidates: equi-join on (band, bucket) against the broadcast
      // query postings, then collapse across bands — count(*) IS the
      // bands-hit count (one posting row per band per vector)
      val cand = post.join(broadcast(qp), Seq("band", "bucket"))
        .filter(col("q_id") =!= col("vec_id"))
        .groupBy(col("q_id"), col("vec_id").as("n_id"))
        .agg(count(lit(1)).as("bands_hit"))
      val q = vec.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("n").as("qn"))
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
      cand
        .join(vec.select(col("vec_id").as("n_id"), col("v").as("nv"),
          col("n").as("nn")), Seq("n_id"))
        .join(broadcast(q), Seq("q_id"))
        .withColumn("cos", round(dot("qv", "nv") / (col("qn") * col("nn")), 4))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("rnk"), col("n_id"), col("cos"),
          col("bands_hit"))
        .orderBy("q_id", "rnk")
    }),

    // IVF (inverted-file) ANN: k-means coarse quantizer → search only the
    // n_probe closest cells. The quantizer trains driver-side on a
    // bounded sample ([[MiniKMeans]] — centroid quality saturates long
    // before corpus size); the big side is scanned ONCE to assign cells
    // via a codegen'd literal-centroid argmin (no ML-model UDF, no
    // per-row Vector conversion), then probed per query — the standard
    // sub-linear ANN layout at corpus scale.
    //
    // Oracled in the DETERMINISTIC EXHAUSTIVE REGIME (nProbe = nCells):
    // the learned centroids can't reproduce in SQL, but with every cell
    // probed the machinery — assignment partition, probe explode, cell
    // equi-join, cosine re-rank — must return EXACTLY the brute-force
    // top-k (each corpus row lives in one cell, each query probes all of
    // them once), so any routing/drop/dup bug breaks the hash. Same
    // deterministic-regime recipe as the sketch aggregates (o_a* rows).
    // Sub-linear-regime recall is measured in SimilaritySpec and
    // SCALE.md's probe-cost sweep.
    "d_ann_ivf" -> ((s, d) => {
      register(s)
      val nCells = 8; val nProbe = nCells
      val e0 = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      // trained-once index artifact: sample + fit memoized per corpus
      // VERSION (path + file metadata), not bare path
      // STORED quantizer first: a fresh JVM over a committed warehouse
      // loads the persisted centers (and seeds the fit memo) instead of
      // re-sampling + refitting — the trained-once contract end to end
      val centers = VecBackbone.quantizer(s, d).coarse
      // corpus side = the STORED cell table ([[VecBackbone.codes]] —
      // same quantizer, same argmin expression, so assignments are
      // bit-identical to an inline encode): the production read path
      // scans the index, not the embeddings
      val cand = VecBackbone.codes(s, d)
        .select(col("vec_id").as("n_id"), col("v").as("nv"), col("cell"),
          col("n").as("nn"))
      // query side: nProbe nearest cells straight from the same literal
      // scores — sort (score, idx) pairs, take the first nProbe indices
      val q = withCentroidScores(e0.filter(col("vec_id") < 10),
          "embedding", centers, "qs")
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"), col("qs"))
        .withColumn("qn", norm("qv"))
        .withColumn("cell", explode(expr(
          s"""slice(transform(array_sort(zip_with(qs, sequence(0, ${nCells - 1}),
                      (v, i) -> named_struct('v', v, 'i', i))), x -> x.i),
                    1, $nProbe)""")))
        .drop("qs")
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
      cand.join(broadcast(q), Seq("cell"))
        .filter(col("q_id") =!= col("n_id"))
        .withColumn("cos", round(dot("qv", "nv") / (col("qn") * col("nn")), 4))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("rnk"), col("n_id"), col("cos"))
        .orderBy("q_id", "rnk")
    }),

    // IVF-PQ ANN: the 100 TB embedding-search layout — coarse IVF cells
    // plus PRODUCT QUANTIZATION of the residual storage: each vector is
    // encoded as m codebook ids (m bytes vs D floats, a 64x compression
    // here), candidates are scored by ADC table lookups (no float math
    // per pair), and only the rerank-top survivors pay an exact cosine.
    //
    // Oracled in the DETERMINISTIC EXHAUSTIVE REGIME (nProbe = nCells,
    // rerank = everything): all cells probed and no ADC pruning ⇒ the
    // output must equal brute-force top-k exactly, so the oracle pins the
    // encode/probe/join/re-rank plumbing end-to-end; the ADC path still
    // executes (codes + table lookups + rank) but its PRUNING quality —
    // the approximate part — is measured by SimilaritySpec's recall@5
    // instead (learned codebooks can't reproduce in SQL).
    "d_ann_ivfpq" -> ((s, d) =>
      ivfPq(s, Tables.embeddings(s, d), nCells = 8, nProbe = 8,
        m = 4, k = 16, rerank = Int.MaxValue, topK = 5,
        cacheKey = corpusKey(s, d),
        // production read path: candidates come from the stored index
        codedOverride = VecBackbone.codes(s, d)
          .select(col("vec_id").as("n_id"), col("v").as("nv"),
            col("cell"), col("codes"), col("n").as("nn")))),

    // SYMMETRIC-SQ8 ANN: brute-force top-5 over the STORED int8 code
    // table ([[VecBackbone.sq8Codes]]) — the third compression scheme
    // next to LSH (pruning) and IVF/PQ (cells + sub-codebooks): no
    // pruning, the whole corpus is scanned, but at 1/4 the bytes of
    // float32 with int-exact scoring (the global scale cancels out of
    // the cosine, so every sum is a BIGINT and the key is FULLY oracled
    // — no deterministic-regime carve-out). At 100 TB this is the scan
    // path when recall must be ~1: IO-bound at a quarter of the IO.
    "d_ann_sq8" -> ((s, d) => {
      val cq = VecBackbone.sq8Codes(s, d)
      val q = cq.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("codes").as("qc"),
          col("qq").as("qqq"))
      val w = Window.partitionBy("q_id").orderBy(col("cos_q").desc, col("n_id"))
      cq.select(col("vec_id").as("n_id"), col("codes").as("nc"),
          col("qq").as("nqq"))
        .crossJoin(broadcast(q))
        .filter(col("q_id") =!= col("n_id"))
        .withColumn("cos_q", sq8CosQ("qc", "nc", "qqq", "nqq"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("rnk"), col("n_id"), col("cos_q"))
        .orderBy("q_id", "rnk")
    }),

    // SQ8 clip audit — the "re-scale" signal completing the SQ8 index
    // lifecycle: the append path ([[VecBackbone.sq8Advance]]) encodes
    // new batches under the PINNED history scale (re-deriving it would
    // corrupt the meaning of every stored code), clamping levels to
    // ±127 — this audit reports, per corpus half under the n/2 history
    // split, how many vectors the clamp would actually bite (a dim
    // rounds past level 127) and how far the live max has outgrown the
    // pinned scale. history rows are the zero-baseline by construction
    // (the scale IS their max); a batch clip_frac > 0 says the batch
    // has outgrown the pinned scale. Fully oracled (scale, split and
    // the clip predicate all recompose in SQL).
    "d_ann_sq8_clip" -> ((s, d) => {
      val split = VecBackbone.deltaSplit(s, d)
      val sc = VecBackbone.sq8ScaleAt(s, d, split)
      Tables.embeddings(s, d)
        .select(col("vec_id"), expr("CAST(embedding AS ARRAY<DOUBLE>)").as("v"))
        .withColumn("s", lit(sc))
        .withColumn("mx", expr(
          "aggregate(v, CAST(0.0 AS DOUBLE), (acc, x) -> greatest(acc, abs(x)))"))
        .withColumn("side",
          when(col("vec_id") < split, lit("history")).otherwise(lit("batch")))
        .groupBy("side", "s")
        .agg(count(lit(1)).as("n"),
          sum(when(floor(col("mx") * 127.0 / col("s") + 0.5) > 127, 1)
            .otherwise(0)).cast("long").as("n_clipped"),
          round(max(col("mx")) / first(col("s")), 6).as("max_ratio"))
        .withColumn("clip_frac",
          round(col("n_clipped") / col("n").cast("double"), 6))
        .select("side", "n", "n_clipped", "clip_frac", "max_ratio")
        .orderBy("side")
    }),

    // SQ8 recall audit: per query (vec_id < 200), how many of the exact
    // float top-5 the quantized top-5 retains — the operator signal for
    // "8 bits is (not) enough for this corpus", completing the
    // observability row (LSH has bucket recall, IVF has drift recall,
    // SQ8 has rank-overlap recall). Both sides rank by (round(cos, 4)
    // DESC, n_id), so the audit itself is deterministic and fully
    // oracled.
    "d_ann_recall_sq8" -> ((s, d) => {
      register(s)
      // ONE cross join carries BOTH scores: each (query, candidate) row
      // ranks under the exact cosine and the quantized cosine in two
      // stacked windows over the same q_id partitioning (one exchange,
      // an extra in-partition sort), and the top-5 intersection is a
      // conditional sum — no second corpus pass, no pair self-join.
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("v"))
        .withColumn("n", norm("v"))
        .join(VecBackbone.sq8Codes(s, d), "vec_id")
      val q = e.filter(col("vec_id") < 200)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("n").as("qn"), col("codes").as("qc"), col("qq").as("qqq"))
      val cand = e.select(col("vec_id").as("n_id"), col("v").as("nv"),
        col("n").as("nn"), col("codes").as("nc"), col("qq").as("nqq"))
      val we = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
      val w8 = Window.partitionBy("q_id").orderBy(col("cos_q").desc, col("n_id"))
      val hits = cand.crossJoin(broadcast(q))
        .filter(col("q_id") =!= col("n_id"))
        // zero-norm guard on the EXACT side too: Spark's 0/0 is NULL
        // (sorts last under DESC) where DuckDB's cosine is NaN (sorts
        // first) — pin 0.0 on both so a zero vector can't split the
        // engines' top-5 sets (the quantized side already pins it)
        .withColumn("cos",
          when(col("qn") * col("nn") === 0, lit(0.0))
            .otherwise(round(dot("qv", "nv") / (col("qn") * col("nn")), 4)))
        .withColumn("cos_q", sq8CosQ("qc", "nc", "qqq", "nqq"))
        .withColumn("rnk_e", row_number().over(we))
        .withColumn("rnk_q", row_number().over(w8))
        .groupBy("q_id")
        .agg(sum(when(col("rnk_e") <= 5 && col("rnk_q") <= 5, 1).otherwise(0))
          .cast("long").as("h"))
      q.select("q_id").join(hits, Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col("h"), lit(0L)).as("hits"),
          round(coalesce(col("h"), lit(0L)) / 5.0, 4).as("recall5"))
        .orderBy("q_id")
    }),

    // Semantic dedup END-TO-END: sign-LSH bucketing (the d_ann_lsh planes)
    // → exact cosine edges within bucket → connected components → one
    // cluster label per vector. This is embedding-space near-dup removal
    // at corpus scale: candidate generation is a bucket-keyed equi-join
    // (never all-pairs), components run on vertex-keyed shuffles bounded
    // by cluster diameter ([[Graph.minLabelComponents]]). The axis-sign
    // planes are deterministic, so the WHOLE pipeline — including the
    // bucketing — reproduces in the DuckDB oracle's recursive CTE; a
    // production corpus would raise the plane count with seeded random
    // hyperplanes (2^b ≈ n/30) at the cost of the oracle, trading recall
    // across buckets exactly like d_ann_lsh documents.
    "d_dedup_semantic" -> ((s, d) =>
      semanticDedup(s, Tables.embeddings(s, d), planes = 4, threshold = 0.3)),

    // The semantic-delta contract with index storage REAL: verdicts for
    // a NEW embedding batch (upper half by vec_id) against accumulated
    // HISTORY, probing ONLY the persisted bucket inverted list with
    // persisted batch assignments ([[VecBackbone]]) — the vector twin
    // of d_dedup_delta_stored. At 100 TB the history side is the stored
    // ANN index growing nightly; neither side's embeddings rescan.
    "d_semantic_delta_stored" -> ((s, d) => VecBackbone.deltaVerdicts(s, d)),

    // The stored-delta contract at the BANDED geometry: batch verdicts
    // probe the per-band posting slices (candidates = ANY-band
    // collision, the 1-(1-p^r)^b recall shape) and cosine-verify
    // against stored vectors — banding wired through the CASCADE, not
    // just ANN top-k. Fully oracled at the axis b=2/r=4 operating
    // point; per-vector n_near dominates d_semantic_delta_stored's
    // (band 0 IS the single-band bucket), spec-pinned.
    "d_semantic_delta_banded" -> ((s, d) => VecBackbone.deltaVerdictsBanded(s, d)),

    // INCREMENTAL semantic-cluster maintenance — the vector twin of
    // d_backbone_incr: batch buckets probe the STORED bucket table, new
    // verified edges union the STORED pair table, and only touched
    // components re-solve (star contraction). Output shape and oracle
    // are shared with d_dedup_semantic — advanced labels must equal the
    // full re-clustering bit-for-bit, which is the whole contract.
    "d_semantic_incr" -> ((s, d) => {
      VecBackbone.advance(s, d)
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy("cluster_id")))
        .orderBy("vec_id")
    }),

    // INCREMENTAL clustering at the BANDED geometry — the production
    // multi-probe shape through the nightly chain: batch-batch and
    // batch-history candidates come from the per-band posting slices,
    // new verified edges union the STORED banded pair graph, and only
    // touched components re-solve. Oracled against the from-scratch
    // banded re-clustering (banded edges, recursive closure) — the
    // advance == rebuild contract at this geometry.
    "d_semantic_incr_banded" -> ((s, d) => {
      VecBackbone.advanceBanded(s, d)
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy("cluster_id")))
        .orderBy("vec_id")
    }),

    // Semantic-cluster DRIFT report — the vector twin of
    // d_curation_drift, completing the text/vector parity matrix
    // (delta_stored, incr, recall audit, drift): for every vector in
    // the CURRENT clustering, yesterday's cluster label (the STORED
    // history label table; a history vec in no history pair is its own
    // cluster) next to today's, with a changed flag. Batch vecs read
    // cluster_prev = -1 (absent). The interesting rows are HISTORY vecs
    // whose label moves — an arriving batch vector bridging two settled
    // clusters re-labels them before a curation pass consumes the
    // clustering; since edges only grow and labels are min-ids, a
    // history label can only DECREASE (law pinned in VecBackboneSpec).
    // Cost: stored-table reads only — the audit runs AFTER the nightly
    // advance COMMITTED tomorrow's label table (advanceAndStore, == the
    // full rebuild bit-for-bit by the spec-pinned closure), so "today"
    // is the committed table and "yesterday" the history table; no
    // clustering work happens in this plan, exactly like the text
    // drift's stored-cascade reads.
    "d_semantic_drift" -> ((s, d) => {
      val spl = VecBackbone.deltaSplit(s, d)
      val h = VecBackbone.history(s, d, spl)
      VecBackbone.advanceAndStore(s, d).labels
        .join(h.labels.select(col("vec_id"), col("cluster_id").as("cp")),
          Seq("vec_id"), "left")
        .select(col("vec_id"),
          when(col("vec_id") < spl, coalesce(col("cp"), col("vec_id")))
            .otherwise(lit(-1L)).as("cluster_prev"),
          col("cluster_id"))
        .withColumn("changed",
          (col("cluster_prev") =!= col("cluster_id")).cast("int"))
        .orderBy("vec_id")
    }),

    // Embedding-cosine near-duplicate pairs (the "semantic dedup" shape):
    // all pairs above a cosine threshold, via the same broadcast pattern
    // over a bounded probe slice.
    "d_dedup_cosine" -> ((s, d) => {
      register(s)
      exactCosineWindow(s, d).orderBy("va", "vb")
    }),

    // ANN RECALL AUDIT — the vector twin of d_dedup_recall. Exact ground
    // truth (the bounded probe slice against the FULL corpus, cosine ≥
    // the semantic-dedup θ) is checked against the STORED bucket inverted
    // list: caught = both endpoints share a sign-LSH bucket, read from
    // [[VecBackbone.buckets]] with two narrow vec_id-keyed joins (the
    // truth side is audit-sized, so AQE broadcasts it; the index is
    // never re-derived). Measured recall on live data is the knob the
    // 2^planes ≈ n/30 rule gets tuned BY — cross-bucket misses are the
    // price of sub-quadratic candidates, and this entry reports the
    // actual price instead of assuming the hyperplane model.
    "d_ann_recall" -> ((s, d) => {
      register(s)
      val truth = exactCosineWindow(s, d)
      val bk = VecBackbone.buckets(s, d).select(col("vec_id"), col("bucket"))
      truth
        .join(bk.select(col("vec_id").as("va"), col("bucket").as("ba")), "va")
        .join(bk.select(col("vec_id").as("vb"), col("bucket").as("bb")), "vb")
        .select(col("va"), col("vb"), col("cos"),
          (col("ba") === col("bb")).cast("int").as("caught"))
        .orderBy("va", "vb")
    }),

    // IVF QUANTIZER-DRIFT audit (VERDICT r14 #5) — the FAISS "re-train"
    // signal, completing the observability matrix (LSH has recall
    // audits; IVF had none): per coarse cell, how many stored vectors
    // would change their nearest centroid if the quantizer were refit
    // on the CURRENT corpus, plus how far each centroid itself moved.
    // Oracled at the deterministic operating point (the house rule for
    // every learned component): pinned centers = the first NCells
    // HISTORY vectors read from the committed history bucket table
    // ("the quantizer trained when only history existed"), refit = one
    // exact micro-unit Lloyd step over the full stored corpus — the
    // first gradient step of retraining, which IS the drift direction.
    // All assignment math is pure double with sequential folds and the
    // refit mean uses order-free integer sums, so the DuckDB mirror is
    // bit-exact. The production form over the real MiniKMeans
    // artifacts is VecBackbone.quantizerDrift (spec-pinned).
    "d_ann_ivf_drift" -> ((s, d) => {
      val (a12, c1, c2) = ivfDriftParts(s, d)
      driftReport(s, a12, c1, c2)
    }),

    // The PROBED-CELL RECALL DELTA half of the drift audit: for each
    // query vector, how many of its exact top-5 neighbors live in the
    // nProbe=2 cells the query would probe — under the pinned
    // assignment vs the one-step refit. The delta is the operator's
    // answer to "what recall does retraining buy today". Same
    // deterministic centers as d_ann_ivf_drift, fully oracled.
    "d_ann_ivf_drift_recall" -> ((s, d) => {
      val (a12, c1, c2) = ivfDriftParts(s, d)
      val vecs = VecBackbone.buckets(s, d)
        .select(col("vec_id"), col("v"), col("n"))
      val q = vecs.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("n").as("qn"))
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
      val truth = vecs
        .select(col("vec_id").as("n_id"), col("v").as("nv"), col("n").as("nn"))
        .crossJoin(broadcast(q))
        .filter(col("q_id") =!= col("n_id"))
        .withColumn("cos", round(dot("qv", "nv") / (col("qn") * col("nn")), 4))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select("q_id", "n_id")
      def probes(centers: Array[Array[Double]], out: String): DataFrame =
        withScoresDbl(q.select(col("q_id"), col("qv")), "qv", centers, "sc")
          .withColumn(out, explode(expr(
            s"""slice(transform(array_sort(zip_with(sc,
                        sequence(0, ${centers.length - 1}),
                        (v, i) -> named_struct('v', v, 'i', i))), x -> x.i),
                      1, 2)""")))
          .select(col("q_id"), col(out))
      val nCell = a12.select(col("vec_id").as("n_id"),
        col("cell"), col("cell2"))
      val scored = truth.join(nCell, Seq("n_id"))
        .join(broadcast(probes(c1, "p1"))
          .groupBy("q_id").agg(collect_set("p1").as("p1s")), Seq("q_id"))
        .join(broadcast(probes(c2, "p2"))
          .groupBy("q_id").agg(collect_set("p2").as("p2s")), Seq("q_id"))
        .groupBy("q_id")
        .agg(count(lit(1)).as("n_truth"),
          sum(expr("CAST(array_contains(p1s, cell) AS LONG)"))
            .as("hits_pinned"),
          sum(expr("CAST(array_contains(p2s, cell2) AS LONG)"))
            .as("hits_refit"))
      scored
        .select(col("q_id"), col("n_truth"), col("hits_pinned"),
          col("hits_refit"),
          round(col("hits_pinned").cast("double") /
            col("n_truth").cast("double"), 6).as("recall_pinned"),
          round(col("hits_refit").cast("double") /
            col("n_truth").cast("double"), 6).as("recall_refit"))
        .orderBy("q_id")
    }),

    // BANDED recall audit — the measured composite-S-curve number: every
    // exact truth pair flagged with whether ANY band's buckets collide
    // (caught) and with HOW MANY do (bands_hit). Reads the stored
    // per-band postings with two narrow vec_id-keyed joins (truth side
    // is audit-sized → AQE broadcasts it); comparing this entry's
    // caught-rate against d_ann_recall's single-band rate is the
    // recall-vs-candidate-cost trade the banding exists to buy.
    "d_ann_recall_banded" -> ((s, d) => {
      register(s)
      val truth = exactCosineWindow(s, d)
      val post = VecBackbone.bandedPostings(s, d)
      truth
        .join(post.select(col("vec_id").as("va"), col("band"),
          col("bucket").as("ba")), Seq("va"))
        .join(post.select(col("vec_id").as("vb"), col("band"),
          col("bucket").as("bb")), Seq("vb", "band"))
        .groupBy("va", "vb", "cos")
        .agg(max((col("ba") === col("bb")).cast("int")).as("caught"),
          sum((col("ba") === col("bb")).cast("long")).as("bands_hit"))
        .select(col("va"), col("vb"), col("cos"), col("caught"),
          col("bands_hit"))
        .orderBy("va", "vb")
    })
  )

  /** Exact cosine ground truth on the bounded probe slice (va < 200)
    * against the full corpus — shared by the exhaustive pair query and
    * the recall audit. Unordered. */
  private def exactCosineWindow(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("n", norm("v"))
    val a = e.select(col("vec_id").as("va"), col("v").as("xa"), col("n").as("na"))
      .filter(col("va") < 200)
    val b = e.select(col("vec_id").as("vb"), col("v").as("xb"), col("n").as("nb"))
    b.crossJoin(broadcast(a))
      .filter(col("va") < col("vb"))
      .withColumn("cos", round(dot("xa", "xb") / (col("na") * col("nb")), 4))
      .filter(col("cos") >= 0.3)
      .select(col("va"), col("vb"), col("cos"))
  }

  /** Sign-LSH bucketing behind semanticDedup and the stored vector
    * tables: bucket = the sign bits of the first `planes` dims. Output
    * columns: vec_id, v, n (norm), bucket. */
  private[graft] def signBuckets(s: SparkSession, embeddings: DataFrame,
                                 planes: Int): DataFrame = {
    require(planes >= 1 && planes <= 16, s"planes $planes outside [1,16]")
    register(s)
    embeddings
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("n", norm("v"))
      .withColumn("bucket", expr(
        s"""aggregate(zip_with(slice(v, 1, $planes), sequence(0, ${planes - 1}),
                              (x, i) -> IF(x >= 0F, shiftleft(1, i), 0)),
                     0, (acc, v) -> acc + v)"""))
  }

  /** The PRODUCTION LSH geometry (VERDICT r12 #8): seeded random Gaussian
    * hyperplanes instead of axis signs — bucket bit i = sign(v · h_i).
    * Axis signs reproduce in the DuckDB oracle (why the catalog pins
    * them at planes=4) but read only the first `planes` dims; random
    * hyperplanes mix EVERY dim into every bit, so collision probability
    * follows the SimHash model P(same bit) = 1 − θ/π exactly, which is
    * what the 2^b ≈ n/30 sizing rule and the recall S-curve assume. The
    * matrix is generated driver-side from the seed (a few KB — the
    * "index metadata" a production deployment pins alongside the
    * quantizer) and baked into the plan as literals; per-row work is
    * `planes` codegen'd float_dot calls, no shuffle, no UDF. Same output
    * columns as [[signBuckets]], so every consumer (pair join, recall
    * audit) takes either geometry. */
  private[graft] def signBucketsRandom(s: SparkSession, embeddings: DataFrame,
                                       planes: Int, seed: Long): DataFrame = {
    require(planes >= 1 && planes <= 16, s"planes $planes outside [1,16]")
    register(s)
    // an input with no non-null embedding has no row to read dims from;
    // both geometries agree on such inputs (bucket is null/empty either
    // way), so route them to the dims-free axis path instead of crashing
    // a configured-seed run on an empty batch slice — and filter nulls
    // BEFORE probing: size(NULL) is null in Spark, so a null first row
    // would NPE getInt even on data the axis path handles.
    val first = embeddings.filter(col("embedding").isNotNull)
      .select(size(col("embedding"))).head(1)
    if (first.isEmpty) return signBuckets(s, embeddings, planes)
    val dims = first.head.getInt(0)
    require(dims > 0, s"embedding column has zero dims; cannot derive " +
      s"random hyperplanes (seed=$seed)")
    val rnd = new java.util.Random(seed)
    val bucketExpr = (0 until planes).map { i =>
      val h = Array.fill(dims)(rnd.nextGaussian())
      val arr = s"CAST(array(${h.mkString(", ")}) AS ARRAY<FLOAT>)"
      s"IF(float_dot(v, $arr) >= 0D, ${1 << i}, 0)"
    }.mkString(" + ")
    embeddings
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("n", norm("v"))
      .withColumn("bucket", expr(bucketExpr))
  }

  /** BANDED sign-LSH postings — the production recall shape (VERDICT r13
    * #1): b independent plane sets of r planes each, OR-ed at candidate
    * time, so pair recall composes to 1 − (1 − p^r)^b instead of the
    * single-band p^r (the same banding the TEXT side ships as 4-band
    * minhash, [[TextDedup]]). Long form, one posting row per (vector,
    * band): `(vec_id, band, bucket)` — the narrow inverted-list layout;
    * vectors and norms live ONCE in the vector table, never duplicated
    * per band, and candidate generation is an equi-join on the composite
    * key (band, bucket) — one shuffle, never all-pairs, with candidate
    * cost multiplying by b while recall climbs the composite S-curve.
    *
    * Geometry: `seed = None` → axis signs, band i reading dims
    * [i·r+1, (i+1)·r] — deterministic, reproducible in the DuckDB oracle
    * (the catalog operating point). `seed = Some(_)` → seeded random
    * Gaussian hyperplanes drawn from ONE continuous stream, so band 0 of
    * any banded config is bit-identical to [[signBucketsRandom]] at the
    * same (r, seed) — banded and single-band sweeps compare like for
    * like. Per-band sizing stays the 2^r ≈ n/30 rule (buckets hold ~30
    * vectors, so the bucket-keyed pair join stays ~linear): each band is
    * a full-resolution code; b multiplies candidates, r bounds bucket
    * size. */
  private[graft] def bandedSignBuckets(s: SparkSession, embeddings: DataFrame,
      bands: Int, planes: Int, seed: Option[Long] = None): DataFrame = {
    require(bands >= 1 && bands <= 8, s"bands $bands outside [1,8]")
    require(planes >= 1 && planes <= 16, s"planes $planes outside [1,16]")
    register(s)
    val e = embeddings.select(col("vec_id"), col("embedding").as("v"))
    seed match {
      case None =>
        // axis band i = sign bits of dims [i*r+1, (i+1)*r]. The
        // bands*planes <= dims requirement is enforced PER ROW inside
        // the codegen'd expression (raise_error) instead of a driver
        // head() probe: the axis path needs no dims value, and the
        // probe would cost an extra Spark job on every store build
        // (three per banded delta) — the r13 advisory's lesson applied
        // here. Without the guard an over-short vector would silently
        // degenerate to bucket bits over a truncated slice.
        e.withColumn("band", explode(expr(s"sequence(0, ${bands - 1})")))
          .withColumn("bucket", expr(
            s"""IF(v IS NULL, CAST(NULL AS INT),
                  IF(size(v) < ${bands * planes},
                     raise_error(concat('axis banded LSH needs bands*planes',
                       ' <= dims: $bands*$planes > ', size(v))),
                     aggregate(zip_with(slice(v, band * $planes + 1, $planes),
                                        sequence(0, ${planes - 1}),
                                        (x, i) -> IF(x >= 0F, shiftleft(1, i), 0)),
                               0, (acc, v) -> acc + v)))"""))
          .select("vec_id", "band", "bucket")
      case Some(sd) =>
        // the STATELESS seeded path sizes hyperplanes from the data —
        // one bounded head() probe, null-filtered (size(NULL) is null);
        // stored indexes pin dims in [[BandedGeom]] instead and
        // take the probe-free [[bandedSignBucketsGeom]] path
        val first = embeddings.filter(col("embedding").isNotNull)
          .select(size(col("embedding"))).head(1)
        if (first.isEmpty)
          // no non-null embedding to size hyperplanes from — emit
          // null-bucket postings instead of crashing on an empty slice
          e.withColumn("band", explode(expr(s"sequence(0, ${bands - 1})")))
            .withColumn("bucket", expr("CAST(NULL AS INT)"))
            .select("vec_id", "band", "bucket")
        else {
          val dims = first.head.getInt(0)
          require(dims > 0, "embedding column has zero dims")
          bandedSignBucketsGeom(s, embeddings,
            BandedGeom.seeded(bands, planes, sd, dims))
        }
    }
  }

  /** The seeded plane matrix of a pinned geometry — bands × planes
    * Gaussian hyperplanes drawn from ONE continuous stream (band 0 of
    * any banded config is bit-identical to [[signBucketsRandom]] at the
    * same (r, seed)), derived from (seed, bands, planes, dims) alone so
    * every JVM reading the same stored [[BandedGeom]] reconstructs the
    * identical matrix with no data probe. Index-metadata scale: a few
    * KB, baked into the plan as literals. */
  private[graft] def bandedPlanes(geom: BandedGeom): Array[Array[Array[Double]]] = {
    val sd = geom.seed.getOrElse(
      throw new IllegalArgumentException("axis geometry has no plane matrix"))
    val rnd = new java.util.Random(sd)
    Array.fill(geom.bands)(Array.fill(geom.planes)(
      Array.fill(geom.dims)(rnd.nextGaussian())))
  }

  /** Banded postings under a PINNED geometry — the probe-free form the
    * stored index paths use (VERDICT r14 #3): axis geometries
    * route to the per-row-validated axis expression; seeded geometries
    * derive their plane matrix from the pinned (seed, dims) with NO
    * driver probe, so an empty slice costs no Spark job and a
    * fresh JVM reproduces stored buckets exactly. Per-row guard: a
    * vector whose dims disagree with the pinned geometry raises instead
    * of silently hashing against truncated planes; null vectors emit
    * null buckets (never candidates), same as the axis path. */
  private[graft] def bandedSignBucketsGeom(s: SparkSession,
      embeddings: DataFrame, geom: BandedGeom): DataFrame = geom.seed match {
    case None => bandedSignBuckets(s, embeddings, geom.bands, geom.planes)
    case Some(_) =>
      register(s)
      val e = embeddings.select(col("vec_id"), col("embedding").as("v"))
      val hs = bandedPlanes(geom)
      val entries = (0 until geom.bands).map { bd =>
        val bits = (0 until geom.planes).map { i =>
          val arr = s"CAST(array(${hs(bd)(i).mkString(", ")}) AS ARRAY<FLOAT>)"
          s"IF(float_dot(v, $arr) >= 0D, ${1 << i}, 0)"
        }.mkString(" + ")
        s"""named_struct('band', $bd, 'bucket',
              IF(v IS NULL, CAST(NULL AS INT),
                 IF(size(v) <> ${geom.dims},
                    raise_error(concat('pinned banded geometry expects ',
                      '${geom.dims} dims, got ', size(v))),
                    ($bits))))"""
      }
      e.withColumn("bb", explode(expr(s"array(${entries.mkString(", ")})")))
        .select(col("vec_id"), col("bb.band").as("band"),
          col("bb.bucket").as("bucket"))
  }

  // ---------------------------------------------------------------------
  // IVF quantizer-drift audit (VERDICT r14 #5) — exact double-precision
  // assignment math shared by the oracled catalog entries and the
  // production audit, engineered for CROSS-ENGINE bit-equality: center
  // literals stay ARRAY<DOUBLE> (the float-cast literals in the ivf
  // query path are fine for argmin consistency but would diverge from
  // DuckDB's double list math), every dot product is a left-to-right
  // fold (DuckDB's list_inner_product order), and the refit mean uses
  // ORDER-FREE integer micro-unit sums so Spark's partition-order
  // double summation can never flip an argmin by one ulp.
  // ---------------------------------------------------------------------

  private def centersDblSql(cs: Array[Array[Double]]): String =
    cs.map(c => s"CAST(array(${c.mkString(",")}) AS ARRAY<DOUBLE>)")
      .mkString("array(", ",", ")")

  /** Per-center scores in PURE double: score_i = |c_i|² − 2·v·c_i (orders
    * like |v−c_i|²), every sum a sequential fold — bit-identical to the
    * DuckDB mirror's list_inner_product arithmetic. */
  private[graft] def withScoresDbl(df: DataFrame, vecCol: String,
      centers: Array[Array[Double]], out: String): DataFrame =
    df.withColumn(out, expr(
      s"""transform(${centersDblSql(centers)}, c ->
            aggregate(zip_with(c, c, (x, y) -> x * y), 0D, (a, t) -> a + t)
            - 2.0D * aggregate(zip_with(CAST($vecCol AS ARRAY<DOUBLE>), c,
                                        (x, y) -> x * y),
                               0D, (a, t) -> a + t))"""))

  /** Nearest-center assignment over [[withScoresDbl]] scores, ties to the
    * lowest index (== DuckDB's row_number ORDER BY score, cid). */
  private[graft] def withCellDbl(df: DataFrame, vecCol: String,
      centers: Array[Array[Double]], out: String): DataFrame = {
    val tmp = s"__dsc_$out"
    withScoresDbl(df, vecCol, centers, tmp)
      .withColumn(out,
        expr(s"CAST(array_position($tmp, array_min($tmp)) - 1 AS INT)"))
      .drop(tmp)
  }

  /** One DETERMINISTIC Lloyd step from `centers` over `assigned`
    * (vec_id, <vecCol>, <cellCol>): per-cell per-dim mean computed as
    * Σ round(x·10⁶) (exact BIGINT, order-free) divided by 10⁶·n — the
    * refit direction a staleness audit measures, reproducible to the
    * bit in SQL (micro-unit quantization sidesteps the engines'
    * differing double-summation orders). Empty cells keep their pinned
    * center (MiniKMeans' own empty-cluster rule). */
  private[graft] def lloydStepMicro(assigned: DataFrame, vecCol: String,
      cellCol: String, centers: Array[Array[Double]]): Array[Array[Double]] = {
    val sums = assigned
      .select(col(cellCol).as("cell"), posexplode(col(vecCol)))
      .groupBy("cell", "pos")
      .agg(sum(expr("CAST(round(col * 1000000D) AS BIGINT)")).as("s"),
        count(lit(1)).as("n"))
      .collect() // nCells × dims rows — index-metadata scale
    val out = centers.map(_.clone)
    sums.foreach { r =>
      out(r.getInt(0))(r.getInt(1)) =
        r.getLong(2).toDouble / (1e6 * r.getLong(3))
    }
    out
  }

  /** Sequential-fold helpers matching list_inner_product exactly. */
  private def dotSeq(a: Array[Double], b: Array[Double]): Double = {
    var i = 0; var s = 0.0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** The per-cell drift report over dual assignments `a12`
    * (vec_id, …, cell, cell2): members per pinned cell, how many would
    * move under the refit, the moved fraction, and how far the center
    * itself shifted — shared by the oracled catalog entry and the
    * production [[VecBackbone.quantizerDrift]] so the two can never
    * disagree on the report's math. */
  private[graft] def driftReport(s: SparkSession, a12: DataFrame,
      c1: Array[Array[Double]], c2: Array[Array[Double]]): DataFrame = {
    import s.implicits._
    val shifts = c1.indices.map { i =>
      val s2 = dotSeq(c1(i), c1(i)) + dotSeq(c2(i), c2(i)) -
        2.0 * dotSeq(c1(i), c2(i))
      (i, math.sqrt(math.max(0.0, s2)))
    }
    val base = shifts.toDF("cell", "shift_raw")
    val stats = a12.groupBy("cell")
      .agg(count(lit(1)).as("n"),
        sum((col("cell2") =!= col("cell")).cast("long")).as("n_moved"))
    base.join(stats, Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("n_moved"), lit(0L)).as("n_moved"),
        round(coalesce(col("n_moved"), lit(0L)).cast("double") /
          greatest(coalesce(col("n"), lit(0L)), lit(1L)).cast("double"), 6)
          .as("moved_frac"),
        round(col("shift_raw"), 6).as("center_shift"))
      .orderBy("cell")
  }

  /** The drift audit's shared derivation at the ORACLED operating point:
    * pinned centers = the first [[VecBackbone.NCells]] HISTORY vectors
    * (read from the committed history bucket table — deterministic and
    * SQL-derivable, standing in for "the quantizer trained when only
    * history existed"); refit = one micro-unit Lloyd step over the full
    * stored corpus. Returns (per-vector assignments under both, pinned
    * centers, refit centers). The PRODUCTION form of this audit runs the
    * real MiniKMeans artifacts ([[VecBackbone.quantizerDrift]]) — the
    * catalog pins the oracle-reproducible instance, the house rule for
    * every learned component. */
  private[graft] def ivfDriftParts(s: SparkSession, d: String)
      : (DataFrame, Array[Array[Double]], Array[Array[Double]]) = {
    register(s)
    val split = VecBackbone.deltaSplit(s, d)
    val h = VecBackbone.history(s, d, split)
    val c1 = h.buckets.filter(col("vec_id") < VecBackbone.NCells)
      .orderBy("vec_id").select("v").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val vecs = VecBackbone.buckets(s, d).select(col("vec_id"), col("v"))
    val a1 = withCellDbl(vecs, "v", c1, "cell")
    val c2 = lloydStepMicro(a1, "v", "cell", c1)
    val a12 = withCellDbl(a1, "v", c2, "cell2")
    (a12, c1, c2)
  }

  /** Config-selected LSH geometry for stateless per-call clustering:
    * `-Dgraft.vec.lshSeed=<long>` switches [[semanticDedup]] to seeded
    * random hyperplanes (the production geometry; SCALE.md records its
    * recall sweep). Deliberately NOT consulted by the
    * stored [[VecBackbone]] tables: an index pins its geometry at build
    * time — flipping a JVM flag must never make probes disagree with
    * stored buckets. Unset (default) = axis signs, the oracle geometry. */
  private def configuredLshSeed: Option[Long] =
    sys.props.get("graft.vec.lshSeed").map(_.toLong)

  /** Semantic dedup library form behind `d_dedup_semantic`: sign-LSH
    * bucketing over the first `planes` dims → exact cosine edges within
    * bucket → [[Graph.minLabelComponents]]. `planes` is THE scale knob:
    * candidate pairs cost Σ|bucket|², so size 2^planes ≈ corpus/30 (the
    * d_ann_lsh rule) to keep buckets bounded as the corpus grows — the
    * catalog instance pins planes=4 because the axis-aligned buckets
    * reproduce exactly in the DuckDB oracle. Cross-bucket recall
    * trades exactly like d_ann_lsh documents (near-dups at threshold
    * 0.9+ almost always share sign bits; a second, rotated plane set
    * OR-ed in would recover the remainder at 2x candidate cost). */
  def semanticDedup(s: SparkSession, embeddings: DataFrame,
                    planes: Int, threshold: Double,
                    lshSeed: Option[Long] = None): DataFrame = {
    register(s)
    val e = lshSeed.orElse(configuredLshSeed) match {
      case Some(seed) => signBucketsRandom(s, embeddings, planes, seed)
      case None => signBuckets(s, embeddings, planes)
    }
    val a = e.select(col("vec_id").as("va"), col("v").as("xa"),
      col("n").as("na"), col("bucket"))
    val b = e.select(col("vec_id").as("vb"), col("v").as("xb"),
      col("n").as("nb"), col("bucket"))
    val pairs = a.join(b, Seq("bucket"))
      .filter(col("va") < col("vb"))
      .withColumn("cos", round(dot("xa", "xb") / (col("na") * col("nb")), 4))
      .filter(col("cos") >= threshold)
      .select("va", "vb")
    val edges = Graph.symmetrize(pairs, "va", "vb").persist()
    val (labels, caches) = Graph.minLabelComponents(edges)
    Materialize.drop(labels
      .select(col("id").as("vec_id"), col("lbl").as("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("cluster_id"))),
      edges +: caches: _*)
      .orderBy("vec_id") // sort AFTER the cut — see o_a27 (r18 opt)
  }

  /** Cross-band-deduped candidate pairs WITHIN one posting set
    * ((band, bucket) equi-join, va < vb) — THE banded candidate shape,
    * shared by the full rebuild, the stored history build, and the
    * advance so the spec-pinned equalities between them can never
    * drift on the join or dedup direction. */
  private[pipeline] def bandedCandidatesWithin(post: DataFrame): DataFrame =
    post.as("x").join(post.as("y"),
        col("x.band") === col("y.band") &&
          col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("va"), col("y.vec_id").as("vb"))
      .distinct()

  /** Candidates ACROSS posting sets — va from `histPost`, vb from
    * `batchPost` (history ids precede batch ids, so va < vb holds). */
  private[pipeline] def bandedCandidatesAcross(histPost: DataFrame,
                                               batchPost: DataFrame): DataFrame =
    batchPost.as("x").join(histPost.as("y"),
        col("x.band") === col("y.band") &&
          col("x.bucket") === col("y.bucket"))
      .select(col("y.vec_id").as("va"), col("x.vec_id").as("vb"))
      .distinct()

  /** Exact-cosine verification of (va, vb) candidates through a
    * (vec_id, v, n) vector table — the one shared predicate (float_dot,
    * round(…,4), >= threshold) every banded consumer must agree on. */
  private[pipeline] def verifiedPairs(cand: DataFrame, vecs: DataFrame,
                                      threshold: Double): DataFrame =
    cand
      .join(vecs.select(col("vec_id").as("va"), col("v").as("xa"),
        col("n").as("na")), Seq("va"))
      .join(vecs.select(col("vec_id").as("vb"), col("v").as("xb"),
        col("n").as("nb")), Seq("vb"))
      .filter(round(dot("xa", "xb") / (col("na") * col("nb")), 4) >= threshold)
      .select("va", "vb")

  /** Full banded semantic re-clustering — [[semanticDedup]] at the
    * multi-probe geometry: candidates = (band, bucket) equi-join over
    * the banded postings, deduped across bands, cosine-verified, then
    * min-label components. The from-scratch baseline the banded
    * incremental advance must reproduce bit-for-bit
    * ([[VecBackbone.advanceBanded]]); same output shape as
    * [[semanticDedup]]. Banded edges are a superset of single-band
    * edges, so this clustering COARSENS the single-band one. */
  def semanticDedupBanded(s: SparkSession, embeddings: DataFrame,
                          bands: Int, planes: Int, threshold: Double,
                          lshSeed: Option[Long] = None): DataFrame = {
    register(s)
    val post = bandedSignBuckets(s, embeddings, bands, planes,
      lshSeed.orElse(configuredLshSeed))
    val vecs = embeddings.select(col("vec_id"), col("embedding").as("v"))
      .withColumn("n", norm("v"))
    val pairs = verifiedPairs(bandedCandidatesWithin(post), vecs, threshold)
    val edges = Graph.symmetrize(pairs, "va", "vb").persist()
    val (labels, caches) = Graph.minLabelComponents(edges)
    Materialize.drop(labels
      .select(col("id").as("vec_id"), col("lbl").as("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("cluster_id"))),
      edges +: caches: _*)
      .orderBy("vec_id") // sort AFTER the cut — see o_a27 (r18 opt)
  }

  /** IVF-PQ behind `d_ann_ivfpq`.
    *
    * Layout (the standard billion-scale ANN shape): a coarse k-means
    * splits the corpus into `nCells` inverted lists; each vector's
    * PAYLOAD is then m sub-block codebook ids — one byte per block at
    * k ≤ 256 — instead of D floats. A query (a) picks its `nProbe`
    * nearest cells, (b) precomputes one m×k table of squared distances
    * from its sub-blocks to every codebook centroid, (c) scores every
    * candidate in the probed cells by m TABLE LOOKUPS (ADC — no float
    * math per pair), and (d) pays exact cosine only for the `rerank`
    * best. At 100 TB the wins compound: the scan reads codes (m bytes)
    * not vectors, scoring is codegen'd array indexing, and the exact
    * re-rank touches `rerank × |queries|` vectors, not the corpus.
    *
    * Driver-side work is QUERY-scale only, the ANN contract: the query
    * set (the rows a client would send) and the m×k codebooks are
    * collected/broadcast; corpus rows never leave executors. All k-means
    * fits run driver-side on one bounded sample ([[MiniKMeans]] — m+1
    * iterative Spark ML jobs on a 2k-row sample were pure scheduling
    * overhead), and the corpus encode is ONE codegen'd projection
    * producing cell + m codes per row. */
  def ivfPq(s: SparkSession, embeddings: DataFrame, nCells: Int, nProbe: Int,
            m: Int, k: Int, rerank: Int, topK: Int,
            cacheKey: String = null,
            codedOverride: DataFrame = null): DataFrame = {
    register(s)
    import s.implicits._
    val e0 = embeddings.select(col("vec_id"), col("embedding"))
    val dim = e0.select(size(col("embedding")).as("d")).head.getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m blocks")
    val sub = dim / m

    // trained-once index artifact when a cacheKey identifies the corpus:
    // the coarse quantizer and the m PQ codebooks are memoized like the
    // d_ann_ivf centers; an anonymous DataFrame trains fresh
    val sample =
      if (cacheKey != null) sampleCached(cacheKey, e0) else sampleVectors(e0)
    def fitK(tag: String, kk: Int, seed: Long,
             pts: => Array[Array[Double]]): Array[Array[Double]] =
      if (cacheKey != null) fitCached(s"$cacheKey|$tag", kk, 10, seed)(pts)
      else MiniKMeans.fit(pts, kk, iters = 10, seed = seed)
    // tag "ivf", not "coarse": this is the SAME fit (same sample, k,
    // iters, seed) d_ann_ivf trains — one memo key means one training
    val coarseCenters = fitK("ivf", nCells, 42, sample)
    val blockCenters = Array.tabulate(m) { b =>
      fitK(s"pq$b", k, 42 + b, sample.map(_.slice(b * sub, (b + 1) * sub)))
    }
    // corpus side: the STORED code table when the caller has one
    // (columns n_id, nv, cell, codes, nn — VecBackbone's index, same
    // quantizer by memo key so assignments are bit-identical); else
    // encode inline — cell + m codebook ids per vector, one pass, all
    // m+1 argmins fused into a single whole-stage-codegen projection
    val coded =
      if (codedOverride != null) codedOverride
      else {
        var enc = withCell(e0, "embedding", coarseCenters, "cell")
        for (b <- 0 until m)
          enc = withCell(enc, s"slice(embedding, ${b * sub + 1}, $sub)",
            blockCenters(b), s"c$b")
        enc.select(col("vec_id").as("n_id"), col("embedding").as("nv"),
          col("cell"), array((0 until m).map(b => col(s"c$b")): _*).as("codes"))
          .withColumn("nn", norm("nv"))
      }

    // query-side: ADC tables + probe cells, computed at query scale
    def sqdist(a: Array[Double], b: Array[Double]): Double = {
      var i = 0; var acc = 0.0
      while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
      acc
    }
    val qRows = e0.filter(col("vec_id") < 10).collect() // query set, not corpus
    val qFlat = qRows.toSeq.flatMap { r =>
      val qid = r.getLong(0)
      val qv = r.getSeq[Float](1)
      val qd = qv.map(_.toDouble).toArray
      val tabs: Seq[Seq[Double]] = (0 until m).map { b =>
        val qb = qd.slice(b * sub, (b + 1) * sub)
        blockCenters(b).map(c => sqdist(qb, c)).toSeq
      }.toSeq
      val cells = coarseCenters.zipWithIndex
        .sortBy { case (c, i) => (sqdist(qd, c), i) }.take(nProbe).map(_._2)
      cells.map(cell => (qid, cell, qv, tabs))
    }
    val qDf = qFlat.toDF("q_id", "cell", "qv", "tabs")
      .withColumn("qv", col("qv").cast("array<float>"))
      .withColumn("qn", norm("qv"))

    val wAdc = Window.partitionBy("q_id").orderBy(col("adc"), col("n_id"))
    val wCos = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    coded.join(broadcast(qDf), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("adc", expr(
        """aggregate(zip_with(codes, tabs, (c, t) -> element_at(t, c + 1)),
                     0D, (a, x) -> a + x)"""))
      .withColumn("rk", row_number().over(wAdc))
      .filter(col("rk") <= rerank)
      .withColumn("cos", round(dot("qv", "nv") / (col("qn") * col("nn")), 4))
      .withColumn("rnk", row_number().over(wCos))
      .filter(col("rnk") <= topK)
      .select(col("q_id"), col("rnk"), col("n_id"), col("cos"))
      .orderBy("q_id", "rnk")
  }

  /** Brute-force cosine top-5 in DuckDB — the oracle for d_knn_cosine and
    * (exhaustive-regime) d_ann_ivf / d_ann_ivfpq: with every cell probed
    * and no ADC pruning those pipelines must reproduce this exactly. */
  /** Shared SQ8 oracle prelude: corpus as DOUBLE[], the global scale
    * (max |x|, 1.0 floor on an all-zero corpus), signed-level codes,
    * and squared code norms — the DuckDB mirror of
    * [[VecBackbone.sq8Codes]]'s build arithmetic. */
  private def sq8Cte(tail: String): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
       sc AS (SELECT CASE WHEN max(m) > 0 THEN max(m) ELSE 1.0 END AS s
              FROM (SELECT list_max(list_transform(v, x -> abs(x))) AS m
                    FROM e)),
       c AS (SELECT e.vec_id,
                    list_transform(e.v, x -> floor(x * 127.0 / sc.s + 0.5))
                      AS codes
             FROM e, sc),
       cq AS (SELECT vec_id, codes,
                     list_inner_product(codes, codes) AS qq FROM c),
       $tail"""

  private val knnOracleSql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
       scored AS (
         SELECT q_id, e.vec_id AS n_id,
                round(list_cosine_similarity(qv, e.v), 4) AS cos
         FROM q JOIN e ON q_id <> e.vec_id)
       SELECT q_id, rnk, n_id, cos FROM (
         SELECT q_id, n_id, cos,
                CAST(row_number() OVER (PARTITION BY q_id
                  ORDER BY cos DESC, n_id) AS INT) AS rnk
         FROM scored) WHERE rnk <= 5
       ORDER BY q_id, rnk"""

  /** DuckDB mirror of the axis-banded postings (band i = sign bits of
    * dims [4i+1, 4i+4], the [[bandedSignBuckets]] axis geometry at the
    * catalog operating point b=2, r=4): a `post(vec_id, band, bucket)`
    * CTE body, generated so the bit weights can't drift from the Spark
    * expression. */
  private def bandedPostCte(bands: Int, planes: Int): String =
    (0 until bands).map { bd =>
      val sum = (0 until planes).map { i =>
        s"(CASE WHEN embedding[${bd * planes + i + 1}] >= 0 " +
          s"THEN ${1 << i} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, $bd AS band, $sum AS bucket FROM embeddings"
    }.mkString("\n         UNION ALL\n         ")

  /** Axis-sign bucketing → cosine-verified edges → recursive closure →
    * `clusters$x(vec_id, cluster_id)` — the reusable DuckDB mirror of
    * the semantic-dedup chain, suffix-parameterized like TextDedup's
    * `clustersCteFor` so cross-version audits can compose two corpus
    * versions in one statement. */
  private def vecClustersCtesFor(x: String, where: String): String =
    s"""e$x AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
              + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
              + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
              + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS bucket
         FROM embeddings $where),
       edges0$x AS (
         SELECT a.vec_id AS va, b.vec_id AS vb
         FROM e$x a JOIN e$x b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.3),
       edges$x AS (SELECT va AS a, vb AS b FROM edges0$x
                 UNION SELECT vb, va FROM edges0$x),
       reach$x(a, b) AS (
         SELECT a, b FROM edges$x
         UNION
         SELECT r.a, e2.b FROM reach$x r JOIN edges$x e2 ON r.b = e2.a),
       members$x AS (SELECT DISTINCT a AS vec_id FROM edges$x),
       clusters$x AS (
         SELECT m.vec_id, LEAST(m.vec_id, MIN(r.b)) AS cluster_id
         FROM members$x m LEFT JOIN reach$x r ON r.a = m.vec_id
         GROUP BY 1)"""

  /** DuckDB mirror of the quantizer-drift derivation: pinned centers =
    * first NCells history vectors, exact double assignment (score =
    * lip(c,c) − 2·lip(v,c), ties to lowest cid — row_number's order),
    * one micro-unit Lloyd step (order-free BIGINT sums of
    * round(x·10⁶)), re-assignment under the refit. Every arithmetic
    * step matches the Spark side bit-for-bit: sequential-fold dot
    * products, the same round-half-away-from-zero, the same
    * division. */
  private val ivfDriftCtes =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings),
       c1 AS (SELECT vec_id AS cid, v AS cv FROM e
              WHERE vec_id < ${VecBackbone.NCells}),
       s1 AS (SELECT e.vec_id, e.v, c1.cid,
                     list_inner_product(c1.cv, c1.cv)
                     - 2 * list_inner_product(e.v, c1.cv) AS sc
              FROM e CROSS JOIN c1),
       a1 AS (SELECT vec_id, v, cid AS cell FROM (
                SELECT vec_id, v, cid,
                       row_number() OVER (PARTITION BY vec_id
                         ORDER BY sc, cid) AS rk FROM s1)
              WHERE rk = 1),
       ref AS (SELECT cell, pos,
                      SUM(CAST(round(val * 1000000) AS BIGINT)) AS s,
                      COUNT(*) AS n
               FROM (SELECT cell,
                            unnest(generate_series(1, len(v))) AS pos,
                            unnest(v) AS val FROM a1)
               GROUP BY 1, 2),
       c1pos AS (SELECT cid, unnest(generate_series(1, len(cv))) AS pos,
                        unnest(cv) AS c1v FROM c1),
       c2pos AS (SELECT cp.cid, cp.pos,
                        COALESCE(r.s / (1000000.0 * r.n), cp.c1v) AS mv
                 FROM c1pos cp LEFT JOIN ref r
                   ON r.cell = cp.cid AND r.pos = cp.pos),
       c2 AS (SELECT cid, list(mv ORDER BY pos) AS cv FROM c2pos
              GROUP BY 1),
       s2 AS (SELECT e.vec_id, c2.cid,
                     list_inner_product(c2.cv, c2.cv)
                     - 2 * list_inner_product(e.v, c2.cv) AS sc
              FROM e CROSS JOIN c2),
       a2 AS (SELECT vec_id, cid AS cell2 FROM (
                SELECT vec_id, cid,
                       row_number() OVER (PARTITION BY vec_id
                         ORDER BY sc, cid) AS rk FROM s2)
              WHERE rk = 1)"""

  /** Full semantic re-clustering (axis-sign buckets, cosine >= 0.3,
    * min-label CC) — shared by d_dedup_semantic AND d_semantic_incr:
    * the incremental advance must reproduce the full rebuild exactly. */
  private val semanticClustersSql =
    s"""WITH RECURSIVE ${vecClustersCtesFor("", "")}
       SELECT vec_id, cluster_id,
              COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
       FROM clusters ORDER BY vec_id"""

  val oracles: Map[String, String] = Map(
    "d_ann_ivf" -> knnOracleSql,
    "d_ann_ivfpq" -> knnOracleSql,

    // The SQ8 pipeline reproduces wholesale: global scale (order-free
    // max), per-dim signed level floor(x·127/s + 0.5), int-exact code
    // dots (every sum < 2^53, so DuckDB's double list_inner_product
    // equals Spark's BIGINT fold bit-for-bit), quantized-cosine top-5.
    "d_ann_sq8" -> sq8Cte(
      """q AS (SELECT vec_id AS q_id, codes AS qc, qq AS qqq
               FROM cq WHERE vec_id < 10),
         scored AS (
           SELECT q_id, n.vec_id AS n_id,
                  CASE WHEN qqq = 0 OR n.qq = 0 THEN 0.0
                       ELSE round(list_inner_product(qc, n.codes)
                                  / sqrt(qqq * n.qq), 4) END AS cos_q
           FROM q JOIN cq n ON n.vec_id <> q_id)
         SELECT q_id, rnk, n_id, cos_q FROM (
           SELECT q_id, n_id, cos_q,
                  CAST(row_number() OVER (PARTITION BY q_id
                    ORDER BY cos_q DESC, n_id) AS INT) AS rnk
           FROM scored) WHERE rnk <= 5
         ORDER BY q_id, rnk"""),

    // Clip audit: pinned history scale (n/2 split), per-side clip
    // counts under the same floor-past-127 predicate the clamp uses.
    "d_ann_sq8_clip" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         sp AS (SELECT COUNT(*) // 2 AS k FROM e),
         sc AS (SELECT CASE WHEN max(m) > 0 THEN max(m) ELSE 1.0 END AS s
                FROM (SELECT list_max(list_transform(v, x -> abs(x))) AS m
                      FROM e, sp WHERE vec_id < sp.k)),
         t AS (SELECT CASE WHEN e.vec_id < sp.k THEN 'history'
                           ELSE 'batch' END AS side,
                      list_max(list_transform(e.v, x -> abs(x))) AS mx,
                      sc.s AS s
               FROM e, sp, sc)
         SELECT side, CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(CASE WHEN floor(mx * 127.0 / s + 0.5) > 127
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
                round(CAST(SUM(CASE WHEN floor(mx * 127.0 / s + 0.5) > 127
                                    THEN 1 ELSE 0 END) AS DOUBLE)
                      / COUNT(*), 6) AS clip_frac,
                round(max(mx) / s, 6) AS max_ratio
         FROM t GROUP BY side, s ORDER BY side""",

    // SQ8 recall audit: exact float top-5 vs quantized top-5, both
    // ranked by (round(cos, 4) DESC, n_id) — overlap per query.
    "d_ann_recall_sq8" -> sq8Cte(
      """q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 200),
         ex AS (SELECT q_id, n_id FROM (
                  SELECT q_id, e2.vec_id AS n_id,
                         CAST(row_number() OVER (PARTITION BY q_id
                           ORDER BY (CASE WHEN list_inner_product(qv, qv) = 0
                                            OR list_inner_product(e2.v, e2.v) = 0
                                          THEN 0.0
                                          ELSE round(list_cosine_similarity(qv, e2.v), 4)
                                     END)
                                      DESC, e2.vec_id) AS INT) AS rnk
                  FROM q JOIN e e2 ON e2.vec_id <> q_id) WHERE rnk <= 5),
         q8 AS (SELECT vec_id AS q_id, codes AS qc, qq AS qqq
                FROM cq WHERE vec_id < 200),
         s8 AS (SELECT q_id, n_id FROM (
                  SELECT q_id, n.vec_id AS n_id,
                         CAST(row_number() OVER (PARTITION BY q_id
                           ORDER BY (CASE WHEN qqq = 0 OR n.qq = 0 THEN 0.0
                                          ELSE round(list_inner_product(qc, n.codes)
                                                     / sqrt(qqq * n.qq), 4) END)
                                      DESC, n.vec_id) AS INT) AS rnk
                  FROM q8 JOIN cq n ON n.vec_id <> q_id) WHERE rnk <= 5),
         h AS (SELECT ex.q_id, CAST(COUNT(*) AS BIGINT) AS hits
               FROM ex JOIN s8 ON s8.q_id = ex.q_id AND s8.n_id = ex.n_id
               GROUP BY 1)
         SELECT q.q_id AS q_id, CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
                round(CAST(COALESCE(h.hits, 0) AS DOUBLE) / 5.0, 4) AS recall5
         FROM q LEFT JOIN h ON h.q_id = q.q_id ORDER BY 1"""),

    // The LSH pipeline reproduces wholesale: axis-sign bucketing (the
    // d_dedup_semantic trick) + bucket-restricted exact top-5.
    "d_ann_lsh" ->
      """WITH e AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                  (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
                + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
                + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
                + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS bucket
           FROM embeddings),
         q AS (SELECT vec_id AS q_id, v AS qv, bucket AS qb
               FROM e WHERE vec_id < 10),
         scored AS (
           SELECT q_id, e.vec_id AS n_id, e.bucket,
                  round(list_cosine_similarity(qv, e.v), 4) AS cos
           FROM q JOIN e ON e.bucket = qb AND q_id <> e.vec_id)
         SELECT q_id, rnk, n_id, cos, bucket FROM (
           SELECT q_id, n_id, cos, bucket,
                  CAST(row_number() OVER (PARTITION BY q_id
                    ORDER BY cos DESC, n_id) AS INT) AS rnk
           FROM scored) WHERE rnk <= 5
         ORDER BY q_id, rnk""",

    // Banded pipeline reproduces wholesale: two axis bands' postings,
    // (band, bucket) candidate join, cross-band collapse with the
    // bands-hit count, exact cosine top-5.
    "d_ann_lsh_banded" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                     FROM embeddings),
         post AS (
           ${bandedPostCte(2, 4)}),
         qp AS (SELECT vec_id AS q_id, band, bucket FROM post
                WHERE vec_id < 10),
         cand AS (
           SELECT q_id, p.vec_id AS n_id, CAST(COUNT(*) AS BIGINT) AS bands_hit
           FROM qp JOIN post p
             ON p.band = qp.band AND p.bucket = qp.bucket
            AND p.vec_id <> q_id
           GROUP BY 1, 2),
         scored AS (
           SELECT q_id, n_id, bands_hit,
                  round(list_cosine_similarity(qe.v, ne.v), 4) AS cos
           FROM cand
           JOIN e qe ON qe.vec_id = q_id
           JOIN e ne ON ne.vec_id = n_id)
         SELECT q_id, rnk, n_id, cos, bands_hit FROM (
           SELECT q_id, n_id, cos, bands_hit,
                  CAST(row_number() OVER (PARTITION BY q_id
                    ORDER BY cos DESC, n_id) AS INT) AS rnk
           FROM scored) WHERE rnk <= 5
         ORDER BY q_id, rnk""",

    "d_knn_cosine" -> knnOracleSql,

    // Quantizer drift, per-cell churn: assignment under the pinned
    // centers vs under the one-step refit, plus how far each center
    // moved (|c1|² + |c2|² − 2·c1·c2 — all sequential-fold
    // list_inner_products, so the shift matches the Spark side's
    // driver arithmetic bit-for-bit before the round).
    "d_ann_ivf_drift" ->
      s"""WITH $ivfDriftCtes,
         moved AS (
           SELECT a1.cell,
                  CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(CASE WHEN a2.cell2 <> a1.cell THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_moved
           FROM a1 JOIN a2 ON a1.vec_id = a2.vec_id GROUP BY 1),
         shift AS (
           SELECT c1.cid AS cell,
                  sqrt(greatest(0,
                    list_inner_product(c1.cv, c1.cv)
                    + list_inner_product(c2.cv, c2.cv)
                    - 2 * list_inner_product(c1.cv, c2.cv))) AS sh
           FROM c1 JOIN c2 ON c1.cid = c2.cid)
         SELECT CAST(s.cell AS INT) AS cell,
                CAST(COALESCE(m.n, 0) AS BIGINT) AS n,
                CAST(COALESCE(m.n_moved, 0) AS BIGINT) AS n_moved,
                round(CAST(COALESCE(m.n_moved, 0) AS DOUBLE)
                      / CAST(greatest(COALESCE(m.n, 0), 1) AS DOUBLE), 6)
                  AS moved_frac,
                round(s.sh, 6) AS center_shift
         FROM shift s LEFT JOIN moved m ON m.cell = s.cell
         ORDER BY 1""",

    // Quantizer drift, probed-cell recall delta: exact top-5 truth per
    // query; hits = truth neighbors whose (pinned | refit) cell lands
    // in the query's 2 nearest (pinned | refit) cells.
    "d_ann_ivf_drift_recall" ->
      s"""WITH $ivfDriftCtes,
         en AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nn
                FROM e),
         q AS (SELECT vec_id AS q_id, v AS qv, nn AS qn FROM en
               WHERE vec_id < 10),
         truth AS (SELECT q_id, n_id FROM (
             SELECT q_id, en.vec_id AS n_id,
                    row_number() OVER (PARTITION BY q_id ORDER BY
                      round(list_inner_product(qv, en.v) / (qn * en.nn), 4)
                        DESC, en.vec_id) AS rnk
             FROM q JOIN en ON en.vec_id <> q_id) WHERE rnk <= 5),
         p1 AS (SELECT q_id, cid AS cell FROM (
             SELECT q.q_id, c1.cid,
                    row_number() OVER (PARTITION BY q.q_id ORDER BY
                      list_inner_product(c1.cv, c1.cv)
                      - 2 * list_inner_product(q.qv, c1.cv), c1.cid) AS rk
             FROM q CROSS JOIN c1) WHERE rk <= 2),
         p2 AS (SELECT q_id, cid AS cell2 FROM (
             SELECT q.q_id, c2.cid,
                    row_number() OVER (PARTITION BY q.q_id ORDER BY
                      list_inner_product(c2.cv, c2.cv)
                      - 2 * list_inner_product(q.qv, c2.cv), c2.cid) AS rk
             FROM q CROSS JOIN c2) WHERE rk <= 2),
         hits AS (
           SELECT t.q_id,
                  CAST(COUNT(*) AS BIGINT) AS n_truth,
                  CAST(SUM(CASE WHEN p1.cell IS NOT NULL THEN 1 ELSE 0 END)
                       AS BIGINT) AS hits_pinned,
                  CAST(SUM(CASE WHEN p2.cell2 IS NOT NULL THEN 1 ELSE 0 END)
                       AS BIGINT) AS hits_refit
           FROM truth t
           JOIN a1 ON a1.vec_id = t.n_id
           JOIN a2 ON a2.vec_id = t.n_id
           LEFT JOIN p1 ON p1.q_id = t.q_id AND p1.cell = a1.cell
           LEFT JOIN p2 ON p2.q_id = t.q_id AND p2.cell2 = a2.cell2
           GROUP BY 1)
         SELECT q_id, n_truth, hits_pinned, hits_refit,
                round(CAST(hits_pinned AS DOUBLE)
                      / CAST(n_truth AS DOUBLE), 6) AS recall_pinned,
                round(CAST(hits_refit AS DOUBLE)
                      / CAST(n_truth AS DOUBLE), 6) AS recall_refit
         FROM hits ORDER BY q_id""",

    "d_dedup_semantic" -> semanticClustersSql,

    // Shared contract: the incrementally-advanced labels must equal the
    // full re-clustering bit-for-bit.
    "d_semantic_incr" -> semanticClustersSql,

    // Drift: the full-corpus clustering (unsuffixed CTEs) next to the
    // previous-version clustering (suffix `p`, vecs below the
    // half-split); prev labels left-joined onto current members, absent
    // history labels defaulting to self, batch vecs to -1.
    "d_semantic_drift" ->
      s"""WITH RECURSIVE ${vecClustersCtesFor("", "")},
          spl AS (SELECT COUNT(*) // 2 AS v FROM embeddings),
          ${vecClustersCtesFor("p", "WHERE vec_id < (SELECT v FROM spl)")}
          SELECT c.vec_id,
                 CASE WHEN c.vec_id < (SELECT v FROM spl)
                      THEN COALESCE(p.cluster_id, c.vec_id)
                      ELSE -1 END AS cluster_prev,
                 c.cluster_id,
                 CAST(CASE WHEN c.vec_id < (SELECT v FROM spl)
                           THEN COALESCE(p.cluster_id, c.vec_id)
                           ELSE -1 END <> c.cluster_id AS INT) AS changed
          FROM clusters c
          LEFT JOIN clustersp p ON c.vec_id = p.vec_id
          ORDER BY c.vec_id""",

    // Exhaustive form of the stored-delta probe: batch x history within
    // axis-sign buckets at cosine >= 0.3 — the stored-tables-only plan
    // must agree row-for-row with this full cross derivation.
    "d_semantic_delta_stored" ->
      """WITH e AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                  (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
                + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
                + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
                + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS bucket
           FROM embeddings),
         spl AS (SELECT COUNT(*) // 2 AS v FROM embeddings),
         h AS (SELECT * FROM e WHERE vec_id < (SELECT v FROM spl)),
         b AS (SELECT * FROM e WHERE vec_id >= (SELECT v FROM spl)),
         near AS (
           SELECT b.vec_id, MIN(h.vec_id) AS near_dup_of,
                  COUNT(*) AS n_near
           FROM b JOIN h ON b.bucket = h.bucket
           WHERE round(list_cosine_similarity(b.v, h.v), 4) >= 0.3
           GROUP BY b.vec_id)
         SELECT b.vec_id, n.near_dup_of, COALESCE(n.n_near, 0) AS n_near,
                CASE WHEN n.near_dup_of IS NOT NULL THEN 'dup_near'
                     ELSE 'new' END AS verdict
         FROM b LEFT JOIN near n ON b.vec_id = n.vec_id
         ORDER BY b.vec_id""",

    // Banded full re-clustering: banded edges (any-band collision,
    // cosine >= 0.3) -> recursive closure -> min-label clusters — the
    // rebuild the banded incremental advance must equal.
    "d_semantic_incr_banded" ->
      s"""WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                     FROM embeddings),
         post AS (
           ${bandedPostCte(2, 4)}),
         edges0 AS (
           SELECT DISTINCT pa.vec_id AS va, pb.vec_id AS vb
           FROM post pa
           JOIN post pb ON pa.band = pb.band AND pa.bucket = pb.bucket
                       AND pa.vec_id < pb.vec_id
           JOIN e a ON a.vec_id = pa.vec_id
           JOIN e b ON b.vec_id = pb.vec_id
           WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.3),
         edges AS (SELECT va AS a, vb AS b FROM edges0
                   UNION SELECT vb, va FROM edges0),
         reach(a, b) AS (
           SELECT a, b FROM edges
           UNION
           SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a),
         members AS (SELECT DISTINCT a AS vec_id FROM edges),
         clusters AS (
           SELECT m.vec_id, LEAST(m.vec_id, MIN(r.b)) AS cluster_id
           FROM members m LEFT JOIN reach r ON r.a = m.vec_id
           GROUP BY 1)
         SELECT vec_id, cluster_id,
                COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
         FROM clusters ORDER BY vec_id""",

    // Banded stored delta: candidates = any-band collision between the
    // batch and history halves, cosine-verified exhaustively.
    "d_semantic_delta_banded" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                     FROM embeddings),
         post AS (
           ${bandedPostCte(2, 4)}),
         spl AS (SELECT COUNT(*) // 2 AS v FROM embeddings),
         cand AS (
           SELECT DISTINCT b.vec_id AS bid, h.vec_id AS hid
           FROM post b JOIN post h
             ON b.band = h.band AND b.bucket = h.bucket
           WHERE b.vec_id >= (SELECT v FROM spl)
             AND h.vec_id < (SELECT v FROM spl)),
         near AS (
           SELECT bid, MIN(hid) AS near_dup_of,
                  CAST(COUNT(*) AS BIGINT) AS n_near
           FROM cand
           JOIN e be ON be.vec_id = bid
           JOIN e he ON he.vec_id = hid
           WHERE round(list_cosine_similarity(be.v, he.v), 4) >= 0.3
           GROUP BY bid)
         SELECT b.vec_id, n.near_dup_of,
                COALESCE(n.n_near, 0) AS n_near,
                CASE WHEN n.near_dup_of IS NOT NULL THEN 'dup_near'
                     ELSE 'new' END AS verdict
         FROM (SELECT vec_id FROM embeddings
               WHERE vec_id >= (SELECT v FROM spl)) b
         LEFT JOIN near n ON n.bid = b.vec_id
         ORDER BY b.vec_id""",

    "d_dedup_cosine" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
         SELECT a.vec_id AS va, b.vec_id AS vb,
                round(list_cosine_similarity(a.v, b.v), 4) AS cos
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         WHERE a.vec_id < 200
           AND round(list_cosine_similarity(a.v, b.v), 4) >= 0.3
         ORDER BY va, vb""",

    // Recall audit: the exhaustive truth above, each pair flagged with
    // whether the axis-sign buckets (the stored inverted list's keys,
    // recomputed here — a vector's bucket depends only on itself) agree.
    "d_ann_recall" ->
      """WITH e AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                  (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
                + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
                + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
                + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS bucket
           FROM embeddings)
         SELECT a.vec_id AS va, b.vec_id AS vb,
                round(list_cosine_similarity(a.v, b.v), 4) AS cos,
                CAST(a.bucket = b.bucket AS INT) AS caught
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         WHERE a.vec_id < 200
           AND round(list_cosine_similarity(a.v, b.v), 4) >= 0.3
         ORDER BY va, vb""",

    // Banded recall: the same exhaustive truth, caught = ANY band's
    // buckets collide, bands_hit = how many do.
    "d_ann_recall_banded" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                     FROM embeddings),
         post AS (
           ${bandedPostCte(2, 4)}),
         truth AS (
           SELECT a.vec_id AS va, b.vec_id AS vb,
                  round(list_cosine_similarity(a.v, b.v), 4) AS cos
           FROM e a JOIN e b ON a.vec_id < b.vec_id
           WHERE a.vec_id < 200
             AND round(list_cosine_similarity(a.v, b.v), 4) >= 0.3)
         SELECT t.va, t.vb, t.cos,
                CAST(MAX(CASE WHEN pa.bucket = pb.bucket
                              THEN 1 ELSE 0 END) AS INT) AS caught,
                CAST(SUM(CASE WHEN pa.bucket = pb.bucket
                              THEN 1 ELSE 0 END) AS BIGINT) AS bands_hit
         FROM truth t
         JOIN post pa ON pa.vec_id = t.va
         JOIN post pb ON pb.vec_id = t.vb AND pb.band = pa.band
         GROUP BY 1, 2, 3
         ORDER BY va, vb"""
  )
}
