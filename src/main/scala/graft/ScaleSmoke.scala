package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-stress main for the iterative/quadratic-prone operators: builds
  * synthetic document + embedding corpora K× the sf0.1 fixtures (seeded,
  * clustered so near-dup structure exists at every scale) and measures
  * BOTH wall-clock and **candidate-pair counts** for every sub-quadratic
  * claim the dedup/ANN stack makes.
  *
  * Purpose: the small-SF catalog proves CORRECTNESS; this proves the
  * SHAPE — that candidate generation stays bucket-local (candidates grow
  * ~linearly in corpus size when the knobs follow their documented
  * sizing rules, vs the n² all-pairs space), that component rounds grow
  * with log(diameter) not corpus size, and that wall-clock grows
  * ~linearly in rows. Run: `tools/scale_smoke.sh [multipliers...]`;
  * measured curves are recorded in SCALE.md.
  *
  * Knob sizing under test (the documented rules):
  *  - sign-LSH planes: 2^planes ≈ n/30  (Similarity.semanticDedup)
  *  - IVF cells: ~250 vectors/cell, nProbe fixed  (Similarity ivf paths)
  *  - minhash bands: fixed 8 hashes × 4 bands; buckets multiply with the
  *    shingle alphabet, dup-group size stays bounded (TextDedup)
  */
object ScaleSmoke {

  /** Embedding corpus: mixture over FIXED-SIZE clusters (~50 points, the
    * bounded dup-group shape of real corpora — cluster COUNT grows with
    * n, not cluster size): each cluster has a seeded ±1.5 sign pattern on
    * the first 16 dims, so its points agree on every sign-LSH plane (the
    * noise never flips a ±1.5 signal) and form a same-bucket clique of
    * mutual near-dups (same-cluster cosine ≈ 0.93, cross-cluster ≈ 0),
    * while cluster patterns spread uniformly over buckets. */
  def synthEmbeddings(spark: SparkSession, n: Int, dims: Int, out: String): Unit = {
    val clusters = math.max(4, n / 50)
    val df = spark.range(n.toLong).select(col("id").as("vec_id"),
        (col("id") % clusters).as("c"))
      .withColumn("embedding", expr(
        s"""transform(sequence(0, ${dims - 1}), i ->
              CAST(IF(i < 16, IF(pmod(hash(c, i), 2) = 0, 1.5, -1.5), 0.0)
                   + (pmod(hash(vec_id, i), 1000) / 1000.0 - 0.5) * 0.8
                AS FLOAT))"""))
      .select("vec_id", "embedding")
    df.repartition(32).write.mode("overwrite").parquet(s"$out/embeddings.parquet")
  }

  /** Document corpus: fixed-size dup FAMILIES of 5 docs sharing a 40-word
    * template drawn from a 500-word vocabulary (seeded by hash(family,
    * position)); each doc perturbs ~1/8 of its positions with doc-seeded
    * replacement words. Within a family the bigram Jaccard lands ≈ 0.6
    * (above the 0.5 verify threshold); across families the bigram sets
    * are effectively disjoint (500² possible bigrams). Family SIZE is
    * constant as n grows — the realistic shape: a bigger crawl has more
    * dup groups, not bigger ones. */
  def synthDocuments(spark: SparkSession, n: Int, out: String): Unit = {
    val df = spark.range(n.toLong).select(col("id").as("doc_id"))
      .withColumn("text", expr(
        """concat_ws(' ', transform(sequence(0, 39), p ->
             IF(pmod(hash(doc_id, p, 99), 8) = 0,
                concat('x', pmod(hash(doc_id, p), 500)),
                concat('w', pmod(hash(CAST(doc_id DIV 5 AS INT), p), 500)))))"""))
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("scale-smoke"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    df.repartition(32).write.mode("overwrite").parquet(s"$out/documents.parquet")
  }

  def timeIt(label: String, f: => Long): Long = {
    val t0 = System.nanoTime()
    val n = f
    println(f"[scale] $label%-42s ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($n%,d rows)")
    n
  }

  /** Σ c·(c−1)/2 over a bucket histogram — the exact candidate-pair count
    * a bucket-keyed self-join generates. */
  private def pairSum(hist: DataFrame): Long =
    // coalesce: sum over an empty histogram is NULL, and getLong on a
    // NULL cell NPEs — an empty corpus sweep must print 0, not crash
    hist.agg(coalesce(sum(expr("n * (n - 1) / 2")), lit(0L)).cast("long"))
      .head.getLong(0)

  /** Section gate: `SPARK_GRAFT_SMOKE_ONLY=<name>` runs one sweep alone
    * (drill-down); unset runs everything. Unknown names fail fast — a
    * typo must not masquerade as a sweep that produced no output. */
  private val knownSections =
    Set("orderstats", "vec-advance", "advance-soak", "wh-gc", "vec-geometry",
      "capacity-decade", "banded-cost", "skew", "sq8-compact", "decade-full")
  private val only = sys.env.get("SPARK_GRAFT_SMOKE_ONLY")
  only.foreach(o => require(knownSections(o),
    s"unknown SPARK_GRAFT_SMOKE_ONLY section '$o'; known: " +
      knownSections.mkString(", ")))
  private def section(name: String)(body: => Unit): Unit = {
    require(knownSections(name), s"section '$name' not registered")
    if (only.forall(_ == name)) body
  }

  /** Cross-multiplier state for the banded-cost gate: (kind, mult) →
    * (candidates per vector, advance shuffle-write bytes). */
  private val bandedCost =
    scala.collection.mutable.Map[(String, Int), (Double, Long)]()

  /** WHALE events corpus for the skew certification (VERDICT r14 #2):
    * user 0 holds ~10 % of all events, the rest spread uniformly over
    * 1,000 users — the one-bot-user shape the uniform fixtures cannot
    * surface. Event types cycle the funnel alphabet so every per-user
    * key does real chain work on the whale's stream; timestamps spread
    * over 30 days so windows neither saturate nor empty. */
  def synthEventsWhale(spark: SparkSession, n: Int, out: String): Unit = {
    val df = spark.range(n.toLong).select(
      col("id").as("event_id"),
      expr("""timestamp '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0,
              0, 0, CAST(pmod(hash(id, 3), 2592000) AS DOUBLE))""").as("ts"),
      expr("IF(pmod(id, 10) = 0, 0L, 1 + pmod(hash(id, 5), 1000))")
        .cast("long").as("user_id"),
      expr("""element_at(array('signup', 'view', 'click', 'purchase',
              'scroll'), CAST(pmod(hash(id, 7), 5) AS INT) + 1)""")
        .as("event_type"),
      (expr("pmod(hash(id, 9), 1000)") / 10.0).as("value"),
      lit("{}").as("props"))
    df.repartition(32).write.mode("overwrite").parquet(s"$out/events.parquet")
  }

  /** Per-TASK skew meter: per stage, every task's duration and shuffle-
    * read bytes — the straggler signal ShuffleAudit's per-key TOTALS
    * cannot see (a whale user serializes one task while the sums stay
    * linear). Read side: the worst stage by max task duration among
    * stages with enough tasks for a median to mean anything. */
  private final class SkewMeter(spark: SparkSession) {
    import scala.jdk.CollectionConverters._
    private val tasks = new java.util.concurrent.ConcurrentHashMap[
      Int, java.util.List[(Long, Long)]]()
    private val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null && te.taskInfo != null) {
          tasks.computeIfAbsent(te.stageId,
              _ => java.util.Collections.synchronizedList(
                new java.util.ArrayList[(Long, Long)]()))
            .add((te.taskInfo.duration,
              m.shuffleReadMetrics.totalBytesRead)): Unit
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    def detach(): Unit = spark.sparkContext.removeSparkListener(listener)
    /** The listener bus is ASYNC: the whale task's TaskEnd — by
      * construction the LAST event of the measured stage, i.e. the
      * straggler being certified — can still be in flight when count()
      * returns, and late warm-run events can land after a bare clear().
      * Wait for two consecutive still total-counts before reading or
      * resetting (ShuffleAudit.Meter's settle contract). */
    def settle(): Unit = {
      import scala.jdk.CollectionConverters._
      var still = 0
      var last = -1L
      val deadline = System.nanoTime + 10L * 1000 * 1000 * 1000
      while (still < 2 && System.nanoTime < deadline) {
        val now = tasks.asScala.valuesIterator.map(_.size.toLong).sum
        if (now == last) still += 1 else still = 0
        last = now; Thread.sleep(200)
      }
      if (still < 2) println(
        "[scale] WARNING: skew listener did not settle; a straggler " +
          "task may be missing from the measurement")
    }
    def reset(): Unit = { settle(); tasks.clear() }
    /** (tasks, maxMs, medianMs, maxReadB, medianReadB) of the worst
      * stage (by max task duration) among stages with >= minTasks. */
    def worstStage(minTasks: Int = 8): Option[(Int, Long, Long, Long, Long)] = {
      settle()
      // copy under each list's monitor: events may still arrive for
      // OTHER stages while this one is read
      val byStage = tasks.asScala.toSeq
        .map { case (_, l) => l.synchronized(l.asScala.toVector) }
        .filter(_.size >= minTasks)
      if (byStage.isEmpty) None
      else {
        // the stage of interest is the EXCHANGE CONSUMER (the user-keyed
        // sort/window stage) — pick by max task shuffle-read; a scan
        // stage (read 0) only wins when nothing shuffles at all
        val worst = byStage.maxBy(st => (st.map(_._2).max, st.map(_._1).max))
        def med(xs: Seq[Long]): Long = xs.sorted.apply(xs.size / 2)
        Some((worst.size, worst.map(_._1).max, med(worst.map(_._1)),
          worst.map(_._2).max, med(worst.map(_._2))))
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val mults = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 4, 16)
    val spark = EngineSession.local(appName = "graft-scale-smoke")
    val baseVecs = 2000 // sf0.1 embeddings fixture size
    val baseDocs = 5000 // sf0.1 documents fixture size
    mults.foreach { m =>
      val dir = s"${sys.props("java.io.tmpdir")}/graft_scale_$m"
      val nVec = baseVecs * m
      val nDoc = baseDocs * m

      // ---- exact weighted CDF: 3-task window vs distributed prefix sum
      // The o_a27 scale question isolated: same totally-ordered weighted
      // rows (3-value group key, near-unique values — the lineitem
      // shape), cumulated by (a) the naive window partitioned by the
      // 3-value key (parallelism 3 forever) and (b) OrderStats
      // .weightedCdf (parallelism = shuffle partitions). The distributed
      // form pays ~3 extra stages of fixed scheduling latency — the
      // crossover is where data outgrows 3 cores, and the GAP above it
      // is the number that multiplies with corpus size.
      section("orderstats") {
        val nRows = 600000L * m // sf0.1 lineitem size × m
        val src = spark.range(nRows).select(
            expr("element_at(array('A','N','R'), CAST(pmod(hash(id), 3) AS INT) + 1)").as("k"),
            expr("pmod(hash(id, 7), 1000000)").cast("long").as("v"),
            col("id"),
            expr("1 + pmod(hash(id, 13), 50)").cast("long").as("wt"))
        def medianCount(cdf: DataFrame): Long = cdf
          .filter(col("cum") * 2 >= col("tot"))
          .groupBy("k").agg(min("v").as("m")).count()
        val byVal = org.apache.spark.sql.expressions.Window
          .partitionBy("k").orderBy("v", "id")
          .rowsBetween(Long.MinValue, 0)
        val whole = org.apache.spark.sql.expressions.Window.partitionBy("k")
        timeIt(f"wcdf naive 3-task window x$m (n=$nRows%,d)",
          medianCount(src.withColumn("cum", sum("wt").over(byVal))
            .withColumn("tot", sum("wt").over(whole))))
        timeIt(f"wcdf distributed         x$m (n=$nRows%,d)", {
          // gate pinned to 0: this A/B measures the distributed form
          // itself — the adaptive gate would reroute small multipliers
          val (cdf, caches) = operators.OrderStats.withGateBytes(0)(
            operators.OrderStats.weightedCdfPlan(src, "k", Seq("v", "id"), "wt"))
          val n = medianCount(cdf)
          caches.foreach(_.unpersist())
          n
        })
      }
      // the corpus sweeps below have no individual section names: they
      // run as one block unless a drill-down section was requested; the
      // sectioned corpus sweeps (vec-advance, advance-soak) synthesize
      // on their own when drilled into
      // each drill-down synthesizes only what it reads: vec-advance and
      // vec-geometry consume embeddings, advance-soak documents (wh-gc
      // synthesizes its own per-day corpora)
      if (only.isEmpty || only.exists(Set("vec-advance", "vec-geometry",
          "banded-cost", "sq8-compact")))
        synthEmbeddings(spark, nVec, 64, dir)
      if (only.isEmpty || only.contains("advance-soak"))
        synthDocuments(spark, nDoc, dir)
      if (only.isEmpty) {

      // ---- semantic dedup (sign-LSH planes, 2^planes ≈ n/30) ----------
      val planes = sys.env.get("SPARK_GRAFT_SMOKE_PLANES").map(_.toInt)
        .getOrElse(pipeline.Similarity.planesFor(nVec))
      val e = Tables.embeddings(spark, dir)
      val bucketed = pipeline.Similarity.signBuckets(spark, e, planes)
      val semCand = pairSum(bucketed.groupBy("bucket").count()
        .select(col("count").as("n")))
      println(f"[scale] semantic candidates x$m (n=$nVec, planes=$planes): " +
        f"$semCand%,d pairs  (${semCand.toDouble / nVec}%.1f per vec; " +
        f"all-pairs ${nVec.toLong * (nVec - 1) / 2}%,d)")
      timeIt(f"semanticDedup x$m (n=$nVec, planes=$planes)",
        pipeline.Similarity.semanticDedup(spark, e, planes, 0.3).count())

      // ---- ANN probe cost (sign-LSH + IVF, cells ≈ n/250) -------------
      timeIt(f"d_ann_lsh     x$m (n=$nVec)",
        SparkEntry.queries("d_ann_lsh")(spark, dir).count())
      val nCells = math.max(8, nVec / 250)
      val probed = pipeline.Similarity.ivfProbedCandidates(
        spark, e, nCells = nCells, nProbe = 2, nQueries = 10)
      println(f"[scale] ivf probed    x$m (n=$nVec, cells=$nCells): " +
        f"$probed%,d candidates  (${probed * 100.0 / (10L * nVec)}%.1f%% of " +
        f"10-query brute force)")

      // ---- minhash LSH (fixed 8 hashes × 4 bands) ---------------------
      val mh = pipeline.TextDedup.minhashPairsPlan(spark, dir)
      val mhCand = pairSum(mh.bands.groupBy("band", "bkey").count()
        .select(col("count").as("n")))
      println(f"[scale] minhash candidates x$m (n=$nDoc): $mhCand%,d pairs  " +
        f"(${mhCand.toDouble / nDoc}%.1f per doc; " +
        f"all-pairs ${nDoc.toLong * (nDoc - 1) / 2}%,d)")
      timeIt(f"minhash verified pairs x$m (n=$nDoc)", mh.pairs.count())
      mh.caches.foreach(_.unpersist())
      // the spurious-collision knob: same bands, r=4 rows per band —
      // the candidate floor shrinks as J_background^r
      val mh4 = pipeline.TextDedup.minhashPairsPlan(spark, dir,
        nBands = 4, rowsPerBand = 4)
      val mh4Cand = pairSum(mh4.bands.groupBy("band", "bkey").count()
        .select(col("count").as("n")))
      println(f"[scale] minhash r=4 candidates x$m (n=$nDoc): $mh4Cand%,d pairs  " +
        f"(${mh4Cand.toDouble / nDoc}%.2f per doc vs r=2's " +
        f"${mhCand.toDouble / nDoc}%.2f)")
      mh4.caches.foreach(_.unpersist())

      // ---- keep-best / curation tail (cluster window + packing) -------
      // The keeper window partitions by cluster_id: its worst partition
      // is the LARGEST near-dup cluster, which tracks dup-group size
      // (fixed by corpus construction), not n — the skew-safety claim.
      val (keepDf, kCaches) = pipeline.TextDedup.clusterKeepers(spark, dir)
      // size counts EVERY member including the representative (whose
      // label equals its own id) — filtering it out first understated
      // each cluster, and this number IS the window partition bound;
      // singletons drop via count >= 2, not via the representative filter
      val cs = keepDf.groupBy("cluster_id").count()
        .filter(col("count") >= 2)
        .agg(coalesce(max("count"), lit(0L)), coalesce(avg("count"), lit(0.0)),
          count(lit(1))).head
      println(f"[scale] keeper clusters x$m (n=$nDoc): ${cs.getLong(2)}%,d " +
        f"non-trivial clusters, max size ${cs.getLong(0)}, " +
        f"mean ${cs.getDouble(1)}%.2f (window partition bound)")
      kCaches.foreach(_.unpersist())
      // Delta dedup probe cost: with history = the corpus's first half,
      // a new batch's near-dup work is its band-bucket collisions against
      // history — the quantity that must stay ~constant per batch doc as
      // history grows for the daily-ingest contract to hold.
      val mhD = pipeline.TextDedup.minhashPairsPlan(spark, dir)
      val splitId = nDoc / 2
      val deltaCand = mhD.bands.as("h").join(mhD.bands.as("b"),
          col("h.band") === col("b.band") && col("h.bkey") === col("b.bkey") &&
            col("h.doc_id") < lit(splitId) && col("b.doc_id") >= lit(splitId))
        .select("h.doc_id", "b.doc_id").distinct().count()
      println(f"[scale] delta candidates x$m (history=$splitId, batch=${nDoc - splitId}): " +
        f"$deltaCand%,d cross pairs  (${deltaCand.toDouble / (nDoc - splitId)}%.2f per batch doc)")
      mhD.caches.foreach(_.unpersist())
      // ---- incremental advance vs full rebuild ------------------------
      // The maintenance contract: with a FIXED daily batch and a history
      // that grows with m, `Backbone.advance` must stay ~flat (its work
      // is |batch| signing + band probes + touched-component repair)
      // while a from-scratch rebuild grows with the corpus. History
      // tables are yesterday's state — built untimed before the clock
      // starts; both sides end in a label-table count.
      val batchN = baseDocs / 2
      val advSplit = (nDoc - batchN).toLong
      pipeline.Backbone.history(spark, dir, advSplit)
      timeIt(f"backbone advance x$m (hist=$advSplit%,d, batch=$batchN%,d)", {
        val (adv, aCaches) = pipeline.Backbone.advancePlan(spark, dir, advSplit)
        val n = adv.count()
        aCaches.foreach(_.unpersist())
        n
      })
      timeIt(f"backbone rebuild x$m (n=$nDoc%,d)", {
        val mhR = pipeline.TextDedup.minhashPairsPlan(spark, dir)
        val edges = pipeline.Graph.symmetrize(mhR.pairs, "da", "db").persist()
        val (lbl, lCaches) = pipeline.Graph.minLabelComponents(edges)
        val n = lbl.count()
        ((edges +: lCaches) ++ mhR.caches).foreach(_.unpersist())
        n
      })

      // Packing balance: bucket fan-out is the parallelism knob — per-
      // bucket row spread must stay tight or one straggler serializes.
      val pb = pipeline.Packing
        .packSequences(Tables.documents(spark, dir), 2048, 32)
        .groupBy("bucket").count().agg(max("count"), min("count")).head
      println(f"[scale] pack balance  x$m (n=$nDoc): per-bucket rows " +
        f"[${pb.getLong(1)}%,d .. ${pb.getLong(0)}%,d] over 32 buckets")
      timeIt(f"d_pipeline_e2e x$m (n=$nDoc)",
        SparkEntry.queries("d_pipeline_e2e")(spark, dir).count())
      // Span scrub + bloom decontam: both are explode-then-agg shapes
      // whose work is ∝ total gram count — wall-clock must track n, and
      // the bloom side's filter stays |bench-grams|-sized (the broadcast
      // payload, NOT ∝ corpus) while its probe is a per-row bit test.
      timeIt(f"span scrub x$m (n=$nDoc)",
        pipeline.TextDedup.spanScrub(Tables.documents(spark, dir)).count())
      timeIt(f"span scrub hashed x$m (n=$nDoc)",
        pipeline.TextDedup.spanScrubHashed(Tables.documents(spark, dir)).count())
      timeIt(f"bloom decontam x$m (n=$nDoc)",
        SparkEntry.queries("d_decontam_bloom")(spark, dir).count())
      }

      // ---- embedding-side advance vs rebuild (VecBackbone) ------------
      // The same maintenance contract on the VECTOR side: with a FIXED
      // arriving embedding batch and history growing with m, the
      // advance (batch bucket/code assignment + stored-bucket probes +
      // touched-component repair) must stay ~flat while a full
      // re-clustering grows with the corpus. Planes scale with n (the
      // 2^b ≈ n/30 rule) so bucket sizes stay bounded — the production
      // geometry, exercised through the same entry points the catalog
      // pins at planes=4 for the oracle.
      section("vec-advance") {
        val vPlanes = pipeline.Similarity.planesFor(nVec)
        val vecBatchN = baseVecs / 2
        val vecSplit = (nVec - vecBatchN).toLong
        pipeline.VecBackbone.history(spark, dir, vecSplit, vPlanes) // untimed: yesterday's state
        timeIt(f"vec advance x$m (hist=$vecSplit%,d, batch=$vecBatchN%,d, p=$vPlanes)", {
          val p = pipeline.VecBackbone.advanceParts(spark, dir, vecSplit,
            batchEnd = Long.MaxValue, planes = vPlanes)
          val n = p.labels.count()
          p.caches.foreach(_.unpersist())
          n
        })
        timeIt(f"vec rebuild x$m (n=$nVec%,d, p=$vPlanes)",
          pipeline.Similarity.semanticDedup(spark, Tables.embeddings(spark, dir),
            planes = vPlanes, threshold = pipeline.VecBackbone.Threshold).count())

        // multi-day committed-advance soak, vector side: 3 committed
        // advances chained from the day-1 commit (same scaled planes),
        // each day's cost printed, final state checked equal to the
        // full re-clustering (per-day equality is VecBackboneSpec's
        // job — here the question is per-day COST as history grows)
        val slices = 5
        def vcut(i: Int): Long = (nVec.toLong * i) / slices
        var vstate = pipeline.VecBackbone.advanceAndStore(spark, dir, vcut(1),
          batchEnd = vcut(2), planes = vPlanes)
        (2 until slices).foreach { i =>
          val prev = vstate
          timeIt(f"vec soak day $i x$m (hist=${vcut(i)}%,d, batch=${vcut(i + 1) - vcut(i)}%,d)", {
            vstate = pipeline.VecBackbone.advanceAndStore(spark, dir, vcut(i),
              histOverride = Some(prev), batchEnd = vcut(i + 1), planes = vPlanes)
            vstate.labels.count()
          })
        }
        val vfull = pipeline.Similarity.semanticDedup(
            spark, Tables.embeddings(spark, dir),
            planes = vPlanes, threshold = pipeline.VecBackbone.Threshold)
          .select("vec_id", "cluster_id")
        val vdiff = vstate.labels.except(vfull).count() +
          vfull.except(vstate.labels).count()
        require(vdiff == 0,
          s"vec soak day ${slices - 1} diverged from the full re-clustering ($vdiff rows)")
        println(f"[scale] vec soak day ${slices - 1} x$m: committed labels == full re-clustering ✓")
      }

      // ---- multi-day committed-advance soak (text side) ---------------
      // The nightly loop run for REAL across 4 committed days: day 1
      // commits (history build + first batch, untimed here), days 2..4
      // each advance FROM THE PREVIOUS COMMIT with a fresh corpus slice
      // — per-day cost must stay ~flat (each day's work is one batch
      // against stored state), and EVERY day's committed labels must
      // equal a from-scratch build over the same prefix (the induction
      // step of the daily loop, verified at every link).
      section("advance-soak") {
        val slices = 5
        def cut(i: Int): Long = (nDoc.toLong * i) / slices
        var state = pipeline.Backbone.advanceAndStore(spark, dir, cut(1),
          batchEnd = cut(2))
        (2 until slices).foreach { i =>
          val prev = state
          timeIt(f"soak day $i x$m (hist=${cut(i)}%,d, batch=${cut(i + 1) - cut(i)}%,d)", {
            state = pipeline.Backbone.advanceAndStore(spark, dir, cut(i),
              histOverride = Some(prev), batchEnd = cut(i + 1))
            state.labels.count()
          })
          val fresh = pipeline.Backbone.history(spark, dir, cut(i + 1)).labels
          val diff = state.labels.except(fresh).count() +
            fresh.except(state.labels).count()
          require(diff == 0,
            s"soak day $i diverged from the fresh build over the same prefix ($diff rows)")
          println(f"[scale] soak day $i x$m: committed labels == fresh prefix build ✓")
        }
      }

      // ---- LSH geometry sweep: measured recall vs the S-curve model ----
      // The catalog pins axis-sign planes=4 (oracle-reproducible); the
      // production geometry is seeded random hyperplanes sized by the
      // 2^b ≈ n/30 rule (VERDICT r12 #8, behind -Dgraft.vec.lshSeed for
      // semanticDedup). This sweep certifies MEASURED window recall at
      // both geometries — plus a rule+2 point showing the recall ↔
      // candidate-count trade — against the SimHash collision model
      // E[(1 − θ/π)^b]: random hyperplanes must TRACK the model (every
      // dim mixes into every bit), while axis signs on sign-structured
      // data beat it (the clusters agree on the leading dims by
      // construction) — which is exactly why the model, not the catalog
      // geometry, is what production knob tuning must use.
      section("vec-geometry") {
        // window scales with the corpus: cluster ids cycle mod n/50, so a
        // FIXED window catches ever fewer same-cluster pairs as multiples
        // grow (2 truth pairs at x16 with 500) — n/10 keeps ~5 members of
        // every cluster in the window while the exact-truth join stays
        // bounded at (n/10)²
        val window = math.min(nVec.toLong, math.max(500L, nVec.toLong / 10))
        val emb = Tables.embeddings(spark, dir).filter(col("vec_id") < window)
        pipeline.Similarity.register(spark)
        val v = emb.select(col("vec_id"), col("embedding").as("v"))
          .withColumn("n", expr("sqrt(float_dot(v, v))"))
        val truth = v.as("a").join(v.as("b"), col("a.vec_id") < col("b.vec_id"))
          .withColumn("cos",
            expr("float_dot(a.v, b.v)") / (col("a.n") * col("b.n")))
          .filter(col("cos") >= 0.9)
          .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
            least(col("cos"), lit(1.0)).as("cos"))
          .persist()
        val nTruth = truth.count()
        require(nTruth > 0, "geometry sweep fixture has no near pairs")
        val rule = pipeline.Similarity.planesFor(nVec)
        val geoms = Seq(("axis", 4, Option.empty[Long]),
          ("rand", rule, Some(7L)),
          ("rand", math.min(16, rule + 2), Some(7L)))
        geoms.foreach { case (nm, p, seed) =>
          val b = (seed match {
            case Some(sd) =>
              pipeline.Similarity.signBucketsRandom(spark, emb, p, sd)
            case None => pipeline.Similarity.signBuckets(spark, emb, p)
          }).select(col("vec_id"), col("bucket"))
          val caught = b.as("x").join(b.as("y"),
              col("x.bucket") === col("y.bucket") &&
                col("x.vec_id") < col("y.vec_id"))
            .select(col("x.vec_id").as("va"), col("y.vec_id").as("vb"))
          val hit = truth.join(caught, Seq("va", "vb"), "left_semi").count()
          val recall = hit.toDouble / nTruth
          val model = truth
            .select(avg(pow(lit(1.0) - acos(col("cos")) / math.Pi, p)))
            .head.getDouble(0)
          println(f"[scale] vec-geometry $nm%-4s p=$p%-2d x$m: " +
            f"recall=$recall%.3f model=$model%.3f (truth pairs=$nTruth)")
        }
        // BANDED composite (VERDICT r13 #1): OR b independent random
        // plane sets at the production r — measured recall must track
        // E[1 − (1 − p^r)^b] and climb monotonically in b (band 0 is the
        // single-band sweep's own plane set, so the lift is attributable
        // to the extra bands, not a reroll). Candidate cost multiplies
        // by ~b: the sweep prints it so the recall is priced, not free.
        var lastRecall = -1.0
        Seq(1, 2, 4).foreach { nb =>
          val post = pipeline.Similarity
            .bandedSignBuckets(spark, emb, nb, rule, Some(7L))
          val caught = post.as("x").join(post.as("y"),
              col("x.band") === col("y.band") &&
                col("x.bucket") === col("y.bucket") &&
                col("x.vec_id") < col("y.vec_id"))
            .select(col("x.vec_id").as("va"), col("y.vec_id").as("vb"))
            .distinct().persist()
          val nCand = caught.count()
          val hit = truth.join(caught, Seq("va", "vb"), "left_semi").count()
          caught.unpersist()
          val recall = hit.toDouble / nTruth
          val model = truth.select(avg(lit(1.0) -
              pow(lit(1.0) - pow(lit(1.0) - acos(col("cos")) / math.Pi, rule),
                nb)))
            .head.getDouble(0)
          require(recall >= lastRecall,
            f"banded recall must be monotone in b: $recall%.3f after $lastRecall%.3f")
          lastRecall = recall
          println(f"[scale] vec-geometry band b=$nb%-2d r=$rule%-2d x$m: " +
            f"recall=$recall%.3f model=$model%.3f candidates=$nCand%,d")
        }
        truth.unpersist()
      }

      // ---- banded COST sweep: candidates + advance bytes per geometry --
      // The vec-geometry sweep prices the banded geometry's RECALL; this
      // one prices its COST through the incremental chain (VERDICT r14
      // #1b): the catalog pins axis b=2/r=4 (16 buckets per band
      // forever), so bucket occupancy grows with n and candidate pairs
      // grow ~n² — a fixture-bound oracle point whose 11x-on-4x shuffle
      // growth nearly tripped the r14 gate. The PRODUCTION geometry
      // sizes r by the 2^r ≈ n/30 rule (planesFor), holding occupancy
      // ~flat, so candidates/vector and the advance's shuffle bytes must
      // stay ~corpus-linear. Both geometries run the SAME advanceBanded
      // chain over stored state (history untimed — yesterday's commit);
      // the printed pairs/vector and measured shuffle-write bytes are
      // the numbers SCALE.md's adjudication and the shuffle gate's
      // per-key cap for d_semantic_incr_banded rest on.
      section("banded-cost") {
        val meter = new pipeline.ShuffleAudit.Meter(spark)
        val vecBatchN = baseVecs / 2
        val vecSplit = (nVec - vecBatchN).toLong
        val rule = pipeline.Similarity.planesFor(nVec)
        val geoms = Seq(
          ("axis-b2r4", pipeline.VecBackbone.CatalogGeom),
          ("prod-b2r" + rule,
            pipeline.BandedGeom.seeded(2, rule, 7L, 64)))
        geoms.foreach { case (nm, geom) =>
          val post = pipeline.Similarity.bandedSignBucketsGeom(
            spark, Tables.embeddings(spark, dir), geom)
          val cand = pairSum(post.groupBy("band", "bucket").count()
            .select(col("count").as("n")))
          println(f"[scale] banded-cost $nm%-10s x$m (n=$nVec%,d): " +
            f"$cand%,d candidate pairs (${cand.toDouble / nVec}%.1f per vec; " +
            f"all-pairs ${nVec.toLong * (nVec - 1) / 2}%,d)")
          // yesterday's stored state, untimed; then measure the advance
          pipeline.VecBackbone.historyBanded(spark, dir, vecSplit, geom)
          pipeline.VecBackbone.history(spark, dir, vecSplit)
          meter.reset() // settles internally
          var w = 0L; var p = 0L
          timeIt(f"banded advance $nm x$m (hist=$vecSplit%,d, batch=$vecBatchN%,d)", {
            val n = pipeline.VecBackbone
              .advanceBanded(spark, dir, vecSplit, geom).count()
            val (_, ww, _, pp) = meter.settle(); w = ww; p = pp
            n
          })
          println(f"[scale] banded-cost $nm advance x$m: " +
            f"shufW=${w / 1048576.0}%.2fMB peakTask=${p / 1048576.0}%.1fMB")
          val kind = if (geom.seed.isDefined) "prod" else "axis"
          bandedCost((kind, m)) = (cand.toDouble / nVec, w)
        }
        // quantizer-drift audit cost (VERDICT r14 #5): two
        // sample-bounded driver fits + one linear scan of the stored
        // vectors + an NCells×dims aggregate — wall must track the scan
        // (corpus-linear at worst), shuffle stays report-sized
        meter.reset() // settles internally
        var dw = 0L
        timeIt(f"quantizer drift audit x$m (n=$nVec%,d)", {
          val n = pipeline.VecBackbone.quantizerDrift(spark, dir).count()
          val (_, ww, _, _) = meter.settle(); dw = ww
          n
        })
        println(f"[scale] quantizer drift audit x$m: shufW=${dw / 1024.0}%.1fKB")

        // the measured gate (first measured r15: axis candidates/vec
        // 155→543→2060 and advance bytes 22.5x on a 16x corpus — the
        // quadratic fixture-bound oracle point; production 54→69→87
        // per vec and 2.45x bytes): production-geometry candidates per
        // vector must stay ~flat and the advance's bytes at most
        // corpus-linear, or the planesFor sizing rule has regressed
        bandedCost.get(("prod", mults.head)).foreach {
          case (cand0, w0) =>
            if (m != mults.head) {
              val (candM, wM) = bandedCost(("prod", m))
              require(candM <= 2.5 * cand0,
                f"production-geometry candidates/vector grew " +
                  f"$cand0%.1f -> $candM%.1f at x$m — occupancy no " +
                  "longer bounded by the 2^r ≈ n/30 rule")
              require(wM.toDouble <= (m.toDouble / mults.head) * w0,
                f"production-geometry advance shuffle grew " +
                  f"${wM.toDouble / w0}%.1fx on a ${m / mults.head}x " +
                  "corpus — super-linear at the sized geometry")
            }
        }
        meter.detach()
      }

      // ---- SQ8 re-scale compaction cost (VERDICT r15 #3) ---------------
      // The clip audit's actuator must cost ONE corpus max scan + ONE
      // linear re-encode with no exchange (pure per-row arithmetic) —
      // wall grows ~linearly with the corpus, shuffle-write stays ~0.
      // The superseded advance state is committed untimed first
      // (yesterday's index — the lifecycle position compaction runs
      // from).
      section("sq8-compact") {
        val meter = new pipeline.ShuffleAudit.Meter(spark)
        val vecSplit = (nVec - baseVecs / 2).toLong
        pipeline.VecBackbone.sq8Advance(spark, dir, vecSplit).count() // untimed
        val bites = pipeline.VecBackbone.sq8NeedsRescale(spark, dir, vecSplit)
        meter.reset() // settles internally
        var w = 0L
        timeIt(f"sq8 compact x$m (n=$nVec%,d, clipBites=$bites)", {
          val n = pipeline.VecBackbone.sq8Compact(spark, dir, vecSplit).count()
          val (_, ww, _, _) = meter.settle(); w = ww
          n
        })
        println(f"[scale] sq8-compact x$m: shufW=${w / 1024.0}%.1fKB " +
          "(re-encode is exchange-free)")
        require(w < (10L << 20),
          f"sq8 compaction shuffled ${w / 1048576.0}%.1f MB — the " +
            "re-encode is supposed to be a per-row scan, not an exchange")
        meter.detach()
      }

      // ---- warehouse version GC under the nightly chain ----------------
      // Each "day" REPLACES the corpus (new token → new version subtree)
      // and rebuilds the backbone — exactly the production leak VERDICT
      // r12 #2 names: without retention the warehouse accumulates a full
      // fingerprint+band+label copy per corpus version forever. keep=2
      // retention must hold the version-dir count flat at 2 from day 2
      // on, while the current day's tables stay readable after every gc.
      section("wh-gc") {
        val whRoot = java.nio.file.Files
          .createTempDirectory(s"graft_whgc_$m").toString
        val corpus = s"${sys.props("java.io.tmpdir")}/graft_whgc_corpus_$m"
        val prevProp = sys.props.get("graft.backbone.dir")
        sys.props("graft.backbone.dir") = whRoot
        try {
          def versionDirCount: Int =
            Option(new java.io.File(whRoot).listFiles()).getOrElse(Array.empty)
              .count(f => f.isDirectory &&
                new java.io.File(f, "_graft_corpus").exists())
          var reclaimed = 0
          (1 to 4).foreach { day =>
            synthDocuments(spark, nDoc + day, corpus) // new corpus version
            timeIt(f"wh-gc day $day x$m (n=${nDoc + day}%,d)", {
              val n = pipeline.Backbone.labels(spark, corpus).count()
              reclaimed += pipeline.Warehouse
                .gc(spark, keep = 2, graceMs = 0L).size
              n
            })
            val kept = versionDirCount
            require(kept <= 2,
              s"wh-gc day $day: $kept version dirs survive keep=2")
            println(f"[scale] wh-gc day $day x$m: $kept version dirs kept, " +
              s"$reclaimed reclaimed so far ✓")
          }
          require(reclaimed == 2,
            s"4 versions at keep=2 must reclaim exactly 2, got $reclaimed")
        } finally {
          prevProp match {
            case Some(v) => sys.props("graft.backbone.dir") = v
            case None => sys.props -= "graft.backbone.dir"
          }
        }
      }

      // ---- per-user skew certification (whale user) --------------------
      // Every event-analytics key partitions by user_id; at 100 TB one
      // whale/bot user puts its whole history in ONE task — the classic
      // straggler the uniform fixtures can't surface, and invisible to
      // ShuffleAudit's per-key TOTALS. This section plants a corpus
      // where user 0 holds ~10 % of events and measures, per key, the
      // worst stage's max-task vs median-task duration AND shuffle-read
      // bytes (bytes are the load-insensitive half of the signal). The
      // expected shape: with 32 hash partitions over ~1,001 users, the
      // median task reads ~3 % of rows, the whale's task ~13 % → a
      // byte straggler ratio of ~4-5× for every user-keyed key, and ~1×
      // for the event_id-keyed contrast key (o_w1). The per-task COST
      // of the whale is sort-bounded (every funnel/sequence key is
      // stacked windows over one per-user sort — O(w log w) in whale
      // events w, no quadratic term), so the certified bound is
      // "slowest task tracks the whale's share linearly"; SCALE.md
      // carries the per-key verdicts.
      section("skew") {
        val nEv = 100000 * m
        synthEventsWhale(spark, nEv, dir)
        val whaleShare = Tables.events(spark, dir)
          .filter(col("user_id") === 0L).count().toDouble / nEv
        println(f"[scale] skew corpus x$m: $nEv%,d events, whale share " +
          f"$whaleShare%.3f over 1,001 users")
        // AQE's partition coalescing merges the small local exchanges
        // into 1-2 tasks and hides the per-task spread this section
        // exists to measure; at production scale partitions are far
        // above the coalesce target and stay 1:1, so disabling it here
        // measures the real cluster shape (restored after the section)
        val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
        val prevCoalesce = spark.conf.getOption(coalesceKey)
        spark.conf.set(coalesceKey, "false")
        val sm = new SkewMeter(spark)
        val keys = Seq("o_a15_funnel", "o_a15e_funnel_chunked",
          "o_a15b_funnel_dedup",
          "o_a15c_funnel_4stage", "o_a15d_funnel_strict", "o_a16_retention",
          "o_a17_seqmatch", "o_a18_seqcount", "o_a18b_seqcount_windowed",
          "o_a18c_seqcount_chunked", "o_a21_seq_next_node",
          "o_t10_session", "o_w1_dedup",
          // the SQL-surface parametric aggregates (VERDICT r15 #1):
          // their whale cost is the serialized per-user buffered STATE
          // crossing the final-aggregation exchange — the byte signal
          // the totals-based audit can't see, and the ParametricAgg cap
          // must stay clear of the whale at every multiplier
          "o_a15f_funnel_sql", "o_a17b_seqmatch_sql", "o_a18d_seqcount_sql",
          "o_a18e_seqcount_sql_windowed", "o_a17c_seqmatch_gaps",
          "o_a17d_seqmatch_strictnext", "o_a16b_retention_sql",
          "o_a15g_funnel_sql_strict", "o_a15h_funnel_sql_dedup",
          "o_a21b_seq_next_node_sql",
          // the r17 keys: same buffered-state-over-the-exchange shape
          "o_a21c_seq_next_node_backward", "o_a21d_seq_next_node_head",
          "o_a17e_seqmatch_negation", "o_a15i_funnel_sql_combined",
          // r18: the base-condition mask bit rides the same state
          "o_a21e_seq_next_node_base")
        // keys whose heavy stage is user_id-keyed (the whale's bytes
        // land in one task) vs pre-reduced/other-keyed contrast keys;
        // the buffered SQL aggregates are user-keyed too — partial
        // states carry O(events) bytes per user, so the whale's state
        // converges on one final-agg task (o_a16b is the exception:
        // retention state is an O(1) bitmask, pre-reduced map-side
        // like o_a16 itself)
        val userKeyed = Set("o_a15_funnel", "o_a15b_funnel_dedup",
          "o_a15c_funnel_4stage", "o_a15d_funnel_strict", "o_a17_seqmatch",
          "o_a18_seqcount", "o_a18b_seqcount_windowed", "o_a21_seq_next_node",
          "o_a15f_funnel_sql", "o_a17b_seqmatch_sql", "o_a18d_seqcount_sql",
          "o_a18e_seqcount_sql_windowed", "o_a17c_seqmatch_gaps",
          "o_a17d_seqmatch_strictnext",
          "o_a15g_funnel_sql_strict", "o_a15h_funnel_sql_dedup",
          "o_a21b_seq_next_node_sql",
          "o_a21c_seq_next_node_backward", "o_a21d_seq_next_node_head",
          "o_a17e_seqmatch_negation", "o_a15i_funnel_sql_combined",
          "o_a21e_seq_next_node_base")
        // the (user_id, chunk)-keyed mitigations: the whale must SPREAD
        val chunkKeyed = Set("o_a15e_funnel_chunked", "o_a18c_seqcount_chunked")
        keys.foreach { k =>
          SparkEntry.queries(k)(spark, dir).count() // warm (JIT, scans)
          sm.reset()
          val t0 = System.nanoTime()
          SparkEntry.queries(k)(spark, dir).count()
          val sec = (System.nanoTime() - t0) / 1e9
          sm.worstStage() match {
            case Some((nt, maxMs, medMs, maxB, medB)) =>
              val tRatio = maxMs.toDouble / math.max(1L, medMs)
              val bRatio = maxB.toDouble / math.max(1L, medB)
              println(f"[scale] skew $k%-22s x$m: $sec%6.2f s  " +
                f"tasks=$nt%-3d maxTask=${maxMs}%,6d ms (med ${medMs}%,5d, " +
                f"${tRatio}%4.1fx)  maxRead=${maxB / 1024}%,8d KB " +
                f"(med ${medB / 1024}%,6d, ${bRatio}%4.1fx)")
              if (chunkKeyed(k)) {
                // the MITIGATION's proof: the (user_id, chunk) exchange
                // spreads the whale across time chunks, so the byte
                // straggler must sit well below the plain forms' ~4×
                require(bRatio <= 2.0,
                  f"$k: chunked plan still whale-skewed " +
                    f"($bRatio%.1fx bytes) — the chunk key is not " +
                    "spreading the whale")
              }
              if (userKeyed(k)) {
                // the certification: (a) the corpus really skews this
                // key's heavy stage (whale bytes in one task), and
                // (b) the whale task's TIME tracks its byte share —
                // sort-bounded per-user work. A quadratic per-user
                // formulation fails (b) loudly: the r15 sweep caught
                // o_a17's unboundedFollowing frame at 55× time on 3.8×
                // bytes exactly this way.
                require(bRatio >= 2.0,
                  f"$k: whale corpus produced no byte skew " +
                    f"($bRatio%.1fx) — measurement or corpus broken")
                require(tRatio <= 3.0 * bRatio + 1.0,
                  f"$k: max-task time $tRatio%.1fx vs bytes $bRatio%.1fx " +
                    "— super-linear per-user work (quadratic frame?)")
              }
            case None =>
              println(s"[scale] skew $k x$m: no stage with enough tasks")
          }
        }
        sm.detach()
        prevCoalesce match {
          case Some(v) => spark.conf.set(coalesceKey, v)
          case None => spark.conf.unset(coalesceKey)
        }
      }

      // ---- FULL decade table set (the r15 full-catalog decade recipe,
      // now committed instead of ad-hoc): every table the catalog reads,
      // one decade past sf0.1 at /tmp/graft_decade_full. Relational +
      // events grow by KEY-SHIFTED ×10 replication of the real fixture
      // (schema + per-replica distributions identical, join keys
      // disjoint across replicas); documents by PER-WORD REPLICA
      // PREFIXING (cross-replica shingle sets disjoint ⇒ dup GROUPS
      // multiply while group SIZE stays fixture-bounded — the realistic
      // crawl shape); embeddings by per-replica SIGNED PERMUTATION
      // (orthogonal ⇒ within-replica cosines exactly the fixture's,
      // cross-replica pairs decorrelate); dimension tables copied
      // verbatim (dims don't grow with fact data). After this section,
      // run the record:
      //   SPARK_GRAFT_SF_DIR=/tmp/graft_decade_full java ... \
      //     graft.pipeline.ShuffleAudit --json SHUFFLE_DECADE_r<N>.json
      section("decade-full") {
        if (m == mults.head) {
          val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
            "/root/testdata/sf0.1")
          val full = s"${sys.props("java.io.tmpdir")}/graft_decade_full"
          val ten = explode(expr("sequence(0, 9)"))
          Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
            spark.read.parquet(s"$base/$t.parquet")
              .write.mode("overwrite").parquet(s"$full/$t.parquet")
          }
          spark.read.parquet(s"$base/lineitem.parquet")
            .withColumn("rep", ten)
            .withColumn("l_orderkey", col("l_orderkey") * 10 + col("rep"))
            .drop("rep").repartition(64)
            .write.mode("overwrite").parquet(s"$full/lineitem.parquet")
          spark.read.parquet(s"$base/orders.parquet")
            .withColumn("rep", ten)
            .withColumn("o_orderkey", col("o_orderkey") * 10 + col("rep"))
            .withColumn("o_custkey",
              col("o_custkey") + col("rep") * 10000000L)
            .drop("rep").repartition(16)
            .write.mode("overwrite").parquet(s"$full/orders.parquet")
          Tables.events(spark, base)
            .withColumn("rep", ten)
            .withColumn("event_id", col("event_id") * 10 + col("rep"))
            .withColumn("user_id",
              col("user_id") + col("rep") * 10000000L)
            .drop("rep").repartition(32)
            .write.mode("overwrite").parquet(s"$full/events.parquet")
          Tables.documents(spark, base)
            .withColumn("rep", ten)
            .withColumn("doc_id", col("doc_id") * 10 + col("rep"))
            .withColumn("text", expr(
              "concat_ws(' ', transform(split(text, ' '), " +
                "w -> concat('r', rep, w)))"))
            .withColumn("n_chars", length(col("text")).cast("long"))
            .drop("rep").repartition(32)
            .write.mode("overwrite").parquet(s"$full/documents.parquet")
          val dims = Tables.embeddings(spark, base)
            .selectExpr("size(embedding) d").head.getInt(0)
          Tables.embeddings(spark, base)
            .withColumn("rep", ten)
            .withColumn("vec_id", col("vec_id") * 10 + col("rep"))
            .withColumn("embedding", expr(
              s"""transform(sequence(0, ${dims - 1}), i ->
                   CAST(IF(pmod(hash(rep, i), 2) = 0, 1.0, -1.0) *
                     element_at(embedding,
                       CAST(pmod(i + rep * ${math.max(1, dims / 10)}, $dims)
                            AS INT) + 1) AS FLOAT))"""))
            .drop("rep").repartition(32)
            .write.mode("overwrite").parquet(s"$full/embeddings.parquet")
          val counts = Seq("lineitem", "orders", "events", "documents",
            "embeddings").map { t =>
            t -> spark.read.format("parquet")
              .option("nanosAsLong", "true")
              .load(s"$full/$t.parquet").count()
          }
          println(s"[scale] decade-full built at $full: " +
            counts.map { case (t, n) => f"$t=$n%,d" }.mkString(", "))
        }
      }

      // ---- capacity decade: shuffle bytes one decade PAST sf0.1 --------
      // The 100 TB claim extrapolates from the sf0.01→sf0.1 (10×) step;
      // this section pushes ShuffleAudit's top movers one more decade
      // (~6M lineitem rows, 50k docs, 20k embeddings) and gates the same
      // invariants the shuffle gate holds at the fixture step: per-key
      // shuffle-write bytes within the 12× cap for 10× data, and
      // peak-task memory partition-bounded (absolute ceiling — the knob a
      // real cluster turns is shuffle.partitions, fixed at 32 here).
      // Relational tables grow by KEY-SHIFTED replication of the real
      // sf0.1 fixture (schema + per-replica distributions identical, join
      // keys disjoint across replicas); docs/embeddings grow through the
      // same synthesizer at both sizes so the ratio compares like with
      // like. Decade-independent of the corpus multiplier → runs once.
      section("capacity-decade") {
        if (m == mults.head) {
          val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
            "/root/testdata/sf0.1")
          val tmp = sys.props("java.io.tmpdir")
          val dBase = s"$tmp/graft_decade_base"
          val d10 = s"$tmp/graft_decade_10x"
          synthDocuments(spark, 5000, dBase)
          synthEmbeddings(spark, 2000, 64, dBase)
          synthDocuments(spark, 50000, d10)
          synthEmbeddings(spark, 20000, 64, d10)
          val ten = explode(expr("sequence(0, 9)"))
          spark.read.parquet(s"$base/lineitem.parquet")
            .withColumn("rep", ten)
            .withColumn("l_orderkey",
              col("l_orderkey") * 10 + col("rep")).drop("rep")
            .repartition(64)
            .write.mode("overwrite").parquet(s"$d10/lineitem.parquet")
          spark.read.parquet(s"$base/orders.parquet")
            .withColumn("rep", ten)
            .withColumn("o_orderkey", col("o_orderkey") * 10 + col("rep"))
            .withColumn("o_custkey",
              col("o_custkey") + col("rep") * 10000000L).drop("rep")
            .repartition(16)
            .write.mode("overwrite").parquet(s"$d10/orders.parquet")
          Tables.events(spark, base)
            .withColumn("rep", ten)
            .withColumn("event_id", col("event_id") * 10 + col("rep"))
            .withColumn("user_id",
              col("user_id") + col("rep") * 10000000L).drop("rep")
            .repartition(32)
            .write.mode("overwrite").parquet(s"$d10/events.parquet")

          val meter = new pipeline.ShuffleAudit.Meter(spark)
          def run(key: String, dir: String): (Long, Long, Long) = {
            graft.SparkEntry.queries(key)(spark, dir).count() // warm: stores
            meter.reset() // settles internally
            val rows = graft.SparkEntry.queries(key)(spark, dir).count()
            val (_, w, _, p) = meter.settle()
            (rows, w, p)
          }
          val movers = Seq(
            ("o_a27_weighted_median", base, d10),
            ("o_a27b_weighted_quantiles", base, d10),
            ("o_j6_asof", base, d10),
            ("d_dup_spans", dBase, d10),
            ("d_ann_ivfpq", dBase, d10),
            // the r15-continuation keys, measured at the decade from
            // birth (events-fed keys ride the replicated real fixture;
            // docs/embeddings-fed ride the synthetic 10× pair)
            ("o_a15e_funnel_chunked", base, d10),
            ("o_a18b_seqcount_windowed", base, d10),
            ("o_a18c_seqcount_chunked", base, d10),
            ("d_doc_chunks", dBase, d10),
            ("d_ann_sq8", dBase, d10),
            ("d_ann_recall_sq8", dBase, d10),
            ("d_ann_sq8_clip", dBase, d10),
            // the r15/r16 SQL-surface parametric keys, measured at the
            // decade from birth (the round-15 policy: nothing ships
            // with only a fixture-step datapoint) — all events-fed, so
            // they ride the key-shifted replicated real fixture
            ("o_a15f_funnel_sql", base, d10),
            ("o_a17b_seqmatch_sql", base, d10),
            ("o_a18d_seqcount_sql", base, d10),
            ("o_a18e_seqcount_sql_windowed", base, d10),
            ("o_a16b_retention_sql", base, d10),
            ("o_a17c_seqmatch_gaps", base, d10),
            ("o_a17d_seqmatch_strictnext", base, d10),
            ("o_a15g_funnel_sql_strict", base, d10),
            ("o_a15h_funnel_sql_dedup", base, d10),
            ("o_a21b_seq_next_node_sql", base, d10),
            // the r17 surface keys, decade from birth (same policy)
            ("o_a21c_seq_next_node_backward", base, d10),
            ("o_a21d_seq_next_node_head", base, d10),
            ("o_a17e_seqmatch_negation", base, d10),
            ("o_a15i_funnel_sql_combined", base, d10),
            ("o_s7_limit_by_sql", base, d10),
            ("o_s8_sample_sql", base, d10),
            ("d_text_tokens_bpe", dBase, d10),
            // the r18 keys, decade from birth (same policy): the two
            // dialect clauses, the base_condition aggregate, and the
            // BPE-sized budget/curriculum pair
            ("o_s9_with_fill_sql", base, d10),
            ("o_s9b_with_fill_bounds_sql", base, d10),
            ("o_s7b_limit_by_offset_sql", base, d10),
            ("o_a21e_seq_next_node_base", base, d10),
            ("d_token_budget_bpe", dBase, d10),
            ("d_curriculum_bpe", dBase, d10))
          movers.foreach { case (key, small, big) =>
            // the o_a27 family's adaptive gate steps from the naive
            // window (ONE data shuffle) to the distributed prefix sum
            // (TWO) exactly in this decade — a designed one-time plan
            // switch, not scaling (first measured here: 20.7× bytes at
            // the step, peak flat at 112 MB). The capacity question is
            // the DISTRIBUTED plan's asymptote, so both points measure
            // it via the thread-scoped gate; the adaptive default only
            // decides when the small-input shortcut is cheaper.
            def measured(dir: String) =
              if (key.startsWith("o_a27"))
                operators.OrderStats.withGateBytes(0)(run(key, dir))
              else run(key, dir)
            val (rS, wS, _) = measured(small)
            val (rB, wB, pB) = measured(big)
            val growth = if (wS > 0) wB.toDouble / wS else Double.NaN
            println(f"[scale] decade $key%-26s rows=$rS%,d -> $rB%,d " +
              f"shufW=${wS / 1048576.0}%.1f -> ${wB / 1048576.0}%.1fMB " +
              f"(${growth}%.1fx) peak=${pB / 1048576.0}%.1fMB")
            // the shuffle gate's rule, one decade up: 12× cap on 10×
            // data for keys above the 1 MB noise floor. The buffered
            // SQL aggregates carry an ADJUDICATED 24× cap (SCALE.md
            // r16): their shuffle is serialized per-(map task, user)
            // partial states, and the sf0.1 events fixture is ONE input
            // split — the decade's 32 map tasks pay the per-state
            // framing up to min(32, events/user)× per user, a one-time
            // fan-out step; the state COUNT is bounded by total events
            // (a user contributes at most one state per task it appears
            // in), so growth is corpus-linear once the fan-out
            // saturates. A regression past the fan-out curve still
            // trips.
            val bufferedAggCap = Set("o_a15f_funnel_sql",
              "o_a15g_funnel_sql_strict", "o_a15h_funnel_sql_dedup",
              "o_a17b_seqmatch_sql", "o_a17c_seqmatch_gaps",
              "o_a17d_seqmatch_strictnext", "o_a18d_seqcount_sql",
              "o_a18e_seqcount_sql_windowed", "o_a21b_seq_next_node_sql",
              // r17: same buffered-state shape, same fan-out adjudication
              "o_a21c_seq_next_node_backward", "o_a21d_seq_next_node_head",
              "o_a17e_seqmatch_negation", "o_a15i_funnel_sql_combined",
              // r18: base_condition rides the same buffered next-node
              // state (one extra mask bit per row, same fan-out shape)
              "o_a21e_seq_next_node_base")
            val cap = if (bufferedAggCap(key)) 24.0 else 12.0
            if (wS >= (1L << 20))
              require(wB <= cap * wS,
                f"$key shuffle-write grew ${wB.toDouble / wS}%.1fx " +
                  f"across the decade (cap $cap%.0fx) — super-linear, " +
                  "corpus-sized exchange")
            require(pB < (2L << 30),
              s"$key peak task ${pB / 1048576} MB at the decade — " +
                "not partition-bounded")
          }
          meter.detach()
        }
      }
    }
    spark.stop()
  }
}
