package graft.pipeline

import graft.TestSession
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The embedding-side stored backbone ([[VecBackbone]]): persisted
  * bucket/cell/code/quantizer tables, the stored-delta probe, and the
  * incremental advance — the vector twins of the text contracts
  * BackboneAdvanceSpec pins. Core properties:
  *
  *  (a) the stored-delta verdicts equal the exhaustive cross
  *      derivation (storage changes cost, never answers);
  *  (b) advanced cluster labels equal the full re-clustering
  *      bit-for-bit, including chained multi-day commits;
  *  (c) the delta/advance plans rescan NO embeddings — both sides ride
  *      stored parquet;
  *  (d) the quantizer is a persisted, pinned artifact: a "restarted
  *      JVM" (memo reset) reloads it instead of refitting, and the
  *      incremental code append equals a full re-encode under it.
  */
class VecBackboneSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  private def twoLongs(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("stored-delta verdicts equal the exhaustive cross derivation") {
    import org.apache.spark.sql.functions._
    Similarity.register(spark)
    val split = VecBackbone.deltaSplit(spark, sf)
    val e = graft.Tables.embeddings(spark, sf)
    val stored = VecBackbone.deltaVerdicts(spark, sf)
      .collect().map(r => (r.getLong(0), Option(r.get(1)), r.getLong(2),
        r.getString(3))).toSet
    // exhaustive: every batch x history pair within the sign buckets
    val b = Similarity.signBuckets(spark, e.filter(col("vec_id") >= split), 4)
    val h = Similarity.signBuckets(spark, e.filter(col("vec_id") < split), 4)
    val near = b.as("x").join(h.as("y"), col("x.bucket") === col("y.bucket"))
      .filter(round(expr("float_dot(x.v, y.v)") / (col("x.n") * col("y.n")), 4)
        >= VecBackbone.Threshold)
      .groupBy(col("x.vec_id").as("vec_id"))
      .agg(min(col("y.vec_id")).as("near_dup_of"), count(lit(1)).as("n_near"))
    val exhaustive = b.select(col("vec_id")).join(near, Seq("vec_id"), "left")
      .select(col("vec_id"), col("near_dup_of"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        when(col("near_dup_of").isNotNull, "dup_near")
          .otherwise("new").as("verdict"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)), r.getLong(2),
        r.getString(3))).toSet
    assert(stored.exists(_._4 == "dup_near"),
      "fixture regression: no cross near-dups at the halfway split")
    assert(stored == exhaustive)
  }

  test("advanced labels equal the full semantic re-clustering bit-for-bit") {
    val full = twoLongs(Similarity
      .semanticDedup(spark, graft.Tables.embeddings(spark, sf),
        planes = VecBackbone.Planes, threshold = VecBackbone.Threshold)
      .select("vec_id", "cluster_id"))
    val incr = twoLongs(VecBackbone.advance(spark, sf))
    assert(full.nonEmpty, "fixture regression: full re-clustering empty")
    assert(incr == full,
      s"incremental advance diverged:\n" +
        s"  only-incr: ${(incr -- full).toSeq.sorted.take(10)}\n" +
        s"  only-full: ${(full -- incr).toSeq.sorted.take(10)}")
  }

  test("drift report: history labels only decrease; batch vecs read absent") {
    import org.apache.spark.sql.functions._
    val spl = VecBackbone.deltaSplit(spark, sf)
    val drift = Similarity.queries("d_semantic_drift")(spark, sf)
    val rows = drift.collect()
    assert(rows.nonEmpty, "fixture regression: current clustering empty")
    rows.foreach { r =>
      val (vec, prev, cur) = (r.getLong(0), r.getLong(1), r.getLong(2))
      if (vec >= spl)
        assert(prev == -1L, s"batch vec $vec must read cluster_prev=-1")
      else
        // edges only grow version-over-version and labels are min-ids,
        // so a history vec's label can move only DOWN
        assert(cur <= prev, s"history vec $vec: label rose $prev -> $cur")
      assert((r.getInt(3) == 1) == (prev != cur), s"vec $vec: changed flag")
    }
    // prev labels agree with the stored history table where present
    val histLbl = VecBackbone.history(spark, sf, spl).labels
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.filter(r => r.getLong(0) < spl).foreach { r =>
      val expected = histLbl.getOrElse(r.getLong(0), r.getLong(0))
      assert(r.getLong(1) == expected,
        s"vec ${r.getLong(0)}: cluster_prev != stored history label")
    }
  }

  test("advanceAndStore: committed tables == a fresh full-corpus build") {
    val n = VecBackbone.vecCount(spark, sf)
    val stored = VecBackbone.advanceAndStore(spark, sf)
    val fresh = VecBackbone.history(spark, sf, n) // split = whole corpus

    def bucketRows(df: DataFrame) = df.collect().map { r =>
      (r.getLong(r.fieldIndex("vec_id")),
        r.getInt(r.fieldIndex("bucket")),
        r.getSeq[Float](r.fieldIndex("v")))
    }.toSet
    def codeRows(df: DataFrame) = df.collect().map { r =>
      (r.getLong(r.fieldIndex("vec_id")),
        r.getInt(r.fieldIndex("cell")),
        r.getSeq[Int](r.fieldIndex("codes")))
    }.toSet
    assert(bucketRows(stored.buckets) == bucketRows(fresh.buckets), "buckets")
    assert(codeRows(stored.codes) == codeRows(fresh.codes), "codes")
    assert(twoLongs(stored.pairs.select("va", "vb")) ==
      twoLongs(fresh.pairs.select("va", "vb")), "pairs")
    assert(twoLongs(stored.labels) == twoLongs(fresh.labels), "labels")
  }

  test("two-day chain: advance from COMMITTED state ends at the full rebuild") {
    val n = VecBackbone.vecCount(spark, sf)
    val (t1, t2) = (n / 3, 2 * n / 3)
    val day1 = VecBackbone.advanceAndStore(spark, sf, t1, batchEnd = t2)
    val day2 = VecBackbone.advanceAndStore(spark, sf, t2,
      histOverride = Some(day1))
    val chained = twoLongs(day2.labels)
    val full = twoLongs(Similarity
      .semanticDedup(spark, graft.Tables.embeddings(spark, sf),
        planes = VecBackbone.Planes, threshold = VecBackbone.Threshold)
      .select("vec_id", "cluster_id"))
    assert(chained == full,
      s"two-day chain diverged: " +
        s"only-chain ${(chained -- full).toSeq.sorted.take(5)}, " +
        s"only-full ${(full -- chained).toSeq.sorted.take(5)}")
  }

  test("delta probe and advance rescan no embeddings: both sides ride stored tables") {
    // building the tables scans embeddings ONCE (inside ensure); the
    // probe/advance plans afterwards read warehouse parquet only
    val delta = VecBackbone.deltaVerdicts(spark, sf)
    val dp = delta.queryExecution.executedPlan.toString
    assert(!dp.contains("embeddings.parquet"),
      s"stored-delta must not rescan embeddings:\n$dp")
    val p = VecBackbone.advanceParts(spark, sf)
    try {
      val ap = p.labels.queryExecution.executedPlan.toString
      assert(!ap.contains("embeddings.parquet"),
        s"advance must not rescan embeddings:\n$ap")
    } finally p.caches.foreach(_.unpersist())
  }

  test("advance == rebuild on randomized corpora, splits cutting through clusters") {
    import spark.implicits._
    val rnd = new scala.util.Random(2203)
    (0 until 2).foreach { c =>
      // ~12 near-dup cliques of 3-6 vectors (shared base + small noise,
      // cosine >> threshold) over 8 dims, plus isotropic background;
      // ids SHUFFLED so every split cuts through cliques (cross edges +
      // batch-new clusters)
      val vecs = scala.collection.mutable.Buffer[Array[Float]]()
      (0 until 12).foreach { _ =>
        val base = Array.fill(8)((rnd.nextFloat() - 0.5f) * 2f)
        (0 until 3 + rnd.nextInt(4)).foreach { _ =>
          vecs += base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f)
        }
      }
      (0 until 40).foreach(_ => vecs += Array.fill(8)(rnd.nextFloat() - 0.5f))
      val shuffled = rnd.shuffle(vecs.toSeq).zipWithIndex
        .map { case (v, i) => (i.toLong, v.toSeq) }
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_vadv_prop$c").toString
      shuffled.toDF("vec_id", "embedding")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val full = twoLongs(Similarity
        .semanticDedup(spark, graft.Tables.embeddings(spark, dir),
          planes = VecBackbone.Planes, threshold = VecBackbone.Threshold)
        .select("vec_id", "cluster_id"))
      assert(full.nonEmpty, s"corpus $c: planted cliques produced no clusters")
      val n = shuffled.size
      Seq(n / 4, n / 2, 3 * n / 4).foreach { split =>
        val p = VecBackbone.advanceParts(spark, dir, split.toLong)
        val incr = twoLongs(p.labels)
        p.caches.foreach(_.unpersist())
        assert(incr == full,
          s"corpus $c split $split diverged: " +
            s"only-incr ${(incr -- full).toSeq.sorted.take(5)}, " +
            s"only-full ${(full -- incr).toSeq.sorted.take(5)}")
      }
    }
  }

  test("warehouse mode: a committed fresh advance is REUSED across a JVM restart") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("vecbb_adv_wh").toString
    val corpus = java.nio.file.Files.createTempDirectory("vecbb_adv_c").toString
    val rnd = new scala.util.Random(31)
    (0L until 48L).map(i => (i, Array.fill(8)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
    val prev = sys.props.get("graft.backbone.dir")
    sys.props("graft.backbone.dir") = root
    try {
      // night 1: the stored-history ("fresh") commit — corpus-token
      // keyed, so it must be findable by the NEXT JVM
      val day1 = VecBackbone.advanceAndStore(spark, corpus, 24L)
      val labels1 = twoLongs(day1.labels)
      val advDirs = new java.io.File(root).listFiles()
        .filter(_.isDirectory).flatMap(_.listFiles())
        .filter(_.getName.startsWith("adv"))
      assert(advDirs.nonEmpty, "fresh advance must commit under the corpus subtree")
      val mtime0 = advDirs.map(_.lastModified()).max
      Thread.sleep(20)
      VecBackbone.resetMemoForTest() // the next night's JVM
      val day1Again = VecBackbone.advanceAndStore(spark, corpus, 24L)
      assert(advDirs.map(_.lastModified()).max == mtime0,
        "a marker-complete fresh advance must be REUSED, not recommitted")
      assert(twoLongs(day1Again.labels) == labels1)
    } finally {
      prev match {
        case Some(v) => sys.props("graft.backbone.dir") = v
        case None => sys.props -= "graft.backbone.dir"
      }
      VecBackbone.resetMemoForTest()
    }
  }

  test("quantizer is persisted: a restarted JVM reloads instead of refitting") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // isolated corpus + explicit warehouse, so this test controls both
    val root = java.nio.file.Files.createTempDirectory("vecbb_wh").toString
    val corpus = java.nio.file.Files.createTempDirectory("vecbb_c").toString
    val rnd = new scala.util.Random(7)
    (0L until 64L).map(i => (i, Array.fill(8)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
    val prev = sys.props.get("graft.backbone.dir")
    sys.props("graft.backbone.dir") = root
    try {
      val VecBackbone.Quantizer(coarse0, books0) = VecBackbone.quantizer(spark, corpus)
      val qDir = new java.io.File(root).listFiles()
        .filter(_.isDirectory).flatMap(_.listFiles())
        .find(_.getName == "quantizer").get
      val mtime0 = qDir.lastModified()
      Thread.sleep(20)
      VecBackbone.resetMemoForTest() // simulate the next night's JVM
      val VecBackbone.Quantizer(coarse1, books1) = VecBackbone.quantizer(spark, corpus)
      assert(qDir.lastModified() == mtime0,
        "a marker-complete quantizer must be reloaded, not retrained")
      assert(coarse0.map(_.toSeq).toSeq == coarse1.map(_.toSeq).toSeq)
      assert(books0.map(_.map(_.toSeq).toSeq).toSeq ==
        books1.map(_.map(_.toSeq).toSeq).toSeq)
      // and the stored full-corpus code table equals the incremental
      // append (history codes ∪ batch codes) under that pinned quantizer
      val full = VecBackbone.codes(spark, corpus)
        .select("vec_id", "cell", "codes")
      val h = VecBackbone.history(spark, corpus, 32L)
      val bt = VecBackbone.batch(spark, corpus, 32L)
      val app = h.codes.unionByName(bt.codes).select("vec_id", "cell", "codes")
      assert(full.except(app).isEmpty && app.except(full).isEmpty,
        "incremental code append diverged from the full encode")
      // a data drop at the same path retrains (fresh token subtree)
      (0L until 64L).map(i => (i, Array.fill(8)(rnd.nextFloat() - 0.5f)))
        .toDF("vec_id", "embedding")
        .write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
      val VecBackbone.Quantizer(coarse2, _) = VecBackbone.quantizer(spark, corpus)
      assert(coarse2.map(_.toSeq).toSeq != coarse0.map(_.toSeq).toSeq,
        "data drop at the same path must retrain the quantizer")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.backbone.dir") = v
        case None => sys.props -= "graft.backbone.dir"
      }
      VecBackbone.resetMemoForTest()
    }
  }

  private def postingRows(df: DataFrame): Set[(Long, Int, Int)] =
    df.collect().map(r => (r.getLong(r.fieldIndex("vec_id")),
      r.getInt(r.fieldIndex("band")), r.getInt(r.fieldIndex("bucket")))).toSet

  test("banded postings: committed advance == from-scratch rebuild, bit-for-bit") {
    val full = postingRows(VecBackbone.bandedPostings(spark, sf))
    val n = VecBackbone.vecCount(spark, sf)
    assert(full.size == n * VecBackbone.Bands,
      "exactly one posting per (vector, band)")
    val adv = postingRows(VecBackbone.bandedAdvanceAndStore(spark, sf))
    assert(adv == full,
      s"banded advance diverged: only-adv ${(adv -- full).take(5)}, " +
        s"only-full ${(full -- adv).take(5)}")
  }

  test("axis banded postings: too-few dims raises, never silently truncates") {
    import spark.implicits._
    val e = Seq((0L, Seq(1f, -1f, 1f))).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Similarity.bandedSignBuckets(spark, e, bands = 2, planes = 4).collect()
    }
    assert(ex.getMessage != null)
    // and a NULL embedding still passes through as a null bucket
    val withNull = Seq((0L, Option(Seq.fill(8)(1f))), (1L, None))
      .toDF("vec_id", "embedding")
    val got = Similarity.bandedSignBuckets(spark, withNull, 2, 4).collect()
    assert(got.length == 4)
    assert(got.filter(_.getLong(0) == 1L).forall(_.isNullAt(2)))
  }

  test("banded random geometry: band 0 == the single-band plane set at (r, seed)") {
    import org.apache.spark.sql.functions._
    val e = graft.Tables.embeddings(spark, sf)
    def pairs(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val single = pairs(Similarity.signBucketsRandom(spark, e, 6, 7L)
      .select("vec_id", "bucket"))
    val band0 = pairs(Similarity.bandedSignBuckets(spark, e, 3, 6, Some(7L))
      .filter(col("band") === 0).select("vec_id", "bucket"))
    assert(band0 == single,
      "one continuous plane stream: banded band 0 must equal the " +
        "single-band geometry at the same (r, seed)")
  }

  test("banded recall dominates single-band per pair; bands_hit bounded") {
    // the single-band bucket (signs of dims 1-4) IS band 0 of the banded
    // geometry, so caught_banded >= caught_single must hold row by row
    val single = Similarity.queries("d_ann_recall")(spark, sf)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(3))).toMap
    val banded = Similarity.queries("d_ann_recall_banded")(spark, sf).collect()
    assert(banded.nonEmpty && banded.length == single.size)
    banded.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      val (caught, hits) = (r.getInt(3), r.getLong(4))
      assert(hits >= 0L && hits <= VecBackbone.Bands.toLong, s"bands_hit $hits at $k")
      assert((caught == 1) == (hits > 0L), s"caught/bands_hit disagree at $k")
      assert(caught >= single(k), s"band 0 pair lost at $k")
    }
    val extra = banded.count(r => r.getInt(3) == 1) -
      single.valuesIterator.sum
    assert(extra > 0,
      "fixture regression: the second band caught no extra truth pairs — " +
        "the composite-recall claim needs a visible lift")
  }

  test("banded stored delta dominates single-band per vector; band 0 agrees") {
    // band 0 of the banded geometry IS the single-band bucket, so every
    // single-band candidate survives banding: n_near_banded >= n_near,
    // and a 'dup_near' verdict can only appear, never vanish
    val single = VecBackbone.deltaVerdicts(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    val banded = VecBackbone.deltaVerdictsBanded(spark, sf).collect()
    assert(banded.length == single.size)
    banded.foreach { r =>
      val id = r.getLong(0)
      val (nS, vS) = single(id)
      assert(r.getLong(2) >= nS, s"banding lost a candidate at vec $id")
      if (vS == "dup_near") assert(r.getString(3) == "dup_near",
        s"banding demoted a dup verdict at vec $id")
    }
    val extra = banded.map(_.getLong(2)).sum - single.valuesIterator.map(_._1).sum
    assert(extra > 0,
      "fixture regression: the second band surfaced no extra near-dups")
  }

  test("banded advance == from-scratch banded re-clustering, bit-for-bit") {
    val full = twoLongs(Similarity
      .semanticDedupBanded(spark, graft.Tables.embeddings(spark, sf),
        bands = VecBackbone.Bands, planes = VecBackbone.Planes,
        threshold = VecBackbone.Threshold)
      .select("vec_id", "cluster_id"))
    val adv = twoLongs(VecBackbone.advanceBanded(spark, sf))
    assert(full.nonEmpty)
    assert(adv == full,
      s"banded advance diverged: only-adv ${(adv -- full).toSeq.sorted.take(5)}, " +
        s"only-full ${(full -- adv).toSeq.sorted.take(5)}")
  }

  test("banded clustering COARSENS the single-band clustering") {
    // banded edges are a superset of single-band edges (band 0 is the
    // single-band bucket), so any two vectors sharing a single-band
    // cluster must share a banded cluster
    val single = Similarity
      .semanticDedup(spark, graft.Tables.embeddings(spark, sf),
        planes = VecBackbone.Planes, threshold = VecBackbone.Threshold)
      .select("vec_id", "cluster_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val banded = Similarity
      .semanticDedupBanded(spark, graft.Tables.embeddings(spark, sf),
        bands = VecBackbone.Bands, planes = VecBackbone.Planes,
        threshold = VecBackbone.Threshold)
      .select("vec_id", "cluster_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(single.keySet.subsetOf(banded.keySet),
      "a single-band cluster member left the banded clustering")
    single.groupBy(_._2).values.foreach { members =>
      val bandedLabels = members.keys.map(banded).toSet
      assert(bandedLabels.size == 1,
        s"single-band cluster split under banding: $members -> $bandedLabels")
    }
    assert(banded.size > single.size ||
      banded.values.toSet.size < single.values.toSet.size,
      "fixture regression: banding neither admitted new members nor merged clusters")
  }

  test("banded advance == rebuild on randomized corpora and splits") {
    import spark.implicits._
    val rnd = new scala.util.Random(4406)
    // near-dup cliques over 8 dims + background, ids shuffled — same
    // fixture law as the single-band property test, at banded geometry
    val vecs = scala.collection.mutable.Buffer[Array[Float]]()
    (0 until 12).foreach { _ =>
      val base = Array.fill(8)((rnd.nextFloat() - 0.5f) * 2f)
      (0 until 3 + rnd.nextInt(4)).foreach { _ =>
        vecs += base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f)
      }
    }
    (0 until 40).foreach(_ => vecs += Array.fill(8)(rnd.nextFloat() - 0.5f))
    val shuffled = rnd.shuffle(vecs.toSeq).zipWithIndex
      .map { case (v, i) => (i.toLong, v.toSeq) }
    val dir = java.nio.file.Files
      .createTempDirectory("graft_vadv_banded").toString
    shuffled.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val full = twoLongs(Similarity
      .semanticDedupBanded(spark, graft.Tables.embeddings(spark, dir),
        bands = VecBackbone.Bands, planes = VecBackbone.Planes,
        threshold = VecBackbone.Threshold)
      .select("vec_id", "cluster_id"))
    assert(full.nonEmpty, "planted cliques produced no banded clusters")
    val n = shuffled.size
    Seq(n / 4, n / 2, 3 * n / 4).foreach { split =>
      val incr = twoLongs(VecBackbone.advanceBanded(spark, dir, split.toLong))
      assert(incr == full,
        s"banded split $split diverged: " +
          s"only-incr ${(incr -- full).toSeq.sorted.take(5)}, " +
          s"only-full ${(full -- incr).toSeq.sorted.take(5)}")
    }
  }

  test("SEEDED geometry through the STORED banded chain: sidecar pins it, " +
    "advance == rebuild") {
    // VERDICT r14 #3, stored-path side: the production seeded geometry
    // must ride the warehouse tables, with (seed, bands, planes, dims)
    // persisted as index metadata and read back from the store — never
    // re-derived from a JVM flag or a data probe.
    val e = graft.Tables.embeddings(spark, sf)
    val dims = e.select(org.apache.spark.sql.functions.size(
      org.apache.spark.sql.functions.col("embedding"))).head.getInt(0)
    val geom = BandedGeom.seeded(bands = 2, planes = 6, seed = 7L, dims = dims)
    // stored full-corpus postings == the pinned derivation
    val stored = postingRows(VecBackbone.bandedPostings(spark, sf, geom))
    val derived = postingRows(Similarity.bandedSignBucketsGeom(spark, e, geom))
    assert(stored == derived && stored.nonEmpty,
      "stored seeded postings diverge from the pinned derivation")
    // history state carries the geometry from its sidecar
    val split = VecBackbone.deltaSplit(spark, sf)
    val h = VecBackbone.historyBanded(spark, sf, split, geom)
    assert(h.geom == geom, s"history sidecar lost the geometry: ${h.geom}")
    // advance at the stored geometry == from-scratch seeded rebuild
    val adv = twoLongs(VecBackbone.advanceBanded(spark, sf, geom = geom))
    val full = twoLongs(Similarity
      .semanticDedupBanded(spark, e, bands = geom.bands,
        planes = geom.planes, threshold = VecBackbone.Threshold,
        lshSeed = geom.seed)
      .select("vec_id", "cluster_id"))
    assert(full.nonEmpty)
    assert(adv == full,
      s"seeded banded advance diverged: " +
        s"only-adv ${(adv -- full).toSeq.sorted.take(5)}, " +
        s"only-full ${(full -- adv).toSeq.sorted.take(5)}")
  }

  test("pinned seeded geometry raises on a dims mismatch, nulls pass through") {
    import spark.implicits._
    val geom = BandedGeom.seeded(2, 4, 11L, 8)
    val bad = Seq((0L, Seq(1f, -1f, 1f))).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Similarity.bandedSignBucketsGeom(spark, bad, geom).collect()
    }
    assert(ex.getMessage != null)
    val withNull = Seq((0L, Option(Seq.fill(8)(1f))), (1L, None))
      .toDF("vec_id", "embedding")
    val got = Similarity.bandedSignBucketsGeom(spark, withNull, geom).collect()
    assert(got.length == 4)
    assert(got.filter(_.getLong(0) == 1L).forall(_.isNullAt(2)))
  }

  test("quantizerDrift: zero-drift law at split = corpus end; sane report " +
    "at the half split") {
    // pinned-as-of-the-full-corpus == the live quantizer (same seeded
    // sample, same deterministic fit), so the drift report must be
    // identically zero — the audit's self-consistency law
    val n = VecBackbone.vecCount(spark, sf)
    val zero = VecBackbone.quantizerDrift(spark, sf, splitOverride = n)
      .collect()
    assert(zero.length == VecBackbone.NCells)
    assert(zero.map(_.getLong(1)).sum == n, "every stored vector reported")
    zero.foreach { r =>
      assert(r.getLong(2) == 0L && r.getDouble(3) == 0.0,
        s"zero-drift law broken at cell ${r.getInt(0)}: $r")
      assert(r.getDouble(4) == 0.0,
        s"center moved with an identical fit at cell ${r.getInt(0)}")
    }
    // the real audit at the half split: complete partition of the
    // corpus, fractions in range — the operator-facing shape
    val rep = VecBackbone.quantizerDrift(spark, sf).collect()
    assert(rep.length == VecBackbone.NCells)
    assert(rep.map(_.getLong(1)).sum == n)
    rep.foreach { r =>
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
      assert(r.getLong(2) <= r.getLong(1))
    }
  }

  test("quantizerDrift: a planted distribution shift in the batch half " +
    "raises the retrain signal") {
    import spark.implicits._
    val rnd = new scala.util.Random(88)
    // history: tight blobs near the origin; batch: the same blobs
    // translated far away — exactly the staleness the audit exists to
    // surface (the historical quantizer has no cell where the new mass
    // lives)
    val hist = (0 until 32).map { i =>
      (i.toLong, Seq.fill(8)((rnd.nextFloat() - 0.5f) * 0.4f))
    }
    val batch = (32 until 64).map { i =>
      (i.toLong, Seq.fill(8)(3.0f + (rnd.nextFloat() - 0.5f) * 0.4f))
    }
    val dir = java.nio.file.Files
      .createTempDirectory("graft_qdrift").toString
    (hist ++ batch).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val rep = VecBackbone.quantizerDrift(spark, dir).collect()
    assert(rep.map(_.getLong(1)).sum == 64L)
    assert(rep.exists(_.getDouble(3) > 0.0) ||
      rep.exists(_.getDouble(4) > 0.1),
      s"planted shift produced no drift signal: ${rep.mkString("; ")}")
  }

  test("sq8 codes: bounded levels, exact norms, quantized cosine tracks exact") {
    import org.apache.spark.sql.functions._
    val cq = VecBackbone.sq8Codes(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
    assert(cq.nonEmpty)
    cq.foreach { case (id, codes, qq) =>
      assert(codes.forall(c => c >= -127 && c <= 127),
        s"vec $id: level outside the signed-8-bit range")
      assert(qq == codes.map(c => c * c).sum, s"vec $id: stored qq drifts")
    }
    // the scale's definition: at least one dimension somewhere quantizes
    // to a full-magnitude level (|x| == s ⇒ |code| == 127)
    assert(cq.exists(_._2.exists(c => math.abs(c) == 127)),
      "no full-scale level — the global max is not doing its job")
    // quantized cosine within the 8-bit error envelope of the exact one
    // for every pair the catalog key returns (64 dims ⇒ well under 0.05)
    val vecs = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), expr("CAST(embedding AS ARRAY<DOUBLE>)"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val worst = graft.SparkEntry.queries("d_ann_sq8")(spark, sf).collect()
      .map { r =>
        val (q, n, cq8) = (r.getLong(0), r.getLong(2), r.getDouble(3))
        math.abs(cq8 - cos(vecs(q), vecs(n)))
      }.max
    assert(worst <= 0.05, f"quantized cosine off by $worst%.4f — 8 bits broken")
  }

  test("sq8 recall audit: hits bounded, ratio consistent, loss visible at sf0.01") {
    val rows = graft.SparkEntry.queries("d_ann_recall_sq8")(
        spark, "/root/testdata/sf0.01").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.length == 200, "one row per query, zero-hit queries included")
    rows.foreach { case (q, h, r5) =>
      assert(h >= 0 && h <= 5, s"query $q: hits $h outside [0,5]")
      assert(math.abs(r5 - h / 5.0) < 1e-9, s"query $q: recall5 != hits/5")
    }
    val mean = rows.map(_._3).sum / rows.length
    assert(mean >= 0.9, f"sq8 mean recall@5 $mean%.3f — 8 bits should be near-exact")
    assert(rows.exists(_._2 < 5),
      "no query lost a neighbor at sf0.01 — the audit can't detect loss it never sees")
  }

  test("sq8 advance == full re-encode under the pinned scale; corpus-end identity") {
    import org.apache.spark.sql.functions._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList, r.getLong(2))).toSet
    val n = graft.Tables.embeddings(spark, sf).count()
    val split = n / 2
    val adv = rows(VecBackbone.sq8Advance(spark, sf, split))
    val sc = VecBackbone.sq8ScaleAt(spark, sf, split)
    val full = rows(VecBackbone.sq8EncodeUnder(
      graft.Tables.embeddings(spark, sf)
        .select(col("vec_id"), expr("CAST(embedding AS ARRAY<DOUBLE>)").as("v"))
        .withColumn("s", lit(sc)), "s"))
    assert(adv == full,
      "append under the pinned scale must equal the full re-encode under it")
    // the history's own build is the prefix of the advance (never
    // re-encoded), and codesAt(corpus end) is the main build verbatim
    assert(rows(VecBackbone.sq8CodesAt(spark, sf, split)).subsetOf(adv))
    assert(rows(VecBackbone.sq8CodesAt(spark, sf, n)) ==
      rows(VecBackbone.sq8Codes(spark, sf)))
    assert(VecBackbone.sq8ScaleAt(spark, sf, n) == VecBackbone.sq8Scale(spark, sf))
  }

  test("sq8 planted out-of-range batch: clamp bites at ±127 and the clip audit fires") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(1507)
    val dir = java.nio.file.Files.createTempDirectory("sq8clip").toString
    // history: 20 vectors in [-1, 1]; batch: 10 vectors scaled ×2 —
    // beyond any scale the history half can pin
    val rows = (0L until 30L).map { i =>
      val scale = if (i < 20) 1.0f else 2.0f
      (i, Array.fill(8)((rnd.nextFloat() * 2 - 1) * scale), 0)
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val adv = VecBackbone.sq8Advance(spark, dir, 20)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    assert(adv.values.forall(_.forall(c => c >= -127 && c <= 127)),
      "a level escaped the signed-8-bit range — the clamp is not applied")
    assert((20L until 30L).exists(i => adv(i).exists(c => math.abs(c) == 127)),
      "no batch level saturated — the planted overflow never reached the clamp")
    val clip = graft.SparkEntry.queries("d_ann_sq8_clip")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(4))).toMap
    // catalog split is n/2 = 15: the history SIDE of the audit spans the
    // scale's own slice, the batch side contains the ×2 vectors
    assert(clip("batch")._2 > 0, s"clip audit blind to planted overflow: $clip")
    assert(clip("batch")._3 > 1.0, "batch max must exceed the pinned scale")
  }

  test("sq8 on an all-zero corpus: the scale guard pins codes and scores to zero") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sq8zero").toString
    (0L until 20L).map(i => (i, Array.fill(8)(0.0f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val cq = VecBackbone.sq8Codes(spark, dir).collect()
      .map(r => (r.getSeq[Long](1), r.getLong(2)))
    assert(cq.forall { case (codes, qq) => codes.forall(_ == 0L) && qq == 0L })
    val scored = graft.SparkEntry.queries("d_ann_sq8")(spark, dir).collect()
    assert(scored.nonEmpty && scored.forall(_.getDouble(3) == 0.0),
      "zero-norm guard must pin cos_q to 0.0, not NULL/NaN")
    // the recall audit's EXACT side carries the same pin (Spark's 0/0
    // is NULL-sorts-last, DuckDB's is NaN-sorts-first — ungated, a zero
    // vector splits the engines' top-5 sets): on the all-zero corpus
    // both rankings degenerate to (0.0, n_id) and must agree perfectly
    val rec = graft.SparkEntry.queries("d_ann_recall_sq8")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(rec.nonEmpty && rec.forall { case (h, r5) => h == 5 && r5 == 1.0 },
      "zero-norm corpus must rank identically under both scores")
  }
}
