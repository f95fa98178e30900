package graft.pipeline

import graft.{Tables, TestSession}
import graft.functions.{GraftExtensions, SimHash64}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  test("simhash64: identity, locality, codegen == interpreted") {
    val a = SimHash64.compute(UTF8String.fromString("the quick brown fox jumps over dog"))
    val b = SimHash64.compute(UTF8String.fromString("the quick brown fox jumps over dog"))
    assert(a == b)
    // one-token change flips few bits
    val c = SimHash64.compute(UTF8String.fromString("the quick brown fox jumps over cat"))
    assert(java.lang.Long.bitCount(a ^ c) < 20)
    // unrelated text is far
    val e = SimHash64.compute(UTF8String.fromString("zzz yyy xxx www vvv uuu ttt"))
    assert(java.lang.Long.bitCount(a ^ e) > 15)
    // SQL (codegen) path matches direct eval
    GraftExtensions.register(spark)
    val viaSql = spark.sql(
      "SELECT simhash64('the quick brown fox jumps over dog') AS h").head().getLong(0)
    assert(viaSql == a)
  }

  test("simhash64 of a literal constant-folds") {
    GraftExtensions.register(spark)
    val df = spark.sql("SELECT simhash64('a b c') AS h FROM range(3)")
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("simhash64"), s"expected constant folding:\n$plan")
  }

  test("simhash pairs ⊇-overlap with minhash near-dup pairs") {
    val mh = TextDedup.queries("d_dedup_minhash")(spark, sf)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = TextDedup.queries("d_dedup_simhash")(spark, sf)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh.nonEmpty, "minhash should find the planted near-dups")
    // SimHash at hamming<=8 should rediscover most high-jaccard pairs.
    val overlap = mh.intersect(sh).size.toDouble / mh.size
    assert(overlap >= 0.5, s"simhash recall vs minhash too low: $overlap ($sh vs $mh)")
  }

  test("recall audit: exact dups always caught; caught pairs are stored verified pairs") {
    val rows = TextDedup.queries("d_dedup_recall")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(rows.nonEmpty, "audit window must contain planted near-dup truth pairs")
    // LAW: jaccard == 1 means identical shingle sets, hence identical
    // minhash signatures and band keys — banding can NEVER miss them
    val exact = rows.filter(_._3 == 1.0)
    assert(exact.nonEmpty && exact.forall(_._4 == 1),
      s"an exact-duplicate pair escaped the banding: ${exact.filter(_._4 == 0)}")
    // LAW: a caught truth pair (jaccard >= theta, shares a bucket) is by
    // definition an LSH candidate that verification keeps — it must
    // appear in the stored verified-pairs table
    val stored = Backbone.pairs(spark, sf)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val caught = rows.filter(_._4 == 1).map(t => (t._1, t._2))
    assert(caught.forall(stored.contains),
      s"caught pairs missing from the stored pair table: ${caught.filterNot(stored.contains)}")
    // the audit's point: measured recall is reported, and for the planted
    // corpus it should be healthily above the theta-floor S-curve value
    val recall = rows.count(_._4 == 1).toDouble / rows.size
    assert(recall >= 0.5, s"window recall implausibly low: $recall")
  }

  test("curation drift: full-corpus coverage, absent iff new, shared current side, real flips") {
    val spl = graft.Tables.documents(spark, sf).count() / 2
    val drift = TextDedup.queries("d_curation_drift")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3)))
    assert(drift.length == spl * 2 + (graft.Tables.documents(spark, sf).count() - spl * 2),
      "one row per corpus doc")
    drift.foreach { case (id, prev, cur, changed) =>
      assert((prev == "absent") == (id >= spl),
        s"absent must mean exactly 'not in the previous version' ($id)")
      assert(changed == (if (prev != cur) 1 else 0))
    }
    // the current side IS the d_curation_apply cascade — same table
    val apply = TextDedup.queries("d_curation_apply")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    drift.foreach { case (id, _, cur, _) => assert(apply(id) == cur) }
    // the audit's raison d'être: history docs whose verdict FLIPPED when
    // the batch landed (a new member steals a keeper slot or bridges
    // clusters) — the planted corpus contains them at every SF
    assert(drift.exists { case (id, prev, cur, _) =>
      id < spl && prev == "kept" && cur.startsWith("drop") },
      "expected at least one previously-kept doc demoted by the new batch")
  }

  test("ann recall audit: caught flag == recomputed sign buckets, window nonempty") {
    val rows = Similarity.queries("d_ann_recall")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(rows.nonEmpty, "probe window must contain cosine-truth pairs")
    // LAW: the stored inverted list must carry exactly the axis-sign
    // buckets — recompute them from the embeddings and require the
    // caught flag to match pair by pair
    val b = Similarity.signBuckets(spark, graft.Tables.embeddings(spark, sf), 4)
      .select("vec_id", "bucket").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    rows.foreach { case (va, vb, _, caught) =>
      assert((b(va) == b(vb)) == (caught == 1),
        s"stored-bucket catch disagrees with recomputed signs for ($va,$vb)")
    }
    val recall = rows.count(_._4 == 1).toDouble / rows.size
    assert(recall > 0.0, "planted duplicate embeddings must share buckets")
  }

  test("random-hyperplane geometry: deterministic, bounded, sign-consistent") {
    val e = graft.Tables.embeddings(spark, sf)
    val p = 6
    def run(seed: Long) = Similarity.signBucketsRandom(spark, e, p, seed)
      .select("vec_id", "bucket").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    val a = run(7L)
    // LAW: same seed => identical buckets across independent plan builds
    // (the matrix is a pure function of the seed — the "index metadata"
    // a production deployment pins alongside the quantizer)
    assert(a == run(7L), "same-seed bucketing must be plan-independent")
    // buckets live in [0, 2^p)
    assert(a.values.forall(b => b >= 0 && b < (1 << p)))
    // a different seed draws different hyperplanes: bucketings differ
    val c = run(8L)
    assert(a.exists { case (k, v) => c(k) != v },
      "distinct seeds should produce distinct hyperplanes")
    // the semanticDedup lshSeed plumbing selects the random geometry and
    // still yields near-dup clusters (labels cover vectors in >=1 pair,
    // same contract as the axis geometry)
    val labeled = Similarity
      .semanticDedup(spark, e, planes = p, threshold = 0.3, lshSeed = Some(7L))
    val n = labeled.count()
    assert(n > 0 && n <= e.count(),
      s"random-geometry dedup labeled $n of ${e.count()} vectors")
    // empty input: the configured-seed path must not crash (routes to the
    // dims-free axis path; both geometries agree on zero rows)
    val empty = Similarity.signBucketsRandom(
      spark, e.filter("vec_id < 0"), p, 7L)
    assert(empty.count() == 0)
  }

  test("ann lsh results agree with brute force within the same bucket") {
    val brute = Similarity.queries("d_knn_cosine")(spark, sf)
    val lsh = Similarity.queries("d_ann_lsh")(spark, sf)
    // every LSH result pair must appear in brute-force scoring with the
    // same rounded cosine (correctness of the scoring path)
    val bmap = brute.collect().map(r =>
      (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val top1 = lsh.filter(col("rnk") === 1).collect()
    assert(top1.nonEmpty)
    // recall floor: the conditional cosine check below is vacuous if NO
    // lsh top-1 lands in the brute top-5 (e.g. a bucket-bit regression
    // returning arbitrary same-bucket neighbors) — require a majority hit
    val hits = top1.count(r => bmap.contains((r.getLong(0), r.getLong(2))))
    assert(hits.toDouble / top1.length >= 0.5,
      s"lsh top-1 recall vs brute top-5 too low: $hits/${top1.length}")
    top1.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      bmap.get(key).foreach(c => assert(c == r.getDouble(3)))
    }
  }

  test("ivf ann (exhaustive catalog regime): equals brute force exactly") {
    // the catalog pins nProbe = nCells, where the IVF machinery must
    // reproduce brute force row-for-row — any assignment/probe/join bug
    // drops or duplicates a candidate and breaks this
    val brute = Similarity.queries("d_knn_cosine")(spark, sf).collect().map(_.toSeq).toSeq
    val ivf = Similarity.queries("d_ann_ivf")(spark, sf).collect().map(_.toSeq).toSeq
    assert(ivf.nonEmpty && ivf == brute)
  }

  test("ivf-pq ann (exhaustive catalog regime): equals brute force, deterministic") {
    val brute = Similarity.queries("d_knn_cosine")(spark, sf).collect().map(_.toSeq).toSeq
    val pq = Similarity.queries("d_ann_ivfpq")(spark, sf).collect().map(_.toSeq).toSeq
    assert(pq.nonEmpty && pq == brute)
    // the deterministic seed makes the whole path reproducible
    val again = Similarity.queries("d_ann_ivfpq")(spark, sf).collect().map(_.toSeq).toSeq
    assert(pq == again)
  }

  test("ivf-pq sub-linear regime: exact cosines on survivors, recall reasonable") {
    // the APPROXIMATE regime the catalog's exhaustive oracle can't see:
    // 2/8 cells probed, ADC-pruned rerank of 50 — probing + quantization
    // quality measured against brute force
    val brute = Similarity.queries("d_knn_cosine")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val pq = Similarity.ivfPq(spark, graft.Tables.embeddings(spark, sf),
      nCells = 8, nProbe = 2, m = 4, k = 16, rerank = 50, topK = 5).collect()
    assert(pq.nonEmpty)
    // survivors are re-ranked EXACTLY: any (q, n) also scored by brute
    // force must carry the identical rounded cosine
    pq.foreach { r =>
      brute.get((r.getLong(0), r.getLong(2)))
        .foreach(c => assert(c == r.getDouble(3)))
    }
    val bruteTop = brute.keySet
    val hit = pq.count(r => bruteTop.contains((r.getLong(0), r.getLong(2))))
    val recall = hit.toDouble / bruteTop.size
    assert(recall >= 0.1, s"ivf-pq sub-linear recall too low: $recall")
  }

  test("multimodal feature extraction: schema, determinism, batching") {
    val docs = Tables.documents(spark, sf)
    val feats = Multimodal.extractFeatures(Multimodal.asMedia(docs), batchSize = 7)
    val rows = feats.collect()
    assert(rows.length == docs.count())
    val byId = rows.map(r => r.doc_id -> r).toMap
    // deterministic: re-run yields identical features
    val again = Multimodal.extractFeatures(Multimodal.asMedia(docs)).collect()
    again.foreach { r =>
      val p = byId(r.doc_id)
      assert(p.mean_byte == r.mean_byte && p.byte_entropy == r.byte_entropy
        && p.thumb.sameElements(r.thumb) && p.n_frames == r.n_frames)
    }
    // n_bytes = utf-8 length of text; entropy is positive for real text
    rows.foreach { r => assert(r.n_bytes > 0 && r.byte_entropy > 0 && r.thumb.length == 4) }
    // video mime gets stride frame-sampling, others a single frame
    assert(rows.filter(_.mime == "video/mp4").forall(_.n_frames >= 1))
    assert(rows.filter(_.mime != "video/mp4").forall(_.n_frames == 1))
  }

  test("frame sampling: stride-width slices tile the sampled prefix in order") {
    val media = Multimodal.asMedia(Tables.documents(spark, sf))
    // sigBytes = stride ⇒ consecutive frames are contiguous; concatenating
    // them in frame_idx order reproduces the payload prefix the
    // floor(len/stride) frame grid covers.
    val frames = Multimodal.frameSample(media, stride = 64, sigBytes = 64)
      .collect().groupBy(_.doc_id)
    val videos = media.filter(_.mime == "video/mp4").collect()
    assert(videos.nonEmpty && frames.size == videos.length)
    videos.foreach { v =>
      val n = math.max(1, v.media.length / 64)
      val covered = math.min(n * 64, v.media.length)
      val rebuilt = frames(v.doc_id).sortBy(_.frame_idx).flatMap(_.frame_bytes)
      assert(rebuilt.length == covered && frames(v.doc_id).length == n)
      assert(rebuilt.sameElements(v.media.take(covered)), s"doc ${v.doc_id} tiling broken")
      frames(v.doc_id).foreach(f => assert(f.frame_off == f.frame_idx * 64))
    }
  }

  test("float_dot native expression == composable zip_with fold (bit-identical)") {
    graft.functions.GraftExtensions.register(spark)
    val rows = Tables.embeddings(spark, sf).limit(100).select(
      expr("float_dot(embedding, embedding)").as("native"),
      expr("""aggregate(zip_with(embedding, embedding,
                (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
              0D, (acc, v) -> acc + v)""").as("hof"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    // interpreted path agrees with the generated one
    val a = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(1.5f, -2f, 3f))
    assert(graft.functions.FloatDot.compute(a, a) == 1.5 * 1.5 + 4.0 + 9.0)
  }

  test("audio windows: hop grid, overlap, tail coverage, bounded energy") {
    val media = Multimodal.asMedia(Tables.documents(spark, sf))
    val wins = Multimodal.audioWindows(media, win = 128, hop = 64)
      .collect().groupBy(_.doc_id)
    val audio = media.filter(_.mime == "audio/wav").collect()
    assert(audio.nonEmpty && wins.size == audio.length)
    audio.foreach { a =>
      val ws = wins(a.doc_id).sortBy(_.win_idx)
      ws.foreach { w =>
        assert(w.win_off == w.win_idx * 64 && w.win_len > 0 && w.win_len <= 128)
        assert(w.energy >= 0.0 && w.energy <= 255.0)
      }
      // last window reaches the payload end; neighbors overlap by 64 bytes
      assert(ws.last.win_off + ws.last.win_len == a.media.length)
      if (ws.length > 1) ws.init.foreach(w => assert(w.win_len == 128))
    }
  }

  test("doc chunking: stride-drop reconstruction, window bounds, overlap stitch") {
    val (w, o) = (24, 6)
    val chunks = graft.SparkEntry.queries("d_doc_chunks")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(chunks.keySet == docs.keySet, "every doc chunks, chunked docs exist")
    chunks.foreach { case (id, cs) =>
      assert(cs.map(_._2).toSeq == (0 until cs.length), s"doc $id: chunk_id gap")
      cs.foreach { case (_, _, txt, nw) =>
        val words = txt.split(" ", -1)
        assert(words.length == nw && nw >= 1 && nw <= w,
          s"doc $id: window bounds broken ($nw words)")
      }
      // RECONSTRUCTION: chunk 0 whole, then each later chunk minus its
      // o-word overlap head, re-joined == the original word stream —
      // proves windows neither drop nor duplicate content
      val rebuilt = (cs.head._3.split(" ", -1) ++
        cs.tail.flatMap(_._3.split(" ", -1).drop(o))).mkString(" ")
      assert(rebuilt == docs(id), s"doc $id: reconstruction drifted")
      // overlap stitch: a full chunk's tail o words == the next chunk's
      // head o words
      cs.sliding(2).foreach {
        case Array(a, b) if a._4 == w =>
          assert(a._3.split(" ", -1).takeRight(o).toSeq ==
            b._3.split(" ", -1).take(o).toSeq, s"doc $id: overlap mismatch")
        case _ => ()
      }
    }
  }
}
