package graft.pipeline

import java.nio.file.Files

import graft.TestSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Advance FUZZ: the fixed-split specs (BackboneAdvanceSpec,
  * VecBackboneSpec) pin advance == full rebuild at chosen splits; this
  * harness owns the RANDOM ones. Per seed it plants a random corpus
  * (near-dup cliques of random size/mutation plus background noise, ids
  * SHUFFLED so the history split cuts cliques at random phase), builds
  * the stored history at a random split, advances it to the full corpus
  * and asserts equality with the from-scratch rebuild — on the TEXT side
  * ([[Backbone.advancePlan]]), the VECTOR single-band side
  * ([[VecBackbone.advanceParts]]) and the VECTOR side at a SEEDED banded
  * geometry ([[VecBackbone.advanceBanded]]). Every draw is reproducible
  * from its seed alone.
  */
class AdvanceFuzzSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  /** Random documents + embeddings corpus in a fresh dir; returns
    * (dir, nDocs, nVecs, dims). */
  private def plant(seed: Int): (String, Int, Int, Int) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed * 7919 + 17)
    val vocab = (0 until 60).map(i => s"w$i")
    val docs = scala.collection.mutable.Buffer[String]()
    (0 until 5 + rnd.nextInt(8)).foreach { _ =>
      val base = Seq.fill(9 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.size)))
      (0 until 2 + rnd.nextInt(4)).foreach { _ =>
        val t = base.toArray
        (0 until rnd.nextInt(3)).foreach { _ =>
          t(rnd.nextInt(t.length)) = vocab(rnd.nextInt(vocab.size))
        }
        docs += t.mkString(" ")
      }
    }
    (0 until 30 + rnd.nextInt(60)).foreach { _ =>
      docs += Seq.fill(6 + rnd.nextInt(10))(
        vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val shuffledDocs = rnd.shuffle(docs.toSeq).zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", s"src${i % 3}", t.length.toLong) }

    val dims = Seq(8, 16, 32)(rnd.nextInt(3))
    val vecs = scala.collection.mutable.Buffer[Array[Float]]()
    (0 until 4 + rnd.nextInt(6)).foreach { _ =>
      val base = Array.fill(dims)((rnd.nextFloat() - 0.5f) * 2f)
      (0 until 2 + rnd.nextInt(4)).foreach { _ =>
        vecs += base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.08f)
      }
    }
    (0 until 25 + rnd.nextInt(50)).foreach(_ =>
      vecs += Array.fill(dims)(rnd.nextFloat() - 0.5f))
    val shuffledVecs = rnd.shuffle(vecs.toSeq).zipWithIndex
      .map { case (v, i) => (i.toLong, v.toSeq) }

    val dir = Files.createTempDirectory(s"graft_advfuzz_$seed").toString
    shuffledDocs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    shuffledVecs.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    (dir, shuffledDocs.size, shuffledVecs.size, dims)
  }

  private def twoLongs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  Seq(3, 5, 8).foreach { seed =>
    test(s"seed $seed: random corpus + random split — text advance == rebuild") {
      val rnd = new scala.util.Random(seed * 104729 + 1)
      val (dir, nDocs, _, _) = plant(seed)
      val split = (nDocs / 4 + rnd.nextInt(nDocs / 2)).toLong
      val hist = Backbone.history(spark, dir, split)
      val (adv, caches) = Backbone.advancePlan(spark, dir,
        splitOverride = split, histOverride = Some(hist))
      val advanced = twoLongs(adv)
      caches.foreach(_.unpersist())
      val full = twoLongs(Backbone.labels(spark, dir))
      assert(advanced == full,
        s"text advance diverged at seed $seed split $split: " +
          s"${(advanced -- full).toSeq.sorted.take(5)} / " +
          s"${(full -- advanced).toSeq.sorted.take(5)}")
    }

    test(s"seed $seed: random corpus + random split — vector advances " +
      "(single-band + seeded banded) == rebuilds") {
      val rnd = new scala.util.Random(seed * 7561 + 3)
      val (dir, _, nVecs, dims) = plant(seed + 100)
      val split = (nVecs / 4 + rnd.nextInt(nVecs / 2)).toLong
      val geom = BandedGeom.seeded(bands = 2, planes = 4 + rnd.nextInt(3),
        seed = seed * 37L + 5, dims = dims)

      // single-band
      val hist = VecBackbone.history(spark, dir, split)
      val p = VecBackbone.advanceParts(spark, dir, splitOverride = split,
        histOverride = Some(hist))
      val advanced = twoLongs(p.labels)
      p.caches.foreach(_.unpersist())
      val full = twoLongs(Similarity
        .semanticDedup(spark, graft.Tables.embeddings(spark, dir),
          planes = VecBackbone.Planes, threshold = VecBackbone.Threshold)
        .select("vec_id", "cluster_id"))
      assert(advanced == full,
        s"vector single-band advance diverged at seed $seed split $split")

      // seeded banded, geometry read back FROM THE STORE
      val bHist = VecBackbone.historyBanded(spark, dir, split, geom)
      assert(bHist.geom == geom, s"sidecar lost the geometry: ${bHist.geom}")
      val bAdvanced = twoLongs(VecBackbone.advanceBanded(spark, dir,
        splitOverride = split, geom = geom))
      val bFull = twoLongs(Similarity
        .semanticDedupBanded(spark, graft.Tables.embeddings(spark, dir),
          bands = geom.bands, planes = geom.planes,
          threshold = VecBackbone.Threshold, lshSeed = geom.seed)
        .select("vec_id", "cluster_id"))
      assert(bAdvanced == bFull,
        s"vector seeded-banded advance diverged at seed $seed split $split " +
          s"geom $geom: ${(bAdvanced -- bFull).toSeq.sorted.take(5)} / " +
          s"${(bFull -- bAdvanced).toSeq.sorted.take(5)}")
    }
  }
}
