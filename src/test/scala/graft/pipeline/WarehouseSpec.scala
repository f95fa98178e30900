package graft.pipeline

import graft.TestSession
import org.scalatest.funsuite.AnyFunSuite

/** Corpus-version retention (`Warehouse.gc`, VERDICT r12 #2): a nightly
  * chain re-tokenizes every time the source parquet changes, so
  * superseded version subtrees accumulate under an explicit
  * `graft.backbone.dir` forever without GC. Pins keep-last-K semantics,
  * current-version immunity, concurrent-reader grace, per-family
  * isolation, foreign-subtree safety, and the marker discipline after a
  * delete.
  */
class WarehouseSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  import spark.implicits._

  private def writeCorpus(dir: String, texts: Seq[(Long, String)]): Unit =
    texts.toDF("doc_id", "text").withColumn("lang",
      org.apache.spark.sql.functions.lit("en"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  /** Version dirs (sidecar-bearing) currently under `wh`. */
  private def versionDirs(wh: String): Set[String] =
    Option(new java.io.File(wh).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && new java.io.File(f, "_graft_corpus").exists())
      .map(_.getName).toSet

  private def withWarehouse[T](body: String => T): T = {
    val wh = java.nio.file.Files.createTempDirectory("graft_whspec").toString
    val prev = sys.props.get("graft.backbone.dir")
    sys.props("graft.backbone.dir") = wh
    try body(wh)
    finally {
      prev match {
        case Some(v) => sys.props("graft.backbone.dir") = v
        case None => sys.props -= "graft.backbone.dir"
      }
      Backbone.resetMemoForTest() // paths under the temp warehouse are dead
    }
  }

  test("gc keeps the newest K versions per family and never the current") {
    withWarehouse { wh =>
      val root = java.nio.file.Files.createTempDirectory("whspec_corpus").toString
      val d = s"$root/corpus"
      // four corpus versions (row-count change => new token each time)
      val dirsByDay = (1 to 4).map { day =>
        writeCorpus(d, (1L to day.toLong).map(i => (i, s"doc $i words here")))
        Backbone.fingerprints(spark, d).count()
        Thread.sleep(20) // distinct sidecar mtimes
        versionDirs(wh)
      }
      assert(dirsByDay.last.size == 4, s"expected 4 version dirs, got ${dirsByDay.last}")
      val current = (dirsByDay.last -- dirsByDay(2)).head

      // all stamps are seconds old: the default grace window protects
      // every version a reader just resolved, so nothing is deleted even
      // at keep=1 — the concurrent-reader safety pin
      assert(Warehouse.gc(spark, keep = 1).isEmpty,
        "gc must not delete versions stamped within the grace window")
      assert(versionDirs(wh).size == 4)

      // grace waived: keep=2 retains the newest two, deletes the oldest two
      val del2 = Warehouse.gc(spark, keep = 2, graceMs = 0L)
      assert(del2.size == 2, s"expected 2 deletions, got $del2")
      assert(versionDirs(wh) == (dirsByDay.last -- dirsByDay(1)),
        "keep=2 must retain exactly the two newest versions")

      // keep=1 retains only the current version
      assert(Warehouse.gc(spark, keep = 1, graceMs = 0L).size == 1)
      assert(versionDirs(wh) == Set(current),
        "keep=1 must retain exactly the current version")

      // the survivor is still marker-complete and reusable by a new JVM
      Backbone.resetMemoForTest()
      val fpsDir = new java.io.File(s"$wh/$current/fps2")
      val mtime0 = fpsDir.lastModified()
      assert(Backbone.fingerprints(spark, d).count() == 4)
      assert(fpsDir.lastModified() == mtime0,
        "gc must leave the retained version's marker discipline intact")
    }
  }

  test("gc isolates corpus families and never touches foreign subtrees") {
    withWarehouse { wh =>
      val root = java.nio.file.Files.createTempDirectory("whspec_fam").toString
      val dA = s"$root/corpusA"; val dB = s"$root/corpusB"
      // corpus A: two versions; corpus B: one version, built FIRST so its
      // only (= current) version carries the family's oldest stamp
      writeCorpus(dB, Seq((9L, "other corpus entirely")))
      Backbone.fingerprints(spark, dB).count()
      Thread.sleep(20)
      writeCorpus(dA, Seq((1L, "alpha beta gamma")))
      Backbone.fingerprints(spark, dA).count()
      Thread.sleep(20)
      writeCorpus(dA, Seq((1L, "alpha beta gamma"), (2L, "eta theta iota")))
      Backbone.fingerprints(spark, dA).count()

      // a foreign subtree (no _graft_corpus sidecar) and a loose file
      val foreign = new java.io.File(wh, "foreign_state")
      assert(foreign.mkdir())
      val keepMe = new java.io.File(foreign, "data.txt")
      java.nio.file.Files.write(keepMe.toPath, "precious".getBytes)

      val before = versionDirs(wh)
      assert(before.size == 3)
      val deleted = Warehouse.gc(spark, keep = 1, graceMs = 0L)
      // keep=1 is PER FAMILY: A's superseded version goes, A's current and
      // B's only version survive even though B's stamp is globally oldest
      assert(deleted.size == 1, s"expected A's old version only, got $deleted")
      assert(versionDirs(wh).size == 2)
      assert(Backbone.fingerprints(spark, dB).collect().map(_.getLong(0)).toSet == Set(9L))
      assert(keepMe.exists() && foreign.isDirectory,
        "gc must never touch subtrees without a _graft_corpus sidecar")
    }
  }

  test("gc invalidates the in-JVM built memo: a rolled-back corpus rebuilds") {
    // The subtle failure r13 review caught: memo keys are RAW paths but
    // listStatus returns scheme-qualified ones ("file:/…"), so a naive
    // prefix match invalidates nothing. Observable: gc deletes version
    // V1's subtree; the corpus then ROLLS BACK to byte-identical V1
    // (same file count/bytes/mtimes => same token). A stale built memo
    // would short-circuit ensure() and readers would hit the deleted
    // parquet — the fix rebuilds instead.
    withWarehouse { wh =>
      val root = java.nio.file.Files.createTempDirectory("whspec_rb").toString
      val d = s"$root/corpus"
      writeCorpus(d, Seq((1L, "alpha beta gamma")))
      assert(Backbone.fingerprints(spark, d).count() == 1)
      // snapshot V1's parquet dir, preserving mtimes (the token inputs)
      val src = new java.io.File(s"$d/documents.parquet")
      val snap = java.nio.file.Files.createTempDirectory("whspec_snap").toFile
      src.listFiles().foreach { f =>
        val dst = new java.io.File(snap, f.getName)
        java.nio.file.Files.copy(f.toPath, dst.toPath)
        assert(dst.setLastModified(f.lastModified()))
      }
      Thread.sleep(20)
      writeCorpus(d, Seq((1L, "alpha beta gamma"), (2L, "eta theta iota")))
      assert(Backbone.fingerprints(spark, d).count() == 2)
      // keep=1 deletes V1's subtree (grace waived)
      assert(Warehouse.gc(spark, keep = 1, graceMs = 0L).size == 1)
      // roll back: restore V1's files byte- and mtime-identical
      src.listFiles().foreach(f => assert(f.delete()))
      snap.listFiles().foreach { f =>
        val dst = new java.io.File(src, f.getName)
        java.nio.file.Files.copy(f.toPath, dst.toPath)
        assert(dst.setLastModified(f.lastModified()))
      }
      // same token as deleted V1: the memo must NOT claim it built
      val got = Backbone.fingerprints(spark, d).collect()
        .map(_.getLong(0)).toSet
      assert(got == Set(1L),
        s"rolled-back corpus must rebuild the gc'd version, got $got")
    }
  }

  test("auto-gc rides the nightly advance commit when opted in") {
    withWarehouse { wh =>
      val root = java.nio.file.Files.createTempDirectory("whspec_auto").toString
      val d = s"$root/corpus"
      writeCorpus(d, Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta")))
      Backbone.fingerprints(spark, d).count() // version V1
      Thread.sleep(20)
      writeCorpus(d, Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"),
        (3L, "eta theta iota")))
      assert(versionDirs(wh).size == 1)
      val prev = sys.props.get("graft.backbone.autoGcKeep")
      sys.props("graft.backbone.autoGcKeep") = "1"
      try Warehouse.withGcGraceMs(0L) {
        // the nightly commit on V2: advance runs, then auto-gc prunes V1
        Backbone.advanceAndStore(spark, d).labels.count()
        assert(versionDirs(wh).size == 1,
          s"auto-gc should leave only V2, got ${versionDirs(wh)}")
        // V2's own tables survive and stay readable
        assert(Backbone.fingerprints(spark, d).count() == 3)
        // MEMO-HIT calls must NOT gc: plant a fake superseded sibling of
        // the same family (copied sidecar, old stamp), re-call the
        // advance (nothing commits), and require the sibling to survive —
        // serving-path callers pay no warehouse scan (r13 review)
        val live = versionDirs(wh).head
        val fake = new java.io.File(wh, "fake_superseded_version")
        assert(fake.mkdir())
        java.nio.file.Files.copy(
          new java.io.File(s"$wh/$live/_graft_corpus").toPath,
          new java.io.File(fake, "_graft_corpus").toPath)
        assert(new java.io.File(fake, "_graft_corpus")
          .setLastModified(System.currentTimeMillis() - 3600_000L))
        Backbone.advanceAndStore(spark, d).labels.count() // memo hit
        assert(fake.exists(),
          "a memo-hit advance must not run auto-gc (no warehouse scan)")
        // ...while an explicit gc at the same settings does prune it
        assert(Warehouse.gc(spark, keep = 1, graceMs = 0L).size == 1)
        assert(!fake.exists())
      } finally prev match {
        case Some(v) => sys.props("graft.backbone.autoGcKeep") = v
        case None => sys.props -= "graft.backbone.autoGcKeep"
      }
    }
  }

  /** `body`'s value and the Spark jobs it started. */
  private def withJobCount[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val v = body
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      (v, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a stored table reads back with the schema it was written with: " +
      "no inference job, the same rows") {
    val path = java.nio.file.Files.createTempDirectory("whspec_stored").toString + "/t"
    val rows = Seq((1L, "a", Seq(1.0f, 2.0f)), (2L, "b", Seq.empty[Float]), (3L, null, null))
      .toDF("id", "s", "v")
    Warehouse.writeSized(rows, path)
    val (read, jobs) = withJobCount(Warehouse.readParquet(spark, path))
    assert(jobs == 0, s"opening the stored table ran $jobs job(s)")
    val inferred = spark.read.parquet(path)
    assert(read.schema == inferred.schema)
    assert(read.orderBy("id").collect().toSeq == rows.orderBy("id").collect().toSeq)
    // a reset forgets the written schema, as a marker hit from an earlier
    // JVM would: the read infers it again
    Warehouse.resetBuiltForTest()
    val (again, inferJobs) = withJobCount(Warehouse.readParquet(spark, path))
    assert(inferJobs >= 1 && again.schema == inferred.schema)

    // a VecBackbone table with its own layout: opened in a session with
    // no memoized handle, it still reads with the written schema
    withWarehouse { _ =>
      val sf = graft.TestSession.sf
      VecBackbone.buckets(spark, sf)
      val dir = Warehouse.versionDir(spark, sf, "embeddings.parquet", "vec_") +
        s"/buckets_p${VecBackbone.Planes}"
      val (vec, vecJobs) = withJobCount(Warehouse.readParquet(spark.newSession(), dir))
      assert(vecJobs == 0, s"opening the bucket table ran $vecJobs job(s)")
      val vecInferred = spark.read.parquet(dir)
      assert(vec.schema == vecInferred.schema)
      assert(vec.orderBy("vec_id").collect().toSeq ==
        vecInferred.orderBy("vec_id").collect().toSeq)
    }
  }

  test("gc is a no-op under the default per-JVM tmp root") {
    // no explicit graft.backbone.dir set here
    assert(!sys.props.contains("graft.backbone.dir"))
    assert(Warehouse.gc(spark, keep = 1, graceMs = 0L).isEmpty)
  }
}
