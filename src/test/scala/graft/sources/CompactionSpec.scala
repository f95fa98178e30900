package graft.sources

import java.nio.file.Files
import graft.TestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CompactionSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  /** `batches` micro-batches in the ingest layout (event_date=2024-09-14,
    * one ingest_batch dir each), `rowsPer` rows and 2 files per batch. */
  private def ingestTable(dir: String, batches: Int, rowsPer: Int): Unit = {
    import spark.implicits._
    (0 until batches).foreach { b =>
      (0 until rowsPer).map { i =>
        val ts = new java.sql.Timestamp(1726300800000L + (b * rowsPer + i) * 1000L)
        (s"e-$b-$i", "login", ts, java.sql.Date.valueOf("2024-09-14"), b.toLong)
      }.toDF("event_id", "event_name", "timestamp", "event_date", "ingest_batch")
        .coalesce(2).write.mode("append")
        .partitionBy("event_date", "ingest_batch").parquet(dir)
    }
  }

  test("compaction merges micro-batch files, preserves content and sort") {
    val dir = Files.createTempDirectory("compact").toString + "/events_table"
    // 12 micro-batches → many small files
    ingestTable(dir, batches = 12, rowsPer = 50)
    val beforeRows = spark.read.parquet(dir).collect().map(_.getString(0)).sorted

    val stats = Compaction.compactIngest(spark, s"$dir/event_date=2024-09-14",
      maxCommitted = 11L, targetBytes = 512L * 1024 * 1024)
    assert(stats.filesBefore > stats.filesAfter, s"no merge happened: $stats")
    assert(stats.filesAfter <= 2)
    assert(stats.rows == 600)

    val after = spark.read.parquet(dir)
    assert(after.collect().map(_.getString(0)).sorted.sameElements(beforeRows))
    // partition layout preserved
    assert(after.columns.contains("event_date"))
    // rows within each output file are timestamp-sorted (row-group skipping)
    val perFile = after.withColumn("f", input_file_name())
      .withColumn("ts_long", unix_micros(col("timestamp")))
    val unsorted = perFile.withColumn("prev",
        lag("ts_long", 1).over(org.apache.spark.sql.expressions.Window
          .partitionBy("f").orderBy(monotonically_increasing_id())))
      .filter(col("prev").isNotNull && col("prev") > col("ts_long"))
    assert(unsorted.count() == 0, "rows not sorted within compacted files")
  }

  test("compaction preserves EVERY on-disk partition level (ingest layout)") {
    import spark.implicits._
    // with no batch settled, compaction merges each batch's files but
    // keeps its ingest_batch dir: a replayed batch's dynamic overwrite
    // must still find its own partition
    val dir = Files.createTempDirectory("compact2").toString + "/login_events"
    ingestTable(dir, batches = 3, rowsPer = 40)
    val before = spark.read.parquet(dir).collect().map(_.getString(0)).sorted
    Compaction.compactIngest(spark, s"$dir/event_date=2024-09-14",
      maxCommitted = -1L, targetBytes = 512L * 1024 * 1024)
    // both levels still exist as DIRECTORIES
    val dateDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("event_date="))
    assert(dateDirs.nonEmpty, "event_date level lost")
    val batchDirs = dateDirs.flatMap(_.listFiles())
      .filter(f => f.isDirectory && f.getName.startsWith("ingest_batch="))
    assert(batchDirs.length == 3,
      s"ingest_batch level flattened: ${batchDirs.mkString(",")}")
    val after = spark.read.parquet(dir)
    assert(after.collect().map(_.getString(0)).sorted.sameElements(before))
    // and a replayed-batch dynamic overwrite still lands cleanly
    Seq(("e-1-replay", "login",
        new java.sql.Timestamp(1726300845000L),
        java.sql.Date.valueOf("2024-09-14"), 1L))
      .toDF("event_id", "event_name", "timestamp", "event_date", "ingest_batch")
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("event_date", "ingest_batch").parquet(dir)
    val replayed = spark.read.parquet(dir)
    assert(replayed.filter(col("ingest_batch") === 1).count() == 1,
      "replayed batch did not replace its partition")
    assert(replayed.count() == 81, s"expected 40+1+40 rows")
  }

  test("compaction recovers from a crash between the swap renames") {
    val dir = Files.createTempDirectory("compact3").toString + "/t"
    ingestTable(dir, batches = 4, rowsPer = 25)
    val part = s"$dir/event_date=2024-09-14"
    val rows = spark.read.parquet(dir).collect().map(_.getString(0)).sorted
    // simulate the crash window: partition moved aside to .bak, tmp lost
    val bak = new java.io.File(dir, ".event_date=2024-09-14_compact_bak")
    assert(new java.io.File(part).renameTo(bak))
    assert(!new java.io.File(part).exists())
    // a re-run must restore from .bak and complete normally
    val stats = Compaction.compactIngest(spark, part, maxCommitted = 3L,
      targetBytes = 512L * 1024 * 1024)
    assert(stats.rows == 100)
    assert(spark.read.parquet(dir).collect().map(_.getString(0)).sorted
      .sameElements(rows))
    assert(!bak.exists(), "backup not cleaned up after recovery")
  }

  test("compactIngest pools committed batches; uncommitted stay replayable") {
    import spark.implicits._
    val table = Files.createTempDirectory("cingest").toString + "/t"
    // ingest layout: one event_date, batches 0..4, 2 files each (written
    // above the small-input gate, which would write each batch as one)
    (0 until 5).foreach { b => graft.plans.SingleStage.withGateBytes(0) {
      (0 until 20).map { i =>
        val ts = new java.sql.Timestamp(1726300800000L + (b * 20 + i) * 1000L)
        (s"e-$b-$i", "login", ts)
      }.toDF("event_id", "event_name", "timestamp")
        .withColumn("event_date", lit(java.sql.Date.valueOf("2024-09-14")))
        .withColumn("ingest_batch", lit(b.toLong))
        .coalesce(2).write.mode("append")
        .partitionBy("event_date", "ingest_batch").parquet(table)
    }}
    val part = s"$table/event_date=2024-09-14"
    val before = spark.read.parquet(table).collect()
      .map(_.getString(0)).sorted
    // batches <= 3 are committed; batch 4 is the replayable tail
    val stats = Compaction.compactIngest(spark, part, maxCommitted = 3L,
      targetBytes = 512L * 1024 * 1024)
    assert(stats.rows == 100 && stats.filesBefore == 10)
    val dirs = new java.io.File(part).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("ingest_batch="))
      .map(_.getName).sorted
    assert(dirs.toSeq == Seq("ingest_batch=-1", "ingest_batch=4"),
      s"expected pooled -1 + untouched tail, got ${dirs.mkString(",")}")
    val after = spark.read.parquet(table)
    assert(after.collect().map(_.getString(0)).sorted.sameElements(before),
      "compactIngest changed row content")
    assert(after.filter(col("ingest_batch") === -1L).count() == 80)
    // the replayable tail still lands cleanly via dynamic overwrite
    Seq(("e-4-replay", "login", new java.sql.Timestamp(1726301000000L),
        java.sql.Date.valueOf("2024-09-14"), 4L))
      .toDF("event_id", "event_name", "timestamp", "event_date", "ingest_batch")
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("event_date", "ingest_batch").parquet(table)
    val replayed = spark.read.parquet(table)
    assert(replayed.filter(col("ingest_batch") === 4L).count() == 1,
      "replayed tail batch did not replace its partition")
    assert(replayed.count() == 81)
  }

  test("healInterrupted: all three bak states resolve without data loss") {
    import spark.implicits._
    def mkTable(tag: String): (String, String) = {
      val t = Files.createTempDirectory(s"heal_$tag").toString + "/t"
      (0 until 2).foreach { b =>
        (0 until 10).map(i => (s"$tag-$b-$i", b.toLong))
          .toDF("event_id", "ingest_batch")
          .withColumn("event_date", lit(java.sql.Date.valueOf("2024-09-14")))
          .write.mode("append")
          .partitionBy("event_date", "ingest_batch").parquet(t)
      }
      (t, s"$t/event_date=2024-09-14")
    }
    // (a) crash between renames, writer NOT restarted: dir missing
    val (tA, pA) = mkTable("a")
    val rowsA = spark.read.parquet(tA).collect().map(_.getString(0)).sorted
    assert(new java.io.File(pA).renameTo(
      new java.io.File(tA, ".event_date=2024-09-14_compact_bak")))
    new java.io.File(tA, ".event_date=2024-09-14_compact_tmp").mkdirs()
    assert(Compaction.healInterrupted(spark, tA) == Seq("event_date=2024-09-14"))
    assert(spark.read.parquet(tA).collect().map(_.getString(0)).sorted
      .sameElements(rowsA), "restore branch lost rows")
    // (b) crash between renames AND the writer recreated the dir with a
    // fresh batch (+ a replayed one that must win over the backup copy)
    val (tB, pB) = mkTable("b")
    assert(new java.io.File(pB).renameTo(
      new java.io.File(tB, ".event_date=2024-09-14_compact_bak")))
    new java.io.File(tB, ".event_date=2024-09-14_compact_tmp").mkdirs()
    Seq(("b-1-replayed", 1L), ("b-2-new", 2L)).toDF("event_id", "ingest_batch")
      .withColumn("event_date", lit(java.sql.Date.valueOf("2024-09-14")))
      .write.mode("append").partitionBy("event_date", "ingest_batch").parquet(tB)
    assert(Compaction.healInterrupted(spark, tB).nonEmpty)
    val gotB = spark.read.parquet(tB).collect().map(_.getString(0)).toSet
    // batch 0 restored from bak; batch 1 = the writer's replay (wins);
    // batch 2 = the fresh batch
    assert((0 until 10).forall(i => gotB(s"b-0-$i")), "backup batch 0 lost")
    assert(gotB("b-1-replayed") && !(0 until 10).exists(i => gotB(s"b-1-$i")),
      "writer-replayed batch must win over the backup copy")
    assert(gotB("b-2-new"))
    // (c) stale bak next to a healthy dir (post-swap crash): dropped
    val (tC, pC) = mkTable("c")
    val rowsC = spark.read.parquet(tC).collect().map(_.getString(0)).sorted
    new java.io.File(tC, ".event_date=2024-09-14_compact_bak").mkdirs()
    assert(Compaction.healInterrupted(spark, tC).nonEmpty)
    assert(!new java.io.File(tC, ".event_date=2024-09-14_compact_bak").exists())
    assert(spark.read.parquet(tC).collect().map(_.getString(0)).sorted
      .sameElements(rowsC))
    assert(pC.nonEmpty)
  }
}
