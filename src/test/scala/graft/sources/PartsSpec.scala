package graft.sources

import graft.TestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `system.parts` analog ([[Parts]]). */
class PartsSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("per-partition file/byte census and the compaction work queue") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_parts").toString
    // Jan 1 written fragmented (4 batches, 1 file each), Jan 2 compact
    // (1 file) — the ingest layout, event_date=X/ingest_batch=N
    (0 until 4).foreach { b =>
      Seq.tabulate(2)(i => (b * 2L + i, "2024-01-01", b.toLong))
        .toDF("v", "event_date", "ingest_batch").coalesce(1)
        .write.partitionBy("event_date", "ingest_batch").mode("append").parquet(dir)
    }
    Seq((99L, "2024-01-02", 0L)).toDF("v", "event_date", "ingest_batch").coalesce(1)
      .write.partitionBy("event_date", "ingest_batch").mode("append").parquet(dir)

    val parts = Parts.forTable(spark, dir).collect()
      .map(r => (r.getAs[String]("partition"), r.getAs[Long]("n_files"),
        r.getAs[Long]("bytes")))
    assert(parts.map(_._1).toSeq ==
      Seq("event_date=2024-01-01", "event_date=2024-01-02"))
    val Array(jan1, jan2) = parts
    assert(jan1._2 == 4 && jan2._2 == 1)
    assert(jan1._3 > 0 && jan2._3 > 0)
    // the work queue is directly consumable paths: batch 0 wrote both
    // dates, only the fragmented one is queued
    val target = 512L * 1024 * 1024
    val queue = Parts.needingCompaction(spark, dir, batchId = 0L, maxFiles = 2,
      targetBytes = target)
    assert(queue.size == 1 && queue.head.endsWith("/event_date=2024-01-01"))
    assert(new java.io.File(new java.net.URI(queue.head).getPath).isDirectory)
    Compaction.compactIngest(spark, queue.head, maxCommitted = 3L,
      sortCols = Seq("v"), targetBytes = target)
    // rows intact after compaction, census reflects the merge
    assert(spark.read.parquet(dir).count() == 9)
    val after = Parts.forTable(spark, dir)
      .filter(col("partition") === "event_date=2024-01-01").head()
    assert(after.getAs[Long]("n_files") == 1)
    // the next batch lands next to the pooled file: 2 files, not queued
    Seq((100L, "2024-01-01", 4L)).toDF("v", "event_date", "ingest_batch")
      .coalesce(1).write.partitionBy("event_date", "ingest_batch")
      .mode("append").parquet(dir)
    assert(Parts.needingCompaction(spark, dir, batchId = 4L, maxFiles = 2,
      targetBytes = target).isEmpty)
  }

  test("census ignores hidden dirs the reader ignores (_temporary leftovers)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_parts_tmp").toString
    Seq((1L, "2024-01-01")).toDF("v", "event_date").coalesce(1)
      .write.partitionBy("event_date").mode("append").parquet(dir)
    // simulate a crashed write: orphaned task file under _temporary
    val orphanDir = new java.io.File(s"$dir/event_date=2024-01-01/_temporary/0")
    assert(orphanDir.mkdirs())
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$orphanDir/part-orphan.parquet"),
      Array.fill(128)(0.toByte))
    val row = Parts.forTable(spark, dir).head()
    assert(row.getAs[Long]("n_files") == 1, "orphan counted") // not 2
  }

  test("empty / missing / unpartitioned tables") {
    import spark.implicits._
    assert(Parts.forTable(spark, "/nonexistent/graft_parts").count() == 0)
    val flat = java.nio.file.Files.createTempDirectory("graft_parts_flat").toString
    Seq(1L, 2L).toDF("v").coalesce(1).write.mode("overwrite").parquet(flat)
    val row = Parts.forTable(spark, flat).head()
    assert(row.getAs[String]("partition") == "<unpartitioned>" &&
      row.getAs[Long]("n_files") == 1)
  }

  test("hysteresis work queue: fragmented selected, floor-bound skipped") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_parts_hyst").toString
    // 8 small files in one partition, one per ingest batch
    (1 to 8).foreach { i =>
      Seq((i.toLong, s"v$i", "2024-01-01", i.toLong))
        .toDF("id", "v", "event_date", "ingest_batch")
        .coalesce(1).write.mode("append")
        .partitionBy("event_date", "ingest_batch").parquet(dir)
    }
    val bytes = Parts.forTable(spark, dir).head.getAs[Long]("bytes")
    // huge target: floor = 1 file, 8 > max(4, 2) -> FRAGMENTED, selected
    assert(Parts.needingCompaction(spark, dir, batchId = 8L, maxFiles = 4,
      targetBytes = bytes * 10).nonEmpty)
    // tiny target: floor = ceil(bytes/(bytes/8)) = 8 files -> the census
    // exceeds maxFiles but compaction cannot get below ~8 files, so the
    // partition is LARGE, not fragmented: skipped (no perpetual rewrite)
    assert(Parts.needingCompaction(spark, dir, batchId = 8L, maxFiles = 4,
      targetBytes = math.max(1L, bytes / 8)).isEmpty)
  }
}
