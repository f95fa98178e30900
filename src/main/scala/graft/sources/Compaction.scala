package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Small-file compaction — the analog of MergeTree's background part
  * merges (the reference's storage engine merges inserted parts
  * continuously; a streaming parquet sink accumulates one file per
  * micro-batch instead — SURVEY §4.2 "ours to schedule").
  *
  * [[compactIngest]] rewrites one date partition of an ingest table into
  * ~`targetBytes` files, re-sorted by the table's ORDER BY columns so
  * parquet row-group min/max stats stay tight (the data-skipping
  * property the sorted write established). The rewrite goes to a temp
  * dir, then swaps atomically-enough for a single writer: the table's
  * own streaming query runs it under the table lock
  * ([[graft.streaming.Ingest.withTableLock]]), so no other writer
  * touches the partition during the call. [[healInterrupted]] repairs a
  * swap that died half-way.
  */
object Compaction {

  case class Stats(filesBefore: Long, filesAfter: Long,
                   bytes: Long, rows: Long)

  /** Heal interrupted compaction swaps among `tableDir`'s PARTITION
    * dirs — run with NO writer active (ServeMain calls it at boot before
    * any streaming query starts; the ingest writer calls it from its own
    * batch after a failed compaction), because the one ambiguity needs
    * the writer quiet to resolve safely:
    *
    *  - bak present, partition dir MISSING → crash between the two swap
    *    renames: restore bak → dir, drop tmp;
    *  - bak AND tmp present, dir present → crash between the renames
    *    AND a restarted writer has since recreated the dir with fresh
    *    batches. The original data lives in bak: merge bak's batch
    *    subdirs back (writer-recreated ids win — a replayed batch
    *    rewrote itself completely), drop bak + tmp. Without this branch
    *    the naive "bak next to a healthy dir is stale" rule would DELETE
    *    the pre-crash data;
    *  - bak present alone next to a live dir → the swap completed
    *    (tmp was renamed in), only cleanup died: bak is stale, drop it;
    *  - orphan tmp → staging leftover, drop.
    *
    * Returns the healed partition names. */
  def healInterrupted(spark: SparkSession, tableDir: String): Seq[String] = {
    val root = new Path(tableDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val kids = fs.listStatus(root)
    val bakRe = "^\\.(.+)_compact_bak$".r
    val healed = kids.toSeq.flatMap { st =>
      st.getPath.getName match {
        case bakRe(name) =>
          val dir = new Path(root, name)
          val tmp = new Path(root, s".${name}_compact_tmp")
          if (!fs.exists(dir)) {
            if (!fs.rename(st.getPath, dir))
              throw new IllegalStateException(
                s"cannot restore $dir from interrupted backup")
            fs.delete(tmp, true)
          } else if (fs.exists(tmp)) {
            fs.listStatus(st.getPath).foreach { c =>
              val dest = new Path(dir, c.getPath.getName)
              if (!fs.exists(dest)) { fs.rename(c.getPath, dest); () }
            }
            fs.delete(st.getPath, true)
            fs.delete(tmp, true)
          } else {
            fs.delete(st.getPath, true)
          }
          Some(name)
        case _ => None
      }
    }
    // orphan tmp staging (no bak): a crash before the first rename —
    // the partition itself is intact, the half-written rewrite is junk
    val tmpRe = "^\\.(.+)_compact_tmp$".r
    fs.listStatus(root).foreach { st =>
      st.getPath.getName match {
        case tmpRe(name) if !fs.exists(new Path(root, s".${name}_compact_bak")) =>
          fs.delete(st.getPath, true): Unit
        case _ => ()
      }
    }
    healed
  }

  /** Ingest-partition compaction that merges ACROSS micro-batches.
    *
    * An ingest date partition (`event_date=X` with one `ingest_batch=Y`
    * subdir per micro-batch — [[graft.streaming.Ingest]]'s sink layout)
    * holds at least one file per batch. The batch level exists only for
    * replay idempotency: the sink's dynamic partition overwrite re-lands
    * a replayed batch id over its own subdir. Batches at or below
    * `maxCommitted` (committed in the table's streaming checkpoint) never
    * replay, so this rewrite pools their rows into the reserved
    * `ingest_batch=-1` partition — shared with the append-mode backfill
    * pool, which is likewise never a dynamic-overwrite target — and
    * leaves unsettled batch ids untouched. The pooled rows merge into ~`targetBytes`
    * files, sorted by the table's time order so row-group min/max
    * skipping stays tight.
    *
    * The table's own streaming query calls it between writing batch N
    * and returning from that batch, with `maxCommitted` = N-1
    * ([[graft.streaming.Ingest.startFromWire]]), so no stream writes the
    * partition during the swap. Readers racing the swap can see one
    * transient listing error — the same brief window MergeTree hides
    * behind its part manifest.
    *
    * Write amplification: this rewrite is FULL-PARTITION (the pooled
    * rows are re-written along with the newly-pooled batches) because
    * that is what the crash-safe swap can promise without a part
    * manifest — an in-place append-then-delete merge would duplicate
    * rows on a crash between the two steps. The selection amortizes it:
    * [[Parts.needingCompaction]] re-selects a partition only when its
    * file count exceeds 2× the achievable floor, so rewrite frequency
    * falls as a partition grows (an incremental MergeTree-style part merge needs a commit
    * manifest and is future work, noted in SURVEY §4.2). */
  def compactIngest(spark: SparkSession, partitionDir: String,
                    maxCommitted: Long,
                    sortCols: Seq[String] = Seq("timestamp", "event_name"),
                    targetBytes: Long = 128L * 1024 * 1024): Stats = {
    import org.apache.spark.sql.functions.{lit, when}
    val path = new Path(partitionDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(path.getParent, s".${path.getName}_compact_tmp")
    val bak = new Path(path.getParent, s".${path.getName}_compact_bak")
    def parquetFiles(p: Path) = Parts.visibleParquetFiles(fs, p)

    // crash recovery BEFORE touching anything: a previous run that died
    // between the two swap renames leaves the partition missing and the
    // data in .bak — restore it; one that died after the swap but before
    // cleanup leaves a stale .bak next to a healthy partition — drop it.
    if (!fs.exists(path) && fs.exists(bak)) {
      if (!fs.rename(bak, path))
        throw new IllegalStateException(
          s"cannot restore $path from interrupted compaction backup $bak")
    } else if (fs.exists(bak)) {
      fs.delete(bak, true)
    }
    fs.delete(tmp, true)

    val before = parquetFiles(path)
    val totalBytes = before.map(_.getLen).sum
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    // row count rides the rewrite job as an observed metric — a separate
    // count() would read the partition a second time
    val obs = new org.apache.spark.sql.Observation(
      s"compact-ingest-${path.getName}-${System.nanoTime()}")
    // reading the partition dir infers ingest_batch from the subdir
    // names; event_date stays in the dir name above, untouched
    val df = spark.read.parquet(partitionDir)
      .observe(obs, org.apache.spark.sql.functions.count(lit(1)).as("rows"))
    require(df.columns.contains("ingest_batch"),
      s"$partitionDir has no ingest_batch level")
    val pooled = df.withColumn("ingest_batch",
      when(col("ingest_batch") >= 0 && col("ingest_batch") <= maxCommitted,
        lit(-1L)).otherwise(col("ingest_batch").cast("long")))
    val keys = (Seq("ingest_batch") ++ sortCols.filter(df.columns.contains))
      .map(col)
    pooled.repartitionByRange(nFiles, keys: _*)
      .sortWithinPartitions(keys: _*)
      .write.partitionBy("ingest_batch")
      .mode("overwrite").parquet(tmp.toString)

    // swap: old → .bak, tmp → partition, drop .bak
    if (!fs.rename(path, bak))
      throw new IllegalStateException(s"cannot move $path aside")
    if (!fs.rename(tmp, path)) {
      fs.rename(bak, path) // restore
      throw new IllegalStateException(s"cannot move compacted data into $path")
    }
    fs.delete(bak, true)

    val rows = obs.get("rows").asInstanceOf[Long]
    Stats(before.size.toLong, parquetFiles(path).size.toLong, totalBytes, rows)
  }
}
