package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Small-file compaction — the analog of MergeTree's background part
  * merges (the reference's storage engine merges inserted parts
  * continuously; a streaming parquet sink accumulates one file per
  * micro-batch instead — SURVEY §4.2 "ours to schedule").
  *
  * Rewrites a table directory into ~`targetBytes` files, preserving the
  * date-partition layout and re-sorting within partitions by the table's
  * ORDER BY columns so parquet row-group min/max stats stay tight (the
  * data-skipping property the sorted write established). The rewrite
  * goes to a temp dir then swaps atomically-enough for a single writer
  * (no other writer may touch the table during the call — same
  * discipline as VACUUM jobs).
  */
object Compaction {

  case class Stats(filesBefore: Long, filesAfter: Long,
                   bytes: Long, rows: Long)

  /** Partition columns as laid out ON DISK, in directory order — walked
    * from `name=value` dir levels, so compaction preserves EVERY level
    * the table actually has (an ingest table is (event_date,
    * ingest_batch); writing back only event_date would flatten the
    * second level into a data column and leave a mixed-depth layout the
    * next replayed batch cannot coexist with). */
  private[sources] def discoverPartitionCols(
      fs: org.apache.hadoop.fs.FileSystem, root: Path): Seq[String] = {
    val out = scala.collection.mutable.Buffer[String]()
    var cur = root
    var descend = fs.exists(cur)
    while (descend) {
      val kids = fs.listStatus(cur).filter { s =>
        val n = s.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }
      kids.find(k => k.isDirectory && k.getPath.getName.contains("=")) match {
        case Some(k) =>
          out += k.getPath.getName.split("=", 2)(0)
          cur = k.getPath
        case None => descend = false
      }
    }
    out.toSeq
  }

  /** Crash recovery + the tmp/bak swap shared by [[compact]] and
    * [[compactIngest]]: heal any interrupted previous swap, run
    * `writeTmp` (which must leave the rewritten data at `tmp`), then
    * old → .bak, tmp → table, drop .bak. */
  private def swapRewrite(fs: org.apache.hadoop.fs.FileSystem, path: Path,
                          tmp: Path, bak: Path)(writeTmp: => Unit): Unit = {
    // crash recovery BEFORE touching anything: a previous run that died
    // between the two swap renames leaves the table missing and the data
    // in .bak — restore it; one that died after the swap but before
    // cleanup leaves a stale .bak next to a healthy table — drop it.
    if (!fs.exists(path) && fs.exists(bak)) {
      if (!fs.rename(bak, path))
        throw new IllegalStateException(
          s"cannot restore $path from interrupted compaction backup $bak")
    } else if (fs.exists(bak)) {
      fs.delete(bak, true)
    }
    fs.delete(tmp, true)
    writeTmp
    // swap: old → .bak, tmp → table, drop .bak
    if (!fs.rename(path, bak))
      throw new IllegalStateException(s"cannot move $path aside")
    if (!fs.rename(tmp, path)) {
      fs.rename(bak, path) // restore
      throw new IllegalStateException(s"cannot move compacted data into $path")
    }
    fs.delete(bak, true): Unit
  }

  def compact(spark: SparkSession, tablePath: String,
              sortCols: Seq[String] = Seq("timestamp", "event_name"),
              partitionCol: Option[String] = Some("event_date"),
              targetBytes: Long = 128L * 1024 * 1024): Stats = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val path = new Path(tablePath)
    val fs = path.getFileSystem(hconf)
    val tmp = new Path(path.getParent, s".${path.getName}_compact_tmp")
    val bak = new Path(path.getParent, s".${path.getName}_compact_bak")

    // hidden-aware shared walk: _temporary leftovers from a crashed write
    // must not count toward byte math or file counts
    def parquetFiles(p: Path) = Parts.visibleParquetFiles(fs, p)

    var before: Seq[org.apache.hadoop.fs.FileStatus] = Seq.empty
    var totalBytes = 0L
    // row count rides the rewrite job as an observed metric — a separate
    // df.count() would read the whole table a second time just to fill
    // Stats.rows, doubling the maintenance path's I/O
    val obs = new org.apache.spark.sql.Observation(
      s"compact-${path.getName}-${System.nanoTime()}")
    swapRewrite(fs, path, tmp, bak) {
      before = parquetFiles(path)
      totalBytes = before.map(_.getLen).sum
      val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
      val df = spark.read.parquet(tablePath)
        .observe(obs, org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("rows"))

      // Partition layout: whatever the table has ON DISK wins (all levels
      // preserved); `partitionCol` is the fallback for a layout-less dir
      // whose caller wants one introduced.
      val pcs = {
        val discovered = discoverPartitionCols(fs, path)
        if (discovered.nonEmpty) discovered
        else partitionCol.toSeq.filter(df.columns.contains)
      }

      // Range-partition over (partition cols ++ sort cols): output splits are
      // bounded by nFiles regardless of how many rows share one date — a
      // hash-by-date repartition would cap non-empty outputs at the number of
      // distinct dates and ignore targetBytes within a hot date. Ranges also
      // cluster each date's rows contiguously, so per-date file counts stay
      // proportional to per-date bytes and the within-partition sort keeps
      // row-group min/max stats tight.
      val keys = (pcs ++ sortCols.filter(df.columns.contains)).map(col)
      val shaped =
        if (keys.nonEmpty)
          df.repartitionByRange(nFiles, keys: _*).sortWithinPartitions(keys: _*)
        else df.repartition(nFiles)
      val writer =
        if (pcs.nonEmpty) shaped.write.partitionBy(pcs: _*) else shaped.write
      writer.mode("overwrite").parquet(tmp.toString)
    }

    val rows = obs.get("rows").asInstanceOf[Long]
    Stats(before.size.toLong, parquetFiles(path).size.toLong, totalBytes, rows)
  }

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
    * [[compact]] preserves every on-disk partition level, so an ingest
    * date partition (`event_date=X` with one `ingest_batch=Y` subdir per
    * micro-batch — [[graft.streaming.Ingest]]'s sink layout) can never
    * drop below one file per batch. The batch level exists only for
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
    * Same single-writer discipline and crash-safe tmp/bak swap as
    * [[compact]]: the table's own streaming query calls it between
    * writing batch N and returning from that batch, with `maxCommitted`
    * = N-1 ([[graft.streaming.Ingest.startFromBroker]]), so no stream
    * writes the partition during the swap. Readers racing the swap can
    * see one transient listing error — the same brief window MergeTree
    * hides behind its part manifest.
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

    var before: Seq[org.apache.hadoop.fs.FileStatus] = Seq.empty
    var totalBytes = 0L
    val obs = new org.apache.spark.sql.Observation(
      s"compact-ingest-${path.getName}-${System.nanoTime()}")
    swapRewrite(fs, path, tmp, bak) {
      before = parquetFiles(path)
      totalBytes = before.map(_.getLen).sum
      val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
      // reading the partition dir infers ingest_batch from the subdir
      // names; event_date stays in the dir name above, untouched
      val df = spark.read.parquet(partitionDir)
        .observe(obs, org.apache.spark.sql.functions.count(lit(1)).as("rows"))
      require(df.columns.contains("ingest_batch"),
        s"$partitionDir has no ingest_batch level — use compact() for " +
          "non-ingest tables")
      val pooled = df.withColumn("ingest_batch",
        when(col("ingest_batch") >= 0 && col("ingest_batch") <= maxCommitted,
          lit(-1L)).otherwise(col("ingest_batch").cast("long")))
      val keys = (Seq("ingest_batch") ++ sortCols.filter(df.columns.contains))
        .map(col)
      pooled.repartitionByRange(nFiles, keys: _*)
        .sortWithinPartitions(keys: _*)
        .write.partitionBy("ingest_batch")
        .mode("overwrite").parquet(tmp.toString)
    }

    val rows = obs.get("rows").asInstanceOf[Long]
    Stats(before.size.toLong, parquetFiles(path).size.toLong, totalBytes, rows)
  }
}
