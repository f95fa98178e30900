package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `system.parts` analog — the ops introspection surface every MergeTree
  * deployment lives in (`SELECT … FROM system.parts WHERE table = …`;
  * [implied] CH 22.3 over the migration DDLs): per-partition file count
  * and byte size for a date-partitioned table, the inputs to compaction
  * scheduling (small-file pressure), retention auditing, and capacity
  * planning.
  *
  * Driver-side directory listing only — O(#partitions + #files) metadata
  * calls through the Hadoop FS client (the same cost class as Spark's own
  * file-index refresh), zero data read. At object-store scale the listing
  * is the canonical pain point; this is the seam where a manifest/catalog
  * (or S3 inventory) implementation would slot in. */
object Parts {

  final case class PartInfo(partition: String, path: String,
                            n_files: Long, bytes: Long)

  /** Recursive walk of the DATA parquet files under `root`, applying
    * Spark's hidden-path convention: any path segment below `root`
    * starting with `_` or `.` (a `_temporary` leftover from a crashed
    * write, a `.purge-tmp` staging dir, metadata sidecars) is invisible
    * to `spark.read` and must be invisible to the census and compaction
    * byte math too. Shared by [[Parts]] and [[Compaction]]. */
  private[sources] def visibleParquetFiles(fs: FileSystem, root: Path)
      : Seq[FileStatus] = {
    // qualify the root first: listFiles returns fully-qualified paths, so
    // a RELATIVE root would strip nothing and the hidden test would run
    // against absolute segments (a cwd under /root/.cache would classify
    // every file hidden and zero out the census)
    val rootStr = fs.makeQualified(root).toUri.getPath
    def hidden(p: Path): Boolean = {
      val rel = p.toUri.getPath.stripPrefix(rootStr).stripPrefix("/")
      rel.split('/').exists(seg => seg.startsWith("_") || seg.startsWith("."))
    }
    val it = fs.listFiles(root, true)
    val buf = scala.collection.mutable.ArrayBuffer[FileStatus]()
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet") && !hidden(f.getPath))
        buf += f
    }
    buf.toSeq
  }

  /** One row per `event_date=*` partition dir (or per the bare table dir
    * when unpartitioned): logical partition name, the dir's absolute
    * path, parquet file count, total bytes. Sorted by partition name. */
  def forTable(spark: SparkSession, tableDir: String): DataFrame = {
    import spark.implicits._
    val root = new Path(tableDir)
    partInfos(root.getFileSystem(spark.sessionState.newHadoopConf()), root).toDF()
  }

  private def partInfos(fs: FileSystem, root: Path): Seq[PartInfo] = {
    if (!fs.exists(root)) return Seq.empty
    val partDirs = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains("=") &&
        isVisible(s.getPath))
      .map(_.getPath)
    val rows =
      if (partDirs.isEmpty)
        Seq(census(fs, root).copy(partition = "<unpartitioned>"))
      else partDirs.map(census(fs, _))
    rows.sortBy(_.partition)
  }

  private def isVisible(p: Path): Boolean =
    !p.getName.startsWith("_") && !p.getName.startsWith(".")

  private def census(fs: FileSystem, dir: Path): PartInfo = {
    val files = visibleParquetFiles(fs, dir)
    PartInfo(dir.getName, dir.toString, files.size.toLong, files.map(_.getLen).sum)
  }

  /** The compaction work queue after ingest batch `batchId` landed
    * ([[graft.streaming.Ingest.startFromWire]]): only the partitions
    * holding `ingest_batch=<batchId>` — the ones that batch wrote — are
    * censused, so the check costs what the batch touched rather than a
    * walk of the whole table. Of those, it selects the fragmented, not
    * merely large. A partition whose file count already sits near its
    * achievable floor (ceil(bytes/targetBytes) files) can never get under
    * a bare max-files census — re-selecting it would rewrite the whole
    * partition after every batch forever. A dir is selected only when its
    * file count exceeds BOTH `maxFiles` and 2× its floor; the 2×
    * hysteresis also amortizes the full-partition rewrite (re-compaction
    * frequency falls as a partition grows). */
  def needingCompaction(spark: SparkSession, tableDir: String, batchId: Long,
                        maxFiles: Int, targetBytes: Long): Seq[String] = {
    val root = new Path(tableDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    Option(fs.globStatus(new Path(root, s"*/ingest_batch=$batchId")))
      .getOrElse(Array.empty).toSeq.map(_.getPath.getParent)
      .filter(isVisible).map(census(fs, _))
      .filter { p =>
        val floor = math.max(1L, math.ceil(p.bytes.toDouble / targetBytes).toLong)
        p.n_files > maxFiles && p.n_files > 2 * floor
      }.map(_.path)
  }
}
