package graft.pipeline

import java.util.UUID

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Shared storage mechanics for the materialized backbones — the TEXT
  * side ([[Backbone]]: fingerprint/band/pair/label tables) and the
  * EMBEDDING side ([[VecBackbone]]: bucket/cell/code/centroid tables)
  * follow one storage discipline, factored here so the two cannot
  * drift:
  *
  *  - root: `graft.backbone.dir` if set (a warehouse path used AS-IS
  *    and REUSED across JVMs — committed state must be findable by the
  *    next night's JVM), else a per-JVM tmp scratch dir reclaimed on
  *    exit;
  *  - build-once: [[ensure]] guards each table path with an in-JVM memo
  *    backed by an on-disk `_graft_built` marker, so a warehouse root
  *    reuses state committed by previous JVMs and a crash mid-build
  *    (no marker) rebuilds over the partial output;
  *  - staleness: [[token]] keys every corpus-derived path by the source
  *    parquet's file-metadata version (count, bytes, max mtime) plus an
  *    md5 of the raw path (injectivity), so a data drop at the same
  *    path gets a fresh subtree instead of a stale marker hit;
  *  - instance keys: [[instanceId]] + [[instanceRoot]] for memo paths
  *    keyed by in-memory table INSTANCES — meaningless across JVMs, so
  *    they never participate in cross-JVM marker reuse.
  */
object Warehouse {

  private val runId = UUID.randomUUID().toString.take(8)

  private def explicitDir: Option[String] = sys.props.get("graft.backbone.dir")

  private[pipeline] def rootDir: String = explicitDir.getOrElse {
    val base = new java.io.File(sys.props("java.io.tmpdir"), "graft-backbone").getPath
    s"$base/$runId"
  }

  // derived data under the DEFAULT tmp base is scoped to this JVM run —
  // reclaim it on exit so repeated bench/test JVMs don't accumulate
  // corpus-scale parquet in /tmp until the disk fills. An explicit
  // `graft.backbone.dir` opts out: that's a warehouse path the operator
  // wants kept.
  locally {
    if (!sys.props.contains("graft.backbone.dir")) {
      val dir = new java.io.File(rootDir)
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(): Unit
        }
        rm(dir)
      }, "graft-backbone-cleanup"))
    }
  }

  /** Root for INSTANCE-keyed memo paths. Instance identity is
    * meaningless across JVMs: a restarted JVM's first override instance
    * also gets id 1, so under a shared warehouse root it would resolve
    * to a path a PREVIOUS JVM committed for different in-memory inputs
    * and silently serve stale state through the `_graft_built` marker.
    * Instance-keyed paths therefore always live in a per-JVM subtree;
    * cross-JVM marker reuse is reserved for token-versioned
    * corpus-derived paths. (Default rootDir is already runId-scoped, so
    * no extra nesting there.) */
  private[pipeline] def instanceRoot: String =
    if (explicitDir.isDefined) {
      val p = s"$rootDir/jvm_$runId"
      registerCleanup(p) // meaningless to any later JVM — reclaim on exit
      p
    } else rootDir

  // jvm_<runId> subtrees under an EXPLICIT warehouse root hold
  // instance-keyed state no later JVM can address (fresh runId, fresh
  // instance ids) — without cleanup every nightly-chain run would leave
  // corpus-scale parquet behind until the warehouse disk fills.
  private val cleanupRegistered = mutable.Set[String]()
  private def registerCleanup(path: String): Unit = synchronized {
    if (cleanupRegistered.add(path)) {
      val dir = new java.io.File(path)
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(): Unit
        }
        rm(dir)
      }, s"graft-warehouse-jvm-cleanup"))
    }
  }

  /** Lossy, readable half of the corpus [[token]]; the md5 beside it
    * keeps the token injective. */
  private def sanitize(t: String): String = t.replaceAll("[^A-Za-z0-9.]", "_")

  /** Corpus storage/memo token over `$d/$fileName`: readable sanitized
    * path + an md5 of the raw path (injectivity — `/a/my-corpus` and
    * `/a/my_corpus` must not share a subtree) + the parquet's
    * file-metadata version (count, total bytes, max mtime — a data drop
    * at the same path gets a fresh subtree instead of a stale memo
    * hit; this is what makes the warehouse root safe without per-JVM
    * scoping). One driver FS listing per accessor call — negligible
    * next to the query it guards. */
  private[pipeline] def token(s: SparkSession, d: String, fileName: String): String = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    val p = new Path(s"$d/$fileName")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    def walk(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(walk)
      else Seq(st)
    val files = walk(fs.getFileStatus(p))
    val ver = s"${files.length}_${files.map(_.getLen).sum}_" +
      s"${files.map(_.getModificationTime).max}"
    val id = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$d|$fileName|$ver".getBytes("UTF-8"))
      .take(5).map("%02x".format(_)).mkString
    s"${sanitize(d)}_$id"
  }

  /** Tables already confirmed built (paths) — per JVM, backed by the
    * on-disk `_graft_built` marker written when a build completes. */
  private val built = mutable.Set[String]()

  /** TEST HOOK: drop the in-JVM built memo so a spec can exercise the
    * cross-JVM path (the on-disk marker) without forking a JVM. Also
    * drops the read-handle memo: after the reset a spec may REBUILD at
    * the same path, and a stale handle would carry the pre-rebuild file
    * listing. */
  private[pipeline] def resetBuiltForTest(): Unit = synchronized {
    built.clear()
    dfMemo.synchronized(dfMemo.clear())
    sidecarMemo.synchronized(sidecarMemo.clear())
    written.synchronized(written.clear())
  }

  /** Memoized read handle for a STORED table (r18 opt, guide §1.2/§6):
    * every `spark.read.parquet(path)` call pays a driver file listing
    * plus a one-task footer/schema job at DataFrame-creation time —
    * measured ~10-20 ms each, and the cascade keys re-open 5-20 stored
    * tables per query (0.2-0.4 s/key of pure metadata re-derivation).
    * Stored tables are build-once (ensure-guarded: content never changes
    * after the `_graft_built` marker), so the ANALYZED handle — file
    * index + schema, no data — is reusable for the life of the session.
    * This is a catalog/metastore, not a result cache: every action still
    * scans the parquet. Keyed per session (weakly — a stopped test
    * session must not pin its handles); invalidated with the built memo
    * on [[resetBuiltForTest]] and by [[gc]] for pruned version dirs.
    * A table [[writeStored]] wrote in this JVM is read with the schema it
    * wrote, so opening it runs no schema-inference job; one a marker
    * from an earlier JVM vouches for still infers it. */
  private val dfMemo =
    new java.util.WeakHashMap[SparkSession, mutable.Map[String, DataFrame]]()
  /** The schema [[writeStored]] wrote under each path in this JVM, as a
    * file read returns it (every field nullable). */
  private val written = mutable.Map[String, StructType]()
  private[pipeline] def readParquet(s: SparkSession, path: String): DataFrame =
    dfMemo.synchronized {
      val m = Option(dfMemo.get(s)).getOrElse {
        val mm = mutable.Map[String, DataFrame](); dfMemo.put(s, mm); mm
      }
      m.getOrElseUpdate(path, written.synchronized(written.get(path)) match {
        case Some(schema) => s.read.schema(schema).parquet(path)
        case None => s.read.parquet(path)
      })
    }
  private def dropMemoizedReads(prefix: String): Unit = {
    dfMemo.synchronized {
      dfMemo.values.forEach(_.filterInPlace((k, _) => !k.startsWith(prefix)))
    }
    written.synchronized(written.filterInPlace((k, _) => !k.startsWith(prefix)))
    // sidecar keys are NAMESPACED ("geom:<path>", "rules:<path>", ...) —
    // match the path portion after the first ':', or gc invalidation
    // never applies to them (ADVICE r18)
    sidecarMemo.synchronized {
      sidecarMemo.values.forEach(_.filterInPlace((k, _) =>
        !k.substring(k.indexOf(':') + 1).startsWith(prefix)))
    }
  }

  /** Memoized SIDECAR VALUE per (session, path) — for the tiny
    * metadata collects (geometry rows, quantizer centers, SQ8 scales)
    * that stored-table accessors re-run as one driver job per call.
    * Same immutability argument as [[readParquet]] (ensure-guarded
    * paths never change after their marker) applied one step further:
    * the COLLECTED value is cached, not just the handle. Strictly
    * metadata-scale by construction — callers pass paths whose content
    * is a handful of rows; corpus-sized tables keep going through
    * [[readParquet]]. Invalidated with the handle memo. */
  private val sidecarMemo =
    new java.util.WeakHashMap[SparkSession, mutable.Map[String, Any]]()
  private[pipeline] def sidecarValue[T](s: SparkSession, path: String)
                                       (read: => T): T = {
    // the read thunk is a Spark collect job — run it OUTSIDE the global
    // monitor (ADVICE r18: a slow job under the lock blocked every
    // sidecar read process-wide). A rare concurrent miss computes the
    // value twice; both results are identical (ensure-guarded immutable
    // inputs) and the first insert wins.
    val m = sidecarMemo.synchronized {
      Option(sidecarMemo.get(s)).getOrElse {
        val mm = mutable.Map[String, Any](); sidecarMemo.put(s, mm); mm
      }
    }
    sidecarMemo.synchronized(m.get(path)) match {
      case Some(v) => v.asInstanceOf[T]
      case None =>
        val v = read
        sidecarMemo.synchronized(m.getOrElseUpdate(path, v)).asInstanceOf[T]
    }
  }

  /** Size-targeted parquet write for stored tables (r19 opt, guide §6
    * "aim for output files in the 128 MB - 1 GB range"): a map-only
    * build plan inherits its task count from the build, so a tiny
    * stored table lands as one ~KB part file PER TASK (32 at local[32])
    * and every reader pays a file-per-split scan (openCostInBytes keeps
    * small files apart) — profiled as 3.5 s task time / 2.6 s of pure
    * deserialize for an 89 KB bands read, repeated per consuming query.
    * Target file count = ceil(plan-stats bytes / targetBytes): ONE file
    * for metadata-scale tables, proportionally many (and parallel) at
    * corpus scale — derived from the data, never from the core count.
    * The REBALANCE hint (guide §6 "coalesce on write — a REBALANCE hint
    * before the write") lets AQE size the write partitions from RUNTIME
    * shuffle statistics — rebalance-origin shuffles coalesce below
    * defaultParallelism (min 1), so a KB-scale table lands as one file
    * while a corpus-scale table gets advisory-sized parallel files. A
    * fixed repartition(n) from plan-stats bytes was tried first and
    * rejected: join-plan size ESTIMATES multiply, and one pairs table
    * planned a 26k-task write. The exchange keeps the build stage's
    * parallelism (a coalesce would collapse the expensive compute into
    * the file count) and balances the output files. Applied to JOIN/
    * AGG-FIRST stored tables only; tables scanned directly into heavy
    * per-row scoring (quantizer codes/buckets) keep their natural write
    * partitioning so their readers keep scan parallelism at every
    * scale. File size rides spark.sql.adaptive.advisoryPartitionSize-
    * InBytes — the standard deployment knob. */
  private[pipeline] def writeSized(df: DataFrame, path: String): Unit =
    writeStored(df.hint("rebalance"), path)

  /** Overwrite a stored table with `df`'s own partitioning and record the
    * schema it wrote, so [[readParquet]] opens it without a
    * schema-inference job. Tables whose layout is set by the caller
    * (a `coalesce(1)` sidecar, a scan-parallel code table) write here;
    * [[writeSized]] adds its file sizing on top. */
  private[pipeline] def writeStored(df: DataFrame, path: String): Unit = {
    df.write.mode("overwrite").parquet(path)
    written.synchronized(written(path) = df.schema.toNullable)
  }

  /** Returns true iff THIS call ran `build` (a memo/marker hit returns
    * false) — commit-triggered hooks like [[autoGc]] key off it. */
  private[graft] def ensure(s: SparkSession, path: String)(build: => Unit): Boolean =
    synchronized {
      if (built.contains(path)) return false
      val marker = new org.apache.hadoop.fs.Path(path, "_graft_built")
      val fs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
      val ran = !fs.exists(marker)
      if (ran) {
        build
        fs.create(marker, true).close()
      }
      built += path
      ran
    }

  // ---- corpus-version retention (keep-last-K GC) ------------------------

  /** Opt-in nightly hook: `-Dgraft.backbone.autoGcKeep=<K>` makes a
    * FRESH advance commit ([[Backbone.advanceAndStore]] /
    * [[VecBackbone.advanceAndStore]] when their ensure actually built —
    * never on a memo hit, so serving-path calls that merely read the
    * committed state pay no warehouse scan) run [[gc]] with keep=K
    * right after the commit — retention rides the nightly chain itself
    * instead of a separate cron. Grace stays at [[gcGraceMs]] (1 h), so
    * concurrently-reading JVMs keep their reader protection. Unset
    * (default) = no automatic pruning. Best-effort: a malformed K or a
    * GC failure is a logged warning, never a failure of the advance
    * whose commit already succeeded. */
  private[pipeline] def autoGc(s: SparkSession): Unit =
    sys.props.get("graft.backbone.autoGcKeep").foreach { raw =>
      try {
        val gone = gc(s, raw.toInt)
        if (gone.nonEmpty)
          println(s"[warehouse] auto-gc pruned ${gone.size} superseded " +
            s"version dir(s) (keep=$raw)")
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println("[warehouse] auto-gc skipped " +
            s"(graft.backbone.autoGcKeep=$raw): ${e.getMessage}")
      }
    }

  /** Version-INDEPENDENT id for a corpus family `(prefix, d, fileName)`,
    * written into each version subtree's `_graft_corpus` sidecar so
    * [[gc]] can group one family's subtrees without parsing dir names
    * ([[sanitize]] is lossy — two different corpora must never share a
    * retention pool, or one's keep-K could evict the other's current
    * version). */
  private def corpusKey(d: String, fileName: String, prefix: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"$prefix|$d|$fileName".getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString

  private val stamped = mutable.Map[String, Long]() // path -> last stamp ms
  private val stampIntervalMs = 10 * 60 * 1000L
  private val stampRetryMs = 60 * 1000L // failed-stamp retry cadence

  /** Resolve — and under an explicit warehouse root, STAMP — the version
    * subtree for corpus `(d, fileName)` with an optional family prefix.
    * The `_graft_corpus` sidecar carries the family id; its mtime is the
    * "last resolved" signal [[gc]]'s grace window protects, so resolving
    * a version through this method is what marks it live. Re-stamped at
    * most every 10 min per JVM: a long-lived reader keeps its version
    * fresh while per-query FS writes stay negligible. The stamp is
    * BEST-EFFORT: every catalog query resolves through here, including
    * pure reads — a JVM with read-only warehouse access (or a racing
    * create from a concurrent JVM) must degrade GC liveness tracking,
    * never fail the query itself. Only the CURRENT token is ever
    * resolvable (the token embeds the source file-metadata version), so
    * a family's newest stamp always sits on its current version. */
  private[graft] def versionDir(s: SparkSession, d: String, fileName: String,
                 prefix: String = ""): String = {
    val path = s"$rootDir/$prefix${token(s, d, fileName)}"
    if (explicitDir.isDefined) synchronized {
      val now = System.currentTimeMillis()
      if (now - stamped.getOrElse(path, 0L) > stampIntervalMs) {
        val ok = try {
          val side = new org.apache.hadoop.fs.Path(path, "_graft_corpus")
          val fs = side.getFileSystem(s.sparkContext.hadoopConfiguration)
          val out = fs.create(side, true)
          try out.write(corpusKey(d, fileName, prefix).getBytes("UTF-8"))
          finally out.close()
          true
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[warehouse] liveness stamp skipped for " +
              s"$path: ${e.getMessage}")
            false
        }
        // a FAILED stamp retries at 1 min, not the 10-min cadence: an FS
        // outage shorter than the workload but longer than gcGraceMs
        // would otherwise leave a superseded version unstamped for a
        // full stamp interval, and a cross-JVM gc could reclaim it out
        // from under this JVM's long-lived reader (ADVICE r14). A
        // read-only JVM still warns at most once a minute, not per query.
        stamped(path) = if (ok) now else now - stampIntervalMs + stampRetryMs
      }
    }
    path
  }

  private val keepVersions = 2

  private val gcGraceOverride = new scala.util.DynamicVariable[Long](60 * 60 * 1000L)

  /** The grace window [[gc]] and [[autoGc]] keep recently stamped
    * versions for: 1 h. */
  private def gcGraceMs: Long = gcGraceOverride.value

  /** Runs `body` with the gc grace window at `ms` on this thread, so a
    * spec can drive an auto-gc commit without waiting out the hour.
    * Thread-scoped: a gc on another thread keeps the default. */
  private[graft] def withGcGraceMs[T](ms: Long)(body: => T): T =
    gcGraceOverride.withValue(ms)(body)

  /** Keep-last-K retention for superseded corpus-version subtrees under
    * an EXPLICIT `graft.backbone.dir` — without it a nightly production
    * chain leaks a full fingerprint+band+vec-index copy per corpus
    * version. Per corpus family (grouped by the `_graft_corpus` sidecar
    * id; dirs without a sidecar are foreign and NEVER touched):
    *
    *  - the newest `keep` versions by sidecar mtime survive;
    *  - anything stamped within `graceMs` survives regardless. This is
    *    an ASSUMPTION, not a hard guarantee: a live reader re-stamps its
    *    version every <=10 min via [[versionDir]], so the protection
    *    holds for reads that complete within `graceMs` of their last
    *    resolve. A cross-JVM action on a SUPERSEDED version that runs
    *    longer than `graceMs` after its last resolve can still lose its
    *    files — size `gcGraceMs` above the longest expected read, or
    *    have marathon readers re-resolve periodically;
    *  - the current version carries its family's newest stamp (only the
    *    current token is resolvable), so it survives any `keep >= 1`;
    *  - deletion drops every `_graft_built` marker FIRST: a crash
    *    mid-delete leaves marker-less partial dirs that [[ensure]]
    *    rebuilds over, never truncated state served as complete.
    *
    * Victim selection and in-JVM memo invalidation run under the
    * Warehouse monitor; the recursive deletes themselves run AFTER the
    * lock is released — a multi-GB version drop must not stall every
    * concurrent ensure/versionDir call in the committing JVM (autoGc
    * rides the nightly advance path). Safe unlocked: victims are
    * superseded + past grace, and only the current token is resolvable,
    * so no concurrent build targets a victim path.
    *
    * No-op under the default per-JVM tmp root (that tree is reclaimed on
    * exit). Returns the deleted version-dir paths. Keeps
    * [[keepVersions]] (2) versions and a grace window of [[gcGraceMs]]
    * (1 h) by default. */
  /** Version dirs an in-flight (unlocked) gc delete is working on — a
    * CONCURRENT gc call in the same JVM must not re-select them: its
    * dropMarkers walk would race the delete and throw mid-listing. */
  private val gcInFlight = mutable.Set[String]()

  def gc(s: SparkSession, keep: Int = keepVersions,
         graceMs: Long = gcGraceMs): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val victims: Seq[(Path, String)] = synchronized {
      require(keep >= 1, s"keep must be >= 1, got $keep")
      explicitDir match {
        case None => Seq.empty
        case Some(root) =>
          val rootPath = new Path(root)
          val fs = rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
          if (!fs.exists(rootPath)) Seq.empty
          else {
            val now = System.currentTimeMillis()
            val versions = fs.listStatus(rootPath).toSeq
              .filter(_.isDirectory)
              .flatMap { st =>
                // NARROW catch: a sidecar a concurrent (unlocked) delete
                // just removed must skip this dir, not abort the sweep —
                // but any OTHER IO failure (permissions, FS config) must
                // still propagate: swallowing it would turn gc into a
                // permanent silent no-op, exactly the leak it prevents
                try {
                  val side = new Path(st.getPath, "_graft_corpus")
                  if (!fs.exists(side)) None
                  else {
                    val in = fs.open(side)
                    val key = try scala.io.Source.fromInputStream(in).mkString.trim
                    finally in.close()
                    Some((key, st.getPath,
                      fs.getFileStatus(side).getModificationTime))
                  }
                } catch {
                  case _: java.io.FileNotFoundException => None
                }
              }
            versions.groupBy(_._1).valuesIterator.flatMap { fam =>
              fam.sortBy(-_._3).drop(keep)
                .filter { case (_, _, ts) => now - ts > graceMs }
                .flatMap { case (_, p, _) =>
                  // this JVM must not keep believing tables under the
                  // to-be-deleted version are built (or freshly stamped).
                  // Memo keys were built by string interpolation off the
                  // RAW root (rootDir, no FS scheme), while listStatus
                  // returns scheme-qualified paths ("file:/wh/tok") — so
                  // the prefix must be rebuilt the way the keys were, not
                  // taken from p.toString.
                  val rawVictim = s"$root/${p.getName}"
                  if (!gcInFlight.add(rawVictim)) None // claimed by another gc
                  else {
                    built.filterInPlace(!_.startsWith(rawVictim))
                    stamped.filterInPlace((k, _) => !k.startsWith(rawVictim))
                    dropMemoizedReads(rawVictim)
                    Some((p, rawVictim))
                  }
                }
            }.toSeq
          }
      }
    }
    try victims.flatMap { case (p, rawVictim) =>
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      def dropMarkers(dir: Path): Unit =
        fs.listStatus(dir).foreach { c =>
          if (c.isDirectory) dropMarkers(c.getPath)
          else if (c.getPath.getName == "_graft_built")
            fs.delete(c.getPath, false): Unit
        }
      // gcInFlight only serializes gc WITHIN this JVM: a concurrent gc
      // in another JVM deleting the same victim can vanish files mid-
      // walk. The same narrow FileNotFoundException catch selection
      // uses — skip to the next victim instead of aborting the rest of
      // this run's deletions (ADVICE r14); the victim is gone either
      // way, it just isn't THIS run's deletion to report.
      try {
        dropMarkers(p) // crash-safe ordering: see Scaladoc
        fs.delete(p, true)
        Some(rawVictim)
      } catch {
        case _: java.io.FileNotFoundException => None
      }
    } finally synchronized {
      gcInFlight --= victims.map(_._2)
    }
  }

  /** Stable per-JVM id for a DataFrame INSTANCE, used to key memo paths
    * by which in-memory table a caller passed. Not identityHashCode:
    * that is address-derived, so a collected object's hash can be
    * REUSED by a new one, turning a should-miss into a silent stale hit
    * of the first build's data. The IdentityHashMap pins a strong ref
    * per distinct instance — bounded by the handful of histories a JVM
    * ever advances from, and exact forever. */
  private val instanceIds = new java.util.IdentityHashMap[AnyRef, java.lang.Long]()
  private val instanceSeq = new java.util.concurrent.atomic.AtomicLong()
  private[pipeline] def instanceId(o: AnyRef): Long = instanceIds.synchronized {
    val got = instanceIds.get(o)
    if (got != null) got.longValue
    else { val id = instanceSeq.incrementAndGet(); instanceIds.put(o, id); id }
  }
}
