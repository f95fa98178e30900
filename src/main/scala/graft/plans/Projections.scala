package graft.plans

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project,
  Repartition, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** CH `PROJECTION` analog — a pre-aggregated copy of a table that queries
  * are routed to TRANSPARENTLY when it can answer them
  * (`ALTER TABLE … ADD PROJECTION (SELECT k, sum(x) … GROUP BY k)`;
  * [implied] CH 22.3 MergeTree feature, the query-time sibling of the
  * ingest-time rollups in `operators.IncrementalRollup`).
  *
  * Spark-native shape: [[Projection.materialize]] writes the rollup as
  * ordinary parquet (one shuffle, partial+final mergeable aggregates
  * only), and [[ProjectionRewrite]] — a `Rule[LogicalPlan]` on the
  * optimizer — rewrites a matching `Aggregate` over the BASE scan into
  * the same aggregate over the projection scan. At 100 TB this is the
  * difference between re-scanning the fact table and scanning a table
  * with one row per group: the rewrite fires before physical planning,
  * so filter pushdown and column pruning apply to the projection scan
  * like any other.
  *
  * A rewrite fires only when it is PROVABLY answer-preserving:
  * grouping keys ⊆ projection keys (re-aggregation merges the finer
  * partials), every aggregate re-expressible over partials
  * (sum→sum of sums, count→sum of counts — never-null via coalesce 0,
  * min/max→min/max of min/max, avg→sum/count when both partials exist),
  * filters reference projection keys only, no DISTINCT / FILTER clauses,
  * and the aggregate is grouped (a global aggregate over an empty base
  * has rows the projection lacks). Output names, exprIds, and types are
  * preserved so parent operators never notice the swap.
  */
final case class AggSpec(func: String, input: String)

final case class ProjectionDef(
    name: String,
    baseRoots: Set[String],
    path: String,
    groupCols: Seq[String],
    partials: Map[(String, String), String],
    partitionCol: Option[String] = None)

object Projection {
  def partialColumn(a: AggSpec): String =
    if (a.input == "*") s"${a.func}_all" else s"${a.func}_${a.input}"

  /** One-shot batch build of the rollup (refresh = re-run; for streaming
    * maintenance pair with `operators.IncrementalRollup`). Only
    * partial+final mergeable aggregates are allowed in — that is what
    * makes re-aggregation over the projection sound.
    *
    * `partitionCol`: align the projection with the base table's partition
    * axis — the column joins the grouping keys (finer partials only make
    * the stored rollup larger; every read re-aggregates them away) and
    * the rollup is WRITTEN partitioned by it, so a mutation that touches
    * base partitions can refresh exactly those projection partitions
    * ([[refreshPartitions]]) instead of re-scanning the base. This is how
    * CH keeps projections inside the mutation: part-scoped rewrite, never
    * a table re-scan. */
  /** The ProjectionDef for an ALREADY-materialized projection — pure
    * metadata over the same arguments [[materialize]] takes, no write.
    * Callers that store projections once per corpus version (the CH
    * contract: projections are materialized once and maintained on
    * insert, never rebuilt per query) pair this with a build-once
    * marker around [[materialize]]. */
  def define(base: DataFrame, name: String, groupCols: Seq[String],
             specs: Seq[AggSpec], outPath: String,
             partitionCol: Option[String] = None): ProjectionDef = {
    require(groupCols.nonEmpty, "projection needs at least one group column")
    require(specs.nonEmpty, "projection needs at least one aggregate")
    val effGroup = groupCols ++ partitionCol.filterNot(groupCols.contains)
    ProjectionDef(name, baseRootsOf(base), outPath, effGroup,
      specs.map(sp => (sp.func, sp.input) -> partialColumn(sp)).toMap,
      partitionCol)
  }

  def materialize(base: DataFrame, name: String, groupCols: Seq[String],
                  specs: Seq[AggSpec], outPath: String,
                  partitionCol: Option[String] = None): ProjectionDef = {
    val pd = define(base, name, groupCols, specs, outPath, partitionCol)
    val aggCols: Seq[Column] = specs.map { sp =>
      val cn = partialColumn(sp)
      sp match {
        case AggSpec("sum", c)     => sum(col(c)).as(cn)
        case AggSpec("min", c)     => min(col(c)).as(cn)
        case AggSpec("max", c)     => max(col(c)).as(cn)
        case AggSpec("count", "*") => count(lit(1)).as(cn)
        case AggSpec("count", c)   => count(col(c)).as(cn)
        case other => throw new IllegalArgumentException(
          s"projection aggregate must be sum/min/max/count, got: $other")
      }
    }
    val rollup = base.groupBy(pd.groupCols.map(col): _*)
      .agg(aggCols.head, aggCols.tail: _*)
    val w = rollup.write.mode("overwrite")
    partitionCol.fold(w)(c => w.partitionBy(c)).parquet(outPath)
    pd
  }

  /** Identity of "the base table" = the file-source root paths of its
    * scan — the same notion the rewrite matches on. */
  def baseRootsOf(df: DataFrame): Set[String] =
    df.queryExecution.analyzed.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten.toSet

  /** Incremental maintenance — CH projections are maintained ON INSERT,
    * not by re-scanning the base. A DELTA of newly-ingested base rows is
    * aggregated to the same partials and MERGED group-wise with the
    * stored projection: sum/count partials add, min/max partials
    * min/max — mergeability is exactly what [[materialize]] restricted
    * the aggregate set for. Cost per batch: one shuffle of the delta's
    * partials plus a rewrite of the (one-row-per-group) projection —
    * never a base re-scan. The merged frame is eagerly checkpointed
    * before the overwrite so the self-read-overwrite hazard can't bite. */
  /** The same partial aggregates [[materialize]] built, reconstructed from
    * the def — shared by delta-merge and the mutation-refresh paths. */
  private def partialAggregate(rows: DataFrame, pd: ProjectionDef): DataFrame = {
    val aggCols = pd.partials.toSeq.sortBy(_._2).map { case ((f, in), cn) =>
      (f, in) match {
        case ("sum", c)     => sum(col(c)).as(cn)
        case ("min", c)     => min(col(c)).as(cn)
        case ("max", c)     => max(col(c)).as(cn)
        case ("count", "*") => count(lit(1)).as(cn)
        case ("count", c)   => count(col(c)).as(cn)
      }
    }
    rows.groupBy(pd.groupCols.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
  }

  private def writeRollup(rollup: DataFrame, pd: ProjectionDef): Unit = {
    val w = rollup.write.mode("overwrite")
    pd.partitionCol.fold(w)(c => w.partitionBy(c)).parquet(pd.path)
  }

  private val MergeMarker = "_graft_merge_commit"
  private def mergeStaging(pd: ProjectionDef) =
    new org.apache.hadoop.fs.Path(pd.path + ".merge-tmp")

  /** Highest batch id folded into the stored rollup (-1 = none/unknown).
    * The marker file lives INSIDE the rollup dir (underscore-prefixed, so
    * parquet reads never see it) and arrives via the same directory
    * rename that publishes the data — marker and rollup commit together,
    * there is no window where one is true and the other is not. */
  /** Marker content as a Long, or None when absent OR unparseable — a
    * crash mid-marker-write leaves a partial file, which must read as
    * "no marker" (phase-1 incomplete), never as a crash at read time. */
  private def readMarker(f: org.apache.hadoop.fs.FileSystem,
                         p: org.apache.hadoop.fs.Path): Option[Long] =
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                finally in.close()
      txt.trim.toLongOption
    }

  private[plans] def committedBatch(spark: SparkSession, pd: ProjectionDef): Long = {
    val p = new org.apache.hadoop.fs.Path(pd.path, MergeMarker)
    readMarker(fsFor(spark, p), p).getOrElse(-1L)
  }

  /** Finish (or discard) a merge a previous run left mid-swap: a staging
    * dir with a COMPLETE (parseable) marker holds a complete merged
    * rollup — publish it; one without is an incomplete phase-1 write
    * (the live rollup untouched) — discard it. The [[Retention]]
    * purge-swap recovery argument, one dir. */
  private def resumeMergeSwap(spark: SparkSession, pd: ProjectionDef): Unit = {
    val staging = mergeStaging(pd)
    val f = fsFor(spark, staging)
    if (!f.exists(staging)) return
    if (readMarker(f, new org.apache.hadoop.fs.Path(staging, MergeMarker)).isDefined) {
      val live = new org.apache.hadoop.fs.Path(pd.path)
      if (f.exists(live) && !f.delete(live, true))
        throw new java.io.IOException(s"projection ${pd.name}: failed to clear $live")
      if (!f.rename(staging, live))
        throw new java.io.IOException(s"projection ${pd.name}: failed to publish $staging")
    } else if (!f.delete(staging, true) && f.exists(staging))
      throw new java.io.IOException(s"projection ${pd.name}: failed to discard $staging")
  }

  /** Fold a delta of base rows into the stored rollup. `batchId >= 0`
    * makes the fold IDEMPOTENT per batch (the replay contract of a
    * micro-batch caller): the merged rollup is staged together with a
    * `batchId` marker and published by one directory rename, and a
    * replayed batch at or below the committed marker is a no-op — a
    * crash after publish but before a streaming checkpoint commits can
    * therefore no longer double-count the batch partials on restart.
    * `batchId < 0` (ad-hoc callers) stays additive per call. */
  def merge(delta: DataFrame, pd: ProjectionDef,
            batchId: Long = -1L): Unit = ProjectionRewrite.bypass {
    val spark = delta.sparkSession
    resumeMergeSwap(spark, pd)
    val committed = committedBatch(spark, pd)
    if (batchId >= 0 && committed >= batchId) return // replayed batch
    val deltaAgg = partialAggregate(delta, pd)
    val mergeCols = pd.partials.toSeq.sortBy(_._2).map { case ((f, _), cn) =>
      f match {
        case "sum" | "count" => sum(col(cn)).as(cn)
        case "min"           => min(col(cn)).as(cn)
        case "max"           => max(col(cn)).as(cn)
      }
    }
    val merged = spark.read.parquet(pd.path)
      .unionByName(deltaAgg)
      .groupBy(pd.groupCols.map(col): _*)
      .agg(mergeCols.head, mergeCols.tail: _*)
      .localCheckpoint(true) // materialize BEFORE replacing our own input
    val staging = mergeStaging(pd)
    val f = fsFor(spark, staging)
    f.delete(staging, true)
    val w = merged.write.mode("overwrite")
    pd.partitionCol.fold(w)(c => w.partitionBy(c)).parquet(staging.toString)
    val out = f.create(new org.apache.hadoop.fs.Path(staging, MergeMarker), true)
    try out.write(s"${math.max(batchId, committed)}\n".getBytes("UTF-8"))
    finally out.close()
    resumeMergeSwap(spark, pd) // staging now carries the marker: publish
    merged.unpersist()
  }

  private val HiveDefaultPartition = "__HIVE_DEFAULT_PARTITION__"

  private def fsFor(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def liveRoots(spark: SparkSession, pd: ProjectionDef): Seq[String] =
    pd.baseRoots.toSeq.sorted.filter { r =>
      val p = new org.apache.hadoop.fs.Path(r)
      fsFor(spark, p).exists(p)
    }

  /** Full rebuild from the (post-mutation) base — the fallback when the
    * projection is not partition-aligned with the mutated axis. Returns
    * false when every base root is gone (nothing to rebuild from; the
    * caller should deregister — a projection of a dropped table is
    * meaningless). */
  def refresh(spark: SparkSession, pd: ProjectionDef): Boolean = ProjectionRewrite.bypass {
    val roots = liveRoots(spark, pd)
    if (roots.isEmpty) false
    else {
      writeRollup(partialAggregate(spark.read.parquet(roots: _*), pd), pd)
      true
    }
  }

  /** Partition-scoped refresh — the mutation-time maintenance path for a
    * partition-aligned projection. Recomputes partials ONLY for the base
    * partitions the mutation touched (partition pruning keeps the re-read
    * to exactly those directories), dynamic-overwrites the matching
    * projection partitions, and REMOVES the projection partition of any
    * affected value that no longer has base rows (the partition the
    * mutation emptied or expired). Cost scales with the mutation's
    * partition footprint, never the table — the same bound
    * `Retention.deleteWhere` itself guarantees. `dirValues` use the
    * on-disk spelling (`partDirName`), so a null partition arrives as
    * `__HIVE_DEFAULT_PARTITION__`. */
  def refreshPartitions(spark: SparkSession, pd: ProjectionDef,
                        dirValues: Seq[String]): Unit = ProjectionRewrite.bypass {
    val pc = pd.partitionCol.getOrElse(throw new IllegalArgumentException(
      s"projection ${pd.name} is not partition-aligned; use refresh()"))
    if (dirValues.isEmpty) return
    val (nullDirs, realVals) = dirValues.distinct.partition(_ == HiveDefaultPartition)
    // dirValues carry the ON-DISK spelling; the row filter needs the raw
    // COLUMN value and the `present` bookkeeping needs the dir spelling
    // back — without the escape round-trip, a value Hive-escapes in dir
    // names (e.g. `a:b` ⇒ `a%3Ab`) would match no rows and its live
    // projection partition would be wrongly deleted below
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.{escapePathName, unescapePathName}
    val rawVals = realVals.map(unescapePathName)
    val roots = liveRoots(spark, pd)
    val present: Set[String] =
      if (roots.isEmpty) Set.empty
      else {
        val hit = {
          val in = if (rawVals.nonEmpty) col(pc).isin(rawVals: _*) else lit(false)
          if (nullDirs.nonEmpty) in || col(pc).isNull else in
        }
        val agg = partialAggregate(spark.read.parquet(roots: _*).filter(hit), pd)
          .localCheckpoint(true) // one-row-per-group × affected partitions: small
        agg.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy(pc).parquet(pd.path)
        val vals = agg.select(col(pc).cast("string")).distinct().collect()
          .map(r => Option(r.getString(0)).map(escapePathName)
            .getOrElse(HiveDefaultPartition)).toSet
        agg.unpersist()
        vals
      }
    val projFs = fsFor(spark, new org.apache.hadoop.fs.Path(pd.path))
    dirValues.distinct.filterNot(present).foreach { v =>
      val dir = new org.apache.hadoop.fs.Path(pd.path, s"$pc=$v")
      if (!projFs.delete(dir, true) && projFs.exists(dir))
        throw new java.io.IOException(
          s"projection ${pd.name}: failed to drop emptied partition $dir")
    }
  }

  /** Scheme-normalized root path, so a registry root captured from a
    * `HadoopFsRelation` (`file:/tmp/t`) matches the plain directory
    * string a mutation was invoked with (`/tmp/t`). */
  def canonicalRoot(s: String): String = {
    val u = new org.apache.hadoop.fs.Path(s).toUri
    val scheme = Option(u.getScheme).getOrElse("file")
    val auth = Option(u.getAuthority).getOrElse("")
    s"$scheme://$auth${u.getPath.stripSuffix("/")}"
  }
}

/** The mutation→projection link: CH rewrites a table's projections INSIDE
  * every mutation (`ALTER … DELETE/UPDATE` and TTL drops rewrite
  * projection parts along with the data parts) — a materialized rollup
  * must never outlive the rows it summarized, or the transparent rewrite
  * starts serving deleted data. `Retention`'s mutation paths call
  * [[onBaseMutated]] after their partition swap commits; for each
  * registered projection over the mutated table it refreshes exactly the
  * affected partitions when the projection is aligned with the mutated
  * axis, falls back to a full rebuild when not, and deregisters when the
  * base itself is gone. */
object ProjectionMaintenance {
  def onBaseMutated(spark: SparkSession, tableDir: String,
                    partCol: String, affectedDirValues: Seq[String]): Unit = {
    // a mutation that touched zero partitions staled nothing — without
    // this guard a no-op deleteWhere would still trigger a full rebuild
    // of every non-aligned projection (a table-scale job)
    if (affectedDirValues.isEmpty) return
    ProjectionRewrite.registeredForRoot(tableDir).foreach { pd =>
      if (pd.partitionCol.contains(partCol))
        Projection.refreshPartitions(spark, pd, affectedDirValues)
      else if (!Projection.refresh(spark, pd))
        ProjectionRewrite.deregister(pd.name)
    }
  }
}

object ProjectionRewrite extends Rule[LogicalPlan] {
  private final case class Registered(p: ProjectionDef, spark: SparkSession)
  private val registry = new ConcurrentHashMap[String, Registered]()

  /** Register + make the rule live on this session (idempotent; the
    * experimental hook works on already-built sessions, unlike
    * spark.sql.extensions). */
  def register(spark: SparkSession, p: ProjectionDef): Unit = {
    registry.put(p.name, Registered(p, spark))
    install(spark)
  }
  def deregister(name: String): Unit = registry.remove(name)
  def clear(): Unit = registry.clear()

  /** Every registered projection whose base is (rooted at) `root` — the
    * mutation paths' lookup for which rollups a table rewrite staled. */
  def registeredForRoot(root: String): Seq[ProjectionDef] = {
    val c = Projection.canonicalRoot(root)
    registry.values.asScala.toSeq
      .filter(_.p.baseRoots.exists(Projection.canonicalRoot(_) == c))
      .map(_.p)
  }

  def install(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraOptimizations
    if (!cur.exists(_ eq this)) spark.experimental.extraOptimizations = cur :+ this
  }

  /** The maintenance paths' own rebuild aggregates scan the base table;
    * letting this rule rewrite THOSE onto the (stale) projection would
    * regenerate the projection from itself. They run under [[bypass]] —
    * optimization happens on the thread that triggers the action, so a
    * ThreadLocal is the right scope. */
  private val bypassGuard = new ThreadLocal[java.lang.Boolean] {
    override def initialValue: java.lang.Boolean = false
  }
  def bypass[T](f: => T): T = {
    val prev = bypassGuard.get
    bypassGuard.set(true)
    try f finally bypassGuard.set(prev)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (bypassGuard.get || registry.isEmpty) plan
    else plan.transformUp {
      case agg: Aggregate =>
        unwrap(agg.child).flatMap { case (lr, filters) =>
          findFor(lr).flatMap(reg => tryRewrite(agg, filters, reg))
        }.map { rewritten =>
          // a gated base stays gated: the projection scan is smaller
          if (agg.child.exists(_.isInstanceOf[Repartition])) SingleStage(rewritten)
          else rewritten
        }.getOrElse(agg)
    }
  }

  /** Base-scan pattern: the aggregate's child may wrap the relation in
    * aliases, key-only filters, and pruning projects (attribute-only —
    * anything computed in between defeats the match, correctly). The
    * small-input coalesce [[SingleStage]] put over the chain is seen
    * through: it only sets the partitioning. */
  private def unwrap(plan: LogicalPlan): Option[(LogicalRelation, Seq[Expression])] =
    plan match {
      case lr: LogicalRelation   => Some((lr, Nil))
      case SubqueryAlias(_, c)   => unwrap(c)
      case Repartition(1, false, c) => unwrap(c)
      case Filter(cond, c)       => unwrap(c).map { case (lr, fs) => (lr, cond +: fs) }
      case Project(list, c) if list.forall(_.isInstanceOf[AttributeReference]) =>
        unwrap(c)
      case _ => None
    }

  private def findFor(lr: LogicalRelation): Option[Registered] = {
    val roots = lr.relation match {
      case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString).toSet
      case _ => return None
    }
    registry.values.asScala.find(r => r.p.baseRoots.nonEmpty && r.p.baseRoots == roots)
  }

  private def attrName(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    case _ => None
  }

  private def tryRewrite(agg: Aggregate, filters: Seq[Expression],
                         reg: Registered): Option[LogicalPlan] = {
    val p = reg.p
    val groupAttrs = agg.groupingExpressions.map {
      case a: AttributeReference => a
      case _ => return None
    }
    if (groupAttrs.isEmpty) return None // empty-base global agg differs
    if (!groupAttrs.forall(a => p.groupCols.contains(a.name))) return None
    // every filter must be DETERMINISTIC and reference only projection
    // keys: the references test alone is vacuously true for a
    // reference-free predicate like rand() < 0.5, which applied above
    // the one-row-per-group scan would sample GROUPS where the base
    // query samples ROWS — silently different aggregates
    if (!filters.forall(f => f.deterministic &&
        f.references.forall(r => p.groupCols.contains(r.name))))
      return None

    // fresh scan per rewrite: fresh exprIds, so two rewrites in one plan
    // can never collide
    val scan = reg.spark.read.parquet(p.path).queryExecution.analyzed
    val out: Map[String, Attribute] = scan.output.map(a => a.name -> a).toMap
    def partialAttr(func: String, input: String): Option[Attribute] =
      p.partials.get((func, input)).flatMap(out.get)

    def rewriteAggExpr(ae: AggregateExpression): Option[Expression] = {
      if (ae.isDistinct || ae.filter.isDefined) return None
      def asSum(pa: Attribute): Expression =
        ae.copy(aggregateFunction = Sum(pa), resultId = NamedExpression.newExprId)
      ae.aggregateFunction match {
        case f: Sum => attrName(f.child).flatMap(partialAttr("sum", _)).map { pa =>
          // Sum over a DECIMAL sum-partial widens precision AGAIN (+10)
          // while the parent operators keep attributes typed from the
          // base sum — same exprId, different UnsafeRow format. Cast
          // back to the original result type: bounds (and overflow
          // behavior) then match the un-rewritten plan exactly.
          val s = asSum(pa)
          if (s.dataType == ae.dataType) s else Cast(s, ae.dataType)
        }
        case f: Min => attrName(f.child).flatMap(partialAttr("min", _)).map(pa =>
          ae.copy(aggregateFunction = Min(pa), resultId = NamedExpression.newExprId))
        case f: Max => attrName(f.child).flatMap(partialAttr("max", _)).map(pa =>
          ae.copy(aggregateFunction = Max(pa), resultId = NamedExpression.newExprId))
        case f: Count => (f.children match {
          case Seq(Literal(_, _)) => partialAttr("count", "*")
          case Seq(a: AttributeReference) => partialAttr("count", a.name)
          case _ => None
        }).map(pa => Coalesce(Seq(asSum(pa), Literal(0L)))) // count is never null
        case f: Average if f.dataType == DoubleType =>
          for {
            s <- attrName(f.child).flatMap(partialAttr("sum", _))
            c <- attrName(f.child).flatMap(partialAttr("count", _))
          } yield Divide(Cast(asSum(s), DoubleType), Cast(asSum(c), DoubleType))
        case _ => None
      }
    }

    def rewriteExpr(e: Expression): Option[Expression] = e match {
      case ae: AggregateExpression => rewriteAggExpr(ae)
      case a: AttributeReference =>
        if (p.groupCols.contains(a.name)) out.get(a.name) else None
      case leaf if leaf.children.isEmpty && leaf.references.isEmpty => Some(leaf)
      case other =>
        val kids = other.children.map(rewriteExpr)
        if (kids.forall(_.isDefined)) Some(other.withNewChildren(kids.map(_.get)))
        else None
    }

    // output names, exprIds, and types survive the swap — parents of the
    // aggregate keep resolving against the same attributes
    val newAes = agg.aggregateExpressions.map {
      case a: AttributeReference if p.groupCols.contains(a.name) =>
        out.get(a.name) match {
          case Some(pa) => Alias(pa, a.name)(exprId = a.exprId)
          case None => return None
        }
      case al: Alias => rewriteExpr(al.child) match {
        case Some(e) => Alias(e, al.name)(exprId = al.exprId)
        case None => return None
      }
      case _ => return None
    }
    val newGes: Seq[Expression] = groupAttrs.map(a => out(a.name))
    val newFilters = filters.map(_.transformUp {
      case a: AttributeReference => out(a.name)
    })
    val needed = (newAes.flatMap(_.references) ++ newFilters.flatMap(_.references))
      .map(_.exprId).toSet
    val pruned = Project(scan.output.filter(a => needed.contains(a.exprId)), scan)
    val child = newFilters.foldLeft[LogicalPlan](pruned)((pl, c) => Filter(c, pl))
    Some(agg.copy(groupingExpressions = newGes, aggregateExpressions = newAes,
      child = child))
  }
}
