package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Command, Filter, HintInfo, Join, JoinHint,
  LeafNode, LocalRelation, LogicalPlan, Project, RebalancePartitions, Repartition,
  RepartitionByExpression, SHUFFLE_HASH, Sample, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  InsertIntoHadoopFsRelationCommand, LogicalRelation}

/** Optimizer rule: a query over small inputs runs as one Spark stage.
  *
  * At today's table sizes a query's time goes to fixed per-job and
  * per-stage costs, not to data: an analyst query that reads 27 KB still
  * plans a partial aggregate, an exchange and a final aggregate, and
  * `toLocalIterator` then runs one job per result partition. When the
  * inputs are small the rule picks a plan with no exchange (Shark's
  * run-time plan choice, SIGMOD 2013): it puts a non-shuffling
  * `Repartition(1)` — a coalesce — over each leaf's maximal
  * `Project`/`Filter` chain. Every operator above then sees
  * `SinglePartition`, which satisfies the clustered, ordered and
  * all-tuples distributions, so `EnsureRequirements` adds no exchange and
  * the query is one job of one task.
  *
  * What counts as input ([[inputBytes]]), summed over the plan and its
  * subqueries:
  *  - a batch file relation: its exact file bytes (`location.sizeInBytes`,
  *    before partition pruning);
  *  - a `LocalRelation`: its stats;
  *  - a cached relation (`persist()`): the input bytes of the plan it
  *    caches;
  *  - a `LogicalRDD` only when it is a [[graft.pipeline.Materialize]]
  *    checkpoint: the input bytes of the plan it was cut from, noted by
  *    [[noteCheckpoint]].
  * Any other leaf — a streaming source, any other RDD (the INSERT path's
  * `spark.read.json`, a stream batch), a V2 scan — keeps today's plan.
  *
  * It fires only when those bytes add up to at most [[gateBytes]], no
  * node is a `Command`, every expression is deterministic and no node is
  * a `Sample` (both would answer differently under another partitioning),
  * and the plan is more than a bare scan chain. One `Command` is looked
  * through: the query under a file write (`InsertIntoHadoopFsRelationCommand`)
  * is gated when it passes and holds no keyed repartition, so a small
  * stored-table write is one task and one file, and a write that ranges
  * its rows (`Ingest.writeTyped`) keeps its exchange.
  *
  * Under the gate the rule also removes what would put an exchange back:
  *  - keyless repartitions, which set only parallelism (`repartition(n)`,
  *    as `Tables.fanout` does, and a key-less REBALANCE, as
  *    `Warehouse.writeSized` does), are dropped; keyed ones are kept;
  *  - each join child is coalesced to one partition and the join is
  *    hinted shuffled-hash on both sides, replacing any broadcast hint, so
  *    no broadcast runs as a job of its own;
  *  - a `Union` is coalesced above itself.
  * Above [[gateBytes]] the rule never fires, so plans at scale are
  * unchanged.
  *
  * Injected as a pre-CBO rule ([[graft.functions.GraftExtensions]]):
  * that batch runs once, after the operator optimizations have pushed
  * filters and projections down to the leaves, and before "Early Filter
  * and Projection Push-Down". Wrapping the chain rather than the bare
  * leaf keeps it matched by `PruneFileSourcePartitions` and by the scan's
  * pushed filters.
  */
object SingleStage extends Rule[LogicalPlan] {

  /** The one small-input threshold: this rule and
    * [[graft.operators.OrderStats]]' adaptive gate both read it. At sf0.1,
    * 11 MB of input ran faster as a single task (1.25 s) than distributed
    * (2.34 s); 32 MB is a few million narrow rows. */
  private val GateBytes = 32L << 20

  private val gateOverride = new scala.util.DynamicVariable[Long](GateBytes)

  private[graft] def gateBytes: Long = gateOverride.value

  /** Runs `body` with the gate at `bytes` on this thread (0 keeps every
    * non-empty input on the plan it gets above the gate), so plan-shape
    * specs keep pinning the scale path on tiny fixtures. Thread-scoped: a
    * concurrent query on another thread never sees it. */
  private[graft] def withGateBytes[T](bytes: Long)(body: => T): T =
    gateOverride.withValue(bytes)(body)

  /** Input bytes of each checkpoint RDD, weakly keyed: the entry goes
    * with the checkpoint. */
  private val checkpoints = new java.util.WeakHashMap[RDD[_], BigInt]()

  /** Notes the input bytes of `source` for `checkpoint`, the
    * `localCheckpoint` cut from it, so plans over the checkpoint count
    * them. A source whose inputs are not all countable notes nothing. */
  private[graft] def noteCheckpoint(checkpoint: DataFrame, source: DataFrame): Unit =
    inputBytes(source.queryExecution.optimizedPlan).foreach { bytes =>
      checkpoint.queryExecution.analyzed.foreach {
        case r: LogicalRDD => checkpoints.synchronized(checkpoints.put(r.rdd, bytes))
        case _ =>
      }
    }

  /** The bytes `plan` reads, or None when a leaf is not countable. */
  private[graft] def inputBytes(plan: LogicalPlan): Option[BigInt] =
    plan.collectWithSubqueries { case l: LeafNode => l }
      .foldLeft(Option(BigInt(0))) { (acc, leaf) => acc.flatMap(a => leafBytes(leaf).map(a + _)) }

  private def leafBytes(leaf: LeafNode): Option[BigInt] = leaf match {
    case lr: LogicalRelation if !lr.isStreaming => lr.relation match {
      case fs: HadoopFsRelation => Some(fs.location.sizeInBytes)
      case _ => None
    }
    case l: LocalRelation if !l.isStreaming => Some(l.stats.sizeInBytes)
    case m: InMemoryRelation => inputBytes(m.cacheBuilder.logicalPlan)
    case r: LogicalRDD if !r.isStreaming =>
      checkpoints.synchronized(Option(checkpoints.get(r.rdd)))
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case w: InsertIntoHadoopFsRelationCommand if passes(w.query) && !keyed(w.query) =>
      w.copy(query = gate(w.query))
    case p if !isChain(p) && passes(p) => gate(p)
    case p => p
  }

  private def passes(plan: LogicalPlan): Boolean =
    inputBytes(plan).exists(_ <= gateBytes) && plan.collectWithSubqueries { case p => p }
      .forall {
        case _: Command | _: Sample => false
        case p => p.expressions.forall(_.deterministic)
      }

  private def keyed(plan: LogicalPlan): Boolean = plan.exists {
    case r: RepartitionByExpression => r.partitionExpressions.nonEmpty
    case r: RebalancePartitions => r.partitionExpressions.nonEmpty
    case _ => false
  }

  private val shuffleHash = Some(HintInfo(Some(SHUFFLE_HASH)))

  private def gate(plan: LogicalPlan): LogicalPlan = plan match {
    case Repartition(1, false, c) => one(gate(c))
    case Repartition(_, true, c) => gate(c)
    case r: RepartitionByExpression if r.partitionExpressions.isEmpty => gate(r.child)
    case r: RebalancePartitions if r.partitionExpressions.isEmpty => gate(r.child)
    case p if isChain(p) => Repartition(1, shuffle = false, p)
    case j: Join => j.copy(left = one(gate(j.left)), right = one(gate(j.right)),
      hint = JoinHint(shuffleHash, shuffleHash))
    case u: Union => one(u.mapChildren(gate))
    case p => p.mapChildren(gate)
  }

  /** `plan` in one partition: coalesced, unless it already is. */
  private def one(plan: LogicalPlan): LogicalPlan = plan match {
    case r @ Repartition(1, false, _) => r
    case p => Repartition(1, shuffle = false, p)
  }

  private def isChain(plan: LogicalPlan): Boolean = plan match {
    case Project(_, c) => isChain(c)
    case Filter(_, c) => isChain(c)
    case _: LeafNode => true
    case _ => false
  }
}
