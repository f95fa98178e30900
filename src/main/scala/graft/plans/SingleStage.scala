package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{Command, Filter, LeafNode,
  LocalRelation, LogicalPlan, Project, Repartition, Sample}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

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
  * It fires only when all of these hold, over the plan and its
  * subqueries:
  *  - every leaf is a batch file relation or a `LocalRelation`, and their
  *    bytes add up to at most [[gateBytes]] (a file relation counts its
  *    exact file bytes, `location.sizeInBytes`, before partition
  *    pruning). Any other leaf — a streaming source, a checkpointed or
  *    cached relation, a V2 scan — keeps today's plan;
  *  - no node is a `Command`, so writes and DDL keep their plans;
  *  - every expression is deterministic and no node is a `Sample`: both
  *    would answer differently under another partitioning;
  *  - the plan is more than a bare scan chain, which has no exchange to
  *    remove.
  * Spark still picks the join strategy. Above [[gateBytes]] the rule
  * never fires, so plans at scale are unchanged.
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

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!isChain(plan) && applies(plan)) gate(plan) else plan

  private def applies(plan: LogicalPlan): Boolean = {
    val nodes = plan.collectWithSubqueries { case p => p }
    val bytes = nodes.collect { case l: LeafNode => l }
      .foldLeft(Option(BigInt(0))) {
        case (Some(acc), lr: LogicalRelation) if !lr.isStreaming =>
          lr.relation match {
            case fs: HadoopFsRelation => Some(acc + fs.location.sizeInBytes)
            case _ => None
          }
        case (Some(acc), l: LocalRelation) if !l.isStreaming =>
          Some(acc + l.stats.sizeInBytes)
        case _ => None
      }
    bytes.exists(_ <= gateBytes) && nodes.forall {
      case _: Command | _: Sample => false
      case p => p.expressions.forall(_.deterministic)
    }
  }

  private def gate(plan: LogicalPlan): LogicalPlan = plan match {
    case r @ Repartition(1, false, _) => r
    case p if isChain(p) => Repartition(1, shuffle = false, p)
    case p => p.mapChildren(gate)
  }

  private def isChain(plan: LogicalPlan): Boolean = plan match {
    case Project(_, c) => isChain(c)
    case Filter(_, c) => isChain(c)
    case _: LeafNode => true
    case _ => false
  }
}
