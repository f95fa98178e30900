package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** ClickHouse `retention(cond1, …, condN)` as a SQL aggregate — the
  * parametric event-analytics member that does not buffer events, next
  * to the [[BufferedEventAgg]] family (`window_funnel`,
  * `sequence_match`, `sequence_count`, `sequence_next_node`)
  * (CH 22.3 signature; the cohort-retention SELECT a reference analyst
  * writes over the events tables,
  * `/root/reference/build/docker-compose.yml:8-9` basis).
  *
  * Semantics (CH's): per group, r(0) = 1 iff cond1 held on ANY event;
  * r(i) = 1 iff cond1 held on some event AND cond(i+1) held on some
  * event. No ordering between the conditions is required — time enters
  * through the conditions themselves (the caller writes `ts <= t0 +
  * INTERVAL 3 DAYS`-style predicates), which is how CH analysts express
  * windowed retention. Returns ARRAY<INT> of 0/1 flags (CH's UInt8
  * array), summable directly in SQL.
  *
  * Unlike the buffered aggregates this one needs no [[EventBuffer]] and
  * no [[ParametricAgg]] cap: state is one Int bitmask of conditions seen —
  * O(1) per group regardless of whale size, partially aggregated
  * map-side like any sum. The o_a16/o_a16b catalog keys run it; their
  * DuckDB oracle ([[graft.operators.EventAnalytics]]) is the join
  * formulation of the same report.
  */
object Retention {
  /** Bitmask of conditions seen so far in the group. */
  final class State { var mask: Int = 0 }
}

/** `retention(cond1, …, condN)` → ARRAY<INT> of 0/1 flags. */
case class RetentionAgg(
    children: Seq[Expression],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Retention.State] {

  require(children.nonEmpty, "retention(cond1, ...) needs at least one condition")
  require(children.size <= 32,
    "retention supports at most 32 conditions (bitmask bound)")

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == BooleanType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires BOOLEAN conditions, got " +
        children.map(_.dataType.sql).mkString(", "))

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "retention"

  override def createAggregationBuffer(): Retention.State = new Retention.State

  override def update(b: Retention.State, row: InternalRow): Retention.State = {
    var k = 0
    while (k < children.size) {
      // skip already-seen bits: condition eval is the only per-row cost
      if ((b.mask & (1 << k)) == 0) {
        val v = children(k).eval(row)
        if (v != null && v.asInstanceOf[Boolean]) b.mask |= 1 << k
      }
      k += 1
    }
    b
  }

  override def merge(b: Retention.State, o: Retention.State): Retention.State = {
    b.mask |= o.mask
    b
  }

  override def eval(b: Retention.State): Any = {
    val c1 = (b.mask & 1) != 0
    val out = new Array[Any](children.size)
    out(0) = if (c1) 1 else 0
    var i = 1
    while (i < children.size) {
      out(i) = if (c1 && (b.mask & (1 << i)) != 0) 1 else 0
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(b: Retention.State): Array[Byte] = {
    val bytes = new Array[Byte](4)
    java.nio.ByteBuffer.wrap(bytes).putInt(b.mask)
    bytes
  }
  override def deserialize(bytes: Array[Byte]): Retention.State = {
    val s = new Retention.State
    s.mask = java.nio.ByteBuffer.wrap(bytes).getInt
    s
  }

  override def withNewMutableAggBufferOffset(o: Int): RetentionAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): RetentionAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): RetentionAgg =
    copy(children = newChildren)
}
