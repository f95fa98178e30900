package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.types._

/** ClickHouse `topK(N)` — approximate heavy hitters — as a mergeable
  * SpaceSaving sketch (Metwally, Agrawal, El Abbadi: "Efficient
  * computation of frequent and top-k elements in data streams", ICDT
  * 2005; merge rule per Agarwal et al., "Mergeable summaries", PODS 2012).
  *
  * Invariants the tests pin down:
  *  - per tracked item: `est - err <= true <= est`;
  *  - any UNTRACKED item's true count <= min tracked est;
  *  - while distinct keys <= capacity the sketch is EXACT (err = 0) and
  *    merges are lossless — which is why the catalog entry over the
  *    low-cardinality event_type column is fully DuckDB-oracled, while
  *    the over-capacity regime is covered by guarantee-bound specs.
  *
  * Scale shape: capacity-bounded state (cap entries of string+2 longs)
  * per group regardless of stream size; partial sketches merge
  * map-side like any TypedImperativeAggregate. Eviction scans for the
  * min entry — O(cap) on new-key insert at capacity, the right trade at
  * catalog cap sizes (<= 4096); a production tune would keep a heap.
  */
object TopKSketch {

  /** value -> (est, err), plus the capacity it was built with. */
  final class State(var cap: Int) {
    val counts = new java.util.HashMap[UTF8String, Array[Long]]()

    private def minEntry(): java.util.Map.Entry[UTF8String, Array[Long]] = {
      var m: java.util.Map.Entry[UTF8String, Array[Long]] = null
      val it = counts.entrySet.iterator
      while (it.hasNext) {
        val e = it.next()
        if (m == null || e.getValue()(0) < m.getValue()(0)) m = e
      }
      m
    }

    def minEst: Long =
      if (counts.isEmpty || counts.size < cap) 0L else minEntry().getValue()(0)

    def insert(x: UTF8String): Unit = insertW(x, 1L)

    /** Weighted SpaceSaving step (CH `topKWeighted`): a tracked key gains
      * the full weight; a new key at capacity replaces the min entry and
      * inherits its count as error — identical invariants to the unit
      * case (est - err <= true <= est; exact while under capacity). */
    def insertW(x: UTF8String, w: Long): Unit = {
      if (w <= 0) return // CH ignores non-positive weights
      val cur = counts.get(x)
      if (cur != null) cur(0) += w
      else if (counts.size < cap) counts.put(x.clone(), Array(w, 0L))
      else {
        val ev = minEntry()
        val evCount = ev.getValue()(0)
        counts.remove(ev.getKey)
        counts.put(x.clone(), Array(evCount + w, evCount))
      }
    }

    /** Mergeable-summaries union: sum est/err for shared keys; a summary
      * that does not track a key bounds that key's count by its own
      * minEst — add it to both est and err (conservative, keeps
      * est-err <= true <= est). Then trim back to cap by est. */
    def mergeFrom(o: State): Unit = {
      if (cap == 0) cap = o.cap
      require(o.cap == 0 || o.cap == cap, s"topk merge: cap $cap != ${o.cap}")
      if (o.counts.isEmpty) return
      val myMin = minEst
      val oMin = o.minEst
      // keys only in this: other side bounds them by oMin
      val it0 = counts.entrySet.iterator
      while (it0.hasNext) {
        val e = it0.next()
        if (!o.counts.containsKey(e.getKey)) {
          e.getValue()(0) += oMin; e.getValue()(1) += oMin
        }
      }
      val it = o.counts.entrySet.iterator
      while (it.hasNext) {
        val e = it.next()
        val mine = counts.get(e.getKey)
        if (mine != null) { mine(0) += e.getValue()(0); mine(1) += e.getValue()(1) }
        else counts.put(e.getKey,
          Array(e.getValue()(0) + myMin, e.getValue()(1) + myMin))
      }
      while (counts.size > cap) {
        val ev = minEntry()
        counts.remove(ev.getKey)
      }
    }
  }

  /** [int cap][int n][(int len, utf8 bytes, long est, long err) * n],
    * entries sorted by (est desc, value asc) — deterministic bytes for a
    * deterministic (e.g. exact-regime) state. */
  def serialize(s: State): Array[Byte] = {
    val entries = sortedEntries(s)
    var size = 8
    entries.foreach { case (v, _, _) => size += 4 + v.numBytes + 16 }
    val buf = ByteBuffer.allocate(size)
    buf.putInt(s.cap).putInt(entries.length)
    entries.foreach { case (v, est, err) =>
      val b = v.getBytes
      buf.putInt(b.length); buf.put(b); buf.putLong(est); buf.putLong(err)
    }
    buf.array()
  }

  def deserialize(bytes: Array[Byte]): State = {
    val buf = ByteBuffer.wrap(bytes)
    val s = new State(buf.getInt)
    var n = buf.getInt
    while (n > 0) {
      val b = new Array[Byte](buf.getInt)
      buf.get(b)
      s.counts.put(UTF8String.fromBytes(b), Array(buf.getLong, buf.getLong))
      n -= 1
    }
    s
  }

  def sortedEntries(s: State): Array[(UTF8String, Long, Long)] = {
    val arr = new Array[(UTF8String, Long, Long)](s.counts.size)
    var i = 0
    val it = s.counts.entrySet.iterator
    while (it.hasNext) {
      val e = it.next()
      arr(i) = (e.getKey, e.getValue()(0), e.getValue()(1)); i += 1
    }
    arr.sortBy { case (v, est, _) => (-est, v) }
  }

  /** Top-k as "value:est|value:est|..." — string output keeps the
    * DuckDB oracle comparison portable (determinism rule 5). */
  def extract(s: State, k: Int): UTF8String =
    UTF8String.fromString(
      sortedEntries(s).take(k)
        .map { case (v, est, _) => s"$v:$est" }.mkString("|"))
}

/** `topk_agg(x, cap)` → binary SpaceSaving state over string values. */
case class TopKSketchAgg(
    child: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKSketch.State] with UnaryLike[Expression] {

  def this(child: Expression, capExpr: Expression) =
    this(child, DDSketch.foldableDouble(capExpr, "topk_agg cap").toInt)

  require(cap >= 1 && cap <= 65536, s"topk_agg: cap $cap outside [1, 65536]")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${child.dataType.sql} (cast first)")
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "topk_agg"

  override def createAggregationBuffer(): TopKSketch.State = new TopKSketch.State(cap)
  override def update(b: TopKSketch.State, row: InternalRow): TopKSketch.State = {
    val v = child.eval(row)
    if (v != null) b.insert(v.asInstanceOf[UTF8String])
    b
  }
  override def merge(b: TopKSketch.State, o: TopKSketch.State): TopKSketch.State = {
    b.mergeFrom(o); b
  }
  override def eval(b: TopKSketch.State): Any = TopKSketch.serialize(b)
  override def serialize(b: TopKSketch.State): Array[Byte] = TopKSketch.serialize(b)
  override def deserialize(bytes: Array[Byte]): TopKSketch.State = TopKSketch.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): TopKSketchAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKSketchAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): TopKSketchAgg = copy(child = c)
}

/** `topk_weighted_agg(x, w, cap)` — CH `topKWeighted` analog: SpaceSaving
  * state where each value contributes its LONG weight (top revenue-earning
  * items, top bandwidth consumers — count-of-rows is the w=1 special
  * case). Same mergeable state and guarantees as [[TopKSketchAgg]]; exact
  * while distinct keys <= capacity, which the catalog entry exploits for a
  * full DuckDB oracle. */
case class TopKWeightedAgg(
    left: Expression,
    right: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKSketch.State]
  with org.apache.spark.sql.catalyst.trees.BinaryLike[Expression] {

  def this(child: Expression, weight: Expression, capExpr: Expression) =
    this(child, weight, DDSketch.foldableDouble(capExpr, "topk_weighted_agg cap").toInt)

  require(cap >= 1 && cap <= 65536, s"topk_weighted_agg: cap $cap outside [1, 65536]")

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (STRING value, BIGINT weight), got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "topk_weighted_agg"

  override def createAggregationBuffer(): TopKSketch.State = new TopKSketch.State(cap)
  override def update(b: TopKSketch.State, row: InternalRow): TopKSketch.State = {
    val v = left.eval(row)
    val w = right.eval(row)
    if (v != null && w != null)
      b.insertW(v.asInstanceOf[UTF8String], w.asInstanceOf[Long])
    b
  }
  override def merge(b: TopKSketch.State, o: TopKSketch.State): TopKSketch.State = {
    b.mergeFrom(o); b
  }
  override def eval(b: TopKSketch.State): Any = TopKSketch.serialize(b)
  override def serialize(b: TopKSketch.State): Array[Byte] = TopKSketch.serialize(b)
  override def deserialize(bytes: Array[Byte]): TopKSketch.State = TopKSketch.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): TopKWeightedAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKWeightedAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopKWeightedAgg =
    copy(left = newLeft, right = newRight)
}

/** `topk_merge(state)` → binary state (re-aggregation to coarser groups). */
case class TopKMergeAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKSketch.State] with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a BINARY topk state, got ${child.dataType.sql}")
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "topk_merge"

  override def createAggregationBuffer(): TopKSketch.State = new TopKSketch.State(0)
  override def update(b: TopKSketch.State, row: InternalRow): TopKSketch.State = {
    val v = child.eval(row)
    if (v != null) b.mergeFrom(TopKSketch.deserialize(v.asInstanceOf[Array[Byte]]))
    b
  }
  override def merge(b: TopKSketch.State, o: TopKSketch.State): TopKSketch.State = {
    b.mergeFrom(o); b
  }
  override def eval(b: TopKSketch.State): Any = TopKSketch.serialize(b)
  override def serialize(b: TopKSketch.State): Array[Byte] = TopKSketch.serialize(b)
  override def deserialize(bytes: Array[Byte]): TopKSketch.State = TopKSketch.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): TopKMergeAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKMergeAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): TopKMergeAgg = copy(child = c)
}

/** `topk_extract(state, k)` → "value:est|..." string finalizer. */
case class TopKExtract(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (BINARY state, INT k)")
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "topk_extract"

  protected override def nullSafeEval(state: Any, k: Any): Any =
    TopKSketch.extract(
      TopKSketch.deserialize(state.asInstanceOf[Array[Byte]]),
      k.asInstanceOf[Int])

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopKExtract =
    copy(left = newLeft, right = newRight)
}
