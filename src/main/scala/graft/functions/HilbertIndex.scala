package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Hilbert-curve index of a d-dimensional grid cell.
  *
  * It maps multi-column bucket coordinates to one sortable long so that
  * range-partitioned parquet files cover compact hyper-rectangles (tight
  * row-group min/max on every clustered column). Over a Morton z-value
  * the Hilbert curve adds the unit-step property: consecutive index
  * values are always adjacent cells (Morton takes long diagonal jumps at
  * power-of-two boundaries), so per-file bounding boxes are tighter at
  * the same file count.
  *
  * `hilbert_index(array<long> coords, int bits)` → long, coords[i] in
  * [0, 2^bits); d·bits ≤ 63. Implementation is Skilling's transpose
  * algorithm ("Programming the Hilbert curve", AIP Conf. Proc. 707,
  * 2004) — O(d·bits) bit ops per row, no allocation beyond the d-long
  * scratch array, runs inside whole-stage codegen via a static call. */
case class HilbertIndex(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (ARRAY<BIGINT> coords, INT bits)")
    }
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hilbert_index"

  protected override def nullSafeEval(coords: Any, bits: Any): Any =
    HilbertIndex.compute(coords.asInstanceOf[ArrayData], bits.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HilbertIndex.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HilbertIndex =
    copy(left = newLeft, right = newRight)
}

object HilbertIndex {
  /** Called from both interpreted eval and generated code. */
  def compute(coords: ArrayData, bits: Int): Long = {
    val d = coords.numElements()
    require(d >= 1 && bits >= 1 && d * bits <= 63,
      s"hilbert_index: $d dims x $bits bits (need d >= 1, bits >= 1, d*bits <= 63)")
    val x = new Array[Long](d)
    var i = 0
    while (i < d) {
      val c = coords.getLong(i)
      // bits == 63 admits any non-negative long (1L << 63 would overflow
      // to Long.MinValue and reject every coordinate)
      require(c >= 0 && (bits == 63 || c < (1L << bits)),
        s"hilbert_index: coord $c out of [0, 2^$bits) at dim $i")
      x(i) = c
      i += 1
    }
    // Skilling AxesToTranspose: inverse-undo excess work
    var q = 1L << (bits - 1)
    while (q > 1) {
      val p = q - 1
      i = 0
      while (i < d) {
        if ((x(i) & q) != 0) x(0) ^= p
        else { val t = (x(0) ^ x(i)) & p; x(0) ^= t; x(i) ^= t }
        i += 1
      }
      q >>= 1
    }
    // Gray encode
    i = 1
    while (i < d) { x(i) ^= x(i - 1); i += 1 }
    var t = 0L
    q = 1L << (bits - 1)
    while (q > 1) {
      if ((x(d - 1) & q) != 0) t ^= q - 1
      q >>= 1
    }
    i = 0
    while (i < d) { x(i) ^= t; i += 1 }
    // Untranspose: MSB-first bit planes, dim-major within each plane
    var h = 0L
    var j = bits - 1
    while (j >= 0) {
      i = 0
      while (i < d) {
        h = (h << 1) | ((x(i) >>> j) & 1L)
        i += 1
      }
      j -= 1
    }
    h
  }
}
