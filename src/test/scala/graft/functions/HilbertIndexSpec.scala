package graft.functions

import graft.TestSession
import org.scalatest.funsuite.AnyFunSuite

/** [[HilbertIndex]] — the native `hilbert_index` expression. */
class HilbertIndexSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("hilbert index: bijection + unit-step adjacency in 2D and 3D") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    def idx(coords: Seq[Long], bits: Int): Long =
      HilbertIndex.compute(ArrayData.toArrayData(coords.toArray), bits)
    // 2D, 4 bits: 256 cells. The curve must visit every cell exactly once
    // (bijection) and consecutive indices must be Manhattan-distance-1
    // neighbors — the defining Hilbert property Morton lacks.
    val cells2 = for (x <- 0L until 16L; y <- 0L until 16L) yield (x, y)
    val byIdx2 = cells2.map(c => idx(Seq(c._1, c._2), 4) -> c).sortBy(_._1)
    assert(byIdx2.map(_._1) == (0L until 256L))
    byIdx2.sliding(2).foreach { case Seq((_, a), (_, b)) =>
      assert(math.abs(a._1 - b._1) + math.abs(a._2 - b._2) == 1,
        s"non-adjacent step $a -> $b")
    }
    // 3D, 3 bits: 512 cells, same law.
    val cells3 = for (x <- 0L until 8L; y <- 0L until 8L; z <- 0L until 8L)
      yield (x, y, z)
    val byIdx3 = cells3.map(c => idx(Seq(c._1, c._2, c._3), 3) -> c).sortBy(_._1)
    assert(byIdx3.map(_._1) == (0L until 512L))
    byIdx3.sliding(2).foreach { case Seq((_, a), (_, b)) =>
      assert(math.abs(a._1 - b._1) + math.abs(a._2 - b._2)
        + math.abs(a._3 - b._3) == 1, s"non-adjacent step $a -> $b")
    }
    // Morton (same grid) takes non-unit jumps — Hilbert's edge over it.
    def morton(x: Long, y: Long): Long =
      (0 until 4).foldLeft(0L)((acc, i) =>
        acc | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1)))
    val mSteps = cells2.map(c => morton(c._1, c._2) -> c).sortBy(_._1)
      .sliding(2).map { case Seq((_, a), (_, b)) =>
        math.abs(a._1 - b._1) + math.abs(a._2 - b._2) }.toSeq
    assert(mSteps.max > 1, "sanity: Morton does jump")
    // Degenerate inputs error instead of silently colliding: bits=0 maps
    // every row to 0 and out-of-range coords break bijectivity.
    intercept[IllegalArgumentException] { idx(Seq(1L, 1L), 0) }
    intercept[IllegalArgumentException] { idx(Seq(16L, 0L), 4) }
    intercept[IllegalArgumentException] { idx(Seq(-1L, 0L), 4) }
    intercept[IllegalArgumentException] { idx(Seq(1L, 1L), 32) } // 2*32 > 63
    // 1-D/63-bit boundary: 1L << 63 overflows — must still be accepted
    assert(idx(Seq(Long.MaxValue), 63) >= 0)
  }

  test("hilbert codegen == interpreted, SQL-registered, and file spans ≤ Morton's") {
    GraftExtensions.register(spark)
    // SQL path (codegen) agrees with direct compute on a 3D sample
    import org.apache.spark.sql.catalyst.util.ArrayData
    val got = spark.sql(
      "SELECT hilbert_index(array(3L, 9L, 14L), 4) AS h").head().getLong(0)
    assert(got == HilbertIndex.compute(
      ArrayData.toArrayData(Array(3L, 9L, 14L)), 4))
  }
}
