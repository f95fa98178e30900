package graft.pipeline

import graft.TestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Graph.minLabelComponents]] — the shared connected-components core of
  * d_dedup_cluster / d_dedup_semantic. */
class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def components(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val edges = Graph.symmetrize(pairs.toDF("a", "b"), "a", "b")
      .persist()
    val (labels, caches) = Graph.minLabelComponents(edges)
    val out = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    edges.unpersist(); caches.foreach(_.unpersist())
    out
  }

  test("two components + a long path (exercises path halving)") {
    // component A: star {1,2,3,4} around 1; component B: PATH 10-11-...-25
    // — a diameter-15 chain converges in ~log rounds only via the
    // pointer-jumping step; a plain relax loop needs 15.
    val star = Seq((1L, 2L), (1L, 3L), (3L, 4L))
    val path = (10L until 25L).map(i => (i, i + 1))
    val got = components(star ++ path)
    assert(got.keySet == (Set(1L, 2L, 3L, 4L) ++ (10L to 25L)))
    assert(Set(1L, 2L, 3L, 4L).forall(got(_) == 1L))
    assert((10L to 25L).forall(got(_) == 10L))
  }

  test("empty edge list converges immediately to no labels") {
    assert(components(Seq.empty).isEmpty)
  }

  test("label = component minimum regardless of edge orientation") {
    // pairs deliberately written max-first; symmetrize makes direction moot
    val got = components(Seq((9L, 7L), (7L, 8L), (100L, 50L)))
    assert(got == Map(9L -> 7L, 7L -> 7L, 8L -> 7L, 100L -> 50L, 50L -> 50L))
  }

  test("union-find fast path == propagation loop on random graphs") {
    // the single-partition regime takes the union-find path by default;
    // Graph.withForceLoop pins the multi-partition loop — both must
    // produce the identical min-label fixpoint
    val rnd = new scala.util.Random(42)
    (0 until 3).foreach { trial =>
      val n = 60 + trial * 40
      val pairs = Seq.fill(n) {
        (rnd.nextInt(n / 2).toLong, rnd.nextInt(n / 2).toLong)
      }.filter { case (a, b) => a != b }
      val fast = components(pairs)
      val loop = Graph.withForceLoop(components(pairs))
      assert(fast == loop,
        s"trial $trial: paths diverge on ${pairs.size} edges: " +
          s"${(fast.toSet diff loop.toSet).take(5)} / " +
          s"${(loop.toSet diff fast.toSet).take(5)}")
    }
  }

  test("a plan over the union-find labels of a small graph has no exchange") {
    // the labels are a localCheckpoint: noted with the edges' input
    // bytes, a query over them stays under the small-input gate
    import spark.implicits._
    val edges = Graph.symmetrize(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b"), "a", "b").persist()
    val (labels, _) = Graph.minLabelComponents(edges)
    val q = labels.groupBy("lbl").count()
    val sizes = q.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val plan = q.queryExecution.executedPlan.toString
    edges.unpersist()
    assert(sizes == Map(1L -> 3L, 10L -> 2L))
    assert(!plan.contains("Exchange"), plan)
  }
}
