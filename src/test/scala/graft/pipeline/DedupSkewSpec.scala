package graft.pipeline

import graft.TestSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Skew kill-test for the cascade's exact-dup keeper (VERDICT r10 #5):
  * turns the `3440f12` rationale — agg+join instead of a fingerprint-
  * partitioned window — into a pinned regression test.
  *
  * Fixture: a synthetic corpus where 50% of documents are copies of one
  * boilerplate fingerprint (the "cookie banner" pathology at 100 TB).
  * Claims pinned, both measured at the task level:
  *  1. any fingerprint-PARTITIONED operator (the window form) must
  *     co-locate every copy: one partition holds >= hot-count rows, and
  *     AQE can never split a window partition;
  *  2. the shipped agg+join keeper stays balanced: the partial aggregate
  *     collapses the hot key map-side, and AQE splits the skewed probe
  *     side of the join, so no single task reads the whole hot key.
  */
class DedupSkewSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private val nDocs = 20000
  private val hot = nDocs / 2 // 50% boilerplate copies of one fingerprint

  /** (doc_id, fp): even ids share fingerprint "boilerplate", odd ids unique.
    * Both claims are about the plan at scale, so the actions run above the
    * small-input gate, which would drop the `repartition(8)` and run the
    * whole fixture in one task. */
  private def skewedFps = {
    import spark.implicits._
    (1 to nDocs).map { i =>
      (i.toLong, if (i % 2 == 0) "boilerplate" else s"fp_$i")
    }.toDF("doc_id", "fp").repartition(8)
  }

  /** Max rows a single task pulled over the wire during `action`. */
  private def maxTaskShuffleRead(action: => Unit): Long = {
    val reads = scala.collection.mutable.ArrayBuffer[Long]()
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
        if (t.taskMetrics != null)
          reads += t.taskMetrics.shuffleReadMetrics.recordsRead
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      action
      // listener bus is async; poll until the read count stabilizes
      var last = -1
      var spins = 0
      while (listener.synchronized(reads.size) != last && spins < 50) {
        last = listener.synchronized(reads.size)
        Thread.sleep(100)
        spins += 1
      }
      listener.synchronized(if (reads.isEmpty) 0L else reads.max)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("fp-partitioned window form concentrates the hot key in one task") {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    val windowed = skewedFps.withColumn("exact_keep", min("doc_id").over(w))
    val maxRead = graft.plans.SingleStage.withGateBytes(0)(maxTaskShuffleRead {
      windowed.filter(col("doc_id") =!= col("exact_keep")).count()
    })
    assert(maxRead >= hot,
      s"a window over fp must co-locate all $hot boilerplate rows in one " +
        s"task; measured max task shuffle-read = $maxRead")
  }

  test("agg+join keeper stays balanced under AQE skew split") {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled"
    ).map(k => k -> conf.getOption(k)).toMap
    try {
      // force a shuffled join (no broadcast escape hatch — at 100 TB the
      // keeper table is corpus-sized) and scale AQE's skew thresholds
      // down to this fixture's byte sizes
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16k")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4k")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")

      val drops = TextDedup.exactKeeperDecisions(skewedFps)
        .filter(col("doc_id") =!= col("exact_keep"))
      var nDrops = 0L
      val maxRead = graft.plans.SingleStage.withGateBytes(0)(
        maxTaskShuffleRead { nDrops = drops.collect().length.toLong })
      // correctness under the skew configs: one keeper, hot-1 drops
      assert(nDrops == hot - 1, s"expected ${hot - 1} exact drops, got $nDrops")
      // AQE actually split the skewed join partition (same QueryExecution
      // as the collect above, so the final adaptive plan is visible)
      val plan = drops.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("skew"),
        s"expected an AQE skew-split join in the executed plan:\n$plan")
      // the kill assertion: no task read the whole hot key. recordsRead
      // sums ALL of a task's shuffle inputs, and each skew-split task
      // re-reads its full keeper-side partition copy (~|keeper|/parts
      // rows) on top of its probe slice — so the bound is 3/4·hot, not
      // a slice-sized constant; the window form above measures >= hot.
      assert(maxRead > 0 && maxRead < (hot * 3) / 4,
        s"agg+join keeper should never ship all $hot hot rows to one task; " +
          s"measured max task shuffle-read = $maxRead")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }
}
