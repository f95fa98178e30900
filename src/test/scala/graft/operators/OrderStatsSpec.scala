package graft.operators

import graft.TestSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

class OrderStatsSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  /** Random weighted rows over a 3-value key — the low-cardinality regime
    * the helper exists for. Values collide on purpose (ties must be
    * broken by the id columns, as in o_a27). */
  private def randomRows(n: Int, seed: Long) = {
    val rnd = new Random(seed)
    (1 to n).map { i =>
      (Seq("A", "N", "R")(rnd.nextInt(3)), rnd.nextInt(200).toLong,
        i.toLong, 1L + rnd.nextInt(50).toLong)
    }
  }

  /** Plan variant + immediate release — the spec's convenience stand-in
    * for the removed cache-discarding overload. */
  private def cdf(df: org.apache.spark.sql.DataFrame, key: String,
                  ord: Seq[String], wt: String)(
      use: org.apache.spark.sql.DataFrame => Array[String]): Array[String] =
    // gate pinned to 0: these tests exercise the DISTRIBUTED machinery
    // (tiny fixtures would otherwise take the gate's one-window branch)
    graft.plans.SingleStage.withGateBytes(0) {
      val (out, caches) = OrderStats.weightedCdfPlan(df, key, ord, wt)
      try use(out) finally caches.foreach(_.unpersist())
    }

  private def naiveCdf(df: org.apache.spark.sql.DataFrame) = {
    val byVal = Window.partitionBy("k").orderBy("v", "id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("cum", sum("wt").over(byVal))
      .withColumn("tot", sum("wt").over(Window.partitionBy("k")))
      .select("k", "v", "id", "wt", "cum", "tot")
  }

  test("distributed cdf equals the single-task window, bit for bit") {
    import spark.implicits._
    val df = randomRows(5000, seed = 42).toDF("k", "v", "id", "wt")
      .repartition(16) // arbitrary incoming layout
    val fast = cdf(df, "k", Seq("v", "id"), "wt")(
      _.select("k", "v", "id", "wt", "cum", "tot")
        .collect().map(_.toString).sorted)
    val slow = naiveCdf(df).collect().map(_.toString).sorted
    assert(fast.sameElements(slow))
  }

  test("keys spanning many range partitions still prefix-sum globally") {
    import spark.implicits._
    // one dominant key: its rows must span nearly every range partition,
    // exercising the cross-partition offset chain end to end
    val rnd = new Random(7)
    val rows = (1 to 4000).map { i =>
      (if (i % 100 == 0) "rare" else "hot", rnd.nextInt(50).toLong,
        i.toLong, 1L + rnd.nextInt(9).toLong)
    }
    val df = rows.toDF("k", "v", "id", "wt")
    val fast = cdf(df, "k", Seq("v", "id"), "wt")(
      _.select("k", "v", "id", "wt", "cum", "tot")
        .collect().map(_.toString).sorted)
    val slow = naiveCdf(df).collect().map(_.toString).sorted
    assert(fast.sameElements(slow))
    // and the dominant key really did land on >1 range partition (i.e.
    // the test exercised what it claims: cross-partition offsets)
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    assert(parts > 1)
  }

  test("weighted-median semantics survive the rewrite (tiny hand oracle)") {
    import spark.implicits._
    // weights: A -> values 1(w5), 2(w1), 3(w1): tot 7, half 3.5 -> cum at
    // val 1 is 5 >= 3.5 -> median 1. B -> 10(w1), 20(w1): tot 2 -> val 10.
    val df = Seq(("A", 1L, 1L, 5L), ("A", 2L, 2L, 1L), ("A", 3L, 3L, 1L),
      ("B", 10L, 4L, 1L), ("B", 20L, 5L, 1L)).toDF("k", "v", "id", "wt")
    val (out, caches) = graft.plans.SingleStage.withGateBytes(0)(
      OrderStats.weightedCdfPlan(df, "k", Seq("v", "id"), "wt"))
    val med =
      try out.filter(col("cum") * 2 >= col("tot"))
        .groupBy("k").agg(min("v").as("m"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      finally caches.foreach(_.unpersist())
    assert(med == Map("A" -> 1L, "B" -> 10L))
  }

  test("both consumers read ONE persisted instantiation of the range shuffle") {
    import spark.implicits._
    val df = randomRows(2000, seed = 11).toDF("k", "v", "id", "wt")
    val (out, caches) = graft.plans.SingleStage.withGateBytes(0)(
      OrderStats.weightedCdfPlan(df, "k", Seq("v", "id"), "wt"))
    out.collect() // materialize so AQE finalizes the plan
    // correctness contract: the slice table (range shuffle + pid) is
    // CACHED, so the offsets branch and the local-cum branch share one
    // boundary sampling / pid space regardless of exchange-reuse conf
    val plan = out.queryExecution.executedPlan.toString
    assert("InMemoryTableScan".r.findAllIn(plan).size >= 2,
      s"both consumers should scan the persisted slice table, plan:\n$plan")
    caches.foreach(_.unpersist())
  }

  test("cdf stays correct with exchange reuse disabled") {
    import spark.implicits._
    val old = spark.conf.get("spark.sql.exchange.reuse", "true")
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try {
      val df = randomRows(3000, seed = 99).toDF("k", "v", "id", "wt")
      val fast = cdf(df, "k", Seq("v", "id"), "wt")(
        _.select("k", "v", "id", "wt", "cum", "tot")
          .collect().map(_.toString).sorted)
      val slow = naiveCdf(df).collect().map(_.toString).sorted
      assert(fast.sameElements(slow))
    } finally spark.conf.set("spark.sql.exchange.reuse", old)
  }

  test("rejects non-long weights (summation-order hazard)") {
    import spark.implicits._
    val df = Seq(("A", 1L, 1L, 0.5)).toDF("k", "v", "id", "wt")
    assertThrows[IllegalArgumentException] {
      OrderStats.weightedCdfPlan(df, "k", Seq("v", "id"), "wt")
    }
  }

  test("adaptive gate: small inputs take the one-window plan, bit-equal across the gate") {
    import spark.implicits._
    val df = randomRows(3000, seed = 9).toDF("k", "v", "id", "wt")
    // default gate: the plan-stats estimate for this tiny input is far
    // below the threshold -> naive branch (no persisted slice table)
    val (small, smallCaches) = OrderStats.weightedCdfPlan(df, "k", Seq("v", "id"), "wt")
    assert(smallCaches.isEmpty, "small input should take the gate's naive branch")
    val a = small.select("k", "v", "id", "wt", "cum", "tot")
      .collect().map(_.toString).sorted
    val b = graft.plans.SingleStage.withGateBytes(0) {
      val (out, caches) = OrderStats.weightedCdfPlan(df, "k", Seq("v", "id"), "wt")
      assert(caches.nonEmpty, "gate 0 must take the distributed branch")
      try out.select("k", "v", "id", "wt", "cum", "tot")
        .collect().map(_.toString).sorted
      finally caches.foreach(_.unpersist())
    }
    assert(a.sameElements(b), "gate branches disagree")
  }

  test("value-granular cdf: threshold picks match the tiebreak form in both gate regimes") {
    import spark.implicits._
    // the o_a27/o_a27b consumer shape: filter by a cum-monotone
    // threshold, then MIN(v) per key — must equal the rows-frame,
    // full-tiebreak reference for every quantile, under BOTH the naive
    // and the distributed branch (value groups split across range
    // slices included: randomRows collides values on purpose)
    val df = randomRows(5000, seed = 99).toDF("k", "v", "id", "wt")
    def picks(out: org.apache.spark.sql.DataFrame): Array[String] =
      out.groupBy("k").agg(
          min(when(col("cum") * 100 >= col("tot") * 25, col("v"))).as("q25"),
          min(when(col("cum") * 2 >= col("tot"), col("v"))).as("q50"),
          min(when(col("cum") * 100 >= col("tot") * 90, col("v"))).as("q90"))
        .collect().map(_.toString).sorted
    val ref = picks(naiveCdf(df))
    for (gate <- Seq(0L, Long.MaxValue)) {
      val got = graft.plans.SingleStage.withGateBytes(gate) {
        val (out, caches) = OrderStats.weightedCdfByValuePlan(
          df.select("k", "v", "wt"), "k", Seq("v"), "wt")
        try picks(out) finally caches.foreach(_.unpersist())
      }
      assert(got.sameElements(ref), s"gate=$gate")
    }
  }

  test("NULL group key is a group, not a dropped row") {
    import spark.implicits._
    // a NULL key is a legal window partition in the naive form; the
    // distributed form's offset join must be null-safe or every
    // NULL-key row silently vanishes (regression: null-unsafe Seq join)
    val rnd = new Random(23)
    val rows = (1 to 1000).map { i =>
      (if (i % 5 == 0) null else Seq("A", "N")(rnd.nextInt(2)),
        rnd.nextInt(40).toLong, i.toLong, 1L + rnd.nextInt(9).toLong)
    }
    val df = rows.toDF("k", "v", "id", "wt")
    val fast = cdf(df, "k", Seq("v", "id"), "wt")(
      _.select("k", "v", "id", "wt", "cum", "tot")
        .collect().map(_.toString).sorted)
    val slow = naiveCdf(df).collect().map(_.toString).sorted
    assert(fast.length == rows.length, "no row may be dropped")
    assert(fast.sameElements(slow))
  }
}
