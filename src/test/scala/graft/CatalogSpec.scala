package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSession {
  // the engine's own session recipe: its extensions (the o_s7/o_s8 keys
  // feed literal CH SQL through spark.sql, which only the build-time
  // parser accepts), its SQL settings and its generated-class cache
  lazy val spark: SparkSession = EngineSession.local(cores = 4, appName = "graft-test")
  val sf = "/root/testdata/sf0.001"

  /** `body`'s value and the Janino compiles this JVM ran meanwhile. */
  def compiles[T](body: => T): (T, Long) = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val v = body
    (v, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
  }
}

/** Smoke + invariants over the full query catalog at sf0.001. The heavy
  * value-level check is differential vs DuckDB (tools/verify.sh → the
  * driver's t2 gate); here we assert structural invariants cheaply. */
class CatalogSpec extends AnyFunSuite {
  import TestSession._

  test("entry flagship returns rows") {
    val df = SparkEntry.entry(spark)
    assert(df.columns.toSet == Set("hour", "event_type", "users", "n"))
    assert(df.count() > 0)
  }

  test("every oracle key has a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("the no-oracle set is exactly the three approximate sketches") {
    // Each omission is a deliberate, documented decision (approximate
    // sketches DuckDB can't reproduce) — pinning the set means silently
    // LOSING an oracle (a paste error, a renamed key) reds the suite
    // instead of quietly downgrading a hash-checked query to rows-only.
    // This is the floor: d_media_features joined the oracled set in r14
    // (pinned-fold byte entropy), leaving only the sketches.
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle == Set("o_a3_approx_distinct", "o_a4b_quantile_approx",
      "o_a12_sketch_merge"),
      s"no-oracle set drifted: $noOracle")
  }

  test("all queries execute and are non-empty at sf0.001") {
    val empties = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val n = fn(spark, sf).count()
      if (n == 0) Some(name) else None
    }
    assert(empties.isEmpty, s"empty results: $empties")
  }

  test("approx aggregates land within tolerance of exact (rows-only gate)") {
    // approx_count_distinct (rsd=0.02) vs exact DAU
    val exact = SparkEntry.queries("o_a2_distinct")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    SparkEntry.queries("o_a3_approx_distinct")(spark, sf).collect().foreach { r =>
      val (t, approx) = (r.getString(0), r.getLong(1))
      val e = exact(t).toDouble
      assert(math.abs(approx - e) / e <= 0.1, s"$t: approx $approx vs exact $e")
    }
    // percentile_approx vs exact percentile
    val exactQ = SparkEntry.queries("o_a4_quantile")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    SparkEntry.queries("o_a4b_quantile_approx")(spark, sf).collect().foreach { r =>
      val (f, p50, p90) = (r.getString(0), r.getDouble(1), r.getDouble(2))
      assert(math.abs(p50 - exactQ(f)._1) <= 2.0, s"$f p50: $p50 vs ${exactQ(f)._1}")
      assert(math.abs(p90 - exactQ(f)._2) <= 2.0, s"$f p90: $p90 vs ${exactQ(f)._2}")
    }
  }

  test("o_w1 dedup view matches an independent driver-side recount") {
    import org.apache.spark.sql.functions._
    // independent oracle, not Spark-vs-itself: collect the raw rows and
    // re-apply the O-W1 rule (first row per event_id by (ts, user_id))
    // in plain Scala, then compare per-type counts with the catalog view
    val raw = Tables.events(spark, sf)
      .select(col("event_id"), unix_micros(col("ts")).as("us"),
        col("user_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val expected = raw.groupBy(_._1).values
      .map(_.minBy(t => (t._2, t._3)))
      .toSeq.groupBy(_._4).view.mapValues(_.size.toLong).toMap
    val got = SparkEntry.queries("o_w1_dedup")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected, s"o_w1 per-type counts diverge: $got vs $expected")
  }

  test("union of routed fanout partitions the table (S-ROUTE law)") {
    val total = Tables.events(spark, sf).count()
    val routed = SparkEntry.queries("s_route_fanout")(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)
    assert(routed == total)
  }
}
