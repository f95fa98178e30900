package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The engine session's generated-class cache holds a working set larger
  * than Spark's default 100 entries, so plans that repeat compile nothing
  * the second time (`EngineSession.CodegenCacheEntries`). */
class CodegenCacheSpec extends AnyFunSuite {
  import TestSession.{compiles, spark}

  test("a working set of more than 100 generated classes, run twice, " +
      "compiles nothing the second time") {
    import spark.implicits._
    val t = (0 until 2000).map(i => (i % 7, i.toLong, s"u-${i % 31}")).toDF("k", "v", "u")
    // Spark inlines primitive literals into the generated source, so a
    // constant no earlier spec used makes every plan here new to the cache
    val base = 1000000L + System.nanoTime() % 1000000000L
    // each pass plans every query afresh, as a repeated statement does
    val plans: Seq[() => DataFrame] = (0 until 30).flatMap { i =>
      val c = base + i
      Seq(
        () => t.filter(col("v") < c).groupBy("k").agg(sum(col("v") * c)).orderBy("k"),
        () => t.filter(col("v") =!= c).orderBy(col("v") % c, col("u")).limit(5),
        () => t.select(col("u"), (col("v") + c).as("w")).groupBy("u").agg(max("w")).orderBy("u"))
    }
    def pass() = plans.map(_().collect().toSeq)
    val (first, compiledFirst) = compiles(pass())
    assert(compiledFirst > 100,
      s"the working set is $compiledFirst generated classes, not more than 100")
    val (second, compiledSecond) = compiles(pass())
    assert(compiledSecond == 0,
      s"the second pass recompiled $compiledSecond of $compiledFirst classes")
    assert(second == first)
  }
}
