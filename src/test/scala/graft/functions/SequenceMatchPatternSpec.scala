package graft.functions

import graft.TestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import SequenceMatchPattern.{Adjacent, AnyRun, Exactly, Gap, Step}

class SequenceMatchPatternSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("parser: the documented grammar round-trips to steps") {
    assert(SequenceMatchPattern.parse("(?1)(?2)", 2) ==
      Vector(Step(0, None, Adjacent), Step(1, None, Adjacent)))
    assert(SequenceMatchPattern.parse("(?1).*(?2)", 2) ==
      Vector(Step(0, None, Adjacent), Step(1, None, AnyRun)))
    assert(SequenceMatchPattern.parse("(?1)..(?3)", 3) ==
      Vector(Step(0, None, Adjacent), Step(2, None, Exactly(2))))
    assert(SequenceMatchPattern.parse("(?1)(?t<=3600)(?2)", 2) ==
      Vector(Step(0, None, Adjacent),
        Step(1, Some(Gap("<=", 3600)), Adjacent)))
    assert(SequenceMatchPattern.parse("(?1)(?t>600).*(?2)", 2) ==
      Vector(Step(0, None, Adjacent), Step(1, Some(Gap(">", 600)), AnyRun)))
    assert(SequenceMatchPattern.parse("(?1).*(?t=7200)(?2)", 2) ==
      Vector(Step(0, None, Adjacent), Step(1, Some(Gap("==", 7200)), AnyRun)))
    // negation composes with separators and time bounds in either order
    assert(SequenceMatchPattern.parse("(?1)(?!2).*(?3)", 3) ==
      Vector(Step(0, None, Adjacent), Step(2, None, AnyRun, Some(1))))
    assert(SequenceMatchPattern.parse("(?1).*(?!3)(?t<=60)(?2)", 3) ==
      Vector(Step(0, None, Adjacent),
        Step(1, Some(Gap("<=", 60)), AnyRun, Some(2))))
    // trailing .* is a CH-compat no-op
    assert(SequenceMatchPattern.parse("(?1)(?2).*", 2).size == 2)
  }

  test("parser: unsupported or malformed patterns fail loudly") {
    val bad = Seq(
      "" -> "empty",
      "(?0)(?1)" -> "out of range",
      "(?3)" -> "out of range",
      "(?!1)(?2)" -> "negation cannot precede",
      "(?1)(?!0)(?2)" -> "out of range",
      "(?1)(?!1)(?!2)(?2)" -> "two negations",
      "(?1)(?!2)" -> "end with a condition",
      "(?1)(?!)(?2)" -> "condition number",
      "(?1).*.(?2)" -> "combine",
      "(?1).+(?2)" -> "unexpected",
      ".(?1)" -> "separator cannot precede",
      "(?t<=5)(?1)" -> "cannot precede",
      "(?1)." -> "end with a condition",
      "(?1)(?t<=5)" -> "end with a condition",
      "(?1)(?t<>5)(?2)" -> "operator",
      "x(?1)" -> "unexpected")
    bad.foreach { case (p, frag) =>
      val e = intercept[IllegalArgumentException] {
        SequenceMatchPattern.parse(p, 2)
      }
      assert(e.getMessage.toLowerCase.contains(frag.toLowerCase),
        s"'$p' should fail mentioning '$frag', got: ${e.getMessage}")
    }
  }

  /** Mechanism-independent reference: memoized backtracking over ALL
    * chains (the DP under test uses running dominance aggregates
    * instead). Events are (us, tie, mask); order is (us, tie). */
  private def brute(evs: Seq[(Long, Long, Int)], steps: Vector[Step],
                    unit: Long): Boolean = {
    val sorted = evs.sortBy(e => (e._1, e._2)).toArray
    val n = sorted.length
    def condOk(j: Int, c: Int) = (sorted(j)._3 & (1 << c)) != 0
    def gapOk(g: Gap, i: Int, j: Int): Boolean = {
      val d = sorted(j)._1 - sorted(i)._1
      val v = g.value * unit
      g.op match {
        case "<" => d < v; case "<=" => d <= v
        case ">" => d > v; case ">=" => d >= v; case "==" => d == v
      }
    }
    val memo = collection.mutable.Map[(Int, Int), Boolean]()
    def rec(k: Int, i: Int): Boolean = memo.getOrElseUpdate((k, i), {
      if (k == steps.length - 1) true
      else {
        val st = steps(k + 1)
        val js: Seq[Int] = st.skip match {
          case Adjacent => Seq(i + 1)
          case Exactly(m) => Seq(i + m + 1)
          case AnyRun => (i + 1) until n
        }
        js.exists(j => j < n && condOk(j, st.cond) &&
          st.gap.forall(g => gapOk(g, i, j)) &&
          st.neg.forall(f => ((i + 1) until j).forall(b => !condOk(b, f))) &&
          rec(k + 1, j))
      }
    })
    (0 until n).exists(i => condOk(i, steps.head.cond) && rec(0, i))
  }

  test("pattern DP == brute-force backtracking on randomized tied streams") {
    val patterns = Seq(
      "(?1)(?2)", "(?1).*(?2)", "(?1).(?2)", "(?1)..(?3)",
      "(?1)(?t<=7200)(?2)", "(?1)(?t<7200)(?2)", "(?1)(?t>1800).*(?2)",
      "(?1)(?t>=3600).*(?3)", "(?1)(?t==3600)(?2)",
      "(?1)(?t<=7200)(?2)(?t>600)(?3)", "(?1).*(?2).(?3)",
      "(?2)(?1)", "(?3).*(?1)..(?2)", "(?1)",
      // negation: alone, with fixed offsets, composed with time bounds,
      // same-condition (step event exempt), and chained across steps
      "(?1)(?!2).*(?3)", "(?1).*(?!2)(?3)", "(?1)(?!3).(?2)",
      "(?1)(?!3)..(?2)", "(?1)(?!2)(?t<=7200).*(?3)",
      "(?1)(?!1).*(?2)", "(?1)(?!2).*(?2)", "(?1)(?!3)(?2)",
      "(?1)(?!2).*(?2)(?!1).*(?3)", "(?1)(?t>1800)(?!2).*(?3)",
      "(?1)(?!2)(?t==3600).*(?2)")
    val rnd = new scala.util.Random(1601)
    (0 until 4).foreach { draw =>
      // ~15 events per group on a 900s grid: ties and exact 3600s gaps
      // both occur by construction
      val groups = (0 until 8).map { g =>
        val evs = (0 until 15).map { i =>
          val us = rnd.nextInt(24).toLong * 900L * 1000000
          val mask = 1 << rnd.nextInt(3)
          (us, i.toLong, mask)
        }
        g -> evs
      }.toMap
      patterns.foreach { p =>
        val steps = SequenceMatchPattern.parse(p, 3)
        groups.foreach { case (g, evs) =>
          val s = new EventBuffer(hasTie = true, hasValue = false)
          // insertion order scrambled: eval must not depend on arrival
          rnd.shuffle(evs).foreach { case (us, tie, m) => s.add(us, tie, m, null) }
          val got = SequenceMatchPattern.matches(s.sorted, steps, 1000000L)
          val want = brute(evs, steps, 1000000L)
          assert(got == want,
            s"draw $draw group $g pattern '$p': dp=$got brute=$want " +
              s"events=${evs.sortBy(e => (e._1, e._2))}")
        }
      }
    }
  }

  test("SQL surface: '(?1).*(?2).*(?3)' == library sequenceMatch on tie-free streams") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val rnd = new scala.util.Random(1602)
    val types = Seq("signup", "click", "purchase", "view")
    val chain = Seq("signup", "click", "purchase")
    val rows = (0 until 400).map { i =>
      // distinct us per event: the pattern form's order-based chaining
      // and the funnel-completion reference's strict-ts chaining agree
      // exactly when there are no ties
      (i.toLong, rnd.nextInt(10).toLong, types(rnd.nextInt(types.size)),
        new java.sql.Timestamp(i * 3600000L + rnd.nextInt(1000)))
    }
    val e = rows.toDF("event_id", "user_id", "event_type", "ts")
    val got = e.filter(col("event_type").isin(chain: _*))
      .groupBy("user_id")
      .agg(expr("sequence_match('(?1).*(?2).*(?3)', ts, event_id, " +
          "event_type = 'signup', event_type = 'click', " +
          "event_type = 'purchase')").as("m"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val R = graft.operators.EventAnalytics.Reference
    val want = R.byUser(e.filter(col("event_type").isin(chain: _*)))
      .map { case (u, evs) => u -> R.chainMatched(evs, chain, None) }
    assert(got == want, s"mismatches: ${(got.toSet -- want.toSet).take(5)}")
    assert(want.values.count(identity) > 0, "stream should contain full matches")
  }

  test("SQL surface: BIGINT ts uses raw units; TIMESTAMP ts uses seconds") {
    import spark.implicits._
    GraftExtensions.register(spark)
    // gap == 5 raw units between the two events
    val raw = Seq((1L, 100L, 1L, true, false), (1L, 105L, 2L, false, true))
      .toDF("g", "t", "tie", "c1", "c2")
    def m(df: org.apache.spark.sql.DataFrame, pat: String): Boolean =
      df.groupBy("g").agg(expr(s"sequence_match('$pat', t, tie, c1, c2)")
        .as("m")).head.getBoolean(1)
    assert(m(raw, "(?1)(?t==5)(?2)"))
    assert(!m(raw, "(?1)(?t==5000000)(?2)"))
    // the same 5 with TIMESTAMP ts means 5 SECONDS
    val tsDf = Seq((1L, new java.sql.Timestamp(0L), 1L, true, false),
      (1L, new java.sql.Timestamp(5000L), 2L, false, true))
      .toDF("g", "t", "tie", "c1", "c2")
    assert(m(tsDf, "(?1)(?t==5)(?2)"))
    assert(m(tsDf, "(?1)(?t<=5)(?2)"))
    assert(!m(tsDf, "(?1)(?t<5)(?2)"))
  }

  test("catalog keys o_a17c/o_a17d/o_a17e: both matched classes populated at the fixture") {
    Seq("o_a17c_seqmatch_gaps", "o_a17d_seqmatch_strictnext",
        "o_a17e_seqmatch_negation").foreach { k =>
      val out = graft.SparkEntry.queries(k)(spark, TestSession.sf)
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(out.keySet == Set(0, 1),
        s"$k should discriminate at the fixture, got $out")
    }
  }
}
