package graft.plans

import java.nio.file.Files

import graft.TestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** CH PROJECTION analog: transparent, provably answer-preserving rewrite
  * of aggregates onto a materialized rollup. */
class ProjectionsSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private val tmp = Files.createTempDirectory("graft_proj_spec").toString
  private lazy val basePath = s"$tmp/base"
  private lazy val projPath = s"$tmp/proj"

  // integral doubles: every sum is exact, so rewritten == direct bitwise
  private def writeBase(): Unit =
    (1 to 1000).map(i => (s"g${i % 7}", s"h${i % 3}", (i % 50).toDouble, i.toLong))
      .toDF("g", "h", "v", "w")
      .write.mode("overwrite").parquet(basePath)

  private def base: DataFrame = spark.read.parquet(basePath)

  private var pd: ProjectionDef = _

  override def beforeAll(): Unit = {
    writeBase()
    pd = Projection.materialize(base, "spec_rollup", Seq("g", "h"),
      Seq(AggSpec("sum", "v"), AggSpec("count", "*"), AggSpec("count", "v"),
        AggSpec("min", "w"), AggSpec("max", "w")), projPath)
    ProjectionRewrite.register(spark, pd)
  }

  override def afterAll(): Unit = ProjectionRewrite.clear()

  // optimizedPlan.toString elides file paths — identify the scanned table
  // by the relations' root paths instead
  private def scans(df: DataFrame): Set[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Nil
        }
    }.flatten.toSet
  private def usesProjection(df: DataFrame): Boolean =
    scans(df).exists(_.endsWith("/proj")) && !scans(df).exists(_.endsWith("/base"))

  test("covered aggregate rewrites to the projection scan and matches the direct answer") {
    val q = base.groupBy("g", "h")
      .agg(sum("v").as("sv"), count(lit(1)).as("n"),
        min("w").as("mn"), max("w").as("mx"), avg("v").as("av"))
      .orderBy("g", "h")
    assert(usesProjection(q),
      s"expected projection scan, scans=${scans(q)}:\n${q.queryExecution.optimizedPlan}")
    ProjectionRewrite.clear()
    val direct = base.groupBy("g", "h")
      .agg(sum("v").as("sv"), count(lit(1)).as("n"),
        min("w").as("mn"), max("w").as("mx"), avg("v").as("av"))
      .orderBy("g", "h").collect()
    ProjectionRewrite.register(spark, pd)
    assert(q.collect().toSeq == direct.toSeq)
  }

  test("coarser grouping re-aggregates the finer projection") {
    val q = base.groupBy("g").agg(sum("v").as("sv"), count(lit(1)).as("n"))
    assert(usesProjection(q))
    val got = q.orderBy("g").collect()
    ProjectionRewrite.clear()
    val want = base.groupBy("g").agg(sum("v").as("sv"), count(lit(1)).as("n"))
      .orderBy("g").collect()
    ProjectionRewrite.register(spark, pd)
    assert(got.toSeq == want.toSeq)
  }

  test("group-key filters ride the rewrite; others defeat it") {
    val keyed = base.filter(col("g") =!= "g0").groupBy("g").agg(sum("v").as("sv"))
    assert(usesProjection(keyed))
    ProjectionRewrite.clear()
    val want = base.filter(col("g") =!= "g0").groupBy("g").agg(sum("v").as("sv"))
      .orderBy("g").collect()
    ProjectionRewrite.register(spark, pd)
    assert(keyed.orderBy("g").collect().toSeq == want.toSeq)

    val nonKey = base.filter(col("v") > 10).groupBy("g").agg(sum("v").as("sv"))
    assert(!usesProjection(nonKey),
      "a filter on a non-key column must defeat the rewrite")
  }

  test("uncoverable shapes are left alone") {
    // distinct aggregate
    assert(!usesProjection(base.groupBy("g").agg(countDistinct("v"))))
    // aggregate with no registered partial
    assert(!usesProjection(base.groupBy("g").agg(avg("w"))))
    // grouping by a non-projection column
    assert(!usesProjection(base.groupBy("v").agg(count(lit(1)))))
    // global aggregate (empty-base semantics differ)
    assert(!usesProjection(base.agg(sum("v"))))
    // computed grouping key
    assert(!usesProjection(base.groupBy(upper(col("g"))).agg(sum("v"))))
  }

  /** Decline + answer-preservation check in one: the shape must NOT
    * rewrite, and its answer must equal the rewrite-disabled run — if a
    * future relaxation makes any of these fire, a wrong fire shows up as
    * a wrong answer here, not just a plan-shape diff. */
  private def assertDeclines(tag: String)(mk: => DataFrame): Unit = {
    val q = mk
    assert(!usesProjection(q),
      s"[$tag] must decline the projection rewrite, scans=${scans(q)}")
    val got = q.collect().map(_.toString).sorted.toSeq
    ProjectionRewrite.clear()
    val want = try mk.collect().map(_.toString).sorted.toSeq
               finally ProjectionRewrite.register(spark, pd)
    assert(got == want, s"[$tag] answer drifted from the direct computation")
  }

  test("decline matrix: every uncoverable shape declines AND answers exactly") {
    // positive control first — the matrix is meaningless if nothing fires
    assert(usesProjection(base.groupBy("g").agg(sum("v"))))

    // distinct aggregates (partials can't merge distincts)
    assertDeclines("countDistinct")(base.groupBy("g").agg(countDistinct("v")))
    assertDeclines("sum distinct")(
      base.groupBy("g").agg(sum_distinct(col("v"))))
    // FILTER clause on the aggregate (partial rows pre-merged both sides)
    assertDeclines("agg FILTER clause")(
      base.groupBy("g").agg(expr("sum(v) FILTER (WHERE w > 10) AS s")))
    // filters touching non-key columns (the projection lost those rows'
    // identity at materialization)
    assertDeclines("non-key filter")(
      base.filter(col("v") > 10).groupBy("g").agg(sum("v")))
    assertDeclines("mixed key+non-key filter")(
      base.filter(col("g") =!= "g0" && col("v") > 10).groupBy("g").agg(sum("v")))
    // expression-wrapped grouping keys (g' ≠ any projection group col)
    assertDeclines("computed key upper")(
      base.groupBy(upper(col("g"))).agg(sum("v")))
    assertDeclines("computed key substring")(
      base.groupBy(substring(col("g"), 1, 1).as("gp")).agg(sum("v")))
    assertDeclines("computed key concat")(
      base.groupBy(concat(col("g"), col("h")).as("gh")).agg(sum("v")))
    // computed inputs between scan and aggregate
    assertDeclines("derived agg input")(
      base.withColumn("v2", col("v") * 2).groupBy("g").agg(sum("v2")))
    assertDeclines("renamed key")(
      base.select(col("g").as("gg"), col("v")).groupBy("gg").agg(sum("v")))
    assertDeclines("agg over expression")(
      base.groupBy("g").agg(sum(col("v") * 2)))
    // non-scan children
    assertDeclines("join below agg")(
      base.join(base.select(col("g").as("g2")).distinct(),
          col("g") === col("g2"))
        .groupBy("g").agg(sum("v")))
    // aggregate functions without a registered partial
    assertDeclines("unregistered avg(w)")(base.groupBy("g").agg(avg("w")))
    assertDeclines("stddev")(base.groupBy("g").agg(stddev(col("v"))))
    // grouping by a non-projection column / global aggregate
    assertDeclines("non-projection key")(base.groupBy("v").agg(count(lit(1))))
    assertDeclines("global agg")(base.agg(sum("v")))

    // and the control still fires after the whole matrix ran
    assert(usesProjection(base.groupBy("g", "h").agg(sum("v"), max("w"))))
  }

  test("composite expressions over covered aggregates rewrite too") {
    val q = base.groupBy("g").agg((sum("v") + count(lit(1))).as("s_plus_n"))
    assert(usesProjection(q))
    ProjectionRewrite.clear()
    val want = base.groupBy("g").agg((sum("v") + count(lit(1))).as("s_plus_n"))
      .orderBy("g").collect()
    ProjectionRewrite.register(spark, pd)
    assert(q.orderBy("g").collect().toSeq == want.toSeq)
  }

  test("incremental merge folds a delta into the projection without a base re-scan") {
    val p2 = s"$tmp/proj2"
    val pd2 = Projection.materialize(base, "merge_rollup", Seq("g"),
      Seq(AggSpec("sum", "v"), AggSpec("count", "*"),
        AggSpec("min", "w"), AggSpec("max", "w")), p2)
    // delta: new rows for an existing group and a brand-new group
    val delta = Seq(("g0", "h9", 7.0, -5L), ("gNEW", "h9", 3.0, 99L),
      ("gNEW", "h0", 4.0, 100L)).toDF("g", "h", "v", "w")
    Projection.merge(delta, pd2)
    val got = spark.read.parquet(p2).orderBy("g").collect()
    val want = base.unionByName(delta).groupBy("g")
      .agg(sum("v").as("sum_v"), count(lit(1)).as("count_all"),
        min("w").as("min_w"), max("w").as("max_w"))
      .orderBy("g")
      .select(got.headOption.map(_.schema.fieldNames).getOrElse(Array[String]())
        .map(col).toSeq: _*)
      .collect()
    assert(got.toSeq == want.toSeq)
    // merge is idempotent-shaped per batch but ADDITIVE across batches
    Projection.merge(delta, pd2)
    val twice = spark.read.parquet(p2)
      .filter(col("g") === "gNEW").select("count_all").head().getLong(0)
    assert(twice == 4, "second delta batch must add again")
  }

  test("batch-tagged merge is replay-idempotent, additive across batch ids") {
    val p4 = s"$tmp/proj_replay"
    val pd4 = Projection.materialize(base, "replay_rollup", Seq("g"),
      Seq(AggSpec("sum", "v"), AggSpec("count", "*")), p4)
    def cnt(g: String) = spark.read.parquet(p4)
      .filter(col("g") === g).select("count_all").head().getLong(0)
    val delta = Seq(("gR", "h0", 1.0, 1L), ("gR", "h1", 2.0, 2L))
      .toDF("g", "h", "v", "w")
    Projection.merge(delta, pd4, batchId = 0)
    assert(cnt("gR") == 2)
    // a replayed micro-batch (crash after publish, before the streaming
    // checkpoint committed) must be a no-op, not a double count
    Projection.merge(delta, pd4, batchId = 0)
    assert(cnt("gR") == 2, "replay of batch 0 must not re-merge")
    assert(Projection.committedBatch(spark, pd4) == 0L)
    // the next batch id folds normally
    Projection.merge(delta, pd4, batchId = 1)
    assert(cnt("gR") == 4)
    // and an out-of-order stale id (already covered) is also skipped
    Projection.merge(delta, pd4, batchId = 0)
    assert(cnt("gR") == 4)
    // the marker never leaks into reads: schema stays partials-only
    assert(spark.read.parquet(p4).columns.sorted.toSeq ==
      Seq("count_all", "g", "sum_v"))
  }

  test("merge-swap crash recovery: complete staging publishes, torn staging discards") {
    val p5 = s"$tmp/proj_crash"
    val pd5 = Projection.materialize(base, "crash_rollup", Seq("g"),
      Seq(AggSpec("sum", "v"), AggSpec("count", "*")), p5)
    val fs = new java.io.File(p5 + ".merge-tmp")
    def plant(marker: Option[String]): Unit = {
      // simulate a run that died after phase-1: staging holds a DISTINCT
      // rollup (count doubled via self-union) so publication is observable
      val doubled = spark.read.parquet(p5).unionByName(spark.read.parquet(p5))
        .groupBy("g").agg(sum("sum_v").as("sum_v"), sum("count_all").as("count_all"))
        .localCheckpoint(true)
      doubled.write.mode("overwrite").parquet(fs.getPath)
      doubled.unpersist()
      marker.foreach(m => java.nio.file.Files.writeString(
        new java.io.File(fs, "_graft_merge_commit").toPath, m))
    }
    val origCount = spark.read.parquet(p5)
      .agg(sum("count_all")).head().getLong(0)

    // torn write (unparseable marker): discard, originals untouched
    plant(Some("")) // empty marker = crash mid-marker-write
    Projection.merge(base.limit(0), pd5, batchId = 5)
    assert(!fs.exists(), "torn staging must be discarded")
    assert(spark.read.parquet(p5).agg(sum("count_all")).head().getLong(0)
      == origCount, "a torn staging must not publish")

    // complete staging (valid marker): recovery publishes it, and its
    // marker becomes the committed batch — a replay of that batch skips
    plant(Some("7\n"))
    assert(Projection.committedBatch(spark, pd5) < 7)
    Projection.merge(base.limit(0), pd5, batchId = 7) // 7 <= published marker: no-op merge
    assert(!fs.exists(), "recovered staging must be gone after publish")
    assert(Projection.committedBatch(spark, pd5) == 7L)
    assert(spark.read.parquet(p5).agg(sum("count_all")).head().getLong(0)
      == origCount * 2, "the complete staged rollup must have published")
  }

  // the mutation→projection link: a rollup must never serve rows its base
  // no longer has (VERDICT r6 "What's wrong" #2)
  private def scansOnly(df: DataFrame, suffix: String): Boolean =
    scans(df).exists(_.endsWith(suffix)) && scans(df).size == 1

  private def writeDatedBase(dir: String): Unit =
    (for { d <- 1 to 3; i <- 1 to 100 } yield
      (i.toLong, s"g${i % 5}", java.sql.Date.valueOf(f"2024-01-0$d"), (i % 20).toDouble))
      .toDF("user_id", "g", "event_date", "v")
      .write.mode("overwrite").partitionBy("event_date").parquet(dir)

  test("deleteWhere refreshes a partition-aligned projection; emptied partitions drop") {
    val bdir = s"$tmp/mut_base"; val pdir = s"$tmp/mut_proj"
    writeDatedBase(bdir)
    val mbase = spark.read.parquet(bdir)
    val mpd = Projection.materialize(mbase, "mut_rollup", Seq("g"),
      Seq(AggSpec("sum", "v"), AggSpec("count", "*")), pdir,
      partitionCol = Some("event_date"))
    ProjectionRewrite.register(spark, mpd)
    try {
      // partial delete on two dates + full wipe of the third
      graft.sources.Retention.deleteWhere(spark, bdir,
        col("user_id") <= 50 ||
          col("event_date") === lit(java.sql.Date.valueOf("2024-01-03")))
      val q = spark.read.parquet(bdir).groupBy("g")
        .agg(sum("v").as("sv"), count(lit(1)).as("n")).orderBy("g")
      assert(scansOnly(q, "/mut_proj"),
        s"expected projection scan, scans=${scans(q)}")
      val got = q.collect()
      ProjectionRewrite.deregister("mut_rollup")
      val want = spark.read.parquet(bdir).groupBy("g")
        .agg(sum("v").as("sv"), count(lit(1)).as("n")).orderBy("g").collect()
      assert(got.toSeq == want.toSeq,
        "rewritten answer must match post-mutation base recompute")
      // the wiped date's projection partition is gone, not just empty
      assert(!new java.io.File(s"$pdir/event_date=2024-01-03").exists())
      assert(new java.io.File(s"$pdir/event_date=2024-01-01").exists())
    } finally ProjectionRewrite.deregister("mut_rollup")
  }

  test("TTL expiry refreshes the projection like any other mutation") {
    val bdir = s"$tmp/ttl_base"; val pdir = s"$tmp/ttl_proj"
    writeDatedBase(bdir)
    val mpd = Projection.materialize(spark.read.parquet(bdir), "ttl_rollup",
      Seq("g"), Seq(AggSpec("sum", "v"), AggSpec("count", "*")), pdir,
      partitionCol = Some("event_date"))
    ProjectionRewrite.register(spark, mpd)
    try {
      // cutoff 2024-01-03 → dates 01 and 02 expire
      graft.sources.Retention.expireByAge(spark, bdir,
        java.time.Duration.ofHours(24),
        java.time.Instant.parse("2024-01-04T00:00:00Z"))
      val q = spark.read.parquet(bdir).groupBy("g").agg(count(lit(1)).as("n"))
      assert(scansOnly(q, "/ttl_proj"))
      val got = q.orderBy("g").collect()
      ProjectionRewrite.deregister("ttl_rollup")
      val want = spark.read.parquet(bdir).groupBy("g")
        .agg(count(lit(1)).as("n")).orderBy("g").collect()
      assert(got.toSeq == want.toSeq)
      assert(!new java.io.File(s"$pdir/event_date=2024-01-01").exists())
    } finally ProjectionRewrite.deregister("ttl_rollup")
  }

  test("updateWhere fully rebuilds a non-aligned projection") {
    val bdir = s"$tmp/upd_base"; val pdir = s"$tmp/upd_proj"
    writeDatedBase(bdir)
    val mpd = Projection.materialize(spark.read.parquet(bdir), "upd_rollup",
      Seq("g"), Seq(AggSpec("sum", "v"), AggSpec("count", "*")), pdir)
    ProjectionRewrite.register(spark, mpd)
    try {
      graft.sources.Retention.updateWhere(spark, bdir,
        col("user_id") > 90, Map("v" -> (col("v") * 2)))
      val q = spark.read.parquet(bdir).groupBy("g").agg(sum("v").as("sv"))
      assert(scansOnly(q, "/upd_proj"))
      val got = q.orderBy("g").collect()
      ProjectionRewrite.deregister("upd_rollup")
      val want = spark.read.parquet(bdir).groupBy("g")
        .agg(sum("v").as("sv")).orderBy("g").collect()
      assert(got.toSeq == want.toSeq,
        "non-aligned projection must be rebuilt after updateWhere")
    } finally ProjectionRewrite.deregister("upd_rollup")
  }

  test("downstream operators keep resolving: order/filter above the rewritten aggregate") {
    val q = base.groupBy("g", "h").agg(sum("v").as("sv"))
      .filter(col("sv") > 100).orderBy(desc("sv")).limit(3)
    assert(usesProjection(q))
    ProjectionRewrite.clear()
    val want = base.groupBy("g", "h").agg(sum("v").as("sv"))
      .filter(col("sv") > 100).orderBy(desc("sv")).limit(3).collect()
    ProjectionRewrite.register(spark, pd)
    assert(q.collect().toSeq == want.toSeq)
  }

  test("the rewrite fires on an input under the small-input gate and keeps it gated") {
    def gated(df: DataFrame): Boolean = df.queryExecution.optimizedPlan.exists {
      case org.apache.spark.sql.catalyst.plans.logical.Repartition(1, false, _) => true
      case _ => false
    }
    def agg = base.groupBy("g").agg(sum("v").as("sv"), count(lit(1)).as("n")).orderBy("g")
    // the base input is under the gate: without the rewrite it runs gated
    val direct = ProjectionRewrite.bypass {
      val d = agg
      assert(gated(d), s"the base is not gated:\n${d.queryExecution.optimizedPlan}")
      d.collect()
    }
    val q = agg
    assert(usesProjection(q), s"rewrite did not fire, scans=${scans(q)}")
    assert(gated(q), s"the rewritten scan lost the gate:\n${q.queryExecution.optimizedPlan}")
    assert(!q.queryExecution.executedPlan.toString.contains("Exchange"),
      s"a gated rewrite plans no exchange:\n${q.queryExecution.executedPlan}")
    assert(q.collect().toSeq == direct.toSeq)
  }
}
