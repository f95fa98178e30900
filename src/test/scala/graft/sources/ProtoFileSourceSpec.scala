package graft.sources

import graft.TestSession
import graft.streaming.ProtoFiles
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

class ProtoFileSourceSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  private val ddl =
    "msg_id BIGINT, name STRING, score INT, active BOOLEAN, tags ARRAY<STRING>"
  private val schema = StructType.fromDDL(ddl)

  private def writeFixture(dir: String): Unit = {
    // two files: reader must treat each as one partition and union them
    ProtoFiles.writeLocal(s"$dir/a.pbstream", Iterator(
      Seq(1L, "alpha", 10, true, Seq("x", "y")),
      Seq(2L, "beta", 0, false, Seq()),           // proto3 defaults -> absent -> null
      Seq(3L, null, 7, true, Seq("z"))
    ), schema)
    ProtoFiles.writeLocal(s"$dir/b.pbstream", Iterator(
      Seq(4L, "delta", -1, true, Seq("x"))
    ), schema)
  }

  test("round trip: all types, proto3 default/null semantics, multi-file") {
    val dir = java.nio.file.Files.createTempDirectory("proto_src").toString
    writeFixture(dir)
    val df = spark.read.format("graft-proto").option("schema", ddl).load(dir)
    assert(df.schema.toDDL == schema.toDDL)
    assert(df.rdd.getNumPartitions == 2, "one partition per wire file")
    val rows = df.orderBy("msg_id").collect()
    assert(rows.length == 4)
    assert(rows(0).getLong(0) == 1L && rows(0).getString(1) == "alpha" &&
      rows(0).getInt(2) == 10 && rows(0).getBoolean(3) &&
      rows(0).getSeq[String](4) == Seq("x", "y"))
    // zero/empty/false scalars are not on the wire -> decode as null
    assert(rows(1).getLong(0) == 2L && rows(1).getString(1) == "beta" &&
      rows(1).isNullAt(2) && rows(1).isNullAt(3) && rows(1).isNullAt(4))
    assert(rows(2).isNullAt(1) && rows(2).getInt(2) == 7)
    // negative int32 rides the 10-byte varint
    assert(rows(3).getInt(2) == -1)
  }

  test("column pruning reaches the scan (ReadSchema shows only used cols)") {
    val dir = java.nio.file.Files.createTempDirectory("proto_prune").toString
    writeFixture(dir)
    val df = spark.read.format("graft-proto").option("schema", ddl).load(dir)
      .select("name", "score")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft-proto"), plan)
    assert(plan.contains("ReadSchema: name STRING,score INT") ||
      plan.contains("ReadSchema: `name` STRING,`score` INT"), plan)
    val got = df.collect().map(r => (Option(r.getString(0)),
      if (r.isNullAt(1)) None else Some(r.getInt(1)))).toSet
    assert(got == Set((Some("alpha"), Some(10)), (Some("beta"), None),
      (None, Some(7)), (Some("delta"), Some(-1))))
  }

  test("corrupt frame fails loudly; empty file reads as zero rows") {
    val dir = java.nio.file.Files.createTempDirectory("proto_bad").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/empty.pbstream"),
      Array.emptyByteArray)
    val empty = spark.read.format("graft-proto").option("schema", ddl).load(dir)
    assert(empty.count() == 0)
    // frame length promises more bytes than the file has
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/bad.pbstream"),
      Array[Byte](0x7f, 0x01, 0x02))
    intercept[org.apache.spark.SparkException] {
      spark.read.format("graft-proto").option("schema", ddl).load(s"$dir/bad.pbstream")
        .count()
    }
  }

  test("limit pushdown reaches readers; statistics drive auto-broadcast") {
    val dir = java.nio.file.Files.createTempDirectory("proto_lim").toString
    writeFixture(dir)
    val df = spark.read.format("graft-proto").option("schema", ddl).load(dir)
    val limited = df.limit(2)
    assert(limited.queryExecution.executedPlan.toString.contains("PushedLimit: 2"))
    assert(limited.count() == 2)
    // a KB-scale wire table reports sizeInBytes under the broadcast
    // threshold -> BroadcastHashJoin without an explicit hint
    import spark.implicits._
    val big = (1L to 10000L).toDF("msg_id")
    val joined = big.join(df, "msg_id")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(joined.count() == 4)
  }

  test("DSv2 write: staged-commit round trip, schema enforced, no staged leftovers") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("proto_write").toString
    val df = Seq(
      (1L, "alpha", 10, true, Seq("x", "y")),
      (2L, "", 0, false, Seq[String]()),
      (3L, "gamma", -5, true, Seq("z"))
    ).toDF("msg_id", "name", "score", "active", "tags")
    df.repartition(2).write.format("graft-proto").option("schema", ddl)
      .mode("append").save(dir)
    val files = new java.io.File(dir).listFiles.map(_.getName)
      .filterNot(_.startsWith(".")).sorted
    assert(files.length == 2 && files.forall(_.endsWith(".pbstream")), files.toSeq)
    assert(!new java.io.File(dir).listFiles.exists(_.getName.startsWith(".staged")),
      "staged files must be renamed away")
    val back = spark.read.format("graft-proto").option("schema", ddl).load(dir)
    assert(back.count() == 3)
    val r = back.filter(col("msg_id") === 2L).head()
    // proto3 defaults: "" / 0 / false / [] are not on the wire -> null
    assert(r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3) && r.isNullAt(4))
    // a mismatched schema is rejected before any data moves
    intercept[Exception] {
      Seq((1L, "x")).toDF("a", "b").write.format("graft-proto")
        .option("schema", ddl).mode("append").save(dir)
    }
    // overwrite truncates prior wire files, then publishes the new ones
    Seq((9L, "omega", 1, true, Seq[String]()))
      .toDF("msg_id", "name", "score", "active", "tags")
      .write.format("graft-proto").option("schema", ddl)
      .mode("overwrite").save(dir)
    val after = spark.read.format("graft-proto").option("schema", ddl).load(dir)
    assert(after.select("msg_id").collect().map(_.getLong(0)).toSeq == Seq(9L))
  }

  test("streaming read: each flush file lands in exactly one micro-batch") {
    val dir = java.nio.file.Files.createTempDirectory("proto_stream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("proto_ckpt").toString
    // monotonic flush names, as the ingest tier writes them
    ProtoFiles.writeLocal(s"$dir/flush-000001.pbstream", Iterator(
      Seq(1L, "a", 1, true, Seq[String]()),
      Seq(2L, "b", 2, true, Seq[String]())), schema)
    val q = spark.readStream.format("graft-proto").option("schema", ddl).load(dir)
      .writeStream.format("memory").queryName("proto_stream_out")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(spark.table("proto_stream_out").count() == 2)
      ProtoFiles.writeLocal(s"$dir/flush-000002.pbstream", Iterator(
        Seq(3L, "c", 3, false, Seq[String]())), schema)
      q.processAllAvailable()
      val got = spark.table("proto_stream_out").select("msg_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got == Seq(1L, 2L, 3L), s"each file exactly once, got $got")
    } finally q.stop()
  }

  test("streaming read fails loudly when a file appears below the committed offset") {
    val dir = java.nio.file.Files.createTempDirectory("proto_shadow").toString
    val ckpt = java.nio.file.Files.createTempDirectory("proto_shadow_ckpt").toString
    ProtoFiles.writeLocal(s"$dir/flush-000005.pbstream", Iterator(
      Seq(1L, "a", 1, true, Seq[String]())), schema)
    val q = spark.readStream.format("graft-proto").option("schema", ddl).load(dir)
      .writeStream.format("memory").queryName("proto_shadow_out")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(spark.table("proto_shadow_out").count() == 1)
      // a non-monotonic name (sorts below the committed offset) would be
      // silently shadowed forever — the source must fail instead
      ProtoFiles.writeLocal(s"$dir/flush-000001.pbstream", Iterator(
        Seq(2L, "b", 2, true, Seq[String]())), schema)
      val ex = intercept[Exception] {
        ProtoFiles.writeLocal(s"$dir/flush-000006.pbstream", Iterator(
          Seq(3L, "c", 3, true, Seq[String]())), schema)
        q.processAllAvailable()
      }
      val msg = Option(ex.getMessage).getOrElse("") +
        Option(ex.getCause).map(_.getMessage).getOrElse("")
      assert(msg.contains("monotonic"), s"expected monotonicity error, got: $ex")
    } finally q.stop()
  }

  test("publish refuses a final name that already exists") {
    val spark0 = spark // force session init so SparkSession.active resolves
    assert(spark0 != null)
    val dir = java.nio.file.Files.createTempDirectory("proto_collide").toString
    def writeBytes(name: String, rows: Seq[Seq[Any]]): Unit =
      ProtoFiles.writeLocal(s"$dir/$name", rows.iterator, schema)
    val row = Seq(Seq(1L, "aa", 1, true, Seq[String]()))
    writeBytes("flush-000001.pbstream", row)
    val published = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/flush-000001.pbstream"))
    // even a stage with IDENTICAL bytes is a collision, not a replay
    writeBytes(".staged-r1", row)
    val ex = intercept[java.io.IOException] {
      ProtoWriteCommit.publish(dir,
        Array(ProtoCommit(s"$dir/.staged-r1", "flush-000001.pbstream")))
    }
    assert(ex.getMessage.contains("already exists"), ex.getMessage)
    assert(java.util.Arrays.equals(published, java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/flush-000001.pbstream"))),
      "the published file must stay untouched")
    // a fresh name publishes: the stage is renamed into place
    ProtoWriteCommit.publish(dir,
      Array(ProtoCommit(s"$dir/.staged-r1", "flush-000002.pbstream")))
    assert(!new java.io.File(s"$dir/.staged-r1").exists)
    assert(new java.io.File(s"$dir/flush-000002.pbstream").exists)
  }

  test("s_scan2_proto distributed round trip matches a direct events query") {
    val got = ProtoSourceQueries.queries("s_scan2_proto")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val want = graft.Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        countDistinct(when(col("user_id") =!= 0, col("user_id"))).as("uniq_users"))
      .orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want && got.nonEmpty)
  }
}
