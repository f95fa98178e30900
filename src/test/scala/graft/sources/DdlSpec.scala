package graft.sources

import java.nio.file.Files
import graft.TestSession
import org.scalatest.funsuite.AnyFunSuite

class DdlSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("event-table DDL bootstrap is idempotent and queryable (S-SCAN2)") {
    val root = Files.createTempDirectory("ddl").toString
    Ddl.createEventTables(spark, root)
    Ddl.createEventTables(spark, root) // IF NOT EXISTS ⇒ no error
    val tables = spark.sql("SHOW TABLES").collect().map(_.getString(1)).toSet
    assert(graft.streaming.EventSchemas.tables.keySet.subsetOf(tables))

    // insert through SQL, read back through the catalog
    spark.sql("""
      INSERT INTO login_events PARTITION (event_date='2024-09-14', ingest_batch=-1)
      SELECT 'e-1','login','u-1','s-1','a-1', TIMESTAMP '2024-09-14 10:00:00',
             'web','android','14','android','14','chrome','128','mobile',
             '1080x2400','UA'""")
    val got = spark.sql(
      "SELECT user_id FROM login_events WHERE event_date = DATE '2024-09-14'")
    assert(got.collect().map(_.getString(0)).toSeq == Seq("u-1"))

    // catalog schema matches the declared storage schema
    val cat = spark.table("angulak_watch_events").schema
    assert(cat == Ddl.tableSchema("angulak_watch_events"))
  }

  test("streaming ingest output becomes queryable after MSCK repair") {
    import graft.streaming.{EventSchemas, Ingest}
    val root = Files.createTempDirectory("ddl_ingest").toString
    val wire = Files.createTempDirectory("ddl_wire").toString
    val ckpt = Files.createTempDirectory("ddl_ck").toString
    // re-point the catalog at this test's root (IF NOT EXISTS would keep
    // the previous test's locations)
    EventSchemas.tables.keys
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    // table registered FIRST, then the stream writes partitions under it
    Ddl.createEventTables(spark, root)
    val schema = EventSchemas.tables("angulak_comment_events")
    val comment = schema.fieldNames.toSeq.map {
      case "event_id"     => "c-1"
      case "event_name"   => "comment"
      case "user_id"      => "u-5"
      case "timestamp"    => 1726300800L
      case "play_info_id" => "p-3"
      case _              => ""
    }
    new java.io.File(s"$wire/events.angulak.comment").mkdirs()
    ProtoFiles.writeLocal(s"$wire/events.angulak.comment/flush-000001.pbstream",
      Iterator(comment), schema)
    val qs = Ingest.startFromWire(spark, wire, root, ckpt,
      subjects = Seq("events.angulak.comment"))
    try qs.values.foreach(_.processAllAvailable())
    finally qs.values.foreach(_.stop())
    // path-written partitions invisible to the catalog until repaired
    Ddl.repairEventTables(spark)
    val got = spark.sql(
      "SELECT user_id, play_info_id FROM angulak_comment_events WHERE event_date = DATE '2024-09-14'")
    assert(got.collect().map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("u-5", "p-3")))
  }
}
