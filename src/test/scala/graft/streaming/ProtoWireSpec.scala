package graft.streaming

import java.util.Base64
import graft.TestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ProtoWireSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private val watchSchema = EventSchemas.tables("angulak_watch_events")
  private val itemSchema = EventSchemas.tables("shahre_farang_item_events")

  private def envelopeValues(id: String, name: String, ts: Long): Seq[Any] =
    Seq(id, name, "u-1", "s-1", "a-1", ts, "web", "android", "14",
      "android", "14", "chrome", "128", "mobile", "1080x2400", "UA")

  test("wire round-trip: scalars, varints, repeated strings, defaults") {
    val values = envelopeValues("e-9", "item", 1726300800L) ++
      Seq("i-1", "p-1", 12, true, false, true,
        Seq("drama", "comedy"), Seq("hd"), Seq("fa", "en"), Seq("movies"), "search")
    val bytes = ProtoWire.encode(values, itemSchema)
    val json = ProtoWire.decodeToJson(bytes, itemSchema)
    val row = spark.range(1).select(
      from_json(lit(json), itemSchema).as("d")).select("d.*").head()
    assert(row.getAs[String]("event_id") == "e-9")
    assert(row.getAs[Long]("timestamp") == 1726300800L)
    assert(row.getAs[Int]("age_rating") == 12)
    assert(row.getAs[Boolean]("is_dubbed"))
    assert(!row.getAs[Boolean]("is_exclusive"))
    assert(row.getAs[scala.collection.Seq[String]]("genres").toList == List("drama", "comedy"))
    assert(row.getAs[scala.collection.Seq[String]]("languages").toList == List("fa", "en"))
    // proto3 default: empty string field omitted on the wire → null here
    // (ingest fills ""), reach_method was set:
    assert(row.getAs[String]("reach_method") == "search")
  }

  test("native proto_decode expression == JSON decode path, null on poison") {
    import spark.implicits._
    graft.functions.GraftExtensions.register(spark)
    val values = envelopeValues("e-9", "item", 1726300800L) ++
      Seq("i-1", "p-1", 12, true, false, true,
        Seq("drama", "comedy"), Seq("hd"), Seq("fa", "en"), Seq("movies"), "search")
    val bytes = ProtoWire.encode(values, itemSchema)
    val df = Seq(Base64.getEncoder.encodeToString(bytes), "cG9pc29u") // "poison"
      .toDF("payload")
    val ddl = itemSchema.toDDL
    val both = df.select(
      expr(s"proto_decode(unbase64(payload), '$ddl')").as("native"),
      from_json(
        udf((b: Array[Byte]) =>
          try ProtoWire.decodeToJson(b, itemSchema)
          catch { case _: Exception => null })
          .apply(unbase64(col("payload"))), itemSchema).as("viaJson"))
      .collect()
    assert(both.length == 2)
    assert(both(0).get(0) == both(0).get(1)) // field-for-field equal structs
    assert(!both(0).isNullAt(0))
    assert(both(1).isNullAt(0) && both(1).isNullAt(1)) // poison → null both ways
  }

  test("varint edge cases: large values and multi-byte lengths") {
    val v = envelopeValues("e", "watch", Long.MaxValue) ++
      Seq("st", "it", "x" * 300, "p", 300, 70000, "", "", Int.MaxValue, 1,
        "", "", "", "", "", "")
    val bytes = ProtoWire.encode(v, watchSchema)
    val json = ProtoWire.decodeToJson(bytes, watchSchema)
    val row = spark.range(1).select(
      from_json(lit(json), watchSchema).as("d")).select("d.*").head()
    assert(row.getAs[Long]("timestamp") == Long.MaxValue)
    assert(row.getAs[String]("item_id") == "x" * 300)
    assert(row.getAs[Int]("episode_number") == 70000)
    assert(row.getAs[Int]("video_position") == Int.MaxValue)
  }

  test("poison bytes throw the permanent-error class") {
    intercept[ProtoWire.ProtoParseException] {
      ProtoWire.decodeToJson(Array[Byte](0x80.toByte), watchSchema) // truncated varint
    }
    intercept[ProtoWire.ProtoParseException] {
      // field number 99 does not exist in the schema
      val tag99 = Array[Byte]((99 << 3).toByte, 0x08, 1)
      ProtoWire.decodeToJson(tag99, watchSchema)
    }
  }

  test("crafted adversarial bytes stay inside the permanent-error class") {
    // length varint = Long.MaxValue: a naive `pos + n > length` bounds
    // check overflows negative and the failure escapes as IAE/AIOOBE —
    // outside the class the 400/DLQ classifiers key on
    val hugeLen = Array[Byte](
      0x0A, // field 1, wire 2
      0xFF.toByte, 0xFF.toByte, 0xFF.toByte, 0xFF.toByte,
      0xFF.toByte, 0xFF.toByte, 0xFF.toByte, 0xFF.toByte, 0x7F)
    intercept[ProtoWire.ProtoParseException] {
      ProtoWire.decodeToJson(hugeLen, watchSchema)
    }
    intercept[ProtoWire.ProtoParseException] {
      ProtoWire.splitFrames(hugeLen.drop(1)) // same varint as a frame length
    }
    // field number >= 2^32: Int truncation would alias it onto a real
    // small field and silently decode garbage INTO a live column
    def varint(v: Long): Array[Byte] = {
      var x = v; val b = scala.collection.mutable.ArrayBuffer[Byte]()
      while ((x & ~0x7fL) != 0) { b += ((x & 0x7f) | 0x80).toByte; x >>>= 7 }
      b += x.toByte; b.toArray
    }
    val aliasTag = varint(((1L << 32) + 3L) << 3 | 0) ++ varint(7)
    intercept[ProtoWire.ProtoParseException] {
      ProtoWire.decodeToJson(aliasTag, watchSchema)
    }
  }
}
