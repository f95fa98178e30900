package graft.streaming

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.types._

/** Minimal proto3 wire-format codec, schema-driven.
  *
  * The reference inserts concatenated protobuf messages bound by
  * `format_schema='dto.proto:<Msg>'` (src/click_house.rs:75-78); this is
  * the equivalent decode for our engine, hand-rolled because the
  * spark-protobuf jar is absent in this environment (SURVEY §7 hard
  * part 1). Wire format per the public protobuf encoding spec:
  * tag = (fieldNumber << 3) | wireType; wireType 0 = varint,
  * 2 = length-delimited. Field numbering follows dto.proto: envelope
  * fields 1..16, per-table extras in declaration order from 17
  * (SURVEY §1.4 "fields 1-16 of every proto message").
  *
  * Supported field types (the complete set used by the reference DDL,
  * SURVEY §1.3): string, int64, int32, bool, repeated string.
  *
  * Decode failures (truncated varint/body, unknown field number, wrong
  * wire type) throw — the permanent "Cannot parse" class that the
  * reference dead-letters with AckKind::Term (src/handler.rs:206-212).
  */
object ProtoWire {

  final class ProtoParseException(msg: String) extends RuntimeException(msg)

  // ------------------------------ encode ------------------------------

  // OutputStream-typed so writeFrame shares it — two inline copies of
  // the framing-critical encoder could drift independently
  private def writeVarint(out: java.io.OutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  /** Append one varint-length-delimited frame — THE framing contract
    * shared by every wire-file writer and the [[graft.sources]] readers.
    * Works on any OutputStream (frames are written through buffers). */
  def writeFrame(out: java.io.OutputStream, msg: Array[Byte]): Unit = {
    writeVarint(out, msg.length.toLong)
    out.write(msg)
  }

  private def writeLen(out: ByteArrayOutputStream, field: Int, bytes: Array[Byte]): Unit = {
    writeVarint(out, (field.toLong << 3) | 2L)
    writeVarint(out, bytes.length.toLong)
    out.write(bytes)
  }

  /** Encode one message; `values` positionally matches `schema` (proto3
    * semantics: default values — ""/0/false/empty — are omitted). */
  def encode(values: Seq[Any], schema: StructType): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      val field = i + 1
      (f.dataType, values(i)) match {
        case (_, null) => ()
        case (StringType, s: String) if s.nonEmpty =>
          writeLen(out, field, s.getBytes(StandardCharsets.UTF_8))
        case (StringType, _) => ()
        case (LongType, v: Long) if v != 0L =>
          writeVarint(out, (field.toLong << 3)); writeVarint(out, v)
        case (LongType, _) => ()
        case (IntegerType, v: Int) if v != 0 =>
          writeVarint(out, (field.toLong << 3)); writeVarint(out, v.toLong)
        case (IntegerType, _) => ()
        case (BooleanType, v: Boolean) if v =>
          writeVarint(out, (field.toLong << 3)); writeVarint(out, 1L)
        case (BooleanType, _) => ()
        case (ArrayType(StringType, _), xs: Seq[_]) =>
          xs.foreach { x =>
            if (x == null) throw new ProtoParseException(
              s"null array element in field $field: the wire format has no null elements")
            writeLen(out, field, x.toString.getBytes(StandardCharsets.UTF_8))
          }
        case (dt, v) =>
          throw new ProtoParseException(s"unsupported encode type $dt for value $v")
      }
    }
    out.toByteArray
  }

  /** Encode one Catalyst InternalRow (the executor-side write path of
    * [[graft.sources.ProtoFileSource]]) — same wire layout as [[encode]],
    * but strings go out as their UTF8String bytes with no transcoding. */
  def encodeRow(row: org.apache.spark.sql.catalyst.InternalRow,
                schema: StructType): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    var i = 0
    while (i < schema.length) {
      val field = i + 1
      if (!row.isNullAt(i)) schema.fields(i).dataType match {
        case StringType =>
          val b = row.getUTF8String(i).getBytes
          if (b.nonEmpty) writeLen(out, field, b)
        case LongType =>
          val v = row.getLong(i)
          if (v != 0L) { writeVarint(out, field.toLong << 3); writeVarint(out, v) }
        case IntegerType =>
          val v = row.getInt(i)
          if (v != 0) { writeVarint(out, field.toLong << 3); writeVarint(out, v.toLong) }
        case BooleanType =>
          if (row.getBoolean(i)) { writeVarint(out, field.toLong << 3); writeVarint(out, 1L) }
        case ArrayType(StringType, _) =>
          val arr = row.getArray(i)
          var j = 0
          while (j < arr.numElements()) {
            val e = arr.getUTF8String(j)
            if (e == null) throw new ProtoParseException(
              s"null array element in field $field: the wire format has no null elements")
            writeLen(out, field, e.getBytes); j += 1
          }
        case dt => throw new ProtoParseException(s"unsupported encode type $dt")
      }
      i += 1
    }
    out.toByteArray
  }

  // ------------------------------ decode ------------------------------

  /** Split a concatenated varint-length-delimited stream into its message
    * frames — the shape of an HTTP `INSERT … FORMAT Protobuf` body (the
    * reference concatenates its batched payloads into one body,
    * src/click_house.rs:70-73). A truncated length or body throws
    * [[ProtoParseException]] — the permanent "Cannot parse" class. */
  def splitFrames(bytes: Array[Byte]): Seq[Array[Byte]] = {
    val r = new Reader(bytes)
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    while (r.hasMore) out += r.lenDelimited()
    out.toSeq
  }

  private final class Reader(bytes: Array[Byte]) {
    var pos = 0
    def hasMore: Boolean = pos < bytes.length
    def varint(): Long = {
      var shift = 0; var res = 0L
      while (true) {
        if (pos >= bytes.length) throw new ProtoParseException("truncated varint")
        val b = bytes(pos); pos += 1
        res |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return res
        shift += 7
        if (shift > 63) throw new ProtoParseException("varint too long")
      }
      res
    }
    // bounds form `n > bytes.length - pos`, never `pos + n > length`:
    // a crafted huge varint overflows pos + n negative, slipping past
    // the check into copyOfRange/backward-cursor chaos OUTSIDE the
    // ProtoParseException class the DLQ/400 classifiers key on
    def lenDelimited(): Array[Byte] = {
      val n = varint()
      if (n < 0 || n > bytes.length - pos) throw new ProtoParseException("truncated body")
      val r = java.util.Arrays.copyOfRange(bytes, pos, pos + n.toInt)
      pos += n.toInt
      r
    }
    /** Advance past a length-delimited body without copying it — the
      * column-pruning fast path (skipped fields cost zero allocation). */
    def skipLenDelimited(): Unit = {
      val n = varint()
      if (n < 0 || n > bytes.length - pos) throw new ProtoParseException("truncated body")
      pos += n.toInt
    }
  }

  private def jsonEscape(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** Decode one message straight to a Catalyst InternalRow matching
    * `schema` — the zero-copy path used by the native
    * [[graft.functions.ProtoDecode]] expression (no JSON intermediate,
    * strings land as UTF8String without transcoding). Absent fields are
    * null, like the JSON path; the ingest fills proto3 defaults
    * downstream. */
  def decodeToRow(bytes: Array[Byte],
                  schema: StructType): org.apache.spark.sql.catalyst.InternalRow =
    decodeToRowPruned(bytes, schema, Array.range(0, schema.length))

  /** Decode one message to an InternalRow containing ONLY the fields at
    * `projection` (indices into `schema`), in projection order. Unwanted
    * length-delimited fields are skipped without copying; unwanted
    * varints are consumed in place — the decode-side analog of parquet
    * column pruning for the [[graft.sources.ProtoFileSource]] scan.
    * Wire/type mismatches still throw for ALL fields (pruning never
    * weakens the permanent-error contract). */
  def decodeToRowPruned(bytes: Array[Byte], schema: StructType,
                        projection: Array[Int]): org.apache.spark.sql.catalyst.InternalRow = {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val outPos = Array.fill(schema.length)(-1)
    projection.zipWithIndex.foreach { case (fi, oi) => outPos(fi) = oi }
    val r = new Reader(bytes)
    val values = new Array[Any](projection.length)
    // per-out-slot repeated accumulators, allocated lazily (amortized O(1)
    // append — a List :+ here would be quadratic on wide arrays)
    val repeated = new Array[scala.collection.mutable.ArrayBuffer[Any]](projection.length)
    while (r.hasMore) {
      val tag = r.varint()
      // range-check as Long BEFORE narrowing: (tag >>> 3).toInt would
      // alias a field number >= 2^32 onto a real small field, silently
      // decoding bogus payload into a live column
      val fieldL = tag >>> 3
      if (fieldL < 1 || fieldL > schema.length)
        throw new ProtoParseException(s"unknown field number $fieldL")
      val field = fieldL.toInt
      val wire = (tag & 7).toInt
      val out = outPos(field - 1)
      (schema.fields(field - 1).dataType, wire) match {
        case (StringType, 2) =>
          if (out >= 0) values(out) = UTF8String.fromBytes(r.lenDelimited())
          else r.skipLenDelimited()
        case (ArrayType(StringType, _), 2) =>
          if (out >= 0) {
            if (repeated(out) == null)
              repeated(out) = scala.collection.mutable.ArrayBuffer.empty[Any]
            repeated(out) += UTF8String.fromBytes(r.lenDelimited())
          } else r.skipLenDelimited()
        case (LongType, 0)    => val v = r.varint(); if (out >= 0) values(out) = v
        case (IntegerType, 0) => val v = r.varint().toInt; if (out >= 0) values(out) = v
        case (BooleanType, 0) => val v = r.varint() != 0L; if (out >= 0) values(out) = v
        case (dt, w) =>
          throw new ProtoParseException(
            s"wire type $w does not match ${schema.fields(field - 1).name}: $dt")
      }
    }
    var oi = 0
    while (oi < projection.length) {
      if (repeated(oi) != null) values(oi) = new GenericArrayData(repeated(oi).toArray)
      oi += 1
    }
    new GenericInternalRow(values)
  }

  /** Decode one message to a JSON object string matching `schema`
    * (feeds from_json — keeps typing/null handling in Catalyst).
    * proto3 defaults: absent fields simply don't appear; the ingest
    * fills ""/0/false downstream (FIXTURES.md invariant 4). */
  def decodeToJson(bytes: Array[Byte], schema: StructType): String = {
    val r = new Reader(bytes)
    val scalar = new Array[Any](schema.length)
    val repeated = Array.fill(schema.length)(List.empty[String])
    while (r.hasMore) {
      val tag = r.varint()
      val fieldL = tag >>> 3 // Long range-check before narrowing (see above)
      if (fieldL < 1 || fieldL > schema.length)
        throw new ProtoParseException(s"unknown field number $fieldL")
      val field = fieldL.toInt
      val wire = (tag & 7).toInt
      val f = schema.fields(field - 1)
      (f.dataType, wire) match {
        case (StringType, 2) =>
          scalar(field - 1) = new String(r.lenDelimited(), StandardCharsets.UTF_8)
        case (ArrayType(StringType, _), 2) =>
          repeated(field - 1) :+= new String(r.lenDelimited(), StandardCharsets.UTF_8)
        case (LongType, 0)    => scalar(field - 1) = r.varint()
        case (IntegerType, 0) => scalar(field - 1) = r.varint().toInt
        case (BooleanType, 0) => scalar(field - 1) = r.varint() != 0L
        case (dt, w) =>
          throw new ProtoParseException(s"wire type $w does not match ${f.name}: $dt")
      }
    }
    val sb = new StringBuilder("{")
    var first = true
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      val part = f.dataType match {
        case ArrayType(StringType, _) if repeated(i).nonEmpty =>
          Some(repeated(i).map(s => "\"" + jsonEscape(s) + "\"").mkString("[", ",", "]"))
        case StringType if scalar(i) != null =>
          Some("\"" + jsonEscape(scalar(i).asInstanceOf[String]) + "\"")
        case (LongType | IntegerType | BooleanType) if scalar(i) != null =>
          Some(scalar(i).toString)
        case _ => None
      }
      part.foreach { p =>
        if (!first) sb.append(',')
        sb.append('"').append(f.name).append("\":").append(p)
        first = false
      }
    }
    sb.append('}').toString
  }
}
