package graft.functions

import graft.streaming.ProtoWire
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{BinaryType, DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native proto3 wire decode: `proto_decode(payload_bytes, '<ddl>')`
  * parses a protobuf message (hand-rolled [[ProtoWire]] — spark-protobuf
  * is absent in this environment) STRAIGHT into a Catalyst struct.
  *
  * Replaces the UDF + JSON round-trip (bytes → JSON string → from_json):
  * one parse, strings land as UTF8String without transcoding, and the
  * expression participates in whole-stage codegen. Parse failures yield
  * NULL — the permanent "Cannot parse" class the reference dead-letters
  * with AckKind::Term (src/handler.rs:206-212), left for the caller to
  * filter.
  *
  * The second argument must be a foldable string: the struct schema in
  * DDL form (`StructType.toDDL`), with proto field numbers = position+1
  * (dto.proto envelope convention, SURVEY §1.4). */
case class ProtoDecode(child: Expression, schemaDdl: Expression)
    extends BinaryExpression {

  override def left: Expression = child
  override def right: Expression = schemaDdl

  lazy val schema: StructType =
    StructType.fromDDL(schemaDdl.eval().asInstanceOf[UTF8String].toString)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires BINARY payload")
    else if (schemaDdl.dataType != StringType || !schemaDdl.foldable)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires a foldable DDL string")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = schema
  override def nullIntolerant: Boolean = true
  // always nullable: a MALFORMED payload decodes to null even when the
  // bytes column itself is non-nullable. Inheriting child nullability
  // would (a) let NullPropagation fold `decoded IS NULL` to false,
  // silently disabling the DLQ routing of poison payloads, and (b) make
  // nullSafeCodeGen emit `false = ...` for the isNull assignment below —
  // a Janino compile failure and codegen fallback.
  override def nullable: Boolean = true
  override def prettyName: String = "proto_decode"

  protected override def nullSafeEval(bytes: Any, ddl: Any): Any =
    ProtoDecode.compute(bytes.asInstanceOf[Array[Byte]], schema)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val schemaRef = ctx.addReferenceObj("protoSchema", schema, classOf[StructType].getName)
    nullSafeCodeGen(ctx, ev, (bytes, _) =>
      s"""
         |${ev.value} = graft.functions.ProtoDecode.compute($bytes, $schemaRef);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ProtoDecode =
    copy(child = newLeft, schemaDdl = newRight)
}

object ProtoDecode {
  /** Called from both interpreted eval and generated code; null = the
    * permanent-failure class (dead-letter, never retry). */
  def compute(bytes: Array[Byte], schema: StructType): InternalRow =
    try ProtoWire.decodeToRow(bytes, schema)
    catch { case _: Exception => null }
}
