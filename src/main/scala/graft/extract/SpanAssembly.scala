package graft.extract

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** G6/§1.3 — encode one extraction result as the ordered output span
  * sequence `(kind, text, media_ref, order)` the invariant compares on.
  *
  * Emission order (SURVEY.md §1.3): marker, value, unit?, ref_min?,
  * ref_max?, confidence, raw_text? for ok rows; marker, error, raw_text?
  * for failures. `order` is the position within the emitted sequence.
  * Convention (fixed here and mirrored in fixtures/gen_golden.py):
  * only the raw_text span carries a media_ref — the first media span's
  * ref, "" for docs with no media.
  */
object SpanAssembly {

  /** array<struct<kind, text, media_ref, order>>, the `spans` column of
    * `Pipeline.extract` (and the parquet tables ExtractJob writes).
    */
  val SpanArrayType: ArrayType = ArrayType(StructType(Seq(
    StructField("kind", StringType),
    StructField("text", StringType),
    StructField("media_ref", StringType),
    StructField("order", IntegerType, nullable = false))), containsNull = false)

  /** r = result struct from TshExtract.levelResult/cascadeAuto (a leaf
    * column reference); returns [[SpanArrayType]].
    * Doubles are rendered with CAST(double AS STRING) == Java
    * Double.toString == Python str(float) for every magnitude this
    * domain produces (asserted by the golden suite).
    */
  def assemble(r: Column, firstMediaRef: Column): Column = {
    def text(name: String) = r(name).cast(StringType)
    Bridge.column(SpanArray(Seq(r("ok"), text("value"), r("unit"),
      text("ref_min"), text("ref_max"), r("confidence"), r("error"),
      r("raw_text"), firstMediaRef).map(Bridge.expression)))
  }
}

/** The span array of one result, built in one compiled call with no
  * lambda. Children, in order: the result's ok (boolean), value, unit,
  * ref_min, ref_max, confidence, error and raw_text, then the doc's
  * first media ref; doubles are already rendered to strings by their
  * Cast children. A NULL optional field emits no span, and `order`
  * counts the spans emitted before it.
  */
case class SpanArray(children: Seq[Expression]) extends Expression {

  override def dataType: DataType = SpanAssembly.SpanArrayType
  override def nullable: Boolean = false
  override def prettyName: String = "span_array"

  override def eval(input: InternalRow): Any = {
    val v = children.map(_.eval(input))
    evalCore(v.head != null && v.head.asInstanceOf[Boolean],
      v(1).asInstanceOf[UTF8String], v(2).asInstanceOf[UTF8String],
      v(3).asInstanceOf[UTF8String], v(4).asInstanceOf[UTF8String],
      v(5).asInstanceOf[UTF8String], v(6).asInstanceOf[UTF8String],
      v(7).asInstanceOf[UTF8String], v(8).asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("spanArray", this)
    val evs = children.map(_.genCode(ctx))
    val ok = s"(!${evs.head.isNull} && ${evs.head.value})"
    val texts = evs.tail.map(e => s"${e.isNull} ? null : ${e.value}")
    ev.copy(code = code"""
      ${Block.blocksToBlock(evs.map(_.code))}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        $ref.evalCore($ok, ${texts.mkString(", ")});""", isNull = FalseLiteral)
  }

  /** Shared by interpreted eval and generated code (public for janino). */
  def evalCore(ok: Boolean, value: UTF8String, unit: UTF8String,
      refMin: UTF8String, refMax: UTF8String, confidence: UTF8String,
      error: UTF8String, rawText: UTF8String, firstMediaRef: UTF8String): ArrayData = {
    import SpanArray._
    val out = new Array[Any](7)
    var n = 0
    def emit(kind: UTF8String, text: UTF8String, mediaRef: UTF8String): Unit = {
      out(n) = new GenericInternalRow(Array[Any](kind, text, mediaRef, n))
      n += 1
    }
    emit(MarkerK, TshText, NoRef)
    if (ok) {
      emit(ValueK, value, NoRef)
      if (unit != null) emit(UnitK, unit, NoRef)
      if (refMin != null) emit(RefMinK, refMin, NoRef)
      if (refMax != null) emit(RefMaxK, refMax, NoRef)
      emit(ConfidenceK, confidence, NoRef)
    } else emit(ErrorK, error, NoRef)
    if (rawText != null)
      emit(RawTextK, rawText, if (firstMediaRef == null) NoRef else firstMediaRef)
    new GenericArrayData(out.take(n))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

object SpanArray {
  private def utf8(s: String) = UTF8String.fromString(s)
  private val MarkerK = utf8("marker")
  private val TshText = utf8("TSH")
  private val NoRef = utf8("")
  private val ValueK = utf8("value")
  private val UnitK = utf8("unit")
  private val RefMinK = utf8("ref_min")
  private val RefMaxK = utf8("ref_max")
  private val ConfidenceK = utf8("confidence")
  private val ErrorK = utf8("error")
  private val RawTextK = utf8("raw_text")
}
