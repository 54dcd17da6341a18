package graft.media

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.schema.DocSpan

/** Reads a `spans` column (array<struct<kind, text, media_ref, offset>>,
  * fields matched by name) back into the [[DocSpan]]s that [[OcrRun]]
  * takes, so span order and the level-failure rules stay in OcrRun.
  * Only the fields OcrRun reads are decoded: a media span's `media_ref`,
  * any other span's `text`; the other one is left null.
  */
private[media] final case class SpanFields(kind: Int, text: Int,
    mediaRef: Int, offset: Int, width: Int) {

  private def str(r: InternalRow, i: Int): String =
    if (r.isNullAt(i)) null else r.getUTF8String(i).toString

  /** True when the span's kind is "media", compared as bytes. */
  def isMedia(s: InternalRow): Boolean =
    !s.isNullAt(kind) && s.getUTF8String(kind) == SpanFields.Media

  private def kindOf(s: InternalRow): String =
    if (s.isNullAt(kind)) null
    else if (s.getUTF8String(kind) == SpanFields.Text) "text"
    else s.getUTF8String(kind).toString

  /** NULL elements carry no span and are skipped. */
  def spans(arr: ArrayData): Seq[DocSpan] = {
    val out = Array.newBuilder[DocSpan]
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val s = arr.getStruct(i, width)
        out += (
          if (isMedia(s)) DocSpan("media", null, str(s, mediaRef), s.getInt(offset))
          else DocSpan(kindOf(s), str(s, text), null, s.getInt(offset)))
      }
      i += 1
    }
    ArraySeq.unsafeWrapArray(out.result())
  }

  /** [[OcrRun.firstMediaRef]] without building the spans: the
    * `media_ref` of the media span with the lowest offset (the earliest
    * of equals), not decoded; "" when there is none.
    */
  def firstMediaRef(arr: ArrayData): UTF8String = {
    var first: InternalRow = null
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val s = arr.getStruct(i, width)
        if (isMedia(s) && (first == null || s.getInt(offset) < first.getInt(offset))) first = s
      }
      i += 1
    }
    if (first == null) UTF8String.EMPTY_UTF8
    else if (first.isNullAt(mediaRef)) null
    else first.getUTF8String(mediaRef)
  }
}

private[media] object SpanFields {
  private val Media = UTF8String.fromString("media")
  private val Text = UTF8String.fromString("text")

  def of(dt: DataType): Option[SpanFields] = dt match {
    case ArrayType(st: StructType, _) =>
      def idx(name: String, ok: DataType => Boolean) =
        Some(st.fieldNames.indexOf(name)).filter(i => i >= 0 && ok(st(i).dataType))
      val isStr = (t: DataType) => t.isInstanceOf[StringType]
      for {
        k <- idx("kind", isStr)
        t <- idx("text", isStr)
        m <- idx("media_ref", isStr)
        o <- idx("offset", _ == IntegerType)
      } yield SpanFields(k, t, m, o, st.size)
    case _ => None
  }

  def check(child: Expression): TypeCheckResult =
    if (of(child.dataType).isDefined) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "expects array<struct<kind: string, text: string, media_ref: string, " +
        s"offset: int>>, got ${child.dataType.catalogString}")
}

/** One OCR level's raw document text from a doc's spans: the executor's
  * pooled engine ([[OcrEnginePool]]) through [[OcrRun.ocrText]], NULL
  * when the level fails (OCR_FAILED) or the spans are NULL. As a
  * projection column it sits behind the cascade's CASE gates, whose
  * branches evaluate lazily, so a doc an earlier level accepted never
  * reaches the engine again (the reference's early exit,
  * `app.py:153-189`).
  *
  * Declared non-deterministic on purpose: Catalyst then never copies
  * the call into a pushed-down Filter, never inlines it into a second
  * consumer (CollapseProject) and never shares it across CASE branches
  * (subexpression elimination), so the engine runs at most once per doc
  * and level. Real `doGenCode` calling the public `evalCore`: the OCR
  * call stays inside whole-stage codegen.
  */
case class OcrText(child: Expression, level: String) extends UnaryExpression {
  require(OcrText.Levels.contains(level), s"unknown OCR level '$level'")

  @transient private lazy val fields = SpanFields.of(child.dataType).get

  override def checkInputDataTypes(): TypeCheckResult = SpanFields.check(child)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override lazy val deterministic: Boolean = false
  override def prettyName: String = "ocr_text"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("ocrText", this)
      s"${ev.value} = $ref.evalCore($c);\n${ev.isNull} = ${ev.value} == null;"
    })

  override def nullSafeEval(spans: Any): Any = evalCore(spans.asInstanceOf[ArrayData])

  /** Shared by interpreted eval and generated code (public for janino). */
  def evalCore(spans: ArrayData): UTF8String =
    OcrRun.ocrText(OcrEnginePool.engine, level, fields.spans(spans))
      .map(UTF8String.fromString).orNull

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object OcrText {
  val Levels = Seq("light", "premium", "optimum")

  def of(spans: Column, level: String): Column =
    Bridge.column(OcrText(Bridge.expression(spans), level))
}

/** media_ref of a doc's first media span in offset order, "" when it
  * has none ([[OcrRun.firstMediaRef]]); it tags the raw_text span.
  */
case class FirstMediaRef(child: Expression) extends UnaryExpression {

  @transient private lazy val fields = SpanFields.of(child.dataType).get

  override def checkInputDataTypes(): TypeCheckResult = SpanFields.check(child)
  override def dataType: DataType = StringType
  override def prettyName: String = "first_media_ref"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("firstMediaRef", this)
      s"${ev.value} = $ref.evalCore($c);"
    })

  override def nullSafeEval(spans: Any): Any = evalCore(spans.asInstanceOf[ArrayData])

  /** Shared by interpreted eval and generated code (public for janino). */
  def evalCore(spans: ArrayData): UTF8String = fields.firstMediaRef(spans)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object FirstMediaRef {
  def of(spans: Column): Column = Bridge.column(FirstMediaRef(Bridge.expression(spans)))
}
