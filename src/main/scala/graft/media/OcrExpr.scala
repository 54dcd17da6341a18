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
  */
private[media] final case class SpanFields(kind: Int, text: Int,
    mediaRef: Int, offset: Int, width: Int) {

  private def str(r: InternalRow, i: Int): String =
    if (r.isNullAt(i)) null else r.getUTF8String(i).toString

  /** NULL elements carry no span and are skipped. */
  def spans(arr: ArrayData): Seq[DocSpan] = {
    val out = Array.newBuilder[DocSpan]
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val s = arr.getStruct(i, width)
        out += DocSpan(str(s, kind), str(s, text), str(s, mediaRef), s.getInt(offset))
      }
      i += 1
    }
    ArraySeq.unsafeWrapArray(out.result())
  }
}

private[media] object SpanFields {
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
  * pooled engine ([[OcrEnginePool]]) through [[OcrRun.ocrDoc]], NULL
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
    OcrRun.ocrDoc(OcrEnginePool.engine, level, fields.spans(spans)).rawText
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
  def evalCore(spans: ArrayData): UTF8String =
    UTF8String.fromString(OcrRun.firstMediaRef(fields.spans(spans)))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object FirstMediaRef {
  def of(spans: Column): Column = Bridge.column(FirstMediaRef(Bridge.expression(spans)))
}
