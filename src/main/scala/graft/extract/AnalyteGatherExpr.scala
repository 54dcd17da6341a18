package graft.extract

import java.util.regex.{Matcher, Pattern}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.types.UTF8String

/** Shared compiled core of the labelled-line gather — the single place
  * the N1/N3/N4/E1-E6 JVM semantics live, used by both the TSH
  * expression (phase 1 of [[TshGatherCandidates]]) and the generic
  * [[AnalyteGather]]. Byte-equal to the HOF chain (the test-scope
  * `HofTwins.labelledCandidates`); the golden suite, the
  * fused==HOF cross-validation tests and the q43 independent-Python
  * oracle all pin it.
  */
private[extract] object GatherCore {

  private[extract] val wsRe = Pattern.compile(TshPatterns.WsRun)
  private[extract] val nlRe = Pattern.compile("\n+")

  private[extract] def toFloat(s: String): java.lang.Double = {
    if (s == null || s.isEmpty) return null
    val cleaned = s.replace(" ", "").replace(" ", "").replace(',', '.')
    try java.lang.Double.valueOf(cleaned)
    catch { case _: NumberFormatException => null }
  }

  private[extract] def adjustRef(raw: String): java.lang.Double = {
    if (raw == null || raw.isEmpty) return null
    if (raw.indexOf(',') >= 0 || raw.indexOf('.') >= 0) return toFloat(raw)
    val digits = raw.filter(Character.isDigit)
    if (digits.isEmpty) return null
    val v = try java.lang.Double.parseDouble(digits)
    catch { case _: NumberFormatException => return null }
    val n = digits.length
    if (n >= 4) v / 1000.0 else if (n == 3) v / 100.0 else v
  }

  // Locale.ROOT: Python str.lower() and Spark's lower() are locale-
  // independent; the JVM default is not (Turkish 'I' -> 'ı' would
  // silently change penalties/gates on such executors).
  private[extract] def lowerRoot(s: String): String =
    s.toLowerCase(java.util.Locale.ROOT)

  private[extract] def penaltyOf(label: String): Int = {
    val l = lowerRoot(label)
    if (l.contains("fallback")) 2
    else if (l.contains("tsh")) 0
    else if (l.contains("thyr")) 1
    else 3
  }

  private[extract] def row(hasRange: Int, penalty: Int, spanStart: Int,
      lineNo: Int, value: Double, unit: String, refMin: java.lang.Double,
      refMax: java.lang.Double, label: String): InternalRow =
    new GenericInternalRow(Array[Any](hasRange, penalty, spanStart, lineNo,
      value, if (unit == null) null else UTF8String.fromString(unit),
      refMin, refMax, UTF8String.fromString(label)))

  /** N1 normalize + N2 split (exactly `TshExtract.linesOf`). */
  private[extract] def linesOf(raw: String): Array[String] =
    nlRe.matcher(
      wsRe.matcher(raw.replace('\r', '\n')).replaceAll(" ")).replaceAll("\n")
      .split("\n", -1)

  /** E1-E6 labelled candidates over the given lines, appended to `out`
    * in line order (`HofTwins.labelledCandidates` semantics).
    */
  private[extract] def labelled(lines: Array[String], labelRe: Pattern,
      numRe: Pattern, rangeRe: Pattern, unitRe: Pattern,
      out: java.util.ArrayList[InternalRow]): Unit = {
    var i = 0
    while (i < lines.length) {
      val line = lines(i)
      val lm = labelRe.matcher(line)
      if (lm.find()) {
        val label = lm.group(0)
        val snippet = line.substring(lm.end())
        val nm = numRe.matcher(snippet)
        if (nm.find()) {
          val value = toFloat(nm.group(0))
          if (value != null) {
            val numEnd = nm.end()
            // E4: unit in 25-char window after the value (Q10)
            val window = snippet.substring(numEnd,
              math.min(snippet.length, numEnd + 25))
            val um = unitRe.matcher(window)
            val unit = if (um.find()) um.group(0) else null
            // E5: range search from the value end (tsh.py:167)
            val rm = rangeRe.matcher(snippet)
            var refMin: java.lang.Double = null
            var refMax: java.lang.Double = null
            if (rm.find(numEnd)) {
              refMin = adjustRef(rm.group(1))
              refMax = adjustRef(rm.group(2))
            }
            val hasRange = if (refMin != null && refMax != null) 0 else 1
            out.add(row(hasRange, penaltyOf(label), lm.start(), i,
              value, unit, refMin, refMax, label))
          }
        }
      }
      i += 1
    }
  }
}

/** Fused generic labelled-analyte gather — the [[AnalyteExtract]]
  * machinery (north_star's "analyte name, value, unit, reference range"
  * surface) as ONE compiled pass per (document, analyte), exactly like
  * [[TshGatherCandidates]] is for TSH. The HOF chain
  * (`HofTwins.labelledCandidates`, test scope) remains the
  * cross-validated twin; q43's oracle checks the fused path against the independent
  * Python implementation.
  */
case class AnalyteGather(child: Expression, labelRe: String, unitRe: String)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.Bridge.ADT] =
    Seq(org.apache.spark.sql.types.StringType)


  override def dataType: DataType = TshGatherCandidates.schema
  override def prettyName: String = "analyte_gather_candidates"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("analyteGather", this)
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) " +
        s"$ref.evalCore($c);"
    })

  @transient private lazy val labelP = Pattern.compile(labelRe)
  @transient private lazy val unitP = Pattern.compile(unitRe)
  @transient private lazy val numP = Pattern.compile(TshPatterns.Num)
  @transient private lazy val rangeP = Pattern.compile(TshPatterns.Range)

  override def nullSafeEval(input: Any): Any =
    evalCore(input.asInstanceOf[UTF8String])

  /** Shared by interpreted eval and generated code (public for janino). */
  def evalCore(input: UTF8String): GenericArrayData = {
    val out = new java.util.ArrayList[InternalRow]()
    GatherCore.labelled(GatherCore.linesOf(input.toString),
      labelP, numP, rangeP, unitP, out)
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object AnalyteGather {
  def of(raw: Column, labelRe: String, unitRe: String): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    // null raw behaves like `_normalize_text(None) -> ''` (empty array)
    Bridge.column(AnalyteGather(Bridge.expression(
      org.apache.spark.sql.functions.coalesce(raw,
        org.apache.spark.sql.functions.lit(""))), labelRe, unitRe))
  }
}

/** Single-pass MULTI-analyte gather: every configured analyte evaluated
  * against ONE normalize+split line walk per document. The per-analyte
  * [[AnalyteGather]] re-runs `GatherCore.linesOf` (the N1 regex
  * normalize + split over the whole text) once per analyte — O(text ·
  * analytes); this pass is O(text + lines · analytes), which at the
  * north_star's "lab-report entities" breadth (tens to hundreds of
  * analytes) is the difference between one and N normalize passes over
  * every document. Returns one candidate array per config, in config
  * order; element i is byte-identical to `AnalyteGather(raw,
  * configs(i))` (pinned by AnalyteSpec, cross-checked by the q43
  * independent-Python oracle through `AnalyteExtract.withEntities`).
  */
case class MultiAnalyteGather(child: Expression, configs: Seq[(String, String)])
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.Bridge.ADT] =
    Seq(org.apache.spark.sql.types.StringType)

  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    TshGatherCandidates.schema, containsNull = false)
  override def prettyName: String = "multi_analyte_gather"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("multiAnalyteGather", this)
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) " +
        s"$ref.evalCore($c);"
    })

  @transient private lazy val labelPs = configs.map(c => Pattern.compile(c._1)).toArray
  @transient private lazy val unitPs = configs.map(c => Pattern.compile(c._2)).toArray
  @transient private lazy val numP = Pattern.compile(TshPatterns.Num)
  @transient private lazy val rangeP = Pattern.compile(TshPatterns.Range)

  override def nullSafeEval(input: Any): Any =
    evalCore(input.asInstanceOf[UTF8String])

  /** Shared by interpreted eval and generated code (public for janino). */
  def evalCore(input: UTF8String): GenericArrayData = {
    val lines = GatherCore.linesOf(input.toString) // ONCE, not per analyte
    val arr = new Array[Any](labelPs.length)
    var i = 0
    while (i < labelPs.length) {
      val out = new java.util.ArrayList[InternalRow]()
      GatherCore.labelled(lines, labelPs(i), numP, rangeP, unitPs(i), out)
      arr(i) = new GenericArrayData(out.toArray)
      i += 1
    }
    new GenericArrayData(arr)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MultiAnalyteGather {
  def of(raw: Column, configs: Seq[(String, String)]): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(MultiAnalyteGather(Bridge.expression(
      org.apache.spark.sql.functions.coalesce(raw,
        org.apache.spark.sql.functions.lit(""))), configs))
  }
}
