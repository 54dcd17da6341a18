package graft.extract

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Coalesce, Expression, GetArrayItem, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Shared compiled core of the candidate gather — the single place the
  * N1/N3/N4/E1-E11 JVM semantics live, run by [[MultiAnalyteGather]].
  * Byte-equal to the HOF chain (the test-scope
  * `HofTwins.labelledCandidates` / `fallbackCandidates`); the golden
  * suite, the fused==HOF cross-validation tests and the q43
  * independent-Python oracle all pin it.
  */
private[extract] object GatherCore {

  private val wsRe = Pattern.compile(TshPatterns.WsRun)
  private val nlRe = Pattern.compile("\n+")

  private def toFloat(s: String): java.lang.Double = {
    if (s == null || s.isEmpty) return null
    val cleaned = s.replace(" ", "").replace(" ", "").replace(',', '.')
    try java.lang.Double.valueOf(cleaned)
    catch { case _: NumberFormatException => null }
  }

  private def adjustRef(raw: String): java.lang.Double = {
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
  private def lowerRoot(s: String): String =
    s.toLowerCase(java.util.Locale.ROOT)

  private def penaltyOf(label: String): Int = {
    val l = lowerRoot(label)
    if (l.contains("fallback")) 2
    else if (l.contains("tsh")) 0
    else if (l.contains("thyr")) 1
    else 3
  }

  private def row(hasRange: Int, penalty: Int, spanStart: Int,
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

  /** E7-E11 `_extract_tsh_from_mui_line` (tsh.py:189-239) over every
    * line, appended to `out`: the unit-anchored fallback phase, which
    * the reference runs only for docs with zero labelled candidates
    * (tsh.py:259-264; `HofTwins.fallbackCandidates` semantics).
    */
  private[extract] def muiFallback(lines: Array[String], numRe: Pattern,
      rangeRe: Pattern, unitFbRe: Pattern,
      out: java.util.ArrayList[InternalRow]): Unit = {
    var j = 0
    while (j < lines.length) {
      val line = lines(j)
      val low = lowerRoot(line)
      if (low.contains("mui") || low.contains("ui/l")) {
        val um = unitFbRe.matcher(line)
        if (um.find()) {
          val unit = um.group(0)
          val before = line.substring(0, um.start())
          val after = line.substring(um.end())
          // E9: LAST number before the unit (Q8)
          val nm = numRe.matcher(before)
          var lastNum: String = null
          while (nm.find()) lastNum = nm.group(0)
          val value = toFloat(lastNum)
          if (value != null) {
            val rm = rangeRe.matcher(after)
            var refMin: java.lang.Double = null
            var refMax: java.lang.Double = null
            if (rm.find()) {
              refMin = adjustRef(rm.group(1))
              refMax = adjustRef(rm.group(2))
            }
            val hasRange = if (refMin != null && refMax != null) 0 else 1
            out.add(row(hasRange, 2, 0, j, value, unit, refMin, refMax,
              TshPatterns.FallbackLabel))
          }
        }
      }
      j += 1
    }
  }
}

/** The candidate gather (G1, `parsers/tsh.py:246-266`) as ONE native
  * Catalyst Expression for TSH and every analyte: each configured
  * analyte is evaluated against a single normalize+split line walk per
  * document (O(text + lines · analytes), where one pass per analyte
  * would re-run the N1 regex normalize per analyte). This is preference
  * order (b) of SURVEY.md §7.5: a custom Expression (not a UDF) fusing
  * the ~10-regex-op per-line chain into one compiled pass, because the
  * interpreted HOF chain is allocation-bound and stops scaling with
  * cores.
  *
  * Returns one candidate array per config, in config order. Per config,
  * 1:1 with the reference:
  *  - N1 `_normalize_text` (tsh.py:37-44), N2 line split (tsh.py:248)
  *  - E1 gate + E2-E6 `_extract_tsh_from_labelled_line` (tsh.py:131-182)
  *    with the config's label/unit patterns
  *  - E7-E11 `_extract_tsh_from_mui_line` (tsh.py:189-239) when the
  *    config sets `muiFallback` and found zero labelled candidates
  *  - N3 `_to_float` (tsh.py:47-57), N4 `_adjust_ref_value` (tsh.py:59-93)
  * Candidate rows carry the (has_range, penalty, span_start, line_no)
  * sort key (G2/G3 + quirk Q7). Pinned against the test-scope HOF twins
  * (GoldenSpec, AnalyteSpec, PropertySpec), and through
  * `AnalyteExtract.withEntities` against the q43 independent-Python
  * oracle.
  */
case class MultiAnalyteGather(child: Expression, configs: Seq[AnalyteConfig])
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  override def inputTypes: Seq[Bridge.ADT] = Seq(StringType)

  override def dataType: DataType =
    ArrayType(MultiAnalyteGather.schema, containsNull = false)
  override def prettyName: String = "multi_analyte_gather"
  // plan strings name the configs instead of printing their regexes
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, configs.map(_.name).mkString("[", ", ", "]"))

  /** Real codegen, not CodegenFallback: the fallback would evaluate the
    * WHOLE subtree (child included) interpreted; this keeps the child
    * inside whole-stage codegen and hands its unboxed UTF8String to the
    * compiled gather core.
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("multiAnalyteGather", this)
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) " +
        s"$ref.evalCore($c);"
    })

  @transient private lazy val labelPs = configs.map(c => Pattern.compile(c.label)).toArray
  @transient private lazy val unitPs = configs.map(c => Pattern.compile(c.unit)).toArray
  @transient private lazy val fallbacks = configs.map(_.muiFallback).toArray
  @transient private lazy val numP = Pattern.compile(TshPatterns.Num)
  @transient private lazy val rangeP = Pattern.compile(TshPatterns.Range)
  @transient private lazy val unitFbP = Pattern.compile(TshPatterns.UnitFallback)

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
      // two-phase gather: fallback only if no labelled candidate
      if (fallbacks(i) && out.isEmpty)
        GatherCore.muiFallback(lines, numP, rangeP, unitFbP, out)
      arr(i) = new GenericArrayData(out.toArray)
      i += 1
    }
    new GenericArrayData(arr)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MultiAnalyteGather {
  /** One config's candidate array; the struct field order is the sort key. */
  val schema: DataType = ArrayType(StructType(Seq(
    StructField("has_range", IntegerType, nullable = false),
    StructField("penalty", IntegerType, nullable = false),
    StructField("span_start", IntegerType, nullable = false),
    StructField("line_no", IntegerType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("unit", StringType, nullable = true),
    StructField("ref_min", DoubleType, nullable = true),
    StructField("ref_max", DoubleType, nullable = true),
    StructField("label", StringType, nullable = false))), containsNull = false)

  // coalesce like N1 `_normalize_text` does (tsh.py:39-40): a null raw
  // yields empty candidate arrays, same as the HOF chain
  private def gather(raw: Expression, configs: Seq[AnalyteConfig]): Expression =
    MultiAnalyteGather(Coalesce(Seq(raw, Literal(""))), configs)

  def of(raw: Column, configs: Seq[AnalyteConfig]): Column =
    Bridge.column(gather(Bridge.expression(raw), configs))

  /** One config's candidates: element 0 of the gather over `Seq(cfg)`.
    * The DataFrame path and the SQL functions build this same form.
    */
  def one(raw: Expression, cfg: AnalyteConfig): Expression =
    GetArrayItem(gather(raw, Seq(cfg)), Literal(0))

  def one(raw: Column, cfg: AnalyteConfig): Column =
    Bridge.column(one(Bridge.expression(raw), cfg))
}
