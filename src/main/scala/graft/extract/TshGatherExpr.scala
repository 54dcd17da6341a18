package graft.extract

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused single-pass candidate gather as a native Catalyst Expression —
  * the performance path for G1 (`parsers/tsh.py:246-266`). Semantics are
  * identical to the expression-chain form (the test-scope twins
  * `HofTwins.tshLabelledCandidates` / `fallbackCandidates` /
  * `gatherCandidates`); the golden suite and the line oracles run both. This is preference order (b)
  * of SURVEY.md §7.5: a custom Expression (not a UDF) fusing the
  * ~10-regex-op per-line chain into one compiled pass — one matcher walk
  * per pattern, no intermediate arrays/strings — because the interpreted
  * HOF chain is allocation-bound and stops scaling with cores.
  *
  * Replicates, 1:1 with the reference:
  *  - N1 `_normalize_text` (tsh.py:37-44), N2 line split (tsh.py:248)
  *  - E1 gate (tsh.py:252-253; a single label search — the "thyr"
  *    branch is net-inert since E2 re-requires the label)
  *  - E2-E6 `_extract_tsh_from_labelled_line` (tsh.py:131-182)
  *  - E7-E11 `_extract_tsh_from_mui_line` (tsh.py:189-239), only for
  *    docs with zero labelled candidates (two-phase gather)
  *  - N3 `_to_float` (tsh.py:47-57), N4 `_adjust_ref_value` (tsh.py:59-93)
  * Output rows carry the (has_range, penalty, span_start, line_no) sort
  * key (G2/G3 + quirk Q7).
  */
case class TshGatherCandidates(child: Expression)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.Bridge.ADT] =
    Seq(StringType)


  override def dataType: DataType = TshGatherCandidates.schema
  override def prettyName: String = "tsh_gather_candidates"

  /** Real codegen, not CodegenFallback: the fallback would evaluate the
    * WHOLE subtree (child included) interpreted; this keeps the child
    * inside whole-stage codegen and hands its unboxed UTF8String to the
    * compiled gather core.
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("tshGather", this)
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) " +
        s"$ref.evalCore($c);"
    })

  @transient private lazy val labelRe = Pattern.compile(TshPatterns.Label)
  @transient private lazy val numRe = Pattern.compile(TshPatterns.Num)
  @transient private lazy val rangeRe = Pattern.compile(TshPatterns.Range)
  @transient private lazy val unitLblRe = Pattern.compile(TshPatterns.UnitLabelled)
  @transient private lazy val unitFbRe = Pattern.compile(TshPatterns.UnitFallback)

  import GatherCore.{adjustRef, lowerRoot, row, toFloat}

  override def nullSafeEval(input: Any): Any =
    evalCore(input.asInstanceOf[UTF8String])

  /** Shared by the interpreted path and generated code (public: called
    * from janino-compiled classes).
    */
  def evalCore(input: UTF8String): GenericArrayData = {
    // N1 normalize + N2 split + phase 1 (E1-E6) live in GatherCore —
    // shared verbatim with the generic AnalyteGather expression
    val lines = GatherCore.linesOf(input.toString)
    val out = new java.util.ArrayList[InternalRow]()
    GatherCore.labelled(lines, labelRe, numRe, rangeRe, unitLblRe, out)

    // phase 2: fallback only if no labelled candidate (tsh.py:259-264)
    if (out.isEmpty) {
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
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TshGatherCandidates {
  /** Must stay field-compatible with TshExtract's candidate struct. */
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

  def gather(raw: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    // coalesce like N1 `_normalize_text` does (tsh.py:39-40): a null raw
    // yields an empty candidate array, same as the HOF chain
    Bridge.column(TshGatherCandidates(Bridge.expression(
      org.apache.spark.sql.functions.coalesce(raw,
        org.apache.spark.sql.functions.lit("")))))
  }
}
