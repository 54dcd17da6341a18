package graft.extract

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import TshPatterns._

/** The Column-level TSH parse helpers around the fused candidate gather
  * (SURVEY.md §2.5-2.7).
  *
  * Candidates come from [[MultiAnalyteGather]] with the
  * `AnalyteExtract.Tsh` config (one compiled pass per document);
  * everything here is built from built-in expressions with their own
  * codegen, so the rest of a document's parse — best-pick, level-result
  * assembly, the auto cascade — runs inside the flagship's one
  * whole-stage-codegen stage: no UDF, no lambda, no explode, no
  * shuffle. Best-pick is an `array_min` over the candidate structs,
  * whose leading fields are the reference's sort key
  * `(has_range, label_penalty, span_start)` plus the `line_no` tiebreak
  * that replaces Python's stable sort (quirk Q7,
  * `parsers/tsh.py:295-301`).
  *
  * Callers must materialize the doc-level intermediates (candidate
  * array, best struct, level result) as named columns — naive Column
  * composition re-inlines whole subtrees at every reference; see
  * Pipeline. The UDF-free expression-chain twin of the gather is a
  * test-scope oracle (`graft.extract.HofTwins`).
  */
object TshExtract {

  private val nullD = lit(null).cast(DoubleType)
  private val nullS = lit(null).cast("string")

  /** N1 — `_normalize_text` (`parsers/tsh.py:37-44`). */
  def normalize(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(coalesce(c, lit("")), "\r", "\n"),
        WsRun, " "),
      "\n+", "\n")

  /** N3 — `_to_float` (`parsers/tsh.py:47-57`): strip spaces AND NBSP (reference `_to_float`, tsh.py:51),
    * comma->dot, parse-or-null. Inputs in the pipeline are always NUM
    * matches, so a shape-guarded plain cast is exact (and ANSI-safe).
    */
  def toFloat(c: Column): Column = {
    val cleaned = regexp_replace(translate(c, "  ", ""), ",", ".")
    when(c.isNull || c === "", nullD)
      .when(cleaned.rlike(FloatShape), cleaned.cast(DoubleType))
      .otherwise(nullD)
  }

  /** N4 — `_adjust_ref_value` (`parsers/tsh.py:59-93`): lossy OCR repair
    * applied only to ref bounds (quirk Q5): "027"->0.27, "494"->4.94,
    * "4000"->4.0. The sign is dropped on the digits path, exactly like
    * the reference's digit-join.
    */
  def adjustRefValue(c: Column): Column = {
    val digits = regexp_replace(c, "[^0-9]", "")
    val dval = digits.cast(DoubleType) // digits-only, never fails
    when(c.isNull || c === "", nullD)
      .when(c.contains(",") || c.contains("."), toFloat(c))
      .when(digits === "", nullD)
      .when(length(digits) >= 4, dval / 1000.0)
      .when(length(digits) === 3, dval / 100.0)
      .otherwise(dval)
  }

  /** G3 — best-pick: min by (has_range, penalty, span_start, line_no) —
    * the leading struct fields, so the struct ordering is the comparator.
    * `array_min` skips NULL elements, is NULL for an empty or NULL
    * array and keeps the first of equal elements: the head of a stable
    * sort (the test-scope twin `HofTwins.bestBySort`).
    */
  def best(cands: Column): Column = array_min(cands)

  /** G4/G5/C1 — level result from a (nullable) raw text and its
    * materialized best candidate: replicates `premium_parse_tsh`
    * assembly (`parsers/tsh.py:320-342`) + `_run_and_parse`
    * (`app.py:74-98`). Output struct:
    * (ok, value, unit, ref_min, ref_max, confidence, error, raw_text).
    * OCR failure (raw null) -> error=OCR_FAILED, raw_text null
    * (`app.py:92`); parse failure keeps raw_text (`app.py:96`, Q9).
    * Both `raw` and `bestC` must be leaf column references.
    */
  def levelResult(raw: Column, bestC: Column): Column = {
    val confidence =
      when(bestC("ref_min").isNotNull && bestC("ref_max").isNotNull, "high")
        // the label lowercases to a "fallback" one exactly when the
        // gather gave it penalty 2 (`GatherCore.penaltyOf`)
        .when(bestC("penalty") === 2, "low")
        .otherwise("medium") // `parsers/tsh.py:327-332`
    when(raw.isNull, failure(lit("OCR_FAILED"), nullS))
      .when(bestC.isNull, failure(lit("TSH_NOT_FOUND"), raw))
      .otherwise(
        struct(lit(true).as("ok"), bestC("value").as("value"),
          bestC("unit").as("unit"), bestC("ref_min").as("ref_min"),
          bestC("ref_max").as("ref_max"), confidence.as("confidence"),
          nullS.as("error"), raw.as("raw_text")))
  }

  /** The `ok = false` result struct (`app.py:92,96,192-196`); a NULL
    * `error` reads TSH_NOT_FOUND.
    */
  def failure(error: Column, rawText: Column): Column =
    struct(lit(false).as("ok"), nullD.as("value"), nullS.as("unit"),
      nullD.as("ref_min"), nullD.as("ref_max"), nullS.as("confidence"),
      coalesce(error, lit("TSH_NOT_FOUND")).as("error"),
      rawText.as("raw_text"))

  /** C3 acceptance for light/premium in auto mode (`app.py:154,167`):
    * parsed ok AND at least one ref bound.
    */
  def acceptWithRange(r: Column): Column =
    r("ok") && !(r("ref_min").isNull && r("ref_max").isNull)

  /** C3 — the full auto cascade, columnar encoding (SURVEY.md §2.4.1
    * option 1): light -> premium -> optimum; optimum accepted if parsed
    * at all (`app.py:180`); total failure keeps the LAST level's error
    * and raw_text (`app.py:192-196`, quirk Q9) — and drops any earlier
    * partial success (quirk Q2). Arguments must be leaf columns.
    */
  def cascadeAuto(light: Column, premium: Column, optimum: Column): Column =
    when(acceptWithRange(light), light)
      .when(acceptWithRange(premium), premium)
      .when(optimum("ok"), optimum)
      .otherwise(failure(optimum("error"), optimum("raw_text")))
}
