package graft.extract

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TshPatterns.UnitLabelled

/** One extractable lab-report entity: a label alternation and a unit
  * alternation plug into the shared labelled-line machinery
  * (label gate -> snippet -> first number -> 25-char unit window ->
  * range-after-value -> best-by-(has_range, penalty, span_start,
  * line_no)). TSH is the reference-derived instance; the others cover
  * the north_star's generic "analyte name, value, unit, reference
  * range" surface over the same corpus.
  *
  * `muiFallback` adds the reference's unit-anchored mUI fallback phase
  * (`parsers/tsh.py:189-239,259-264`) for documents where the label
  * finds nothing; only TSH has one.
  */
final case class AnalyteConfig(name: String, label: String, unit: String,
    muiFallback: Boolean = false)

/** Generic analyte extraction (north_star: "regex/finite-state field
  * extraction for lab-report entities — analyte name, value, unit,
  * reference range, date"). Every analyte, TSH included, goes through
  * the one compiled [[MultiAnalyteGather]] (TSH is the instance with the
  * reference's patterns, `parsers/tsh.py:101-124,157-161`); everything
  * stays UDF-free, so multi-analyte extraction is still one map-side
  * projection per document.
  */
object AnalyteExtract {
  import TshExtract.best

  // ---- standard configs over the corpus' secondary analyte lines ---------
  /** The single definition of TSH's patterns; the TSH cascade
    * (`Pipeline.withLevelResult`) and the SQL `tsh_gather_candidates`
    * gather with it.
    */
  val Tsh = AnalyteConfig("tsh", TshPatterns.Label, UnitLabelled,
    muiFallback = true)
  val Glycemia = AnalyteConfig("glycemia",
    "(?iU)glyc[ée]mie", "(?iU)(?:g ?/?L|mmol/?L)")
  val Hemoglobin = AnalyteConfig("hemoglobin",
    "(?iU)h[ée]moglobine", "(?iU)g ?/?dL")
  val Creatinine = AnalyteConfig("creatinine",
    "(?iU)cr[ée]atinine", "(?iU)µ?mol/?L")
  val Cholesterol = AnalyteConfig("cholesterol",
    "(?iU)cholest[ée]rol", "(?iU)g ?/?L")
  val Secondary: Seq[AnalyteConfig] =
    Seq(Glycemia, Hemoglobin, Creatinine, Cholesterol)

  /** Adds `out` = array<struct<analyte,value,unit,ref_min,ref_max>>:
    * the best candidate per configured analyte found in `rawCol`.
    * Intermediates are materialized as named columns (`${out}_*`) so
    * multi-analyte extraction does not re-inline the candidate chains
    * (Column-tree hygiene, see Pipeline); callers project them away.
    * ONE compiled [[MultiAnalyteGather]] pass per document evaluates
    * every config against a single walk over the text's UTF-8 lines; the q43
    * oracle checks the output against the independent Python
    * implementation, and AnalyteSpec pins the gather == the test-scope
    * HOF twin and N configs in one pass == one pass per config.
    */
  def withEntities(df: DataFrame, rawCol: String, out: String,
      cfgs: Seq[AnalyteConfig] = Secondary): DataFrame = {
    val base = df.withColumn(s"${out}_all",
      MultiAnalyteGather.of(col(rawCol), cfgs))
    val staged = cfgs.zipWithIndex.foldLeft(base) { case (d, (cfg, ix)) =>
      d.withColumn(s"${out}_${cfg.name}_cands", get(col(s"${out}_all"), lit(ix)))
        .withColumn(s"${out}_${cfg.name}_best",
          best(col(s"${out}_${cfg.name}_cands")))
    }
    // an absent analyte contributes an empty array: no lambda, so the
    // projection stays inside whole-stage codegen (a `filter` of the
    // NULLs is the test-scope twin, HofTwins.entitiesByFilter)
    staged.withColumn(out, concat(cfgs.map { cfg =>
      array_repeat(entity(out, cfg),
        when(col(s"${out}_${cfg.name}_best").isNotNull, 1).otherwise(0))
    }: _*))
  }

  /** One analyte's entity struct from its staged best candidate, NULL
    * when the analyte is absent.
    */
  private[graft] def entity(out: String, cfg: AnalyteConfig): Column = {
    val b = col(s"${out}_${cfg.name}_best")
    when(b.isNotNull, struct(lit(cfg.name).as("analyte"),
      b("value").as("value"), b("unit").as("unit"),
      b("ref_min").as("ref_min"), b("ref_max").as("ref_max")))
  }

  /** French lab-report date `dd/MM/yyyy`, shape-validated: day 1-31,
    * month 1-12 (a looser [01]?\d month would accept 13-19 and 00 and
    * normalize them into invalid ISO strings on real text). Mirrored in
    * fixtures/gen_analyte_expected.py — change BOTH and regenerate
    * expected_dates.parquet.
    */
  val DateRe = """(?U)\b(0?[1-9]|[12]\d|3[01])/(0?[1-9]|1[0-2])/(20\d\d)\b"""

  /** First report date in the text, normalized to ISO `yyyy-MM-dd`
    * (string-level — no timezone/calendar semantics to diverge on).
    * Null when the text carries no date (e.g. light/premium crops drop
    * the page header).
    */
  def reportDateIso(raw: Column): Column =
    when(regexp_instr(coalesce(raw, lit("")), lit(DateRe)) > 0,
      concat(regexp_extract(raw, DateRe, 3), lit("-"),
        lpad(regexp_extract(raw, DateRe, 2), 2, "0"), lit("-"),
        lpad(regexp_extract(raw, DateRe, 1), 2, "0")))
}
