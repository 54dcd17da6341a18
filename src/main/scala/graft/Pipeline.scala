package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.analysis.Staging
import graft.extract.{AnalyteExtract, MultiAnalyteGather, SpanAssembly, TshExtract}
import graft.media.{FirstMediaRef, OcrEnginePool, OcrRun, OcrText}
import graft.schema._

/** End-to-end extraction pipeline (SURVEY.md §3.4):
  *
  *   docs scan -> one whole-stage-codegen stage: per-level OCR columns
  *   ([[OcrText]], pooled engine) -> UDF-free Catalyst
  *   parse/select/assemble -> spans
  *
  * Every expression on that path has its own codegen (no
  * `CodegenFallback`, so no lambda HOF): a fallback would cut the stage
  * with a bare projection that generates its code again on every task.
  *
  * The whole thing is map-only: candidates never leave their row (array
  * expressions instead of explode+window), the fallback gate is a row-local
  * conditional instead of an anti-join, and the auto cascade is either a
  * per-row `when` chain (columnar, which also gates each later level's
  * OCR call) or a filter-carry union (iterative) — zero shuffles either
  * way, so throughput scales with partition count alone (the ≥0.8
  * N->4N efficiency target, BASELINE.md). The only shuffle in the module
  * is the opt-in skew path's bounded reassembly.
  *
  * Expression-tree hygiene: every doc-level intermediate (candidate
  * array, best candidate, level result) is materialized as a named
  * column, so downstream references are attribute leaves instead of
  * re-inlined subtrees (CollapseProject keeps multi-referenced non-cheap
  * aliases in their own projection, so this survives optimization).
  */
object Pipeline {

  val Modes = Seq("auto", "light", "premium", "optimum")

  /** Reject unknown modes up front, like the reference's `Literal` mode
    * enum (`app.py:108`) — an unvalidated string would otherwise run as
    * a phantom OCR level and quietly produce TSH_NOT_FOUND everywhere.
    */
  private def requireMode(mode: String): Unit =
    require(Modes.contains(mode),
      s"unknown mode '$mode' (expected one of ${Modes.mkString(", ")})")

  /** raw-text column named `rawCol` -> level-result struct column `out`
    * = (ok, value, unit, ref_min, ref_max, confidence, error, raw_text).
    * Candidates come from the fused native gather (MultiAnalyteGather
    * over `AnalyteExtract.Tsh`, one compiled pass per doc).
    * `reuse = Some((otherRaw, otherOut))` short-circuits the parse when
    * this level's raw text is identical to an already-parsed level's
    * (typical for premium vs optimum: they differ only for docs the
    * binarization rescue actually changes),
    * paying one string compare instead of a reparse. Helper columns
    * (`_cands`, `_best`) are left in place for downstream reuse;
    * callers project them away. A NULL raw text (failed or gated-off
    * level) parses to no candidates at the cost of one empty gather.
    */
  def withLevelResult(df: DataFrame, rawCol: String, out: String,
      reuse: Option[(String, String)] = None): DataFrame = {
    val cands = MultiAnalyteGather.one(col(rawCol), AnalyteExtract.Tsh)
    val gated = reuse match {
      case Some((rRaw, rOut)) =>
        when(col(rawCol) <=> col(rRaw), col(s"${rOut}_cands")).otherwise(cands)
      case None => cands
    }
    df.withColumn(s"${out}_cands", gated)
      .withColumn(s"${out}_best", TshExtract.best(col(s"${out}_cands")))
      .withColumn(out, TshExtract.levelResult(col(rawCol), col(s"${out}_best")))
  }

  /** OCR all three levels per doc in one pooled-engine pass, boxes
    * included: the audit/QC surface (box statistics, fixture dumps).
    * The extraction paths OCR through [[OcrText]] columns instead and
    * never pay a level the cascade does not reach.
    */
  def ocrAll(docs: Dataset[DocRow]): Dataset[DocOcrAll] = {
    import docs.sparkSession.implicits._
    docs.mapPartitions { it =>
      val eng = OcrEnginePool.engine
      it.map { d =>
        val l = OcrRun.ocrDoc(eng, "light", d.spans)
        val p = OcrRun.ocrDoc(eng, "premium", d.spans)
        val o = OcrRun.ocrDoc(eng, "optimum", d.spans)
        DocOcrAll(d.doc_id, OcrRun.firstMediaRef(d.spans),
          l.rawText, p.rawText, p.boxes, o.rawText, o.boxes)
      }
    }
  }

  /** `docs` with `first_media_ref` staged: the map-only input of every
    * [[OcrText]] level column (no typed round-trip).
    */
  private def ocrInput(docs: Dataset[DocRow]): DataFrame =
    docs.toDF().withColumn("first_media_ref", FirstMediaRef.of(col("spans")))

  private def ocrText(level: String): Column = OcrText.of(col("spans"), level)

  /** All three level results r_l / r_p / r_o of `df`, each level's raw
    * text staged as `<level>_raw` from `raw(level)`. A later level's raw
    * text sits behind a CASE gate on the earlier levels' acceptance, and
    * CASE branches evaluate lazily: a doc light accepts never reaches
    * premium or optimum OCR — the reference's early exit
    * (`app.py:153-189`) with no persist, union or join. A gated-off
    * level reads NULL (an empty parse); the cascade never reads it.
    */
  private def autoStaged(df: DataFrame, raw: String => Column): DataFrame = {
    val nullRaw = lit(null).cast("string")
    val d1 = withLevelResult(df.withColumn("light_raw", raw("light")), "light_raw", "r_l")
    val accL = TshExtract.acceptWithRange(col("r_l"))
    val d2 = withLevelResult(
      d1.withColumn("premium_raw", when(accL, nullRaw).otherwise(raw("premium"))),
      "premium_raw", "r_p", reuse = Some(("light_raw", "r_l")))
    val accP = TshExtract.acceptWithRange(col("r_p"))
    withLevelResult(
      d2.withColumn("optimum_raw", when(accL || accP, nullRaw).otherwise(raw("optimum"))),
      "optimum_raw", "r_o", reuse = Some(("premium_raw", "r_p")))
  }

  /** Audit metric: which cascade level resolves each doc (`app.py`
    * acceptance order) — the realized level mix of auto mode.
    */
  def levelMix(docs: Dataset[DocRow]): DataFrame =
    autoStaged(ocrInput(docs), ocrText)
      .withColumn("resolved_level",
        when(TshExtract.acceptWithRange(col("r_l")), "light")
          .when(TshExtract.acceptWithRange(col("r_p")), "premium")
          .when(col("r_o")("ok"), "optimum")
          .otherwise("failed"))
      .groupBy("resolved_level").agg(count(lit(1)).as("n_docs"))

  /** (doc_id, first_media_ref, result struct `r`) for one explicit mode
    * or the columnar auto cascade.
    */
  def results(docs: Dataset[DocRow], mode: String): DataFrame = {
    requireMode(mode)
    mode match {
      case "auto" =>
        autoStaged(ocrInput(docs), ocrText)
          .withColumn("r",
            TshExtract.cascadeAuto(col("r_l"), col("r_p"), col("r_o")))
          .select("doc_id", "first_media_ref", "r")
      case level =>
        withLevelResult(ocrInput(docs).withColumn("raw", ocrText(level)), "raw", "r")
          .select("doc_id", "first_media_ref", "r")
    }
  }

  /** Iterative auto cascade (SURVEY.md §2.4.1 option 2): each level's
    * [[OcrText]] column runs only over the docs the earlier levels left
    * pending. Join-free: pending rows carry their spans forward, so each
    * stage is filter + projection. The light and premium outputs each
    * have two consumers (accepted / pending), so each goes through the
    * in-memory [[Staging]] barrier, which computes it once, when
    * called. Reached through `extract(..., iterative = true)`; it makes
    * the same OCR calls as the columnar cascade's gates.
    */
  private def resultsAutoIterative(docs: Dataset[DocRow]): DataFrame = {
    val carry = Seq("doc_id", "first_media_ref", "spans").map(col)
    def stage(in: DataFrame, level: String): DataFrame =
      withLevelResult(in.withColumn("raw", ocrText(level)), "raw", "r")
        .select(carry :+ col("r"): _*)
    def staged(in: DataFrame, level: String): DataFrame =
      Staging.materialize(stage(in, level), None, s"ocr_$level")
    def pending(s: DataFrame): DataFrame =
      s.filter(!TshExtract.acceptWithRange(col("r"))).select(carry: _*)
    val s1 = staged(ocrInput(docs), "light")
    val s2 = staged(pending(s1), "premium")
    // optimum: accepted if parsed at all; otherwise the failure row keeps
    // optimum's error/raw_text (`app.py:179-196`)
    val o = col("r")
    val s3 = stage(pending(s2), "optimum")
      .withColumn("r", when(o("ok"), o).otherwise(TshExtract.failure(o("error"), o("raw_text"))))

    val sel = Seq("doc_id", "first_media_ref", "r").map(col)
    s1.filter(TshExtract.acceptWithRange(col("r"))).select(sel: _*)
      .unionByName(s2.filter(TshExtract.acceptWithRange(col("r"))).select(sel: _*))
      .unionByName(s3.select(sel: _*))
  }

  /** Final output: (doc_id, spans array<struct<kind,text,media_ref,order>>).
    * Lazy, except `iterative = true` in auto mode: that encoding runs
    * its light and premium levels (two jobs) when called.
    */
  def extract(docs: Dataset[DocRow], mode: String,
      iterative: Boolean = false): DataFrame = {
    val res =
      if (mode == "auto" && iterative) resultsAutoIterative(docs)
      else results(docs, mode)
    res.select(col("doc_id"),
      SpanAssembly.assemble(col("r"), col("first_media_ref")).as("spans"))
  }

  /** Exploded row-per-span form: (doc_id, kind, text, media_ref, order).
    * explode_outer, not explode: the span array is never empty (a marker
    * span is always emitted), and plain explode makes the optimizer
    * infer a `size(spans) > 0` Filter (InferFiltersFromGenerate) that,
    * once pushed below the projection chain, re-inlines the whole
    * assembly expression tree — a ~500k-node filter evaluated per row.
    */
  def extractRows(docs: Dataset[DocRow], mode: String,
      iterative: Boolean = false): DataFrame =
    extract(docs, mode, iterative)
      .select(col("doc_id"), explode_outer(col("spans")).as("s"))
      .select(col("doc_id"), col("s.kind"), col("s.text"),
        col("s.media_ref"), col("s.order"))

  /** Media-span count above which [[extractSkewAware]] routes a doc
    * through the page-exploded path. Normal docs have at most 3 media
    * spans and oversized multi-page PDFs 50-200 (`Corpus.spanKinds`),
    * so any value in between routes the same docs.
    */
  val SkewMediaSpans = 16

  /** Skew-aware variant (SURVEY.md §4.8): docs with more than
    * [[SkewMediaSpans]] media spans (oversized multi-page PDFs) have
    * their spans exploded to rows, hashed across the cluster, OCR'd per
    * page, and re-assembled with one bounded groupBy — so one monster
    * doc cannot pin a task. Normal docs take the map-only path; results
    * are unioned. Only the requested mode's levels are OCR'd: an
    * explicit `light` run pays ONE ocrPage call per heavy-doc page, not
    * three. In auto mode the heavy per-page stage still OCRs all three
    * levels (a page cannot see its doc's light verdict before the
    * reassembly); only the normal docs' map-only path exits early.
    */
  def extractSkewAware(docs: Dataset[DocRow], mode: String): DataFrame = {
    requireMode(mode)
    import docs.sparkSession.implicits._
    val spark = docs.sparkSession
    val neededLevels = if (mode == "auto") OcrText.Levels else Seq(mode)
    val withCount = docs
      .withColumn("n_media", size(filter(col("spans"), s => s("kind") === lit("media"))))
    val normal = withCount.filter(col("n_media") <= SkewMediaSpans)
      .select(col("doc_id"), col("spans")).as[DocRow]

    // one row per (doc, span), spread by (doc_id, offset); the doc's
    // first_media_ref rides along as part of the reassembly key
    val perSpan = withCount.filter(col("n_media") > SkewMediaSpans)
      .select(col("doc_id"), FirstMediaRef.of(col("spans")).as("first_media_ref"),
        explode_outer(col("spans")).as("span"))
      .repartition(spark.sessionState.conf.numShufflePartitions,
        col("doc_id"), col("span.offset"))
    // heavy docs carry box COUNTS only (the failure rule's requirement)
    // — shuffling a 200-page doc's full box structs would defeat the
    // bounded-shuffle point; box content for QC is available via ocrAll.
    // Only a blank page's count can decide a level's failure (the rule
    // reads boxes only when the doc's whole text is blank), so a page
    // with text carries 0 and its boxes are never read
    val ocrd = perSpan.as[(String, String, DocSpan)].mapPartitions { it =>
      val eng = OcrEnginePool.engine
      it.map { case (docId, firstRef, s) =>
        val parts = neededLevels.map { lv =>
          val (text, boxes) = OcrRun.spanPart(eng, lv, s)
          (text, if (OcrRun.blank(text)) boxes.length else 0)
        }
        (docId, firstRef, s.offset, parts.map(_._1), parts.map(_._2))
      }
    }.toDF("doc_id", "first_media_ref", "offset", "texts", "n_boxes")

    // the one (bounded, balanced) shuffle: reassemble per-doc raw texts
    val assembled = ocrd.groupBy(col("doc_id"), col("first_media_ref"))
      .agg(collect_list(struct(col("offset"), col("texts"), col("n_boxes"))).as("parts"))
      .as[(String, String, Seq[(Int, Seq[String], Seq[Int])])]
      .map { case (docId, firstRef, parts) =>
        (docId, firstRef, neededLevels.indices.map { li =>
          OcrRun.docText(neededLevels(li), parts.map(p => (p._1, p._2(li), p._3(li)))).orNull
        })
      }.toDF("doc_id", "first_media_ref", "raws")
      .select(col("doc_id") +: col("first_media_ref") +:
        neededLevels.zipWithIndex.map { case (lv, li) =>
          col("raws")(li).as(s"${lv}_raw")
        }: _*)

    val heavyRes = mode match {
      case "auto" =>
        autoStaged(assembled, lv => col(s"${lv}_raw")).withColumn("r",
          TshExtract.cascadeAuto(col("r_l"), col("r_p"), col("r_o")))
      case lv =>
        withLevelResult(assembled, s"${lv}_raw", "r")
    }
    val heavyOut = heavyRes.select(col("doc_id"),
      SpanAssembly.assemble(col("r"), col("first_media_ref")).as("spans"))
    extract(normal, mode).unionByName(heavyOut)
  }
}
