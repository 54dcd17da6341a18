package graft.schema

/** Data model of the extraction engine (SURVEY.md §1).
  *
  * Input table shape follows BASELINE.json `input_hint` exactly:
  * `(doc_id: string, spans: array<struct<kind,text,media_ref,offset>>)`,
  * the Iceberg-shaped corpus of interleaved text + media documents.
  */
final case class DocSpan(kind: String, text: String, media_ref: String, offset: Int)

final case class DocRow(doc_id: String, spans: Seq[DocSpan])

/** Output span vocabulary — SURVEY.md §1.3. `order` = emission order. */
final case class OutSpan(kind: String, text: String, media_ref: String, order: Int)

/** OCR token box — reference `ocr_engine.py:88-97` dict shape.
  * Computed but never read by the parser (quirk Q1, SURVEY.md §2.3);
  * kept for the audit/metrics surface and the both-empty failure rule.
  */
final case class OcrBox(text: String, left: Int, top: Int, width: Int, height: Int, conf: Double)

/** One OCR level's outcome for one document.
  * `rawText = None` encodes the reference's `extract_text -> None`
  * (OCR_FAILED, `app.py:91-92`): light fails on blank text
  * (`ocr_engine.py:142-144`), premium/optimum only when text AND boxes
  * are both empty (`ocr_engine.py:197-199,266-268`).
  * `boxes` carries the full token boxes (`ocr_engine.py:88-97`) — the
  * parser never reads them (quirk Q1) but the audit/QC surface does.
  */
final case class LevelOcr(rawText: Option[String], boxes: Seq[OcrBox])

/** Per-document OCR output for all three levels, boxes included — the
  * audit/QC surface of `Pipeline.ocrAll` (the extraction paths OCR
  * through `OcrText` columns and never build this row).
  * `first_media_ref` = media_ref of the first media span in offset order
  * ("" if the doc has no media spans); it tags the raw_text output span.
  * Box content (not just a count) is carried per `ocr_engine.py:88-97`;
  * Catalyst prunes the box columns from any plan that doesn't read them
  * (a parse over these raw texts doesn't — quirk Q1).
  */
final case class DocOcrAll(
    doc_id: String,
    first_media_ref: String,
    light_raw: Option[String],
    premium_raw: Option[String],
    premium_boxes: Seq[OcrBox],
    optimum_raw: Option[String],
    optimum_boxes: Seq[OcrBox])
