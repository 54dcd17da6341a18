package graft.media

import scala.collection.immutable.{AbstractSeq, ArraySeq}

import graft.corpus.{Corpus, Det}
import graft.schema.{DocSpan, LevelOcr, OcrBox}

/** Boundary to the opaque media/OCR stack (reference `ocr_engine.py`).
  *
  * A real deployment binds a Tesseract (or ML OCR) engine here; this
  * sandbox has no media libraries, so the production impl is represented
  * by [[SimulatedOcr]] — a deterministic pure function of
  * (level, media_ref) per FIXTURES.md §3. The Spark-side plumbing
  * (pooling, mapPartitions batching, failure semantics) is identical for
  * both and is what the pipeline tests exercise.
  */
trait OcrEngine extends Serializable {
  /** OCR one media payload at one level. Returns (raw page text, boxes).
    * Never throws: the reference degrades per step
    * (`ocr_engine.py:127-132,171-177,182-195,243-246`) and only the
    * caller decides whether an empty result means level failure.
    */
  def ocrPage(level: String, mediaRef: String): (String, Seq[OcrBox])
}

/** Deterministic stand-in for the Tesseract stack (FIXTURES.md §3).
  *
  * Per level (mirroring `ocr_engine.py`):
  *  - light   (`ocr_engine.py:108-146`): `preprocess_for_bio` bottom-65%
  *    crop analog (`ocr_engine.py:39`), text only, no boxes;
  *  - premium (`ocr_engine.py:153-201`): SAME `preprocess_for_bio` crop
  *    (`ocr_engine.py:171-177` calls it too — premium is light + boxes
  *    + the weaker both-empty failure rule, NOT a wider view), one box
  *    per whitespace token;
  *  - optimum (`ocr_engine.py:208-270`): full page (no crop — it
  *    upscales + binarizes instead); binarization-rescue analog sees
  *    the lines the `hard` tag hides from light/premium; for the Q2
  *    family the binarization instead corrupts the TSH digits.
  *
  * Like the corpus, the output is locale-free: a pure function of
  * (level, media_ref). The page text is `Corpus.pageText`, which renders
  * only the lines the level keeps. Premium/optimum boxes are built on
  * first read ([[PageBoxes]]), so a caller that reads only the text
  * never pays for them. Box hashes are `Det.h(mediaRef, tok, "top")` and
  * `Det.h(mediaRef, tok, "conf")`, continued from one `mediaRef` key per
  * page and one token key per token; the line-list, regex-split,
  * hash-per-box form is the twin in src/test (OcrTwin).
  */
object SimulatedOcr extends OcrEngine {
  override def ocrPage(level: String, mediaRef: String): (String, Seq[OcrBox]) = {
    // never-throws contract: a ref this engine can't resolve behaves
    // like the reference's image-load failure (`ocr_engine.py:119-124`
    // returns None -> empty result), not a task failure — one malformed
    // row must not kill a 10^12-doc job
    val parsed =
      try Some(Corpus.parseMediaRef(mediaRef))
      catch { case _: RuntimeException => None }
    if (parsed.isEmpty) return ("", Seq.empty)
    val (i, k, carrier) = parsed.get
    val text = Corpus.pageText(i, k, level, carrier)
    (text, if (level == "light") Seq.empty else new PageBoxes(mediaRef, text))
  }

  /** One box per token of `text`, left to right. A token is a maximal run
    * of chars outside Java's `\s` class (`[ \t\n\x0B\f\r]`), as
    * `split("\\s+")` cuts them.
    */
  private[media] def pageBoxes(mediaRef: String, text: String): ArraySeq[OcrBox] = {
    val page = new Det.Key().part(mediaRef)
    val boxes = Array.newBuilder[OcrBox]
    var left = 0
    var i = 0
    while (i < text.length) {
      if (isSpace(text.charAt(i))) i += 1
      else {
        val start = i
        while (i < text.length && !isSpace(text.charAt(i))) i += 1
        val tok = page.copy.part(text, start, i)
        val w = 8 * (i - start)
        boxes += OcrBox(text.substring(start, i), left, (tok.hash("top") % 900).toInt,
          w, 14, 50.0 + (tok.hash("conf") % 50).toInt)
        left += w + 8
      }
    }
    ArraySeq.unsafeWrapArray(boxes.result())
  }

  private def isSpace(c: Char): Boolean =
    c <= ' ' && (c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r')
}

/** One page's boxes ([[SimulatedOcr.pageBoxes]]), built on first read
  * and kept: equal element for element to the eagerly built seq, while a
  * page whose boxes nobody reads never builds them.
  */
private final class PageBoxes(mediaRef: String, text: String)
    extends AbstractSeq[OcrBox] with IndexedSeq[OcrBox] {
  private lazy val boxes = SimulatedOcr.pageBoxes(mediaRef, text)
  override def apply(i: Int): OcrBox = boxes(i)
  override def length: Int = boxes.length
}

/** Per-executor engine pool (north_star: "mapPartitions over a pooled
  * parser/OCR model per executor to amortize init"). The engine handle
  * is a lazy JVM-wide singleton so every task on an executor reuses one
  * initialized engine instead of paying per-row init (the reference
  * spawns 1-5 tesseract subprocesses per document, SURVEY.md §3.1-3.2 —
  * this pool is the amortization replacing that).
  */
object OcrEnginePool {
  @volatile private var factory: () => OcrEngine = () => SimulatedOcr
  @volatile private var cached: OcrEngine = null

  /** One engine instance per executor JVM (built on first use, reused by
    * every task thereafter — the per-row-init amortization).
    */
  def engine: OcrEngine = {
    var e = cached
    if (e == null) synchronized {
      if (cached == null) cached = factory()
      e = cached
    }
    e
  }

  /** Production/test seam: swap the engine factory (next `engine` call
    * rebuilds). In cluster mode each executor JVM starts from the
    * default factory — wire a real engine via a static initializer or
    * this call in a startup hook; local/test mode shares the one JVM.
    */
  def install(f: () => OcrEngine): Unit = synchronized {
    factory = f
    cached = null
  }
}

object OcrRun {
  /** One span's part of a document at one level: a media span's OCR'd
    * page (text, boxes), a text span's inline text verbatim (no boxes).
    */
  def spanPart(engine: OcrEngine, level: String, s: DocSpan): (String, Seq[OcrBox]) =
    if (s.kind == "media") engine.ocrPage(level, s.media_ref) else (s.text, Seq.empty)

  /** One document's raw text at one level from its span parts' texts
    * in offset order: the texts joined with '\n', None when the level
    * fails (`app.py:91-92` via `ocr_engine.py`): light on blank text
    * (`ocr_engine.py:142-144`), premium/optimum only when text and boxes
    * are both empty (`ocr_engine.py:197-199,266-268`). `hasBoxes` is
    * evaluated only for blank text at premium/optimum, the one case the
    * rule reads boxes.
    */
  def levelText(level: String, texts: Seq[String], hasBoxes: => Boolean): Option[String] = {
    val raw = texts.mkString("\n")
    if (!blank(raw) || level != "light" && hasBoxes) Some(raw) else None
  }

  /** True when `s` is empty or whitespace only, as `s.trim.isEmpty`
    * tells (every char at or below ' '); a null text is not blank (it
    * joins as "null").
    */
  def blank(s: String): Boolean = {
    if (s == null) return false
    var i = 0
    while (i < s.length && s.charAt(i) <= ' ') i += 1
    i == s.length
  }

  /** One document's OCR output at one level; boxes concatenate in span
    * order (`ocr_engine.py` emits them in token order per page).
    */
  def ocrDoc(engine: OcrEngine, level: String, spans: Seq[DocSpan]): LevelOcr = {
    val boxes = Seq.newBuilder[OcrBox]
    val texts = spans.sortBy(_.offset).map { s =>
      val (t, b) = spanPart(engine, level, s)
      boxes ++= b
      t
    }
    val all = boxes.result()
    LevelOcr(levelText(level, texts, all.nonEmpty), all)
  }

  /** The `rawText` of [[ocrDoc]] for the extraction paths, which read
    * only the text: a page's boxes are read only when the doc's joined
    * text is blank at premium/optimum.
    */
  def ocrText(engine: OcrEngine, level: String, spans: Seq[DocSpan]): Option[String] = {
    val parts = spans.sortBy(_.offset).map(spanPart(engine, level, _))
    levelText(level, parts.map(_._1), parts.exists(_._2.nonEmpty))
  }

  /** [[levelText]] over one level's span parts (offset, text, box
    * count) in any order: the skew path's per-page reassembly. Only a
    * doc whose every part is blank reads the counts, so a part with text
    * may carry 0.
    */
  def docText(level: String, parts: Seq[(Int, String, Int)]): Option[String] =
    levelText(level, parts.sortBy(_._1).map(_._2), parts.exists(_._3 > 0))

  def firstMediaRef(spans: Seq[DocSpan]): String =
    spans.sortBy(_.offset).collectFirst { case s if s.kind == "media" => s.media_ref }
      .getOrElse("")
}
