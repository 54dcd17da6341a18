package graft.media

import graft.corpus.{Corpus, Det, DetOracle}
import graft.schema.OcrBox

/** The line-list, regex-split, hash-per-box form of [[SimulatedOcr]],
  * kept as the test oracle: refs parsed with substrings, each page built
  * as its whole line list and cropped afterwards, tokens from
  * `split("\\s+")`, each box hashing the joined key
  * `mediaRef\u0000tok\u0000top` (and `...conf`) from scratch.
  */
object OcrTwin {
  /** Twin of `Corpus.parseMediaRef`: strip, split, `toLong`/`toInt`. */
  def parseMediaRef(ref: String): (Long, Int, Boolean) = {
    val carrier = ref.endsWith("#tsh")
    val body = ref.stripPrefix("media://").stripSuffix("#tsh")
    val slash = body.lastIndexOf('/')
    (body.substring(3, slash).toLong, body.substring(slash + 1).toInt, carrier)
  }

  def ocrPage(level: String, mediaRef: String): (String, Seq[OcrBox]) = {
    val parsed =
      try Some(parseMediaRef(mediaRef))
      catch { case _: RuntimeException => None }
    if (parsed.isEmpty) return ("", Seq.empty)
    val (i, k, carrier) = parsed.get
    val text = pageText(i, k, level, carrier)
    (text, if (level == "light") Seq.empty else pageBoxes(mediaRef, text))
  }

  /** Twin of `Corpus.pageText`: the full line list, cropped, joined. */
  def pageText(i: Long, k: Int, level: String, isCarrier: Boolean): String = {
    val full = pageLines(i, k, level, isCarrier)
    (if (level == "optimum") full else crop(full)).mkString("\n")
  }

  /** Full (uncropped) page lines for media span k of doc i at a level. */
  def pageLines(i: Long, k: Int, level: String, isCarrier: Boolean): Seq[String] = {
    import Corpus._
    if (isUnreadable(i)) return Seq.empty
    val header = Seq(s"Prélèvement du ${reportDate(i)}")
    val span = new Det.Key().part(i).part(k)
    val nf = 4 + (span.hash("nf") % 6).toInt
    val fillers = (0 until nf).map(j => fillerLine(span, j, "fill"))
    val tsh =
      if (!isCarrier) Seq.empty
      else if (isHard(i) && family(i) != FamQ2 && level != "optimum") Seq.empty
      else tshLines(i, level)
    if (tsh.isEmpty) header ++ fillers
    else {
      val p =
        if (family(i) == FamQ2) nf
        else (Det.h(i, "pos") % (nf + 1)).toInt
      val (a, b) = fillers.splitAt(p)
      header ++ a ++ tsh ++ b
    }
  }

  /** Bottom-crop analog of `preprocess_for_bio` (`ocr_engine.py:39`):
    * light and premium keep the bottom 65% of lines.
    */
  def crop(lines: Seq[String]): Seq[String] = lines.drop((0.35 * lines.length).toInt)

  def pageBoxes(mediaRef: String, text: String): Seq[OcrBox] = {
    var left = 0
    text.split("\\s+").filter(_.nonEmpty).toSeq.map { tok =>
      val w = 8 * tok.length
      val b = OcrBox(tok, left, (DetOracle.h(mediaRef, tok, "top") % 900).toInt,
        w, 14, 50.0 + (DetOracle.h(mediaRef, tok, "conf") % 50).toInt)
      left += w + 8
      b
    }
  }
}
