package graft.media

import graft.corpus.{Corpus, DetOracle}
import graft.schema.OcrBox

/** The regex-split, hash-per-box form of [[SimulatedOcr]], kept as the
  * test oracle: tokens from `split("\\s+")`, each box hashing the joined
  * key `mediaRef\u0000tok\u0000top` (and `...conf`) from scratch.
  */
object OcrTwin {
  def ocrPage(level: String, mediaRef: String): (String, Seq[OcrBox]) = {
    val parsed =
      try Some(Corpus.parseMediaRef(mediaRef))
      catch { case _: RuntimeException => None }
    if (parsed.isEmpty) return ("", Seq.empty)
    val (i, k, carrier) = parsed.get
    val full = Corpus.pageLines(i, k, level, carrier)
    val lines = if (level == "optimum") full else Corpus.crop(full)
    val text = lines.mkString("\n")
    (text, if (level == "light") Seq.empty else pageBoxes(mediaRef, text))
  }

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
