package graft.media

import java.util.Locale

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.Corpus

/** SimulatedOcr (char-loop tokens, prefix-shared box hashes) against its
  * regex-split twin [[OcrTwin]], and the corpus + engine output against
  * the JVM default locale.
  */
class SimulatedOcrSpec extends AnyFunSuite {

  private val Levels = Seq("light", "premium", "optimum")

  private def mediaRefs(docs: Seq[graft.schema.DocRow]): Seq[String] =
    docs.flatMap(_.spans.filter(_.kind == "media").map(_.media_ref))

  test("ocrPage == its regex-split twin on every page of a 2,000-doc skewed corpus") {
    val refs = mediaRefs((0L until 2000L).map(Corpus.doc(_, skew = true)))
    assert(refs.size > 4000, s"only ${refs.size} media pages")
    var boxes = 0L
    for (ref <- refs; level <- Levels) {
      val got = SimulatedOcr.ocrPage(level, ref)
      assert(got == OcrTwin.ocrPage(level, ref), s"$level $ref")
      boxes += got._2.size
    }
    assert(boxes > 100000, s"only $boxes boxes")
  }

  test("ocrPage == its twin on malformed refs") {
    for (bad <- Seq("", "garbage", "media://nope", "media://docXX/9",
        "media://doc1/notanint#tsh"); level <- Levels) {
      assert(SimulatedOcr.ocrPage(level, bad) == OcrTwin.ocrPage(level, bad), s"'$bad'")
    }
  }

  test("box tokens split on Java's \\s class exactly as split(\"\\\\s+\") does") {
    // \s is [ \t\n\x0B\f\r]; the look-alikes around it (file/group/record/
    // unit separators, NEL, NBSP, line/paragraph separators) are token chars
    val alphabet = " \t\n\u000B\f\r\u001C\u001D\u001E\u001F\u0085\u00A0\u2028\u2029\u0000ab9é😀"
    val rnd = new Random(3)
    for (n <- 0 until 3000) {
      val text = Seq.fill(rnd.nextInt(24))(alphabet(rnd.nextInt(alphabet.length))).mkString
      val ref = s"media://doc${n % 7}/1"
      assert(SimulatedOcr.pageBoxes(ref, text) == OcrTwin.pageBoxes(ref, text),
        text.map(_.toInt.toHexString).mkString(" "))
    }
  }

  test("corpus and OCR output do not depend on the JVM default locale") {
    def render(): Seq[Any] = (0L until 200L).flatMap { i =>
      val d = Corpus.doc(i)
      d +: mediaRefs(Seq(d)).flatMap(ref => Levels.map(SimulatedOcr.ocrPage(_, ref)))
    }
    val saved = Locale.getDefault
    try {
      Locale.setDefault(Locale.ROOT)
      val root = render()
      for (tag <- Seq("th-TH-u-nu-thai", "ar-SA", "de-DE")) {
        Locale.setDefault(Locale.forLanguageTag(tag))
        if (tag == "th-TH-u-nu-thai") // non-vacuous: Formatter follows this locale
          assert(String.format("%08d", Long.box(7L)) != "00000007")
        assert(render() == root, tag)
      }
    } finally Locale.setDefault(saved)
  }
}
