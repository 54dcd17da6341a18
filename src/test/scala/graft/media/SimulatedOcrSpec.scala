package graft.media

import java.util.Locale

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.Corpus
import graft.schema.{DocRow, DocSpan, OcrBox}

/** SimulatedOcr (kept lines only, char-loop tokens, prefix-shared box
  * hashes, boxes built on first read) against its line-list, regex-split
  * twin [[OcrTwin]], the text-only OcrRun.ocrText against ocrDoc, and
  * the corpus + engine output against the JVM default locale.
  */
class SimulatedOcrSpec extends AnyFunSuite {

  private val Levels = Seq("light", "premium", "optimum")

  private def mediaRefs(docs: Seq[DocRow]): Seq[String] =
    docs.flatMap(_.spans.filter(_.kind == "media").map(_.media_ref))

  private lazy val skewed: Seq[DocRow] = (0L until 2000L).map(Corpus.doc(_, skew = true))

  private val Malformed = Seq("", "garbage", "media://nope", "media://docXX/9",
    "media://doc1/notanint#tsh")

  test("pageText == the twin's pageLines -> crop -> mkString on every skewed-corpus page") {
    val pages = mediaRefs(skewed).map(Corpus.parseMediaRef)
    for ((i, k, carrier) <- pages; level <- Levels)
      assert(Corpus.pageText(i, k, level, carrier) == OcrTwin.pageText(i, k, level, carrier),
        s"$level doc $i span $k carrier=$carrier")
    // non-vacuous: every page shape the renderer branches on occurs
    val docs = pages.map(_._1).distinct
    assert(docs.exists(Corpus.isUnreadable) && docs.exists(Corpus.isHard), "unreadable/hard")
    for (f <- Seq(12, 13, Corpus.FamQ2))
      assert(pages.exists { case (i, _, c) => c && Corpus.family(i) == f }, s"family $f carrier")
    assert(pages.exists(!_._3) && pages.count(_._3) > 100, "carrier and plain pages")
  }

  test("OcrRun.ocrText == ocrDoc(...).rawText, boxes read only for blank text") {
    val odd = DocRow("odd", Malformed.zipWithIndex.map { case (r, k) => DocSpan("media", "", r, k) })
    val mixed = DocRow("mixed", Seq(DocSpan("media", "", "blank", 1), DocSpan("text", "  ", "", 0)))
    // blank text, boxes only on the refs named "boxed*"
    val box = OcrBox("x", 0, 0, 8, 14, 90.0)
    val blankPages = new OcrEngine {
      override def ocrPage(level: String, ref: String) =
        (" \t", if (ref.startsWith("boxed")) Seq(box) else Seq.empty)
    }
    val blankDocs = Seq(Seq("boxed"), Seq("bare"), Seq("bare", "boxed2"), Seq("bare", "bare2"))
      .map(refs => DocRow("blank", refs.zipWithIndex.map { case (r, k) => DocSpan("media", "", r, k) }))
    for (level <- Levels) {
      for (d <- skewed :+ odd :+ mixed)
        assert(OcrRun.ocrText(SimulatedOcr, level, d.spans) ==
          OcrRun.ocrDoc(SimulatedOcr, level, d.spans).rawText, s"$level ${d.doc_id}")
      for (d <- blankDocs)
        assert(OcrRun.ocrText(blankPages, level, d.spans) ==
          OcrRun.ocrDoc(blankPages, level, d.spans).rawText, s"$level ${d.spans}")
    }
    // non-vacuous: the box rule decides both ways at premium
    val rule = blankDocs.map(d => OcrRun.ocrText(blankPages, "premium", d.spans).isDefined)
    assert(rule == Seq(true, false, true, false), rule)
  }

  test("ocrPage == its regex-split twin on every page of a 2,000-doc skewed corpus") {
    val refs = mediaRefs(skewed)
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
    for (bad <- Malformed; level <- Levels) {
      assert(SimulatedOcr.ocrPage(level, bad) == OcrTwin.ocrPage(level, bad), s"'$bad'")
    }
  }

  test("parseMediaRef == its substring twin on corpus refs and on 3,000 odd refs") {
    def parse(f: String => (Long, Int, Boolean), ref: String) =
      try Some(f(ref)) catch { case _: RuntimeException => None }
    val refs = mediaRefs(skewed)
    refs.foreach(r => assert(Corpus.parseMediaRef(r) == OcrTwin.parseMediaRef(r), r))
    // prefixes, separators, signs, Unicode digits (Arabic-Indic, fullwidth,
    // a supplementary one) and bounds that overflow or just fit
    val nums = IndexedSeq("", "0", "7", "42", "-", "+", "-0", "+12", "--1", "\u0663\u0661",
      "\uff19", "\ud835\udfce", "9223372036854775807", "9223372036854775808",
      "-9223372036854775808", "-9223372036854775809", "2147483647", "2147483648",
      "-2147483648", "-2147483649", "1 ", "x", "00000007")
    val prefixes = IndexedSeq("media://", "media:/", "", "#tsh")
    val heads = IndexedSeq("doc", "doc", "xyz", "d/c", "do", "docs", "", "/")
    val tails = IndexedSeq("", "", "#tsh", "#", "tsh", "#tsh#tsh", "/")
    val rnd = new Random(29029L)
    def pick(xs: IndexedSeq[String]) = xs(rnd.nextInt(xs.size))
    val odd = Malformed ++ Seq("media://doc/1", "media://doc1/", "media:///1", "doc1/2",
      "media://doc-5/+3#tsh", "media://doc\u0663/\u0661#tsh") ++ Seq.fill(3000) {
        if (rnd.nextInt(4) == 0)
          Seq.fill(1 + rnd.nextInt(7))(pick(nums ++ prefixes ++ heads ++ tails)).mkString
        else pick(prefixes) + pick(heads) + pick(nums) + pick(Vector("/", "/", "//", "")) +
          pick(nums) + pick(tails)
      }
    var accepted = 0
    for (ref <- odd) {
      val got = parse(Corpus.parseMediaRef, ref)
      assert(got == parse(OcrTwin.parseMediaRef, ref), ref)
      if (got.isDefined) accepted += 1
    }
    assert(accepted > 50 && accepted < odd.size - 1000, s"$accepted of ${odd.size} accepted")
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
