package graft

import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.AbstractSeq

import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.Corpus
import graft.media.{OcrEngine, OcrEnginePool, OcrRun, SimulatedOcr}
import graft.schema.OcrBox

/** A page's box seq that throws when anything reads it. */
final class UnreadBoxes(level: String, ref: String)
    extends AbstractSeq[OcrBox] with IndexedSeq[OcrBox] {
  private def read: Nothing =
    throw new IllegalStateException(s"$level boxes of $ref read, but the page has text")
  override def apply(i: Int): OcrBox = read
  override def length: Int = read
}

/** SimulatedOcr, except that a premium/optimum page with non-blank text
  * returns [[UnreadBoxes]]; `handedOut` counts those pages.
  */
class TextOnlyOcr extends OcrEngine {
  override def ocrPage(level: String, ref: String): (String, Seq[OcrBox]) = {
    val (text, boxes) = SimulatedOcr.ocrPage(level, ref)
    if (level == "light" || OcrRun.blank(text)) (text, boxes)
    else { TextOnlyOcr.handedOut.incrementAndGet(); (text, new UnreadBoxes(level, ref)) }
  }
}

object TextOnlyOcr {
  val handedOut = new AtomicLong(0)
}

/** The extraction paths read OCR text only: a page's boxes are read only
  * when its doc's text is blank at premium/optimum, the one case the
  * failure rule (`ocr_engine.py:197-199,266-268`) looks at them. Every
  * mode of extractRows and extractSkewAware produces the golden spans
  * with an engine whose boxes throw on any other read.
  */
class TextOnlyOcrSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val Modes = Seq("light", "premium", "optimum", "auto")

  lazy val golden: Map[String, Seq[Fx]] =
    Goldens.byMode(spark).map { case (m, fx) => m -> fx.sortBy(f => (f.doc_id, f.order)) }
  lazy val docs = Corpus.generate(spark, 200).cache()

  private def textOnly[T](f: => T): T = {
    OcrEnginePool.install(() => new TextOnlyOcr)
    try f finally OcrEnginePool.install(() => SimulatedOcr)
  }

  private def extractRowsFx(mode: String, iterative: Boolean): Seq[Fx] =
    Pipeline.extractRows(docs, mode, iterative)
      .select($"doc_id", lit(mode).as("mode"),
        $"kind", $"text", $"media_ref", $"order")
      .as[Fx].collect().toSeq.sortBy(f => (f.doc_id, f.order))

  test("extractRows in every mode gives the golden spans without reading a page's boxes") {
    TextOnlyOcr.handedOut.set(0)
    textOnly {
      for (mode <- Modes) assert(extractRowsFx(mode, iterative = false) == golden(mode), mode)
      assert(extractRowsFx("auto", iterative = true) == golden("auto"), "auto iterative")
    }
    assert(TextOnlyOcr.handedOut.get() > 100, "the premium/optimum pages were never OCR'd")
  }

  test("extractSkewAware in every mode gives the golden spans without reading a page's boxes") {
    val skewDocs = Corpus.generate(spark, 300, skew = true).cache()
    SkewBranches.assertBoth(skewDocs)
    val expected = Modes.map(m => m -> Goldens.rows(Pipeline.extract(skewDocs, m), m)).toMap
    TextOnlyOcr.handedOut.set(0)
    textOnly {
      for (mode <- Modes) {
        assert(Goldens.rows(Pipeline.extractSkewAware(docs, mode), mode)
          == golden(mode), s"$mode, golden corpus")
        assert(Goldens.rows(Pipeline.extractSkewAware(skewDocs, mode), mode) == expected(mode),
          s"$mode, skewed corpus")
      }
    }
    assert(TextOnlyOcr.handedOut.get() > 1000, "the heavy pages were never OCR'd")
  }
}
