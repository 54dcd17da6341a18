package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.Corpus
import graft.media.{OcrEngine, OcrRun, SimulatedOcr}
import graft.schema.{DocSpan, OcrBox}

/** O2: OCR token boxes (`ocr_engine.py:88-97`) are carried as
  * array<struct> through the pipeline schema — real content for the
  * audit/QC surface — while the parser (quirk Q1) never reads them.
  */
class OcrBoxSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("ocrAll carries full box structs matching the engine's output") {
    val docs = Corpus.generate(spark, 64)
    val got = Pipeline.ocrAll(docs)
      .select(col("doc_id"), col("premium_boxes"), col("optimum_boxes"))
      .as[(String, Seq[OcrBox], Seq[OcrBox])]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    // independent recomputation straight from the engine, per doc
    val expected = docs.collect().map { d =>
      d.doc_id -> (OcrRun.ocrDoc(SimulatedOcr, "premium", d.spans).boxes,
        OcrRun.ocrDoc(SimulatedOcr, "optimum", d.spans).boxes)
    }.toMap
    assert(got == expected)
    // non-vacuous: some doc actually has boxes with real fields
    val some = got.values.flatMap(_._1).headOption
    assert(some.exists(b => b.text.nonEmpty && b.width > 0 && b.conf >= 50.0))
  }

  test("Q1: the parse plan never reads box columns (pruned before OCR output)") {
    // the extraction paths OCR through OcrText columns and never build
    // box structs; the box-carrying ocrAll is where pruning must hold
    val docs = Corpus.generate(spark, 16)
    val plan = Pipeline.withLevelResult(Pipeline.ocrAll(docs).toDF(), "premium_raw", "r")
      .select("doc_id", "first_media_ref", "r").queryExecution.optimizedPlan.toString
    assert(plan.contains("premium_raw"), plan)
    assert(!plan.contains("premium_boxes") && !plan.contains("optimum_boxes"),
      "box columns leaked into the parse plan — ObjectSerializerPruning regressed")
  }

  test("engine never throws: malformed media refs degrade like a load failure") {
    // reference ocr_engine.py:119-124: unloadable image -> None, row survives
    for (bad <- Seq("", "garbage", "media://nope", "media://docXX/9",
        "media://doc1/notanint#tsh")) {
      val (t, b) = SimulatedOcr.ocrPage("premium", bad)
      assert(t == "" && b.isEmpty, s"ref '$bad' should degrade, not throw")
    }
    // a doc containing only a malformed media span -> OCR_FAILED path.
    // NB: extractRows (explode_outer) — a bare explode over the computed
    // spans column trips InferFiltersFromGenerate and re-inlines the
    // whole assembly tree (the trap Pipeline.extractRows documents;
    // reproduced here as an OOM when first written with plain explode)
    val doc = graft.schema.DocRow("docbad",
      Seq(graft.schema.DocSpan("media", "", "media://broken", 0)))
    val dir = tempDir("graft-badref")
    spark.createDataset(Seq(doc)).write.mode("overwrite").parquet(dir)
    val ds = spark.read.parquet(dir).as[graft.schema.DocRow]
    val spans = Pipeline.extractRows(ds, "auto")
      .select("kind", "text").as[(String, String)].collect().toSeq
    assert(spans.contains(("error", "OCR_FAILED")))
  }

  test("both-empty failure rule is driven by boxes, not a stale count") {
    // blank text + nonempty boxes => premium/optimum level does NOT fail
    val box = OcrBox("x", 0, 0, 8, 14, 90.0)
    val blankPage = new OcrEngine {
      override def ocrPage(level: String, ref: String) =
        ("  ", if (ref == "boxed") Seq(box) else Seq.empty)
    }
    def raw(level: String, ref: String) =
      OcrRun.ocrDoc(blankPage, level, Seq(DocSpan("media", "", ref, 0))).rawText
    assert(raw("premium", "boxed").contains("  "))
    assert(raw("premium", "bare").isEmpty)
    assert(raw("light", "boxed").isEmpty)
  }
}
