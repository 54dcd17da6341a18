package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenFallback, GenerateUnsafeProjection}
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.Corpus
import graft.extract.TshExtract
import graft.media.{FirstMediaRef, OcrEngine, OcrEnginePool, OcrRun, OcrText, SimulatedOcr}
import graft.schema.{DocRow, DocSpan, OcrBox}

/** Records every page call; throws for the refs in `throwFor` at any
  * level but light.
  */
class RecordingOcr(throwFor: Set[String]) extends OcrEngine {
  val calls = new ConcurrentLinkedQueue[(String, String)]()
  override def ocrPage(level: String, ref: String): (String, Seq[OcrBox]) = {
    calls.add(level -> ref)
    if (level != "light" && throwFor(ref))
      throw new IllegalStateException(s"$level OCR reached for $ref")
    SimulatedOcr.ocrPage(level, ref)
  }
}

/** The columnar cascade's OCR cost model: each level's OCR is an
  * [[OcrText]] column behind the cascade's CASE gates, so a doc pays
  * premium and optimum OCR only when the earlier level left it
  * unresolved — the reference's early exit (`app.py:153-189`), the same
  * calls the iterative encoding makes, inside one map-only projection.
  */
class OcrCascadeSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  lazy val docs: Dataset[DocRow] = Corpus.generate(spark, 200)
  lazy val docRows: Seq[DocRow] = docs.collect().toSeq
  lazy val pages: Map[String, Seq[String]] = docRows.map(d =>
    d.doc_id -> d.spans.filter(_.kind == "media").map(_.media_ref)).toMap

  private def accepted(level: String): Set[String] =
    Pipeline.results(docs, level).filter(TshExtract.acceptWithRange(col("r")))
      .select("doc_id").as[String].collect().toSet

  /** Docs the reference accepts at light, and at premium. */
  lazy val (lightOk, premiumOk) = (accepted("light"), accepted("premium"))

  private def refsOf(ids: Set[String]): Seq[String] = ids.toSeq.flatMap(pages).sorted

  /** The reference's early-exit calls: light for every page, premium for
    * the pages of docs light leaves unresolved, optimum for those
    * neither light nor premium resolves.
    */
  lazy val earlyExit: Map[String, Seq[String]] = {
    val all = pages.keySet
    Map("light" -> refsOf(all), "premium" -> refsOf(all -- lightOk),
      "optimum" -> refsOf(all -- lightOk -- premiumOk))
  }

  /** Per-level sorted page refs the engine was asked for while `run` ran. */
  private def ocrCalls(throwFor: Set[String] = Set.empty)(run: => Unit)
      : Map[String, Seq[String]] = {
    val eng = new RecordingOcr(throwFor)
    OcrEnginePool.install(() => eng)
    try run
    finally OcrEnginePool.install(() => SimulatedOcr)
    eng.calls.asScala.toSeq.groupMap(_._1)(_._2).view.mapValues(_.sorted).toMap
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("auto extraction OCRs premium and optimum only for docs light leaves unresolved") {
    val mix = spark.read.parquet("fixtures/expected_level_mix.parquet")
      .as[(String, Long)].collect().toMap
    val pending = pages.keySet -- lightOk
    assert(pending.size == 200 - mix("light") && pending.size == 96)
    assert((pending -- premiumOk).size == 200 - mix("light") - mix.getOrElse("premium", 0L))

    val auto = ocrCalls()(Pipeline.extractRows(docs, "auto").collect())
    assert(auto("light").size == pages.values.map(_.size).sum)
    assert(auto == earlyExit)
    val iterative = ocrCalls()(Pipeline.extractRows(docs, "auto", iterative = true).collect())
    assert(auto == iterative)
  }

  test("levelMix makes the early-exit OCR calls too") {
    assert(ocrCalls()(Pipeline.levelMix(docs).collect()) == earlyExit)
  }

  test("a filter over auto results makes no extra OCR call") {
    // a deterministic OCR column would be copied into the pushed-down
    // Filter and run once there and once in the projection
    val filtered = Pipeline.results(docs, "auto").filter(col("r.ok"))
    val inPlan = filtered.queryExecution.optimizedPlan.collect { case p => p.expressions }
      .flatten.flatMap(_.collect { case o: OcrText => o.level })
    assert(inPlan.sorted == OcrText.Levels.sorted)
    assert(ocrCalls()(filtered.collect()) == earlyExit)
  }

  test("the later-level gates are never hoisted above light's verdict") {
    val want = rows(Pipeline.extractRows(docs, "auto"))
    var got = Seq.empty[String]
    val calls = ocrCalls(throwFor = refsOf(lightOk).toSet) {
      got = rows(Pipeline.extractRows(docs, "auto"))
    }
    assert(got == want)
    assert(calls == earlyExit)
  }

  test("OcrText and FirstMediaRef: interpreted eval == codegen == OcrRun, NULL-safe") {
    val enc = ExpressionEncoder[DocRow]()
    val ser = enc.createSerializer()
    val spans = BoundReference(1, enc.schema("spans").dataType, nullable = true)
    val odd = Seq(
      DocRow("empty", Seq.empty),
      DocRow("malformed", Seq(DocSpan("media", "", "media://broken", 0),
        DocSpan("text", "TSH 2.1 mUI/L (0.4-4.0)", "", 1),
        DocSpan("media", "", "garbage", 2))))
    val cases: Seq[(Option[DocRow], InternalRow)] =
      (docRows ++ odd).map(d => Some(d) -> ser(d).copy()) :+
        (None -> InternalRow(UTF8String.fromString("null-spans"), null))

    def check(e: Expression, want: Seq[DocSpan] => Option[String]): Unit = {
      assert(!e.isInstanceOf[CodegenFallback])
      val gen = GenerateUnsafeProjection.generate(Seq(e))
      cases.foreach { case (doc, row) =>
        val interpreted = Option(e.eval(row)).map(_.toString)
        val out = gen(row)
        val compiled = if (out.isNullAt(0)) None else Some(out.getUTF8String(0).toString)
        val expected = doc.flatMap(d => want(d.spans))
        assert(interpreted == expected && compiled == expected, s"$e on ${doc.map(_.doc_id)}")
      }
    }
    OcrText.Levels.foreach { level =>
      check(OcrText(spans, level), s => OcrRun.ocrDoc(SimulatedOcr, level, s).rawText)
    }
    check(FirstMediaRef(spans), s => Some(OcrRun.firstMediaRef(s)))
    // non-vacuous: each level resolves some docs and fails others
    OcrText.Levels.foreach { level =>
      val texts = docRows.map(d => OcrRun.ocrDoc(SimulatedOcr, level, d.spans).rawText)
      assert(texts.exists(_.isDefined) && texts.exists(_.isEmpty), level)
    }
  }

  test("auto extractRows is map-only: no Exchange, MapPartitions or DeserializeToObject") {
    val dir = tempDir("graft-maponly")
    docs.write.mode("overwrite").parquet(dir)
    val plan = Pipeline.extractRows(spark.read.parquet(dir).as[DocRow], "auto")
      .queryExecution.executedPlan
    val names = plan.collect { case p => p.nodeName }
    assert(!names.exists(n => Seq("Exchange", "MapPartitions", "DeserializeToObject")
      .exists(n.contains)), names.mkString("\n", "\n", ""))
    // every level's OCR runs inside whole-stage codegen
    def stage(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case _: InputAdapter => Nil
      case _ => p.children.flatMap(stage)
    })
    val compiled = plan.collect { case w: WholeStageCodegenExec => stage(w.child) }
      .flatten.flatMap(_.expressions).flatMap(_.collect { case o: OcrText => o.level })
    assert(compiled.sorted == OcrText.Levels.sorted, plan.toString)
  }
}
