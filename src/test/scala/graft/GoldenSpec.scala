package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.Corpus
import graft.extract.{AnalyteExtract, HofTwins, MultiAnalyteGather}
import graft.schema.DocRow

/** The correctness contract (BASELINE.json `metric`): 100% span-sequence
  * equality (kind, text, media_ref, order) per (doc, mode) against
  * fixtures derived by EXECUTING the reference parser + app logic
  * (fixtures/gen_golden.py over fixtures/ocr_dump.jsonl).
  */
object SparkTestSession {
  lazy val spark: SparkSession = {
    // as many task threads as the host has cores, never more
    val cores = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // static conf: bucketed-table tests saveAsTable into a temp
      // warehouse instead of polluting the repo dir
      .config("spark.sql.warehouse.dir",
        TempDirs.forJvm("graft-warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Both branches of `Pipeline.extractSkewAware` over a test corpus. */
object SkewBranches {
  /** `docs` holds a doc on each side of `Pipeline.SkewMediaSpans`, so a
    * skew-path test runs the map-only AND the page-exploded branch.
    */
  def assertBoth(docs: Dataset[DocRow]): Unit = {
    val nMedia = docs.collect().map(_.spans.count(_.kind == "media"))
    org.scalatest.Assertions.assert(
      nMedia.exists(_ > Pipeline.SkewMediaSpans) && nMedia.exists(_ <= Pipeline.SkewMediaSpans),
      s"media-span counts ${nMedia.distinct.sorted.mkString(",")} miss a skew branch")
  }
}

/** Top-level so Spark can derive an Encoder. */
case class Fx(doc_id: String, mode: String, kind: String, text: String,
    media_ref: String, order: Int)

/** The golden spans of the 200-doc corpus (`Corpus.generate(spark, 200)`). */
object Goldens {
  /** fixtures/golden.json's spans, by mode. */
  def byMode(spark: SparkSession): Map[String, Seq[Fx]] = {
    import spark.implicits._
    val df = spark.read.option("multiLine", true).json("fixtures/golden.json")
    df.select(col("doc_id"), col("mode"), explode(col("spans")).as("s"))
      .select(col("doc_id"), col("mode"), col("s.kind"), col("s.text"),
        col("s.media_ref"), col("s.order").cast("int").as("order"))
      .as[Fx].collect().toSeq.groupBy(_.mode)
  }

  /** `Pipeline.extract`'s (doc_id, spans) as [[Fx]] rows of `mode`, in
    * (doc_id, order) order. explode_outer, as in `Pipeline.extractRows`:
    * a plain explode over the computed spans re-inlines the assembly
    * tree into an inferred filter.
    */
  def rows(extracted: DataFrame, mode: String): Seq[Fx] = {
    import extracted.sparkSession.implicits._
    extracted.select(col("doc_id"), lit(mode).as("mode"), explode_outer(col("spans")).as("s"))
      .select(col("doc_id"), col("mode"), col("s.kind"), col("s.text"),
        col("s.media_ref"), col("s.order"))
      .as[Fx].collect().toSeq.sortBy(f => (f.doc_id, f.order))
  }
}

class GoldenSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  lazy val golden: Map[String, Seq[Fx]] = Goldens.byMode(spark)

  lazy val docs = Corpus.generate(spark, 200).cache()

  private def check(mode: String, iterative: Boolean = false): Unit = {
    val got = Pipeline.extractRows(docs, mode, iterative)
      .select(col("doc_id"), lit(mode).as("mode"), col("kind"), col("text"),
        col("media_ref"), col("order"))
      .as[Fx].collect().toSeq
    val want = golden(mode)
    val key = (f: Fx) => (f.doc_id, f.order)
    val gotM = got.map(f => key(f) -> f).toMap
    val wantM = want.map(f => key(f) -> f).toMap
    val missing = wantM.keySet -- gotM.keySet
    val extra = gotM.keySet -- wantM.keySet
    assert(missing.isEmpty, s"missing spans (first 5): ${missing.take(5).map(wantM)}")
    assert(extra.isEmpty, s"extra spans (first 5): ${extra.take(5).map(gotM)}")
    val diffs = wantM.keys.filter(k => gotM(k) != wantM(k)).toSeq.sortBy(identity)
    assert(diffs.isEmpty,
      s"${diffs.size} span mismatches; first 3: " + diffs.take(3).map(k =>
        s"\n got: ${gotM(k)}\nwant: ${wantM(k)}").mkString)
    assert(got.size == want.size)
  }

  test("mode=light matches reference-derived golden fixtures")(check("light"))
  test("fused Expression gather == HOF expression-chain gather") {
    // every level's raw text: twin == fused candidates at all three,
    // plus the goldens below, is the HOF path matching the goldens
    val ocr = Pipeline.ocrAll(docs).toDF()
    Seq("light_raw", "premium_raw", "optimum_raw").foreach { raw =>
      val both = HofTwins.withGather(ocr, raw, "h")
        .select(MultiAnalyteGather.one(col(raw), AnalyteExtract.Tsh)
          .cast("string"), col("h").cast("string"))
        .as[(String, String)].collect()
      assert(both.length == 200 && both.forall { case (f, h) => f == h }, raw)
    }
  }
  test("mode=premium matches reference-derived golden fixtures")(check("premium"))
  test("mode=optimum matches reference-derived golden fixtures")(check("optimum"))
  test("mode=auto (columnar cascade) matches golden fixtures")(check("auto"))
  test("mode=auto (iterative cascade) matches golden fixtures")(
    check("auto", iterative = true))

  test("quirk Q3: unaccented '3eme generation' yields value 3.0") {
    // family 3 docs: i % 16 == 3
    val got = Pipeline.extractRows(docs.filter($"doc_id" === "doc00000019"), "optimum")
      .filter($"kind" === "value").select("text").as[String].collect()
    assert(got.toSeq == Seq("3.0"))
  }

  test("quirk Q2: auto discards light's rangeless parse when optimum fails") {
    // family 14 (Q2): light parses value (no range), optimum corrupts the
    // line -> auto must be a TSH_NOT_FOUND failure, light's value lost
    val q2 = docs.filter($"doc_id" === "doc00000014")
    val light = Pipeline.extractRows(q2, "light").filter($"kind" === "value")
      .select("text").as[String].collect()
    assert(light.nonEmpty, "Q2 doc should parse a value at light")
    val auto = Pipeline.extractRows(q2, "auto")
      .filter($"kind" === "error").select("text").as[String].collect()
    assert(auto.toSeq == Seq("TSH_NOT_FOUND"))
  }

  test("skew-aware path produces identical spans") {
    val skewDocs = Corpus.generate(spark, 300, skew = true)
    SkewBranches.assertBoth(skewDocs)
    val base = Pipeline.extract(skewDocs, "auto").orderBy("doc_id")
      .as[(String, Seq[graft.schema.OutSpan])].collect().toSeq
    val skew = Pipeline.extractSkewAware(skewDocs, "auto")
      .orderBy("doc_id")
      .as[(String, Seq[graft.schema.OutSpan])].collect().toSeq
    assert(skew == base)
  }

  test("skew path is mode-aware: explicit light pays ONE ocrPage per media span") {
    import graft.media.{OcrEngine, OcrEnginePool, SimulatedOcr}
    val counter = new java.util.concurrent.atomic.AtomicLong(0)
    class CountingEngine extends OcrEngine {
      override def ocrPage(level: String, ref: String) = {
        counter.incrementAndGet()
        SimulatedOcr.ocrPage(level, ref)
      }
    }
    val skewDocs = Corpus.generate(spark, 120, skew = true).cache()
    SkewBranches.assertBoth(skewDocs)
    val nMedia = skewDocs.collect()
      .map(_.spans.count(_.kind == "media")).sum.toLong
    // NO orderBy before collect here: range partitioning runs a sampling
    // job that would execute the OCR mapPartitions a second time and
    // break the exact call count — sort driver-side instead
    val expected = Pipeline.extract(skewDocs, "light")
      .as[(String, Seq[graft.schema.OutSpan])].collect().toSeq.sortBy(_._1)
    OcrEnginePool.install(() => new CountingEngine)
    try {
      val got = Pipeline.extractSkewAware(skewDocs, "light")
        .as[(String, Seq[graft.schema.OutSpan])].collect().toSeq.sortBy(_._1)
      assert(got == expected, "mode-aware skew path changed the spans")
      // before the fix heavy docs paid 3 levels per page regardless of
      // mode; now every media span (heavy AND normal) costs exactly one
      assert(counter.get() == nMedia,
        s"expected $nMedia ocrPage calls for mode=light, got ${counter.get()}")
    } finally OcrEnginePool.install(() => SimulatedOcr)
  }

  test("output is invariant under repartitioning (determinism, Q7)") {
    def run(d: org.apache.spark.sql.Dataset[graft.schema.DocRow]) =
      Pipeline.extractRows(d, "auto")
        .select(col("doc_id"), lit("auto").as("mode"), col("kind"), col("text"),
          col("media_ref"), col("order"))
        .orderBy("doc_id", "order").as[Fx].collect().toSeq
    val base = run(docs)
    val re = run(docs.repartition(17).sortWithinPartitions("spans"))
    assert(re == base)
  }
}
