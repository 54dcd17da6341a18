package graft.extract

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Pipeline, SparkTestSession}
import graft.corpus.Corpus

/** Best-pick (`array_min`) and span assembly (one native call) are exact
  * rewrites of the lambda forms they replaced, kept as the test-scope
  * twins `HofTwins.bestBySort` and `HofTwins.assembleByFilter`: same
  * values, same rendering, same data type (nullability included).
  */
class SpanAssemblySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** The gather's candidate struct with every field and element nullable. */
  private val candType = ArrayType(StructType(
    MultiAnalyteGather.schema.asInstanceOf[ArrayType].elementType
      .asInstanceOf[StructType].fields.map(_.copy(nullable = true))), containsNull = true)

  /** Random candidate arrays over small domains, so exact ties and
    * ties that differ only in the sign of a zero are common; some
    * arrays are NULL, empty, or hold NULL elements.
    */
  private def randomCands(n: Int, seed: Long): Seq[Row] = {
    val rnd = new Random(seed)
    def pick[T](xs: T*): T = xs(rnd.nextInt(xs.size))
    def zeroFlip(d: Any): Any = d match {
      case x: Double if x == 0.0 => -x
      case x => x
    }
    def cand(): Row = Row(pick(0, 1), pick(0, 1, 2, 3), pick(0, 1, 2), pick(0, 1),
      pick(0.0, -0.0, 1.5, Double.NaN, null), pick("mUI/L", "µUI/mL", null),
      pick(0.27, 0.0, -0.0, null), pick(4.2, 0.0, -0.0, null), pick("TSH", "tsh us", null))
    Seq.fill(n) {
      if (rnd.nextInt(20) == 0) Row(null)
      else {
        val elems = scala.collection.mutable.ArrayBuffer.fill(rnd.nextInt(6))(
          if (rnd.nextInt(10) == 0) null else cand())
        val live = elems.filter(_ != null)
        if (live.nonEmpty && rnd.nextInt(3) == 0) // an exact copy
          elems.insert(rnd.nextInt(elems.size + 1), live(rnd.nextInt(live.size)))
        if (live.nonEmpty && rnd.nextInt(3) == 0) { // equal but for zero signs
          val r = live(rnd.nextInt(live.size))
          elems.insert(rnd.nextInt(elems.size + 1), Row.fromSeq(r.toSeq.map(zeroFlip)))
        }
        Row(elems.toSeq)
      }
    }
  }

  /** A local-rows frame runs interpreted (the optimizer folds the
    * projection into the local relation); after a shuffle the same
    * projection runs as generated code. Check both.
    */
  private def bothPaths(df: DataFrame): Seq[DataFrame] = Seq(df, df.repartition(3))

  test("array_min best-pick == array_sort head on 5,000 random candidate arrays") {
    val df = spark.createDataFrame(randomCands(5000, 1111L).asJava,
      StructType(Seq(StructField("c", candType))))
    bothPaths(df).foreach { in =>
      val picked = in.select(TshExtract.best(col("c")).as("b"),
        HofTwins.bestBySort(col("c")).as("t"))
      assert(picked.schema("b").dataType == picked.schema("t").dataType)
      assert(picked.schema("b").nullable == picked.schema("t").nullable)
      val both = picked.select(col("b").cast("string"), col("t").cast("string"),
        col("t").isNull).collect()
      val diffs = both.filter(r => r.get(0) != r.get(1))
      assert(diffs.isEmpty, s"${diffs.length} picks differ; first: ${diffs.take(3).mkString("\n")}")
      // non-vacuous: NULL results (and the tied minima below)
      assert(both.count(_.getBoolean(2)) > 300)
    }
    // minima tied with a differently rendered element: only the
    // first-of-equals rule picks those apart
    val tiedApart = df.select(HofTwins.bestBySort(col("c")).as("t"), col("c"))
      .select(size(array_distinct(transform(filter(col("c"), e => e <=> col("t")),
        e => e.cast("string")))).as("n"))
      .filter(col("n") > 1).count()
    assert(tiedApart > 200, tiedApart)
  }

  test("array_min best-pick == array_sort head on the corpus candidates at every level") {
    val ocr = Pipeline.ocrAll(Corpus.generate(spark, 200)).toDF()
    Seq("light_raw", "premium_raw", "optimum_raw").foreach { raw =>
      val c = MultiAnalyteGather.one(col(raw), AnalyteExtract.Tsh)
      val both = ocr.select(TshExtract.best(c).cast("string"),
        HofTwins.bestBySort(c).cast("string")).collect()
      assert(both.length == 200 && both.forall(r => r.get(0) == r.get(1)), raw)
    }
  }

  private val resultType = StructType(Seq(
    StructField("ok", BooleanType, nullable = false),
    StructField("value", DoubleType), StructField("unit", StringType),
    StructField("ref_min", DoubleType), StructField("ref_max", DoubleType),
    StructField("confidence", StringType), StructField("error", StringType),
    StructField("raw_text", StringType)))

  /** Both encodings of `df`'s (r, fmr) rows, and their data types. */
  private def assembleBoth(df: DataFrame): (Seq[(Seq[Row], Seq[Row])], DataType, DataType) = {
    val out = df.select(SpanAssembly.assemble(col("r"), col("fmr")).as("a"),
      HofTwins.assembleByFilter(col("r"), col("fmr")).as("t"))
    (out.collect().toSeq.map(r => (r.getSeq[Row](0), r.getSeq[Row](1))),
      out.schema("a").dataType, out.schema("t").dataType)
  }

  test("span assembly == filter/transform twin on every result shape") {
    val present = for {
      unit <- Seq("mUI/L", null); refMin <- Seq(-0.0, null)
      refMax <- Seq(1.0E-4, null); raw <- Seq("TSH 2,5\nfin", null)
    } yield Row(true, 2.5, unit, refMin, refMax, "medium", null, raw)
    val failures = Seq(Row(false, null, null, null, null, null, "TSH_NOT_FOUND", "brut"),
      Row(false, null, null, null, null, null, "OCR_FAILED", null))
    val rows = for {
      r <- present ++ failures; fmr <- Seq("doc/p1.png", "", null)
    } yield Row(r, fmr)
    assert(rows.size == 54)
    val df = spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("r", resultType, nullable = false), StructField("fmr", StringType))))
    bothPaths(df).foreach { in =>
      val (pairs, got, want) = assembleBoth(in)
      assert(got == want, s"$got != $want")
      pairs.foreach { case (a, t) => assert(a == t, s"\n got: $a\nwant: $t") }
      // every ok shape emits marker, value, its present optionals, confidence
      val sizes = pairs.map(_._1.size)
      assert(sizes.min == 2 && sizes.max == 7, sizes.distinct.sorted)
    }
  }

  test("span assembly == filter/transform twin on the corpus results of every mode") {
    val docs = Corpus.generate(spark, 200)
    Pipeline.Modes.foreach { mode =>
      val res = Pipeline.results(docs, mode).withColumnRenamed("first_media_ref", "fmr")
      val (pairs, got, want) = assembleBoth(res)
      assert(got == want, mode)
      assert(pairs.size == 200 && pairs.forall { case (a, t) => a == t }, mode)
    }
  }
}
