package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.Corpus
import graft.extract.{AnalyteExtract, HofTwins, MultiAnalyteGather}

/** Generic lab-entity surface (north_star: analyte name, value, unit,
  * reference range, date). The cross-engine hash check lives in the
  * q43/q44 DuckDB oracles (independent Python implementation); these
  * pin the Spark-side semantics directly.
  */
class AnalyteSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("TSH is an instance of the generic machinery (delegation is exact)") {
    val raws = Seq(
      "TSH 2,35 mUI/L (0,27 - 4,20)",
      "bruit\nThyréostimuline 1,1 mUI/L 027 - 494\nTSH 2,0",
      "rien", "valeur 2,1 mUI/L (0,4 - 4,0)", null)
    val df = raws.toDF("raw")
    // the generic compiled gather with the Tsh patterns == TSH's
    // labelled phase (the reference-pattern twin), null raw included
    val labelled = df.select(MultiAnalyteGather.one(col("raw"),
      AnalyteExtract.Tsh.copy(muiFallback = false))
      .cast("string")).as[String].collect().toSeq
    val viaTsh = df.select(HofTwins.tshLabelledCandidates(col("raw"))
      .cast("string")).as[String].collect().toSeq
    assert(labelled == viaTsh)
    // ... and the full Tsh config adds exactly the two-phase fallback
    val full = HofTwins.withGather(df, "raw", "h")
      .select(MultiAnalyteGather.one(col("raw"), AnalyteExtract.Tsh)
        .cast("string"), col("h").cast("string"))
      .as[(String, String)].collect().toSeq
    assert(full.forall { case (f, h) => f == h }, full)
    assert(full(3)._1.contains("fallback"), full(3))
  }

  test("fused AnalyteGather == HOF labelled chain, byte-identical per analyte") {
    val ocr = Pipeline.ocrAll(Corpus.generate(spark, 200)).toDF().cache()
    // withEntities' candidate arrays (pre-best), every secondary config
    AnalyteExtract.Secondary.foreach { cfg =>
      val both = ocr.select(
        MultiAnalyteGather.one(col("optimum_raw"), cfg)
          .cast("string").as("f"),
        HofTwins.labelledCandidates(col("optimum_raw"), cfg.label, cfg.unit)
          .cast("string").as("h"))
        .as[(String, String)].collect()
      assert(both.length == 200 && both.forall { case (f, h) => f == h }, cfg.name)
    }
  }

  test("single-pass MultiAnalyteGather == one AnalyteGather per config, byte-identical") {
    val ocr = Pipeline.ocrAll(Corpus.generate(spark, 200)).toDF()
    // Tsh included: its fallback phase is per config inside the pass
    val cfgs = AnalyteExtract.Tsh +: AnalyteExtract.Secondary
    val multi = ocr.select(MultiAnalyteGather.of(col("optimum_raw"), cfgs)
        .cast("string").as("m"))
      .as[String].collect()
    val single = ocr.select(array(cfgs.map(c =>
        MultiAnalyteGather.one(col("optimum_raw"), c)): _*)
        .cast("string").as("s"))
      .as[String].collect()
    assert(multi.nonEmpty && multi.toSeq == single.toSeq)
    // null raw behaves like the per-analyte path: one empty array per cfg
    val nullRow = Seq(Option.empty[String]).toDF("raw")
      .select(MultiAnalyteGather.of(col("raw"), cfgs).cast("string"))
      .as[String].head()
    assert(nullRow == Seq.fill(cfgs.length)("[]").mkString("[", ", ", "]"))
  }

  test("withEntities' lambda-free concat == the filter twin, schema and nullability included") {
    val cfgs = AnalyteExtract.Secondary
    val df = AnalyteExtract.withEntities(
        Pipeline.ocrAll(Corpus.generate(spark, 200)).toDF(), "optimum_raw", "ents")
      .withColumn("twin", HofTwins.entitiesByFilter("ents", cfgs))
    assert(df.schema("ents") == df.schema("twin").copy(name = "ents"))
    val both = df.select(col("ents").cast("string"), col("twin").cast("string"),
        size(col("ents"))).as[(String, String, Int)].collect()
    assert(both.length == 200 && both.forall { case (e, t, _) => e == t })
    // non-vacuous: docs with no entity, some and all of them
    val sizes = both.map(_._3).toSet
    assert(sizes.contains(0) && sizes.contains(cfgs.length) &&
      sizes.exists(n => n > 0 && n < cfgs.length), sizes)
    val plan = df.drop("twin").queryExecution.executedPlan.toString
    assert(!plan.contains("lambdafunction"), plan)
  }

  test("secondary analytes recover the seeded corpus values") {
    val docs = Corpus.generate(spark, 200)
    val ents = AnalyteExtract.withEntities(
        Pipeline.ocrAll(docs).toDF(), "optimum_raw", "ents")
      .select(col("doc_id"), explode_outer(col("ents")).as("e"))
      .filter(col("e").isNotNull)
      .select(col("doc_id"), col("e.analyte"), col("e.value"), col("e.unit"))
      .as[(String, String, Double, String)].collect()
    val byAnalyte = ents.groupBy(_._2).view.mapValues(_.length).toMap
    // all four secondary analytes occur (fillers are seeded templates)
    assert(Set("glycemia", "hemoglobin", "creatinine", "cholesterol")
      .subsetOf(byAnalyte.keySet), s"missing analytes: $byAnalyte")
    // values live in the seeded generator ranges
    ents.foreach {
      case (_, "glycemia", v, u) =>
        assert(v >= 0.70 && v <= 1.29 && u == "g/L", s"glycemia $v $u")
      case (_, "hemoglobin", v, u) =>
        assert(v >= 11.5 && v <= 17.4 && u == "g/dL", s"hemoglobin $v $u")
      case (_, "creatinine", v, u) =>
        assert(v == 75.0 && u == "µmol/L", s"creatinine $v $u")
      case (_, "cholesterol", v, u) =>
        assert(v == 1.9 && u == "g/L", s"cholesterol $v $u")
      case other => fail(s"unexpected analyte row: $other")
    }
  }

  test("report date: ISO from full text, null from the cropped light view") {
    val docs = Corpus.generate(spark, 100)
    val got = Pipeline.ocrAll(docs).toDF()
      .select(col("doc_id"),
        AnalyteExtract.reportDateIso(col("optimum_raw")).as("d"),
        AnalyteExtract.reportDateIso(col("light_raw")).as("ld"))
      .as[(String, Option[String], Option[String])].collect()
    // light/premium crop drops the page header -> no date from light
    assert(got.forall(_._3.isEmpty))
    val withDate = got.filter(_._2.isDefined)
    assert(withDate.length > 50) // media-bearing readable docs carry one
    withDate.foreach { case (id, Some(d), _) =>
      val i = id.stripPrefix("doc").toLong
      val Array(dd, mm, yyyy) = Corpus.reportDate(i).split("/")
      assert(d == s"$yyyy-$mm-$dd", s"$id: $d vs ${Corpus.reportDate(i)}")
    }
  }
}
