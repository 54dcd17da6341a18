package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.extract.TshExtract

/** Property-based invariants (SURVEY.md §5.2.3). Cases are generated
  * with ScalaCheck generators (fixed seed -> reproducible), then
  * evaluated in ONE Spark job per property (per-case jobs would be
  * minutes of scheduler overhead for no extra coverage).
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def sample[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(seed + i)))

  private val numGen: Gen[String] = for {
    sign <- Gen.oneOf("", "+", "-")
    int <- Gen.choose(0L, 99999L)
    dec <- Gen.option(Gen.choose(0, 999))
    sep <- Gen.oneOf(",", ".")
  } yield sign + int + dec.map(d => s"$sep$d").getOrElse("")

  test("N3 toFloat == comma-to-dot Double parse on all NUM-shaped strings") {
    val cases = sample(numGen, 300, 1001L)
    val got = cases.toDF("s")
      .select(col("s"), TshExtract.toFloat(col("s")).as("v"))
      .as[(String, Option[Double])].collect().toMap
    cases.foreach { s =>
      val want = Some(s.replace(",", ".").toDouble)
      assert(got(s) == want, s"N3($s)")
    }
  }

  test("N4 adjustRefValue digit-class model holds for generated inputs") {
    val digitGen = Gen.choose(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.numChar).map(_.mkString))
    val cases = (sample(digitGen, 200, 2002L) ++ sample(numGen, 100, 3003L)).distinct
    val got = cases.toDF("s")
      .select(col("s"), TshExtract.adjustRefValue(col("s")).as("v"))
      .as[(String, Option[Double])].collect().toMap
    cases.foreach { s =>
      val want: Option[Double] =
        if (s.contains(",") || s.contains(".")) Some(s.replace(",", ".").toDouble)
        else {
          val digits = s.filter(_.isDigit)
          if (digits.isEmpty) None
          else {
            val v = digits.toDouble
            Some(if (digits.length >= 4) v / 1000.0
            else if (digits.length == 3) v / 100.0 else v)
          }
        }
      assert(got(s) == want, s"N4($s)")
    }
  }

  // filler lines guaranteed label-free, digit-free, unit-free
  private val fillerGen: Gen[String] = Gen.listOfN(4,
    Gen.oneOf("lorem", "dolor", "amet", "sed", "elit", "magna", "veniam"))
    .map(_.mkString(" "))

  test("surrounding a labelled line with non-matching fillers never changes the parse") {
    val caseGen = for {
      nBefore <- Gen.choose(0, 6)
      nAfter <- Gen.choose(0, 6)
      before <- Gen.listOfN(nBefore, fillerGen)
      after <- Gen.listOfN(nAfter, fillerGen)
      v <- Gen.choose(10, 500)
    } yield {
      val line = s"TSH ${v / 100.0}".replace('.', ',') + " mUI/L (0,27 - 4,20)"
      (line, (before :+ line) ++ after)
    }
    val cases = sample(caseGen, 150, 4004L).zipWithIndex
    val in = cases.flatMap { case ((line, doc), i) =>
      Seq((s"bare-$i", line), (s"wrapped-$i", doc.mkString("\n")))
    }.toDF("id", "raw")
    val parsed = Pipeline.withLevelResult(in, "raw", "r")
      .select(col("id"), col("r.ok"), col("r.value"), col("r.unit"),
        col("r.ref_min"), col("r.ref_max"), col("r.confidence"))
      .as[(String, Boolean, Option[Double], Option[String], Option[Double],
        Option[Double], Option[String])]
      .collect().map(t => t._1 -> t.productIterator.drop(1).toSeq).toMap
    cases.foreach { case (_, i) =>
      assert(parsed(s"bare-$i") == parsed(s"wrapped-$i"), s"case $i")
    }
  }

  test("fused AnalyteGather == HOF chain on generated noisy lab lines") {
    val cfg = graft.extract.AnalyteExtract.Glycemia
    val lineGen: Gen[String] = for {
      label <- Gen.oneOf("Glycémie", "glycemie", "GLYCÉMIE", "Glucose") // last never matches
      pad <- Gen.oneOf("", " ", "  :", " \t")
      v <- Gen.choose(50, 250)
      unit <- Gen.oneOf(" g/L", " g/ L", " mmol/L", " mU", "")
      range <- Gen.oneOf("", " (0,70 - 1,10)", " 070 - 110", " 0.7 à 1.1")
      noise <- fillerGen
    } yield s"$label$pad ${v / 100.0}".replace('.', ',') + s"$unit$range\n$noise"
    val docGen = Gen.choose(1, 4).flatMap(n =>
      Gen.listOfN(n, lineGen).map(_.mkString("\n")))
    val cases = sample(docGen, 250, 5005L).zipWithIndex
      .map { case (raw, i) => (i.toLong, raw) }
    val both = cases.toDF("id", "raw").select(col("id"),
      graft.extract.MultiAnalyteGather.one(col("raw"), cfg)
        .cast("string").as("f"),
      graft.extract.HofTwins.labelledCandidates(col("raw"),
        cfg.label, cfg.unit).cast("string").as("h"))
      .as[(Long, String, String)].collect()
    assert(both.length == cases.length)
    both.foreach { case (i, f, h) =>
      assert(f == h, s"case $i: fused $f != HOF $h\nraw=<${cases(i.toInt)._2}>")
    }
  }

  test("BoundedTopK == naive top-N under random data, partitionings, and k") {
    // the custom aggregate's heap update/merge/serialize paths vs a
    // driver-side reference, across partition counts (1 partition = no
    // merge; 16 = heavy partial-merge traffic) and quality tie density
    val rnd = new scala.util.Random(77)
    val rows = (0 until 2000).map { i =>
      (i.toLong, s"s${rnd.nextInt(7)}", rnd.nextInt(12).toLong) // dense ties
    }
    val expected = (k: Int) => rows.groupBy(_._2).flatMap { case (_, rs) =>
      rs.sortBy { case (id, _, q) => (-q, id) }.take(k).map(_._1)
    }.toSeq.sorted
    for (parts <- Seq(1, 3, 16); k <- Seq(1, 5, 50)) {
      val df = rows.toDF("id", "src", "q").repartition(parts)
      val got = graft.analysis.TextOps.sourceQuota(df, col("id"), col("src"),
        col("q"), k).select("id").as[Long].collect().sorted.toSeq
      assert(got == expected(k), s"parts=$parts k=$k: mismatch")
    }
  }

  test("CurationFeatures == Java regexes on random unicode-ish strings") {
    // independent driver-side reference: the actual java.util.regex
    // patterns the HOF chain compiles, run on the same strings — any
    // divergence in the fused walks' \p{L}/\s/\b emulation fails here
    import java.util.regex.Pattern
    val tokRe = Pattern.compile("[\\p{L}0-9']+")
    val punctRe = Pattern.compile("[^\\p{L}0-9\\s]")
    val markerRes = (graft.extract.HofTwins.LangMarkers.map(_._2) :+
      Seq("the", "a", "of", "and", "to", "in", "is", "it")
        .mkString("\\b(?:", "|", ")\\b")).map(Pattern.compile)
    def count(p: Pattern, s: String): Int = {
      val m = p.matcher(s); var n = 0; while (m.find()) n += 1; n
    }
    val alphabet = "ab1 '9_é ß-ıİ\t\n&;le the%#带 ".toCharArray
    val rnd = new scala.util.Random(31337)
    val cases = (0 until 2000).map { _ =>
      (0 until rnd.nextInt(60)).map(_ => alphabet(rnd.nextInt(alphabet.length)))
        .mkString
    } ++ Seq("", "the", "théle les", "ß the ß", "İ is İ")
    val got = cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
      .select(col("id"), graft.analysis.CurationFeatures.of(col("text")).as("cf"))
      .select(col("id"), col("cf.n_tokens"), col("cf.n_punct"),
        col("cf.s_en"), col("cf.s_fr"), col("cf.s_de"), col("cf.s_es"),
        col("cf.n_stopwords"))
      .as[(Long, Int, Int, Int, Int, Int, Int, Int)].collect().sortBy(_._1)
    got.foreach { case (i, nt, np, en, fr, de, es, stop) =>
      val t = cases(i.toInt)
      val lower = org.apache.spark.unsafe.types.UTF8String.fromString(t)
        .toLowerCase.toString
      assert(nt == count(tokRe, lower), s"n_tokens on <$t>")
      assert(np == count(punctRe, t), s"n_punct on <$t>")
      val ms = markerRes.map(count(_, lower))
      assert((en, fr, de, es, stop) == ((ms(0), ms(1), ms(2), ms(3), ms(4))),
        s"marker counts on <$t>: got ${(en, fr, de, es, stop)} want $ms")
    }
  }

  test("doc set permutation / duplication-of-partitioning invariance") {
    val docs = graft.corpus.Corpus.generate(spark, 64)
    def run(d: org.apache.spark.sql.Dataset[graft.schema.DocRow]) =
      Pipeline.extract(d, "auto").orderBy("doc_id")
        .as[(String, Seq[graft.schema.OutSpan])].collect().toSeq
    assert(run(docs.orderBy(col("doc_id").desc)) == run(docs))
  }
}
