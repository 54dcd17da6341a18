package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.extract.GraftFunctions

/** The SQL surface of the fused parse expression. */
class SqlFunctionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("tsh_gather_candidates is callable from SQL") {
    GraftFunctions.register(spark)
    import spark.implicits._
    Seq("TSH 2,35 mUI/L (0,27 - 4,20)", "rien ici")
      .toDF("raw").createOrReplaceTempView("sql_docs")
    val rows = spark.sql(
      """SELECT c.value, c.unit, c.ref_min, c.ref_max
        |FROM sql_docs LATERAL VIEW explode(tsh_gather_candidates(raw)) t AS c
        |""".stripMargin)
      .as[(Double, String, Double, Double)].collect().toSeq
    assert(rows == Seq((2.35, "mUI/L", 0.27, 4.2)))
  }

  test("SQL path treats NULL like the DataFrame path (empty array, not null)") {
    GraftFunctions.register(spark)
    // reference: _normalize_text(None) -> '' -> zero candidates
    val got = spark.sql(
      "SELECT size(tsh_gather_candidates(CAST(NULL AS string))) AS n")
      .collect().head.getInt(0)
    assert(got == 0)
  }

  test("SQL path validates arity with a clear error") {
    GraftFunctions.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT tsh_gather_candidates('a', 'b')").collect()
    }
    assert(e.getMessage.contains("exactly 1 argument"))
  }

  test("SQL candidate gathers == the DataFrame candidate columns on the 200-doc corpus") {
    GraftFunctions.register(spark)
    import org.apache.spark.sql.functions.{col, expr}
    import spark.implicits._
    import graft.extract.AnalyteExtract
    val levels = Seq("light_raw", "premium_raw", "optimum_raw")
    val ocr = Pipeline.ocrAll(graft.corpus.Corpus.generate(spark, 200)).toDF()
    val withTsh = levels.foldLeft(ocr)((d, raw) =>
      Pipeline.withLevelResult(d, raw, s"t_$raw"))
    val cfgs = AnalyteExtract.Secondary
    val df = AnalyteExtract.withEntities(withTsh, "optimum_raw", "e", cfgs)
    def sqlStr(s: String) = "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    val pairs =
      levels.map(raw => (s"tsh_gather_candidates($raw)", s"t_${raw}_cands")) ++
        cfgs.map(c => (s"analyte_gather_candidates(optimum_raw, " +
          s"${sqlStr(c.label)}, ${sqlStr(c.unit)})", s"e_${c.name}_cands"))
    pairs.foreach { case (sql, dfCol) =>
      val both = df.select(expr(sql).cast("string"), col(dfCol).cast("string"))
        .as[(String, String)].collect()
      assert(both.length == 200 && both.forall { case (s, d) => s == d }, sql)
    }
  }

  test("sketch expressions are SQL-callable: shingle_hashes + minhash_signature") {
    GraftFunctions.register(spark)
    import spark.implicits._
    Seq("the quick brown fox jumps").toDF("text")
      .createOrReplaceTempView("sql_sketch_docs")
    val row = spark.sql(
      """SELECT size(shingle_hashes(split(text, ' '), 3)) AS n_sh,
        |       size(minhash_signature(shingle_hashes(split(text, ' '), 3), 8)) AS m
        |FROM sql_sketch_docs""".stripMargin)
      .as[(Int, Int)].head()
    assert(row == ((3, 8))) // 5 tokens -> 3 trigrams; m = 8 slots
    val e = intercept[Exception] {
      spark.sql("SELECT minhash_signature(array(1L), 1 + 1)").collect()
    }
    assert(e.getMessage.contains("integer literal"))
  }

  test("NULL array elements from SQL match the HOF twins, no undefined reads") {
    GraftFunctions.register(spark)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // minhash_signature(array(1L, NULL), m): the HOF twin's xxhash64(p, h)
    // SKIPS a null argument -> hashInt(p, 42) for that slot
    val sql = spark.sql(
      "SELECT minhash_signature(array(1L, CAST(NULL AS bigint)), 4) AS s")
      .as[Seq[Long]].head()
    val hof = spark.sql("SELECT array(1L, CAST(NULL AS bigint)) AS hs")
      .select(graft.extract.HofTwins.minhashSignature0(col("hs"), 4))
      .as[Seq[Long]].head()
    assert(sql == hof, s"fused $sql != HOF $hof on a null element")
    // shingle_hashes over a null token: concat_ws skips nulls both ways
    val sqlSh = spark.sql(
      "SELECT shingle_hashes(array('a', CAST(NULL AS string), 'b'), 2) AS s")
      .as[Seq[Long]].head()
    val hofSh = spark.sql("SELECT array('a', CAST(NULL AS string), 'b') AS toks")
      .select(array_distinct(graft.extract.HofTwins.shingleHashes(
        transform(sequence(lit(0), size(col("toks")) - 2),
          i => concat_ws(" ", slice(col("toks"), i + lit(1), lit(2)))))))
      .as[Seq[Long]].head()
    assert(sqlSh == hofSh, s"fused $sqlSh != HOF $hofSh on a null token")
  }

  test("the full fused-expression surface is SQL-callable") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val row = spark.sql(
      """SELECT simhash64(array(xxhash64('a'), xxhash64('b'))) AS sh,
        |  cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS cs,
        |  size(sign_buckets(array(0.5d, -0.5d), 4, 2)) AS nb,
        |  size(minhash_band_keys(array(1L, 2L, 3L, 4L), 2)) AS nk,
        |  size(analyte_gather_candidates(
        |    'Glycémie 0,95 g/L (0,70 - 1,10)',
        |    '(?iU)glyc[ée]mie', '(?iU)(?:g ?/?L|mmol/?L)')) AS na,
        |  size(analyte_gather_candidates(CAST(NULL AS string),
        |    '(?iU)glyc[ée]mie', '(?iU)g ?/?L')) AS nnull
        |""".stripMargin)
      .as[(Long, Double, Int, Int, Int, Int)].head()
    assert(row._2 == 1.0 && row._3 == 2 && row._4 == 2)
    assert(row._5 == 1, "labelled analyte line should yield one candidate")
    assert(row._6 == 0, "null raw must behave like empty text")
    // literal-argument validation fails loudly
    val e = intercept[Exception] {
      spark.sql("SELECT analyte_gather_candidates('x', upper('a'), 'b')").collect()
    }
    assert(e.getMessage.contains("string literal"))
  }

  test("redact_pii / url_host are SQL-callable and match the DataFrame path") {
    GraftFunctions.register(spark)
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val df = Seq(
      ("a@b.co at 10.0.0.1 call 555-123-4567", "https://www.Ex.COM:80/p"),
      ("clean", "host.only")).toDF("t", "u")
    df.createOrReplaceTempView("sql_pii_docs")
    val sql = spark.sql(
      "SELECT redact_pii(t) AS c, url_host(u) AS h FROM sql_pii_docs")
      .as[(String, String)].collect().toSeq
    val api = df.select(
      graft.analysis.TextOps.redactPii(col("t")).as("c"),
      graft.analysis.TextOps.urlHost(col("u")).as("h"))
      .as[(String, String)].collect().toSeq
    assert(sql == api)
    assert(sql.head == (("<EMAIL> at <IP> call <PHONE>", "ex.com")))
    // null propagates like the built-ins both surfaces compose
    assert(spark.sql("SELECT redact_pii(CAST(NULL AS string)) AS c")
      .collect().head.isNullAt(0))
  }

  test("bounded_top_k aggregate is SQL-callable with the (quality desc, id asc) rule") {
    GraftFunctions.register(spark)
    import spark.implicits._
    Seq((1L, "a", 10L), (2L, "a", 30L), (3L, "a", 30L), (4L, "a", 50L),
      (5L, "b", 5L)).toDF("id", "src", "q")
      .createOrReplaceTempView("sql_quota_docs")
    val rows = spark.sql(
      """SELECT src, bounded_top_k(q, id, 2) AS keep
        |FROM sql_quota_docs GROUP BY src ORDER BY src""".stripMargin)
      .as[(String, Seq[Long])].collect().toSeq
    assert(rows == Seq("a" -> Seq(4L, 2L), "b" -> Seq(5L)))
    // k must be a literal (it sizes the heap at plan time)
    val e = intercept[Exception] {
      spark.sql("SELECT bounded_top_k(q, id, id) FROM sql_quota_docs").collect()
    }
    assert(e.getMessage.contains("integer literal"))
  }

  test("dhash64 is SQL-callable and matches the DataFrame path") {
    GraftFunctions.register(spark)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // two 9x8 rasters: a gradient (alternating comparisons) and flat
    val grad = (0 until 72).map(p => (p * 7) % 251)
    val flat = Seq.fill(72)(128)
    val df = Seq((1, grad), (2, flat)).toDF("id", "gray")
    df.createOrReplaceTempView("sql_rasters")
    val sql = spark.sql("SELECT id, dhash64(gray) AS h FROM sql_rasters")
      .as[(Int, Long)].collect().toMap
    val api = df.select(col("id"), graft.media.DHash64.of(col("gray")).as("h"))
      .as[(Int, Long)].collect().toMap
    assert(sql == api)
    assert(sql(2) == 0L, "flat raster has no rising gradients")
    // wrong-length raster fails fast, not silently
    val e = intercept[Exception] {
      spark.sql("SELECT dhash64(array(1, 2, 3))").collect()
    }
    assert(e.getMessage.contains("9x8") ||
      e.getCause != null && e.getCause.getMessage.contains("9x8"))
  }

  test("strip_markup is SQL-callable and matches the DataFrame path") {
    GraftFunctions.register(spark)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val html = "<p>A &amp; B</p><script>x()</script><div>C</div>"
    val viaSql = spark.sql(
      s"SELECT strip_markup('${html.replace("'", "''")}') AS c")
      .as[String].head()
    val viaDf = Seq(html).toDF("h")
      .select(graft.analysis.TextOps.stripMarkup(col("h"))).as[String].head()
    assert(viaSql == viaDf && viaSql == "A & B\nC")
    // a composition of built-ins propagates null like built-ins do
    assert(spark.sql("SELECT strip_markup(CAST(NULL AS string)) AS c")
      .filter("c IS NULL").count() == 1)
  }

  test("sign_buckets/minhash_band_keys: null elements + implicit casts match HOF") {
    GraftFunctions.register(spark)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // null vector element: HOF nulls every projection -> bucket 0/table
    val nullVec = spark.sql(
      "SELECT sign_buckets(array(1.0d, CAST(NULL AS double)), 4, 2) AS b")
      .select(col("b").cast("string")).as[String].head()
    assert(nullVec == "[{0, 0}, {1, 0}]", s"got $nullVec")
    // null signature slot: concat_ws SKIPS it — compare to the HOF twin
    val df = spark.sql("SELECT array(1L, CAST(NULL AS bigint), 3L, 4L) AS sig")
    val both = df.select(
      graft.analysis.MinhashBandKeys.of(col("sig"), 2).cast("string").as("f"),
      graft.extract.HofTwins.lshBandKeys(col("sig"), 4, 2).cast("string").as("h"))
      .as[(String, String)].head()
    assert(both._1 == both._2, s"fused ${both._1} != HOF ${both._2}")
    // implicit casts: float embeddings / int signatures are coerced, not
    // read with the wrong stride
    val f = spark.sql(
      """SELECT cosine_sim(CAST(array(1.0, 2.0) AS array<float>),
        |                  CAST(array(1.0, 2.0) AS array<float>)) AS c,
        |       size(minhash_band_keys(array(1, 2, 3, 4), 2)) AS nk,
        |       size(sign_buckets(CAST(array(0.5, -0.5) AS array<float>), 4, 1)) AS nb
        |""".stripMargin).as[(Double, Int, Int)].head()
    assert(math.abs(f._1 - 1.0) < 1e-12 && f._2 == 2 && f._3 == 1)
    // plan-time range validation on the SQL surface
    val e = intercept[Exception] {
      spark.sql("SELECT sign_buckets(array(1.0d), 100, 1)").collect()
    }
    assert(e.getMessage.contains("[1, 62]"))
    val e2 = intercept[Exception] {
      spark.sql("SELECT minhash_band_keys(array(1L), 0)").collect()
    }
    assert(e2.getMessage.contains(">= 1"))
  }

  test("unknown pipeline modes are rejected up front (app.py Literal enum)") {
    val docs = graft.corpus.Corpus.generate(spark, 4)
    val e = intercept[IllegalArgumentException] {
      Pipeline.results(docs, "bogus")
    }
    assert(e.getMessage.contains("unknown mode 'bogus'"))
    intercept[IllegalArgumentException] {
      Pipeline.extractSkewAware(docs, "turbo")
    }
  }
}
