package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.{LangId, LangProfiles, TextOps, VectorOps}
import graft.extract.HofTwins

/** Semantic checks for the training-data ops (beyond the DuckDB oracle
  * queries): MinHash-LSH recall on injected near-dups, ANN consistency
  * vs brute force, SimHash locality, known-value Jaccard, exact dedup.
  */
class AnalysisSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  lazy val docsPath = "/root/testdata/sf0.001"
  lazy val documents = spark.read.parquet(s"$docsPath/documents.parquet").cache()

  /** The executed plans of the actions `body` runs. A barrier's output
    * is a leaf in any plan built on it, so a property of the work
    * behind a barrier is read from the action that materialized it.
    */
  private def executedPlans(body: => Any): Seq[String] = {
    import org.apache.spark.sql.execution.QueryExecution
    val marker = "graft_plans_marker"
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.output.exists(_.name == marker)) drained.countDown()
        else plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // listener events arrive in order: once the marker action's event
      // is in, so is every event of `body`
      spark.range(1).toDF(marker).collect()
      assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  test("minhash LSH finds every injected near-duplicate (recall 1.0 at j~0.95)") {
    val base = documents.select(col("doc_id"), col("text")).filter(col("doc_id") < 100)
    val dups = base.select((col("doc_id") + 100000).as("doc_id"),
      concat(col("text"), lit(" zz")).as("text"))
    val pairs = TextOps.minhashDupPairs(base.unionByName(dups),
      col("doc_id"), col("text"), n = 3, m = 16, bands = 4, minJaccard = 0.8)
      .as[(Long, Long, Double)].collect()
    val found = pairs.map(p => (p._1, p._2)).toSet
    (0L until 100L).foreach { i =>
      assert(found.contains((i, i + 100000)), s"missed injected dup $i")
    }
    pairs.foreach(p => assert(p._3 >= 0.8 && p._3 <= 1.0))
  }

  test("stripMarkup: script/style/comment blocks, block tags, entities, ws") {
    val html = "<html><head><STYLE media=\"x\">p{}</STYLE><script src=\"a.js\">" +
      "var x = '<p>not content</p>';</script></head><body>\n" +
      "<h1 class=\"t\">Title</h1><!-- hidden\ntext --><p>Hello   world</p>" +
      "<DIV>A &amp; B &lt;kept&gt;&nbsp;C</DIV><span>inline</span></body></html>"
    val got = Seq(html).toDF("h")
      .select(TextOps.stripMarkup(col("h"))).as[String].head()
    // block tags become line breaks; span is inline (no break); the
    // decoded &lt;kept&gt; survives because entities decode AFTER
    // tag-strip; script content (incl. its embedded markup) is gone
    assert(got == "Title\nHello world\nA & B <kept> C\ninline", s"got [$got]")
    // plain text with no markup passes through (modulo ws collapse)
    val plain = Seq("two  spaces and\n\n\nblank  runs").toDF("h")
      .select(TextOps.stripMarkup(col("h"))).as[String].head()
    assert(plain == "two spaces and\nblank runs", s"got [$plain]")
    // numeric / hex character references and the extra named entities
    // decode (the fixed EntityDecodes table); the double-encoded
    // &amp;#39; degrades conservatively to the LITERAL &#39;
    val refs = Seq("<p>it&#39;s &#x27;q&#x27; &#34;d&#x22;&#160;A&#60;B &#x3c;kept&#x3E; " +
      "x&mdash;y&ndash;z&hellip; AT&#38;T &#x26;co &amp;#39; &amp;#38;</p>").toDF("h")
      .select(TextOps.stripMarkup(col("h"))).as[String].head()
    // every double-encoded form degrades to the LITERAL inner entity —
    // including &amp;#38; (the numeric amp forms decode before &amp;)
    assert(refs == "it's 'q' \"d\" A<B <kept> x—y–z… AT&T &co &#39; &#38;", s"got [$refs]")
  }

  test("boilerplate strip: corpus-frequent lines drop, content lines survive") {
    // 50 docs share header+footer; each has a unique body line; one
    // body line repeats in exactly minDocs-1 docs and must SURVIVE
    val docs = (0 until 50).map { i =>
      val nearMiss = if (i < 9) "\nalmost boilerplate" else ""
      (i.toLong, s"SITE NAV | HOME\nunique content line $i$nearMiss\n(c) footer 2026")
    }.toDF("doc_id", "text")
    val bp = TextOps.boilerplateLines(docs, col("doc_id"), col("text"), minDocs = 10L)
    assert(bp.count() == 2, "exactly header and footer are boilerplate")
    val kept = TextOps.stripBoilerplate(docs, col("doc_id"), col("text"), minDocs = 10L)
      .as[(Long, Long, String)].collect().toSeq
    assert(kept.size == 50 + 9, s"got ${kept.size}")
    assert(kept.forall { case (id, _, l) =>
      l == s"unique content line $id" || l == "almost boilerplate" })
    // line_no preserves in-doc position of kept lines
    assert(kept.filter(_._1 == 0L).map(_._2).sorted == Seq(1L, 2L))
    // threshold edge: at minDocs = 9 the near-miss line becomes boilerplate
    assert(TextOps.stripBoilerplate(docs, col("doc_id"), col("text"), 9L)
      .count() == 50)
  }

  test("reassemble inverts the line split; boilerplate strip composes to clean docs") {
    // boilerplate-free corpus: strip(asDocs = true) at an unreachable
    // threshold must be the identity on every (non-null-text) doc
    val base = documents.select(col("doc_id"), col("text")).filter(col("doc_id") < 50)
    val roundTrip = TextOps.stripBoilerplate(base, col("doc_id"), col("text"),
      minDocs = 1000000L, asDocs = true)
    val diff = roundTrip.join(base.withColumnRenamed("text", "orig"), "doc_id")
      .filter(col("text") =!= col("orig")).count()
    assert(diff == 0 && roundTrip.count() == 50)
    // with injected boilerplate: the reassembled doc is the original
    val wrapped = base.select(col("doc_id"),
      concat(lit("NAV | BAR\n"), col("text"), lit("\n(c) footer")).as("text"))
    val cleaned = TextOps.stripBoilerplate(wrapped, col("doc_id"), col("text"),
      minDocs = 40L, asDocs = true)
    val diff2 = cleaned.join(base.withColumnRenamed("text", "orig"), "doc_id")
      .filter(col("text") =!= col("orig")).count()
    assert(diff2 == 0 && cleaned.count() == 50)
    // a doc whose every line is boilerplate disappears from the output
    val allBp = (0 until 20).map(i => (i.toLong, "ONLY | BOILERPLATE"))
      .toDF("doc_id", "text")
    assert(TextOps.stripBoilerplate(allBp, col("doc_id"), col("text"),
      minDocs = 10L, asDocs = true).count() == 0)
  }

  test("fused CurationFeatures == regex chain (corpus + adversarial edges)") {
    import graft.analysis.CurationFeatures
    import org.apache.spark.sql.DataFrame
    // adversarial inputs for the exact-Java-regex semantics: \b's
    // word test is _|isLetterOrDigit on code points (NOT ASCII \w —
    // 'a' does not match inside 'aß', 'the' not inside 'theé'),
    // apostrophe tokens, digit runs, unicode whitespace (NBSP is NOT
    // Java \s, so it counts as punct), empty and markup-ish strings,
    // list-order alternation (le vs les); a text with no marker word
    // and null text (both pick the first language)
    val noMarker = "xyz 123 qrs"
    val edge = Seq(
      "", " ", "the", "thé", "xthé the_x the-x the", "l'été c'est",
      "a1'2b  3", "le les des le", "was is\tand\nof",
      "ist das der die und", "¡es una! ¿los las es?",
      "the the the", "it it of of a a", "#@| ~^_ 123",
      "ThE AnD oF iS wAs", "x_the_x the",
      "aß a ßa theé éthe the带 带the", "is' 'is ß_the_ß the", noMarker, null)
    val corpus = documents.select(col("text")).as[String].collect().toSeq
    val all = (edge ++ corpus).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = all.toDF("id", "text")
    // (id, counts...) rows by id; the null text's counts are all null
    def byId(d: DataFrame) = d.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    val fused = byId(df.select(col("id"), CurationFeatures.of(col("text")).as("cf"))
      .select(col("id"), col("cf.n_tokens"), col("cf.n_punct"),
        col("cf.n_stopwords"), col("cf.s_en"), col("cf.s_fr"), col("cf.s_de"),
        col("cf.s_es"), col("cf.n_chars")))
    val scores = HofTwins.langIdScores(col("text"))
    val hof = byId(df.select(col("id"),
        HofTwins.qualityFeatures(col("text")).as("f"),
        scores(0)._2.as("en"), scores(1)._2.as("fr"),
        scores(2)._2.as("de"), scores(3)._2.as("es"),
        length(col("text")).as("len"))
      .select(col("id"), col("f.n_tokens"), col("f.n_punct"),
        col("f.n_stopwords"), col("en"), col("fr"), col("de"), col("es"),
        col("len")))
    assert(fused.length == hof.length && fused.nonEmpty)
    fused.zip(hof).foreach { case (f, h) =>
      assert(f == h, s"mismatch on input <${all(f.head.asInstanceOf[Long].toInt)._2}>: " +
        s"fused $f vs regex $h")
    }
    // null text -> null struct, like the regex chain
    assert(Seq(Option.empty[String]).toDF("text")
      .select(CurationFeatures.of(col("text"))).collect().head.isNullAt(0))
    // the hygiene projection the curation verdict reads agrees per doc
    def feats(d: DataFrame) =
      d.select("doc_id", "lang_pred", "n_tokens", "punct_ratio")
        .as[(Long, String, Option[Int], Double)].collect().sortBy(_._1).toSeq
    val pf = feats(TextOps.curationFeatures(df, col("id"), col("text")))
    val ph = feats(HofTwins.curationFeatures(df, col("id"), col("text")))
    assert(pf.length == all.length && pf == ph)
    // all-zero marker scores and null text give the first language
    for (f <- Seq(pf, ph); t <- Seq(noMarker, null))
      assert(f(edge.indexOf(t))._2 == "en", s"lang_pred of <$t>: ${f(edge.indexOf(t))}")
  }

  test("curationFilter: min-id keeper per duplicate text, rejects never leak") {
    // keeper ids come from the RAW table (dedupStaged): rejected texts
    // must not leak in, and a lower-id REJECTED doc must not steal the
    // keeper slot of an unrelated passing text
    val good = Seq.fill(8)("the quick brown fox and the lazy dog is in it").mkString(" ")
    val docs = Seq(
      (5L, good), (3L, good), (9L, good), // dup cluster, keeper = 3
      (1L, "!!! ??? *** &&& %%%"),        // rejected: punct ratio
      (2L, "short text the end")          // rejected: too few tokens
    ).toDF("doc_id", "text")
    val kept = TextOps.curationFilter(docs, col("doc_id"), col("text"))
      .select("doc_id").as[Long].collect().toSeq
    assert(kept == Seq(3L), s"got $kept")
    // the raw-table keeper shortcut's coupling, pinned (ADVICE r4): the
    // verdict is a pure function of text, so a same-text group can never
    // mix verdicts — a REJECTED text's whole dup group (incl. ids below
    // every passing doc) contributes nothing, and passing groups keep
    // their min id even with lower-id rejected docs in the raw table
    val mixed = Seq(
      (10L, good), (12L, good),                       // keeper = 10
      (1L, "!!! ??? ***"), (2L, "!!! ??? ***"),       // rejected dup group
      (3L, "short the end"), (4L, "short the end")    // rejected dup group
    ).toDF("doc_id", "text")
    val keptM = TextOps.curationFilter(mixed, col("doc_id"), col("text"))
      .select("doc_id").as[Long].collect().toSeq
    assert(keptM == Seq(10L), s"got $keptM")
  }

  test("boilerplate strip plans partial aggs on hashed keys (no text in exchanges)") {
    // same scale contract as the dedup keeper: the count of docs per
    // line must partial-aggregate map-side on the 8-byte line hash —
    // never shuffle or sort the line text itself
    val docs = documents.select(col("doc_id"),
      concat(lit("HDR\n"), col("text"), lit("\nFTR")).as("text"))
    val plan = TextOps.stripBoilerplate(docs, col("doc_id"), col("text"), 100L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"unexpected Window:\n$plan")
    assert(plan.contains("partial_count"),
      s"line-frequency agg lost its map-side partial stage:\n$plan")
    // every hash partitioning in the plan keys on line_key (+doc_id),
    // never on the raw line text ("line#N" is the text attribute;
    // "line_key#N" does not contain that substring)
    "hashpartitioning\\(([^)]*)\\)".r.findAllMatchIn(plan).foreach { m =>
      assert(!m.group(1).contains("line#"),
        s"exchange keyed on line text: ${m.matched}")
    }
  }

  test("staged dup-join base: parquet staging == cache, base readable back") {
    // fresh dir per invocation — the Staging fail-fast contract
    val dir = tempDir("graft-staging")
    val dir2 = tempDir("graft-staging2")
    val base = documents.select(col("doc_id"), col("text")).filter(col("doc_id") < 100)
    val dups = base.select((col("doc_id") + 100000).as("doc_id"),
      concat(col("text"), lit(" zz")).as("text"))
    val docs = base.unionByName(dups)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2)).toSeq
    val cached = canon(TextOps.minhashDupPairs(docs, col("doc_id"), col("text")))
    val staged = canon(TextOps.minhashDupPairs(docs, col("doc_id"), col("text"),
      staging = Some(dir)))
    assert(staged == cached && staged.nonEmpty)
    // the staged base is a real parquet table a resumed/long-lived job
    // can read back: (id, hs, band, bucket), one row per (doc, band)
    val back = spark.read.parquet(s"$dir/minhash_base")
    assert(back.columns.toSeq == Seq("id", "hs", "band", "bucket"))
    assert(back.count() == docs.count() * 4) // bands = 4 default
    // a second invocation sharing the dir FAILS FAST instead of
    // silently overwriting the first call's staged table
    val clash = intercept[Exception] {
      TextOps.minhashDupPairs(docs, col("doc_id"), col("text"),
        staging = Some(dir)).count()
    }
    assert(clash.getMessage.toLowerCase.contains("exist"),
      s"expected a path-exists failure, got: ${clash.getMessage}")
    // the composed curate() stages every barrier under its (fresh) dir
    val stagedCur = TextOps.curate(documents.select(col("doc_id"), col("text")),
      col("doc_id"), col("text"), staging = Some(dir2), exactClusters = true)
    val (kept, pairs) = (stagedCur.kept, stagedCur.nearPairs)
    val cachedCur = TextOps.curate(documents.select(col("doc_id"), col("text")),
      col("doc_id"), col("text"), exactClusters = true)
    val (keptC, pairsC) = (cachedCur.kept, cachedCur.nearPairs)
    assert(canon(pairs) == canon(pairsC))
    assert(kept.select("doc_id").as[Long].collect().sorted.toSeq ==
      keptC.select("doc_id").as[Long].collect().sorted.toSeq)
    assert(new java.io.File(s"$dir2/curate_keepers").exists())
    // the wired-in hot-bucket audit READS the staged minhash base (a
    // parquet scan of the staging dir), never recomputes the chain
    val auditPlan = stagedCur.hotBuckets.queryExecution.executedPlan.toString
    assert(auditPlan.contains("minhash_base"),
      s"audit must scan the staged base:\n$auditPlan")
    assert(!auditPlan.toLowerCase.contains("regexp"),
      s"audit recomputed the shingle chain:\n$auditPlan")
    // no oversized buckets on this corpus — the salt stayed a backstop
    assert(stagedCur.hotBuckets.count() == 0)
  }

  test("a staged barrier reads back with the schema it wrote, equal to the inferred one") {
    import graft.analysis.Staging
    val dir = tempDir("graft-staging-schema")
    val docs = spark.read.parquet(s"$docsPath/documents.parquet")
      .select(col("doc_id"), col("text"), col("source")).filter(col("doc_id") < 50)
    // the barrier shapes a release stages: the keepers' features, a
    // (id, hs, band, bucket) base, a pair frame and the flags, plus
    // non-nullable, nested and map columns
    val shapes = Seq(
      "keepers" -> TextOps.curationFeatures(docs, col("doc_id"), col("text"), Seq("source")),
      "base" -> docs.select(col("doc_id").as("id"), array(col("doc_id"), lit(7L)).as("hs"),
        lit(1).as("band"), xxhash64(col("text")).as("bucket")),
      "pairs" -> docs.select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"),
        lit(0.5).as("jaccard")),
      "flags" -> docs.groupBy(col("source").as("doc_id")).agg(count(lit(1)).as("n_hits")),
      "nested" -> docs.select(struct(col("doc_id"), lit("x").as("k")).as("s"),
        map(lit("a"), col("doc_id")).as("m"), array(struct(lit(1.5).as("d"))).as("as")))
    shapes.foreach { case (name, df) =>
      val staged = Staging.materialize(df, Some(dir), name)
      val inferred = spark.read.parquet(s"$dir/$name")
      assert(staged.schema == inferred.schema, s"$name: ${staged.schema} vs ${inferred.schema}")
      assert(staged.collect().map(_.toString).sorted.toSeq ==
        inferred.collect().map(_.toString).sorted.toSeq, name)
    }
    // non-vacuous: some written column was non-nullable
    assert(shapes.exists(_._2.schema.exists(!_.nullable)))
  }

  test("in-memory barriers: no CacheManager entry, blocks freed once unreachable") {
    import graft.analysis.{Bpe, Pack}
    import graft.media.BinaryOps
    import org.apache.spark.sql.DataFrame
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.{Millis, Seconds, Span}
    val sc = spark.sparkContext
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    // an uncached read: the suite-level `documents` frame is a cache entry
    val docs = spark.read.parquet(s"$docsPath/documents.parquet")
      .select(col("doc_id"), col("text"), col("source")).filter(col("doc_id") < 200)
    val text = docs.select(col("doc_id"), col("text"))
    val baseDir = tempDir("graft-barrier-base")
    TextOps.buildMinhashBase(text.filter(col("doc_id") < 100), col("doc_id"),
      col("text"), baseDir)
    val vocab = sc.broadcast(Bpe.buildTokenVocab(text, col("text"), nMerges = 20))
    val assets = BinaryOps.assetsFor(graft.corpus.Corpus.generate(spark, 20))
    val emb = spark.read.parquet(s"$docsPath/embeddings.parquet")
    def drain(dfs: DataFrame*): Unit =
      dfs.foreach(_.write.format("noop").mode("overwrite").save())
    // every barrier operator SparkEntry reaches, each run to completion;
    // no returned frame escapes its closure
    val ops: Seq[(String, () => Unit)] = Seq(
      "curate" -> { () =>
        val r = TextOps.curate(text, col("doc_id"), col("text"))
        drain(r.kept, r.nearPairs, r.hotBuckets) },
      "release" -> { () =>
        val r = TextOps.release(docs, col("doc_id"), col("text"), col("source"),
          text.filter(col("doc_id") < 5).select(col("text")), col("text"))
        drain(r.shards, r.nearPairs, r.hotBuckets, r.contaminated, r.report) },
      "dedupAgainstBase" -> { () =>
        val r = TextOps.dedupAgainstBase(text.filter(col("doc_id") >= 100),
          col("doc_id"), col("text"), baseDir)
        drain(r.keepers, r.crossPairs, r.newPairs, r.newBase) },
      "dedupCascade" -> { () =>
        val (pairs, groups) = TextOps.dedupCascade(text, col("doc_id"), col("text"))
        drain(pairs, groups) },
      "minhashDupPairs" -> (() =>
        drain(TextOps.minhashDupPairs(text, col("doc_id"), col("text")))),
      "simhashDupPairs" -> (() =>
        drain(TextOps.simhashDupPairs(text, col("doc_id"), col("text")))),
      "cosineDupPairs" -> (() => drain(VectorOps.cosineDupPairs(emb, 0.99))),
      "dhashDupPairs" -> (() => drain(BinaryOps.dhashDupPairs(assets))),
      "packSequences" -> (() =>
        drain(Pack.packSequences(text, col("doc_id"), col("text"), vocab, 64))),
      "duplicatedRuns" -> (() =>
        drain(TextOps.duplicatedRuns(text, col("doc_id"), col("text"), minRun = 5))),
      "dupClusters" -> (() => drain(TextOps.dupClusters(
        Seq((1L, 3L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")))),
      "mediaPipeline" -> (() => drain(BinaryOps.mediaPipeline(spark, 20))),
      "extractRows iterative" -> (() => drain(Pipeline.extractRows(
        graft.corpus.Corpus.generate(spark, 20), "auto", iterative = true))))
    // compare SETS of persistent-RDD ids: the ContextCleaner drops
    // earlier unreferenced RDDs asynchronously, so totals are racy. The
    // ids are copied out: the map's keySet view holds the RDDs strongly
    def persistentIds(): Set[Int] = sc.getPersistentRDDs.keysIterator.toSet
    spark.catalog.clearCache()
    try ops.foreach { case (op, run) =>
      val before = persistentIds()
      run()
      assert(cacheManager.isEmpty, s"$op left a CacheManager entry")
      val barriers = persistentIds() -- before
      assert(barriers.nonEmpty, s"$op materialized no in-memory barrier (vacuous)")
      eventually(timeout(Span(30, Seconds)), interval(Span(200, Millis))) {
        System.gc()
        assert((persistentIds() & barriers).isEmpty,
          s"$op: barrier blocks outlived the frames that read them")
      }
    } finally documents.cache()
  }

  test("an in-memory barrier's leaf is sized by its measured bytes") {
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.graftbridge.Bridge
    def leaf(df: org.apache.spark.sql.DataFrame): LogicalRDD =
      df.queryExecution.optimizedPlan.collectLeaves() match {
        case Seq(r: LogicalRDD) => r
        case other => fail(s"expected one checkpoint leaf, got $other")
      }
    def measured(df: org.apache.spark.sql.DataFrame): Long = {
      val bytes = Bridge.blockBytes(leaf(df).rdd)
      assert(bytes.exists(_ > 1), s"no complete block measure: $bytes")
      assert(leaf(df).stats.sizeInBytes == BigInt(bytes.get))
      bytes.get
    }
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val configured = spark.conf.get(thresholdKey)
    val threshold = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(configured)
    // a cross join the optimizer sizes at rows x rows, whose filter
    // keeps 10 rows: planned from the estimate, a join over it would
    // shuffle both sides instead of broadcasting the 10 rows
    val small = spark.range(2000).crossJoin(spark.range(2000).toDF("j"))
      .filter(col("id") === col("j") && col("id") < 10)
    assert(small.queryExecution.optimizedPlan.stats.sizeInBytes > threshold)
    val barrier = graft.analysis.Staging.materialize(small, None, "small")
    assert(measured(barrier) < threshold)
    // the other side is over the threshold too (planned, never run)
    val plan = spark.range(100000000L).join(barrier, "id").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"), plan)
    // and a barrier over the threshold stays out of a broadcast: an
    // undercount (a missed measure read as a few bytes) would collect
    // it to the driver whatever its size
    val big = graft.analysis.Staging.materialize(
      spark.range(20000).select(col("id"), lit("x" * 100).as("pad")), None, "big")
    val bigBytes = measured(big)
    spark.conf.set(thresholdKey, (bigBytes / 2).toString)
    try {
      val bigPlan = spark.range(100000000L).join(big, "id").queryExecution.executedPlan.toString
      assert(bigPlan.contains("SortMergeJoin") && !bigPlan.contains("BroadcastHashJoin"), bigPlan)
    } finally spark.conf.set(thresholdKey, configured)
  }

  test("block measure: None until every partition has a block") {
    val rdd = spark.sparkContext.parallelize(1 to 1000, 2).persist()
    try {
      val sizeOf = (it: Iterator[Int]) => it.size
      spark.sparkContext.runJob(rdd, sizeOf, Seq(0))
      assert(org.apache.spark.sql.graftbridge.Bridge.blockBytes(rdd).isEmpty)
      rdd.count()
      assert(org.apache.spark.sql.graftbridge.Bridge.blockBytes(rdd).exists(_ > 1))
    } finally rdd.unpersist(blocking = true)
  }

  test("dupClusters runs ONE action per round (convergence rides the cut)") {
    // the convergence signal must ride the round's materializing action
    // via an accumulator — a separate count() job would double the
    // driver-side job count at O(log d) rounds
    val counts = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        if (funcName == "count") counts.incrementAndGet()
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val chain = (0L until 50L).map(i => (i, i + 1, 0.9))
        .toDF("id_a", "id_b", "jaccard")
      val got = TextOps.dupClusters(chain).as[(Long, Long)].collect()
      Thread.sleep(2000) // listener events are delivered asynchronously
      assert(got.length == 51 && got.forall(_._2 == 0L))
      assert(counts.get() == 0,
        s"dupClusters issued ${counts.get()} count() actions inside its rounds")
    } finally spark.listenerManager.unregister(listener)
  }

  test("dupClusters staged rounds: only the final labels table remains") {
    val dir = tempDir("graft-dup-clusters-staging")
    val pairs = Seq((1L, 3L, 0.9), (2L, 3L, 0.9), (10L, 11L, 0.9))
      .toDF("id_a", "id_b", "jaccard")
    val got = TextOps.dupClusters(pairs, staging = Some(dir))
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // rounds were staged to parquet under `dir`, and the intermediates
    // (edges, labels_0..r-1) were cleaned up — only the final round's
    // labels table, which the result reads, remains
    val tables = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(tables.length == 1 && tables.head.matches("labels_[1-9]\\d*"),
      s"expected only the final labels table, got ${tables.toSeq}")
  }

  test("fused ShingleHashes == HOF chain (hash sets identical, order too)") {
    val both = documents.select(
      graft.analysis.ShingleHashes.of(TextOps.tokens(col("text")), 3).as("fused"),
      array_distinct(HofTwins.shingleHashes(HofTwins.shingles(col("text"), 3)))
        .as("hof"))
      .as[(Seq[Long], Seq[Long])].collect()
    assert(both.nonEmpty && both.forall { case (f, h) => f == h })
    // short docs (< n tokens) yield empty sets in both encodings
    val short = Seq("one two").toDF("text").select(
      graft.analysis.ShingleHashes.of(TextOps.tokens(col("text")), 3))
    assert(short.as[Seq[Long]].head().isEmpty)
  }

  test("fused PosShingleHashes == HOF chain (per-position, order too)") {
    val n = 3
    val toks = TextOps.tokens(col("text"))
    val hof = when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => xxhash64(concat_ws(" ", slice(toks, i + lit(1), lit(n))))))
      .otherwise(array().cast("array<bigint>"))
    val both = documents.select(
      graft.analysis.PosShingleHashes.of(toks, n).as("fused"), hof.as("hofc"))
      .as[(Seq[Long], Seq[Long])].collect()
    assert(both.nonEmpty && both.forall { case (f, h) => f == h })
    // short docs (< n tokens) yield empty arrays
    val short = Seq("one two").toDF("text").select(
      graft.analysis.PosShingleHashes.of(TextOps.tokens(col("text")), n))
    assert(short.as[Seq[Long]].head().isEmpty)
    // positional form: repeated windows KEEP their duplicates, and each
    // position's hash equals the set form's member for that window
    val rep = Seq("a b a b a b").toDF("text").select(
      graft.analysis.PosShingleHashes.of(TextOps.tokens(col("text")), 2).as("p"),
      graft.analysis.ShingleHashes.of(TextOps.tokens(col("text")), 2).as("s"))
      .as[(Seq[Long], Seq[Long])].head()
    assert(rep._1.length == 5 && rep._1.toSet == rep._2.toSet)
  }

  test("fused Simhash64 == HOF chain, byte-identical") {
    val both = documents.select(
      TextOps.simhash(col("text")).as("fused"), // default = fused
      HofTwins.simhashHof(col("text")).as("hof"))
      .as[(Long, Long)].collect()
    assert(both.nonEmpty && both.forall { case (f, h) => f == h })
    val empty = Seq("").toDF("text")
      .select(TextOps.simhash(col("text"))).as[Long].head()
    assert(empty == 0L)
  }

  test("fused MinhashSignature == HOF chain, byte-identical") {
    val hs = documents.select(
      array_distinct(HofTwins.shingleHashes(HofTwins.shingles(col("text"), 3)))
        .as("hs"))
    val both = hs.select(
      graft.analysis.MinhashSignature.of(col("hs"), 16).as("fused"),
      HofTwins.minhashSignature0(col("hs"), 16).as("hof"))
      .as[(Seq[Long], Seq[Long])].collect()
    assert(both.nonEmpty && both.forall { case (f, h) => f == h })
    // empty input -> MaxValue sentinel in both encodings
    val empty = Seq(Seq.empty[Long]).toDF("hs").select(
      graft.analysis.MinhashSignature.of(col("hs"), 4))
    assert(empty.as[Seq[Long]].head() == Seq.fill(4)(Long.MaxValue))
  }

  test("n-gram jaccard known values") {
    val df = Seq(
      ("the quick brown fox", "the quick brown fox"), // identical -> 1.0
      ("a b c d", "x y z w"),                         // disjoint  -> 0.0
      ("a b c d", "a b c e")                          // 2-grams: {ab,bc,cd} vs {ab,bc,ce} -> 2/4
    ).toDF("ta", "tb")
    val got = df.select(TextOps.jaccard(
      HofTwins.shingles(col("ta"), 2), HofTwins.shingles(col("tb"), 2)))
      .as[Double].collect().toSeq
    assert(got == Seq(1.0, 0.0, 0.5))
  }

  test("simhash is local: near-identical docs have small hamming distance") {
    val df = documents.filter(col("doc_id") < 50)
      .select(col("doc_id"), TextOps.simhash(col("text")).as("h1"),
        TextOps.simhash(concat(col("text"), lit(" zz"))).as("h2"),
        TextOps.simhash(reverse(col("text"))).as("h3"))
      .select(TextOps.hamming(col("h1"), col("h2")).as("near"),
        TextOps.hamming(col("h1"), col("h3")).as("far"))
      .agg(avg("near"), avg("far")).as[(Double, Double)].head()
    assert(df._1 < 8, s"near-dup hamming too high: ${df._1}")
    assert(df._2 > df._1, s"unrelated not farther: $df")
  }

  test("simhash banded dedup finds every injected near-dup (pigeonhole recall)") {
    val base = documents.select(col("doc_id"), col("text")).filter(col("doc_id") < 100)
    val dups = base.select((col("doc_id") + 100000).as("doc_id"),
      concat(col("text"), lit(" zz")).as("text"))
    val pairs = TextOps.simhashDupPairs(base.unionByName(dups),
      col("doc_id"), col("text"), bands = 4, maxHamming = 3)
      .as[(Long, Long, Int)].collect()
    val found = pairs.map(p => (p._1, p._2)).toSet
    // only assert the planted pairs whose actual hamming is within the
    // verifier bound (appending " zz" flips a text-dependent bit count);
    // for those, banding guarantees recall 1.0 — that's the pigeonhole
    val withinBound = base.unionByName(dups)
      .select(col("doc_id"), TextOps.simhash(col("text")).as("sh"))
      .as[(Long, Long)].collect().toMap
    (0L until 100L).foreach { i =>
      val h = java.lang.Long.bitCount(withinBound(i) ^ withinBound(i + 100000))
      if (h <= 3) assert(found.contains((i, i + 100000)), s"missed dup $i (hamming $h)")
    }
    pairs.foreach(p => assert(p._3 <= 3))
    assert(found.nonEmpty)
  }

  test("cosine near-dup pairs: planted exact duplicates all found, scores exact") {
    val emb = spark.read.parquet(s"$docsPath/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("embedding"))
    val dups = emb.select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val pairs = VectorOps.cosineDupPairs(emb.unionByName(dups), minCos = 0.999)
      .as[(Long, Long, Double)].collect()
    val n = emb.count()
    assert(pairs.length == n, s"expected $n planted pairs, got ${pairs.length}")
    pairs.foreach { case (a, b, cos) =>
      assert(b == a + 10000 && cos > 0.999, s"unexpected pair ($a,$b,$cos)")
    }
  }

  test("exact dedup keeps one row per key with deterministic keeper") {
    val df = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("id", "k")
    val kept = TextOps.dedupExact(df, col("k"), col("id"))
      .select("id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 3L))
    // null keys form one group (the old window semantics)
    val withNull = Seq((1L, "x"), (2L, null), (3L, null)).toDF("id", "k")
    val keptN = TextOps.dedupExact(withNull, col("k"), col("id"))
      .select("id").as[Long].collect().sorted.toSeq
    assert(keptN == Seq(1L, 2L))
  }

  test("exact dedup is partial-aggregate: a 100k-identical cluster never meets one reducer") {
    // The scale contract (round-3 verdict #1): keeper selection must be
    // a hash aggregation WITH map-side partial agg — a mega-cluster of
    // identical texts then costs one tiny (key, min_id) row per map task
    // — and the row re-selection a semi-join on the composite (key, id),
    // which spreads the cluster's rows uniformly by id. A row_number
    // window would ship every member (text riding along) to ONE task.
    // non-foldable text (the when() depends on id) so the plan keeps the
    // xxhash64(text) key visible instead of constant-folding it away
    val cluster = spark.range(100000)
      .select(col("id"), concat(lit("identical boilerplate page text"),
        when(col("id") < 0, lit("never")).otherwise(lit(""))).as("text"))
    val tail = Seq((200000L, "first distinct doc"), (200001L, "second distinct doc"))
      .toDF("id", "text")
    val kept = TextOps.dedupExact(cluster.unionByName(tail),
      xxhash64(col("text")), col("id"))
    val plan = kept.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"dedupExact must not plan a Window over the dup key:\n$plan")
    assert(plan.contains("partial_min"),
      s"keeper aggregation lost its map-side partial stage:\n$plan")
    // the dup key in the exchanges is the 8-byte hash, never raw text
    assert(plan.contains("xxhash64"), s"dup key is not hashed:\n$plan")
    val ids = kept.select("id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(0L, 200000L, 200001L), s"wrong keepers: $ids")
  }

  test("ANN: cos scores agree with brute force; recall@3 is non-vacuous") {
    val emb = spark.read.parquet(s"$docsPath/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("embedding"))
      .cache()
    val q = emb.filter(col("vec_id") < 10)
    val bf = VectorOps.bruteForceTopK(q, emb, 3)
      .select("query_id", "neighbor_id", "cos")
      .as[(Long, Long, Double)].collect()
    // tiny-corpus parameterization (500 random vectors): 8-plane tables
    val ann = VectorOps.annTopK(q, emb, 3, nPlanes = 8, tables = 8, probeBits = 2)
      .select("query_id", "neighbor_id", "cos")
      .as[(Long, Long, Double)].collect()
    val bfCos = bf.map(r => (r._1, r._2) -> r._3).toMap
    // any pair ANN scores must carry the exact brute-force cosine
    val annOverlap = ann.filter(r => bfCos.contains((r._1, r._2)))
    annOverlap.foreach(r => assert(math.abs(bfCos((r._1, r._2)) - r._3) < 1e-12))
    val recall = annOverlap.length.toDouble / bf.length
    info(f"ANN recall@3 vs brute force: $recall%.2f (8 planes x 8 tables + 4 probes, random 64-dim)")
    assert(ann.nonEmpty && recall >= 0.4,
      s"multi-table LSH recall too low: $recall")
  }

  /** Deterministic clustered corpus: the workload LSH is FOR (real
    * embedding spaces are clustered; uniform-random vectors are the
    * adversarial case where no sublinear ANN can do well).
    */
  private def clustered(nClusters: Int, perCluster: Int, dim: Int, noise: Double) = {
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(nClusters, dim)(if (rnd.nextBoolean()) 1.0 else -1.0)
    (0 until nClusters * perCluster).map { id =>
      val c = centers(id % nClusters)
      (id.toLong, c.map(_ + (rnd.nextDouble() * 2 - 1) * noise).toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("ANN default (scale) params: recall@3 >= 0.6 on clustered embeddings") {
    val emb = clustered(nClusters = 20, perCluster = 40, dim = 64, noise = 0.6).cache()
    val q = emb.filter(col("vec_id") < 10)
    val bf = VectorOps.bruteForceTopK(q, emb, 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ann = VectorOps.annTopK(q, emb, 3) // defaults: 16 planes x 4 tables x 8 probes
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (ann & bf).size.toDouble / bf.size
    info(f"ANN recall@3 (defaults, clustered): $recall%.2f")
    assert(recall >= 0.6, s"default-parameter LSH recall too low: $recall")
  }

  test("IVF ANN: recall@3 >= 0.6 on clustered embeddings; scores exact") {
    val emb = clustered(nClusters = 20, perCluster = 40, dim = 64, noise = 0.6).cache()
    val q = emb.filter(col("vec_id") < 10)
    val bf = VectorOps.bruteForceTopK(q, emb, 3)
      .select("query_id", "neighbor_id", "cos")
      .as[(Long, Long, Double)].collect()
    val ivf = VectorOps.ivfTopK(q, emb, 3, nCells = 32, nProbe = 4)
      .select("query_id", "neighbor_id", "cos")
      .as[(Long, Long, Double)].collect()
    val bfCos = bf.map(r => (r._1, r._2) -> r._3).toMap
    val overlap = ivf.filter(r => bfCos.contains((r._1, r._2)))
    overlap.foreach(r => assert(math.abs(bfCos((r._1, r._2)) - r._3) < 1e-12))
    val recall = overlap.length.toDouble / bf.length
    info(f"IVF recall@3 (32 cells, 4 probes, clustered): $recall%.2f")
    assert(recall >= 0.6, s"IVF recall too low: $recall")
  }

  test("spherical k-means centroids recover the planted clusters; IVF recall 1.0") {
    val emb = clustered(nClusters = 12, perCluster = 40, dim = 64, noise = 0.6).cache()
    val cents = VectorOps.kmeansCentroids(emb, k = 12, iters = 2)
    assert(cents.length == 12 && cents.forall(_.length == 64))
    // each learned centroid should be very close (cosine) to ONE of the
    // true +-1 cluster centers the test data was planted around
    val rnd = new scala.util.Random(7)
    val truth = Array.fill(12, 64)(if (rnd.nextBoolean()) 1.0 else -1.0)
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val matched = cents.count(c => truth.exists(t => cos(c, t.toSeq) > 0.9))
    assert(matched >= 10, s"only $matched/12 learned centroids match a true center")
    // trained IVF: recall vs brute force
    val q = emb.filter(col("vec_id") < 10)
    val bf = VectorOps.bruteForceTopK(q, emb, 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = VectorOps.ivfTopK(q, emb, 3, nCells = 12, nProbe = 2,
        centroids = Some(cents))
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (ivf & bf).size.toDouble / bf.size
    info(f"trained-IVF recall@3: $recall%.2f (12 learned cells, 2 probes)")
    assert(recall >= 0.9, s"trained IVF recall too low: $recall")
  }

  /** ivfTopK's default centroids: the first `k` vectors, unit-normalized. */
  private def seedCents(emb: org.apache.spark.sql.DataFrame, k: Int) =
    emb.orderBy("vec_id").limit(k).select("embedding").as[Seq[Double]].collect()
      .toSeq.map(v => v.map(_ / math.sqrt(v.map(x => x * x).sum)))

  test("fused broadcast DotProducts == HOF literal path: identical IVF results") {
    // IVF cells (corpus assignment and query probes) are picked from
    // these dots alone, so identical dots give identical IVF results
    val emb = clustered(nClusters = 10, perCluster = 30, dim = 64, noise = 0.6).cache()
    val cents = seedCents(emb, 16)
    val bc = spark.sparkContext.broadcast(cents.map(_.toArray).toArray)
    val both = emb.select(
      graft.analysis.BroadcastDotProducts.of(col("embedding"), bc).as("f"),
      HofTwins.centroidDots(col("embedding"), cents).as("h"))
      .as[(Seq[Double], Seq[Double])].collect()
    assert(both.length == 300 && both.forall { case (f, h) => f == h })
  }

  test("IVF centroids ride as a broadcast, not a plan literal") {
    val emb = clustered(nClusters = 8, perCluster = 20, dim = 16, noise = 0.4).cache()
    val q = emb.filter(col("vec_id") < 3)
    // marker: the first component of the first (unit-normalized) seed
    // centroid — ivfTopK seeds from the first k corpus vectors
    val cents = seedCents(emb, 8)
    val marker = cents.head.head.toString.take(12)
    // HOF (cross-validation twin) embeds the centroid matrix literal —
    // sanity-check the marker actually detects that encoding ...
    val hofPlan = emb.select(HofTwins.centroidDots(col("embedding"), cents))
      .queryExecution.optimizedPlan.toString
    assert(hofPlan.contains(marker) && !hofPlan.contains("broadcast_dot_products"))
    // ... the default fused path must NOT: at nCells ~ sqrt(N) the
    // literal is ~200 MB serialized into every task (the round-2 flag)
    val fusedPlan = VectorOps.ivfTopK(q, emb, 2, nCells = 8, nProbe = 2)
      .queryExecution.optimizedPlan.toString
    assert(fusedPlan.contains("broadcast_dot_products"))
    assert(!fusedPlan.contains(marker),
      s"fused IVF plan embeds centroid literal $marker")
  }

  test("fused MinhashBandKeys == HOF lshBandKeys, byte-identical") {
    val sig = documents.select(
      HofTwins.minhashSignature0(HofTwins.shingleHashes(HofTwins.shingles(col("text"), 3)), 16)
        .as("sig"))
    val both = sig.select(
      graft.analysis.MinhashBandKeys.of(col("sig"), 4).cast("string").as("f"),
      HofTwins.lshBandKeys(col("sig"), 16, 4).cast("string").as("h"))
      .as[(String, String)].collect()
    assert(both.nonEmpty && both.forall { case (f, h) => f == h })
  }

  test("full near-dup pipeline: fused encoding == HOF encoding") {
    val base = documents.select(col("doc_id"), col("text")).filter(col("doc_id") < 80)
    val dups = base.filter(col("doc_id") < 10)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" zz")).as("text"))
    val all = base.unionByName(dups)
    // every map-side step of minhashDupPairs at its defaults (n = 3,
    // m = 16, bands = 4): shingle-hash set, signature, band keys
    val sketched = all
      .withColumn("hs", graft.analysis.ShingleHashes.of(TextOps.tokens(col("text")), 3))
      .withColumn("hs_h", array_distinct(HofTwins.shingleHashes(HofTwins.shingles(col("text"), 3))))
      .withColumn("sig", graft.analysis.MinhashSignature.of(col("hs"), 16))
      .withColumn("sig_h", HofTwins.minhashSignature0(col("hs_h"), 16))
      .withColumn("bk", graft.analysis.MinhashBandKeys.of(col("sig"), 4))
      .withColumn("bk_h", HofTwins.lshBandKeys(col("sig_h"), 16, 4))
      .select(Seq("hs", "hs_h", "sig", "sig_h", "bk", "bk_h").map(col(_).cast("string")): _*)
      .as[(String, String, String, String, String, String)].collect()
    assert(sketched.length == all.count() && sketched.forall(r =>
      r._1 == r._2 && r._3 == r._4 && r._5 == r._6))
    // cosineDupPairs' bucket keys at its defaults (16 planes x 4
    // tables); its exact-cosine rerank is the CosineSim test below
    val emb = spark.read.parquet(s"$docsPath/embeddings.parquet")
      .select(col("embedding").cast("array<double>").as("v"))
    val keyed = emb.select(
      graft.analysis.SignBuckets.of(col("v"), 16, 4).cast("string"),
      HofTwins.lshKeys(col("v"), 16, 4).cast("string"))
      .as[(String, String)].collect()
    assert(keyed.nonEmpty && keyed.forall { case (f, h) => f == h })
  }

  test("fused CosineSim == HOF cosine: float- and null-identical") {
    val emb = spark.read.parquet(s"$docsPath/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("a"))
      .withColumn("b", reverse(col("a")))
    val both = emb.select(
      VectorOps.cosine(col("a"), col("b")).as("fused"),
      HofTwins.cosineHof(col("a"), col("b")).as("hof"),
      VectorOps.cosine(col("a"), col("a")).as("self_f"),
      HofTwins.cosineHof(col("a"), col("a")).as("self_h"))
      .as[(Double, Double, Double, Double)].collect()
    assert(both.nonEmpty)
    both.foreach { case (f, h, sf, sh) =>
      assert(f == h, s"cosine mismatch: $f != $h") // bit-identical, not ~=
      assert(sf == sh && math.abs(sf - 1.0) < 1e-12)
    }
    // edge cases: zero vector -> 0.0; null element -> 0.0 (both paths)
    val edge = spark.sql(
      """SELECT array(0.0d, 0.0d) AS z, array(1.0d, 2.0d) AS v,
        |       array(1.0d, CAST(NULL AS double)) AS nv""".stripMargin)
    val e = edge.select(
      VectorOps.cosine(col("z"), col("v")).as("f1"),
      HofTwins.cosineHof(col("z"), col("v")).as("h1"),
      VectorOps.cosine(col("nv"), col("v")).as("f2"),
      HofTwins.cosineHof(col("nv"), col("v")).as("h2"))
      .as[(Double, Double, Double, Double)].head()
    assert(e._1 == 0.0 && e._1 == e._2)
    assert(e._3 == 0.0 && e._3 == e._4)
  }

  test("fused SignProjections == HOF path: identical ANN results") {
    val emb = spark.read.parquet(s"$docsPath/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("embedding"))
      .cache()
    // annTopK reads only these two: corpus buckets (SignBuckets) and
    // the query-side projection matrix its probe margins come from
    // (SignProjections) — agreeing, they give identical ANN results
    val both = emb.select(
      graft.analysis.SignBuckets.of(col("embedding"), 8, 4).cast("string"),
      HofTwins.lshKeys(col("embedding"), 8, 4).cast("string"),
      flatten(graft.analysis.SignProjections.of(col("embedding"), 8, 4)),
      flatten(HofTwins.projMatrix(col("embedding"), 8, 4)))
      .as[(String, String, Seq[Double], Seq[Double])].collect()
    assert(both.nonEmpty && both.forall(r => r._1 == r._2 && r._3 == r._4))
  }

  test("float-typed embedding tables work everywhere (the native parquet type)") {
    // embeddings.parquet stores array<float>; every entry point must
    // tolerate it (the fused expressions read doubles internally)
    val raw = spark.read.parquet(s"$docsPath/embeddings.parquet") // array<float>
      .select(col("vec_id"), col("embedding"))
    val q = raw.filter(col("vec_id") < 3)
    assert(VectorOps.bruteForceTopK(q, raw, 2).count() == 6)
    assert(VectorOps.annTopK(q, raw, 2, nPlanes = 8, tables = 4, probeBits = 2)
      .count() >= 0)
    val cents = VectorOps.kmeansCentroids(raw, 8, iters = 1)
    assert(cents.length == 8 && cents.head.length == 64)
    assert(VectorOps.ivfTopK(q, raw, 2, nCells = 8, nProbe = 2,
      centroids = Some(cents)).count() >= 0)
    assert(VectorOps.cosineDupPairs(
      raw.unionByName(raw.select((col("vec_id") + 10000).as("vec_id"), col("embedding"))),
      minCos = 0.999).count() == raw.count())
  }

  test("hot LSH buckets are salt-bounded: 2000 identical docs stay O(n*cap)") {
    // identical texts -> identical signatures -> ONE bucket per band: the
    // unguarded join would emit C(2000,2) ~ 2M candidate pairs; the salt
    // bounds it to ~n*cap/2 while still finding every within-salt pair
    val n = 2000
    val cluster = (0 until n)
      .map(i => (i.toLong, "the same mirrored boilerplate page text over and over"))
      .toDF("doc_id", "text")
    val pairs = TextOps.minhashDupPairs(cluster, col("doc_id"), col("text"),
      n = 3, m = 16, bands = 4, minJaccard = 0.5, maxBucket = 50)
    val cnt = pairs.count()
    assert(cnt > 0, "salted buckets must still produce within-salt pairs")
    assert(cnt <= n.toLong * 50,
      s"candidate volume $cnt exceeds the O(n*maxBucket) bound ${n * 50}")
    assert(cnt < n.toLong * (n - 1) / 4,
      s"candidate volume $cnt is quadratic — the salt did not engage")
  }

  test("cosine dup hot bucket is salt-bounded too (identical embeddings)") {
    val n = 1500
    val one = Seq.fill(16)(0.25)
    val cluster = (0 until n).map(i => (i.toLong, one)).toDF("vec_id", "embedding")
    val cnt = VectorOps.cosineDupPairs(cluster, minCos = 0.999, maxBucket = 50)
      .count()
    assert(cnt > 0 && cnt <= n.toLong * 50,
      s"cosine candidate volume $cnt outside (0, ${n * 50}]")
  }

  test("hotBuckets audit reports exactly the oversized buckets") {
    val keyed = (0 until 300)
      .map(i => (i.toLong, if (i < 200) 1L else 100L + i))
      .toDF("id", "bucket").withColumn("band", lit(0))
    val hot = graft.analysis.Buckets
      .hotBuckets(keyed, Seq("band", "bucket"), maxBucket = 100).collect()
    assert(hot.length == 1)
    val r = hot.head
    assert(r.getAs[Long]("bucket") == 1L && r.getAs[Long]("n") == 200L)
    assert(r.getAs[Int]("n_splits") == 2)
    assert(r.getAs[Long]("pairs_unbounded") == 200L * 199 / 2)
  }

  test("dedup cascade: exact collapse feeds near-dup join, cluster never hits LSH") {
    val base = documents.select(col("doc_id"), col("text")).filter(col("doc_id") < 50)
    val dups = base.filter(col("doc_id") < 20)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" zz")).as("text"))
    val clusterText = base.filter(col("doc_id") === 0)
      .select("text").as[String].head()
    // a 5000-strong identical-boilerplate cluster (plus doc 0 itself)
    val cluster = spark.range(5000)
      .select((col("id") + 500000).as("doc_id"), lit(clusterText).as("text"))
    val all = base.unionByName(dups).unionByName(cluster)
    val (pairs, groups) = TextOps.dedupCascade(all, col("doc_id"), col("text"),
      maxBucket = 64)
    // exact stage: one group of 5001 with the min-id keeper (doc 0)
    val g = groups.filter(col("n_dups") > 1)
      .as[(Long, Long, Long)].collect()
    assert(g.length == 1 && g.head._2 == 5001L && g.head._3 == 0L,
      s"unexpected exact groups: ${g.toSeq}")
    // near stage runs over keepers only: injected near-dups still found,
    // and no collapsed cluster member ever reaches the LSH join
    val found = pairs.as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2)).toSet
    (0L until 20L).foreach(i =>
      assert(found.contains((i, i + 100000)), s"missed near-dup $i"))
    assert(!found.exists { case (a, b) => a >= 500000 || b >= 500000 },
      "a collapsed exact-dup member leaked into the near-dup join")
  }

  test("curate: full pass drops clones and near-dups, keeps quality keepers") {
    val base = documents.select(col("doc_id"), col("text"))
      .filter(col("doc_id") < 60)
    val dups = base.filter(col("doc_id") < 10)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" zz")).as("text"))
    val clones = spark.range(50).crossJoin(
        broadcast(base.filter(col("doc_id") === 1).select(col("text"))))
      .select((col("id") + 700000).as("doc_id"), col("text"))
    val res = TextOps.curate(
      base.unionByName(dups).unionByName(clones), col("doc_id"), col("text"))
    val (kept, pairs) = (res.kept, res.nearPairs)
    val keptIds = kept.select("doc_id").as[Long].collect().toSet
    // every clone collapses onto its base keeper in the exact stage
    assert(!keptIds.exists(_ >= 700000), "a clone survived the exact collapse")
    // drop policy: the higher id of every near pair is gone from kept
    val dropIds = pairs.select(greatest(col("id_a"), col("id_b")))
      .as[Long].collect().toSet
    assert(dropIds.nonEmpty, "no near pairs found (vacuous test)")
    assert(dropIds.intersect(keptIds).isEmpty,
      s"near-dup drop ids leaked into kept: ${dropIds.intersect(keptIds)}")
    // kept rows satisfy the hygiene constraints they were filtered by
    val feats = kept.select("n_tokens", "lang_pred", "punct_ratio")
      .as[(Int, String, Double)].collect()
    feats.foreach { case (nt, lp, pr) =>
      assert(nt >= 30 && lp == "en" && pr <= 0.2)
    }
  }

  test("BPE: deterministic training on the textbook corpus; fused apply counts") {
    import graft.analysis.Bpe
    // the Sennrich-style worked example — merges hand-derived:
    //   round 1: (e,s)=9 ties (s,t)=9 -> smaller pair (e,s)
    //   round 2: (es,t)=9; round 3: (l,o)=7 ties (o,w)=7 -> (l,o)
    //   round 4: (lo,w)=7
    val merges = Bpe.trainFromCounts(
      Seq("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L), 4)
    assert(merges == Seq("e" -> "s", "es" -> "t", "l" -> "o", "lo" -> "w"),
      s"got $merges")
    // greedy lowest-rank application; a count reads no alphabet (every
    // base symbol is one UNK id)
    val v = Bpe.TokenVocab(Seq.empty, merges)
    assert(v.idsOfWord("low").length == 1)        // lo -> low
    assert(v.idsOfWord("lowest").length == 2)     // low + est
    assert(v.idsOfWord("newest").length == 4)     // n, e, w, est
    assert(v.idsOfWord("unseen").length == 6)     // nothing merges
    // training exhausts when no pair repeats (stops early, no padding)
    assert(Bpe.trainFromCounts(Seq("ab" -> 1L, "cd" -> 1L), 10).isEmpty)
    // the fused expression: words through the vocab + one token per
    // symbol char; matches the per-word counts above
    val bc = spark.sparkContext.broadcast(v)
    val got = Seq("the lowest newest low", "low, lower!", null)
      .toDF("t").select(size(Bpe.tokenIds(col("t"), bc)).as("n"))
      .as[Option[Int]].collect().toSeq
    // "the"(t,h,e->3) lowest(2) newest(4) low(1) = 10;
    // low(1) lower(l,o,w,e,r -> lo,w,e,r -> low,e,r = 3) + ',' + '!' = 6;
    // null -> null
    assert(got == Seq(Some(10), Some(6), None), s"got $got")
    // distributed training == local training on the same word counts
    val docs = Seq("low low low low low lower lower",
      "newest newest newest newest newest newest",
      "widest widest widest").toDF("text")
    val dv = Bpe.train(docs, col("text"), nMerges = 4)
    assert(dv == merges, s"got $dv")
  }

  test("BPE: tiebreaks are code-point-ordered (astral symbols included)") {
    import graft.analysis.Bpe
    // U+1F600 (astral, UTF-16 "😀") vs U+E000 (BMP private
    // use): Java string order sorts the surrogate pair FIRST
    // (0xD83D < 0xE000), code-point order sorts it LAST
    // (0x1F600 > 0xE000) — exactly the divergence the Python mirror's
    // tuple compare would expose. The tie on count=3 must go to U+E000.
    val astral = new String(Character.toChars(0x1F600))
    val pua = "\uE000"
    assert(astral < pua, "vacuous: Java order must disagree here")
    assert(Bpe.cpLess(pua, astral) && !Bpe.cpLess(astral, pua))
    val merges = Bpe.trainFromCounts(Seq(astral + "a" -> 3L, pua + "a" -> 3L), 1)
    assert(merges == Seq(pua -> "a"), s"got $merges")
    // property: cpLess == lexicographic compare of code-point arrays
    // (Python str order, definitionally) over random mixed strings
    val rnd = new scala.util.Random(7)
    val alphabet = Seq("a", "z", "\u00e9", "\uE000", "\uFFFD", astral,
      new String(Character.toChars(0x10FFFF)))
    def randStr() =
      (0 until rnd.nextInt(4)).map(_ => alphabet(rnd.nextInt(alphabet.size)))
        .mkString
    def cpOrder(a: String, b: String): Boolean = {
      val (ca, cb) = (a.codePoints.toArray, b.codePoints.toArray)
      val n = math.min(ca.length, cb.length)
      var i = 0
      while (i < n && ca(i) == cb(i)) i += 1
      if (i < n) ca(i) < cb(i) else ca.length < cb.length
    }
    (0 until 2000).foreach { _ =>
      val (a, b) = (randStr(), randStr())
      assert(Bpe.cpLess(a, b) == cpOrder(a, b),
        s"cpLess disagrees on ${a.codePoints.toArray.toSeq} vs " +
          s"${b.codePoints.toArray.toSeq}")
    }
  }

  test("BPE token ids: worked example, merge-rank layout, UNK, size == tokenCount") {
    import graft.analysis.{Bpe, BpeCountTwin}
    val merges = Bpe.trainFromCounts(
      Seq("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L), 4)
    // alphabet ids 0..10: , d e i l n o r s t w; merges 11..14; UNK 15
    val v = Bpe.TokenVocab(Seq(",", "d", "e", "i", "l", "n", "o", "r",
      "s", "t", "w"), merges)
    assert(v.unkId == 15)
    assert(v.idsOfWord("low").toSeq == Seq(14)) // merge rank 3 -> 11+3
    assert(v.idsOfWord("lowest").toSeq == Seq(14, 12)) // low + est
    assert(v.idsOfWord("newest").toSeq == Seq(5, 2, 10, 12))
    assert(v.idsOfWord("the").toSeq == Seq(9, 15, 2)) // h is UNK
    val bc = spark.sparkContext.broadcast(v)
    // scan order interleaves words and symbols; '!' and NBSP (not
    // ASCII \s, so a symbol) are UNK; uppercase lowers first
    val got = Seq("Low, lowest!", "w w", null).toDF("t")
      .select(Bpe.tokenIds(col("t"), bc).as("ids"))
      .as[Option[Seq[Int]]].collect().toSeq
    assert(got == Seq(Some(Seq(14, 0, 14, 12, 15)),
      Some(Seq(10, 15, 10)), None), s"got $got")
    // the counting twin on the worked example: per-word merge counts
    // plus one token per symbol
    val twin = BpeCountTwin(merges)
    assert(Seq("low", "lowest", "newest", "unseen", "the").map(twin.countWord) ==
      Seq(1, 2, 4, 6, 3))
    // over a real corpus with its own trained vocab: the emitting
    // scanner, the same merges over an empty alphabet (q65's count) and
    // the counting twin agree everywhere
    val docs = documents.select(col("doc_id"), col("text"))
    val tv = spark.sparkContext.broadcast(
      Bpe.buildTokenVocab(docs, col("text"), nMerges = 50))
    val cv = spark.sparkContext.broadcast(Bpe.TokenVocab(Seq.empty,
      Bpe.train(docs, col("text"), nMerges = 50)))
    assert(cv.value.merges == tv.value.merges)
    val count = BpeCountTwin(tv.value.merges).tokenCount(col("text"))
    val off = docs.select(size(Bpe.tokenIds(col("text"), tv)).as("a"),
        size(Bpe.tokenIds(col("text"), cv)).as("c"), count.as("b"))
      .filter(col("a") =!= col("b") || col("c") =!= col("b")).count()
    assert(off == 0, s"$off docs where size(tokenIds) != tokenCount")
    // ... including on EXPANDING lowercase: 'İ' lowers to i + U+0307,
    // and both the emitter and the count scan lower(text), so each
    // sees one word token plus one symbol token (a raw-text symbol
    // scan would miss the combining mark and break the invariant)
    val exp = Seq("İ low", "STRASSE ẞ x").toDF("text")
      .select(size(Bpe.tokenIds(col("text"), tv)).as("a"), count.as("b"))
      .as[(Int, Int)].collect().toSeq
    exp.foreach { case (a, b) => assert(a == b, s"ids $a != count $b") }
    // every id is in range; UNK never fires when the vocab was built
    // on the same corpus
    val bad = docs.select(explode_outer(Bpe.tokenIds(col("text"), tv)).as("id"))
      .filter(col("id").isNull || col("id") < 0 ||
        col("id") >= tv.value.unkId).count()
    assert(bad == 0, s"$bad out-of-range/UNK ids on the training corpus")
  }

  test("buildTokenVocab: a training failure cancels the alphabet job") {
    import graft.analysis.Bpe
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.{Millis, Seconds, Span}
    val sc = spark.sparkContext
    // the alphabet phase's groups seen, and their jobs not yet ended
    val groups = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val active = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith("graft:buildTokenVocab:alphabet"))
          .foreach { g => groups.add(g); active.add(e.jobId) }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = active.remove(e.jobId)
    }
    // a scan of ~20 s per task: uncancelled, the alphabet job outlives the wait
    val rows = sc.longAccumulator("graft.test.slowRows")
    val slow = udf { (i: Long) => Thread.sleep(200); rows.add(1); s"w$i" }
    val docs = spark.range(0, 400, 1, 4).select(slow(col("id")).as("text"))
    sc.addSparkListener(listener)
    try {
      intercept[IllegalArgumentException](
        Bpe.buildTokenVocab(docs, col("text"), nMerges = -1))
      Thread.sleep(2000) // time for a late submission to start
      eventually(timeout(Span(10, Seconds)), interval(Span(200, Millis))) {
        assert(active.isEmpty, s"alphabet jobs still active: $active")
      }
      assert(rows.value < 400, "the alphabet scan ran to completion")
    } finally {
      sc.removeSparkListener(listener)
      groups.forEach(g => sc.cancelJobGroup(g))
    }
  }

  test("packSequences: exact tiling, provenance spans, repartition invariance") {
    import graft.analysis.{Bpe, Pack}
    val docs = documents.select(col("doc_id"), col("text"))
      .filter(col("doc_id") < 40)
    val vocab = spark.sparkContext.broadcast(
      Bpe.buildTokenVocab(docs, col("text"), nMerges = 30))
    val L = 7 // tiny so most docs cross sequence boundaries
    val packed = Pack.packSequences(docs, col("doc_id"), col("text"), vocab, L)
      .orderBy("seq_id")
      .as[(Long, Seq[Int], Seq[(Long, Int, Int)])].collect().toSeq
    // the reference stream: per-doc token ids concatenated in
    // (xxhash64(doc_id), doc_id) order
    val perDoc = docs.select(col("doc_id"), xxhash64(col("doc_id")).as("ord"),
        Bpe.tokenIds(col("text"), vocab).as("ids"))
      .as[(Long, Long, Seq[Int])].collect().sortBy(r => (r._2, r._1))
      .filter(_._3.nonEmpty)
    val stream = perDoc.flatMap(_._3).toSeq
    assert(stream.nonEmpty && stream.size > 3 * L, "vacuous corpus")
    // contiguous seq ids; every sequence full except possibly the last
    assert(packed.map(_._1) == packed.indices.map(_.toLong))
    packed.init.foreach(p => assert(p._2.size == L, s"short seq ${p._1}"))
    assert(packed.last._2.size <= L && packed.last._2.nonEmpty)
    // concatenating the sequences reproduces the stream exactly
    assert(packed.flatMap(_._2) == stream)
    // spans tile each sequence: start 0, contiguous, lengths sum to
    // the token count, and each span's slice equals its doc's slice
    val docIds = perDoc.map(r => r._1 -> r._3).toMap
    val consumed = scala.collection.mutable.Map[Long, Int]()
    packed.foreach { case (_, ids, spans) =>
      assert(spans.head._2 == 0)
      spans.sliding(2).foreach {
        case Seq(a, b) => assert(b._2 == a._2 + a._3, "span gap")
        case _ =>
      }
      assert(spans.map(_._3).sum == ids.size)
      spans.foreach { case (doc, start, len) =>
        val done = consumed.getOrElse(doc, 0)
        assert(ids.slice(start, start + len) ==
          docIds(doc).slice(done, done + len), s"span content $doc")
        consumed(doc) = done + len
      }
    }
    consumed.foreach { case (doc, n) =>
      assert(n == docIds(doc).size, s"doc $doc not fully packed")
    }
    // layout invariance: a different input partitioning packs
    // byte-identically (offsets derive from the total order, not from
    // partition boundaries)
    val repacked = Pack.packSequences(docs.repartition(13), col("doc_id"),
        col("text"), vocab, L)
      .orderBy("seq_id")
      .as[(Long, Seq[Int], Seq[(Long, Int, Int)])].collect().toSeq
    assert(repacked == packed)
  }

  test("duplicatedRuns: exact boundaries, maximal merge, intra-doc repeats") {
    // doc 1 = 20 unique tokens; doc 2 copies doc 1's tokens 5..14
    // verbatim inside unique padding; doc 3 repeats its own 5-gram;
    // doc 4 shares nothing
    val w = (0 until 20).map(i => s"w$i")
    val run10 = w.slice(5, 15)
    val docs = Seq(
      (1L, w.mkString(" ")),
      (2L, ("pad1 pad2 pad3 " + run10.mkString(" ") + " pad4 pad5 pad6")),
      (3L, "r1 r2 r3 r4 r5 gap1 gap2 gap3 gap4 gap5 gap6 r1 r2 r3 r4 r5"),
      (4L, (20 until 40).map(i => s"u$i").mkString(" "))
    ).toDF("doc_id", "text")
    val runs = TextOps.duplicatedRuns(docs, col("doc_id"), col("text"),
        minRun = 5)
      .as[(Long, Int, Int)].collect().toSeq.sorted
    // maximal merge: six flagged positions (5..10 / 3..8) collapse to
    // ONE run of exactly the copied 10 tokens; doc 3's self-repeat
    // yields both occurrences; doc 4 is silent
    assert(runs == Seq((1L, 5, 10), (2L, 3, 10), (3L, 0, 5), (3L, 11, 5)),
      s"got $runs")
    // runs never under-cover: raising minRun above the copy hides it
    assert(TextOps.duplicatedRuns(docs, col("doc_id"), col("text"),
      minRun = 11).count() == 0)
    // adjacent windows TOUCHING (p' == p + minRun) merge: a 2x-minRun
    // copy is one run, not two
    val docs2 = Seq(
      (1L, (0 until 10).map(i => s"c$i").mkString(" ")),
      (2L, "x1 x2 " + (0 until 10).map(i => s"c$i").mkString(" ") + " x3")
    ).toDF("doc_id", "text")
    val r2 = TextOps.duplicatedRuns(docs2, col("doc_id"), col("text"),
        minRun = 5)
      .as[(Long, Int, Int)].collect().toSeq.sorted
    assert(r2 == Seq((1L, 0, 10), (2L, 2, 10)), s"got $r2")
  }

  test("langId: every language self-classifies; und on zero-score text") {
    val bc = LangProfiles.broadcastTable(spark)
    val synth = LangProfiles.Words.map { case (l, ws) =>
      (l, (ws ++ ws).mkString(" "))
    }.toDF("lang", "text")
    val got = synth.select(col("lang"),
        LangId.predict(col("text"), bc).as("pred"))
      .as[(String, String)].collect()
    got.foreach { case (l, p) => assert(p == l, s"$l classified as $p") }
    // no letters / nothing shared with any profile -> und, not a
    // first-declared-language false positive
    val und = Seq("", "12345 !!! 67", "   ").toDF("text")
      .select(LangId.predict(col("text"), bc)).as[String].collect()
    assert(und.forall(_ == "und"), s"got ${und.mkString(",")}")
    // null text stays null (UnaryExpression null contract)
    val n = Seq[Option[String]](None).toDF("text")
      .select(LangId.scores(col("text"), bc)).collect()
    assert(n.head.isNullAt(0))
  }

  test("fused LangNgramScores == HOF literal twin, byte-identical") {
    val bc = LangProfiles.broadcastTable(spark)
    val texts = LangProfiles.Words.map { case (_, ws) =>
      (ws ++ ws.take(5)).mkString(", ") + ". 42!"
    } ++ Seq("", "No letters: 123 456?", "Mixed das les the και по text",
      "ACCENTS: Été übrig ñandú ÇA — größer",
      documents.orderBy("doc_id").limit(3).select("text")
        .as[String].collect().mkString(" "))
    val df = texts.toDF("text")
    val fused = df.select(LangId.scores(col("text"), bc))
      .as[Seq[Double]].collect()
    val hof = df.select(HofTwins.scoresHof(col("text")))
      .as[Seq[Double]].collect()
    assert(fused.length == hof.length)
    fused.zip(hof).zipWithIndex.foreach { case ((f, h), i) =>
      assert(f == h, s"row $i (${texts(i).take(40)}): fused $f != hof $h")
    }
  }

  test("lang profile table rides as a broadcast, not a plan literal") {
    val bc = LangProfiles.broadcastTable(spark)
    val df = Seq("the quick brown fox").toDF("text")
    // marker: the weight of English's ' th' trigram — present in the
    // HOF twin's embedded map literal, absent from the fused plan
    val marker = LangProfiles.profiles.head._2(" th").toString.take(12)
    val hofPlan = df.select(HofTwins.scoresHof(col("text")))
      .queryExecution.optimizedPlan.toString
    assert(hofPlan.contains(marker) && !hofPlan.contains("lang_ngram_scores"))
    val fusedPlan = df.select(LangId.scores(col("text"), bc))
      .queryExecution.optimizedPlan.toString
    assert(fusedPlan.contains("lang_ngram_scores"))
    assert(!fusedPlan.contains(marker),
      s"fused lang plan embeds profile literal $marker")
  }

  test("corpusStats and curate accept a pluggable language classifier") {
    val bc = LangProfiles.broadcastTable(spark)
    val ngram: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      t => LangId.predict(t, bc)
    val fr = LangProfiles.Words.find(_._1 == "fr").get._2
    val ru = LangProfiles.Words.find(_._1 == "ru").get._2
    val docs = Seq(
      (1L, "a.fr", (fr ++ fr).mkString(" ")),
      (2L, "b.ru", (ru ++ ru).mkString(" "))).toDF("doc_id", "source", "text")
    val stats = TextOps.corpusStats(docs, col("source"), col("text"),
        langId = ngram)
      .select(col("source"), col("n_langs")).as[(String, Long)].collect().toMap
    assert(stats == Map("a.fr" -> 1L, "b.ru" -> 1L))
    // the n-gram classifier gates curation: French docs pass lang="fr"
    // (the 4-language marker default would also match here; the point
    // is the parameter routes the verdict through the classifier)
    val kept = TextOps.curationFilter(docs, col("doc_id"), col("text"),
        lang = "fr", minTokens = 10, maxPunctRatio = 1.0,
        langId = Some(ngram))
      .select(col("doc_id"), col("lang_pred")).as[(Long, String)].collect()
    assert(kept.toSeq == Seq((1L, "fr")), s"got ${kept.mkString(",")}")
    // full curate() takes the same parameter
    val cur = TextOps.curate(docs, col("doc_id"), col("text"), lang = "ru",
      minTokens = 10, maxPunctRatio = 1.0, langId = Some(ngram))
    assert(cur.kept.select("doc_id").as[Long].collect().toSeq == Seq(2L))
  }

  test("sampleMixture: rate semantics, determinism across partitioning") {
    val docs = documents.select(col("doc_id"), col("source"), col("text"))
    val rates = Map("src0" -> 3.0, "src1" -> 0.0)
    def run(df: org.apache.spark.sql.DataFrame) =
      TextOps.sampleMixture(df, col("doc_id"), col("source"), rates,
          defaultRate = 0.5, seed = 3L)
        .select(col("doc_id"), col("copy")).as[(Long, Int)]
        .collect().toSeq.sorted
    val a = run(docs)
    val byDoc = a.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val src = docs.select(col("doc_id"), col("source"))
      .as[(Long, String)].collect().toMap
    // integral rates are exact: 3.0 -> copies 1,2,3; 0.0 -> absent;
    // fractional 0.5 -> 0 or 1 copy, never more
    byDoc.foreach { case (id, copies) =>
      src(id) match {
        case "src0" => assert(copies == Seq(1, 2, 3))
        case "src1" => fail(s"rate-0 doc $id survived")
        case _ => assert(copies == Seq(1))
      }
    }
    assert(a.nonEmpty && byDoc.keySet.intersect(
      src.filter(_._2 == "src0").keySet).nonEmpty)
    // default-rate sources keep SOME but not all docs (0.5 coin)
    val defIds = src.filterNot(kv => kv._2 == "src0" || kv._2 == "src1").keySet
    val keptDef = byDoc.keySet.intersect(defIds)
    assert(keptDef.nonEmpty && keptDef.size < defIds.size)
    // layout-stable: identical output under any partitioning, and a
    // different seed redraws the fractional coins
    assert(run(docs.repartition(13, col("source"))) == a)
    val reseeded = TextOps.sampleMixture(docs, col("doc_id"), col("source"),
        rates, defaultRate = 0.5, seed = 4L)
      .select(col("doc_id"), col("copy")).as[(Long, Int)].collect().toSeq.sorted
    assert(reseeded != a)
    intercept[IllegalArgumentException] {
      TextOps.sampleMixture(docs.withColumn("copy", lit(1)), col("doc_id"),
        col("source"), rates)
    }
  }

  test("exciseRuns: cuts exactly the flagged ranges, uniform rejoin, guard") {
    val w = (0 until 20).map(i => s"w$i")
    val docs = Seq(
      (1L, w.mkString(" ")),
      (2L, "pad1 pad2 pad3 " + w.slice(5, 15).mkString(" ") + " pad4"),
      (3L, "Unique, Tokens! only")).toDF("doc_id", "text")
    val runs = TextOps.duplicatedRuns(docs, col("doc_id"), col("text"),
      minRun = 5)
    val out = TextOps.exciseRuns(docs, col("doc_id"), col("text"), runs)
      .as[(Long, String)].collect().toMap
    // doc1 loses w5..w14, doc2 its verbatim copy; doc3 has no runs and
    // comes back as its rejoined lowered token stream (uniform form)
    assert(out(1L) ==
      ((0 until 5) ++ (15 until 20)).map(i => s"w$i").mkString(" "))
    assert(out(2L) == "pad1 pad2 pad3 pad4")
    assert(out(3L) == "unique tokens only")
    // after cutting every flagged range this corpus shares nothing
    val again = TextOps.duplicatedRuns(
      out.toSeq.toDF("doc_id", "text"), col("doc_id"), col("text"),
      minRun = 5).count()
    assert(again == 0, s"$again runs survived excision")
    // shape guard fails fast on renamed columns
    intercept[IllegalArgumentException] {
      TextOps.exciseRuns(docs, col("doc_id"), col("text"),
        runs.withColumnRenamed("start", "s"))
    }
    // scale-shape pin: at the default broadcast threshold the
    // aggregated runs side broadcasts — the docs side does not shuffle
    // (the scaladoc's documented common case)
    val plan = TextOps.exciseRuns(documents, col("doc_id"), col("text"),
        TextOps.duplicatedRuns(documents, col("doc_id"), col("text"),
          minRun = 5))
      .queryExecution.executedPlan.toString
    // duplicatedRuns' own flag semi-join sits above its barrier leaf and
    // broadcasts too, so a BroadcastHashJoin alone does not pin this join
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"),
      s"runs side no longer broadcasts:\n$plan")
  }

  test("exciseRuns: complement-slice cut == per-token coverage on adversarial intervals") {
    // the r08 linear cut (sorted-interval cursor walk) must keep exactly
    // the tokens the old per-token `exists` form kept, for ANY interval
    // set: overlapping, nested, touching, duplicated, negative starts,
    // zero/negative lengths, past-the-end — and a pathological doc that
    // is MOSTLY runs (the case the walk makes linear)
    val rnd = new scala.util.Random(7)
    val docs0 = (0L until 40L).map { i =>
      val n = rnd.nextInt(30)
      (i, (0 until n).map(t => s"t${rnd.nextInt(8)}").mkString(" "))
    }
    val runs0 = docs0.flatMap { case (i, text) =>
      val nt = text.split(" ").count(_.nonEmpty)
      (0 until rnd.nextInt(6)).map { _ =>
        (i, rnd.nextInt(math.max(1, nt + 6)) - 3, rnd.nextInt(10) - 2)
      }
    }
    val got = TextOps.exciseRuns(docs0.toDF("doc_id", "text"),
        col("doc_id"), col("text"),
        runs0.toDF("doc_id", "start", "len"))
      .as[(Long, String)].collect().toMap
    val runsByDoc = runs0.groupBy(_._1)
    docs0.foreach { case (i, text) =>
      val toks = text.toLowerCase.split(" ").filter(_.nonEmpty)
      val rs = runsByDoc.getOrElse(i, Seq.empty)
      val expect = toks.zipWithIndex.collect {
        case (t, ix) if !rs.exists { case (_, s, l) => ix >= s && ix < s + l } => t
      }.mkString(" ")
      assert(got(i) == expect, s"doc $i: got '${got(i)}' expect '$expect' runs ${rs}")
    }
  }

  test("duplicatedRuns: staged mode matches, shuffles carry no text") {
    val w = (0 until 20).map(i => s"w$i")
    val docs = Seq(
      (1L, w.mkString(" ")),
      (2L, ("pad1 pad2 pad3 " + w.slice(5, 15).mkString(" ") + " pad4"))
    ).toDF("doc_id", "text")
    val dir = tempDir("graft-runs-")
    val staged = TextOps.duplicatedRuns(docs, col("doc_id"), col("text"),
      minRun = 5, staging = Some(dir))
    val got = staged.as[(Long, Int, Int)].collect().toSeq.sorted
    val cached = TextOps.duplicatedRuns(docs, col("doc_id"), col("text"),
        minRun = 5)
      .as[(Long, Int, Int)].collect().toSeq.sorted
    assert(got == cached, s"staged $got != cached $cached")
    // the corpus-wide frame every downstream exchange reads is
    // (doc_id, pos, 8-byte hash) — never text; with the parquet
    // barrier the whole post-staging plan resolves no text column
    val sh = spark.read.parquet(s"$dir/run_hashes")
    assert(sh.schema.map(f => (f.name, f.dataType.typeName)) ==
      Seq(("doc_id", "long"), ("pos", "integer"), ("h", "long")))
    assert(!staged.queryExecution.executedPlan.toString.contains("text"),
      "post-staging plan must not reference the text column")
  }

  test("release: curate -> decontaminate -> quota -> split composes end-to-end") {
    val docs = documents.select(col("doc_id"), col("text"), col("source"))
    val bench = docs.filter(col("doc_id") < 5).select(col("text"))
    val res = TextOps.release(docs, col("doc_id"), col("text"), col("source"),
      bench, col("text"), maxPerSource = 3)
    val shards = res.shards
    val ids = shards.select("doc_id").as[Long].collect().toSet
    assert(ids.nonEmpty)
    // decontamination: benchmark members self-hit and are gone
    val flagged = res.contaminated.select("doc_id").as[Long].collect().toSet
    assert(flagged.nonEmpty, "benchmark self-hits missing (vacuous)")
    assert(flagged.intersect(ids).isEmpty,
      s"contaminated docs leaked into shards: ${flagged.intersect(ids)}")
    // quota: never more than maxPerSource docs of one source
    val maxPer = shards.groupBy("source").count().agg(max("count"))
      .as[Long].head()
    assert(maxPer <= 3, s"quota violated: $maxPer")
    // the token-budget knob: per-source kept token volume never
    // exceeds the budget, and the budget genuinely binds somewhere
    val budgeted = TextOps.release(docs, col("doc_id"), col("text"),
      col("source"), bench, col("text"),
      tokenBudgetPerSource = Some(300.0)).shards
    val perSrc = budgeted.groupBy("source")
      .agg(sum(col("n_tokens").cast("long")).as("tok"))
      .select("tok").as[Long].collect()
    assert(perSrc.nonEmpty && perSrc.forall(_ <= 300L),
      s"token budget violated: ${perSrc.toSeq}")
    // non-vacuous: at least one source fills most of its budget (every
    // curated doc has >= 30 tokens, so a filled source proves the
    // prefix rule actually selected and stopped)
    assert(perSrc.exists(_ > 200L),
      s"budget never approached (vacuous): ${perSrc.toSeq}")
    // split: deterministic — identical to splitByHash on the same ids
    val expectSplit = TextOps.splitByHash(shards.select("doc_id"),
        col("doc_id"), Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
      .as[(Long, String)].collect().toMap
    shards.select("doc_id", "split").as[(Long, String)].collect()
      .foreach { case (i, sp) => assert(sp == expectSplit(i)) }
    // report: per-(source, split) volumes sum to the shard totals
    val (repDocs, repToks) = res.report.agg(sum("n_docs"), sum("total_tokens"))
      .as[(Long, Long)].head()
    val (shDocs, shToks) = shards.agg(count(lit(1)),
      sum(col("n_tokens").cast("long"))).as[(Long, Long)].head()
    assert(repDocs == shDocs && repToks == shToks)
    // shards carry the curation features (a release is self-describing)
    assert(shards.columns.toSet == Set("doc_id", "lang_pred", "n_tokens",
      "punct_ratio", "source", "split"))
    // the default (no quota) skips the quota stage instead of ranking
    // every source through a top-(2^31) aggregate; the quota runs above
    // the barriers, so its aggregate shows in the shards plan when set
    assert(shards.queryExecution.executedPlan.toString.contains("bounded_top_k"))
    val unq = TextOps.release(docs, col("doc_id"), col("text"), col("source"),
      bench, col("text"))
    assert(unq.shards.count() >= shards.count())
    assert(!unq.shards.queryExecution.executedPlan.toString
      .contains("bounded_top_k"))
    // splitOn = "source": whole-domain splitting — no source straddles
    // two bands (the near-dup-leakage guard)
    val bySrc = TextOps.release(docs, col("doc_id"), col("text"),
        col("source"), bench, col("text"), maxPerSource = 3,
        splitOn = "source").shards
      .groupBy("source").agg(countDistinct(col("split")).as("n"))
      .agg(max("n")).as[Long].head()
    assert(bySrc == 1L)
    assertThrows[IllegalArgumentException] {
      TextOps.release(docs, col("doc_id"), col("text"), col("source"),
        bench, col("text"), splitOn = "lang_pred")
    }
  }

  /** A release corpus with near-dups: 200 docs, plus two suffixed
    * copies of the first 30 (same source), so near pairs and, under a
    * small `maxBucket`, oversized buckets exist. A local relation: a
    * parquet read of the suite's corpus would scan the cached
    * `documents`, whose first scan builds the cache.
    */
  private def releaseCorpus(): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val base = spark.read.parquet(s"$docsPath/documents.parquet")
      .select(col("doc_id"), col("text"), col("source")).filter(col("doc_id") < 200)
      .as[(Long, String, String)].collect().toSeq.toDF("doc_id", "text", "source")
    def copies(off: Long, tail: String) = base.filter(col("doc_id") < 30)
      .select((col("doc_id") + off).as("doc_id"), concat(col("text"), lit(tail)).as("text"),
        col("source"))
    (base.unionByName(copies(100000L, " zz")).unionByName(copies(200000L, " yy zz")),
      base.filter(col("doc_id") < 5).select(col("text")))
  }

  test("staged release == in-memory release: all five frames; nearPairs scans its barrier") {
    import org.apache.spark.sql.DataFrame
    val (docs, bench) = releaseCorpus()
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    def frames(r: TextOps.ReleaseResult): Seq[(String, DataFrame)] = Seq("shards" -> r.shards,
      "nearPairs" -> r.nearPairs, "hotBuckets" -> r.hotBuckets,
      "contaminated" -> r.contaminated, "report" -> r.report)
    // (maxPerSource, exactClusters, maxBucket)
    Seq((3, false, 4096), (Int.MaxValue, false, 4096), (3, true, 2)).foreach {
      case (quota, exact, maxBucket) =>
        def run(staging: Option[String]) = TextOps.release(docs, col("doc_id"), col("text"),
          col("source"), bench, col("text"), maxBucket = maxBucket, maxPerSource = quota,
          exactClusters = exact, staging = staging)
        val mem = run(None)
        val staged = run(Some(tempDir("graft-release-staged")))
        val what = s"maxPerSource=$quota exactClusters=$exact maxBucket=$maxBucket"
        frames(mem).zip(frames(staged)).foreach { case ((name, a), (_, b)) =>
          assert(a.columns.toSeq == b.columns.toSeq, s"$name columns, $what")
          assert(rows(a) == rows(b), s"$name rows differ, $what")
        }
        // non-vacuous: every frame the corpus can fill is filled
        assert(mem.nearPairs.count() >= 60 && mem.contaminated.count() > 0 &&
          mem.shards.count() > 0, what)
        assert((mem.hotBuckets.count() > 0) == (maxBucket == 2), what)
        // the pairs are a barrier scan: reading them runs no banded join
        Seq(mem, staged).foreach { r =>
          val plan = r.nearPairs.queryExecution.executedPlan.toString
          assert(!plan.contains("Join") && !plan.contains("Exchange"),
            s"nearPairs recomputes the self-join, $what:\n$plan")
        }
        assert(staged.nearPairs.queryExecution.executedPlan.toString.contains("curate_pairs"))
    }
  }

  test("a staged release: job count, and each barrier job named graft:<name>:barrier") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val (docs, bench) = releaseCorpus()
    val marker = "graft-test-jobs-marker"
    val caller = "graft-test-caller"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        if (d == marker) drained.countDown() else jobs.add(d)
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobDescription(caller)
      val r = TextOps.release(docs, col("doc_id"), col("text"), col("source"), bench,
        col("text"), maxPerSource = 3, staging = Some(tempDir("graft-release-jobs")))
      Seq(r.shards, r.nearPairs, r.hotBuckets, r.contaminated, r.report)
        .foreach(_.write.format("noop").mode("overwrite").save())
      // listener events arrive in order: once the marker job's is in, so
      // is every job of the release
      sc.setJobDescription(marker)
      sc.parallelize(1 to 1, 1).count()
      assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
    val descs = jobs.asScala.toSeq
    val barrier = "graft:(\\w+):barrier".r
    val (barrierJobs, callerJobs) = descs.partition(barrier.matches)
    // the barriers in call order; the drains ran under the caller's
    // restored description
    assert(barrierJobs.distinct.map { case barrier(n) => n } ==
      Seq("curate_keepers", "minhash_base", "curate_pairs", "release_contaminated"))
    assert(callerJobs.forall(_ == caller), s"unnamed or stray jobs: ${descs.distinct}")
    // 38 jobs on this corpus while nearPairs re-ran the banded join,
    // release_curated and release_clean were barriers and each staged
    // read-back inferred its schema
    assert(descs.size == 29,
      s"${descs.size} jobs: ${descs.groupBy(identity).view.mapValues(_.size).toMap}")
  }

  test("splitLeakage: doc-keyed splits leak near pairs; group-keyed splits don't") {
    // near-dup pairs WITHIN sources (same-source copies)
    val base = documents.select(col("doc_id"), col("text"), col("source"))
      .filter(col("doc_id") < 100)
    val dups = base.select((col("doc_id") + 100000).as("doc_id"),
      concat(col("text"), lit(" zz")).as("text"), col("source"))
    val all = base.unionByName(dups)
    val pairs = TextOps.minhashDupPairs(all, col("doc_id"), col("text"),
      minJaccard = 0.8)
    val fracs = Seq("train" -> 0.5, "val" -> 0.25, "test" -> 0.25)
    // doc-id splitting puts a pair's two members in independent bands:
    // with these fractions most pairs straddle — leakage is non-empty
    val docSplit = TextOps.splitByHash(all, col("doc_id"), fracs)
    val leaked = TextOps.splitLeakage(docSplit, pairs)
    assert(leaked.count() > 0, "expected doc-keyed leakage (vacuous test)")
    leaked.as[(Long, Long, String, String)].collect().foreach {
      case (_, _, sa, sb) => assert(sa != sb)
    }
    // source-keyed splitting keeps same-source pairs in one band — the
    // leak guard's exact promise: any pair the audit still reports
    // must be CROSS-source (the corpus has organic near-dups across
    // sources; a group key can only protect within its groups)
    val srcSplit = TextOps.splitByHash(all, col("source"), fracs)
    val srcOf = all.select(col("doc_id"), col("source"))
      .as[(Long, String)].collect().toMap
    val leakedSrc = TextOps.splitLeakage(srcSplit, pairs)
      .as[(Long, Long, String, String)].collect()
    leakedSrc.foreach { case (a, b, _, _) =>
      assert(srcOf(a) != srcOf(b),
        s"same-source pair ($a, $b) leaked under source-keyed split")
    }
    // ... and the planted same-source copies never leak
    assert(!leakedSrc.exists { case (a, b, _, _) =>
      math.abs(a - b) == 100000L
    })
  }

  test("dupClusters: transitive chains collapse to min-id components") {
    // the case the greedy per-pair drop gets wrong: (1,3),(2,3) is ONE
    // component {1,2,3} (keeper 1), while greedy would keep {1,2}
    val pairs = Seq((1L, 3L, 0.9), (2L, 3L, 0.9),
      // a 4-link chain (diameter > 1 forces real propagation rounds)
      (10L, 11L, 0.9), (11L, 12L, 0.9), (12L, 13L, 0.9), (13L, 14L, 0.9),
      // an isolated pair
      (20L, 21L, 0.9)).toDF("id_a", "id_b", "jaccard")
    val got = TextOps.dupClusters(pairs)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 14L -> 10L,
      20L -> 20L, 21L -> 20L))
    val drops = TextOps.clusterDropIds(pairs).as[Long].collect().sorted.toSeq
    assert(drops == Seq(2L, 3L, 11L, 12L, 13L, 14L, 21L))
  }

  test("dupClusters converges on a 300-link chain (pointer-jumping, not O(d) rounds)") {
    // a pure drift chain: diameter 300 >> the 64-round cap, so plain
    // min-label propagation could NOT finish — path doubling must
    // collapse it in ~log2(300) rounds
    val chain = (0L until 300L).map(i => (i, i + 1, 0.9))
      .toDF("id_a", "id_b", "jaccard")
    val got = TextOps.dupClusters(chain).as[(Long, Long)].collect().toSeq
    assert(got.size == 301)
    assert(got.forall(_._2 == 0L), s"non-root labels: ${got.filter(_._2 != 0L).take(5)}")
  }

  test("dupClusters on a real LSH pair set matches per-pair reachability") {
    val base = documents.select(col("doc_id"), col("text")).filter(col("doc_id") < 60)
    // two generations of near-dups of the same parents -> transitive sets
    val g1 = base.filter(col("doc_id") < 15)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" zz")).as("text"))
    val g2 = base.filter(col("doc_id") < 15)
      .select((col("doc_id") + 200000).as("doc_id"),
        concat(col("text"), lit(" zz yy")).as("text"))
    val pairs = TextOps.minhashDupPairs(base.unionByName(g1).unionByName(g2),
      col("doc_id"), col("text"), minJaccard = 0.7)
    val got = TextOps.dupClusters(pairs).as[(Long, Long)].collect().toMap
    // reference union-find over the same collected pair set
    val ps = pairs.select("id_a", "id_b").as[(Long, Long)].collect()
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    ps.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    assert(got.nonEmpty && got.keySet == parent.keySet)
    got.foreach { case (id, keeper) => assert(keeper == find(id),
      s"doc $id: got keeper $keeper, union-find says ${find(id)}") }
  }

  test("curate exactClusters=true drops whole components, not just pair maxima") {
    val base = documents.select(col("doc_id"), col("text"))
      .filter(col("doc_id") < 40)
    val g1 = base.filter(col("doc_id") < 8)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" zz")).as("text"))
    val g2 = base.filter(col("doc_id") < 8)
      .select((col("doc_id") + 200000).as("doc_id"),
        concat(col("text"), lit(" zz yy")).as("text"))
    val all = base.unionByName(g1).unionByName(g2)
    val res = TextOps.curate(all, col("doc_id"), col("text"),
      exactClusters = true)
    val (kept, pairs) = (res.kept, res.nearPairs)
    val keptIds = kept.select("doc_id").as[Long].collect().toSet
    val clusters = TextOps.dupClusters(pairs).as[(Long, Long)].collect()
    // exactly the non-keeper members of every component are gone
    clusters.foreach { case (id, keeper) =>
      if (id == keeper) assert(keptIds.contains(id), s"keeper $id dropped")
      else assert(!keptIds.contains(id), s"non-keeper $id kept")
    }
  }

  test("asofJoin: latest at-or-before per key; equality matches; no predecessor -> null") {
    import graft.analysis.TimeOps
    val left = Seq((1L, 10L, "a"), (1L, 5L, "b"), (1L, 4L, "c"),
      (2L, 7L, "d"), (3L, 9L, "e")).toDF("k", "t", "l_tag")
    val right = Seq((1L, 5L, 100L), (1L, 8L, 101L), (2L, 7L, 102L),
      (2L, 9L, 103L)).toDF("k", "t", "rv")
    val got = TimeOps.asofJoin(left, right, "k", "t")
      .select(col("l_tag"), col("asof.rv"))
      .as[(String, Option[Long])].collect().toMap
    assert(got == Map(
      "a" -> Some(101L), // t=10: latest right at 8
      "b" -> Some(100L), // t=5: equality matches
      "c" -> None,       // t=4: nothing at-or-before
      "d" -> Some(102L), // equality; the later right (t=9) is ignored
      "e" -> None))      // key with no right rows at all
    // the plan is ONE hash shuffle on the key + a window — never an
    // inequality join (BroadcastNestedLoop at scale)
    val plan = TimeOps.asofJoin(left, right, "k", "t")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && plan.contains("Window"))
    // SQL-null semantics (DuckDB ASOF): null-keyed/null-timed right
    // rows never match anything; left rows always survive, with a
    // null match — a null-time right payload must NOT be carried in
    // by NULLS-FIRST ordering
    val leftN = Seq((Some(1L), Some(10L), "a"), (Some(1L), None, "b"),
      (None, Some(5L), "c")).toDF("k", "t", "l_tag")
    val rightN = Seq((Some(1L), None, 200L), (None, Some(1L), 201L),
      (Some(1L), Some(3L), 202L)).toDF("k", "t", "rv")
    val gotN = TimeOps.asofJoin(leftN, rightN, "k", "t")
      .select(col("l_tag"), col("asof.rv"))
      .as[(String, Option[Long])].collect().toMap
    assert(gotN == Map("a" -> Some(202L), "b" -> None, "c" -> None), s"got $gotN")
  }

  test("rangeJoinBucketed: containment exact at boundaries; equi-join plan, intervals spanning buckets") {
    import graft.analysis.TimeOps
    val pts = Seq((1L, 0L), (2L, 99L), (3L, 100L), (4L, 150L), (5L, 250L),
      (6L, 349L), (7L, 350L)).toDF("pid", "t")
    // [100, 350): spans buckets 1..3 at width 100; [0, 100): exactly one
    val iv = Seq((10L, 100L, 350L), (11L, 0L, 100L)).toDF("iid", "s", "e")
    val got = TimeOps.rangeJoinBucketed(pts, col("t"), iv, col("s"), col("e"),
        bucketWidth = 100L)
      .select(col("pid"), col("iid")).as[(Long, Long)].collect().toSet
    assert(got == Set(1L -> 11L, 2L -> 11L, // start inclusive, end exclusive
      3L -> 10L, 4L -> 10L, 5L -> 10L, 6L -> 10L)) // 350 excluded
    // no duplicate pairs (a point matches an interval in ONE bucket)
    val n = TimeOps.rangeJoinBucketed(pts, col("t"), iv, col("s"), col("e"), 100L)
      .count()
    assert(n == got.size.toLong)
    // equi-join on the bucket id, never a nested-loop inequality join
    val plan = TimeOps.rangeJoinBucketed(pts, col("t"), iv, col("s"), col("e"), 100L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested loop:\n$plan")
  }

  test("splitByHash: deterministic, partition-invariant, group-stratified") {
    val docs = spark.range(20000).select(col("id").as("doc_id"),
      concat(lit("src"), pmod(col("id"), lit(40))).as("source"))
    val fracs = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)
    def splits(parts: Int) =
      TextOps.splitByHash(docs.repartition(parts), col("doc_id"), fracs)
        .select("doc_id", "split").as[(Long, String)].collect().toMap
    // the assignment is a pure function of the key: identical across
    // partition layouts (randomSplit is NOT)
    val a = splits(2)
    assert(a == splits(17))
    // fractions land near target (hash uniformity; 20k rows)
    val counts = a.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(math.abs(counts("train") - 18000) < 400, s"train ${counts("train")}")
    assert(math.abs(counts("val") - 1000) < 150 &&
      math.abs(counts("test") - 1000) < 150, s"got $counts")
    // group-stratified: splitting on the SOURCE key keeps every source
    // whole (no domain straddles train and eval — the leakage guard)
    val bySource = TextOps.splitByHash(docs, col("source"), fracs)
      .groupBy("source").agg(countDistinct(col("split")).as("n"))
      .agg(max("n")).as[Long].head()
    assert(bySource == 1L)
    // invalid fractions rejected
    intercept[IllegalArgumentException] {
      TextOps.splitByHash(docs, col("doc_id"), Seq("a" -> 0.5, "b" -> 0.4))
    }
  }

  test("sessionize: gap splits sessions; boundary gap stays; numbering deterministic") {
    import graft.analysis.TimeOps
    val ev = Seq(
      (1L, 0L, 1L), (1L, 100L, 2L), (1L, 200L, 3L),   // session 1 (gaps = 100)
      (1L, 301L, 4L),                                  // gap 101 > 100 -> session 2
      (1L, 401L, 5L),                                  // exactly 100 -> stays
      (2L, 50L, 6L),                                   // other key restarts at 1
      (2L, 50L, 7L)                                    // tie: same session, id order
    ).toDF("k", "t", "id")
    val got = TimeOps.sessionize(ev, col("k"), col("t"), col("id"), maxGap = 100L)
      .select(col("id"), col("session_no")).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 2L,
      6L -> 1L, 7L -> 1L))
    // the documented scale shape: both window passes share ONE key
    // exchange (a refactor breaking the shared ordering would add one)
    val plan = TimeOps.sessionize(ev, col("k"), col("t"), col("id"), 100L)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).length == 1,
      s"sessionize must plan exactly one Exchange:\n$plan")
  }

  test("hotKeys: flags only over-volume window keys, with bucket spread") {
    import graft.analysis.TimeOps
    val ev = spark.range(10000).select(
      when(col("id") < 9000, lit("whale")).otherwise(lit("minnow")).as("k"),
      (col("id") * 10L).as("t"))
    val hot = TimeOps.hotKeys(ev, col("k"), col("t"),
        maxPerKey = 5000L, bucketWidth = 1000L)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(hot.map(_._1) == Seq("whale"), s"got $hot")
    val (_, n, nBuckets, tMin, tMax) = hot.head
    assert(n == 9000L && tMin == 0L && tMax == 89990L)
    // 9000 events at t = 0..89990 step 10 cover buckets 0..89
    assert(nBuckets == 90L, s"buckets $nBuckets")
    // the audit itself is partial-agg keyed, never a window
    val plan = TimeOps.hotKeys(ev, col("k"), col("t"), 5000L, 1000L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"audit must not plan a Window:\n$plan")
  }

  test("asofJoinBucketed == asofJoin: crafted nulls, random volume, cross-bucket carry") {
    import graft.analysis.TimeOps
    // crafted: the plain test's cases incl. SQL-null semantics
    val leftN = Seq((Some(1L), Some(10L), "a"), (Some(1L), None, "b"),
      (None, Some(5L), "c")).toDF("k", "t", "l_tag")
    val rightN = Seq((Some(1L), None, 200L), (None, Some(1L), 201L),
      (Some(1L), Some(3L), 202L)).toDF("k", "t", "rv")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(TimeOps.asofJoinBucketed(leftN, rightN, "k", "t", bucketWidth = 4L))
      == rows(TimeOps.asofJoin(leftN, rightN, "k", "t")))
    // random volume: 7 keys, hashed times, buckets much smaller than the
    // time range so carries must cross MANY empty and active buckets;
    // duplicate (key, time) right rows exercise the greatest-payload tie
    val ev = spark.range(4000).select(pmod(col("id"), lit(7)).as("k"),
      pmod(xxhash64(col("id")), lit(10000)).as("t"), col("id"))
    val left = ev.filter(col("id") % 3 === 0).select(col("k"), col("t"),
      col("id").as("lid"))
    val right = ev.filter(col("id") % 3 =!= 0).select(col("k"), col("t"),
      col("id").as("rid"))
    val plain = TimeOps.asofJoin(left, right, "k", "t")
    val bucketed = TimeOps.asofJoinBucketed(left, right, "k", "t",
      bucketWidth = 250L)
    assert(rows(bucketed) == rows(plain))
    // the event-level window partitions by (key, TIME BUCKET) — the
    // hot-key bound this form exists for
    val plan = bucketed.queryExecution.executedPlan.toString
    assert(plan.contains("Window") && plan.contains("__b"),
      s"bucketed asof lost its (key, bucket) window partitioning:\n$plan")
  }

  test("sessionizeBucketed == sessionize: sessions span buckets; numbering identical") {
    import graft.analysis.TimeOps
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // crafted: gaps exactly at/over maxGap straddling bucket boundaries
    val ev = Seq(
      (1L, 0L, 1L), (1L, 100L, 2L), (1L, 201L, 3L),  // break inside bucket
      (1L, 290L, 4L), (1L, 391L, 5L),                // break across boundary
      (1L, 491L, 6L),                                // boundary gap == max stays
      (2L, 50L, 7L), (2L, 50L, 8L)                   // tie at equal time
    ).toDF("k", "t", "id")
    assert(rows(TimeOps.sessionizeBucketed(ev, col("k"), col("t"), col("id"),
        maxGap = 100L, bucketWidth = 300L))
      == rows(TimeOps.sessionize(ev, col("k"), col("t"), col("id"), 100L)))
    // random volume: sessions and silences far longer than a bucket
    val big = spark.range(4000).select(pmod(col("id"), lit(5)).as("k"),
      (pmod(xxhash64(col("id")), lit(40)) * 37L +
        (col("id") % 97L) * 211L).as("t"), col("id"))
    assert(rows(TimeOps.sessionizeBucketed(big, col("k"), col("t"), col("id"),
        maxGap = 120L, bucketWidth = 500L))
      == rows(TimeOps.sessionize(big, col("k"), col("t"), col("id"), 120L)))
    // null key and null time survive identically to the plain form
    val nulls = Seq((Some(1L), Some(10L), 1L), (Some(1L), None, 2L),
      (None, Some(5L), 3L), (Some(1L), None, 4L)).toDF("k", "t", "id")
    assert(rows(TimeOps.sessionizeBucketed(nulls, col("k"), col("t"), col("id"),
        maxGap = 100L, bucketWidth = 300L))
      == rows(TimeOps.sessionize(nulls, col("k"), col("t"), col("id"), 100L)))
  }

  test("redactPii: email/IP/SSN/phone redact; order keeps SSN out of phone's jaws") {
    val got = Seq(
      "mail a.b-c_d@sub.example.co.uk now",
      "server at 192.168.001.42 port x",
      "ssn 123-45-6789 phone +44 (020) 7946-0958 short 555-1234",
      "no pii here at all"
    ).toDF("t").select(TextOps.redactPii(col("t"))).as[String].collect().toSeq
    assert(got == Seq(
      "mail <EMAIL> now",
      "server at <IP> port x",
      "ssn <SSN> phone <PHONE> short <PHONE>",
      "no pii here at all"), s"got $got")
  }

  test("redactPii: IPv6 and credit-card shapes; order keeps CC out of phone's jaws") {
    val got = Seq(
      // full IPv6, shortened-but-uncompressed IPv6, and the documented
      // ::-compressed miss (survives literally)
      "v6 2001:0db8:85a3:0000:0000:8a2e:0370:7334 end",
      "short fe80:1:2:3:4 but compressed ::1 survives",
      // spaced, dashed, and solid credit-card shapes; 15 digits is not
      // a CC shape (degrades to the phone rule's grouping)
      "card 4111 1111 1111 1111 or 4111-1111-1111-1111 or 4111111111111111",
      "amex-shaped 411111111111111 stays un-CC'd",
      // the phone next to a card: CC redacts first, phone still caught
      "pay 5500 0000 0000 0004 call (555) 123-4567"
    ).toDF("t").select(TextOps.redactPii(col("t"))).as[String].collect().toSeq
    assert(got == Seq(
      "v6 <IPV6> end",
      "short <IPV6> but compressed ::1 survives",
      "card <CC> or <CC> or <CC>",
      "amex-shaped 411111111111111 stays un-CC'd",
      "pay <CC> call <PHONE>"), s"got $got")
  }

  test("urlHost: scheme/userinfo/port/path drop, www strips, host lowercases") {
    val got = Seq(
      "https://user:pw@WWW.Example.COM:8443/a/b?q=1#f",
      "http://sub.domain.org/path",
      "ftp://files.example.net",
      "bare-host.example.io/page",
      "www.nested.www.example.com/x"
    ).toDF("u").select(TextOps.urlHost(col("u"))).as[String].collect().toSeq
    assert(got == Seq("example.com", "sub.domain.org", "files.example.net",
      "bare-host.example.io", "nested.www.example.com"), s"got $got")
  }

  test("repetitionSignals: known values on a crafted doc") {
    val doc = "one two three\nrepeat\nrepeat\nend...\n# @ |"
    val r = Seq(doc).toDF("t")
      .select(TextOps.repetitionSignals(col("t")).as("r")).select("r.*")
      .as[(Int, Double, Double, Double, Double, Double)].head()
    assert(r._1 == 5)                       // n_lines
    assert(r._2 == 1.0 - 4.0 / 5.0)         // one duplicated line
    // tokens: one two three repeat repeat end -> lens 3+3+5+6+6+3 = 26/6
    assert(r._3 == 26.0 / 6.0, s"mean_word_len ${r._3}")
    assert(r._4 == 3.0 / 6.0, s"symbol_ratio ${r._4}") // # @ |
    assert(r._5 == 1.0 / 5.0)               // one ellipsis line
    assert(r._6 == 6.0 / 6.0)               // all tokens alphabetic
  }

  test("contaminationHits: probes flag, clean docs don't; benchmark side broadcasts") {
    val docs = documents.select(col("doc_id"), col("text")).filter(col("doc_id") < 60)
    val probes = docs.filter(col("doc_id") < 3)
      .select((col("doc_id") + 900000).as("doc_id"),
        concat(lit("leading prefix then "), col("text")).as("text"))
    val bench = docs.filter(col("doc_id") < 5).select(col("text"))
    val hits = TextOps.contaminationHits(docs.unionByName(probes),
      col("doc_id"), col("text"), bench, col("text"), n = 8)
    val flagged = hits.select("doc_id").as[Long].collect().toSet
    // benchmark members self-hit; planted probes hit their source doc
    (0L until 5L).foreach(i => assert(flagged.contains(i), s"bench doc $i unflagged"))
    (0L until 3L).foreach(i => assert(flagged.contains(i + 900000), s"probe $i unflagged"))
    // organic hits among the synthetic corpus are legitimate (its docs
    // genuinely reuse sentence fragments; the Python oracle mirror flags
    // the identical set at sf0.01) — so no no-organic assertion here
    // minHits raises the bar: probe hit counts equal their interior
    // shingle overlap, far above 1 — a huge threshold empties the probes
    assert(TextOps.contaminationHits(probes, col("doc_id"), col("text"),
      bench, col("text"), n = 8, minHits = 100000L).count() == 0)
    // plan: benchmark side is a broadcast semi-join — the corpus never
    // shuffles for the membership test
    val plan = hits.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"contamination join is not a broadcast semi-join:\n$plan")
  }

  test("sourceQuota: keeps the top-N per source by (quality desc, id asc)") {
    val docs = Seq(
      (1L, "a", 10L), (2L, "a", 30L), (3L, "a", 30L), (4L, "a", 50L),
      (5L, "b", 5L), (6L, "b", 5L),
      (7L, "c", 1L)
    ).toDF("doc_id", "source", "q")
    val kept = TextOps.sourceQuota(docs, col("doc_id"), col("source"),
      col("q"), maxPerSource = 2)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // a: 50 > 30(id 2) > 30(id 3) > 10 -> {4, 2}; b: tie -> lower ids {5, 6};
    // c: under quota, all kept
    assert(kept == Seq(2L, 4L, 5L, 6L, 7L))
    // quota larger than any source keeps everything
    assert(TextOps.sourceQuota(docs, col("doc_id"), col("source"), col("q"), 10)
      .count() == 7)
    // null quality never qualifies; null source is one quota group
    val withNull = Seq((1L, "a", Some(5L)), (2L, "a", None),
      (3L, null, Some(1L)), (4L, null, Some(2L))).toDF("doc_id", "source", "q")
    assert(TextOps.sourceQuota(withNull, col("doc_id"), col("source"), col("q"), 1)
      .select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 4L))
    // a huge k ("no quota, rank everything") must not eagerly allocate
    // k heap slots per aggregation buffer — occupancy grows on demand
    assert(TextOps.sourceQuota(docs, col("doc_id"), col("source"), col("q"),
      Int.MaxValue).count() == 7)
    // NaN quality is skipped like null (enforced, not just documented:
    // a NaN inside the heap would corrupt every worse() comparison)
    val withNaN = Seq((1L, "a", 1.0), (2L, "a", Double.NaN), (3L, "a", 3.0))
      .toDF("doc_id", "source", "q")
    assert(TextOps.sourceQuota(withNaN, col("doc_id"), col("source"), col("q"), 2)
      .select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    // reserved internal names fail fast instead of silently overwriting
    val clash = Seq((1L, "a", 1L)).toDF("__sq_id", "source", "q")
    assertThrows[IllegalArgumentException] {
      TextOps.sourceQuota(clash, col("__sq_id"), col("source"), col("q"), 1)
    }
  }

  test("sourceQuota is bounded partial-agg: a 100k-page mega-source never meets one reducer") {
    // the quota keeper must plan as an object-hash aggregation with a
    // map-side partial stage whose per-key state is CAPPED (BoundedTopK)
    // — never a Window (ships the whole source to one task) and never a
    // bare collect_list (unbounded partial state, same concentration)
    val mega = spark.range(100000).select(col("id"),
      lit("the-one-domain").as("src"), (col("id") % 1000).as("q"))
    val tail = Seq((200000L, "small", 1L), (200001L, "small", 2L))
      .toDF("id", "src", "q")
    val kept = TextOps.sourceQuota(mega.unionByName(tail),
      col("id"), col("src"), col("q"), maxPerSource = 3)
    val plan = kept.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"sourceQuota must not plan a Window over the source key:\n$plan")
    assert(plan.contains("partial_bounded_top_k"),
      s"quota keeper lost its bounded map-side partial stage:\n$plan")
    assert(!plan.contains("collect_list"),
      s"unbounded collect_list in the quota plan:\n$plan")
    // top-3 of q = id % 1000: q=999 at ids 999, 1999, 2999; the small
    // source is under quota and fully kept
    val ids = kept.select("id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(999L, 1999L, 2999L, 200000L, 200001L), s"wrong keepers: $ids")
  }

  test("sourceQuotaBudget: greedy budget prefix per source, window-equal") {
    val docs = Seq(
      // a: ranked 4(w50), 2(w30), 3(w30), 1(w10); budget 90 keeps
      // cum 50, 80 -> {4, 2}; 3 overflows at 110, 1 blocked behind it
      (1L, "a", 10L), (2L, "a", 30L), (3L, "a", 30L), (4L, "a", 50L),
      (5L, "b", 5L), (6L, "b", 5L), // both fit: cum 5, 10
      (7L, "c", 200L) // single doc over budget: dropped (cum 200 > 90)
    ).toDF("doc_id", "source", "q")
    val kept = TextOps.sourceQuotaBudget(docs, col("doc_id"), col("source"),
      col("q"), col("q"), budget = 90.0)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(2L, 4L, 5L, 6L))
    // property vs the definitional window form on a random corpus —
    // the operator must equal `sum(w) over (order by q desc, id) <= B`
    // exactly, including zero/NaN-weight skips
    val rnd = new scala.util.Random(13)
    val rand = (0 until 2000).map { i =>
      (i.toLong, s"s${rnd.nextInt(7)}", rnd.nextInt(100).toLong,
        rnd.nextInt(50).toLong) // weight 0 rows exercise the skip rule
    }.toDF("doc_id", "source", "q", "w")
    val got = TextOps.sourceQuotaBudget(rand, col("doc_id"), col("source"),
      col("q"), col("w"), budget = 300.0)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("q").desc, col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val want = rand.filter(col("w") > 0)
      .withColumn("cum", sum(col("w")).over(w))
      .filter(col("cum") <= 300.0)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got == want, s"budget quota diverges from the window form")
    // reserved internal names fail fast
    val clash = Seq((1L, "a", 1L)).toDF("__sq_keep", "source", "q")
    assertThrows[IllegalArgumentException] {
      TextOps.sourceQuotaBudget(clash, col("source"), col("source"),
        col("q"), col("q"), 1.0)
    }
  }

  test("BoundedBudgetTop state: barrier makes pruning exact across merges") {
    import graft.analysis.BoundedBudgetTopAgg.Prefix
    // the counterexample a barrier-free prefix state gets wrong:
    // budget 10, E(q=6,w=9) evicts D(q=5,w=9); F(q=4,w=1) must be
    // REJECTED — its true running total is 9+9+1=19 — even though the
    // in-state prefix weight before it is only 9
    val p = new Prefix(10.0)
    p.offer(5.0, 1L, 9.0) // D
    p.offer(6.0, 2L, 9.0) // E evicts D, D becomes the barrier
    assert(p.barrier.contains((5.0, 1L)))
    p.offer(4.0, 3L, 1.0) // F: at/below barrier -> rejected
    assert(p.ids().toSeq == Seq(2L))
    // same rows split across partial buffers, every merge order
    import graft.analysis.BoundedBudgetTopAgg
    val agg = BoundedBudgetTopAgg(null, null, null, 10.0)
    val rows = Seq((5.0, 1L, 9.0), (6.0, 2L, 9.0), (4.0, 3L, 1.0))
    for (perm <- rows.permutations; cut <- 0 to rows.size) {
      val (l, r) = perm.splitAt(cut)
      val a = new Prefix(10.0); l.foreach { case (q, i, w) => a.offer(q, i, w) }
      val b = new Prefix(10.0); r.foreach { case (q, i, w) => b.offer(q, i, w) }
      val m = agg.deserialize(agg.serialize(a)) // serde round-trip too
      m.absorb(agg.deserialize(agg.serialize(b)))
      assert(m.ids().toSeq == Seq(2L),
        s"merge of $l | $r kept ${m.ids().toSeq}")
    }
  }

  test("sourceQuotaBudget is bounded partial-agg: no Window, budget-capped state") {
    val mega = spark.range(100000).select(col("id"),
      lit("the-one-domain").as("src"), (col("id") % 1000).as("q"))
    val kept = TextOps.sourceQuotaBudget(mega, col("id"), col("src"),
      col("q"), lit(100L), budget = 250.0)
    val plan = kept.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"budget quota must not plan a Window over the source key:\n$plan")
    assert(plan.contains("partial_bounded_budget_top"),
      s"budget keeper lost its bounded map-side partial stage:\n$plan")
    // weight 100 each, budget 250: exactly the 2 best fit (cum 100, 200)
    // -> q=999 at ids 999, 1999
    val ids = kept.select("id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(999L, 1999L), s"wrong keepers: $ids")
  }

  test("paragraph dedup: intra-doc first-occurrence strip + cross-doc boilerplate") {
    val docs = Seq(
      (1L, "COOKIE BANNER\n\nalpha one\n\nnav\n\nnav\n\nbeta"),
      (2L, "COOKIE BANNER\n\ngamma two\n\nCOOKIE BANNER"),
      (3L, "delta\n\nCOOKIE BANNER")
    ).toDF("doc_id", "text")
    // intra-doc (map-only): later repeats vanish, first stays in place
    val intra = docs.select(col("doc_id"),
      TextOps.stripRepeatedParagraphs(col("text")).as("text"))
    val byId = intra.as[(Long, String)].collect().toMap
    assert(byId(1L) == "COOKIE BANNER\n\nalpha one\n\nnav\n\nbeta")
    assert(byId(2L) == "COOKIE BANNER\n\ngamma two")
    assert(byId(3L) == "delta\n\nCOOKIE BANNER")
    // cross-doc: the banner rides 3 distinct docs -> boilerplate at
    // minDocs=3; organic paragraphs (incl. the single kept nav) stay
    val clean = TextOps.stripParagraphBoilerplate(intra, col("doc_id"),
        col("text"), minDocs = 3L, asDocs = true)
      .as[(Long, String)].collect().toMap
    assert(clean == Map(1L -> "alpha one\n\nnav\n\nbeta",
      2L -> "gamma two", 3L -> "delta"))
    // round-trip: a boilerplate-free corpus reassembles byte-identically
    // (paragraph split/join invert each other)
    val freeDocs = Seq((7L, "one\n\ntwo\n\nthree")).toDF("doc_id", "text")
    assert(TextOps.stripParagraphBoilerplate(freeDocs, col("doc_id"),
        col("text"), minDocs = 2L, asDocs = true)
      .as[(Long, String)].collect().toSeq == Seq((7L, "one\n\ntwo\n\nthree")))
    // null text drops at the split like the line form
    val withNull = Seq((8L, Some("a")), (9L, None)).toDF("doc_id", "text")
    assert(TextOps.stripParagraphBoilerplate(withNull, col("doc_id"),
      col("text"), minDocs = 2L).select("doc_id").as[Long].collect().toSeq
      == Seq(8L))
  }

  test("per-domain exact dedup: composite (source, text-hash) key scopes dups per source") {
    // the same page on two mirrors survives once PER MIRROR; within a
    // mirror the min-id keeper rule applies unchanged
    val docs = Seq(
      (1L, "m1", "same page"), (2L, "m1", "same page"),
      (3L, "m2", "same page"),
      (4L, "m2", "other page")
    ).toDF("doc_id", "source", "text")
    val kept = TextOps.dedupExact(docs,
      struct(col("source"), xxhash64(col("text"))), col("doc_id"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 3L, 4L))
  }

  test("incremental dedup: cross recall, snapshot-internal recall, keeper rule") {
    val dir = tempDir("graft-incbase")
    val docs = documents.select(col("doc_id"), col("text"))
    val baseDocs = docs.filter(col("doc_id") < 100)
    TextOps.buildMinhashBase(baseDocs, col("doc_id"), col("text"), dir)
    // snapshot: fresh docs + near-dups of BASE docs + near-dups of
    // each other (the base cannot know about the latter)
    val fresh = docs.filter(col("doc_id") >= 100 && col("doc_id") < 150)
    val crossDups = baseDocs.filter(col("doc_id") < 10)
      .select((col("doc_id") + 500000).as("doc_id"),
        concat(col("text"), lit(" zz")).as("text"))
    val newDups = fresh.filter(col("doc_id") < 110)
      .select((col("doc_id") + 600000).as("doc_id"),
        concat(col("text"), lit(" zz")).as("text"))
    val snap = fresh.unionByName(crossDups).unionByName(newDups)
    val r = TextOps.dedupAgainstBase(snap, col("doc_id"), col("text"), dir)
    val cross = r.crossPairs.as[(Long, Long, Double)].collect()
    val crossSet = cross.map(p => (p._1, p._2)).toSet
    (0L until 10L).foreach { i =>
      assert(crossSet.contains((i + 500000, i)), s"base missed cross dup $i")
    }
    val newSet = r.newPairs.as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2)).toSet
    (100L until 110L).foreach { i =>
      assert(newSet.contains((i, i + 600000)), s"missed snapshot-internal dup $i")
    }
    // keeper rule, checked exactly: cross-matched ids drop entirely; of
    // each new-new pair the GREATER id drops (curate's greedy rule) —
    // the corpus has ORGANIC near-dups too, so derive the expected set
    // from the returned pair frames rather than assuming only plants
    val keepers = r.keepers.select("doc_id").as[Long].collect().toSet
    val snapIds = snap.select("doc_id").as[Long].collect().toSet
    val expected = snapIds -- cross.map(_._1) --
      r.newPairs.as[(Long, Long, Double)].collect().map(p => p._1 max p._2)
    assert(keepers == expected, "keeper rule must match drop sets exactly")
    assert((500000L until 500010L).forall(i => !keepers.contains(i)))
    assert((600100L until 600110L).forall(i => !keepers.contains(i)))
    // the base side of the cross join is a PARQUET SCAN of the staged
    // base — snapshot k never pays the base corpus's minhash chain. The
    // returned frame reads a barrier leaf, so check the plans the call
    // itself executed (its barrier actions)
    val plans = executedPlans(TextOps.dedupAgainstBase(snap, col("doc_id"), col("text"), dir))
    assert(plans.exists(p => p.contains(s"$dir/minhash_base") && p.contains("Join")),
      s"cross join must read the staged base:\n${plans.mkString("\n\n")}")
  }

  test("appendToBase: next snapshot dedups against prior keepers; curate dir is a base") {
    val dir = tempDir("graft-incbase2")
    val docs = documents.select(col("doc_id"), col("text"))
    TextOps.buildMinhashBase(docs.filter(col("doc_id") < 50),
      col("doc_id"), col("text"), dir)
    val snap1 = docs.filter(col("doc_id") >= 50 && col("doc_id") < 80)
    val r1 = TextOps.dedupAgainstBase(snap1, col("doc_id"), col("text"), dir)
    val k1 = r1.keepers.select("doc_id").as[Long].collect().toSet
    assert(k1.contains(60L), "test premise: doc 60 must survive snapshot 1")
    TextOps.appendToBase(dir, r1)
    // snapshot 2 carries a near-dup of a snapshot-1 KEEPER (id 60) and
    // of an ORIGINAL base doc (id 5) — both must now be cross-caught
    val snap2 = docs.filter(col("doc_id").isin(60L, 5L))
      .select((col("doc_id") + 700000).as("doc_id"),
        concat(col("text"), lit(" zz")).as("text"))
    val r2 = TextOps.dedupAgainstBase(snap2, col("doc_id"), col("text"), dir)
    val caught = r2.crossPairs.as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2)).toSet
    assert(caught.contains((700060L, 60L)), "appended keeper not in base")
    assert(caught.contains((700005L, 5L)), "original base doc lost by append")
    assert(r2.keepers.count() == 0)
    // a staged curate run's dir IS a valid base: its minhash_base is
    // this exact table over the exact-collapse keepers
    val curDir = tempDir("graft-incbase3")
    TextOps.curate(docs.filter(col("doc_id") < 50), col("doc_id"), col("text"),
      staging = Some(curDir)).kept.count()
    val r3 = TextOps.dedupAgainstBase(
      docs.filter(col("doc_id") === 7L)
        .select((col("doc_id") + 800000).as("doc_id"),
          concat(col("text"), lit(" zz")).as("text")),
      col("doc_id"), col("text"), curDir)
    assert(r3.crossPairs.as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2)).toSet == Set((800007L, 7L)))
  }

  test("ANN buckets stay fine-grained at scale: no N/16 bucket") {
    val n = 1200
    val rnd = new scala.util.Random(11)
    val emb = (0 until n).map(i =>
      (i.toLong, Seq.fill(64)(rnd.nextDouble() * 2 - 1))).toDF("vec_id", "embedding")
    val occ = VectorOps.bucketOccupancy(emb) // defaults: 16 planes x 4 tables
      .agg(max(col("n"))).as[Long].head()
    info(s"max bucket occupancy at N=$n: $occ (old 4-plane design: ~${n / 16})")
    // 65,536 buckets/table: occupancy must be far below the 4-plane
    // design's N/16 floor — the scale invariant the verdict called out
    assert(occ <= n / 100, s"bucket occupancy $occ too coarse for N=$n")
  }
}
