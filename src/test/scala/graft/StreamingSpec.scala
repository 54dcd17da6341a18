package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.Corpus
import graft.streaming.StreamingExtract

/** The stateless map-only pipeline lifted to Structured Streaming:
  * batch output == streaming output over the same files.
  */
class StreamingSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("streaming extraction over a file source equals batch extraction") {
    val dir = tempDir("graft-stream")
    val docs = Corpus.generate(spark, 100)
    docs.write.mode("overwrite").parquet(s"$dir/in")

    val q = StreamingExtract.stream(spark, s"$dir/in", "auto")
      .writeStream.format("memory").queryName("graft_stream_out")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("graft_stream_out")
      .orderBy("doc_id").as[(String, Seq[graft.schema.OutSpan])].collect().toSeq
    val batch = Pipeline.extract(docs, "auto")
      .orderBy("doc_id").as[(String, Seq[graft.schema.OutSpan])].collect().toSeq
    assert(streamed == batch)
    assert(streamed.size == 100)
  }

  test("stateful streaming dedup: first-seen-wins per doc_id across micro-batches") {
    val dir = tempDir("graft-sdedup")
    // batch 1: docs 0-59; batch 2 (arrives later): docs 40-99 — 40-59 are re-ingests
    Corpus.generate(spark, 60).write.parquet(s"$dir/in/b1")
    val q = StreamingExtract.dedupStream(spark, s"$dir/in/*")
      .writeStream.format("memory").queryName("graft_dedup_out")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      q.processAllAvailable()
      import spark.implicits._
      Corpus.generate(spark, 100).filter(col("doc_id") >= "doc00000040")
        .write.parquet(s"$dir/in/b2")
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("graft_dedup_out")
      .select("doc_id").as[String].collect().toSeq
    assert(ids.size == 100, s"expected 100 unique, got ${ids.size}")
    assert(ids.distinct.size == 100)
  }

  test("streaming near-dup: injected dups flagged across micro-batches, state bounded") {
    val dir = tempDir("graft-sneardup")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 50).cache()
    // batch 1: 50 base docs (the keepers)
    docs.write.parquet(s"$dir/in/b1")
    val q = StreamingExtract.nearDupStream(spark, s"$dir/in/*")
      .writeStream.format("memory").queryName("graft_neardup_out")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      q.processAllAvailable()
      // batch 2: near-dups of docs 0-19 (+100000, ' zz'), re-ingest of
      // keepers 0-4, and a 200-strong identical clone set of doc 0's
      // text (+500000..) that must all resolve against ONE keeper
      val dups = docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" zz")).as("text"))
      val reingest = docs.filter(col("doc_id") < 5)
      val clones = spark.range(200).crossJoin(
          broadcast(docs.filter(col("doc_id") === 0).select(col("text"))))
        .select((col("id") + 500000).as("doc_id"), col("text"))
      dups.unionByName(reingest).unionByName(clones).write.parquet(s"$dir/in/b2")
      q.processAllAvailable()
    } finally q.stop()
    import spark.implicits._
    val pairs = spark.table("graft_neardup_out")
      .select("doc_id", "dup_of", "est_jaccard")
      .as[(Long, Long, Double)].collect().toSeq
    val flagged = pairs.map(p => (p._1, p._2)).distinct
    // every injected near-dup resolves against its keeper
    (0L until 20L).foreach { i =>
      assert(flagged.contains((i + 100000, i)), s"missed streaming near-dup $i")
    }
    // every identical clone resolves against doc 0 at estimate 1.0
    val cloneHits = pairs.filter(_._1 >= 500000)
    assert(cloneHits.map(_._1).distinct.size == 200, "missed identical clones")
    cloneHits.foreach { case (id, of, est) =>
      assert(of == 0L && est == 1.0, s"clone $id resolved to ($of, $est)")
    }
    // re-ingested stored keepers never match THEMSELVES (self-matches
    // are dropped; organic sub-1.0 near-dup pairs among the random base
    // docs are legitimate LSH output and allowed)
    assert(!pairs.exists(p => p._1 < 50 && p._3 == 1.0),
      "a re-ingested keeper re-emitted as its own duplicate")
    pairs.foreach(p => assert(p._3 >= 0.5 && p._3 <= 1.0))
  }

  /** Deterministic embedding corpus for the vector-stream tests. */
  private def vecs(ids: Seq[Long], seed: Int = 3): Seq[(Long, Seq[Double])] = {
    ids.map { id =>
      val rnd = new scala.util.Random(seed * 1000003 + id)
      (id, Seq.fill(16)(rnd.nextDouble() * 2 - 1))
    }
  }

  test("streaming simhash near-dup: copies flagged across micro-batches at exact Hamming") {
    val dir = tempDir("graft-ssimhash")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 100)
    docs.write.parquet(s"$dir/in/b1")
    val q = StreamingExtract.simhashDupStream(spark, s"$dir/in/*",
        bands = 4, maxHamming = 3)
      .writeStream.format("memory").queryName("graft_ssh_out")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      q.processAllAvailable()
      // batch 2: IDENTICAL-text copies — hamming 0 to their base, so
      // every copy shares ALL bands with it and MUST flag against the
      // base or (if the base itself was consumed as someone's dup in a
      // bucket) against that bucket's stored keeper, which is within
      // the bound of the base and hence of the copy
      docs.select((col("doc_id") + 2000000).as("doc_id"), col("text"))
        .write.parquet(s"$dir/in/b2")
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("graft_ssh_out")
      .as[(Long, Long, Int)].collect().toSeq
    val copies = out.filter(_._1 >= 2000000)
    assert(copies.map(_._1).distinct.size == 100,
      s"flagged ${copies.map(_._1).distinct.size}/100 copies")
    copies.foreach { case (id, dupOf, d) =>
      assert(dupOf < 2000000 && d <= 3, s"($id, $dupOf, $d)")
      // exact-Hamming scoring: a copy flagged against its own base is
      // an identical text — distance must be exactly 0
      if (dupOf == id - 2000000) assert(d == 0, s"($id, $dupOf, $d)")
    }
    // ... and near-dup (non-identical) arrivals score by true Hamming:
    // batch-1 organic emissions must agree with the batch operator
    val batchPairs = graft.analysis.TextOps.simhashDupPairs(docs,
      col("doc_id"), col("text"), bands = 4, maxHamming = 3)
      .as[(Long, Long, Int)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    out.filter(_._1 < 2000000).foreach { case (id, dupOf, d) =>
      val k = if (dupOf < id) (dupOf, id) else (id, dupOf)
      assert(batchPairs.get(k).contains(d),
        s"organic ($id, $dupOf, $d) not in batch pairs or hamming drift")
    }
  }

  test("streaming dhash media near-dup: re-encoded copies flagged across micro-batches") {
    val dir = tempDir("graft-sdhash")
    import graft.media.BinaryOps
    val images = BinaryOps.assetsFor(Corpus.generate(spark, 60))
      .filter(a => a.mime.startsWith("image/"))
    images.toDF().write.parquet(s"$dir/in/b1")
    val q = StreamingExtract.dhashDupStream(spark, s"$dir/in/*")
      .writeStream.format("memory").queryName("graft_sdh_out")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      q.processAllAvailable()
      // no pairs among distinct originals (random 64-bit dhashes do
      // not land within Hamming 7 of each other at this corpus size)
      assert(spark.table("graft_sdh_out").count() == 0)
      // batch 2: low-bit-noise "re-encodes" of every image
      images.map(a => a.copy(media_ref = a.media_ref + "~n",
        content = a.content.map(b => (b ^ 1).toByte)))
        .toDF().write.parquet(s"$dir/in/b2")
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("graft_sdh_out")
      .as[(String, String, Int)].collect().toSeq
    val n = images.count()
    assert(out.map(_._1).distinct.size == n, s"flagged ${out.size}/$n copies")
    out.foreach { case (id, dupOf, d) =>
      assert(id.replace("~n", "") == dupOf && d <= 7, s"($id, $dupOf, $d)")
    }
  }

  test("streaming hamming-dedup TTL: idle buckets evict, then re-learn (shared machine)") {
    // exercises the hasTimedOut branch of bucketDedup — the ONE
    // state machine behind both simhashDupStream and dhashDupStream
    val dir = tempDir("graft-shttl")
    import spark.implicits._
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).filter(col("doc_id") === 0).cache()
    val baseText = base.select("text").as[String].head()
    base.write.parquet(s"$dir/in/b1")
    // see the near-dup TTL test above for the no-data-micro-batches
    // rationale (timeouts fire on the next DATA batch, deterministic)
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val q = StreamingExtract.simhashDupStream(spark, s"$dir/in/*",
        stateTtlMs = 8000L)
      .writeStream.format("memory").queryName("graft_shttl_out")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      q.processAllAvailable()
      Thread.sleep(20000) // idle far past the TTL (steal-burst headroom)
      // unrelated traffic fires the expired timeouts -> doc 0 evicted
      Seq((777L, "completely unrelated filler words about gardens rivers " +
        "mountains clouds pebbles lanterns harvest meadows"))
        .toDF("doc_id", "text").write.parquet(s"$dir/in/b2")
      q.processAllAvailable()
      // an identical copy of the EVICTED keeper: re-learned fresh
      Seq((1000L, baseText)).toDF("doc_id", "text")
        .write.parquet(s"$dir/in/b3")
      q.processAllAvailable()
      // a second copy resolves against the re-learned keeper
      Seq((2000L, baseText)).toDF("doc_id", "text")
        .write.parquet(s"$dir/in/b4")
      q.processAllAvailable()
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
    }
    val pairs = spark.table("graft_shttl_out")
      .as[(Long, Long, Int)].collect().toSeq
    // eviction: the batch-3 copy found an empty bucket (no emission
    // against doc 0); re-learn: the batch-4 copy flags against it at
    // hamming 0
    assert(!pairs.exists(_._1 == 1000L),
      s"evicted keeper still matched: $pairs")
    assert(pairs.exists(p => p._1 == 2000L && p._2 == 1000L && p._3 == 0),
      s"re-learned keeper not detected: $pairs")
  }

  test("streaming embedding near-dup: planted duplicates resolve across micro-batches") {
    val dir = tempDir("graft-svdup")
    import spark.implicits._
    val base = vecs(0L until 20L)
    // batch 1: 20 base vectors become their buckets' keepers
    base.toDF("vec_id", "embedding").write.parquet(s"$dir/in/b1")
    val q = StreamingExtract.vectorNearDupStream(spark, s"$dir/in/*",
        nPlanes = 8, tables = 4, minCos = 0.99, maxPerBucket = 8)
      .writeStream.format("memory").queryName("graft_svdup_out")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      q.processAllAvailable()
      // batch 2: exact duplicates of every keeper (+1000), re-ingests of
      // keepers 0-4, and a 100-strong identical clone set of vector 0
      // (+5000..) — clones resolve, so the 8-cap bucket never overflows
      val dups = base.map { case (id, v) => (id + 1000, v) }
      val reingest = base.take(5)
      val clones = (0 until 100).map(i => (5000L + i, base.head._2))
      (dups ++ reingest ++ clones).toDF("vec_id", "embedding")
        .write.parquet(s"$dir/in/b2")
      q.processAllAvailable()
    } finally q.stop()
    val pairs = spark.table("graft_svdup_out")
      .select("vec_id", "dup_of", "cos").as[(Long, Long, Double)].collect().toSeq
    val flagged = pairs.map(p => (p._1, p._2)).distinct
    // identical vectors share every sign bucket: certainty, not chance
    (0L until 20L).foreach { i =>
      assert(flagged.contains((i + 1000, i)), s"missed planted duplicate $i")
    }
    val cloneHits = pairs.filter(_._1 >= 5000)
    assert(cloneHits.map(_._1).distinct.size == 100, "missed identical clones")
    cloneHits.foreach { case (id, of, c) =>
      assert(of == 0L && c > 1.0 - 1e-12, s"clone $id resolved to ($of, $c)")
    }
    // re-ingested keepers never emit against themselves
    assert(!pairs.exists(p => p._1 == p._2), "self-match emitted")
    pairs.foreach(p => assert(p._3 >= 0.99 && p._3 <= 1.0 + 1e-12))
  }

  test("streaming embedding near-dup reads the native float-typed table") {
    val dir = tempDir("graft-svfloat")
    import spark.implicits._
    // the canonical embeddings table stores array<float>
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 20)
    emb.write.parquet(s"$dir/in/b1")
    val q = StreamingExtract.vectorNearDupStream(spark, s"$dir/in/*",
        nPlanes = 8, tables = 4, minCos = 0.999,
        schema = StreamingExtract.vecDocsSchemaFloat)
      .writeStream.format("memory").queryName("graft_svfloat_out")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      q.processAllAvailable()
      emb.select((col("vec_id") + 1000).as("vec_id"), col("embedding"))
        .write.parquet(s"$dir/in/b2")
      q.processAllAvailable()
    } finally q.stop()
    val flagged = spark.table("graft_svfloat_out")
      .select("vec_id", "dup_of").as[(Long, Long)].collect().toSet
    (0L until 20L).foreach(i =>
      assert(flagged.contains((i + 1000, i)), s"missed float-table dup $i"))
  }

  test("streaming embedding near-dup TTL: idle buckets evict, then re-learn") {
    val dir = tempDir("graft-svttl")
    import spark.implicits._
    val keeper = vecs(Seq(0L))
    keeper.toDF("vec_id", "embedding").write.parquet(s"$dir/in/b1")
    // no-data micro-batches off: same trigger/timeout reasoning as the
    // text near-dup TTL test above
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val q = StreamingExtract.vectorNearDupStream(spark, s"$dir/in/*",
        nPlanes = 8, tables = 4, minCos = 0.99, stateTtlMs = 8000L)
      .writeStream.format("memory").queryName("graft_svttl_out")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      q.processAllAvailable()
      Thread.sleep(20000) // idle FAR past the TTL (2.5x: steal-burst headroom)
      // unrelated traffic fires the expired timeouts -> eviction
      vecs(Seq(777L), seed = 9).toDF("vec_id", "embedding")
        .write.parquet(s"$dir/in/b2")
      q.processAllAvailable()
      // duplicate of the EVICTED keeper: re-learned fresh, no emission
      Seq((1000L, keeper.head._2)).toDF("vec_id", "embedding")
        .write.parquet(s"$dir/in/b3")
      q.processAllAvailable()
      // duplicate of the re-learned keeper: resolves against it (batches
      // 3-4 are seconds apart — far inside the new keeper's TTL)
      Seq((2000L, keeper.head._2)).toDF("vec_id", "embedding")
        .write.parquet(s"$dir/in/b4")
      q.processAllAvailable()
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
    }
    val pairs = spark.table("graft_svttl_out")
      .select("vec_id", "dup_of", "cos").as[(Long, Long, Double)].collect().toSeq
    assert(!pairs.exists(_._2 == 0L), s"evicted keeper still matched: $pairs")
    assert(pairs.map(p => (p._1, p._2)).distinct == Seq((2000L, 1000L)),
      s"expected dup->relearned-keeper only, got $pairs")
    pairs.foreach(p => assert(p._3 > 1.0 - 1e-12))
  }

  test("streaming session windows: gap merges, watermark finalizes, matches batch sessionize") {
    val dir = tempDir("graft-ssess")
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // user 1: three events 10s apart, then a 100s silence -> 2 sessions
    // at gap 50s (no exact-boundary spacings: strict-vs-inclusive gap
    // semantics differ between the streaming and batch operators)
    val b1 = Seq((1L, ts(0)), (1L, ts(10)), (1L, ts(20)), (1L, ts(120)),
      (2L, ts(5)))
    b1.toDF("user_id", "ts").write.parquet(s"$dir/in/b1")
    val q = StreamingExtract.sessionWindows(spark, s"$dir/in/*",
        gap = "50 seconds", watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("graft_ssess_out")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      q.processAllAvailable()
      // push the watermark far past every session end (watermark
      // advances at batch end; emission happens on the NEXT batch)
      Seq((99L, ts(100000))).toDF("user_id", "ts").write.parquet(s"$dir/in/b2")
      q.processAllAvailable()
      Seq((99L, ts(200000))).toDF("user_id", "ts").write.parquet(s"$dir/in/b3")
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("graft_ssess_out")
      .filter(col("user_id") < 90) // drop the watermark-pusher's sessions
      .select(col("user_id"), unix_timestamp(col("start")).as("s"),
        col("n_events"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 0L, 3L), (1L, 120L, 1L), (2L, 5L, 1L)), s"got $got")
    // cross-check against the batch operator on the same finalized data
    val batch = graft.analysis.TimeOps.sessionize(
        b1.toDF("user_id", "ts"), col("user_id"),
        unix_timestamp(col("ts")), col("ts"), maxGap = 49L)
      .groupBy(col("user_id"), col("session_no"))
      .agg(min(unix_timestamp(col("ts"))).as("s"), count(lit(1)).as("n"))
      .select(col("user_id"), col("s"), col("n"))
      .as[(Long, Long, Long)].collect().toSet
    assert(batch == got, s"streaming $got != batch $batch")
  }

  test("streaming exact-dedup state TTL: idle keys evict, re-ingest re-emits") {
    val dir = tempDir("graft-dttl")
    import spark.implicits._
    Corpus.generate(spark, 3).write.parquet(s"$dir/in/b1")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    // TTL is generous vs the inter-batch latency (a loaded host must
    // not open an accidental idle window between consecutive batches)
    val q = StreamingExtract.dedupStream(spark, s"$dir/in/*", stateTtlMs = 8000L)
      .writeStream.format("memory").queryName("graft_dttl_out")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      q.processAllAvailable()
      // immediate re-ingest: still deduped (state alive, TTL reset)
      Corpus.generate(spark, 3).write.parquet(s"$dir/in/b2")
      q.processAllAvailable()
      Thread.sleep(20000) // idle FAR past the TTL (2.5x: steal-burst headroom)
      // unrelated doc's trigger evicts the idle keys...
      Corpus.generate(spark, 5).filter(col("doc_id") >= "doc00000004")
        .write.parquet(s"$dir/in/b3")
      q.processAllAvailable()
      // ...so a later re-ingest is emitted again (documented recall loss)
      Corpus.generate(spark, 1).write.parquet(s"$dir/in/b4")
      q.processAllAvailable()
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
    }
    val ids = spark.table("graft_dttl_out")
      .select("doc_id").as[String].collect().toSeq.sorted
    // 3 first-seen + 1 unrelated + doc0 re-emitted post-eviction; the
    // pre-TTL re-ingest (b2) emitted nothing
    assert(ids == Seq("doc00000000", "doc00000000", "doc00000001",
      "doc00000002", "doc00000004"), s"got $ids")
  }

  test("streaming near-dup state TTL: idle buckets evict, then re-learn cleanly") {
    val dir = tempDir("graft-sttl")
    import spark.implicits._
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).filter(col("doc_id") === 0).cache()
    val baseText = base.select("text").as[String].head()
    // batch 1: doc 0 becomes the stored keeper in its buckets
    base.write.parquet(s"$dir/in/b1")
    // no-data micro-batches off for this query: with them on, the engine
    // spins batches continuously while any processing-time timeout is
    // registered (processAllAvailable never observes an idle trigger);
    // with them off, timeouts fire deterministically on the next DATA
    // batch — which is also the eviction semantics the test pins down
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    // TTL generous vs inter-batch latency, same reasoning as the
    // exact-dedup TTL test above
    val q = StreamingExtract.nearDupStream(spark, s"$dir/in/*",
        stateTtlMs = 8000L)
      .writeStream.format("memory").queryName("graft_ttl_out")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      q.processAllAvailable()
      Thread.sleep(20000) // idle FAR past the TTL (2.5x: steal-burst headroom)
      // batch 2: unrelated traffic — its trigger fires the expired
      // timeouts, evicting doc 0's bucket state
      Seq((777L, "completely unrelated filler words about gardens rivers " +
        "mountains clouds pebbles lanterns harvest meadows"))
        .toDF("doc_id", "text").write.parquet(s"$dir/in/b2")
      q.processAllAvailable()
      // batch 3: a near-dup of the EVICTED keeper — must be re-learned
      // as a fresh keeper (no emission against doc 0; its bucket is
      // empty at this point)
      Seq((1000L, baseText + " zz")).toDF("doc_id", "text")
        .write.parquet(s"$dir/in/b3")
      q.processAllAvailable()
      // batch 4: clone of the re-learned keeper -> resolves against it,
      // proving the evicted bucket relearned and detects again (batches
      // 3-4 are seconds apart — far inside the new keeper's TTL)
      Seq((2000L, baseText + " zz")).toDF("doc_id", "text")
        .write.parquet(s"$dir/in/b4")
      q.processAllAvailable()
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
    }
    val pairs = spark.table("graft_ttl_out")
      .select("doc_id", "dup_of", "est_jaccard")
      .as[(Long, Long, Double)].collect().toSeq
    // eviction happened: the batch-3 near-dup did NOT match the evicted
    // keeper (had state survived, (1000, 0, ~1.0) would have emitted)
    assert(!pairs.exists(_._2 == 0L),
      s"evicted keeper still matched: $pairs")
    // re-learning happened, without duplicate emissions of the stored
    // keeper itself: exactly the clone resolves, against the NEW keeper
    assert(pairs.map(p => (p._1, p._2)).distinct == Seq((2000L, 1000L)),
      s"expected clone->relearned-keeper only, got $pairs")
    assert(pairs.forall(_._3 == 1.0))
  }
}
