package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.Pipeline
import graft.schema.DocRow

/** Structured Streaming wrapper (SURVEY.md §2.8/§2.10: the reference is
  * a synchronous request/response service, so no event-time semantics
  * are required — this is the continuous-ingest form of the same
  * pipeline). Because the whole extraction is a stateless map-side
  * projection (the `OcrText` OCR columns + Catalyst parse, zero
  * shuffles), it lifts to a streaming query unchanged: each micro-batch
  * is extracted exactly like a batch partition, checkpointed by the
  * engine.
  */
object StreamingExtract {

  val docsSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType),
    StructField("spans", ArrayType(StructType(Seq(
      StructField("kind", StringType),
      StructField("text", StringType),
      StructField("media_ref", StringType),
      StructField("offset", IntegerType)))))))

  /** File-source streaming extraction: watch `inDir` for doc parquet
    * files, emit (doc_id, spans) per mode.
    */
  def stream(spark: SparkSession, inDir: String, mode: String): DataFrame = {
    import spark.implicits._
    val docs = spark.readStream.schema(docsSchema).parquet(inDir).as[DocRow]
    Pipeline.extract(docs, mode)
  }

  /** Per-minute extraction metrics over a stream — windowed agg +
    * watermark: counts ok / error outcomes per processing-minute window.
    */
  def metrics(spark: SparkSession, inDir: String, mode: String): DataFrame = {
    val out = stream(spark, inDir, mode)
      .withColumn("ok", exists(col("spans"), s => s("kind") === lit("value")))
      .withColumn("ts", current_timestamp())
    out.withWatermark("ts", "1 minute")
      .groupBy(window(col("ts"), "1 minute"), col("ok"))
      .agg(count(lit(1)).as("n"))
  }

  /** (user_id, ts) stream input for the session-window metrics. */
  val userEventsSchema: StructType = StructType(Seq(
    StructField("user_id", LongType),
    StructField("ts", TimestampType)))

  /** EVENT-TIME session windows over a user-event stream — the
    * streaming twin of `TimeOps.sessionize`, on Spark's native
    * `session_window` + watermark state: sessions merge while
    * consecutive events are STRICTLY closer than `gap`, finalize once
    * the watermark passes their end, and emit (user_id, start, end,
    * n_events) exactly once (Append mode). Boundary nuance vs the
    * batch operator: `session_window` SPLITS at an exact-`gap`
    * spacing where `sessionize(maxGap)` keeps it (> vs >=) — pick the
    * parameters accordingly when reconciling the two.
    *
    * Scale shape: the engine keys session state by (user, window) and
    * the watermark bounds it — late events beyond `watermarkDelay`
    * are dropped, finalized windows leave the store; state is
    * proportional to ACTIVE sessions, not history.
    */
  def sessionWindows(spark: SparkSession, inDir: String,
      gap: String = "30 minutes",
      watermarkDelay: String = "1 hour"): DataFrame = {
    spark.readStream.schema(userEventsSchema).parquet(inDir)
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("start"),
        col("session_window.end").as("end"),
        col("n_events"))
  }

  /** Streaming exact dedup with CUSTOM state (`flatMapGroupsWithState`):
    * first-seen-wins per doc_id ACROSS micro-batches — a re-ingested or
    * re-crawled document is emitted exactly once for the life of the
    * checkpoint. This is the continuous form of `TextOps.dedupExact` a
    * training-data ingest needs; state per key is one boolean, so the
    * state store stays tiny no matter the corpus (at 10^12 docs the
    * keyspace itself is the cost — shard by doc_id hash range, which
    * the groupByKey shuffle already does). `stateTtlMs > 0` bounds that
    * keyspace with a processing-time timeout, same contract and trigger
    * caveat as [[nearDupStream]]: a doc re-ingested after its key idled
    * past the TTL is emitted again (recall loss is documented, not
    * silent).
    */
  def dedupStream(spark: SparkSession, inDir: String,
      stateTtlMs: Long = 0L) = {
    import spark.implicits._
    spark.readStream.schema(docsSchema).parquet(inDir).as[DocRow]
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState[Boolean, DocRow](
        OutputMode.Append(), stateTimeout(stateTtlMs)) {
        (_: String, rows: Iterator[DocRow], state: GroupState[Boolean]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else if (state.exists) {
            if (stateTtlMs > 0) state.setTimeoutDuration(stateTtlMs)
            Iterator.empty
          } else {
            state.update(true)
            if (stateTtlMs > 0) state.setTimeoutDuration(stateTtlMs)
            rows.take(1)
          }
      }
  }

  /** documents-table-shaped stream input (doc_id, text). */
  val textDocsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** Streaming MinHash-LSH NEAR-dup detection — the continuous form of
    * `TextOps.minhashDupPairs`: signatures and band keys are the same
    * map-side fused expressions; the banded self-join becomes PER-BUCKET
    * CUSTOM STATE (`flatMapGroupsWithState` keyed by (band, bucket)).
    * Each bucket stores at most `maxPerBucket` (doc_id, signature)
    * entries — the streaming analog of the batch path's hot-bucket
    * bound, and what keeps state O(buckets * cap) no matter how hot a
    * bucket runs. An arriving doc is compared against its bucket's
    * stored signatures by estimated Jaccard (matching signature slots /
    * m — the standard MinHash estimator; the stream cannot keep full
    * shingle sets): the best hit >= `minEstJaccard` (ties to the lower
    * id) emits (doc_id, dup_of, est_jaccard) and the doc is not stored
    * IN THAT BUCKET; a miss is stored if the bucket has room. All four
    * near-dup streams run this one bucket state machine and differ only
    * in keyed input and score, so the rules below hold for each.
    *
    * Keepers are PER (band, bucket): state is partitioned by bucket with
    * no cross-group coordination, so a doc that matched in one band's
    * bucket may still be stored as a keeper in another band's bucket,
    * and later arrivals can be reported as dup_of a doc that is itself
    * a dup (a non-canonical transitive chain). Consumers needing
    * canonical cluster keepers run the batch
    * [[graft.analysis.TextOps.dupClusters]] min-id propagation over the
    * emitted pair stream. A doc colliding with the same keeper in
    * several bands emits once per band — consumers dedupe by (doc_id,
    * dup_of), exactly as the batch path dropDuplicates before its
    * rerank.
    *
    * Determinism: rows within a (bucket, micro-batch) are processed in
    * id order (the per-bucket batch is buffered — bounded by the
    * micro-batch, not the stream). Re-ingests of a stored keeper are
    * dropped silently. Compose exact dedup upstream for the same reason
    * the batch cascade does.
    *
    * State TTL: `stateTtlMs > 0` switches to a processing-time timeout —
    * a (band, bucket) whose state saw no traffic for the TTL is evicted
    * wholesale on the next trigger, so the keyspace itself (the one
    * unbounded dimension once per-bucket lists are capped) stays
    * proportional to the RECENTLY-ACTIVE buckets rather than growing for
    * the checkpoint's life. Eviction trades recall for state: a dup of
    * an evicted keeper is re-learned as a fresh keeper (documented, not
    * silent — the same recall contract as [[graft.analysis.Buckets]]).
    * The TTL clock resets on every batch that touches the bucket.
    * Deployment note: registered processing-time timeouts make the
    * engine schedule no-data micro-batches to fire them — run TTL'd
    * queries with a real trigger interval (or
    * `spark.sql.streaming.noDataMicroBatches.enabled=false`, which
    * defers eviction to the next data batch); the default continuous
    * trigger would spin batches back-to-back while any timeout is
    * pending.
    */
  def nearDupStream(spark: SparkSession, inDir: String, n: Int = 3,
      m: Int = 16, bands: Int = 4, minEstJaccard: Double = 0.5,
      maxPerBucket: Int = 64, stateTtlMs: Long = 0L): DataFrame = {
    import spark.implicits._
    import graft.analysis.{MinhashBandKeys, MinhashSignature, ShingleHashes, TextOps}
    val keyed = spark.readStream.schema(textDocsSchema).parquet(inDir)
      // null rows drop like the batch twin's join drops them (see
      // simhashDupStream — one dirty record must not kill the query)
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .withColumn("hs", ShingleHashes.of(TextOps.tokens(col("text")), n))
      .withColumn("sig", MinhashSignature.of(col("hs"), m))
      .withColumn("bk", explode_outer(MinhashBandKeys.of(col("sig"), bands)))
      .select(col("bk.band"), col("bk.bucket"), col("doc_id"), col("sig"))
      .as[(Int, Long, Long, Seq[Long])]
    bucketDedup(keyed, estJaccard(m, minEstJaccard), maxPerBucket, stateTtlMs)
      .toDF("doc_id", "dup_of", "est_jaccard")
  }

  /** embeddings-table-shaped stream input (vec_id, embedding). Two
    * declared schemas because a file-source schema is fixed per query
    * and parquet will not silently widen float->double: pass
    * [[vecDocsSchemaFloat]] as `schema` when the table stores
    * array<float> (the embeddings testdata does) — the stream casts to
    * double after the scan either way, so downstream is identical.
    */
  val vecDocsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(DoubleType))))
  val vecDocsSchemaFloat: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** Streaming embedding near-dup — the vector twin of [[nearDupStream]]
    * and the continuous form of `VectorOps.cosineDupPairs`: sign-LSH
    * keys are the same fused map-side SignBuckets expression as the
    * batch path, and the bucketed self-join becomes per-(table, bucket)
    * custom state on [[nearDupStream]]'s bucket machine (see its doc
    * for the keeper, tie-break, cap and TTL rules). The score is EXACT
    * cosine against the stored vectors (the stream keeps the full
    * vectors — the text path can only afford signatures); a hit is
    * cos >= `minCos` and emits (vec_id, dup_of, cos). Identical vectors
    * share every sign bucket in every table, so exact duplicates are
    * caught with certainty; near vectors with the multi-table
    * probability the batch path documents. State per bucket is
    * maxPerBucket * (8 + 8 * dim) bytes.
    */
  def vectorNearDupStream(spark: SparkSession, inDir: String,
      nPlanes: Int = 16, tables: Int = 4, minCos: Double = 0.99,
      maxPerBucket: Int = 64, stateTtlMs: Long = 0L,
      schema: StructType = vecDocsSchema): DataFrame = {
    import spark.implicits._
    import graft.analysis.SignBuckets
    val keyed = spark.readStream.schema(schema).parquet(inDir)
      // null id/vector rows drop up front: decoded into a non-nullable
      // tuple they would kill the whole continuous query (the batch
      // twin's join drops them harmlessly)
      .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
      .withColumn("embedding", col("embedding").cast("array<double>"))
      .withColumn("bk", explode_outer(SignBuckets.of(col("embedding"), nPlanes, tables)))
      .select(col("bk.table"), col("bk.bucket"), col("vec_id"), col("embedding"))
      .as[(Int, Long, Long, Array[Double])]
    bucketDedup(keyed, cosine(minCos), maxPerBucket, stateTtlMs)
      .toDF("vec_id", "dup_of", "cos")
  }

  /** Streaming banded-Hamming near-dup over the text SimHash — the
    * continuous twin of `TextOps.simhashDupPairs`: the fused Simhash64
    * expression and the SAME `TextOps.hammingBandKeys` band encoding
    * feed [[nearDupStream]]'s bucket machine (see its doc for the
    * keeper, tie-break, cap and TTL rules), whose (doc_id, hash)
    * entries are 16 bytes each, the cheapest state of any dedup stream
    * here. The score is EXACT Hamming distance; a hit is <= `maxHamming`
    * and emits (doc_id, dup_of, hamming). The batch path's pigeonhole
    * guarantee carries over PER STORED KEEPER: a pair within
    * `maxHamming` shares some band, so it is caught whenever the
    * earlier doc was stored in that shared band's bucket.
    */
  def simhashDupStream(spark: SparkSession, inDir: String, bands: Int = 4,
      maxHamming: Int = 3, maxPerBucket: Int = 64,
      stateTtlMs: Long = 0L): DataFrame = {
    import spark.implicits._
    import graft.analysis.TextOps
    require(maxHamming < bands,
      s"pigeonhole guarantee needs maxHamming < bands ($maxHamming vs $bands)")
    // null text/id rows drop up front, like the batch twin's equi-join
    // drops them — decoded into a non-nullable tuple they would
    // otherwise kill the whole continuous query on one dirty record
    val keyed = spark.readStream.schema(textDocsSchema).parquet(inDir)
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .withColumn("sh", TextOps.simhash(col("text")))
      .withColumn("bk", explode_outer(TextOps.hammingBandKeys(col("sh"), bands)))
      .select(col("bk.band"), col("bk.bucket"), col("doc_id"), col("sh"))
      .as[(Int, Long, Long, Long)]
    bucketDedup(keyed, hamming(maxHamming), maxPerBucket, stateTtlMs)
      .toDF("doc_id", "dup_of", "hamming")
  }

  /** Asset-table-shaped stream input (media_ref, mime, content). */
  val assetsSchema: StructType = StructType(Seq(
    StructField("media_ref", StringType),
    StructField("mime", StringType),
    StructField("content", BinaryType)))

  /** Streaming PERCEPTUAL media near-dup — the continuous twin of
    * `BinaryOps.dhashDupPairs`: pooled-codec 9x8 grayscale frames
    * (mapPartitions lifts to streams unchanged), the fused DHash64,
    * the shared `hammingBandKeys` encoding, and the same exact-Hamming
    * score as [[simhashDupStream]] on the same bucket state machine,
    * keyed by "media_ref#frame_idx" strings. A re-encoded or
    * snap-resized copy arriving in a later micro-batch is flagged
    * against its stored original (BinaryOpsSpec semantics;
    * StreamingSpec proves it across batches). State per entry is one
    * (id, 8-byte hash) pair.
    */
  def dhashDupStream(spark: SparkSession, inDir: String, maxFrames: Int = 4,
      bands: Int = 8, maxHamming: Int = 7, maxPerBucket: Int = 64,
      stateTtlMs: Long = 0L): DataFrame = {
    import spark.implicits._
    import graft.analysis.TextOps
    import graft.media.{BinaryOps, DHash64}
    require(maxHamming < bands,
      s"pigeonhole guarantee needs maxHamming < bands ($maxHamming vs $bands)")
    // null ref/payload rows drop up front (see simhashDupStream: a
    // dirty record must not kill the continuous query; a null payload
    // would also NPE inside the codec)
    val assets = spark.readStream.schema(assetsSchema).parquet(inDir)
      .filter(col("media_ref").isNotNull && col("content").isNotNull)
      .as[BinaryOps.Asset]
    val keyed = BinaryOps.sampleGrayFrames(assets, maxFrames).toDF()
      .select(concat(col("media_ref"), lit("#"), col("frame_idx")).as("id"),
        DHash64.of(col("gray")).as("sh"))
      .withColumn("bk", explode_outer(TextOps.hammingBandKeys(col("sh"), bands)))
      .select(col("bk.band"), col("bk.bucket"), col("id"), col("sh"))
      .as[(Int, Long, String, Long)]
    bucketDedup(keyed, hamming(maxHamming), maxPerBucket, stateTtlMs)
      .toDF("id", "dup_of", "hamming")
  }

  // ---- the bounded-bucket state machine --------------------------------

  /** A near-dup stream's score of an arriving feature against a stored
    * one, which scores are hits (`near`), and which hit wins:
    * `nearer.lt(a, b)` when `a` is strictly nearer, `equiv` on a tie.
    */
  private[streaming] final case class Nearness[F, S](score: (F, F) => S,
      near: S => Boolean, nearer: Ordering[S])

  /** Higher is nearer, by IEEE `>`/`==` (TotalOrdering splits -0.0). */
  private val Higher: Ordering[Double] = Ordering.Double.IeeeOrdering.reverse

  /** MinHash estimated Jaccard: matching signature slots / m. */
  private[streaming] def estJaccard(m: Int,
      minEstJaccard: Double): Nearness[Seq[Long], Double] =
    Nearness((sig, ssig) =>
      sig.iterator.zip(ssig.iterator).count { case (a, b) => a == b }.toDouble / m,
      _ >= minEstJaccard, Higher)

  /** Exact cosine. A dimension mismatch scores NaN (never >= minCos):
    * the batch twin's CosineSim returns null there, which its
    * cos >= minCos filter drops — a truncated malformed vector must not
    * score 1.0. A zero-norm vector scores 0.0.
    */
  private[streaming] def cosine(minCos: Double): Nearness[Array[Double], Double] =
    Nearness({ (a, b) =>
      if (a.length != b.length) Double.NaN
      else {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
        if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
      }
    }, _ >= minCos, Higher)

  /** Exact Hamming distance of two 64-bit hashes; lower is nearer. */
  private[streaming] def hamming(maxHamming: Int): Nearness[Long, Int] =
    Nearness((h, sh) => java.lang.Long.bitCount(h ^ sh), _ <= maxHamming,
      Ordering.Int)

  /** Processing-time timeout when `stateTtlMs > 0`, none otherwise. */
  private def stateTimeout(stateTtlMs: Long): GroupStateTimeout =
    if (stateTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
    else GroupStateTimeout.NoTimeout()

  /** The ONE bounded-bucket state machine behind every near-dup stream:
    * `keyed` rows are (band or table, bucket, id, feature); a bucket's
    * state is its stored (id, feature) keepers. This adapter does only
    * the timeout, the eviction and the state update; [[bucketStep]]
    * decides the rest. Ids need an Ordering (batch order, tie-break).
    */
  private def bucketDedup[I, F, S](keyed: Dataset[(Int, Long, I, F)],
      rule: Nearness[F, S], maxPerBucket: Int, stateTtlMs: Long)(
      implicit ord: Ordering[I], stateEnc: Encoder[List[(I, F)]],
      outEnc: Encoder[(I, I, S)], keyEnc: Encoder[(Int, Long)]): Dataset[(I, I, S)] =
    keyed.groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[List[(I, F)], (I, I, S)](
        OutputMode.Append(), stateTimeout(stateTtlMs)) {
        case (_, rows, state: GroupState[List[(I, F)]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty } // idle: evict
          else {
            val (seen, out) = bucketStep(state.getOption.getOrElse(Nil),
              rows.map(r => (r._3, r._4)).toSeq.sortBy(_._1), rule, maxPerBucket)
            state.update(seen)
            if (stateTtlMs > 0) state.setTimeoutDuration(stateTtlMs)
            out.iterator
          }
      }

  /** One bucket's micro-batch, pure: the stored keepers `seen` and the
    * arriving `batch` (in id order) give the keepers after the batch and
    * the emitted (id, dup_of, score) rows. An id already stored is
    * dropped silently (a keeper re-ingest); otherwise the nearest `near`
    * keeper, ties to the lower id, is its dup_of; a doc with no near
    * keeper is stored while the bucket holds fewer than `maxPerBucket`.
    */
  private[streaming] def bucketStep[I, F, S](seen: List[(I, F)],
      batch: Seq[(I, F)], rule: Nearness[F, S], maxPerBucket: Int)(
      implicit ord: Ordering[I]): (List[(I, F)], List[(I, I, S)]) = {
    // a List scanned per arriving row and rebuilt with :+ is O(n) per
    // row, deliberately: n <= maxPerBucket (64 by default) is where a
    // list beats a keyed map; the score scan is O(n) regardless
    var kept = seen
    val out = List.newBuilder[(I, I, S)]
    batch.foreach { case (id, f) =>
      if (!kept.exists(_._1 == id)) {
        val best = kept.iterator.map { case (sid, sf) => (sid, rule.score(f, sf)) }
          .filter(hit => rule.near(hit._2))
          .reduceOption((a, b) => if (rule.nearer.lt(b._2, a._2) ||
            (rule.nearer.equiv(b._2, a._2) && ord.lt(b._1, a._1))) b else a)
        best match {
          case Some((sid, s)) => out += ((id, sid, s))
          case None => if (kept.size < maxPerBucket) kept = kept :+ ((id, f))
        }
      }
    }
    (kept, out.result())
  }
}
