package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
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
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val timeout =
      if (stateTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    spark.readStream.schema(docsSchema).parquet(inDir).as[DocRow]
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState[Boolean, DocRow](
        OutputMode.Append(), timeout) {
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
    * shingle sets): a hit emits (doc_id, dup_of, est_jaccard) and the
    * doc is not stored IN THAT BUCKET; a miss is stored if the bucket
    * has room. The keeper guarantee is PER (band, bucket): state is
    * partitioned by bucket with no cross-group coordination, so a doc
    * that matched in one band's bucket may still be stored as a keeper
    * in another band's bucket, and later arrivals can be reported as
    * dup_of a doc that is itself a dup (a non-canonical transitive
    * chain). Consumers needing canonical cluster keepers run the batch
    * [[graft.analysis.TextOps.dupClusters]] min-id propagation over the
    * emitted pair stream. A doc colliding with the same keeper in
    * several bands emits once per band — consumers dedupe by (doc_id,
    * dup_of), exactly as the batch path dropDuplicates before its
    * rerank.
    *
    * Determinism: rows within a (bucket, micro-batch) are processed in
    * doc_id order (the per-bucket batch is buffered — bounded by the
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
    * custom state. Each bucket stores at most `maxPerBucket`
    * (vec_id, vector) entries; an arriving vector is scored by EXACT
    * cosine against its bucket's stored vectors (the stream keeps the
    * full vectors — unlike the text path, which can only afford
    * signatures): the best hit >= `minCos` (ties to the lower id) emits
    * (vec_id, dup_of, cos) and the vector is not stored IN THAT BUCKET;
    * a miss is stored if the bucket has room. Identical vectors share
    * every sign bucket in every table, so exact duplicates are caught
    * with certainty; near vectors with the multi-table probability the
    * batch path documents.
    *
    * Keeper semantics, determinism (vec_id order within a bucket's
    * micro-batch slice), re-ingest silent drop, multi-table duplicate
    * emissions (consumers dedupe by (vec_id, dup_of)), and the
    * `stateTtlMs` processing-time eviction contract — including the
    * no-data-micro-batches deployment note — are EXACTLY
    * [[nearDupStream]]'s; see its doc. State per bucket is
    * maxPerBucket * (8 + 8 * dim) bytes, the TTL bounds the bucket
    * keyspace to recently-active buckets.
    */
  def vectorNearDupStream(spark: SparkSession, inDir: String,
      nPlanes: Int = 16, tables: Int = 4, minCos: Double = 0.99,
      maxPerBucket: Int = 64, stateTtlMs: Long = 0L,
      schema: StructType = vecDocsSchema): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
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
    val timeout =
      if (stateTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    def cos(a: Array[Double], b: Array[Double]): Double = {
      // dimension mismatch -> NaN (never >= minCos): the batch twin's
      // CosineSim returns null there, which the cos >= minCos filter
      // drops — a truncated malformed vector must not score 1.0
      if (a.length != b.length) return Double.NaN
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
    }
    keyed.groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[List[(Long, Array[Double])], (Long, Long, Double)](
        OutputMode.Append(), timeout) {
        case (_, rows, state: GroupState[List[(Long, Array[Double])]]) =>
          if (state.hasTimedOut) { // idle past the TTL: evict wholesale
            state.remove()
            Iterator.empty
          } else {
            var seen = state.getOption.getOrElse(Nil)
            val out = List.newBuilder[(Long, Long, Double)]
            rows.toSeq.sortBy(_._3).foreach { case (_, _, id, vec) =>
              if (!seen.exists(_._1 == id)) { // keeper re-ingest: silent drop
                val best = seen.iterator.map { case (sid, svec) =>
                  (sid, cos(vec, svec))
                }.filter(_._2 >= minCos)
                  .reduceOption((a, b) =>
                    if (b._2 > a._2 || (b._2 == a._2 && b._1 < a._1)) b else a)
                best match {
                  case Some((sid, c)) => out += ((id, sid, c))
                  case None =>
                    if (seen.size < maxPerBucket) seen = seen :+ ((id, vec))
                }
              }
            }
            state.update(seen)
            if (stateTtlMs > 0) state.setTimeoutDuration(stateTtlMs)
            out.result().iterator
          }
      }.toDF("vec_id", "dup_of", "cos")
  }

  /** Streaming banded-Hamming near-dup over the text SimHash — the
    * continuous twin of `TextOps.simhashDupPairs`: the fused Simhash64
    * expression and the SAME `TextOps.hammingBandKeys` band encoding
    * feed per-(band, bucket) custom state holding at most
    * `maxPerBucket` (doc_id, hash) entries — 16 bytes each, the
    * cheapest state of any dedup stream here. An arriving doc is
    * scored by EXACT Hamming distance against its bucket's stored
    * hashes; the best hit <= `maxHamming` (ties to the lower id)
    * emits (doc_id, dup_of, hamming) and the doc is not stored IN
    * THAT BUCKET; a miss is stored if the bucket has room. The batch
    * path's pigeonhole guarantee carries over PER STORED KEEPER: a
    * pair within `maxHamming` shares some band, so it is caught
    * whenever the earlier doc was stored in that shared band's bucket
    * (the bounded-state and TTL recall caveats are exactly
    * [[nearDupStream]]'s — see its doc for keeper semantics,
    * determinism, multi-band duplicate emissions, and the
    * no-data-micro-batches deployment note).
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
    hammingDedupState[Long](keyed, maxHamming, maxPerBucket, stateTtlMs)
      .toDF("doc_id", "dup_of", "hamming")
  }

  /** The bounded-bucket exact-Hamming state machine shared by
    * [[simhashDupStream]] (long doc ids) and [[dhashDupStream]]
    * (string frame ids) — ONE implementation so keeper / tiebreak /
    * TTL semantics cannot drift between the text and media surfaces
    * (the same reason `hammingBandKeys` is shared with the batch
    * join). Generic over the id type: needs its Encoder (for state
    * and output rows) and Ordering (within-micro-batch determinism
    * and the lower-id tiebreak).
    */
  private def hammingDedupState[I](
      keyed: org.apache.spark.sql.Dataset[(Int, Long, I, Long)],
      maxHamming: Int, maxPerBucket: Int, stateTtlMs: Long)(
      implicit ord: Ordering[I],
      stateEnc: org.apache.spark.sql.Encoder[List[(I, Long)]],
      outEnc: org.apache.spark.sql.Encoder[(I, I, Int)],
      keyEnc: org.apache.spark.sql.Encoder[(Int, Long)])
      : org.apache.spark.sql.Dataset[(I, I, Int)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val timeout =
      if (stateTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    keyed.groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[List[(I, Long)], (I, I, Int)](
        OutputMode.Append(), timeout) {
        case (_, rows, state: GroupState[List[(I, Long)]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // state shape: a List scanned linearly per arriving row
            // (membership + best-match) and rebuilt with :+ — O(n) per
            // row, deliberately so: n is capped at maxPerBucket (64 by
            // default) where a list of 8-byte pairs beats any keyed
            // structure on constant factors. A caller raising
            // maxPerBucket into the thousands should switch `seen` to
            // a LinkedHashMap keyed by id (the Hamming scan itself is
            // irreducibly O(n) — banding, not the container, is what
            // keeps buckets small).
            var seen = state.getOption.getOrElse(Nil)
            val out = List.newBuilder[(I, I, Int)]
            rows.toSeq.sortBy(_._3).foreach { case (_, _, id, h) =>
              if (!seen.exists(_._1 == id)) { // keeper re-ingest: silent drop
                val best = seen.iterator.map { case (sid, sh) =>
                  (sid, java.lang.Long.bitCount(h ^ sh))
                }.filter(_._2 <= maxHamming)
                  .reduceOption((a, b) =>
                    if (b._2 < a._2 || (b._2 == a._2 && ord.lt(b._1, a._1))) b
                    else a)
                best match {
                  case Some((sid, d)) => out += ((id, sid, d))
                  case None =>
                    if (seen.size < maxPerBucket) seen = seen :+ ((id, h))
                }
              }
            }
            state.update(seen)
            if (stateTtlMs > 0) state.setTimeoutDuration(stateTtlMs)
            out.result().iterator
          }
      }
  }

  /** Asset-table-shaped stream input (media_ref, mime, content). */
  val assetsSchema: StructType = StructType(Seq(
    StructField("media_ref", StringType),
    StructField("mime", StringType),
    StructField("content", BinaryType)))

  /** Streaming PERCEPTUAL media near-dup — the continuous twin of
    * `BinaryOps.dhashDupPairs`: pooled-codec 9x8 grayscale frames
    * (mapPartitions lifts to streams unchanged), the fused DHash64,
    * the shared `hammingBandKeys` encoding, and the same per-bucket
    * bounded-Hamming state machine as [[simhashDupStream]], keyed by
    * "media_ref#frame_idx" strings. A re-encoded or snap-resized copy
    * arriving in a later micro-batch is flagged against its stored
    * original (BinaryOpsSpec semantics; StreamingSpec proves it
    * across batches). State per entry is one (id, 8-byte hash) pair.
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
    hammingDedupState[String](keyed, maxHamming, maxPerBucket, stateTtlMs)
      .toDF("id", "dup_of", "hamming")
  }

  def nearDupStream(spark: SparkSession, inDir: String, n: Int = 3,
      m: Int = 16, bands: Int = 4, minEstJaccard: Double = 0.5,
      maxPerBucket: Int = 64, stateTtlMs: Long = 0L): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
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
    val timeout =
      if (stateTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    keyed.groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[List[(Long, Seq[Long])], (Long, Long, Double)](
        OutputMode.Append(), timeout) {
        case (_, rows, state: GroupState[List[(Long, Seq[Long])]]) =>
          if (state.hasTimedOut) { // idle past the TTL: evict wholesale
            state.remove()
            Iterator.empty
          } else {
            var seen = state.getOption.getOrElse(Nil)
            val out = List.newBuilder[(Long, Long, Double)]
            rows.toSeq.sortBy(_._3).foreach { case (_, _, id, sig) =>
              if (!seen.exists(_._1 == id)) { // keeper re-ingest: silent drop
                val best = seen.iterator.map { case (sid, ssig) =>
                  val matches = sig.iterator.zip(ssig.iterator)
                    .count { case (a, b) => a == b }
                  (sid, matches.toDouble / m)
                }.filter(_._2 >= minEstJaccard)
                  .reduceOption((a, b) =>
                    if (b._2 > a._2 || (b._2 == a._2 && b._1 < a._1)) b else a)
                best match {
                  case Some((sid, est)) => out += ((id, sid, est))
                  case None =>
                    if (seen.size < maxPerBucket) seen = seen :+ ((id, sig))
                }
              }
            }
            state.update(seen)
            if (stateTtlMs > 0) state.setTimeoutDuration(stateTtlMs)
            out.result().iterator
          }
      }.toDF("doc_id", "dup_of", "est_jaccard")
  }
}
