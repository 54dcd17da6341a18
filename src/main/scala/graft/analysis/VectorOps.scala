package graft.analysis

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (array<float/double>).
  * Cosines, projections and centroid dots are one-pass native
  * expressions (CosineSim, SignProjections/SignBuckets,
  * BroadcastDotProducts). Two physical strategies:
  *  - brute-force top-k: broadcast the (small) query set against the
  *    corpus — a map-side cross product + per-query window top-k;
  *  - LSH-bucketed ANN (the 100 TB scale path): sign-of-random-
  *    hyperplane bucket per vector, co-partitioned bucket join, then
  *    exact rerank inside buckets. Hyperplanes are deterministic
  *    pseudo-random ±1 vectors derived from xxhash64(plane, dim), so no
  *    state is shipped and any executor can recompute them.
  */
object VectorOps {

  /** Embedding tables commonly store array<float>; the fused
    * expressions (SignProjections / BroadcastDotProducts) and
    * driver-side centroid math read doubles, so every entry point
    * normalizes the vector column first (no-op for already-double
    * columns).
    */
  private def vecAsDouble(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn(vecCol, col(vecCol).cast("array<double>"))

  /** Exact cosine as the one-pass CosineSim expression; float- AND
    * null-identical to the test-scope HOF twin (cross-validated), like
    * every other native expression in this module.
    */
  def cosine(a: Column, b: Column): Column = CosineSim.of(a, b)

  /** Brute-force cosine top-k: every query scored against every corpus
    * vector. `queries` must be small (it is broadcast); the corpus side
    * streams map-side, then one per-query window picks the top k.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      qId: String = "vec_id", qVec: String = "embedding",
      cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val q = vecAsDouble(queries, qVec).select(col(qId).as("query_id"), col(qVec).as("q_vec"))
    val c = vecAsDouble(corpus, cVec).select(col(cId).as("neighbor_id"), col(cVec).as("c_vec"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("q_vec"), col("c_vec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** 2^i as a long, expression-side (shiftleft has no Column-shift
    * overload inside HOF lambdas; powers of two are exact doubles, and
    * the long cast is ANSI-safe for i <= 62 — guarded by requirePlanes).
    */
  private def bit(i: Column): Column = pow(lit(2.0d), i).cast("long")

  /** Bucket ids are built as sums of 2^i longs: nPlanes > 62 would
    * overflow the ANSI-checked cast/sum at runtime with an opaque error.
    */
  private def requirePlanes(nPlanes: Int): Unit =
    require(nPlanes >= 1 && nPlanes <= 62,
      s"nPlanes must be in [1, 62] (bucket ids are 2^i sums in a long), got $nPlanes")

  /** Sign bucket from a projections array: bit i set iff proj(i) >= 0. */
  private[graft] def bucketOf(projs: Column): Column =
    aggregate(zip_with(projs, sequence(lit(0), size(projs) - 1),
      (pr, i) => when(pr >= 0, bit(i)).otherwise(lit(0L))),
      lit(0L), (acc, b) => acc + b)

  /** Query-side multi-probe keys: per table, the home bucket plus every
    * bucket reachable by flipping any subset of the `probeBits`
    * smallest-margin sign bits — 2^probeBits probes per table. Flipping
    * by margin (not at random) targets exactly the bits a true neighbor
    * is most likely to disagree on, so recall is bought with probe
    * count instead of by collapsing the bucket space.
    */
  private def probeKeys(vec: Column, nPlanes: Int, tables: Int,
      probeBits: Int): Column = {
    val nProbes = 1 << probeBits
    // signed projections as [table][plane], one pass over the vector;
    // a small |projection| marks the sign bit likeliest to differ for a
    // true near-neighbor
    val perTable = SignProjections.of(vec, nPlanes, tables)
    flatten(zip_with(perTable, sequence(lit(0), lit(tables - 1)), (projs, t) => {
      val home = bucketOf(projs)
      // plane indices ordered by |projection| ascending (struct sort:
      // (margin, index) lexicographic), first `probeBits` of them
      val lowIdx = slice(transform(array_sort(
        zip_with(projs, sequence(lit(0), size(projs) - 1),
          (pr, i) => struct(abs(pr).as("m"), i.as("i")))),
        s => s("i")), 1, probeBits)
      transform(sequence(lit(0), lit(nProbes - 1)), mask => {
        val flip = aggregate(zip_with(lowIdx, sequence(lit(0), lit(probeBits - 1)),
          (idx, j) => when(mask.cast("long").bitwiseAND(bit(j)) > 0, bit(idx))
            .otherwise(lit(0L))),
          lit(0L), (acc, b) => acc + b)
        struct(t.as("table"), home.bitwiseXOR(flip).as("bucket"))
      })
    }))
  }

  /** ANN top-k via multi-probe multi-table sign-LSH, then exact cosine
    * rerank — the 100 TB scale path when the corpus no longer fits a
    * broadcast/cross. Defaults: 16 planes -> 65,536 buckets per table,
    * so the per-bucket candidate set is ~N/65k and keeps SHRINKING
    * relative to N (a 4-plane table's 16 buckets degenerate to a
    * quadratic self-join at scale); recall is recovered by `tables`
    * independent tables × 2^probeBits margin-guided probes per query
    * (the standard multi-probe LSH trade: probes are O(1) extra query
    * rows, buckets stay fine-grained). For corpora small enough that
    * N/2^nPlanes rounds to zero (tests, sf<=0.01), pass a smaller
    * nPlanes — brute force is the honest choice there anyway.
    */
  def annTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nPlanes: Int = 16, tables: Int = 4, probeBits: Int = 3): DataFrame = {
    requirePlanes(nPlanes)
    require(probeBits >= 0 && probeBits <= nPlanes,
      s"probeBits must be in [0, nPlanes], got $probeBits vs $nPlanes")
    // explode_outer everywhere: never-empty arrays + avoids the
    // inferred-filter re-inline trap (see Pipeline.extractRows)
    val c = vecAsDouble(corpus, "embedding")
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("c_vec"))
      .withColumn("bk", explode_outer(SignBuckets.of(col("c_vec"), nPlanes, tables)))
      .select(col("neighbor_id"), col("c_vec"), col("bk.table"), col("bk.bucket"))
    val q = vecAsDouble(queries, "embedding")
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
      .withColumn("bk", explode_outer(probeKeys(col("q_vec"), nPlanes, tables, probeBits)))
      .select(col("query_id"), col("q_vec"), col("bk.table"), col("bk.bucket"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    q.join(c, Seq("table", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      // score BEFORE the pair-dedup exchange: a collision row re-scored
      // is one fused array pass (~dim flops), while a collision row
      // SHUFFLED carries both full vectors (~16 dim bytes) — the
      // exchange then moves (query_id, neighbor_id, cos) only, and the
      // duplicate rows it collapses are byte-identical because cosine
      // is a pure function of the pair (guide §2.3 / §8: decide with
      // small rows).
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_vec"), col("c_vec")).as("cos"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** Embedding-cosine near-dup pairs (the vector twin of
    * TextOps.minhashDupPairs): LSH-bucketed self-join — a pair only
    * needs to share a bucket in ONE of `tables` sign tables — then ONE
    * exact cosine per deduped pair, thresholded. Exact duplicates and
    * very-near vectors share all sign bits, so recall approaches 1 as
    * similarity does; identical vectors are caught with certainty.
    */
  def cosineDupPairs(corpus: DataFrame, minCos: Double,
      nPlanes: Int = 16, tables: Int = 4, maxBucket: Int = 4096,
      staging: Option[String] = None): DataFrame = {
    requirePlanes(nPlanes)
    // barrier: both sides of the self-join read it (see Staging)
    val keyed = Staging.materialize(
      vecAsDouble(corpus, "embedding").select(col("vec_id"), col("embedding"))
        .withColumn("bk", explode_outer(SignBuckets.of(col("embedding"), nPlanes, tables)))
        .select(col("vec_id"), col("embedding"), col("bk.table"), col("bk.bucket")),
      staging, "cosine_base")
    // hot-bucket bound (see Buckets): a cluster of identical/mirrored
    // embeddings shares every sign bit, so ONE bucket per table holds the
    // whole cluster — exactly the M^2 blowup the salt bounds. Collapse
    // bit-identical vectors first where the data allows it.
    Buckets.selfPairs(keyed, Seq("table", "bucket"), "vec_id", "embedding", maxBucket)
      // score + threshold BEFORE the pair-dedup exchange (see annTopK):
      // the exchange then carries the thresholded (id_a, id_b, cos)
      // rows instead of two full vectors per band collision
      .select(col("id_a"), col("id_b"),
        cosine(col("embedding_a"), col("embedding_b")).as("cos"))
      .filter(col("cos") >= minCos)
      .dropDuplicates("id_a", "id_b")
  }

  /** Centroid dot products for cell assignment, as a vec-Column ->
    * dots-Column function plus the broadcast handle (for callers that
    * can release it after their action). The centroids ride a
    * TorrentBroadcast consumed by a native expression — at the
    * documented nCells ~ sqrt(N) sizing, 1B vectors x 768 dims is
    * ~200 MB of centroids, which as a `typedlit` plan literal would ride
    * in EVERY task's serialized expression tree; a broadcast ships once
    * per executor. The test-scope HOF twin keeps the literal encoding
    * (tiny at test scale) and is cross-validated byte-identical.
    */
  private def centroidDotsFn(unitCents: Seq[Seq[Double]],
      spark: org.apache.spark.sql.SparkSession)
      : (Column => Column, org.apache.spark.broadcast.Broadcast[Array[Array[Double]]]) = {
    val bc = spark.sparkContext.broadcast(unitCents.map(_.toArray).toArray)
    ((v: Column) => BroadcastDotProducts.of(v, bc), bc)
  }

  /** Query-side cell probes: indices of the `nProbe` nearest (by dot
    * against unit-normalized centroids == by cosine) cells, via one
    * struct sort — same shape as the LSH probe machinery.
    */
  private def cellKeys(dots: Column, nProbe: Int): Column =
    slice(transform(array_sort(
      zip_with(dots, sequence(lit(0), size(dots) - 1),
        (d, i) => struct((-d).as("d"), i.as("cell")))),
      s => s("cell")), 1, nProbe)

  private def unitNorm(cents: Seq[Seq[Double]]): Seq[Seq[Double]] =
    cents.map { v =>
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n > 0) v.map(_ / n) else v
    }

  /** Deterministic centroid seed: first `k` corpus vectors by vec_id. */
  private def seedCentroids(corpus: DataFrame, k: Int): Seq[Seq[Double]] =
    vecAsDouble(corpus, "embedding").select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(k).collect()
      .map(_.getSeq[Number](1).map(_.doubleValue()).toSeq).toSeq

  /** Spherical k-means (Lloyd iterations under cosine): assign each
    * vector to its max-cosine centroid (map-side, fused dots against
    * the unit-normalized centroid literal), recompute per-cell means
    * with one (cell, dim) aggregation, repeat. The per-iteration
    * shuffle is k*dim rows — trivial at any corpus size; assignment is
    * the map-side pass IVF needs anyway. Deterministic (seeded from
    * the first k vectors); a cell that loses all members keeps its old
    * centroid.
    */
  def kmeansCentroids(corpus: DataFrame, k: Int,
      iters: Int = 2): Seq[Seq[Double]] = {
    var cents = seedCentroids(corpus, k)
    val dcorpus = vecAsDouble(corpus, "embedding")
    for (_ <- 1 to iters) {
      val (dotsOf, bc) = centroidDotsFn(unitNorm(cents), corpus.sparkSession)
      // stage the dots as a named column: cellKeys references its input
      // twice (zip_with + size), and an inlined subtree would compute
      // the k-centroid dots twice per row
      val assigned = dcorpus
        .withColumn("__dots", dotsOf(col("embedding")))
        .select(col("embedding"),
          explode_outer(cellKeys(col("__dots"), 1)).as("cell"))
      val stats = assigned
        .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy(col("cell"), col("dim"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .collect()
        .groupBy(_.getInt(0))
      cents = cents.zipWithIndex.map { case (old, c) =>
        stats.get(c) match {
          case Some(rows) =>
            val byDim = rows.map(r => r.getInt(1) -> (r.getDouble(2) / r.getLong(3))).toMap
            old.indices.map(d => byDim.getOrElse(d, 0.0))
          case None => old // empty cell keeps its centroid
        }
      }
      // the iteration's action is complete; its centroid broadcast is dead
      bc.unpersist(blocking = false)
    }
    cents
  }

  /** IVF (inverted-file) ANN — the centroid-partitioned alternative to
    * sign-LSH, per the round brief ("IVF or LSH-bucketed"). Corpus
    * vectors are assigned to their single nearest of `nCells` centroids
    * (map-side: centroids ship once per executor as a broadcast read by
    * the native dot-product expression, never as a plan literal);
    * queries probe their `nProbe` nearest cells; candidates meet in a
    * cell-keyed join, then ONE exact cosine per deduped pair and a
    * per-query top-k window. Pass `centroids =
    * Some(kmeansCentroids(...))` for trained cells, or leave None for
    * the deterministic corpus-sample seed. Scale: cells hold ~N/nCells
    * vectors and a query touches nProbe/nCells of the corpus — tune
    * nCells ~ sqrt(N) like FAISS IVF.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nCells: Int = 64, nProbe: Int = 4,
      centroids: Option[Seq[Seq[Double]]] = None): DataFrame = {
    val cents = unitNorm(centroids.getOrElse(seedCentroids(corpus, nCells)))
    // one broadcast serves both sides; it lives as long as the returned
    // plan may execute, so no unpersist here (Spark GCs it with the ref)
    val (dotsOf, _) = centroidDotsFn(cents, corpus.sparkSession)
    // dots staged as a named column (cellKeys reads its input twice —
    // zip_with + size; inlining would double the per-row dot cost)
    val c = vecAsDouble(corpus, "embedding")
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("c_vec"))
      .withColumn("__dots", dotsOf(col("c_vec")))
      .withColumn("cell", explode_outer(cellKeys(col("__dots"), 1)))
      .drop("__dots")
    val q = vecAsDouble(queries, "embedding")
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
      .withColumn("__dots", dotsOf(col("q_vec")))
      .withColumn("cell", explode_outer(cellKeys(col("__dots"), nProbe)))
      .drop("__dots")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    q.join(c, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      // score BEFORE the pair-dedup exchange (see annTopK): the
      // exchange carries (query_id, neighbor_id, cos), not two vectors
      // per cell collision
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_vec"), col("c_vec")).as("cos"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** Bucket-occupancy audit: rows (table, bucket, n) — the scale
    * invariant is max(n) ≈ N/2^nPlanes per table, NOT N/16.
    */
  def bucketOccupancy(corpus: DataFrame, nPlanes: Int = 16,
      tables: Int = 4): DataFrame =
    vecAsDouble(corpus, "embedding").select(col("vec_id"),
        explode_outer(SignBuckets.of(col("embedding"), nPlanes, tables)).as("bk"))
      .groupBy(col("bk.table"), col("bk.bucket"))
      .agg(count(lit(1)).as("n"))
}
