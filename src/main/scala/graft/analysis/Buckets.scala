package graft.analysis

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hot-bucket bounding for the LSH-style bucket self-joins (near-dup
  * candidate generation): a bucket with M members emits M^2 candidate
  * rows in a self-join BEFORE any pair-dedup or rerank can shrink it,
  * and AQE skew handling splits partitions but cannot shrink the
  * quadratic pair set itself. Web-scale corpora reliably produce such
  * buckets (empty docs, boilerplate, mirrored pages), so an unguarded
  * banded join is a 100 TB scale-killer even when the banding is right.
  *
  * Strategy here: count bucket occupancy (map-side partial aggregation
  * makes the shuffle one tiny row per bucket per task), join the
  * oversized buckets back onto the exploded base (AQE broadcasts the
  * usually-tiny hot side at runtime — no re-shuffle of the heavy side —
  * and falls back to a shuffle join if a pathological corpus makes the
  * hot side itself large), and deterministically hash-salt their
  * members into ceil(n/maxBucket) sub-buckets — the self-join on
  * (keys, salt) is then bounded to O(n * maxBucket) candidate pairs
  * per bucket. [[selfPairs]] is the one banded self-join: the MinHash,
  * banded-Hamming and cosine pair paths all call it, and no other module
  * knows the salt column, so every dup-pair self-join is bounded by
  * construction.
  *
  * Recall contract (NOT silent): pairs crossing salt boundaries inside
  * an oversized bucket are not generated. The supported composition is
  * exact-duplicate collapse FIRST ([[TextOps.dedupCascade]]) so
  * identical-content clusters — the way honest data makes a bucket
  * quadratically hot — never reach this join at all; the salt is the
  * backstop for adversarial or borderline-near buckets. [[hotBuckets]]
  * reports exactly what was split and how many pairs the bound forgoes
  * (the no-silent-caps rule); jobs at scale should run and log it
  * alongside the dedup itself.
  */
object Buckets {

  /** The banded self-join of every LSH near-dup path: `keyed` rows (one
    * per (row, bucket key)) joined to themselves on `keys` plus the
    * hot-bucket salt, each pair kept once per shared bucket as
    * `id_a < id_b`. Returns the join rows — `keys`, the salt, `id_a`,
    * `<feature>_a`, `id_b`, `<feature>_b` — for the caller's own tail
    * (which of score and pair-dedup runs first is the caller's call).
    */
  def selfPairs(keyed: DataFrame, keys: Seq[String], id: String,
      feature: String, maxBucket: Int): DataFrame = {
    val salted = saltOversized(keyed, keys, col(id), maxBucket)
    def side(half: String) = salted.select(keys.map(col) ++ Seq(col("__salt"),
      col(id).as(s"id_$half"), col(feature).as(s"${feature}_$half")): _*)
    side("a").join(side("b"), keys :+ "__salt").filter(col("id_a") < col("id_b"))
  }

  /** Adds `__salt` (0 for buckets at or under `maxBucket`); self-join on
    * `keys :+ "__salt"`. The hot side holds one row per OVERSIZED
    * bucket only — usually zero to a handful, so AQE converts the join
    * to a broadcast at runtime; no explicit broadcast() hint, because a
    * worst-case corpus can have up to N/maxBucket oversized buckets
    * (unbroadcastable at 10^12 docs) and the join must then survive as
    * a shuffle join rather than OOM the driver inside its own guard.
    */
  private def saltOversized(keyed: DataFrame, keys: Seq[String], id: Column,
      maxBucket: Int): DataFrame = {
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    // internal working columns: a caller schema already carrying either
    // name would silently collide in the join/withColumn below and
    // produce wrong salts
    Seq("n_splits", "__salt").foreach(c =>
      require(!keyed.columns.contains(c),
        s"selfPairs input must not contain a '$c' column"))
    val hot = hotBuckets(keyed, keys, maxBucket)
      .select(keys.map(col) :+ col("n_splits"): _*)
    keyed.join(hot, keys, "left")
      .withColumn("__salt",
        when(col("n_splits").isNotNull,
          pmod(xxhash64(id), col("n_splits")).cast("int")).otherwise(0))
      .drop("n_splits")
  }

  /** Audit of what [[selfPairs]] salts: one row per oversized
    * bucket — (keys..., n, n_splits, pairs_unbounded, pairs_kept_est).
    * `pairs_unbounded - pairs_kept_est` is the candidate volume the
    * bound forgoes; run and log this wherever the cap may bite.
    */
  def hotBuckets(keyed: DataFrame, keys: Seq[String],
      maxBucket: Int): DataFrame =
    keyed.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBucket)
      .withColumn("n_splits", ceil(col("n") / lit(maxBucket)).cast("int"))
      // integral div (not `/`, which is a double divide): these are
      // counts, and n*(n-1) is always even so `div 2` is exact
      .withColumn("pairs_unbounded", expr("n * (n - 1) div 2"))
      .withColumn("pairs_kept_est",
        expr("(n div n_splits) * (n - n_splits) div 2"))
}
