package graft.analysis

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Materialization seam for the dup-join bases (the exploded
  * (id, features, band, bucket) DataFrames that feed both sides of an
  * LSH self-join). Two encodings of the same barrier:
  *
  *  - `staging = None` (default): `.cache()` — right for jobs that fit
  *    executor storage; the BlockManager entry lives until the caller
  *    releases it (`spark.catalog.clearCache()`, as Bench does, or a
  *    per-call [[CacheScope]]).
  *  - `staging = Some(dir)`: write/read a parquet staging table — the
  *    100 TB encoding: nothing rides executor memory, the barrier
  *    survives executor loss, a long-lived session accumulates no
  *    BlockManager storage, and the staged base is independently
  *    inspectable/resumable. Caller owns the directory's lifecycle —
  *    and must pass a FRESH dir per invocation: table names under the
  *    dir are fixed per operator ("minhash_base", "curate_keepers",
  *    ...), so the write mode is error-if-exists and a reused dir
  *    FAILS FAST instead of two invocations silently overwriting each
  *    other's staging tables.
  */
/** Per-call registry for the `.cache()` barriers the dup-join /
  * curation operators create when no `staging` dir is passed: pass a
  * fresh `new CacheScope` to the operator, run the terminal action on
  * its result, then `release()` — exactly that call's BlockManager
  * entries are dropped, without `spark.catalog.clearCache()`'s nuclear
  * option (which would also evict every OTHER caller's caches in a
  * shared long-lived session). The default (`CacheScope.unmanaged`)
  * registers nothing and preserves the caller-owns-lifecycle contract.
  *
  * Scope: tracks `Staging.materialize(None)` caches only.
  * `dupClusters`' in-memory rounds are localCheckpoints (lineage cuts,
  * not caches) — their blocks die with the session, or run that
  * operator with `staging`/`spark.graft.stagingDir` to keep round
  * state off executors entirely.
  */
final class CacheScope private (tracking: Boolean) {
  def this() = this(true)
  private val caches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  private[analysis] def register(df: DataFrame): DataFrame = {
    if (tracking) synchronized { caches += df }
    df
  }

  /** Unpersist (blocking) every cache this scope's call registered.
    * Idempotent; the scope can be reused afterwards.
    *
    * Caveat (inherent to Spark's CacheManager): caches are keyed by
    * LOGICAL PLAN and deduped, so if a concurrent caller cached the
    * IDENTICAL plan (same input, same parameters), both scopes share
    * one entry and this release drops it for both — the same sharing
    * `spark.catalog.clearCache()` has, just scoped to matching plans
    * instead of everything. Distinct inputs/parameters never collide.
    */
  def release(): Unit = synchronized {
    caches.foreach(_.unpersist(blocking = true))
    caches.clear()
  }
}

object CacheScope {
  /** No-op sentinel: nothing registered, caller owns the lifecycle. */
  val unmanaged: CacheScope = new CacheScope(false)
}

/** Engine-wide default staging root: set
  * `spark.conf.set(StagingConf.Key, dir)` and operators that would
  * otherwise hold round state in executor memory
  * ([[TextOps.dupClusters]]'s localCheckpoint) auto-select parquet
  * staging under a PER-INVOCATION unique subdir (no two calls ever
  * share one, so the fail-fast contract cannot trip). Retention: each
  * finished call keeps only the table its returned DataFrame reads
  * (dupClusters deletes its round intermediates on convergence); the
  * subdirs are the caller's to delete once the result has been
  * consumed — each resolved subdir is logged at INFO ("graft staging:
  * ...") and listable under the root, so a maintenance sweep can map
  * and clear them without guessing.
  */
object StagingConf {
  val Key = "spark.graft.stagingDir"
}

private[analysis] object Staging {

  private lazy val logger =
    org.slf4j.LoggerFactory.getLogger("graft.analysis.Staging")

  /** Explicit per-call staging wins; else the engine-wide conf dir
    * (namespaced per call); else None (in-memory barrier).
    */
  def resolve(spark: SparkSession, staging: Option[String],
      op: String): Option[String] =
    staging.orElse(spark.conf.getOption(StagingConf.Key)
      .map { d =>
        val dir = s"$d/$op-${java.util.UUID.randomUUID()}"
        // surface the generated name: it is the caller's to delete
        logger.info(s"graft staging: $op rounds staged under $dir")
        dir
      })

  def materialize(df: DataFrame, staging: Option[String], name: String,
      scope: CacheScope = CacheScope.unmanaged): DataFrame = staging match {
    case Some(dir) =>
      val path = s"$dir/$name"
      // default ErrorIfExists: a concurrent (or repeated) invocation
      // sharing the dir errors here instead of corrupting the other
      // call's staged table
      df.write.parquet(path)
      df.sparkSession.read.parquet(path)
    case None =>
      val cached = scope.register(df.cache())
      // populate EAGERLY (one cheap count job, like the staged branch's
      // write): a lazy cache is no barrier against AQE's concurrent
      // query-stage materialization — an LSH self-join's three
      // downstream exchanges (hot-bucket agg, a side, b side) are
      // submitted together, each finds the cache cold, and each
      // recomputes the full upstream chain (measured in the r08 stage
      // audit: the fused shingle+minhash map stage executed 3x per
      // query, with "Block already exists; not re-adding" churn).
      // Caching materializes every column regardless of the count's
      // pruning, so downstream stages all read the one materialization.
      cached.count()
      // ... and hand downstream compositions the InMemoryRelation LEAF
      // (what execution substitutes anyway): deep barrier chains
      // (curate -> release) otherwise re-analyze and re-print the full
      // child tree per reference — analyzer time multiplicative in
      // composition depth, measured in seconds of the release bench
      // entry. Lifecycle: scope.release()/clearCache() evicts the
      // blocks as before (scope holds the original cached frame).
      // SHARPENED contract vs the lazy-cache era: re-EXECUTING a
      // returned frame AFTER its release rebuilds the relation's
      // buffers and re-persists them with no CacheManager entry left
      // to evict them — consume results before releasing (the
      // CacheScope scaladoc's documented order); don't resurrect
      // frames after release.
      org.apache.spark.sql.graftbridge.Bridge.cachedLeaf(cached)
        .getOrElse(cached)
  }
}
