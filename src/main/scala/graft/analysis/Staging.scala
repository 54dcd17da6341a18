package graft.analysis

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Engine-wide default staging root: set
  * `spark.conf.set(StagingConf.Key, dir)` and operators that would
  * otherwise hold round state in executor memory
  * ([[TextOps.dupClusters]]'s rounds) auto-select parquet
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

/** The one materialization barrier: every operator frame that several
  * consumers read (the exploded (id, features, band, bucket) bases both
  * sides of an LSH self-join read, curate's keepers, release's
  * intermediate sets, dupClusters' rounds, the media demo's assets)
  * goes through [[Staging.materialize]]. Both encodings are eager (one
  * job at call time) and return a leaf, so downstream plans scan the
  * barrier instead of recomputing or re-analyzing its lineage:
  *
  *  - `staging = None` (default): a local checkpoint — the rows are
  *    computed once into executor block storage (serialized, in memory,
  *    spilling to disk) and the returned frame reads them through a lineage-cut
  *    RDD leaf sized by its measured bytes, so joins over it plan
  *    from the real size (`Bridge.checkpointLeaf`). Nothing is
  *    registered with the SQL CacheManager, so there is nothing to
  *    release: the blocks are freed by Spark's ContextCleaner once the
  *    returned frames (and everything built on them) are unreachable.
  *  - `staging = Some(dir)`: write/read a parquet staging table — the
  *    100 TB encoding: nothing rides executor memory, the barrier
  *    survives executor loss, and the staged base is independently
  *    inspectable/resumable. Caller owns the directory's lifecycle —
  *    and must pass a FRESH dir per invocation: table names under the
  *    dir are fixed per operator ("minhash_base", "curate_keepers",
  *    ...), so the write mode is error-if-exists and a reused dir
  *    FAILS FAST instead of two invocations silently overwriting each
  *    other's staging tables.
  *
  * The trade: a local checkpoint is not recomputable. A cache barrier
  * fell back to its lineage when an executor holding its blocks died;
  * a checkpoint block is lost with its executor, and a later read
  * fails the job with "Checkpoint block ... not found". Jobs that must
  * survive executor loss pass `staging` (or set
  * `spark.graft.stagingDir` for dupClusters' rounds).
  */
private[graft] object Staging {

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

  def materialize(df: DataFrame, staging: Option[String],
      name: String): DataFrame = staging match {
    case Some(dir) =>
      val path = s"$dir/$name"
      // default ErrorIfExists: a concurrent (or repeated) invocation
      // sharing the dir errors here instead of corrupting the other
      // call's staged table
      df.write.parquet(path)
      df.sparkSession.read.parquet(path)
    case None => org.apache.spark.sql.graftbridge.Bridge.checkpointLeaf(df)
  }
}
