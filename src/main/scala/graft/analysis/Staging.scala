package graft.analysis

import org.apache.spark.sql.DataFrame

/** The one materialization barrier: every operator frame that several
  * consumers read (the exploded (id, features, band, bucket) bases both
  * sides of an LSH self-join read, curate's keepers and near pairs,
  * release's contamination flags, dupClusters' rounds, the media demo's
  * assets)
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
  *    other's staging tables. The table is read back with the schema
  *    just written, so the read infers nothing (a parquet source makes
  *    every field nullable either way; AnalysisSpec pins the equality).
  *
  * Each barrier's eager job runs under the description
  * `graft:<name>:barrier`, so a listener can attribute it; the caller's
  * description is restored afterwards.
  *
  * The trade: a local checkpoint is not recomputable. A cache barrier
  * fell back to its lineage when an executor holding its blocks died;
  * a checkpoint block is lost with its executor, and a later read
  * fails the job with "Checkpoint block ... not found". Jobs that must
  * survive executor loss pass `staging`.
  */
private[graft] object Staging {

  /** The local property `SparkContext.setJobDescription` sets. */
  private val JobDescription = "spark.job.description"

  def materialize(df: DataFrame, staging: Option[String],
      name: String): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val caller = sc.getLocalProperty(JobDescription)
    sc.setJobDescription(s"graft:$name:barrier")
    try staging match {
      case Some(dir) =>
        val path = s"$dir/$name"
        // default ErrorIfExists: a concurrent (or repeated) invocation
        // sharing the dir errors here instead of corrupting the other
        // call's staged table
        df.write.parquet(path)
        df.sparkSession.read.schema(df.schema).parquet(path)
      case None => org.apache.spark.sql.graftbridge.Bridge.checkpointLeaf(df)
    } finally sc.setLocalProperty(JobDescription, caller)
  }
}
