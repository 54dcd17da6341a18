package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.{RDDBlockId, StorageLevel}

/** Column <-> catalyst Expression bridge. Spark 4 made Column wrap a
  * ColumnNode and gated the conversion helpers private[sql]; custom
  * native Expressions (preference (b) in SURVEY.md §7.5) still need the
  * two conversions, so this exposes those, the expected-input-type
  * alias, and the one plan rewrite the barrier needs (a checkpoint leaf
  * with measured statistics, read only by `graft.analysis.Staging`, and
  * the block-size measure it reads).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A local checkpoint of `df` (eager, one job, lineage cut) whose
    * leaf carries the checkpoint's MEASURED bytes as statistics. Spark's
    * leaf keeps the optimizer's estimate for the plan it replaced, and
    * join estimates multiply: a 1 MB minhash base read as 77 MB, so the
    * self-join over it planned a sort-merge join, shuffling both sides,
    * where a broadcast fits. The blocks are stored serialized, so the
    * measure is the rows' serialized bytes in memory and on disk alike,
    * comparable to the broadcast threshold; deserialized blocks would be
    * sized by a JVM object-graph estimate, which counts object headers
    * too (q46's embedding base: 10.05 MB against 9.43 MB serialized, on
    * either side of the 10 MB default). If the measure is incomplete
    * (see [[blockBytes]]), the leaf keeps Spark's estimate: an undercount
    * would broadcast a large barrier.
    */
  def checkpointLeaf(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(eager = true, StorageLevel.MEMORY_AND_DISK_SER)
      .asInstanceOf[Dataset[_]]
    val r = cp.logicalPlan.asInstanceOf[LogicalRDD]
    blockBytes(r.rdd) match {
      case None => cp.toDF()
      case Some(bytes) =>
        val spark = cp.sparkSession
        Dataset.ofRows(spark, LogicalRDD(r.output, r.rdd, r.outputPartitioning,
          r.outputOrdering, r.isStreaming)(spark,
          Some(Statistics(sizeInBytes = BigInt(bytes))), Some(r.constraints)))
    }
  }

  /** Memory plus disk bytes of `rdd`'s stored blocks, as the block
    * manager master holds them, or None unless every partition has a
    * block there. Every block put reports to the master before its task
    * ends, so after the job that stored the blocks the count is
    * complete; the app status store behind `getRDDStorageInfo` is fed
    * asynchronously and rate-limited, and can lag or miss blocks.
    */
  def blockBytes(rdd: RDD[_]): Option[Long] = {
    val perPartition = SparkEnv.get.blockManager.master.getStorageStatus.iterator
      .flatMap(_.rddBlocks).collect {
        case (RDDBlockId(id, p), s) if id == rdd.id => p -> (s.memSize + s.diskSize)
      }.toSeq.groupMapReduce(_._1)(_._2)(math.max)
    if (perPartition.size < rdd.getNumPartitions) None else Some(perPartition.values.sum)
  }

  /** AbstractDataType is private[sql], but ExpectsInputTypes /
    * ImplicitCastInputTypes implementations must name it in their
    * `inputTypes` signature — this public alias (legal: defined inside
    * the sql package) lets graft expressions declare expected input
    * types so Catalyst inserts implicit casts (e.g. array<float> ->
    * array<double>) instead of the eval reading mis-strided memory.
    */
  type ADT = org.apache.spark.sql.types.AbstractDataType
}
