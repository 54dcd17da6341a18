package graft.io

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.schema.DocRow

/** Checkpointed, resumable extraction job (SURVEY.md §7.6; north_rule:
  * "checkpoints per-partition progress with lineage + extraction
  * metrics to an audit table for exact resume").
  *
  * The work unit is a doc_id hash bucket (`pmod(xxhash64(doc_id), B)`).
  * Per bucket the job writes results and then commits one audit record;
  * both go through the [[DocTableIO]] seam ([[ParquetTableIO]] here,
  * an Iceberg implementation of the trait on a real cluster — the
  * commit protocol is identical). Resume = re-run with the same run_id: committed
  * buckets are skipped exactly; a half-written bucket without its audit
  * record is rewritten (overwrite), so results are exactly-once per
  * doc_id.
  *
  * Extraction takes the skew-aware path: oversized multi-page docs
  * (more than `Pipeline.SkewMediaSpans` media spans) are page-exploded
  * across the cluster and reassembled with one bounded shuffle, so a single
  * 200-page doc cannot pin a whole bucket's wall time to one task
  * (GoldenSpec proves the path span-identical to the map-only one).
  *
  * At 100 TB the per-bucket filter is a partition-pruned scan (bucket =
  * Iceberg partition); here it's a recomputed filter over the synthetic
  * corpus, same semantics.
  */
object ExtractJob {

  final case class AuditRecord(
      run_id: String, bucket: Int, n_docs: Long, n_ok: Long,
      n_ocr_failed: Long, n_not_found: Long, wall_ms: Long,
      committed_at_ms: Long)

  /** Run (or resume) an extraction over `docs`. Returns the audit
    * records committed by THIS invocation. Committed buckets and the
    * audit trail are read through the seam (`io.committedBuckets`,
    * `io.readAudit`).
    */
  def run(spark: SparkSession, docs: Dataset[DocRow], mode: String,
      outDir: String, runId: String, buckets: Int = 16,
      io: DocTableIO = ParquetTableIO): Seq[AuditRecord] = {
    val done = io.committedBuckets(outDir, runId)
    val pending = (0 until buckets).filterNot(done)
    val out = Seq.newBuilder[AuditRecord]
    pending.foreach { k =>
      val t0 = System.nanoTime()
      val subset = docs.filter(pmod(xxhash64(col("doc_id")), lit(buckets)) === k)
      val spansDf = Pipeline.extractSkewAware(subset, mode)
      io.writeBucket(spansDf, outDir, k)
      // metrics from the just-written bucket (no recompute)
      val written = io.readBucket(spark, outDir, k)
      val stats = written.select(
        count(lit(1)).as("n_docs"),
        sum(when(exists(col("spans"), s => s("kind") === lit("value")), 1L)
          .otherwise(0L)).as("n_ok"),
        sum(when(exists(col("spans"),
          s => s("kind") === lit("error") && s("text") === lit("OCR_FAILED")), 1L)
          .otherwise(0L)).as("n_ocr_failed"),
        sum(when(exists(col("spans"),
          s => s("kind") === lit("error") && s("text") === lit("TSH_NOT_FOUND")), 1L)
          .otherwise(0L)).as("n_not_found")).head()
      val rec = AuditRecord(runId, k, stats.getLong(0),
        if (stats.isNullAt(1)) 0L else stats.getLong(1),
        if (stats.isNullAt(2)) 0L else stats.getLong(2),
        if (stats.isNullAt(3)) 0L else stats.getLong(3),
        (System.nanoTime() - t0) / 1000000, System.currentTimeMillis())
      io.commitAudit(outDir, rec)
      out += rec
    }
    out.result()
  }

  /** Read the combined results of a (completed or partial) run. */
  def readResults(spark: SparkSession, outDir: String,
      io: DocTableIO = ParquetTableIO) =
    io.readResults(spark, outDir)
}
