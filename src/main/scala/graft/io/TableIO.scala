package graft.io

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.io.ExtractJob.AuditRecord

/** Storage seam for the audited extraction job (SURVEY.md §7.1): the
  * job talks to `read / append(bucket write) / snapshotCommit(audit)`
  * and never to paths or formats directly, so the Iceberg-or-Parquet
  * choice is which implementation is passed, not a code change.
  *
  * The sandbox ships no Iceberg runtime jar, so the default
  * implementation is Parquet + a JSON-manifest audit "table" whose
  * commit protocol mirrors the Iceberg semantics the job relies on:
  * atomic publish (write-temp + rename — Iceberg's snapshot swap),
  * manifest listing for resume (Iceberg's snapshot list), idempotent
  * per-bucket overwrite (Iceberg's overwrite-partition).
  *
  * Scope of the default impl (be honest about the seam): ParquetTableIO
  * is parquet-over-a-path + local-filesystem audit. Its `readResults`
  * path glob and java.nio atomic rename do NOT transfer to an Iceberg
  * table or to object storage (no atomic rename on S3); a real Iceberg
  * backend implements this trait with table identifiers, per-partition
  * overwrites and snapshot commits — the JOB code (ExtractJob) is what
  * stays identical, because it only ever talks to the trait.
  */
trait DocTableIO extends Serializable {

  /** Idempotent bucket write (overwrite -> safe to re-run a bucket
    * whose audit record never committed).
    */
  def writeBucket(df: DataFrame, outDir: String, bucket: Int): Unit

  /** Read back one bucket's just-written results (metrics source). */
  def readBucket(spark: SparkSession, outDir: String, bucket: Int): DataFrame

  /** Read the combined results of a (completed or partial) run. */
  def readResults(spark: SparkSession, outDir: String): DataFrame

  /** Atomically publish one bucket's audit record; a record is either
    * fully visible or absent (the resume contract).
    */
  def commitAudit(outDir: String, rec: AuditRecord): Unit

  /** Committed bucket ids for a run (the resume set). */
  def committedBuckets(outDir: String, runId: String): Set[Int]

  def readAudit(outDir: String, runId: String): Seq[AuditRecord]
}

/** Parquet-over-a-path implementation, one directory per bucket. The
  * audit manifest is written and read with the Jackson shipped in
  * Spark — real JSON both ways, so an AuditRecord field containing quotes/backslashes/newlines round-trips
  * (a ResumeSpec property test pins this).
  */
object ParquetTableIO extends DocTableIO {

  @transient private lazy val mapper =
    new com.fasterxml.jackson.databind.ObjectMapper()

  override def writeBucket(df: DataFrame, outDir: String, bucket: Int): Unit =
    df.write.mode("overwrite").parquet(s"$outDir/bucket=$bucket")

  override def readBucket(spark: SparkSession, outDir: String,
      bucket: Int): DataFrame =
    spark.read.parquet(s"$outDir/bucket=$bucket")

  override def readResults(spark: SparkSession, outDir: String): DataFrame =
    spark.read.option("basePath", outDir).parquet(s"$outDir/bucket=*")

  private def auditDir(outDir: String, runId: String): Path =
    Paths.get(outDir, "_audit", runId)

  override def commitAudit(outDir: String, rec: AuditRecord): Unit = {
    val dir = auditDir(outDir, rec.run_id)
    Files.createDirectories(dir)
    val node = mapper.createObjectNode()
    node.put("run_id", rec.run_id)
    node.put("bucket", rec.bucket)
    node.put("n_docs", rec.n_docs)
    node.put("n_ok", rec.n_ok)
    node.put("n_ocr_failed", rec.n_ocr_failed)
    node.put("n_not_found", rec.n_not_found)
    node.put("wall_ms", rec.wall_ms)
    node.put("committed_at_ms", rec.committed_at_ms)
    val json = mapper.writeValueAsString(node)
    val tmp = dir.resolve(s".bucket-${rec.bucket}.json.tmp")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    // atomic publish: the record only becomes visible fully written
    Files.move(tmp, dir.resolve(s"bucket-${rec.bucket}.json"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  override def committedBuckets(outDir: String, runId: String): Set[Int] = {
    val dir = auditDir(outDir, runId)
    if (!Files.isDirectory(dir)) Set.empty
    else Files.list(dir).iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("bucket-") && s.endsWith(".json") =>
        s.stripPrefix("bucket-").stripSuffix(".json").toInt
      }.toSet
  }

  override def readAudit(outDir: String, runId: String): Seq[AuditRecord] = {
    val dir = auditDir(outDir, runId)
    if (!Files.isDirectory(dir)) return Seq.empty
    Files.list(dir).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".json"))
      .map { p =>
        val n = mapper.readTree(Files.readString(p))
        AuditRecord(n.get("run_id").asText(), n.get("bucket").asInt(),
          n.get("n_docs").asLong(), n.get("n_ok").asLong(),
          n.get("n_ocr_failed").asLong(), n.get("n_not_found").asLong(),
          n.get("wall_ms").asLong(), n.get("committed_at_ms").asLong())
      }.sortBy(_.bucket)
  }
}
