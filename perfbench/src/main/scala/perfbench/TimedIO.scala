package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.io.{DocTableIO, ParquetTableIO}
import graft.io.ExtractJob.AuditRecord

/** One bucket as seen from the storage seam. `startNs` is when the job
  * finished its previous call into the seam, so the bucket wall covers
  * the re-filter, plan building, write, read-back stats and commit.
  */
final case class BucketTiming(bucket: Int, startNs: Long, writeS: Double,
    statsS: Double, commitS: Double, endNs: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Timing [[DocTableIO]] passed to `ExtractJob.run(io = ...)`: delegates
  * every call to the Parquet seam and records when each one ran. The
  * job calls it from the driver thread only.
  */
final class TimedIO(inner: DocTableIO = ParquetTableIO) extends DocTableIO {
  @transient private lazy val buckets = ArrayBuffer.empty[BucketTiming]
  @transient private var lastNs = 0L
  @transient private var cur: (Int, Long, Double, Long) = null // bucket, start, write, read-back end

  def timings: Seq[BucketTiming] = buckets.toSeq

  override def writeBucket(df: DataFrame, outDir: String, bucket: Int): Unit = {
    val t0 = System.nanoTime()
    inner.writeBucket(df, outDir, bucket)
    cur = (bucket, lastNs, (System.nanoTime() - t0) / 1e9, 0L)
  }

  override def readBucket(spark: SparkSession, outDir: String, bucket: Int): DataFrame = {
    val r = inner.readBucket(spark, outDir, bucket)
    if (cur != null) cur = cur.copy(_4 = System.nanoTime())
    r
  }

  override def commitAudit(outDir: String, rec: AuditRecord): Unit = {
    val t0 = System.nanoTime()
    inner.commitAudit(outDir, rec)
    val t1 = System.nanoTime()
    if (cur != null) {
      val (b, start, w, readEnd) = cur
      buckets += BucketTiming(b, start, w, (t0 - readEnd) / 1e9, (t1 - t0) / 1e9, t1)
    }
    cur = null
    lastNs = t1
  }

  override def committedBuckets(outDir: String, runId: String): Set[Int] = {
    val r = inner.committedBuckets(outDir, runId)
    lastNs = System.nanoTime()
    r
  }

  override def readResults(spark: SparkSession, outDir: String): DataFrame =
    inner.readResults(spark, outDir)

  override def readAudit(outDir: String, runId: String): Seq[AuditRecord] =
    inner.readAudit(outDir, runId)
}
