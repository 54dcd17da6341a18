package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.corpus.Corpus
import graft.io.{DocTableIO, ExtractJob, ParquetTableIO}
import graft.io.ExtractJob.AuditRecord

/** [[ParquetTableIO]] that crashes the job right after the `n`-th call
  * of `method` ("writeBucket" or "commitAudit") has taken effect.
  */
class CrashingIO(method: String, n: Int) extends DocTableIO {
  private var calls = 0
  private def after(m: String): Unit =
    if (m == method) {
      calls += 1
      if (calls == n) throw new RuntimeException(s"injected failure after $m #$n")
    }

  override def writeBucket(df: DataFrame, outDir: String, bucket: Int): Unit = {
    ParquetTableIO.writeBucket(df, outDir, bucket)
    after("writeBucket")
  }
  override def readBucket(spark: SparkSession, outDir: String, bucket: Int): DataFrame =
    ParquetTableIO.readBucket(spark, outDir, bucket)
  override def readResults(spark: SparkSession, outDir: String): DataFrame =
    ParquetTableIO.readResults(spark, outDir)
  override def commitAudit(outDir: String, rec: AuditRecord): Unit = {
    ParquetTableIO.commitAudit(outDir, rec)
    after("commitAudit")
  }
  override def committedBuckets(outDir: String, runId: String): Set[Int] =
    ParquetTableIO.committedBuckets(outDir, runId)
  override def readAudit(outDir: String, runId: String): Seq[AuditRecord] =
    ParquetTableIO.readAudit(outDir, runId)
}

/** §7.6 checkpoint/resume: crash mid-run, re-run, assert exact same
  * results table and no duplicate audit rows.
  */
class ResumeSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  lazy val docs = Corpus.generate(spark, 300).cache()

  /** The combined results hold every doc once and equal the single-pass
    * pipeline output.
    */
  private def assertExactlyOnce(out: String): Unit = {
    val got = ExtractJob.readResults(spark, out)
    assert(got.count() == 300)
    assert(got.select("doc_id").distinct().count() == 300)
    val direct = Pipeline.extract(docs, "auto")
    assert(got.select("doc_id", "spans").except(direct).count() == 0)
    assert(direct.except(got.select("doc_id", "spans")).count() == 0)
  }

  test("kill after 3 buckets, resume completes exactly, no dup docs") {
    val out = tempDir("graft-resume")
    val crashed = intercept[RuntimeException] {
      ExtractJob.run(spark, docs, "auto", out, "r1", buckets = 8,
        io = new CrashingIO("commitAudit", 3))
    }
    assert(crashed.getMessage.contains("injected failure"))
    assert(ParquetTableIO.committedBuckets(out, "r1").size == 3)

    // resume: processes exactly the 5 remaining buckets
    val resumed = ExtractJob.run(spark, docs, "auto", out, "r1", buckets = 8)
    assert(resumed.size == 5)
    assert(ParquetTableIO.committedBuckets(out, "r1") == (0 until 8).toSet)

    // second resume is a no-op (0 already-committed partitions reprocessed)
    assert(ExtractJob.run(spark, docs, "auto", out, "r1", buckets = 8).isEmpty)

    // combined results == single-pass pipeline output, no dups
    assertExactlyOnce(out)

    // audit metrics add up
    val audit = ParquetTableIO.readAudit(out, "r1")
    assert(audit.size == 8)
    assert(audit.map(_.n_docs).sum == 300)
    assert(audit.map(_.n_ok).sum +
      audit.map(_.n_ocr_failed).sum + audit.map(_.n_not_found).sum == 300)
  }

  test("crash between a bucket's write and its audit commit: resume rewrites that bucket") {
    val out = tempDir("graft-resume-write")
    intercept[RuntimeException] {
      ExtractJob.run(spark, docs, "auto", out, "r1", buckets = 8,
        io = new CrashingIO("writeBucket", 2))
    }
    // bucket 1's results are on disk, but only bucket 0 committed
    assert(ParquetTableIO.committedBuckets(out, "r1") == Set(0))
    assert(ParquetTableIO.readBucket(spark, out, 1).count() > 0)

    val resumed = ExtractJob.run(spark, docs, "auto", out, "r1", buckets = 8)
    assert(resumed.map(_.bucket) == (1 until 8))
    assertExactlyOnce(out)
    assert(ParquetTableIO.readAudit(out, "r1").map(_.n_docs).sum == 300)
  }

  test("audit records round-trip through real JSON (hostile run_id survives)") {
    val io = ParquetTableIO
    val out = tempDir("graft-audit-rt")
    // strings a regex-based parser chokes on: quotes, backslashes,
    // newlines, braces — must round-trip byte-identically (run_id also
    // names the audit directory, so it stays within path-legal bytes)
    val hostile = Seq(
      """r"1" with \"escaped\" quotes""",
      "line\nbreak\tand\ttabs",
      """back\slash & {"json": "lookalike"}""")
    hostile.zipWithIndex.foreach { case (runId, i) =>
      val rec = ExtractJob.AuditRecord(runId, i, 10L + i, 7L, 2L, 1L,
        1234L, 1755360000000L + i)
      io.commitAudit(out, rec)
      val back = io.readAudit(out, runId)
      assert(back == Seq(rec), s"round-trip mismatch for run_id <$runId>: $back")
      assert(io.committedBuckets(out, runId) == Set(i))
    }
  }

  test("job through an explicit TableIO seam, skewed corpus, skew-aware path") {
    val io = ParquetTableIO
    // skew=true plants ~1% oversized multi-page docs, which the audited
    // job routes through the page-explode path
    val docs = Corpus.generate(spark, 400, skew = true).cache()
    SkewBranches.assertBoth(docs)
    val out = tempDir("graft-seam")
    val recs = ExtractJob.run(spark, docs, "auto", out, "r1", buckets = 4, io = io)
    assert(recs.size == 4)
    assert(io.committedBuckets(out, "r1") == (0 until 4).toSet)
    val got = ExtractJob.readResults(spark, out, io)
    assert(got.count() == 400)
    // skew-aware job output == plain map-only extract, byte-identical
    val direct = Pipeline.extract(docs, "auto")
    assert(got.select("doc_id", "spans").except(direct).count() == 0)
    assert(direct.except(got.select("doc_id", "spans")).count() == 0)
    assert(io.readAudit(out, "r1").map(_.n_docs).sum == 400)
  }
}
