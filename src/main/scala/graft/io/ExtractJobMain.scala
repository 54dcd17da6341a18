package graft.io

import org.apache.spark.sql.SparkSession

import graft.corpus.Corpus

/** spark-submit entry point for the audited extraction job.
  *
  *   spark-submit --class graft.io.ExtractJobMain <jar> \
  *     <outDir> [mode=auto] [runId=run1] [nDocs=100000] [buckets=16]
  *
  * Re-running with the same outDir+runId resumes: committed buckets are
  * skipped (see ExtractJob).
  */
object ExtractJobMain {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val mode = if (args.length > 1) args(1) else "auto"
    val runId = if (args.length > 2) args(2) else "run1"
    val nDocs = if (args.length > 3) args(3).toLong else 100000L
    val buckets = if (args.length > 4) args(4).toInt else 16
    val spark = SparkSession.builder()
      .appName(s"graft-extract-$runId")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val docs = Corpus.generate(spark, nDocs, skew = true)
      val recs = ExtractJob.run(spark, docs, mode, outDir, runId, buckets)
      val all = ParquetTableIO.readAudit(outDir, runId)
      println(s"[extract-job] committed ${recs.size} buckets this run; " +
        s"${all.size}/$buckets total; docs=${all.map(_.n_docs).sum} " +
        s"ok=${all.map(_.n_ok).sum} ocr_failed=${all.map(_.n_ocr_failed).sum} " +
        s"not_found=${all.map(_.n_not_found).sum}")
    } finally spark.stop()
  }
}
