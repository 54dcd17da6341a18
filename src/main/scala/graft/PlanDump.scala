package graft

import org.apache.spark.sql.execution.ExplainMode

/** Optimization-round evidence tool: writes `.explain("formatted")`
  * output for named SparkEntry queries to text files
  * (`plans/<tag>/<query>_<suffix>.txt`) so plan claims in
  * OPTIMIZATION_r*.md are checkable without running Spark.
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> [query ...]
  * (no query args = all queries). Reads SPARK_GRAFT_SF_DIR /
  * SPARK_GRAFT_CPUS like Bench; purely additive — Bench/Verify are
  * untouched.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <suffix> [query ...]")
    val outDir = args(0)
    val suffix = args(1)
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = BenchUtil.localSession(s"local[$cpus]", cpus.toInt,
      "spark.sql.session.timeZone" -> "UTC",
      // deep compositions print each cached subtree per reference —
      // untruncated, q64's formatted plan is multiple MB of repeats;
      // Spark's own truncation marker keeps the artifact reviewable
      "spark.sql.maxPlanStringLength" -> "200000")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
        plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // queries that cache (minhash bases, media assets) must not leak
      // BlockManager storage into the next query's planning
      spark.catalog.clearCache()
      println(s"wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
