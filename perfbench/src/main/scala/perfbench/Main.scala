package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the run. */
final case class Ctx(spark: SparkSession, workload: String, seed: Long,
    seconds: Double, trace: Boolean, workDir: Path, goldenPath: String,
    nproc: Int, stats: GroupStats, tracer: Tracer, scale: Double = 1.0,
    minPasses: Int) {
  def partitions: Int = nproc * 4
  /** A workload's input size; smaller only in the class-data training run. */
  def size(n: Int, min: Int): Int = math.max(min, (n * scale).toInt)
}

/** One benchmark run in one JVM, started by `perfbench/run.py`:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --launched-ms T --work-dir D --trace-out F --golden G
  *
  * Prints one JSON line: correct, attempted, failed, metrics
  * (end-to-end, or per-layer when traced), problems and run metadata.
  * `--workload train` instead runs the flagship once at a small size and
  * prints nothing; run.py uses it to record a class-data archive.
  */
object Main {

  val Workloads: Seq[String] =
    Seq("extract_cpu", "curate_release")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    require(workload == "train" || Workloads.contains(workload), s"unknown workload $workload")
    val launchedMs = args("launched-ms").toLong
    val trace = args("trace") == "1"
    val workDir = Paths.get(args("work-dir")).toAbsolutePath
    Files.createDirectories(workDir)
    val nproc = Runtime.getRuntime.availableProcessors
    val report = new Report(launchedMs)
    report.log("JVM up")

    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    report.log(s"session up: local[$nproc]")
    val stats = new GroupStats(spark.sparkContext)
    spark.sparkContext.addSparkListener(stats)
    val tracer = new Tracer(s"$workload-seed${args("seed")}-${launchedMs}")
    // a traced run needs only one untraced pass per workload
    val ctx = Ctx(spark, workload, args("seed").toLong, args("seconds").toDouble,
      trace, workDir, args("golden"), nproc, stats, tracer,
      minPasses = if (trace) 1 else 5)

    if (workload == "train") {
      runWorkload(ctx.copy(workload = "extract_cpu", seconds = 0, scale = 0.05, minPasses = 1),
        new Report(launchedMs))
      spark.stop()
      return
    }
    val steal0 = Measure.cpuTicks()
    runWorkload(ctx, report)
    if (trace) tracer.writeJsonl(Paths.get(args("trace-out")).toAbsolutePath)
    report.meta("nproc") = nproc
    report.meta("heap_max_mb") = Measure.heapMaxMb
    report.meta("steal_frac") = Measure.stealFrac(steal0, Measure.cpuTicks())
    report.meta("spark_version") = spark.version
    report.meta("java_version") = System.getProperty("java.version")
    report.meta("mismatch_docs") = report.mismatchDocs
    report.meta("failed_frac") =
      if (report.attempted == 0) 1.0 else report.failed.toDouble / report.attempted
    spark.stop()
    println(render(report, trace))
  }

  private def runWorkload(ctx: Ctx, report: Report): Unit =
    try {
      ctx.workload match {
        case "extract_cpu" => ExtractWorkload.run(ctx, report)
        case "curate_release" => CurateWorkload.run(ctx, report)
      }
    } catch {
      case e: Throwable =>
        report.failed += 1
        report.attempted += 1
        report.problems += s"workload threw: $e"
        e.printStackTrace()
    }

  private def render(r: Report, trace: Boolean): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("correct", r.correct)
    out.put("attempted", math.max(r.attempted, 1))
    out.put("failed", if (r.attempted == 0) 1 else r.failed)
    val metrics = new java.util.LinkedHashMap[String, Any]()
    val chosen = if (trace) { Layers.complete(r); Layers.ordered(r) } else r.e2e.toSeq
    chosen.foreach { case (k, (v, u)) =>
      metrics.put(k, Map("value" -> v, "unit" -> u).asJava)
    }
    out.put("metrics", metrics)
    out.put("problems", r.problems.asJava)
    out.put("meta", r.meta.map { case (k, v) => k -> (v match {
      case s: Seq[_] => s.asJava
      case x => x
    }) }.asJava)
    mapper.writeValueAsString(out)
  }
}
