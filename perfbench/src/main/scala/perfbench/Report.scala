package perfbench

import scala.collection.mutable

/** What one run found: metrics by name, the checks it made and every
  * call that threw. Nothing that fails is dropped; it lands in
  * `failed` or `mismatchDocs`, and `problems` says what it was.
  */
final class Report(launchedMs: Long) {
  var attempted = 0
  var failed = 0
  var mismatchDocs = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val meta = mutable.LinkedHashMap.empty[String, Any]

  /** Counts `f` as one attempted call; a throw counts as failed. */
  def attempt[T](what: String)(f: => T): Option[T] = {
    attempted += 1
    log(s"$what ...")
    try { val r = f; log(s"$what done"); Some(r) }
    catch {
      case e: Throwable =>
        failed += 1
        problems += s"$what threw: $e"
        log(s"$what threw")
        e.printStackTrace()
        None
    }
  }

  /** A correctness condition; `false` is recorded as a problem. */
  def check(ok: Boolean, what: => String): Unit = if (!ok) problems += what

  def mismatch(docs: Long, what: => String): Unit =
    if (docs != 0) { mismatchDocs += math.abs(docs); problems += s"$what: $docs docs differ" }

  /** Set-up ends when the last warm pass returns: JVM start, session
    * start and the untimed warm passes.
    */
  def setupDone(): Unit =
    e2e("setup_s") = ((System.currentTimeMillis() - launchedMs) / 1e3, "s")

  /** End-to-end metrics of a workload whose passes make `n` docs each:
    * `wallS` is the pass wall the workload brought to the reference host
    * speed; CPU is the raw median (process CPU time does not count stolen
    * time). Raw walls, steal shares and probe readings go to the metadata.
    */
  def passMetrics(n: Int, passes: Seq[Measure.Timing], wallS: Double, heapMb: Double): Unit = {
    e2e("docs_per_s") = (n / wallS, "docs/s")
    e2e("cpu_s_per_kdoc") = (Measure.median(passes.map(_.cpuS)) * 1000 / n, "s/kdoc")
    e2e("heap_peak_mb") = (heapMb, "MB")
    meta("docs_per_s_raw") = n / Measure.median(passes.map(_.wallS))
    meta("pass_walls_s") = passes.map(_.wallS)
    meta("pass_cpu_s") = passes.map(_.cpuS)
    meta("pass_steal") = passes.map(_.stealFrac)
    if (passes.exists(_.probesS.nonEmpty)) meta("probes_s") = passes.flatMap(_.probesS)
  }

  /** Progress line on stderr (the run's log), seconds since launch. */
  def log(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - launchedMs) / 1e3}%8.2f s  $what")

  def correct: Boolean = failed == 0 && mismatchDocs == 0 && problems.isEmpty
}

/** Per-layer metric names, units and what they default to where a
  * workload does not run the layer (the layer did no work).
  */
object Layers {
  val All: Seq[(String, String)] = Seq(
    "corpus.scan_s" -> "s", "corpus.docs_generated" -> "count",
    "media.ocr_s" -> "s", "media.page_s" -> "s",
    "media.pages_light" -> "count", "media.pages_premium" -> "count",
    "media.pages_optimum" -> "count", "media.useful_ratio" -> "ratio",
    "media.ocr_calls_per_doc" -> "calls/doc",
    "extract.gather_s" -> "s", "extract.cascade_s" -> "s",
    "extract.assemble_s" -> "s", "extract.explode_s" -> "s",
    "extract.auto_over_light" -> "ratio",
    "extract.resolved_light" -> "count", "extract.resolved_premium" -> "count",
    "extract.resolved_optimum" -> "count", "extract.resolved_failed" -> "count",
    "io.bucket_p50_s" -> "s", "io.bucket_max_s" -> "s", "io.write_s" -> "s",
    "io.stats_s" -> "s", "io.commit_s" -> "s", "io.scan_amplification" -> "ratio",
    "io.resume_s" -> "s", "io.resume_buckets" -> "count",
    "io.written_bytes_per_doc" -> "B/doc",
    "analysis.curate_s" -> "s", "analysis.release_s" -> "s",
    "analysis.incremental_s" -> "s", "analysis.staged_bytes" -> "B",
    "analysis.kept" -> "count", "analysis.near_pairs" -> "count",
    "analysis.contaminated" -> "count", "analysis.hot_buckets" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_bytes" -> "B", "spark.spill_bytes" -> "B",
    "spark.input_bytes" -> "B", "spark.task_max_over_p50" -> "ratio",
    "spark.gc_s" -> "s",
    "trace.overhead_frac" -> "ratio")

  private val unit = All.toMap

  def put(r: Report, name: String, v: Double): Unit = {
    require(unit.contains(name), s"unknown layer metric $name")
    r.layers(name) = (v, unit(name))
  }

  def putSpark(r: Report, s: SparkStats, gcS: Double): Unit = {
    put(r, "spark.jobs", s.jobs); put(r, "spark.stages", s.stages)
    put(r, "spark.tasks", s.tasks); put(r, "spark.shuffle_bytes", s.shuffleBytes.toDouble)
    put(r, "spark.spill_bytes", s.spillBytes.toDouble)
    put(r, "spark.input_bytes", s.inputBytes.toDouble)
    put(r, "spark.task_max_over_p50", s.taskMaxOverP50); put(r, "spark.gc_s", gcS)
  }

  /** Fills every layer metric the workload did not set with 0. */
  def complete(r: Report): Unit =
    All.foreach { case (n, u) => if (!r.layers.contains(n)) r.layers(n) = (0.0, u) }

  def ordered(r: Report): Seq[(String, (Double, String))] = All.map { case (n, _) => n -> r.layers(n) }
}
