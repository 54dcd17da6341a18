// Compile and job census of a staged TextOps.release, pass after pass in
// one JVM, over perfbench's curate_release corpus. Appends one JSON line
// per pass to $CENSUS_OUT:
//
//   CENSUS_OUT=/tmp/census.jsonl CENSUS_LABEL=head CENSUS_SHAPE=plain4 \
//   spark-shell --master "local[$(nproc)]" --conf spark.ui.enabled=false \
//     --conf spark.sql.shuffle.partitions=$(nproc) --driver-memory 2g \
//     --jars target/scala-2.13/thrdocrbiospark_2.13-0.1.0.jar,perfbench/target/scala-2.13/perfbench_2.13-0.1.0-SNAPSHOT.jar \
//     -I tools/release_census.scala
//
// (the perfbench jar exists after one `python3 perfbench/run.py` run).
// Per pass: the Spark jobs started, the Janino compiles
// (CodegenMetrics.METRIC_COMPILATION_TIME), and, from CodeGenerator's
// DEBUG log, each compile's job description (a barrier job runs under
// `graft:<name>:barrier`, a drain under `drain:<frame>`), generated class
// kind and loader side: the driver compiles every whole-stage class to
// check it, and each executor task thread compiles it again under its
// own class loader, a second cache key. CENSUS_SHAPE:
//  - plain4: drain the four frames perfbench drains into the noop sink;
//  - all5: drain all five frames, over the corpus written to parquet
//    first (no generated-text scan);
//  - perfbench: plain4 through Observation drains, then three
//    perfbench-style Spark probes, as a timed perfbench pass runs.
// CENSUS_PASSES (default 4), CENSUS_DOCS (default 1000).
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.TaskContext
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import scala.jdk.CollectionConverters._

spark.sparkContext.setLogLevel("ERROR")
val sc = spark.sparkContext
val label = sys.env.getOrElse("CENSUS_LABEL", "run")
val shape = sys.env.getOrElse("CENSUS_SHAPE", "plain4")
val passes = sys.env.getOrElse("CENSUS_PASSES", "4").toInt
val nDocs = sys.env.getOrElse("CENSUS_DOCS", "1000").toLong
val out = sys.env("CENSUS_OUT")

// one compile: job description, executor side or driver, class kind, source hash
final case class Compile(desc: String, exec: Boolean, kind: String, hash: Int)
val compiled = new java.util.concurrent.ConcurrentLinkedQueue[Compile]
class CompileLog extends AbstractAppender("release_census", null, null, true, Property.EMPTY_ARRAY) {
  override def append(e: LogEvent): Unit = {
    val m = e.getMessage.getFormattedMessage
    if (m.contains("generate(Object[] references)")) {
      val tc = TaskContext.get()
      val desc = Option(if (tc != null) tc.getLocalProperty("spark.job.description")
        else sc.getLocalProperty("spark.job.description")).getOrElse("-")
      val kind = "new (\\w+?)\\d*\\(".r.findFirstMatchIn(m).map(_.group(1)).getOrElse("?")
      compiled.add(Compile(desc, tc != null, kind, m.hashCode))
    }
  }
}
val logCtx = LogManager.getContext(false).asInstanceOf[LoggerContext]
val appender = new CompileLog
appender.start()
logCtx.getConfiguration.addAppender(appender)
val codegenLog = new LoggerConfig("org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator",
  Level.DEBUG, false)
codegenLog.addAppender(appender, Level.DEBUG, null)
logCtx.getConfiguration.addLogger(codegenLog.getName, codegenLog)
logCtx.updateLoggers()

// job descriptions; `settle` runs a marker job and waits for its start
// event, after which every earlier job has been seen
val settleMarker = "release_census_settle"
val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
val settled = new java.util.concurrent.atomic.AtomicReference[java.util.concurrent.CountDownLatch]
sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
  override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
    val d = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("-")
    if (d == settleMarker) settled.get.countDown() else jobs.add(d)
  }
})
def settle(): Unit = {
  val latch = new java.util.concurrent.CountDownLatch(1)
  settled.set(latch)
  sc.setJobDescription(settleMarker)
  try sc.parallelize(1 to 1, 1).count() finally sc.setJobDescription(null)
  latch.await(60, java.util.concurrent.TimeUnit.SECONDS)
}

val tc = perfbench.Inputs.textCorpus(1, nDocs)
val generated = tc.docs(spark, Runtime.getRuntime.availableProcessors * 4)
val work = java.nio.file.Files.createTempDirectory("release_census")
val docs = if (shape == "all5") {
  generated.write.parquet(work.resolve("docs").toString)
  spark.read.parquet(work.resolve("docs").toString)
} else generated
val id = col("doc_id")

// in the perfbench shape each drain observes a row count plus the
// counts of rows matching `extra`, as perfbench's drains do
def drain(df: DataFrame, name: String, extra: Column*): Unit = {
  sc.setJobDescription(s"drain:$name")
  try {
    val sink = if (shape != "perfbench") df else {
      val sums = extra.zipWithIndex.map { case (c, i) => sum(when(c, 1L).otherwise(0L)).as(s"x$i") }
      df.observe(Observation(name), count(lit(1)).as(name), sums: _*)
    }
    sink.write.format("noop").mode("overwrite").save()
  } finally sc.setJobDescription(null)
}
def probe(): Unit = {
  sc.setJobDescription("probe")
  try (0 until 4).foreach { k =>
    spark.range(0, 20000, 1, 4).groupBy((col("id") % (97 + k)).as("g")).count()
      .write.format("noop").mode("overwrite").save()
  } finally sc.setJobDescription(null)
}

// (a REPL line may not open with `.method`: multi-line chains sit in braces)
def counts[T](xs: Seq[T]): String = {
  xs.groupBy(identity).toSeq.sortBy(_._1.toString)
    .map { case (k, v) => s""""$k": ${v.size}""" }.mkString("{", ", ", "}")
}
(0 until passes).foreach { p =>
  settle()
  compiled.clear()
  jobs.clear()
  val c0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  val t0 = System.nanoTime()
  val r = graft.analysis.TextOps.release(docs, id, col("text"), col("source"),
    tc.benchmark(docs), col("text"), maxPerSource = tc.maxPerSource,
    staging = Some(work.resolve(s"pass$p").toString))
  drain(r.shards, "released", id < tc.clones, id >= tc.clones && id < tc.clones + tc.chain,
    col("split") === "train")
  drain(r.contaminated, "contaminated")
  drain(r.nearPairs, "near_pairs")
  drain(r.hotBuckets, "hot_buckets")
  if (shape == "all5") drain(r.report, "report")
  val wall = (System.nanoTime() - t0) / 1e9
  if (shape == "perfbench") (0 until 3).foreach(_ => probe())
  settle()
  val n = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  val cs = compiled.asScala.toSeq
  val keysByJob = cs.groupBy(_.desc).toSeq.sortBy(_._1).map { case (d, c) =>
    s""""$d": ${c.map(x => (x.exec, x.hash)).distinct.size}""" }.mkString("{", ", ", "}")
  val line = s"""{"label": "$label", "shape": "$shape", "docs": $nDocs, "pass": $p, """ +
    f""""wall_s": $wall%.2f, "jobs": ${jobs.size}, "compiles": $n, """ +
    s""""keys": ${cs.map(c => (c.exec, c.hash)).distinct.size}, """ +
    s""""jobs_by_desc": ${counts(jobs.asScala.toSeq)}, "keys_by_job": $keysByJob, """ +
    s""""kinds": ${counts(cs.map(c => (if (c.exec) "executor:" else "driver:") + c.kind))}}"""
  println(line)
  java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n",
    java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
}
System.exit(0)
