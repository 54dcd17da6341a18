// Times SparkEntry queries into the noop sink, one JVM per run, and
// appends one JSON line to $BARRIER_OUT. The queries are the
// comma-separated names in $BARRIER_QUERIES, by default the barrier
// queries (the ones that materialize an operator barrier). Run through
// tools/barrier_bench.py, which alternates JVMs between two builds and
// aggregates the lines, or alone:
//
//   BARRIER_SF=/path/to/sf0.1 BARRIER_OUT=/tmp/runs.jsonl BARRIER_LABEL=head \
//   spark-shell --master "local[$(nproc)]" --conf spark.ui.enabled=false \
//     --conf spark.sql.shuffle.partitions=$(nproc) --driver-memory 4g \
//     --jars target/scala-2.13/thrdocrbiospark_2.13-0.1.0.jar -I tools/barrier_bench.scala
//
// Per query: one warm-up, then BARRIER_TRIALS timed trials (query build,
// which runs the eager barriers, through one noop write), interleaved
// across queries, each also counting the Spark jobs it started and the
// classes Janino compiled for it; then one untimed pass that records the
// join operators of every action the query runs, split into the barrier
// builds and the final write.
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import scala.jdk.CollectionConverters._

spark.sparkContext.setLogLevel("ERROR")
val sf = sys.env("BARRIER_SF")
val out = sys.env("BARRIER_OUT")
val label = sys.env.getOrElse("BARRIER_LABEL", "run")
val trials = sys.env.getOrElse("BARRIER_TRIALS", "2").toInt
// (one expression per REPL line: a line may not open with `.method`)
val names: Seq[String] = sys.env.get("BARRIER_QUERIES") match {
  case Some(qs) => qs.split(",").toSeq
  case None => Seq("q25_minhash_pairs", "q34_media_decode", "q45_simhash_dedup",
    "q46_cosine_dedup", "q48_dedup_cascade", "q50_curate_full", "q51_dup_clusters",
    "q64_release", "q66_media_dedup", "q69_split_leakage", "q72_incremental_dedup",
    "q73_pack_sequences", "q74_duplicated_runs", "q76_excise_runs")
}

def steal(): (Long, Long) = {
  val f = scala.io.Source.fromFile("/proc/stat")
  try {
    val v = f.getLines().next().split("\\s+").drop(1).map(_.toLong)
    (v.sum, if (v.length > 7) v(7) else 0L)
  } finally f.close()
}

def once(q: String): Double = {
  val t0 = System.nanoTime()
  graft.SparkEntry.queries(q)(spark, sf).write.format("noop").mode("overwrite").save()
  (System.nanoTime() - t0) / 1e9
}

// jobs started, counted by a listener; `settle` runs a marker job and
// waits for its start event, after which every earlier job is counted
val settleMarker = "barrier_bench_settle"
val jobsStarted = new java.util.concurrent.atomic.AtomicLong
val settled = new java.util.concurrent.atomic.AtomicReference[java.util.concurrent.CountDownLatch]
spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
  override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
    if (Option(e.properties).exists(_.getProperty("spark.job.description") == settleMarker))
      settled.get.countDown()
    else jobsStarted.incrementAndGet()
})
def settle(): Unit = {
  val latch = new java.util.concurrent.CountDownLatch(1)
  settled.set(latch)
  spark.sparkContext.setJobDescription(settleMarker)
  try spark.sparkContext.parallelize(1 to 1, 1).count()
  finally spark.sparkContext.setJobDescription(null)
  latch.await(60, java.util.concurrent.TimeUnit.SECONDS)
}
def compiles(): Long =
  org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

// (wall, jobs, Janino compiles) of one timed run
def trial(q: String): (Double, Long, Long) = {
  settle()
  val (j0, c0) = (jobsStarted.get, compiles())
  val wall = once(q)
  settle()
  (wall, jobsStarted.get - j0, compiles() - c0)
}

names.foreach(once)
val (tot0, st0) = steal()
val runs = names.map(_ -> scala.collection.mutable.ArrayBuffer.empty[(Double, Long, Long)]).toMap
(1 to trials).foreach { _ => names.foreach(q => runs(q) += trial(q)) }
val (tot1, st1) = steal()

// join operators of a plan, through AQE stages; `intoCache` also reads
// the plan behind a cached relation (a cache barrier builds it on its
// first scan, so its joins belong to that action)
def joins(p: SparkPlan, intoCache: Boolean): Seq[String] = p match {
  case a: AdaptiveSparkPlanExec => joins(a.executedPlan, intoCache)
  case s: QueryStageExec => joins(s.plan, intoCache)
  case m: InMemoryTableScanExec =>
    if (intoCache) joins(m.relation.cachedPlan, intoCache = false) else Nil
  case j: BaseJoinExec => j.nodeName +: j.children.flatMap(joins(_, intoCache))
  case other => other.children.flatMap(joins(_, intoCache))
}
val marker = "barrier_bench_marker"
val plans = names.map { q =>
  val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, SparkPlan)]
  val drained = new java.util.concurrent.CountDownLatch(1)
  val listener = new org.apache.spark.sql.util.QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      if (qe.analyzed.output.exists(_.name == marker)) drained.countDown()
      else seen.add(f -> qe.executedPlan)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  spark.listenerManager.register(listener)
  try {
    once(q)
    spark.range(1).toDF(marker).collect()
    drained.await(60, java.util.concurrent.TimeUnit.SECONDS)
  } finally spark.listenerManager.unregister(listener)
  // the noop write is the query's last action; the ones before it built
  // the barriers
  val (build, write) = seen.asScala.toSeq.splitAt(math.max(0, seen.size - 1))
  def tally(js: Seq[String]) = js.groupBy(identity).view.mapValues(_.size).toMap
  q -> (tally(build.flatMap(a => joins(a._2, intoCache = true))),
    tally(write.flatMap(a => joins(a._2, intoCache = false))), build.map(_._1))
}.toMap

def jsObj(m: Map[String, Int]) =
  m.toSeq.sorted.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
val rows = names.map { q =>
  val (build, fin, acts) = plans(q)
  s""""$q": {"walls_s": [${runs(q).map(r => f"${r._1}%.3f").mkString(", ")}], """ +
    s""""jobs": [${runs(q).map(_._2).mkString(", ")}], """ +
    s""""compiles": [${runs(q).map(_._3).mkString(", ")}], """ +
    s""""build_joins": ${jsObj(build)}, "final_joins": ${jsObj(fin)}, """ +
    s""""build_actions": [${acts.map(a => s""""$a"""").mkString(", ")}]}"""
}
val stealFrac = if (tot1 > tot0) (st1 - st0).toDouble / (tot1 - tot0) else 0.0
val line = (s"""{"label": "$label", "sf": "$sf", "master": "${spark.sparkContext.master}", """ +
  f""""trials": $trials, "steal_frac": $stealFrac%.4f, "queries": {${rows.mkString(", ")}}}""")
java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n",
  java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
println(line)
System.exit(0)
