package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one job group. */
final case class SparkStats(jobs: Int, stages: Int, tasks: Int,
    shuffleBytes: Long, spillBytes: Long, inputBytes: Long,
    taskMs: Seq[Long]) {
  def taskMaxOverP50: Double =
    if (taskMs.isEmpty) 0.0
    else {
      val p50 = Measure.median(taskMs.map(_.toDouble))
      if (p50 <= 0) 0.0 else taskMs.max / p50
    }
}

/** Listener that files jobs, stages and tasks under the job group the
  * benchmark set when the job started. Jobs Spark submits under a group
  * of its own (broadcast exchanges) are filed under the group that was
  * active in the benchmark at the time.
  */
final class GroupStats(sc: SparkContext) extends SparkListener {
  @volatile var active: String = ""
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val acc = new ConcurrentHashMap[String, Acc]()

  private final class Acc {
    var jobs, jobsEnded, stages, tasks = 0
    var shuffle, spill, input = 0L
    val taskMs = ArrayBuffer.empty[Long]
  }
  private def accOf(g: String): Acc = acc.computeIfAbsent(g, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val own = Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
      .filter(g => g != null && acc.containsKey(g))
    val g = own.getOrElse(active)
    jobGroup.put(e.jobId, g)
    e.stageIds.foreach(s => stageGroup.put(s, g))
    val a = accOf(g)
    a.synchronized(a.jobs += 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.get(e.jobId)).foreach { g =>
      val a = accOf(g); a.synchronized(a.jobsEnded += 1)
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
      val a = accOf(g); a.synchronized(a.stages += 1)
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val a = accOf(g)
      val m = e.taskMetrics
      a.synchronized {
        a.tasks += 1
        a.taskMs += e.taskInfo.duration
        if (m != null) {
          a.shuffle += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.input += m.inputMetrics.bytesRead
        }
      }
    }

  /** Runs `f` under job group `g`; returns its Spark stats once the
    * listener has seen every event up to the end of `f`.
    */
  def within[T](g: String)(f: => T): (T, SparkStats) = {
    accOf(g)
    active = g
    sc.setJobGroup(g, g)
    val r = try f finally { sc.clearJobGroup(); active = "" }
    (r, drained(g))
  }

  private var markers = 0
  /** Events reach listeners in posting order, so once a marker job
    * submitted after `f` has ended, everything `f` caused was delivered.
    */
  private def drained(g: String): SparkStats = {
    markers += 1
    val m = s"perfbench-marker-$markers"
    accOf(m)
    sc.setJobGroup(m, m)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (accOf(m).synchronized(accOf(m).jobsEnded) < 1 && System.nanoTime() < deadline)
      Thread.sleep(2)
    acc.remove(m)
    val a = accOf(g)
    a.synchronized(SparkStats(a.jobs, a.stages, a.tasks, a.shuffle, a.spill,
      a.input, a.taskMs.toSeq))
  }
}

/** One traced interval: a call into a layer, made by the benchmark. */
final case class Span(runId: String, id: Int, parent: Int, name: String,
    startNs: Long, endNs: Long, attrs: Map[String, Any])

/** In-memory span recorder; written out once, when the run ends. */
final class Tracer(val runId: String) {
  private val spans = ArrayBuffer.empty[Span]

  /** Starts a span and returns its id; children name it as parent. */
  def open(name: String, parent: Int = 0): Int = synchronized {
    spans += Span(runId, spans.size + 1, parent, name, System.nanoTime(), 0L, Map.empty)
    spans.size
  }

  /** Ends span `id`. */
  def close(id: Int, attrs: Map[String, Any] = Map.empty): Unit = synchronized {
    val s = spans(id - 1)
    spans(id - 1) = s.copy(endNs = System.nanoTime(), attrs = s.attrs ++ attrs)
  }

  /** Records a span whose bounds were measured elsewhere. */
  def record(name: String, parent: Int, startNs: Long, endNs: Long,
      attrs: Map[String, Any] = Map.empty): Int = synchronized {
    spans += Span(runId, spans.size + 1, parent, name, startNs, endNs, attrs)
    spans.size
  }

  /** Times `f` as a span; `attrs` may describe the result. */
  def span[T](name: String, parent: Int = 0)(f: => T)(
      attrs: T => Map[String, Any] = (_: T) => Map.empty[String, Any]): T = {
    val id = open(name, parent)
    val r = f
    close(id, attrs(r))
    r
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val lines = synchronized(spans.toSeq).map { s =>
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("run", s.runId); m.put("id", s.id); m.put("parent", s.parent)
      m.put("name", s.name); m.put("start_ns", s.startNs); m.put("end_ns", s.endNs)
      s.attrs.foreach { case (k, v) => m.put(k, v) }
      mapper.writeValueAsString(m)
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Trace {
  def statsAttrs(s: SparkStats): Map[String, Any] = Map(
    "spark.jobs" -> s.jobs, "spark.stages" -> s.stages, "spark.tasks" -> s.tasks,
    "spark.shuffle_bytes" -> s.shuffleBytes, "spark.spill_bytes" -> s.spillBytes,
    "spark.input_bytes" -> s.inputBytes, "spark.task_max_over_p50" -> s.taskMaxOverP50)
}
