package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Host and process probes shared by every workload: wall, process CPU,
  * GC time, retained heap and the /proc/stat steal share.
  */
object Measure {

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum / 1e3

  /** Seconds the JIT has spent compiling, all compiler threads together. */
  def jitSeconds(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Heap in use right after a full collection, in MB. Collects twice:
    * Spark's ContextCleaner frees shuffle and broadcast state only after
    * a collection has cleared their weak references, on its own thread.
    */
  def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024)
  }

  def heapMaxMb: Double = Runtime.getRuntime.maxMemory / (1024.0 * 1024)

  /** (steal ticks, total ticks) of the aggregate /proc/stat cpu line;
    * zeros where the file does not exist.
    */
  def cpuTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.sum)
      } finally src.close()
    } catch { case _: Exception => (0L, 0L) }

  /** Steal share of all host CPU ticks between two [[cpuTicks]] readings. */
  def stealFrac(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0

  /** One timed pass: wall and process CPU seconds around `f`, and the
    * share of host CPU time the hypervisor stole meanwhile.
    */
  final case class Pass[T](result: T, wallS: Double, cpuS: Double, stealFrac: Double)

  def timed[T](f: => T): Pass[T] = {
    val c0 = cpuSeconds()
    val s0 = cpuTicks()
    val w0 = System.nanoTime()
    val r = f
    val wall = (System.nanoTime() - w0) / 1e9
    Pass(r, wall, cpuSeconds() - c0, stealFrac(s0, cpuTicks()))
  }

  /** A timed pass as the end-to-end metrics use it: raw wall and process
    * CPU, the steal share meanwhile, and the Spark probe readings taken
    * right after the pass (none where the workload does not probe).
    */
  final case class Timing(wallS: Double, cpuS: Double, stealFrac: Double, probesS: Seq[Double] = Nil) {
    /** The wall less the share of host CPU time stolen meanwhile. */
    def ownWallS: Double = wallS * (1 - stealFrac)
  }

  /** Median [[sparkProbe]] wall on a quiet 4-vCPU Xeon host (steal under
    * 1%) between passes: the host speed probe-scaled walls are expressed at.
    */
  val RefSparkProbeS = 0.5

  /** Wall seconds of four small Spark jobs with one shuffle each, no
    * product code. A workload made of many short jobs waits on task
    * hand-offs between threads; on a shared host a stolen vCPU delays every
    * hand-off, so such a workload slows far more than the steal share (with
    * 25-30% steal, ~35-job release passes ran 1.9x slower). The probe has
    * the same hand-offs.
    */
  def sparkProbe(spark: org.apache.spark.sql.SparkSession): Double = {
    import org.apache.spark.sql.functions.col
    val t0 = System.nanoTime()
    (0 until 4).foreach { k =>
      spark.range(0, 20000, 1, 4).groupBy((col("id") % (97 + k)).as("g")).count()
        .write.format("noop").mode("overwrite").save()
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** The probe readings before a run's first timed pass: the last two of
    * three, once the probe's plans are compiled.
    */
  def firstProbes(spark: org.apache.spark.sql.SparkSession): Seq[Double] =
    Seq.fill(3)(sparkProbe(spark)).drop(1)

  /** Median pass wall of a run at the reference host speed: times
    * RefSparkProbeS over the run's median probe reading (`first` are the
    * readings taken before the first pass). Probe readings vary by ~10%
    * from one to the next, so the run's median is used, not each pass's
    * neighbours.
    */
  def probeScaledWallS(first: Seq[Double], passes: Seq[Timing]): Double =
    median(passes.map(_.wallS)) * RefSparkProbeS / median(first ++ passes.flatMap(_.probesS))

  /** Closed loop: the next pass starts when the previous one returns.
    * Runs at least `minPasses`, then stops once `seconds` have elapsed.
    */
  def closedLoop[T](seconds: Double, minPasses: Int)(pass: Int => T): Seq[T] = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    val out = Seq.newBuilder[T]
    var i = 0
    while (i < minPasses || System.nanoTime() < end) {
      out += pass(i)
      i += 1
    }
    out.result()
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Bytes of every regular file under `dir` (0 if it does not exist). */
  def treeBytes(dir: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(dir)) 0L
    else {
      val s = java.nio.file.Files.walk(dir)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size(_)).sum
      finally s.close()
    }

  def deleteTree(dir: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(dir)) {
      val s = java.nio.file.Files.walk(dir)
      try s.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
      finally s.close()
    }
}
