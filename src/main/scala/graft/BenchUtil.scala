package graft

import org.apache.spark.sql.SparkSession

/** The session bootstrap the bench and dump mains share, and the ONE
  * /proc/stat parser `graft.Bench` stamps its steal share with.
  */
private[graft] object BenchUtil {

  /** The local-mode session the bench and dump mains start with:
    * `local[cpus]` with `cpus` shuffle partitions (never more threads
    * than the host has, by default), UI off, WARN logging.
    */
  def localSession(appName: String,
      cpus: Int = Runtime.getRuntime.availableProcessors): SparkSession = {
    val spark = SparkSession.builder().master(s"local[$cpus]").appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** (stealTicks, totalTicks) from the aggregate /proc/stat cpu line. */
  def cpuTicks(): (Long, Long) = {
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.sum)
      } finally src.close()
    } catch { case _: Exception => (0L, 0L) }
  }
}
