package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Shared bench measurement helpers. The whole methodology here hinges
  * on steal-stamped walls (BENCH.md), so there is exactly ONE
  * /proc/stat parser — every artifact's steal column is comparable by
  * construction.
  */
private[graft] object BenchUtil {

  /** The local-mode session the bench and dump mains start with: UI
    * off, WARN logging, `partitions` shuffle partitions, plus any extra
    * `conf` pairs (app name, session time zone, ...).
    */
  def localSession(master: String, partitions: Int,
      conf: (String, String)*): SparkSession = {
    val b = SparkSession.builder().master(master)
      .config("spark.sql.shuffle.partitions", partitions.toLong)
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
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

  /** Steal-stamped wall: (result, seconds, stealPct over the window) —
    * THE timing convention every bench artifact shares (one
    * implementation, so the steal columns stay comparable; the former
    * per-bench copies drifted a real risk, not a hypothetical).
    */
  def timed[T](f: => T): (T, Double, Double) = {
    val (s0, t0) = cpuTicks()
    val w0 = System.nanoTime()
    val r = f
    val sec = (System.nanoTime() - w0) / 1e9
    val (s1, t1) = cpuTicks()
    (r, sec, if (t1 > t0) 100.0 * (s1 - s0) / (t1 - t0) else 0.0)
  }

  /** One token of the infinite pseudo-word stream the volume benches
    * share (extracted from CurateVolumeBench): every 5th position is
    * an English marker (lang-ID and stopword gates pass); the rest
    * draw from a 100k-word vocab — big enough that disjoint windows
    * share no shingles by chance. Pure function of the position, so
    * corpora built on it are byte-identical across runs/partitionings.
    */
  def streamWord(t: Column): Column = {
    val markers = array(Seq("the", "and", "of", "is", "was").map(lit): _*)
    when(pmod(t, lit(5)) === 0,
      element_at(markers, (pmod(xxhash64(lit(1), t), lit(5)) + 1).cast("int")))
      .otherwise(concat(lit("w"), pmod(xxhash64(lit(2), t), lit(100000))))
  }

  /** `n` stream tokens starting at offset `base` (map-side, no UDF). */
  def windowText(base: Column, n: Int = 50): Column =
    concat_ws(" ", transform(sequence(lit(0), lit(n - 1)),
      k => streamWord(base + k)))
}
