package perfbench

import java.util.concurrent.atomic.LongAdder

import graft.media.{OcrEngine, OcrEnginePool, SimulatedOcr}
import graft.schema.OcrBox

/** Counters at the OCR boundary. Executors share the driver JVM at
  * `local[n]`, so one set of JVM-wide adders sees every task.
  */
object OcrCounters {
  val Levels: Seq[String] = Seq("light", "premium", "optimum")
  private val pages = Levels.map(_ -> new LongAdder).toMap
  private val pageNanos = new LongAdder

  def add(level: String): Unit = pages(level).increment()
  def addNanos(n: Long): Unit = pageNanos.add(n)

  /** Pages per level and seconds inside `ocrPage` since the last reset. */
  def snapshot(): (Map[String, Long], Double) =
    (pages.map { case (l, a) => l -> a.sum() }, pageNanos.sum() / 1e9)

  def reset(): Unit = { pages.values.foreach(_.reset()); pageNanos.reset() }
}

/** Wrapper engine installed through [[OcrEnginePool.install]]. It
  * delegates to [[SimulatedOcr]], counts pages per level and, in traced
  * runs, times each call.
  */
final class BoundaryOcr(timePages: Boolean) extends OcrEngine {
  override def ocrPage(level: String, mediaRef: String): (String, Seq[OcrBox]) = {
    OcrCounters.add(level)
    val t0 = if (timePages) System.nanoTime() else 0L
    val r = SimulatedOcr.ocrPage(level, mediaRef)
    if (timePages) OcrCounters.addNanos(System.nanoTime() - t0)
    r
  }
}

object BoundaryOcr {
  /** Installs a wrapper for the duration of `f`, then restores the
    * default engine.
    */
  def using[T](timePages: Boolean)(f: => T): T = {
    OcrEnginePool.install(() => new BoundaryOcr(timePages))
    try f finally OcrEnginePool.install(() => SimulatedOcr)
  }

  /** Runs `f` with the product's own default engine. */
  def plain[T](f: => T): T = {
    OcrEnginePool.install(() => SimulatedOcr)
    f
  }
}
