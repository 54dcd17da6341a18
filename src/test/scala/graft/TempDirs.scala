package graft

import java.io.{IOException, UncheckedIOException}
import java.nio.file.{Files, Path}

import scala.collection.mutable.ListBuffer
import scala.jdk.CollectionConverters._

import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temp dirs the suites write into, each deleted recursively once its
  * owner is done: a suite's dirs after the suite (mix in [[TempDirs]]),
  * the shared session's warehouse when the test JVM exits.
  */
object TempDirs {
  /** Best-effort recursive delete, children first: a cleanup failure
    * must not fail the suite whose tests already passed.
    */
  def delete(dir: Path): Unit =
    try {
      val paths = Files.walk(dir)
      try paths.iterator().asScala.toSeq.reverse.foreach { p =>
        try Files.deleteIfExists(p) catch { case _: IOException => }
      } finally paths.close()
    } catch { case _: IOException | _: UncheckedIOException => }

  /** A dir that lives as long as the test JVM. */
  def forJvm(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    sys.addShutdownHook(delete(dir))
    dir.toString
  }
}

trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val dirs = ListBuffer.empty[Path]

  /** A fresh dir named `prefix*`, deleted after this suite. */
  def tempDir(prefix: String): String = dirs.synchronized {
    val dir = Files.createTempDirectory(prefix)
    dirs += dir
    dir.toString
  }

  override protected def afterAll(): Unit =
    try dirs.synchronized(dirs.foreach(TempDirs.delete)) finally super.afterAll()
}
