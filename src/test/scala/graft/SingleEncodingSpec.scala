package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The product keeps ONE encoding per operator: the UDF-free twins of
  * the native expressions live in test scope (graft.extract.HofTwins)
  * as oracles. This scan keeps a second encoding, or a per-call switch
  * between two, from creeping back into src/main.
  */
class SingleEncodingSpec extends AnyFunSuite {

  /** Names defined in HofTwins (or deleted outright) that src/main must
    * not define again, plus any `*Hof` definition.
    */
  private val Moved = Seq("labelledCandidates", "tshLabelledCandidates",
    "fallbackCandidates", "gatherCandidates", "labelPenalty", "shingles",
    "shingleHashes", "minhashSignature", "minhashSignature0", "lshBandKeys",
    "lshBucket", "planeComponent", "projections", "projMatrix",
    "centroidDots", "dot", "norm", "\\w+Hof")

  private val Forbidden = Seq(
    """fused\s*:\s*Boolean""".r,
    ("""\bdef\s+(?:""" + Moved.mkString("|") + """)\b""").r)

  test("src/main holds no fused switch and no test-scope twin") {
    val sources = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.size > 20, s"scan found only ${sources.size} sources")
    val hits = for {
      f <- sources
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if Forbidden.exists(_.findFirstIn(line).isDefined)
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("src/main/scala/graft/extract defines one gather expression") {
    val unary = """\bextends\s+UnaryExpression\b""".r
    val defs = Files.walk(Paths.get("src/main/scala/graft/extract")).iterator()
      .asScala.filter(_.toString.endsWith(".scala")).toSeq
      .flatMap(f => unary.findAllIn(new String(Files.readAllBytes(f), "UTF-8"))
        .map(_ => f.getFileName.toString))
    assert(defs.size == 1, s"UnaryExpression definitions: $defs")
  }
}
