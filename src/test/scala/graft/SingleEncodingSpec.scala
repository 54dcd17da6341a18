package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The product keeps ONE encoding per operator: the UDF-free twins of
  * the native expressions live in test scope (graft.extract.HofTwins)
  * as oracles, and OCR on the extraction paths has one reader. This scan
  * keeps a second encoding, a per-call switch between two, a test-only
  * knob, a bench main or a fixed thread count from creeping back into
  * src/main.
  */
class SingleEncodingSpec extends AnyFunSuite {

  private def mainSources(root: String = "src/main") =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq

  /** `file:enclosing definition` of every line of `sources` matching
    * `re`; the definition is the nearest line at or above matching
    * `enclosing` (group 1 names it).
    */
  private def sitesOf(sources: Seq[java.nio.file.Path], re: scala.util.matching.Regex,
      enclosing: scala.util.matching.Regex = """\bdef\s+(\w+)""".r) = {
    for {
      f <- sources
      lines = Files.readAllLines(f).asScala.toIndexedSeq
      (line, i) <- lines.zipWithIndex if re.findFirstIn(line).isDefined
    } yield {
      val name = (i to 0 by -1).iterator
        .flatMap(j => enclosing.findFirstMatchIn(lines(j)).map(_.group(1))).nextOption()
      s"${f.getFileName}:${name.getOrElse("?")}"
    }
  }

  /** `file:line: text` of every line of `sources` matching `re`. */
  private def hitsOf(sources: Seq[java.nio.file.Path], re: scala.util.matching.Regex) =
    for {
      f <- sources
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if re.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"

  /** Names defined in HofTwins (or deleted outright) that src/main must
    * not define again, plus any `*Hof` definition.
    */
  private val Moved = Seq("labelledCandidates", "tshLabelledCandidates",
    "fallbackCandidates", "gatherCandidates", "labelPenalty", "shingles",
    "shingleHashes", "minhashSignature", "minhashSignature0", "lshBandKeys",
    "lshBucket", "planeComponent", "projections", "projMatrix",
    "centroidDots", "dot", "norm", "bestBySort", "assembleByFilter", "entitiesByFilter",
    "qualityFeatures", "langIdScores", "langIdBest", "langArgmax", "countWord",
    "\\w+Hof")

  private val Forbidden =
    ("""fused\s*:\s*Boolean|\bdef\s+(?:""" + Moved.mkString("|") + """)\b""").r

  test("src/main holds no fused switch and no test-scope twin") {
    val sources = mainSources()
    assert(sources.size > 20, s"scan found only ${sources.size} sources")
    val hits = hitsOf(sources, Forbidden)
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("src/main/scala/graft/extract defines one gather expression") {
    val unary = """\bextends\s+UnaryExpression\b""".r
    val defs = mainSources("src/main/scala/graft/extract")
      .flatMap(f => unary.findAllIn(new String(Files.readAllBytes(f), "UTF-8"))
        .map(_ => f.getFileName.toString))
    assert(defs.size == 1, s"UnaryExpression definitions: $defs")
  }

  test("src/main reads the OCR engine at three sites: OcrText, ocrAll, the skew page stage") {
    val sites = sitesOf(mainSources(), """OcrEnginePool\.engine""".r)
    assert(sites.sorted == Seq("OcrExpr.scala:evalCore", "Pipeline.scala:extractSkewAware",
      "Pipeline.scala:ocrAll"), sites.mkString("\n", "\n", ""))
  }

  test("the extraction paths read OCR text only: OcrRun.ocrDoc's one src/main caller is ocrAll") {
    // ocrDoc carries every page's boxes; the audit surface is its only user
    val sites = sitesOf(mainSources(), """(?<!def )\bocrDoc\(""".r)
    assert(sites.nonEmpty && sites.distinct == Seq("Pipeline.scala:ocrAll"),
      sites.mkString("\n", "\n", ""))
  }

  test("pages render one way: pageLines and crop are test-scope twins only") {
    val hits = hitsOf(mainSources(), """\bdef\s+(?:pageLines|crop)\b""".r)
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("graft/streaming keeps state at two sites: dedupStream and the near-dup bucket machine") {
    val stateful = """\.(?:flatMapGroupsWithState|mapGroupsWithState|transformWithState)\b""".r
    val sites = sitesOf(mainSources("src/main/scala/graft/streaming"), stateful)
    assert(sites.sorted == Seq("StreamingExtract.scala:bucketDedup",
      "StreamingExtract.scala:dedupStream"), sites.mkString("\n", "\n", ""))
  }

  test("only Buckets knows the hot-bucket salt column") {
    val files = mainSources()
      .filter(f => new String(Files.readAllBytes(f), "UTF-8").contains("__salt"))
      .map(_.getFileName.toString)
    assert(files == Seq("Buckets.scala"), files.mkString("\n", "\n", ""))
  }

  test("src/main names no second OCR operator and no test-only job knob") {
    val gone = """\b(ocrLevel|DocOcrOne|failAfterBuckets|skewThreshold|FormatTableIO)\b""".r
    val hits = hitsOf(mainSources(), gone)
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("the corpus generator and the OCR stand-in never call java.util.Formatter") {
    // Formatter renders digits in the JVM default locale; the corpus and
    // SimulatedOcr must be pure functions of (seed, index)
    val formatter = """\bf"|\.format\(|String\.format""".r
    val hits = hitsOf(Seq("src/main/scala/graft/corpus/Corpus.scala",
      "src/main/scala/graft/media/OcrEngine.scala").map(Paths.get(_)), formatter)
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("src/main defines exactly the bench, job and fixture mains") {
    // measurement harnesses beyond these live in perfbench
    val mains = sitesOf(mainSources(), """\bdef\s+main\s*\(""".r, """\bobject\s+(\w+)""".r)
      .map(_.split(':').last)
    assert(mains.sorted == Seq("Bench", "ExtractJobMain", "FixtureDump", "LangProfileDump",
      "MediaDump", "ScalingBench", "Verify"), mains.sorted.mkString("\n", "\n", ""))
  }

  /** A top-level member `def` (two-space indent), for sites inside nested defs. */
  private val MemberDef = """^  (?:(?:private|protected|final|override)(?:\[\w+\])?\s+)*def\s+(\w+)""".r

  test("one in-memory barrier: localCheckpoint only behind Staging and in the query-entry spread") {
    val checkpoints = sitesOf(mainSources(), """\.localCheckpoint\(""".r, MemberDef)
    assert(checkpoints.sorted == Seq("Bridge.scala:checkpointLeaf", "SparkEntry.scala:spread"),
      checkpoints.mkString("\n", "\n", ""))
    val leaves = sitesOf(mainSources(), """(?<!def )\bcheckpointLeaf\(""".r, MemberDef)
    assert(leaves == Seq("Staging.scala:materialize"), leaves.mkString("\n", "\n", ""))
    val caches = hitsOf(mainSources(), """\.(?:cache|persist)\(""".r)
    assert(caches.isEmpty, caches.mkString("\n", "\n", ""))
  }

  test("src/main has one BPE merge loop and one text-feature encoding") {
    val twins = """\b(?:class|object|val|def)\s+(?:BpeWordCount|Vocab|LangMarkers|StagingConf)\b""".r
    val hits = hitsOf(mainSources(), twins)
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
    // the merge-rank lookup of the greedy merge loop
    val lookups = sitesOf(mainSources(), """\branks\.get\(""".r)
    assert(lookups == Seq("Bpe.scala:idsOfWord"), lookups.mkString("\n", "\n", ""))
  }

  test("src/main has no cache registry, no scope parameter and no cached-leaf bridge") {
    val hits = hitsOf(mainSources(), """\bCacheScope\b|\bcachedLeaf\b|\bscope\s*:""".r)
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("the gather reads the OCR text's bytes: no whole-text decode, no src/main linesOf") {
    // the whole-text form is the test-scope oracle graft.extract.GatherTwin
    val linesOf = hitsOf(mainSources(), """\bdef\s+linesOf\b""".r)
    assert(linesOf.isEmpty, linesOf.mkString("\n", "\n", ""))
    val decodes = hitsOf(Seq(Paths.get("src/main/scala/graft/extract/AnalyteGatherExpr.scala")),
      """\binput\.toString\b""".r)
    assert(decodes.isEmpty, decodes.mkString("\n", "\n", ""))
  }

  test("src/main hard-codes no local[<n>] master") {
    // a fixed thread count oversubscribes any smaller host
    val hits = hitsOf(mainSources(), """local\[\d+\]""".r)
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
