package graft.extract

import java.nio.file.{Files, Paths}
import java.util.regex.Pattern

import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The gather's label scan and one-pass line split are exact rewrites:
  * `GatherCore.findLabel` gives what `Matcher.find()` gives (found,
  * start, end, group) and the one-pass line split (the test-scope
  * `GatherTwin.linesOf`, the oracle of the gather's byte scan) what the
  * N1/N2 regex form gives, on the corpus and on adversarial random input.
  */
class LabelScanSpec extends AnyFunSuite {

  private val builtIns = (AnalyteExtract.Tsh +: AnalyteExtract.Secondary).map(_.label)

  /** Labels outside the recognized shapes: they must keep `find()`. */
  private val unrecognized = Seq("""\bTSH""", "(?<=:)TSH", "[Tt]SH", "T?SH",
    "(?x) T S H", """(?i)tsh|\d+""")

  /** Recognized labels whose leading letter has a non-ASCII case partner
    * (K and U+212A, s and U+017F) with and without Unicode case.
    */
  private val folding = Seq("(?iU)kh", "(?i)kh", "(?iu)sh", "(?i)sh",
    """(?iU)(?:t.s|h\s*k|3)""", "tSH")

  private def viaFind(p: Pattern, line: String): Option[(Int, Int, String)] = {
    val m = p.matcher(line)
    if (m.find()) Some((m.start(), m.end(), m.group())) else None
  }

  private def escaped(s: String): String = s.map(c => f"\\u${c.toInt}%04x").mkString

  /** Checks every label on every line through ONE reused scan matcher per
    * label, the way the gather uses it; returns the number of hits.
    */
  private def assertScanEqualsFind(labels: Seq[String], lines: Seq[String]): Int =
    labels.map { label =>
      val r = GatherCore.regex(label)
      val m = GatherCore.labelMatcher(r.pattern)
      lines.count { line =>
        val got =
          if (GatherCore.findLabel(m, r.starts, r.seconds, line)) Some((m.start(), m.end(), m.group()))
          else None
        val want = viaFind(r.pattern, line)
        assert(got == want, s"label $label on line ${escaped(line)}")
        want.isDefined
      }
    }.sum

  private lazy val corpusLines: Seq[String] = {
    val json = new ObjectMapper()
    Files.readAllLines(Paths.get("fixtures/ocr_dump.jsonl")).asScala.toSeq.flatMap { doc =>
      val node = json.readTree(doc)
      Seq("light_raw", "premium_raw", "optimum_raw") // a null level is absent
        .flatMap(level => Option(node.get(level)).toSeq.flatMap(t => GatherTwin.linesOf(t.asText())))
    }
  }

  // long s, dotted capital I, dotless i, Kelvin sign, NBSP, and the
  // surrogate pair of U+1D413 (bold capital T)
  private val adversarial = IndexedSeq("T", "t", "S", "s", "\u017F", "H", "h",
    "K", "k", "\u0130", "\u0131", "é", "è", "\u212A", " ", "\u00A0",
    "\t", "\f", "\u000B", ".", "0", "3", "7", "\uD835\uDC13", "TSH", "T.S.H",
    "tsh", "us", "ultra sensible", "3ème génération",
    "thyrotropine", "thyréostimuline", "glycémie",
    "Hémoglobine", "créatinine", "CHOLESTÉROL", "kh", "sh", ":")

  private def randomLines(n: Int, seed: Long): Seq[String] = {
    val rnd = new Random(seed)
    Seq.fill(n)(Seq.fill(rnd.nextInt(24))(adversarial(rnd.nextInt(adversarial.size))).mkString)
  }

  test("label scan == find() for the built-in configs on every corpus line at all three levels") {
    assert(corpusLines.size > 2000, s"only ${corpusLines.size} lines")
    val hits = assertScanEqualsFind(builtIns, corpusLines)
    assert(hits > 1000, s"only $hits label hits")
  }

  test("label scan == find() on random lines over an adversarial alphabet") {
    val lines = randomLines(6000, 7007L)
    val hits = assertScanEqualsFind(builtIns ++ folding ++ unrecognized, lines)
    assert(hits > 5000, s"only $hits label hits")
  }

  test("labels outside the recognized shapes take find() and still match it") {
    unrecognized.foreach(l => assert(GatherCore.startTable(l) == null, l))
    assertScanEqualsFind(unrecognized, corpusLines ++ randomLines(2000, 8008L))
  }

  test("every built-in label is recognized, so the gather scans instead of calling find()") {
    (builtIns ++ folding).foreach(l => assert(GatherCore.startTable(l) != null, s"$l lost the scan"))
    val tsh = GatherCore.startTable(AnalyteExtract.Tsh.label)
    assert("Tt".forall(c => (tsh(c >>> 6) & (1L << c)) != 0L))
  }

  test("the second-char table narrows the scan for built-in labels, and lookbehind drops it") {
    def has(t: Array[Long], c: Char) = (c >>> 6) < t.length && (t(c >>> 6) & (1L << c)) != 0L
    builtIns.foreach(l => assert(GatherCore.regex(l).seconds != null, s"$l has no second table"))
    val tsh = GatherCore.regex(AnalyteExtract.Tsh.label).seconds
    assert("Ss. \t hH\uD835".forall(has(tsh, _)))   // T[.\s]*S…, th…, a surrogate
    assert(!"aeiour:0".exists(has(tsh, _)))   // "matin", "résultat :"
    assert(GatherCore.regex("(?i)T(?<=xT)SH").seconds == null)
    unrecognized.foreach(l => assert(GatherCore.regex(l).seconds == null, l))
  }

  test("the gather regex cache stays within its cap under many distinct SQL labels") {
    val spark = SparkTestSession.spark
    GraftFunctions.register(spark)
    val n = GatherCore.CacheCap + 16
    val cols = (0 until n).map(k =>
      s"size(analyte_gather_candidates(raw, '(?iU)TSH(?:$k)?', '(?iU)mUI/L'))")
    val row = spark.sql(s"SELECT ${cols.mkString(", ")} " +
      "FROM VALUES ('Bilan\nTSH 3,38 mUI/L (0,27 - 4,20)') AS t(raw)").collect().head
    assert((0 until n).forall(row.getInt(_) == 1), row)
    assert(GatherCore.cacheSize <= GatherCore.CacheCap, GatherCore.cacheSize)
  }

  test("one-pass linesOf == the regex normalize and split") {
    def viaRegex(raw: String): Seq[String] =
      raw.replace('\r', '\n').replaceAll(TshPatterns.WsRun, " ")
        .replaceAll("\n+", "\n").split("\n", -1).toSeq
    val parts = IndexedSeq("\r", "\n", "\r\n", "\n\r", " ", "  ", "\t", "\f",
      "\u000B", "\u00A0", "a", "TSH 3,38", "é")
    val rnd = new Random(9009L)
    val fixed = Seq("", "\n", "\r\n", " ", "\n\n a \t\n", "a\r\rb", " \n \n ", "x\n")
    val random = Seq.fill(6000)(Seq.fill(rnd.nextInt(16))(parts(rnd.nextInt(parts.size))).mkString)
    (fixed ++ random).foreach { s =>
      assert(GatherTwin.linesOf(s).toSeq == viaRegex(s), escaped(s))
    }
  }
}
