package graft.extract

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.Locale

import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.ibm.icu.lang.UCharacter
import com.ibm.icu.util.ULocale
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.Corpus
import graft.media.{OcrRun, SimulatedOcr}

/** The gather's byte scan (`MultiAnalyteGather.evalCore`, which decodes,
  * normalizes and matches only the lines that can hold a label or a
  * fallback unit) against the whole-text twin [[GatherTwin]] (decode
  * everything, `linesOf`, every line through the same per-line logic),
  * on the corpus and on adversarial, invalid and off-array input.
  */
class GatherScanSpec extends AnyFunSuite {

  private val unrecognized = Seq("""\bTSH""", "(?<=:)TSH", "[Tt]SH", "T?SH",
    "(?x) T S H", """(?i)tsh|\d+""")
  private val folding = Seq("(?iU)kh", "(?i)kh", "(?iu)sh", "(?i)sh",
    """(?iU)(?:t.s|h\s*k|3)""", "tSH")
  /** A literal space as the second or third char, also after a non-ASCII
    * start char (U+212A folds to k): ' ' is in the label's second-char
    * table and prefix trie, a raw tab or form feed (N1 makes it ' ') is
    * not.
    */
  private val spaced = Seq("(?i)t ?sh", "(?iU)t sh", "(?i)ts ?h", "(?iU)k ?h")

  private def cfg(label: String, k: Int): AnalyteConfig =
    AnalyteConfig(s"c$k", label, TshPatterns.UnitLabelled, muiFallback = k % 2 == 0)

  /** Each set is gathered in one pass; the odd labels also one by one. */
  private val configSets: Seq[Seq[AnalyteConfig]] = {
    val odd = (unrecognized ++ folding ++ spaced).zipWithIndex.map { case (l, k) => cfg(l, k) }
    Seq(Seq(AnalyteExtract.Tsh), AnalyteExtract.Secondary,
      AnalyteExtract.Tsh +: AnalyteExtract.Secondary, odd) ++ odd.map(Seq(_))
  }

  private def values(a: GenericArrayData): Seq[Seq[Seq[Any]]] =
    a.array.toSeq.map(_.asInstanceOf[GenericArrayData].array.toSeq
      .map(_.asInstanceOf[GenericInternalRow].values.toSeq))

  private def escaped(s: UTF8String): String =
    s.getBytes.map(b => f"${b & 0xff}%02x").mkString(" ")

  /** Asserts scan == twin for every config set on every input; returns
    * the (labelled, fallback) candidate counts over all of them.
    */
  private def assertScanEqualsTwin(inputs: Seq[UTF8String]): (Long, Long) = {
    var labelled = 0L
    var fallback = 0L
    for (cfgs <- configSets) {
      val gather = MultiAnalyteGather(Literal(""), cfgs)
      for (in <- inputs) {
        val got = values(gather.evalCore(in))
        assert(got == values(GatherTwin.gather(in, cfgs)),
          s"${cfgs.map(_.label)} on ${escaped(in)}")
        got.flatten.foreach(r =>
          if (r(8) == UTF8String.fromString(TshPatterns.FallbackLabel)) fallback += 1
          else labelled += 1)
      }
    }
    (labelled, fallback)
  }

  private lazy val dumpTexts: Seq[String] = {
    val json = new ObjectMapper()
    Files.readAllLines(Paths.get("fixtures/ocr_dump.jsonl")).asScala.toSeq.flatMap { doc =>
      val node = json.readTree(doc)
      Seq("light_raw", "premium_raw", "optimum_raw") // a null level is absent
        .flatMap(level => Option(node.get(level)).map(_.asText()))
    }
  }

  private val pieces = IndexedSeq("\r", "\n", "\r\n", "\t", "\f", "\u000B", " ", "  ",
    " ", "é", "µ", "İ", "ſ", "K", "𝐓", "\uD800", "\uDC00",
    "T", "S", "H", "t", "s", "h", "u", "U", "i", "I", "m", "M", "/", "L", "l", "k", ".",
    ":", "-", "(", ")", " à ", "3", "3,38", "12", "0,27 - 4,20", "TSH", "T.S.H", "tsh",
    "mUI/L", "mUİ/L", "uİ/l", "µUI/mL", "mU/L", "uUI", "ultra sensible",
    "3ème génération", "thyrotropine", "glycémie", "Hémoglobine", "créatinine",
    "CHOLESTÉROL", "g/L", "g/dL", "µmol/L", "aujourd'hui", "résultat", "matin",
    "t\tsh ", "T\fSH ", "t\u000B\tsh ", "ts\th ", "TS\f\u000BH ")

  test("scan == twin on every level text of the OCR dump and of a 2,000-doc skewed corpus") {
    val skewed = (0L until 2000L).map(Corpus.doc(_, skew = true))
    val ocr = for (d <- skewed; level <- Seq("light", "premium", "optimum");
      t <- OcrRun.ocrText(SimulatedOcr, level, d.spans)) yield t
    val texts = dumpTexts ++ ocr
    assert(dumpTexts.size > 400 && ocr.size > 4000, s"${dumpTexts.size} / ${ocr.size} texts")
    val (labelled, fallback) = assertScanEqualsTwin(texts.map(UTF8String.fromString))
    assert(labelled > 20000 && fallback > 50, s"$labelled labelled, $fallback fallback")
  }

  test("scan == twin on random strings over breaks, whitespace, folding chars and surrogates") {
    val rnd = new Random(15015L)
    val strings = Seq("", "\n", "\r\n", "T", "t\n", "\nTSH 2,5\n", "t\tsh 2,5", "a\nT\f SH 3\n", "ts\th 2,5",
      "\u212A\th 2,5", "x\u212A \f h 3") ++
      Seq.fill(6000)(Seq.fill(rnd.nextInt(30))(pieces(rnd.nextInt(pieces.size))).mkString)
    val (labelled, fallback) = assertScanEqualsTwin(strings.map(UTF8String.fromString))
    assert(labelled > 10000 && fallback > 200, s"$labelled labelled, $fallback fallback")
  }

  test("scan == twin on invalid UTF-8, decoded to U+FFFD per line as in the whole text") {
    val rnd = new Random(16016L)
    val ascii = pieces.filter(_.forall(_ < 0x80)).map(_.getBytes(UTF_8))
    val odd = IndexedSeq(0x80, 0xbf, 0xc0, 0xc1, 0xc2, 0xc3, 0xc4, 0xdf, 0xe0, 0xe1, 0xed,
      0xef, 0xf0, 0xf4, 0xf5, 0xff, 0xa0, 0x9f, 0xb0).map(_.toByte)
    val arrays = Seq.fill(2000) {
      Array.concat(Seq.fill(1 + rnd.nextInt(16)) {
        if (rnd.nextInt(3) == 0) ascii(rnd.nextInt(ascii.size))
        else Array.fill(1 + rnd.nextInt(3))(odd(rnd.nextInt(odd.size)))
      }: _*)
    }
    val invalid = arrays.count(b => !java.util.Arrays.equals(new String(b, UTF_8).getBytes(UTF_8), b))
    assert(invalid > 1500, s"only $invalid invalid arrays")
    val (labelled, fallback) = assertScanEqualsTwin(arrays.map(UTF8String.fromBytes))
    assert(labelled > 500 && fallback > 20, s"$labelled labelled, $fallback fallback")
  }

  test("scan == twin on a string inside a larger array and on off-heap memory") {
    val text = "Bilan\r\n\tTSH us  3,38 mUI/L (0,27 - 4,20)\n\nTSH x 4,1 mUI/L\n"
    val bytes = text.getBytes(UTF_8)
    val padded = Array.fill[Byte](7)('T') ++ bytes ++ Array.fill[Byte](5)('\n')
    val slice = UTF8String.fromBytes(padded, 7, bytes.length)
    val address = Platform.allocateMemory(bytes.length)
    try {
      Platform.copyMemory(bytes, Platform.BYTE_ARRAY_OFFSET, null, address, bytes.length)
      val offHeap = UTF8String.fromAddress(null, address, bytes.length)
      val (labelled, _) = assertScanEqualsTwin(Seq(slice, offHeap))
      assert(labelled > 0)
      val tsh = MultiAnalyteGather(Literal(""), Seq(AnalyteExtract.Tsh))
      assert(values(tsh.evalCore(slice)) == values(tsh.evalCore(UTF8String.fromString(text))))
    } finally Platform.freeMemory(address)
  }

  test("the byte scan marks a line only where a label's prefix trie, fed the chars as N1 leaves them, hits") {
    val tsh = GatherCore.regex(AnalyteExtract.Tsh.label)
    def marked(line: String) = {
      val b = line.getBytes(UTF_8)
      GatherCore.scanLine(b, 0, b.length, tsh.starts, tsh.seconds, Array(tsh.prefixes), atEnd = true) < 0
    }
    val yes = Seq("TSH 3,38", "T.S.H 2", "t\tsh", "T \t\f SH", "thyrotropine", "xTSH", "x t.\fs h",
      "é T\u000BSH", "T.\u00a0", "tſ", "ts\ud835\udc13")
    yes.foreach(l => assert(marked(l), l))
    // each has a start char followed by chars a match can begin with, but
    // not by all of the label's first four (or by the line's end)
    val no = Seq("Prélèvement du matin", "Résultats exprimés en unités internationales",
      "Résultats: 2", "t :", "T\t\t:", "ths", "xT", "x t", "T \t\f S", "thy", "té", "")
    no.foreach(l => assert(!marked(l), l))
    // the trie is bounded, also for a label whose second char is any char
    val wide = GatherCore.regex("(?iU)(?:t.s|h\\s*k|3)").prefixes
    assert(tsh.prefixes.length < 256 * 128 && wide.length == 256 * 128)
  }

  test("the fallback line filter: U+0130 lowercases to a leading i, and no char hides \"ui\"") {
    def has(t: Array[Long], c: Int) = (c >>> 6) < t.length && (t(c >>> 6) & (1L << c)) != 0L
    assert("uU".forall(has(GatherCore.uEnds, _)) && "iIİ".forall(has(GatherCore.iStarts, _)))
    // the filter's premise: a line's lowercase is the concatenation of its
    // chars' lowercases, so "ui" in it comes from a u-ending char followed
    // by an i-starting one, never from inside one char or a supplementary one
    for (c <- 0 to Character.MAX_CODE_POINT if c > 0xffff || !Character.isSurrogate(c.toChar)) {
      val low = new String(Character.toChars(c)).toLowerCase(Locale.ROOT)
      assert(!low.contains("ui"), f"U+$c%04X")
      if (c > 0xffff) assert(!low.startsWith("i") && !low.endsWith("u"), f"U+$c%04X")
    }
    // non-vacuous: a doc whose only fallback unit is spelled with U+0130
    val in = UTF8String.fromString("Bilan\nValeur 2,5 mUİ/L (0,4 - 4,0)\n")
    val rows = values(GatherTwin.gather(in, Seq(AnalyteExtract.Tsh))).flatten
    assert(rows.size == 1 && rows.head(1) == 2, rows)
  }

  test("confidence reads penalty 2: Java ROOT and ICU lowercasing agree on the letters of \"fallback\"") {
    // Spark's lower() maps non-ASCII text through ICU; the gather's
    // penalty is decided by Java's ROOT lowercase
    val letters = "fallback".toSet
    var hits = 0
    for (c <- 0 to Character.MAX_VALUE if !Character.isSurrogate(c.toChar)) {
      val s = String.valueOf(c.toChar)
      val java = s.toLowerCase(Locale.ROOT)
      for (icu <- Seq(UCharacter.toLowerCase(ULocale.ROOT, s), UCharacter.toLowerCase(s))) {
        if (java.exists(letters) || icu.exists(letters)) {
          assert(java == icu, f"U+$c%04X: '$java' vs '$icu'")
          hits += 1
        }
      }
    }
    assert(hits >= 2 * 13, s"only $hits chars lowercase to a letter of fallback") // with U+212A
  }
}
