package graft.corpus

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.schema.{DocRow, DocSpan}

/** Deterministic seeded synthesis of the interleaved text+media docs
  * table (FIXTURES.md §1-2). Every byte is a pure function of
  * (seed=42, doc index, span index, level) so that
  *  - regenerating is byte-identical regardless of partitioning,
  *  - the simulated OCR engine can resolve a `media_ref` back to its
  *    page text without any stored binary payloads,
  *  - the Python golden-fixture generator consumes a dump of this
  *    corpus rather than re-implementing it (no dual-generator drift).
  */
object Det {
  val Seed = 42
  /** Stable non-negative hash of a composite key: MurmurHash3 (seed 42)
    * of the parts rendered as `String.valueOf` renders them and joined
    * with '\u0000', masked to 31 bits — the value of
    * `stringHash(parts.mkString("\u0000"), Seed) & 0x7fffffff`, streamed
    * through a [[Key]] so no joined string is built (the joined formula
    * stays in src/test as the oracle, `DetOracle`).
    */
  def h(parts: Any*): Long = {
    val key = new Key
    val it = parts.iterator
    if (!it.hasNext) return key.value
    var p = it.next()
    while (it.hasNext) { key.part(p); p = it.next() }
    key.hash(p)
  }

  /** The MurmurHash3 state of a key's leading parts (each rendered and
    * followed by '\u0000'), fed two chars per `mix` exactly as
    * `MurmurHash3.stringHash` does. Keys sharing a prefix hash it once:
    * `new Key().part(a).part(b).hash(c) == h(a, b, c)`, and `copy` forks
    * a prefix. Mutable and not thread-safe: one per use.
    */
  final class Key private (private var acc: Int, private var pending: Int,
      private var len: Int) {
    def this() = this(Seed, -1, 0)

    def copy: Key = new Key(acc, pending, len)

    /** Append one leading part: its rendering, then '\u0000'. */
    def part(x: Any): this.type = { render(x); char('\u0000'); this }
    def part(v: Long): this.type = { long(v); char('\u0000'); this }
    /** Append `s.substring(from, until)` as a part, without the substring. */
    def part(s: String, from: Int, until: Int): this.type = {
      chars(s, from, until); char('\u0000'); this
    }

    /** The hash of this key's parts followed by `last`; the key is left
      * as it was, so one prefix can finish several keys.
      */
    def hash(last: Any): Long = {
      val a = acc; val p = pending; val n = len
      render(last)
      val v = value
      acc = a; pending = p; len = n
      v
    }

    private[Det] def value: Long = {
      val a = if (pending >= 0) MurmurHash3.mixLast(acc, pending) else acc
      MurmurHash3.finalizeHash(a, len).toLong & 0x7fffffffL
    }

    private def render(x: Any): Unit = x match {
      case s: String => chars(s, 0, s.length)
      case v: java.lang.Long => long(v.longValue)
      case v: java.lang.Integer => long(v.longValue)
      case v => val s = String.valueOf(v); chars(s, 0, s.length)
    }

    private def char(c: Char): Unit = {
      if (pending < 0) pending = c
      else { acc = MurmurHash3.mix(acc, (pending << 16) + c); pending = -1 }
      len += 1
    }

    private def chars(s: String, from: Int, until: Int): Unit = {
      var i = from
      if (pending >= 0 && i < until) {
        acc = MurmurHash3.mix(acc, (pending << 16) + s.charAt(i)); pending = -1; i += 1
      }
      while (i + 1 < until) {
        acc = MurmurHash3.mix(acc, (s.charAt(i) << 16) + s.charAt(i + 1)); i += 2
      }
      if (i < until) pending = s.charAt(i)
      len += until - from
    }

    // decimal digits as Long.toString writes them, split into groups by
    // constant divisors (which the JIT turns into multiplies)
    private def long(v: Long): Unit =
      if (v == Long.MinValue) chars("-9223372036854775808", 0, 20)
      else if (v < 0) { char('-'); digits(-v) }
      else digits(v)

    private def digits(v: Long): Unit =
      if (v < 100000000L) digits8(v.toInt, lead = true)
      else if (v < 10000000000000000L) {
        val hi = v / 100000000L
        digits8(hi.toInt, lead = true); digits8((v - hi * 100000000L).toInt, lead = false)
      } else {
        val top = v / 10000000000000000L
        val rest = v - top * 10000000000000000L
        val hi = rest / 100000000L
        digits8(top.toInt, lead = true)
        digits8(hi.toInt, lead = false); digits8((rest - hi * 100000000L).toInt, lead = false)
      }

    /** x < 10^8: all 8 digits, or without leading zeros when `lead`. */
    private def digits8(x: Int, lead: Boolean): Unit = {
      val hi = x / 10000
      if (lead && hi == 0) digits4(x, lead = true)
      else { digits4(hi, lead); digits4(x - hi * 10000, lead = false) }
    }
    private def digits4(x: Int, lead: Boolean): Unit = {
      val hi = x / 100
      if (lead && hi == 0) digits2(x, lead = true)
      else { digits2(hi, lead); digits2(x - hi * 100, lead = false) }
    }
    private def digits2(x: Int, lead: Boolean): Unit = {
      val t = x / 10
      if (!lead || t != 0) char(('0' + t).toChar)
      char(('0' + x - 10 * t).toChar)
    }
  }
}

object Corpus {
  import Det._

  def docId(i: Long): String = "doc" + zeroPad(i, 8)

  // Renderings use integer arithmetic, never java.util.Formatter: its
  // digits follow the JVM default locale (th-TH-u-nu-thai renders Thai
  // digits), and the corpus must be a pure function of (seed, index).

  /** `n` as the `%0<width>d` conversion renders it (sign, then zeros). */
  private[corpus] def zeroPad(n: Long, width: Int): String = {
    val s = java.lang.Long.toString(n)
    if (s.length >= width) s
    else if (n < 0) "-" + "0" * (width - s.length) + s.substring(1)
    else "0" * (width - s.length) + s
  }

  /** A value of `cents / 100` to two decimals with a decimal comma, as
    * `%.2f` renders `cents / 100.0` (cents >= 0).
    */
  private[corpus] def fr(cents: Int): String =
    s"${cents / 100},${cents / 10 % 10}${cents % 10}"

  /** dd/MM/yyyy, as `%02d/%02d/%04d` renders (d, m, y). */
  private[corpus] def dateText(d: Int, m: Int, y: Int): String =
    s"${zeroPad(d, 2)}/${zeroPad(m, 2)}/${zeroPad(y, 4)}"

  /** Media refs are self-describing so the pooled OCR engine can resolve
    * them without the doc row: `media://doc00000007/3` plus a `#tsh`
    * fragment on the span that carries the TSH lines (the span layout of
    * skewed docs is not recomputable from (i,k) alone).
    */
  def mediaRef(i: Long, k: Int, carrier: Boolean): String =
    s"media://${docId(i)}/$k" + (if (carrier) "#tsh" else "")
  /** Inverse of mediaRef: (doc index, span index, isCarrier). The body
    * is the ref without a leading "media://" and a trailing "#tsh"; its
    * first three chars are skipped, the doc index runs to the body's last
    * '/' and the span index from there, each read as `Long.parseLong` /
    * `Integer.parseInt` read them (sign, any Unicode decimal digit,
    * overflow rejected), without substrings. A ref it cannot read throws
    * a RuntimeException.
    */
  def parseMediaRef(ref: String): (Long, Int, Boolean) = {
    val carrier = ref.endsWith("#tsh")
    val from = if (ref.startsWith("media://")) 8 else 0
    val end = if (carrier) ref.length - 4 else ref.length
    val slash = ref.lastIndexOf('/', end - 1)
    if (slash < from + 3) throw new NumberFormatException(s"bad media ref: $ref")
    (decimal(ref, from + 3, slash, Long.MinValue),
      decimal(ref, slash + 1, end, Int.MinValue).toInt, carrier)
  }

  /** `ref(from until to)` as a decimal integer no smaller than `min` and
    * no larger than `-(min + 1)`, accumulated negatively as
    * `Long.parseLong` does.
    */
  private def decimal(ref: String, from: Int, to: Int, min: Long): Long = {
    def bad = new NumberFormatException(s"bad media ref: $ref")
    val negative = from < to && ref.charAt(from) == '-'
    val limit = if (negative) min else min + 1
    var i = if (from < to && (negative || ref.charAt(from) == '+')) from + 1 else from
    if (i == to) throw bad
    var acc = 0L
    while (i < to) {
      val d = Character.digit(ref.charAt(i), 10)
      if (d < 0 || acc < limit / 10) throw bad
      acc *= 10
      if (acc < limit + d) throw bad
      acc -= d
      i += 1
    }
    if (negative) acc else -acc
  }

  // ---- tags (FIXTURES.md §3): unreadable 2%, hard 10% --------------------
  def isUnreadable(i: Long): Boolean = h(i, "tag") % 100 < 2
  def isHard(i: Long): Boolean = { val t = h(i, "tag") % 100; t >= 2 && t < 12 }

  // ---- template families (FIXTURES.md §2) --------------------------------
  val NumFamilies = 16
  /** Round-robin guarantees every family appears in any 16-doc window. */
  def family(i: Long): Int = (i % NumFamilies).toInt
  val FamQ2 = 14 // light parses (no range), optimum corrupts the line (quirk Q2)

  /** Seeded TSH value for doc i: 0.10 .. 5.09, two decimals. */
  def tshValue(i: Long): Double = tshCents(i) / 100.0
  private def tshCents(i: Long): Int = 10 + (h(i, "val") % 500).toInt

  /** The TSH line(s) a doc's carrier span contains, possibly level-dependent
    * (family 14 simulates optimum binarization corrupting the digits).
    */
  def tshLines(i: Long, level: String): Seq[String] = {
    val v = tshCents(i)
    family(i) match {
      case 0  => Seq(s"TSH ${fr(v)} mUI/L (0,27 - 4,20)")
      case 1  => Seq(s"T.S.H  ${fr(v).replace(',', '.')} µUI/mL  0.4 à 4.0")
      case 2  => Seq(s"TSH 3ème génération ${fr(v)} mUI/L (0,27 - 4,20)")
      case 3  => Seq(s"TSH 3eme generation ${fr(v)} mUI/L (0,27 - 4,20)") // Q3 -> value 3.0
      case 4  => Seq(s"TSH ultra sensible : ${fr(v)} mUI/L")
      case 5  => Seq(s"TSHus ${fr(v)} mU/L 0,35 & 4,94")
      case 6  => Seq(s"Thyréostimuline ${fr(v)} mUI/L 027 - 494") // N4 3-digit repair
      case 7  => Seq(s"thyrotropine ${fr(v).replace(',', '.')}")
      case 8  => Seq(s"Résultat : ${fr(v)} mUI/L  0,4 - 4000") // fallback; N4 >=4-digit
      case 9  => Seq(s".... ${fr(v)} UI/L")
      case 10 => Seq(s"thyrotropine ${fr(v)} mUI/L 0,5 - 4,0", "TSH 2,1")
      case 11 => Seq(s"TSH ${fr(v)}", s"TSH ${fr(v + 100)}") // tie -> line order (Q7)
      case 12 => Seq.empty // negative: no TSH anywhere
      case 13 => Seq(s"TSH\t\t4 000,5  pUI/mL  1 a 5") // NBSP/tabs noise, Q6 unit
      case 14 => if (level == "optimum") Seq("TSH") else Seq(s"TSH ${fr(v)}")
      case 15 => Seq(s"TSH +${fr(v)} mUI/L (+0,3 - +4,2)") // signed numbers
      case _  => Seq.empty
    }
  }

  private val Fillers: IndexedSeq[String] = IndexedSeq(
    "Laboratoire d'analyses médicales",
    "Cholestérol 1,9 g/L",
    "Glycémie 0,95 g/L", // template — rendered with a seeded value below
    "Prélèvement du matin",
    "Résultats exprimés en unités internationales",
    "Dr. MARTIN - Biologiste",
    "Page 1/1",
    "Hémoglobine 13,5 g/dL", // template — rendered with a seeded value below
    "Créatinine 75 µmol/L",
    "---")

  // ---- secondary analytes + report date (generic lab-entity surface) -----
  /** Seeded glycemia value: 0.70 .. 1.29 g/L. */
  def glyValue(i: Long, k: Int, j: Int): Double = glyCents(slot(i, k, j)) / 100.0
  /** Seeded hemoglobin value: 11.5 .. 17.4 g/dL. */
  def hbValue(i: Long, k: Int, j: Int): Double = hbTenths(slot(i, k, j)) / 10.0
  /** Seeded per-doc report date, French dd/MM/yyyy rendering. */
  def reportDate(i: Long): String = {
    val doc = new Key().part(i)
    dateText(1 + (doc.hash("rd_day") % 28).toInt, 1 + (doc.hash("rd_mon") % 12).toInt,
      2023 + (doc.hash("rd_yr") % 2).toInt)
  }

  /** The key prefix of slot j of span k of doc i. */
  private def slot(i: Long, k: Int, j: Int): Key = new Key().part(i).part(k).part(j)
  private def glyCents(slot: Key): Int = 70 + (slot.hash("gly") % 60).toInt
  private def hbTenths(slot: Key): Int = 115 + (slot.hash("hb") % 60).toInt

  /** One filler line of a span (`span` is the key prefix of (i, k)): the
    * glycemia / hemoglobin templates render a seeded per-(doc,span,slot)
    * value so a second (and third) analyte family exists in the corpus
    * with varied values, like TSH.
    */
  private[graft] def fillerLine(span: Key, j: Int, salt: String): String = {
    val slot = span.copy.part(j)
    Fillers((slot.hash(salt) % Fillers.length).toInt) match {
      case f if f.startsWith("Glycémie") => s"Glycémie ${fr(glyCents(slot))} g/L"
      case f if f.startsWith("Hémoglobine") => s"Hémoglobine ${fr(10 * hbTenths(slot))} g/dL"
      case f => f
    }
  }

  // ---- document structure -------------------------------------------------
  /** Span kinds in offset order. Unreadable docs are media-only so the
    * OCR_FAILED path (`app.py:91-92`) is reachable; family-14 docs start
    * with a media span so the Q2 corruption actually goes through OCR.
    * `skewMediaSpans`, when >0, models an oversized multi-page PDF.
    */
  def spanKinds(i: Long, skewMediaSpans: Int): Seq[String] = {
    if (isUnreadable(i)) Seq.fill(1 + (h(i, "nm") % 2).toInt)("media")
    else if (skewMediaSpans > 0) "text" +: Seq.fill(skewMediaSpans)("media")
    else {
      val n = 1 + (h(i, "ns") % 6).toInt
      val startMedia = family(i) == FamQ2 || h(i, "k0") % 2 == 0
      (0 until n).map(j => if ((j % 2 == 0) == startMedia) "media" else "text")
    }
  }

  /** Which span (by index) carries the TSH lines. */
  def carrierIdx(i: Long, nSpans: Int): Int = {
    if (family(i) == FamQ2) 0 // forced onto the leading media span
    else (h(i, "carrier") % nSpans).toInt
  }

  /** The text of media span k of doc i at a level: the page's lines
    * joined with '\n'. A page is a header line carrying the report date
    * (like a real lab report), then 4-9 fillers with a carrier span's
    * TSH lines inserted among them. Level only matters for family 14
    * (Q2) and the `hard` tag, which hides the TSH lines from
    * light+premium (optimum's binarization rescue analog,
    * `ocr_engine.py:234-246`), and for the crop: light AND premium keep
    * the bottom 65% of lines, the `preprocess_for_bio` analog
    * (`ocr_engine.py:39`; both call it, `ocr_engine.py:127,171`), so
    * they lose the header in the top 35% and the date entity is an
    * optimum/full-text extraction; optimum does not crop
    * (`ocr_engine.py:219-246` upscales + binarizes the full page).
    * Only the kept lines are rendered. The whole-page line list, cropped
    * afterwards, is the twin in src/test (OcrTwin.pageLines / crop).
    */
  def pageText(i: Long, k: Int, level: String, isCarrier: Boolean): String = {
    if (isUnreadable(i)) return ""
    val span = new Key().part(i).part(k)
    val nf = 4 + (span.hash("nf") % 6).toInt
    val tsh =
      if (!isCarrier) Nil
      else if (isHard(i) && family(i) != FamQ2 && level != "optimum") Nil
      else tshLines(i, level)
    // lines: 0 the header, 1..p fillers, then the TSH lines, then the
    // remaining fillers; Q2 keeps its TSH inside the crop
    val p =
      if (tsh.isEmpty || family(i) == FamQ2) nf
      else (h(i, "pos") % (nf + 1)).toInt
    val n = 1 + nf + tsh.length
    val first = if (level == "optimum") 0 else (0.35 * n).toInt
    val sb = new java.lang.StringBuilder
    var j = first
    while (j < n) {
      if (j > first) sb.append('\n')
      if (j == 0) sb.append("Prélèvement du ").append(reportDate(i))
      else if (j <= p) sb.append(fillerLine(span, j - 1, "fill"))
      else if (j <= p + tsh.length) sb.append(tsh(j - p - 1))
      else sb.append(fillerLine(span, j - 1 - tsh.length, "fill"))
      j += 1
    }
    sb.toString
  }

  /** Inline text of text-span k (identical at every level — text spans
    * are not OCR'd).
    */
  def textSpanText(i: Long, k: Int, isCarrier: Boolean): String = {
    val span = new Key().part(i).part(k)
    val nf = 1 + (span.hash("tf") % 3).toInt
    val fillers = (0 until nf).map(j => fillerLine(span, j, "tfill"))
    val tsh = if (isCarrier) tshLines(i, "text") else Seq.empty
    (fillers ++ tsh).mkString("\n")
  }

  /** Build one document row. `skew`: fraction of docs rendered as
    * oversized multi-page PDFs (50-200 media spans, FIXTURES.md §1).
    */
  def doc(i: Long, skew: Boolean = false): DocRow = {
    val over =
      if (skew && !isUnreadable(i) && h(i, "skew") % 100 == 0)
        50 + (h(i, "skewN") % 151).toInt
      else 0
    val kinds = spanKinds(i, over)
    val ci = carrierIdx(i, kinds.length)
    val spans = kinds.zipWithIndex.map { case (kind, k) =>
      if (kind == "media") DocSpan("media", "", mediaRef(i, k, k == ci), k)
      else DocSpan("text", textSpanText(i, k, k == ci), "", k)
    }
    DocRow(docId(i), spans)
  }

  def generate(spark: SparkSession, n: Long, skew: Boolean = false,
      partitions: Int = 0): Dataset[DocRow] = {
    import spark.implicits._
    val base = if (partitions > 0) spark.range(0, n, 1, partitions) else spark.range(0, n)
    base.map(i => doc(i, skew))
  }
}
