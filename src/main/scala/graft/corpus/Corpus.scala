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
  /** Stable non-negative hash of a composite key. */
  def h(parts: Any*): Long =
    (MurmurHash3.stringHash(parts.mkString("\u0000"), Seed).toLong & 0x7fffffffL)
  def pick[A](xs: IndexedSeq[A], parts: Any*): A = xs((h(parts: _*) % xs.length).toInt)
}

object Corpus {
  import Det._

  def docId(i: Long): String = f"doc$i%08d"

  /** Media refs are self-describing so the pooled OCR engine can resolve
    * them without the doc row: `media://doc00000007/3` plus a `#tsh`
    * fragment on the span that carries the TSH lines (the span layout of
    * skewed docs is not recomputable from (i,k) alone).
    */
  def mediaRef(i: Long, k: Int, carrier: Boolean): String =
    s"media://${docId(i)}/$k" + (if (carrier) "#tsh" else "")
  /** Inverse of mediaRef: (doc index, span index, isCarrier). */
  def parseMediaRef(ref: String): (Long, Int, Boolean) = {
    val carrier = ref.endsWith("#tsh")
    val body = ref.stripPrefix("media://").stripSuffix("#tsh")
    val slash = body.lastIndexOf('/')
    (body.substring(3, slash).toLong, body.substring(slash + 1).toInt, carrier)
  }

  // ---- tags (FIXTURES.md §3): unreadable 2%, hard 10% --------------------
  def isUnreadable(i: Long): Boolean = h(i, "tag") % 100 < 2
  def isHard(i: Long): Boolean = { val t = h(i, "tag") % 100; t >= 2 && t < 12 }

  // ---- template families (FIXTURES.md §2) --------------------------------
  val NumFamilies = 16
  /** Round-robin guarantees every family appears in any 16-doc window. */
  def family(i: Long): Int = (i % NumFamilies).toInt
  val FamQ2 = 14 // light parses (no range), optimum corrupts the line (quirk Q2)

  private def fr(v: Double): String = f"$v%.2f".replace('.', ',')

  /** Seeded TSH value for doc i: 0.10 .. 5.09, two decimals. */
  def tshValue(i: Long): Double = (10 + h(i, "val") % 500) / 100.0

  /** The TSH line(s) a doc's carrier span contains, possibly level-dependent
    * (family 14 simulates optimum binarization corrupting the digits).
    */
  def tshLines(i: Long, level: String): Seq[String] = {
    val v = tshValue(i)
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
      case 11 => Seq(s"TSH ${fr(v)}", s"TSH ${fr(v + 1.0)}") // tie -> line order (Q7)
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
  def glyValue(i: Long, k: Int, j: Int): Double =
    (70 + h(i, k, j, "gly") % 60) / 100.0
  /** Seeded hemoglobin value: 11.5 .. 17.4 g/dL. */
  def hbValue(i: Long, k: Int, j: Int): Double =
    (115 + h(i, k, j, "hb") % 60) / 10.0
  /** Seeded per-doc report date, French dd/MM/yyyy rendering. */
  def reportDate(i: Long): String = {
    val d = 1 + (h(i, "rd_day") % 28).toInt
    val m = 1 + (h(i, "rd_mon") % 12).toInt
    val y = 2023 + (h(i, "rd_yr") % 2).toInt
    f"$d%02d/$m%02d/$y%04d"
  }

  /** One filler line: the glycemia / hemoglobin templates render a
    * seeded per-(doc,span,slot) value so a second (and third) analyte
    * family exists in the corpus with varied values, like TSH.
    */
  private def fillerLine(i: Long, k: Int, j: Int, salt: String): String =
    pick(Fillers, i, k, j, salt) match {
      case f if f.startsWith("Glycémie") => s"Glycémie ${fr(glyValue(i, k, j))} g/L"
      case f if f.startsWith("Hémoglobine") => s"Hémoglobine ${fr(hbValue(i, k, j))} g/dL"
      case f => f
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

  /** Full (uncropped) page lines for media span k of doc i at a level.
    * Level only matters for family 14 (Q2) and the `hard` tag, which
    * hides the TSH lines from light+premium (optimum's binarization
    * rescue analog, `ocr_engine.py:234-246`).
    */
  def pageLines(i: Long, k: Int, level: String, isCarrier: Boolean): Seq[String] = {
    if (isUnreadable(i)) return Seq.empty
    // page header carries the report date (like a real lab report); it
    // sits in the top 35%, so light/premium lose it to the crop and the
    // date entity is an optimum/full-text extraction
    val header = Seq(s"Prélèvement du ${reportDate(i)}")
    val nf = 4 + (h(i, k, "nf") % 6).toInt
    val fillers = (0 until nf).map(j => fillerLine(i, k, j, "fill"))
    val tsh =
      if (!isCarrier) Seq.empty
      else if (isHard(i) && family(i) != FamQ2 && level != "optimum") Seq.empty
      else tshLines(i, level)
    if (tsh.isEmpty) header ++ fillers
    else {
      val p =
        if (family(i) == FamQ2) nf // keep inside the light/premium bottom-65% crop
        else (h(i, "pos") % (nf + 1)).toInt
      val (a, b) = fillers.splitAt(p)
      header ++ a ++ tsh ++ b
    }
  }

  /** Bottom-crop analog of `preprocess_for_bio` (`ocr_engine.py:39`):
    * light AND premium keep the bottom 65% of lines (both call
    * `preprocess_for_bio`, `ocr_engine.py:127,171`); optimum does not
    * crop (`ocr_engine.py:219-246` upscales + binarizes the full page).
    */
  def crop(lines: Seq[String]): Seq[String] = lines.drop((0.35 * lines.length).toInt)

  /** Inline text of text-span k (identical at every level — text spans
    * are not OCR'd).
    */
  def textSpanText(i: Long, k: Int, isCarrier: Boolean): String = {
    val nf = 1 + (h(i, k, "tf") % 3).toInt
    val fillers = (0 until nf).map(j => fillerLine(i, k, j, "tfill"))
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
