package graft.corpus

import java.util.Locale

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

/** `Det.h` streams MurmurHash3 over the parts' renderings; these checks
  * pin it, and the prefix-sharing `Det.Key`, to the joined formula in
  * [[DetOracle]], and the corpus's Formatter-free renderings to
  * `String.format(Locale.ROOT, ...)` over their whole reachable domain.
  */
class DetSpec extends AnyFunSuite {

  private val LongEdges: Seq[Long] = {
    val pow = (0 to 18).map(e => BigInt(10).pow(e).toLong)
    Seq(0L, 1L, -1L, Long.MaxValue, Long.MinValue, Long.MaxValue - 1, Long.MinValue + 1,
      Int.MaxValue.toLong, Int.MinValue.toLong) ++
      pow.flatMap(p => Seq(p, p - 1, p + 1, -p, 1 - p)) ++
      Seq(100000000L, 99999999L, 10000000000000000L, 9999999999999999L, 1000000000000000000L)
  }

  private val Strings = IndexedSeq("", "a", "tag", "top", "conf", "media://doc00000007/3#tsh",
    "Glycémie", "µUI/mL", "é", "\u0000", "a\u0000b", "😀", "x😀",
    "\uD800", "\uDFFF", "￿", "耀老", "TSH\t\t4 000,5", " ")

  private def randomPart(rnd: Random): Any = rnd.nextInt(9) match {
    case 0 => LongEdges(rnd.nextInt(LongEdges.length))
    case 1 => rnd.nextLong()
    case 2 => rnd.nextInt(100000).toLong
    case 3 => rnd.nextInt()
    case 4 => rnd.nextInt(20)
    case 5 => Strings(rnd.nextInt(Strings.length))
    case 6 => Seq.fill(rnd.nextInt(6))(rnd.nextInt(0x10000).toChar).mkString
    case 7 => rnd.nextDouble() * 1000
    case _ => rnd.nextBoolean()
  }

  private def randomParts(rnd: Random): Seq[Any] = Seq.fill(rnd.nextInt(6))(randomPart(rnd))

  test("Det.h == the joined-string formula on random part lists") {
    val rnd = new Random(42)
    val lengths = Seq.fill(5000) {
      val parts = randomParts(rnd)
      assert(Det.h(parts: _*) == DetOracle.h(parts: _*), parts.map(p => s"$p: ${p.getClass}"))
      parts.mkString("\u0000").length
    }
    // non-vacuous: both mix parities and every part shape came up
    assert(lengths.exists(_ % 2 == 0) && lengths.exists(_ % 2 == 1))
    assert(Det.h() == DetOracle.h())
    for (v <- LongEdges) {
      assert(Det.h(v) == DetOracle.h(v), s"Long $v")
      assert(Det.h(v, "x") == DetOracle.h(v, "x"), s"Long $v")
      assert(Det.h("x", v) == DetOracle.h("x", v), s"Long $v")
    }
    for (v <- Seq(0, 7, -7, Int.MaxValue, Int.MinValue)) assert(Det.h(v, v) == DetOracle.h(v, v))
    for (v <- Seq[Any](1.5, -0.0, Double.NaN, true, false, 'c', null, 3.toShort, BigInt(-12)))
      assert(Det.h(v, "p", v) == DetOracle.h(v, "p", v), s"$v")
  }

  test("a key continued from a copied prefix == the hash of the whole list") {
    val rnd = new Random(7)
    for (_ <- 0 until 3000) {
      val parts = randomParts(rnd) :+ randomPart(rnd)
      val split = rnd.nextInt(parts.length)
      val prefix = new Det.Key
      parts.take(split).foreach {
        // the typed overloads and the Any one must agree
        case v: Long if rnd.nextBoolean() => prefix.part(v)
        case s: String if rnd.nextBoolean() =>
          val pad = "<<" + s + ">"
          prefix.part(pad, 2, 2 + s.length)
        case p => prefix.part(p)
      }
      val before = prefix.hash("probe")
      val forked = prefix.copy
      parts.slice(split, parts.length - 1).foreach(p => forked.part(p))
      assert(forked.hash(parts.last) == DetOracle.h(parts: _*), parts)
      // hash leaves the key as it was; the fork does not touch the prefix
      assert(forked.hash(parts.last) == DetOracle.h(parts: _*), parts)
      assert(prefix.hash("probe") == before)
      assert(before == DetOracle.h(parts.take(split) :+ "probe": _*))
    }
  }

  private def fmt(pattern: String, args: Any*): String =
    String.format(Locale.ROOT, pattern, args.map(_.asInstanceOf[AnyRef]): _*)

  test("fr == %.2f with a decimal comma over every reachable value") {
    for (c <- 10 to 509) {
      assert(Corpus.fr(c) == fmt("%.2f", c / 100.0).replace('.', ','), s"TSH $c")
      assert(Corpus.fr(c + 100) == fmt("%.2f", c / 100.0 + 1.0).replace('.', ','), s"TSH+1 $c")
    }
    for (c <- 70 to 129) assert(Corpus.fr(c) == fmt("%.2f", c / 100.0).replace('.', ','))
    for (t <- 115 to 174) assert(Corpus.fr(10 * t) == fmt("%.2f", t / 10.0).replace('.', ','))
  }

  test("reportDate and docId renderings == their Formatter patterns") {
    for (d <- 1 to 28; m <- 1 to 12; y <- 2023 to 2024)
      assert(Corpus.dateText(d, m, y) == fmt("%02d/%02d/%04d", d, m, y))
    for (i <- Seq(0L, 9L, 10000000L, 99999999L, 100000000L, 1234567890L, -1L, -1234567L,
        Long.MaxValue, Long.MinValue))
      assert(Corpus.docId(i) == fmt("doc%08d", i), s"doc $i")
    // reportDate's fields come from Det.h exactly as before
    for (i <- 0L until 500L) {
      val (d, m, y) = (1 + DetOracle.h(i, "rd_day") % 28, 1 + DetOracle.h(i, "rd_mon") % 12,
        2023 + DetOracle.h(i, "rd_yr") % 2)
      assert(Corpus.reportDate(i) == fmt("%02d/%02d/%04d", d, m, y))
    }
  }
}
