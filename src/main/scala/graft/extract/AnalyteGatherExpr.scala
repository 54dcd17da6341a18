package graft.extract

import java.nio.charset.StandardCharsets
import java.util.regex.{Matcher, Pattern}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Coalesce, Expression, GetArrayItem, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** A gather regex compiled once per JVM, with its label scan tables.
  *
  * `starts` is null unless the pattern is a recognized label (see
  * [[GatherCore.startTable]]); then it is a bitmap over BMP chars of
  * every char a match can start at, and [[GatherCore.findLabel]] tries
  * `lookingAt()` only there instead of running `find()` at every char.
  * `seconds` ([[GatherCore.secondTable]]) narrows that further to the
  * chars a match can continue with, and `prefixes`
  * ([[GatherCore.prefixTable]]) the gather's byte scan to the ASCII
  * prefixes a match can start with.
  */
private[extract] final class GatherRegex(val pattern: Pattern) {
  lazy val starts: Array[Long] = GatherCore.startTable(pattern.pattern)
  lazy val seconds: Array[Long] = GatherCore.secondTable(pattern, starts)
  lazy val prefixes: Array[Int] = GatherCore.prefixTable(pattern, seconds)
}

/** Shared compiled core of the candidate gather — the single place the
  * N1/N3/N4/E1-E11 JVM semantics live, run by [[MultiAnalyteGather]].
  * Byte-equal to the HOF chain (the test-scope
  * `HofTwins.labelledCandidates` / `fallbackCandidates`); the golden
  * suite, the fused==HOF cross-validation tests and the q43
  * independent-Python oracle all pin it.
  */
private[extract] object GatherCore {

  val numP: Pattern = Pattern.compile(TshPatterns.Num)
  val rangeP: Pattern = Pattern.compile(TshPatterns.Range)
  val unitFbP: Pattern = Pattern.compile(TshPatterns.UnitFallback)

  /** Label/unit regexes by source string. Bounded: the SQL
    * `analyte_gather_candidates` takes arbitrary user patterns.
    */
  val CacheCap = 64
  private val cache = new java.util.LinkedHashMap[String, GatherRegex](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, GatherRegex]): Boolean =
      size > CacheCap
  }

  def regex(source: String): GatherRegex = cache.synchronized {
    cache.computeIfAbsent(source, s => new GatherRegex(Pattern.compile(s)))
  }

  def cacheSize: Int = cache.synchronized(cache.size)

  private val LeadingFlags = """(?s)(\(\?[iuU]+\))?(.*)""".r

  /** The top-level alternatives of `body` (inside one `(?:…)` group
    * spanning all of it, if there is one), or None when the body holds
    * something this split cannot see through: `\Q` quoting, a class
    * opening with `]`, an inline flag group, or unbalanced brackets.
    */
  private def alternatives(body: String): Option[Seq[String]] = {
    val alts = Seq.newBuilder[String]
    var depth = 0
    var inClass = 0
    var from = 0
    var spanningGroup = body.startsWith("(?:")
    var i = 0
    while (i < body.length) {
      val c = body.charAt(i)
      if (c == '\\') {
        if (i + 1 < body.length && body.charAt(i + 1) == 'Q') return None
        i += 1
      } else if (inClass > 0) {
        if (c == '[') inClass += 1
        else if (c == ']') inClass -= 1
      } else if (c == '[') {
        if (body.startsWith("]", i + 1) || body.startsWith("^]", i + 1)) return None
        inClass = 1
      } else if (c == '(') {
        if (body.startsWith("?", i + 1) && i + 2 < body.length &&
            "idmsucxU-".indexOf(body.charAt(i + 2)) >= 0) return None
        depth += 1
      } else if (c == ')') {
        depth -= 1
        if (depth < 0) return None
        if (depth == 0 && i < body.length - 1) spanningGroup = false
      } else if (c == '|' && depth == 0) {
        alts += body.substring(from, i)
        from = i + 1
        spanningGroup = false
      }
      i += 1
    }
    if (depth != 0 || inClass != 0) None
    else if (spanningGroup) alternatives(body.substring(3, body.length - 1))
    else Some((alts += body.substring(from)).result())
  }

  /** The label scan table of `label`, or null when it is not recognized.
    *
    * Recognized: optional leading inline flags drawn from `i`, `u`, `U`,
    * then top-level alternatives (optionally inside one spanning
    * `(?:…)` group) that each start with an ASCII letter or digit not
    * followed by `?`, `*` or `{`. Every match then starts at a char the
    * leading literal matches, so the table holds each BMP char `c` for
    * which `Pattern.compile(flags + atom).matcher(c).matches()` holds
    * for some leading atom: Java's own case folding decides.
    */
  private[extract] def startTable(label: String): Array[Long] = {
    val LeadingFlags(flagGroup, body) = label
    val flags = if (flagGroup == null) "" else flagGroup
    val atoms = alternatives(body) match {
      case Some(alts) if alts.forall(a => a.nonEmpty &&
          a.charAt(0) < 128 && Character.isLetterOrDigit(a.charAt(0)) &&
          (a.length == 1 || "?*{".indexOf(a.charAt(1)) < 0)) =>
        alts.map(_.charAt(0)).distinct
      case _ => return null
    }
    val bits = new Array[Long](1024)
    atoms.foreach { atom =>
      val m = Pattern.compile(flags + atom).matcher("")
      var c = 0
      while (c <= Character.MAX_VALUE) {
        if (m.reset(String.valueOf(c.toChar)).matches())
          bits(c >>> 6) |= 1L << c
        c += 1
      }
    }
    java.util.Arrays.copyOf(bits, bits.lastIndexWhere(_ != 0L) + 1)
  }

  /** The second-char table of a label with scan table `starts`: every
    * BMP char `d` such that, for some start char `c`, a match can begin
    * with `c` then `d` — `lookingAt()` on the two-char string succeeds
    * or hits its end — plus every surrogate. Null (no second check)
    * without a scan table, or when the label has a lookbehind, which
    * could read chars before the match that the two-char probe lacks.
    */
  private[extract] def secondTable(p: Pattern, starts: Array[Long]): Array[Long] = {
    if (starts == null || p.pattern.contains("(?<=") || p.pattern.contains("(?<!"))
      return null
    val bits = new Array[Long](1024)
    val m = p.matcher("")
    var c = 0
    while (c < starts.length * 64) {
      if (inTable(starts, c.toChar) && !Character.isSurrogate(c.toChar)) {
        val buf = new Array[Char](2)
        buf(0) = c.toChar
        var d = 0
        while (d <= Character.MAX_VALUE) {
          buf(1) = d.toChar
          if (Character.isSurrogate(d.toChar) || m.reset(new String(buf)).lookingAt() || m.hitEnd())
            bits(d >>> 6) |= 1L << d
          d += 1
        }
      }
      c += 1
    }
    java.util.Arrays.copyOf(bits, bits.lastIndexWhere(_ != 0L) + 1)
  }

  private def inTable(table: Array[Long], c: Int): Boolean = {
    val w = c >>> 6
    w < table.length && (table(w) & (1L << c)) != 0L
  }

  // entries of a prefix trie besides row numbers (row 0 is never an entry)
  private final val Dead = 0
  private final val Hit = -1
  /** The longest prefix a prefix trie probes, and its most rows. */
  private val PrefixDepth = 4
  private val PrefixRows = 256

  /** The prefix trie of a label with a second-char table: a label's ASCII
    * match prefixes, where `next(n * 128 + x)` is what follows row `n`'s
    * prefix with ASCII char `x` — [[Hit]], [[Dead]] or the row of the
    * longer prefix; entry '\n' stands for the line's end (N2 leaves no
    * break inside a line), and row 0 is the empty prefix. Built by
    * probing the label as [[secondTable]] does: a prefix `s` then ASCII
    * `x` is [[Hit]] when `lookingAt()` on `s + x` succeeds, [[Dead]] when
    * it fails without hitting the end (no line going on with `s + x`
    * there can match), and else a row of its own, or [[Hit]] once it is
    * [[PrefixDepth]] chars long or the trie has [[PrefixRows]] rows. At
    * the line's end, `s` is [[Hit]] exactly when `lookingAt()` succeeds
    * on `s` alone. Null exactly when `seconds` is.
    */
  private[extract] def prefixTable(p: Pattern, seconds: Array[Long]): Array[Int] = {
    if (seconds == null) return null
    val m = p.matcher("")
    val rows = scala.collection.mutable.ArrayBuffer("")
    val next = scala.collection.mutable.ArrayBuffer.empty[Int]
    var n = 0
    while (n < rows.size) {
      val s = rows(n)
      for (x <- 0 until 128) next += {
        val probe = if (x == '\n') s else s + x.toChar
        if (probe.nonEmpty && m.reset(probe).lookingAt()) Hit
        else if (x == '\n' || !m.hitEnd()) Dead
        else if (probe.length == PrefixDepth || rows.size == PrefixRows) Hit
        else { rows += probe; rows.size - 1 }
      }
      n += 1
    }
    next.toArray
  }

  /** `m.reset(line).find()`, as fast as the label allows: with a scan
    * table, `lookingAt()` runs only at positions whose char is in
    * `starts` (or is a surrogate) and whose next char, if any, is in
    * `seconds` (when that is not null), over a transparent,
    * non-anchoring region (set by [[labelMatcher]]), so lookbehind and
    * `\b` see the whole line. The first success is the leftmost match,
    * with the same start, end and groups `find()` would give. A line
    * with no such position never resets `m`: its state is read only
    * after a success.
    */
  private[extract] def findLabel(m: Matcher, starts: Array[Long],
      seconds: Array[Long], line: String): Boolean = {
    if (starts == null) return m.reset(line).find()
    val n = line.length
    var onLine = false
    var p = 0
    while (p < n) {
      val c = line.charAt(p)
      if (Character.isSurrogate(c) || (inTable(starts, c) &&
          (seconds == null || p + 1 == n || inTable(seconds, line.charAt(p + 1))))) {
        if (!onLine) { m.reset(line); onLine = true }
        if (m.region(p, n).lookingAt()) return true
      }
      p += 1
    }
    false
  }

  private[extract] def labelMatcher(p: Pattern): Matcher =
    p.matcher("").useTransparentBounds(true).useAnchoringBounds(false)

  private def toFloat(s: String): java.lang.Double = {
    if (s == null || s.isEmpty) return null
    val cleaned = s.replace(" ", "").replace(" ", "").replace(',', '.')
    try java.lang.Double.valueOf(cleaned)
    catch { case _: NumberFormatException => null }
  }

  private def adjustRef(raw: String): java.lang.Double = {
    if (raw == null || raw.isEmpty) return null
    if (raw.indexOf(',') >= 0 || raw.indexOf('.') >= 0) return toFloat(raw)
    val digits = raw.filter(Character.isDigit)
    if (digits.isEmpty) return null
    val v = try java.lang.Double.parseDouble(digits)
    catch { case _: NumberFormatException => return null }
    val n = digits.length
    if (n >= 4) v / 1000.0 else if (n == 3) v / 100.0 else v
  }

  // Locale.ROOT: Python str.lower() and Spark's lower() are locale-
  // independent; the JVM default is not (Turkish 'I' -> 'ı' would
  // silently change penalties/gates on such executors).
  private def lowerRoot(s: String): String =
    s.toLowerCase(java.util.Locale.ROOT)

  private def penaltyOf(label: String): Int = {
    val l = lowerRoot(label)
    if (l.contains("fallback")) 2
    else if (l.contains("tsh")) 0
    else if (l.contains("thyr")) 1
    else 3
  }

  private def row(hasRange: Int, penalty: Int, spanStart: Int,
      lineNo: Int, value: Double, unit: String, refMin: java.lang.Double,
      refMax: java.lang.Double, label: String): InternalRow =
    new GenericInternalRow(Array[Any](hasRange, penalty, spanStart, lineNo,
      value, if (unit == null) null else UTF8String.fromString(unit),
      refMin, refMax, UTF8String.fromString(label)))

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\f' || c == '\u000B'

  /** N1 on one line (no breaks in it): each run of `[ \t\f\x0B]`
    * becomes one space, text between rewrites is copied in bulk, and a
    * line with nothing to rewrite is returned as is.
    */
  private[extract] def normalized(line: String): String = {
    var sb: java.lang.StringBuilder = null
    val n = line.length
    var from = 0 // first char not yet copied to sb
    var i = 0
    while (i < n) {
      val c = line.charAt(i)
      if (isWs(c) && (c != ' ' || (i + 1 < n && isWs(line.charAt(i + 1))))) {
        if (sb == null) sb = new java.lang.StringBuilder(n)
        sb.append(line, from, i).append(' ')
        while (i + 1 < n && isWs(line.charAt(i + 1))) i += 1
        from = i + 1
      }
      i += 1
    }
    if (sb == null) line else sb.append(line, from, n).toString
  }

  private def isBreak(b: Byte): Boolean = b == '\n' || b == '\r'

  /** The BMP char of the UTF-8 sequence at `b(i)`, or -1 where the JDK
    * decoder would not give one char from it: a 4-byte sequence (a
    * surrogate pair) or malformed input (U+FFFD).
    */
  private def charAt(b: Array[Byte], i: Int, until: Int): Int = {
    val b0 = b(i) & 0xff
    if (b0 < 0x80) b0
    else if (b0 < 0xc2 || b0 >= 0xf0) -1
    else if (b0 < 0xe0) {
      if (i + 1 < until && (b(i + 1) & 0xc0) == 0x80) (b0 & 0x1f) << 6 | b(i + 1) & 0x3f
      else -1
    } else if (i + 2 < until && (b(i + 1) & 0xc0) == 0x80 && (b(i + 2) & 0xc0) == 0x80) {
      val c = (b0 & 0x0f) << 12 | (b(i + 1) & 0x3f) << 6 | b(i + 2) & 0x3f
      if (c < 0x800 || Character.isSurrogate(c.toChar)) -1 else c // overlong, or a surrogate
    } else -1
  }

  private def width(c: Int): Int = if (c < 0x80) 1 else if (c < 0x800) 2 else 3

  /** The end of the line of `b` starting at byte `from`: its first
    * `\n`/`\r` byte, or `until`.
    */
  private def lineEnd(b: Array[Byte], from: Int, until: Int): Int = {
    var i = from
    while (i < until && !isBreak(b(i))) i += 1
    i
  }

  /** The first byte of the line after the one ending at `end` (a break
    * run is one split, as in N2).
    */
  private[extract] def nextLine(b: Array[Byte], end: Int, until: Int): Int = {
    var i = end + 1
    while (i < until && isBreak(b(i))) i += 1
    i
  }

  /** Walks the UTF-8 line of `b` starting at byte `from` and returns its
    * end ([[lineEnd]]), or `-end - 1` when the line has a hit: a char in
    * `firsts` followed, as N1 leaves the line (a whitespace run reads as
    * one ' '), by a char in `nexts`. A null `nexts` takes any next char,
    * and with `atEnd` a start char ending the line is a hit. With
    * `prefixes` (one trie per label), an ASCII start char is a hit only
    * where some trie reaches [[Hit]] from it. A 4-byte sequence or
    * malformed input is a hit wherever it stands, and a null `firsts`
    * makes every line a hit. Bytes are read in place, never decoded.
    */
  private[extract] def scanLine(b: Array[Byte], from: Int, until: Int, firsts: Array[Long],
      nexts: Array[Long], prefixes: Array[Array[Int]], atEnd: Boolean): Int = {
    if (firsts == null) return -lineEnd(b, from, until) - 1
    // the ASCII bytes to stop at, a break or a char of `firsts`, as two
    // 64-bit masks; every other ASCII byte is stepped over
    val lo = (if (firsts.length > 0) firsts(0) else 0L) | 1L << '\n' | 1L << '\r'
    val hi = if (firsts.length > 1) firsts(1) else 0L
    var i = from
    while (i < until) {
      val x = b(i)
      if (x >= 0 && ((if (x < 64) lo else hi) >>> x & 1L) == 0L) i += 1
      else {
        val c = charAt(b, i, until)
        if (c < 0) return -lineEnd(b, i, until) - 1
        if (c == '\n' || c == '\r') return i
        val j = i + width(c)
        if (inTable(firsts, c) && follows(b, j, until, c, nexts, prefixes, atEnd))
          return -lineEnd(b, j, until) - 1
        i = j
      }
    }
    until
  }

  /** Whether the chars from byte `j` on can follow a start char `c` (see
    * [[scanLine]]).
    */
  private def follows(b: Array[Byte], j: Int, until: Int, c: Int,
      nexts: Array[Long], prefixes: Array[Array[Int]], atEnd: Boolean): Boolean = {
    if (prefixes != null && c < 128) {
      var t = 0
      while (t < prefixes.length) {
        if (prefixHit(prefixes(t), b, j, until, c, nexts)) return true
        t += 1
      }
      return false
    }
    if (j == until || isBreak(b(j))) return atEnd
    val d = if (isWs(b(j).toChar)) ' ' else charAt(b, j, until)
    d < 0 || nexts == null || inTable(nexts, d)
  }

  /** Whether the trie `next` reaches [[Hit]] from ASCII start char `c`
    * over the chars from byte `j` on, as N1 leaves them. A non-ASCII
    * char is a hit where `nexts` allows it as the second char, and
    * anywhere further on.
    */
  private def prefixHit(next: Array[Int], b: Array[Byte], j: Int, until: Int, c: Int,
      nexts: Array[Long]): Boolean = {
    var e = next(c)
    var k = j
    while (e > 0) {
      val x =
        if (k == until || isBreak(b(k))) '\n'
        else if (isWs(b(k).toChar)) {
          while (k < until && isWs(b(k).toChar)) k += 1
          ' '
        } else if (b(k) >= 0) {
          k += 1
          b(k - 1).toInt
        } else {
          val d = charAt(b, k, until)
          return d < 0 || k > j || inTable(nexts, d)
        }
      e = next(e * 128 + x)
    }
    e == Hit
  }

  private def lowerTable(keep: String => Boolean): Array[Long] = {
    val bits = new Array[Long](1024)
    var c = 0
    while (c <= Character.MAX_VALUE) {
      if (!Character.isSurrogate(c.toChar) && keep(lowerRoot(String.valueOf(c.toChar))))
        bits(c >>> 6) |= 1L << c
      c += 1
    }
    java.util.Arrays.copyOf(bits, bits.lastIndexWhere(_ != 0L) + 1)
  }

  /** The chars whose ROOT lowercase ends with `u` and those whose ROOT
    * lowercase starts with `i` (U+0130 lowercases to "i\u0307"). Both
    * fallback markers, "mui" and "ui/l", hold "ui", which a line's
    * lowercase holds only where a char of the first set is followed by
    * one of the second: the [[muiFallback]] line filter. Java decides
    * the case mapping, as for the start tables.
    */
  val uEnds: Array[Long] = lowerTable(_.endsWith("u"))
  val iStarts: Array[Long] = lowerTable(_.startsWith("i"))

  /** E1-E6 labelled candidates of line `lineNo`, appended to `out`
    * (`HofTwins.labelledCandidates` semantics). `lm` comes from
    * [[labelMatcher]] over `labelRe`'s pattern.
    */
  private[extract] def labelled(line: String, lineNo: Int, lm: Matcher,
      labelRe: GatherRegex, nm: Matcher, rm: Matcher, um: Matcher,
      out: java.util.ArrayList[InternalRow]): Unit = {
    if (findLabel(lm, labelRe.starts, labelRe.seconds, line)) {
      val label = lm.group(0)
      val snippet = line.substring(lm.end())
      if (nm.reset(snippet).find()) {
        val value = toFloat(nm.group(0))
        if (value != null) {
          val numEnd = nm.end()
          // E4: unit in 25-char window after the value (Q10)
          val window = snippet.substring(numEnd,
            math.min(snippet.length, numEnd + 25))
          val unit = if (um.reset(window).find()) um.group(0) else null
          // E5: range search from the value end (tsh.py:167)
          rm.reset(snippet)
          var refMin: java.lang.Double = null
          var refMax: java.lang.Double = null
          if (rm.find(numEnd)) {
            refMin = adjustRef(rm.group(1))
            refMax = adjustRef(rm.group(2))
          }
          val hasRange = if (refMin != null && refMax != null) 0 else 1
          out.add(row(hasRange, penaltyOf(label), lm.start(), lineNo,
            value, unit, refMin, refMax, label))
        }
      }
    }
  }

  /** E7-E11 `_extract_tsh_from_mui_line` (tsh.py:189-239) on line
    * `lineNo`, appended to `out`: the unit-anchored fallback phase, which
    * the reference runs only for docs with zero labelled candidates
    * (tsh.py:259-264; `HofTwins.fallbackCandidates` semantics).
    */
  private[extract] def muiFallback(line: String, lineNo: Int, nm: Matcher,
      rm: Matcher, um: Matcher, out: java.util.ArrayList[InternalRow]): Unit = {
    val low = lowerRoot(line)
    if ((low.contains("mui") || low.contains("ui/l")) && um.reset(line).find()) {
      val unit = um.group(0)
      val before = line.substring(0, um.start())
      val after = line.substring(um.end())
      // E9: LAST number before the unit (Q8)
      nm.reset(before)
      var lastNum: String = null
      while (nm.find()) lastNum = nm.group(0)
      val value = toFloat(lastNum)
      if (value != null) {
        rm.reset(after)
        var refMin: java.lang.Double = null
        var refMax: java.lang.Double = null
        if (rm.find()) {
          refMin = adjustRef(rm.group(1))
          refMax = adjustRef(rm.group(2))
        }
        val hasRange = if (refMin != null && refMax != null) 0 else 1
        out.add(row(hasRange, 2, 0, lineNo, value, unit, refMin, refMax,
          TshPatterns.FallbackLabel))
      }
    }
  }

  /** The union of the configs' scan tables (null if any is null): a
    * line is decoded where some config's label could start.
    */
  private[extract] def union(tables: Array[Array[Long]]): Array[Long] =
    if (tables.contains(null)) null
    else if (tables.length == 1) tables(0)
    else {
      val bits = new Array[Long](tables.foldLeft(0)(_ max _.length))
      tables.foreach(t => t.indices.foreach(w => bits(w) |= t(w)))
      bits
    }

}

/** The candidate gather (G1, `parsers/tsh.py:246-266`) as ONE native
  * Catalyst Expression for TSH and every analyte: each configured
  * analyte is evaluated against a single line walk over the text's UTF-8
  * bytes per document, which decodes and normalizes only the lines where
  * some analyte's label could start (O(text + marked lines · analytes),
  * where one pass per analyte would re-run the N1 normalize per
  * analyte). This is preference
  * order (b) of SURVEY.md §7.5: a custom Expression (not a UDF) fusing
  * the ~10-regex-op per-line chain into one compiled pass, because the
  * interpreted HOF chain is allocation-bound and stops scaling with
  * cores.
  *
  * Returns one candidate array per config, in config order. Per config,
  * 1:1 with the reference:
  *  - N1 `_normalize_text` (tsh.py:37-44), N2 line split (tsh.py:248)
  *  - E1 gate + E2-E6 `_extract_tsh_from_labelled_line` (tsh.py:131-182)
  *    with the config's label/unit patterns
  *  - E7-E11 `_extract_tsh_from_mui_line` (tsh.py:189-239) when the
  *    config sets `muiFallback` and found zero labelled candidates
  *  - N3 `_to_float` (tsh.py:47-57), N4 `_adjust_ref_value` (tsh.py:59-93)
  * Candidate rows carry the (has_range, penalty, span_start, line_no)
  * sort key (G2/G3 + quirk Q7). Pinned against the test-scope HOF twins
  * (GoldenSpec, AnalyteSpec, PropertySpec), and through
  * `AnalyteExtract.withEntities` against the q43 independent-Python
  * oracle.
  */
case class MultiAnalyteGather(child: Expression, configs: Seq[AnalyteConfig])
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  override def inputTypes: Seq[Bridge.ADT] = Seq(StringType)

  override def dataType: DataType =
    ArrayType(MultiAnalyteGather.schema, containsNull = false)
  override def prettyName: String = "multi_analyte_gather"
  // plan strings name the configs instead of printing their regexes
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, configs.map(_.name).mkString("[", ", ", "]"))

  /** Real codegen, not CodegenFallback: the fallback would evaluate the
    * WHOLE subtree (child included) interpreted; this keeps the child
    * inside whole-stage codegen and hands its unboxed UTF8String to the
    * compiled gather core.
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("multiAnalyteGather", this)
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) " +
        s"$ref.evalCore($c);"
    })

  // compiled once per JVM (GatherCore's bounded cache), not per instance
  @transient private lazy val labels = configs.map(c => GatherCore.regex(c.label)).toArray
  @transient private lazy val units = configs.map(c => GatherCore.regex(c.unit).pattern).toArray
  @transient private lazy val fallbacks = configs.map(_.muiFallback).toArray
  @transient private lazy val firsts = GatherCore.union(labels.map(_.starts))
  @transient private lazy val nexts = GatherCore.union(labels.map(_.seconds))
  @transient private lazy val prefixes =
    if (labels.exists(_.prefixes == null)) null else labels.map(_.prefixes)

  override def nullSafeEval(input: Any): Any =
    evalCore(input.asInstanceOf[UTF8String])

  /** Shared by interpreted eval and generated code (public for janino).
    * Walks the text's UTF-8 bytes in place, once per phase, and decodes
    * and normalizes only the lines [[GatherCore.scanLine]] marks: for
    * the labelled phase, a line where some config's label could start
    * (each such line once, for every config); for the fallback phase,
    * a line whose lowercase can hold "ui". Line numbers count every line.
    */
  def evalCore(input: UTF8String): GenericArrayData = {
    val doc = input.getBaseObject match {
      case a: Array[Byte] => new DocGather(a,
        (input.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, input.numBytes)
      case _ => new DocGather(input.getBytes, 0, input.numBytes) // off-heap
    }
    doc.walk(fallback = false)
    // two-phase gather: fallback only if no labelled candidate
    var fallback = false
    var k = 0
    while (k < labels.length) {
      doc.fallbackOn(k) = fallbacks(k) && doc.outs(k).isEmpty
      fallback ||= doc.fallbackOn(k)
      k += 1
    }
    if (fallback) doc.walk(fallback = true)
    val arr = new Array[Any](labels.length)
    k = 0
    while (k < labels.length) {
      arr(k) = new GenericArrayData(doc.outs(k).toArray)
      k += 1
    }
    new GenericArrayData(arr)
  }

  /** One document's gather over `bytes(from until from + n)`. Its
    * matchers, one per pattern, are made on its first marked line.
    */
  private final class DocGather(bytes: Array[Byte], from: Int, n: Int) {
    val outs: Array[java.util.ArrayList[InternalRow]] =
      Array.fill(labels.length)(new java.util.ArrayList[InternalRow]())
    val fallbackOn = new Array[Boolean](labels.length)
    private var nm: Matcher = _
    private var rm: Matcher = _
    private var lms: Array[Matcher] = _
    private var ums: Array[Matcher] = _
    private var fm: Matcher = _

    def walk(fallback: Boolean): Unit = {
      val until = from + n
      var start = from
      var lineNo = 0
      while (true) {
        val r =
          if (fallback) GatherCore.scanLine(bytes, start, until, GatherCore.uEnds,
            GatherCore.iStarts, null, atEnd = false)
          else GatherCore.scanLine(bytes, start, until, firsts, nexts, prefixes, atEnd = true)
        val end = if (r < 0) -r - 1 else r
        if (r < 0) visit(GatherCore.normalized(new String(bytes, start, end - start,
          StandardCharsets.UTF_8)), lineNo, fallback)
        if (end == until) return
        start = GatherCore.nextLine(bytes, end, until)
        lineNo += 1
      }
    }

    private def visit(line: String, lineNo: Int, fallback: Boolean): Unit = {
      if (nm == null) {
        nm = GatherCore.numP.matcher("")
        rm = GatherCore.rangeP.matcher("")
        lms = labels.map(r => GatherCore.labelMatcher(r.pattern))
        ums = units.map(_.matcher(""))
        fm = GatherCore.unitFbP.matcher("")
      }
      var k = 0
      while (k < labels.length) {
        if (!fallback) GatherCore.labelled(line, lineNo, lms(k), labels(k), nm, rm, ums(k), outs(k))
        else if (fallbackOn(k)) GatherCore.muiFallback(line, lineNo, nm, rm, fm, outs(k))
        k += 1
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MultiAnalyteGather {
  /** One config's candidate array; the struct field order is the sort key. */
  val schema: DataType = ArrayType(StructType(Seq(
    StructField("has_range", IntegerType, nullable = false),
    StructField("penalty", IntegerType, nullable = false),
    StructField("span_start", IntegerType, nullable = false),
    StructField("line_no", IntegerType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("unit", StringType, nullable = true),
    StructField("ref_min", DoubleType, nullable = true),
    StructField("ref_max", DoubleType, nullable = true),
    StructField("label", StringType, nullable = false))), containsNull = false)

  // coalesce like N1 `_normalize_text` does (tsh.py:39-40): a null raw
  // yields empty candidate arrays, same as the HOF chain
  private def gather(raw: Expression, configs: Seq[AnalyteConfig]): Expression =
    MultiAnalyteGather(Coalesce(Seq(raw, Literal(""))), configs)

  def of(raw: Column, configs: Seq[AnalyteConfig]): Column =
    Bridge.column(gather(Bridge.expression(raw), configs))

  /** One config's candidates: element 0 of the gather over `Seq(cfg)`.
    * The DataFrame path and the SQL functions build this same form.
    */
  def one(raw: Expression, cfg: AnalyteConfig): Expression =
    GetArrayItem(gather(raw, Seq(cfg)), Literal(0))

  def one(raw: Column, cfg: AnalyteConfig): Column =
    Bridge.column(one(Bridge.expression(raw), cfg))
}
