package graft.analysis

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.graftbridge.Bridge.{ADT => AbstractDataType}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused one-pass curation feature extractor — the one text-feature
  * encoding (the hygiene projection [[TextOps.curationFeatures]],
  * q20/q21/q49/q50/q59): its regex twin, kept in test scope
  * (`HofTwins.qualityFeatures` / `langIdScores`), pays SEVEN separate
  * regex passes per document (token count, punct count, stopword
  * count, four language-marker counts); this computes all of them in
  * three plain character walks (token/boundary walk over the lowered
  * text, punct walk over the original, one marker scan per word list
  * over the lowered text — scans, not NFA regex machinery).
  *
  * Semantics are EXACTLY the regex twin's (a test pins byte-equality
  * against it over the corpus plus adversarial inputs):
  *
  *  - n_tokens: maximal `[\p{L}0-9']+` runs over lower(text) —
  *    code-point walk, `Character.isLetter` is precisely `\p{L}`
  *    (categories Lu/Ll/Lt/Lm/Lo), digits are ASCII only, the
  *    apostrophe is the literal `'`.
  *  - n_punct: code points of the ORIGINAL text matching
  *    `[^\p{L}0-9\s]` — Java's default `\s` is the ASCII set
  *    `[ \t\n\x0B\f\r]`, NOT Unicode whitespace.
  *  - n_stopwords / s_en / s_fr / s_de / s_es: non-overlapping
  *    leftmost `\b(?:w1|w2|...)\b` matches over lower(text). Java's
  *    `\b` word test is `_ | Character.isLetterOrDigit` on CODE POINTS
  *    (the documented \b/\w inconsistency: \w is ASCII, \b is not) —
  *    so `a` does NOT match inside `aß` (ß is a letter) but DOES
  *    before `_`-free punctuation; a randomized property test pins
  *    these edges against the compiled java.util.regex patterns.
  *    Alternation is first-match-in-list-order at each position,
  *    scanning resumes past a match.
  *  - n_chars: code-point count of the original (Spark `length`).
  *
  * Null text -> null struct (standard UnaryExpression null handling);
  * the word lists come from TextOps ([[TextOps.Stopwords]],
  * [[TextOps.LangMarkerWords]]) — the same source the twin's regexes
  * are built from, so the two encodings cannot drift by edit.
  */
case class CurationFeatures(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = CurationFeatures.schema
  override def prettyName: String = "curation_features"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  /** Real codegen: the child stays inside whole-stage codegen and
    * hands its UTF8String to the compiled core (CodegenFallback would
    * re-evaluate the child subtree interpreted).
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("curationFeatures", this)
      s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $ref.evalCore($c);"
    })

  override def nullSafeEval(input: Any): Any =
    evalCore(input.asInstanceOf[UTF8String])

  // word lists frozen at plan time (arrays of char arrays for the scan)
  @transient private lazy val wordSets: Array[Array[String]] =
    (TextOps.Stopwords +: TextOps.LangMarkerWords.map(_._2))
      .map(_.toArray).toArray

  /** JDK Pattern.Bound's hasBaseCharacter, verbatim: scanning backward
    * (char-by-char, as the JDK does) from `start`, skip non-spacing
    * marks; the run counts as word-attached iff it bottoms out on a
    * letter-or-digit.
    */
  private def hasBase(s: String, start: Int): Boolean = {
    var x = start
    while (x >= 0) {
      val cp = s.codePointAt(x)
      if (Character.isLetterOrDigit(cp)) return true
      if (Character.getType(cp) != Character.NON_SPACING_MARK) return false
      x -= 1
    }
    false
  }

  /** Java regex \b's word predicate (JDK Pattern.Bound without
    * UNICODE_CHARACTER_CLASS), on full code points: underscore,
    * Unicode letter-or-digit, OR a non-spacing mark attached to a
    * word base (so "i" + combining-dot — İ's lowercase — does not
    * open a boundary mid-grapheme).
    */
  private def isWordAt(s: String, idx: Int): Boolean = {
    val cp = s.codePointAt(idx)
    cp == '_' || Character.isLetterOrDigit(cp) ||
      (Character.getType(cp) == Character.NON_SPACING_MARK && hasBase(s, idx))
  }

  private def isWordBefore(s: String, i: Int): Boolean = {
    val cp = s.codePointBefore(i)
    cp == '_' || Character.isLetterOrDigit(cp) ||
      (Character.getType(cp) == Character.NON_SPACING_MARK &&
        hasBase(s, i - Character.charCount(cp)))
  }

  /** Non-overlapping leftmost `\b(?:words)\b` count (see class doc). */
  private def countMarkers(s: String, words: Array[String]): Int = {
    val len = s.length
    var count = 0
    var i = 0
    while (i < len) {
      var advanced = false
      // \b before the (word-char-initial) marker: previous CODE POINT
      // not a word char — codePointBefore decodes a surrogate pair
      if (i == 0 || !isWordBefore(s, i)) {
        var w = 0
        while (!advanced && w < words.length) {
          val word = words(w)
          val j = i + word.length
          if (j <= len && s.regionMatches(i, word, 0, word.length) &&
              (j == len || !isWordAt(s, j))) {
            count += 1
            i = j
            advanced = true
          }
          w += 1
        }
      }
      if (!advanced) i += 1
    }
    count
  }

  /** Shared by interpreted eval and generated code (public for janino). */
  def evalCore(text: UTF8String): GenericInternalRow = {
    val original = text.toString
    // the regex twins run over lower(text): same lowering, then walk
    val lower = text.toLowerCase.toString
    // token runs + char count over the lowered text
    var nTokens = 0
    var inRun = false
    var i = 0
    while (i < lower.length) {
      val cp = lower.codePointAt(i)
      val tok = Character.isLetter(cp) || (cp >= '0' && cp <= '9') || cp == '\''
      if (tok && !inRun) nTokens += 1
      inRun = tok
      i += Character.charCount(cp)
    }
    // punct + code-point count over the ORIGINAL text
    var nPunct = 0
    var nChars = 0
    i = 0
    while (i < original.length) {
      val cp = original.codePointAt(i)
      nChars += 1
      val space = cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B ||
        cp == '\f' || cp == '\r'
      if (!space && !Character.isLetter(cp) && !(cp >= '0' && cp <= '9'))
        nPunct += 1
      i += Character.charCount(cp)
    }
    val row = new GenericInternalRow(8)
    row.update(0, nTokens)
    row.update(1, nPunct)
    row.update(2, countMarkers(lower, wordSets(0)))
    row.update(3, countMarkers(lower, wordSets(1)))
    row.update(4, countMarkers(lower, wordSets(2)))
    row.update(5, countMarkers(lower, wordSets(3)))
    row.update(6, countMarkers(lower, wordSets(4)))
    row.update(7, nChars)
    row
  }
}

object CurationFeatures {
  val schema: DataType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_punct", IntegerType, nullable = false),
    StructField("n_stopwords", IntegerType, nullable = false),
    StructField("s_en", IntegerType, nullable = false),
    StructField("s_fr", IntegerType, nullable = false),
    StructField("s_de", IntegerType, nullable = false),
    StructField("s_es", IntegerType, nullable = false),
    StructField("n_chars", IntegerType, nullable = false)))

  def of(text: Column): Column =
    Bridge.column(CurationFeatures(Bridge.expression(text)))
}
