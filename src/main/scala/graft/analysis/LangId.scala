package graft.analysis

import java.util.Locale

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.Bridge.{ADT => AbstractDataType}
import org.apache.spark.unsafe.types.UTF8String

/** Char-n-gram language identification (Cavnar & Trenkle-style profile
  * matching, cosine-scored): each language carries an L2-normalized
  * char-TRIGRAM frequency profile derived from a small built-in
  * function-word list, a document scores `dot(docTrigramCounts,
  * profile_l)` per language, and the prediction is the argmax (first
  * declared wins ties; `"und"` when every score is zero — no letters,
  * or no trigram shared with any profile).
  *
  * L2 normalization is load-bearing: with unit-L2 profiles the argmax
  * is the COSINE argmax (the doc-side norm is constant across
  * languages), so by Cauchy-Schwarz a text drawn exactly from a
  * language's own profile distribution always classifies as that
  * language — the self-consistency test pins this for all
  * [[LangProfiles.Languages]].
  *
  * This is the >=20-language classifier the corpus reports bin by;
  * the 4-language marker-word pick ([[TextOps.markerLang]] over the
  * fused [[CurationFeatures]] counts) stays the cheap default. Both
  * are PURE functions of the text column, so either can be
  * passed to [[TextOps.corpusStats]]/[[TextOps.curate]]'s `langId`
  * parameter without breaking the staged-dedup purity invariant.
  *
  * Shared-table contract: the word lists below are the SINGLE source
  * of truth. `graft.LangProfileDump` exports them to
  * `fixtures/lang_profiles.json`, and the Python oracle mirror
  * (`fixtures/gen_lang_expected.py`) re-derives the trigram profiles
  * and re-scores independently from that JSON — change the lists, then
  * re-run `sbt "runMain graft.LangProfileDump fixtures/lang_profiles.json"`
  * and `python3 fixtures/gen_lang_expected.py`; never edit the JSON.
  *
  * Scale shape: scoring is map-only (one fused projection per row);
  * the profile table (~10k trigrams x L doubles) ships once per
  * executor as a TorrentBroadcast consumed inside [[LangNgramScores]]
  * — never as a `typedlit` plan literal (the HOF twin embeds the
  * literal and exists for cross-validation, same policy as the IVF
  * centroids in [[BroadcastDotProducts]]; a plan test asserts the
  * fused path stays literal-free).
  */
object LangProfiles {

  /** n-gram order (char trigrams). */
  val N = 3

  /** Per-language function-word lists (public linguistic common
    * knowledge; all lowercase). Declaration order is the tiebreak
    * order AND the score-vector layout — append only.
    */
  val Words: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "was", "that", "it",
      "with", "for", "as", "his", "on", "be", "at", "by", "had", "not",
      "are", "from", "this", "have", "which"),
    "fr" -> Seq("le", "la", "les", "de", "des", "du", "et", "est", "une",
      "un", "dans", "que", "qui", "pour", "sur", "avec", "pas", "au",
      "ce", "il", "elle", "sont", "plus", "mais"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "den", "dem",
      "ein", "eine", "mit", "auf", "für", "nicht", "sich", "auch",
      "als", "werden", "bei", "aus", "nach", "wird", "sind", "einer"),
    "es" -> Seq("el", "los", "las", "de", "del", "y", "es", "en", "un",
      "una", "que", "por", "con", "para", "se", "su", "al", "lo",
      "como", "más", "pero", "sus", "fue", "son"),
    "it" -> Seq("il", "la", "le", "gli", "di", "che", "e", "un", "una",
      "per", "con", "non", "sono", "del", "della", "si", "più", "come",
      "anche", "nel", "alla", "dei", "era", "questo"),
    "pt" -> Seq("o", "os", "as", "de", "do", "da", "que", "e", "um",
      "uma", "em", "para", "com", "não", "se", "por", "mais", "como",
      "dos", "das", "foi", "são", "pelo", "também"),
    "nl" -> Seq("de", "het", "een", "en", "van", "is", "dat", "op", "te",
      "zijn", "met", "voor", "niet", "aan", "er", "ook", "als", "bij",
      "maar", "om", "dit", "naar", "heeft", "werd"),
    "sv" -> Seq("och", "att", "det", "som", "en", "på", "är", "av",
      "för", "med", "den", "till", "inte", "har", "de", "om", "ett",
      "han", "men", "var", "sig", "från", "vid", "kan"),
    "da" -> Seq("og", "i", "at", "det", "er", "en", "til", "af", "der",
      "på", "med", "for", "ikke", "den", "han", "de", "som", "har",
      "et", "men", "var", "sig", "fra", "ved"),
    "no" -> Seq("og", "i", "er", "det", "som", "på", "en", "til", "av",
      "at", "han", "med", "for", "ikke", "den", "har", "de", "et",
      "om", "men", "var", "seg", "fra", "ble"),
    "fi" -> Seq("ja", "on", "ei", "että", "hän", "se", "oli", "joka",
      "mutta", "kun", "niin", "myös", "ovat", "sen", "tämä", "kuin",
      "mukaan", "vuonna", "hänen", "jo", "ole", "sekä", "tai", "olla"),
    "pl" -> Seq("i", "w", "nie", "na", "się", "z", "do", "że", "jest",
      "to", "jak", "po", "co", "tak", "za", "od", "przez", "ale",
      "był", "czy", "oraz", "które", "być", "dla"),
    "cs" -> Seq("a", "se", "na", "je", "že", "v", "s", "do", "to",
      "jako", "za", "by", "po", "ale", "jeho", "který", "byl", "pro",
      "od", "nebo", "jsou", "také", "až", "podle"),
    "sk" -> Seq("a", "sa", "na", "je", "že", "v", "s", "do", "to",
      "ako", "za", "by", "po", "ale", "jeho", "ktorý", "bol", "pre",
      "od", "alebo", "sú", "tiež", "až", "podľa"),
    "ro" -> Seq("și", "de", "la", "în", "a", "care", "este", "cu", "pe",
      "pentru", "din", "se", "nu", "mai", "o", "un", "ca", "al",
      "sau", "dar", "au", "fost", "după", "către"),
    "hu" -> Seq("a", "az", "és", "hogy", "nem", "is", "egy", "van",
      "volt", "meg", "de", "ez", "el", "mint", "ki", "még", "csak",
      "már", "ha", "fel", "igen", "lehet", "után", "között"),
    "tr" -> Seq("bir", "ve", "bu", "da", "de", "için", "ile", "olarak",
      "çok", "daha", "en", "gibi", "kadar", "sonra", "ama", "ancak",
      "olan", "değil", "her", "ne", "olduğu", "göre", "kendi", "yıl"),
    "id" -> Seq("yang", "dan", "di", "itu", "dengan", "untuk", "tidak",
      "ini", "dari", "dalam", "akan", "pada", "juga", "ke", "karena",
      "ada", "mereka", "sudah", "saya", "kita", "tersebut", "bisa",
      "oleh", "telah"),
    "ca" -> Seq("el", "la", "els", "les", "de", "del", "i", "és", "en",
      "un", "una", "que", "per", "amb", "no", "es", "al", "més",
      "com", "dels", "ha", "va", "també", "aquest"),
    "hr" -> Seq("je", "i", "u", "se", "na", "za", "da", "su", "s",
      "od", "koji", "što", "ali", "iz", "kao", "do", "će", "bio",
      "ili", "po", "nije", "samo", "godine", "može"),
    "sl" -> Seq("je", "in", "se", "na", "za", "da", "so", "z", "v",
      "ki", "kot", "pa", "po", "do", "iz", "bil", "ali", "tudi",
      "še", "bo", "lahko", "med", "bilo", "leta"),
    "et" -> Seq("ja", "on", "ei", "et", "see", "oli", "ka", "kui",
      "ta", "mis", "ning", "või", "aga", "oma", "selle", "siis",
      "nii", "veel", "juba", "kes", "välja", "üle", "olid", "kuid"),
    "lt" -> Seq("ir", "yra", "kad", "į", "su", "tai", "bet", "iš",
      "apie", "kaip", "buvo", "jis", "ji", "jo", "jos", "už", "per",
      "nuo", "prie", "taip", "dar", "tik", "po", "metų"),
    "lv" -> Seq("un", "ir", "ka", "uz", "ar", "par", "bet", "no",
      "kā", "tas", "viņš", "viņa", "tika", "arī", "lai", "jau",
      "pēc", "tikai", "vēl", "kas", "gada", "savu", "pret", "līdz"),
    "ru" -> Seq("и", "в", "не", "на", "что", "он", "с", "как", "это",
      "по", "но", "его", "из", "у", "за", "то", "же", "бы", "от",
      "она", "так", "был", "для", "при"),
    "el" -> Seq("και", "το", "η", "ο", "να", "του", "της", "με", "που",
      "για", "από", "στο", "είναι", "τα", "δεν", "οι", "θα", "τον",
      "την", "ως", "αλλά", "στην", "είχε", "κατά"))

  /** Score-vector layout and tiebreak order. */
  val Languages: Seq[String] = Words.map(_._1)

  /** The shared normal form: letter runs of `lower(text)` joined by
    * single spaces, one pad space each side (`" w1 w2 "`); letters are
    * Unicode `\p{L}` code points (Character.isLetter). Trigrams are
    * then CODE-POINT windows of this string — the Python mirror and
    * the HOF twin (Spark `substring`/`length` count code points too)
    * share the same coordinates.
    *
    * Lowercasing: this (driver-side, profile-building) form uses
    * Locale.ROOT; the FUSED row path lowers via `UTF8String
    * .toLowerCase` — i.e. exactly Spark's `lower()` — so the fused
    * expression and the HOF twin are byte-identical under EVERY JVM
    * default locale (Spark's non-ASCII slow path uses the default
    * locale; a tr_TR JVM maps 'I' -> U+0131 on both sides or
    * neither). The word lists are all-lowercase, so profiles are
    * locale-independent, and the Python mirror's `str.lower()`
    * matches ROOT-compatible locales (everything but tr/az).
    */
  def normalize(s: String): String =
    normalizeLowered(s.toLowerCase(Locale.ROOT))

  /** [[normalize]] minus the lowering — the caller lowers first. */
  def normalizeLowered(lower: String): String = {
    val sb = new java.lang.StringBuilder(lower.length + 2)
    sb.append(' ')
    var i = 0
    var inRun = false
    while (i < lower.length) {
      val cp = lower.codePointAt(i)
      if (Character.isLetter(cp)) { sb.appendCodePoint(cp); inRun = true }
      else if (inRun) { sb.append(' '); inRun = false }
      i += Character.charCount(cp)
    }
    if (inRun) sb.append(' ')
    sb.toString
  }

  private def codePoints(s: String): Array[Int] = {
    val out = new Array[Int](s.codePointCount(0, s.length))
    var i = 0
    var k = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      out(k) = cp
      k += 1
      i += Character.charCount(cp)
    }
    out
  }

  /** lang -> (trigram -> weight): trigram counts over the normalized
    * word list (`" w1 w2 ... "`), L2-normalized per language.
    */
  lazy val profiles: Seq[(String, Map[String, Double])] = Words.map {
    case (l, ws) =>
      val cps = codePoints(normalize(ws.mkString(" ")))
      val counts = scala.collection.mutable.LinkedHashMap.empty[String, Int]
      var i = 0
      while (i + N <= cps.length) {
        val g = new String(cps, i, N)
        counts.update(g, counts.getOrElse(g, 0) + 1)
        i += 1
      }
      val norm = math.sqrt(counts.valuesIterator.map(c => c.toDouble * c).sum)
      l -> counts.iterator.map { case (g, c) => g -> c / norm }.toMap
  }

  /** Dense lookup: trigram -> per-language weight vector (Languages
    * order; absent languages zero). The one object the fused
    * expression broadcasts.
    */
  lazy val table: java.util.HashMap[String, Array[Double]] = {
    val m = new java.util.HashMap[String, Array[Double]]()
    profiles.zipWithIndex.foreach { case ((_, p), li) =>
      p.foreach { case (g, w) =>
        var arr = m.get(g)
        if (arr == null) {
          arr = new Array[Double](Languages.length)
          m.put(g, arr)
        }
        arr(li) = w
      }
    }
    m
  }

  /** Ship the profile table once per executor (TorrentBroadcast) for
    * [[LangId.scores]] — the 100 TB path.
    */
  def broadcastTable(
      spark: SparkSession): Broadcast[java.util.HashMap[String, Array[Double]]] =
    spark.sparkContext.broadcast(table)
}

/** Fused per-row scorer: normalized-text code-point trigrams looked up
  * in the broadcast profile table, accumulated into one dense
  * `array<double>` of per-language scores (Languages order). Real
  * `doGenCode` calling the public `evalCore` (CodegenFallback would
  * re-run the child interpreted); byte-identical to the test-scope HOF
  * twin `HofTwins.scoresHof`.
  */
case class LangNgramScores(child: Expression,
    profiles: Broadcast[java.util.HashMap[String, Array[Double]]],
    nLangs: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "lang_ngram_scores"

  // resolved once per executor JVM from the block manager
  @transient private lazy val table: java.util.HashMap[String, Array[Double]] =
    profiles.value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("langScores", this)
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.evalCore($c);"
    })

  override def nullSafeEval(s: Any): Any =
    evalCore(s.asInstanceOf[UTF8String])

  /** Shared by interpreted eval and generated code (public for janino).
    * Lowers via UTF8String.toLowerCase = Spark's `lower()`, so the HOF
    * twin (which composes `lower(text)`) is byte-identical under every
    * JVM default locale (see [[LangProfiles.normalize]]).
    */
  def evalCore(s: UTF8String): GenericArrayData = {
    val norm = LangProfiles.normalizeLowered(s.toLowerCase.toString)
    val out = new Array[Double](nLangs)
    // walk trigrams over CODE POINTS (mirrors substring/length in the
    // HOF twin and Python slicing in the oracle mirror)
    val cps = new Array[Int](norm.codePointCount(0, norm.length))
    var i = 0
    var k = 0
    while (i < norm.length) {
      val cp = norm.codePointAt(i)
      cps(k) = cp
      k += 1
      i += Character.charCount(cp)
    }
    var p = 0
    while (p + LangProfiles.N <= cps.length) {
      val w = table.get(new String(cps, p, LangProfiles.N))
      if (w != null) {
        var li = 0
        while (li < nLangs) { out(li) += w(li); li += 1 }
      }
      p += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column-level API for the n-gram classifier. */
object LangId {
  import org.apache.spark.sql.graftbridge.Bridge
  import LangProfiles.{Languages, N}

  /** Per-language scores, fused + broadcast (the production path). */
  def scores(text: Column,
      profiles: Broadcast[java.util.HashMap[String, Array[Double]]]): Column =
    Bridge.column(
      LangNgramScores(Bridge.expression(text), profiles, Languages.length))

  /** Argmax over a [[scores]] vector: first-declared language wins
    * ties (same rule as [[TextOps.markerLang]]); all-zero scores (no
    * letters / nothing shared with any profile) -> `"und"`.
    *
    * Encoded as `array_position(scores, array_max(scores))` — the
    * FIRST index holding the max, which IS the first-declared
    * tiebreak. Never a nested `when` fold over the languages: it
    * references its accumulator twice per step, so its tree doubles
    * per language — a 2^26-node driver OOM at 26 languages. Double
    * equality is exact because array_max returns one of the array's
    * own elements and no score is ever NaN or -0.0 (sums of
    * non-negative weights from 0.0).
    */
  def best(scores: Column): Column =
    when(array_max(scores) > 0.0,
      element_at(typedlit(Languages),
        array_position(scores, array_max(scores)).cast("int")))
      .otherwise(lit("und"))

  /** One-call form: classify `text` with the broadcast table. */
  def predict(text: Column,
      profiles: Broadcast[java.util.HashMap[String, Array[Double]]]): Column =
    best(scores(text, profiles))
}
