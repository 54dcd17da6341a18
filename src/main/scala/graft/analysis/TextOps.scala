package graft.analysis

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale training-data text operators over a `documents`-shaped
  * table (doc_id, text, ...). All per-doc features are pure map-side
  * expressions (no UDFs, no shuffle); the only shuffles are the
  * aggregations/joins that dedup fundamentally requires (group-by dup
  * key, LSH band bucket join) — each keyed and broadcast/AQE friendly
  * at the 10^12-doc scale this engine targets.
  */
object TextOps {

  /** Lowercased word tokens (letters/digits/apostrophe runs). */
  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[\\p{L}0-9']+"), lit(0))

  /** Whitespace + BPE-ish token count: word pieces of <=4 chars. */
  def tokenCount(text: Column): Column = size(tokens(text))
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[\\p{L}0-9]{1,4}|[^\\p{L}0-9\\s]"), lit(0)))

  // ---- exact dedup ---------------------------------------------------------
  /** Exact dedup on a normalized key: one shuffle (hash groupBy).
    * Returns one row per duplicate group: (key, n_dups, keeper_id).
    */
  def exactDupGroups(docs: DataFrame, key: Column, id: Column): DataFrame =
    docs.groupBy(key.as("dup_key"))
      .agg(count(lit(1)).as("n_dups"), min(id).as("keeper_id"))

  /** Keep one doc per exact-dup key (deterministic keeper = min id;
    * `id` must be unique AND non-null per row — every call site uses a
    * primary key. A null id never equals min(id), so null-id rows drop
    * instead of deduping — unlike the old window form, which kept one;
    * the tightened contract is deliberate and this line is its record).
    *
    * Shape matters at scale: keeper ids come from `groupBy(key).min(id)`
    * — a hash aggregation with MAP-SIDE partial aggregation, so a
    * 10^6-identical-key cluster costs one tiny (key, min_id) row per map
    * task — followed by a left_semi join back on the COMPOSITE (key, id),
    * which spreads even a mega-cluster's rows uniformly by id. The
    * previous `row_number() over (partition by key)` form had no partial
    * aggregation: it shipped every member of an identical-text cluster
    * (full text riding along) to ONE reducer before discarding all but
    * one — a skewed-key full shuffle, i.e. the scale-killer class.
    * Callers that dedup on text pass `xxhash64(text)` as the key so the
    * exchanges carry 8-byte keys, not multi-KB strings (collapsing two
    * 64-bit-colliding texts is an accepted 2^-64 event, the same
    * contract [[dedupCascade]] has always had).
    */
  def dedupExact(docs: DataFrame, key: Column, id: Column): DataFrame = {
    val keyed = docs.withColumn("__dedup_key", key)
    val keepers = keyed.groupBy(col("__dedup_key").as("__k"))
      .agg(min(id).as("__i"))
    // null-safe on the key: a null dup key is one group (matching the
    // old window semantics, where partitionBy grouped nulls together)
    keyed.join(keepers, col("__dedup_key") <=> col("__k") && id === col("__i"),
        "left_semi")
      .drop("__dedup_key")
  }

  // ---- quality / language heuristics (pure projections) -------------------
  /** Word lists are the single source of truth: the fused
    * [[CurationFeatures]] scanner AND its test-scope regex twin are
    * built from these — the two encodings must count identically
    * (byte-equality test).
    */
  private[graft] val Stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** Repetition / composition quality signals (the published web-corpus
    * filtering rule family: duplicate-line fraction, mean word length,
    * symbol-to-word ratio, ellipsis-line fraction, alphabetic-word
    * fraction) as ONE map-side struct projection — the standard gates a
    * pre-training pipeline applies alongside [[CurationFeatures]]'
    * length/stopword/punct counts. Every sub-expression is
    * DuckDB-expressible with identical IEEE arithmetic, so the whole
    * struct is exactly oracled (q57).
    */
  def repetitionSignals(text: Column): Column = {
    val lines = split(text, "\n")
    val nLines = size(lines)
    val toks = tokens(text)
    val n = size(toks)
    val dbl = "double"
    val dupLineFrac = when(nLines > 0,
      lit(1.0) - size(array_distinct(lines)).cast(dbl) / nLines).otherwise(0.0)
    val meanWordLen = when(n > 0,
      aggregate(toks, lit(0), (a, t) => a + length(t)).cast(dbl) / n).otherwise(0.0)
    val symbolRatio = when(n > 0,
      size(regexp_extract_all(text, lit("[#$%&*+=@^_|~]"), lit(0))).cast(dbl) / n)
      .otherwise(0.0)
    val ellipsisLineFrac = when(nLines > 0,
      size(filter(lines, l => l.endsWith("...") || l.endsWith("…"))).cast(dbl) / nLines)
      .otherwise(0.0)
    val alphaWordFrac = when(n > 0,
      size(filter(toks, t => t.rlike("\\p{L}"))).cast(dbl) / n).otherwise(0.0)
    struct(nLines.as("n_lines"), dupLineFrac.as("dup_line_frac"),
      meanWordLen.as("mean_word_len"), symbolRatio.as("symbol_ratio"),
      ellipsisLineFrac.as("ellipsis_line_frac"), alphaWordFrac.as("alpha_word_frac"))
  }

  /** Marker-word language-ID heuristic (n-gram-lite): per-language
    * marker-word hit counts ([[CurationFeatures]]' `s_<lang>` fields),
    * argmaxed with a fixed language-order tiebreak ([[markerLang]]).
    */
  private[graft] val LangMarkerWords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "was"),
    "fr" -> Seq("le", "la", "les", "des", "est", "une"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "los", "las", "es", "una"))

  /** The marker language of a [[CurationFeatures]] struct: the first
    * declared language holding the top score, so all-zero scores give
    * the first language ("en"), and so does null text (null struct).
    * Encoded like [[LangId.best]], as `array_position(scores,
    * array_max(scores))`, whose tree stays linear in the languages.
    */
  private[graft] def markerLang(cf: Column): Column = {
    val scores = array(LangMarkerWords.map { case (l, _) => cf.getField(s"s_$l") }: _*)
    coalesce(element_at(typedlit(LangMarkerWords.map(_._1)),
        array_position(scores, array_max(scores)).cast("int")),
      lit(LangMarkerWords.head._1))
  }

  // ---- markup strip / boilerplate removal (main-content extraction) --------
  /** HTML/markup -> main-content text, expression-only (north_rule's
    * "HTML boilerplate strip" surface): drop script/style/comment
    * blocks wholesale, turn block-level tags into line breaks, strip
    * remaining tags, decode the common entities (AFTER tag-strip, so a
    * decoded `&lt;tag&gt;` survives as literal text), collapse runs of
    * spaces and blank lines. Pure per-row projection — map-only at any
    * scale — and every pattern stays in the RE2-compatible subset (no
    * backreferences/lookaround) so the DuckDB oracle runs the exact
    * same regexes (q52).
    */
  def stripMarkup(html: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(stripMarkupExpr(Bridge.expression(html)))
  }

  /** The entity decode table, ORDERED: a fixed set of literal replaces
    * (never a general `&#\d+;` decoder — that would need a per-match
    * compute step neither RE2 nor the shared-with-DuckDB chain can
    * express) covering the named entities plus the numeric/hex
    * character references ubiquitous in real web text (`&#39;` etc. —
    * only the canonical lowercase-x hex spellings plus the uppercase
    * hex DIGIT variants emitted by common escapers; anything outside
    * this table survives literally, the documented contract). The
    * `&amp;`-family decodes LAST so double-encoded text degrades
    * conservatively: `&amp;lt;` becomes the literal `&lt;`, not `<`.
    * The q52 oracle SQL is GENERATED from this same list
    * (SparkEntry), so the two engines cannot drift.
    */
  private[graft] val EntityDecodes: Seq[(String, String)] = Seq(
    "&nbsp;" -> " ", "&#160;" -> " ", "&#xa0;" -> " ", "&#xA0;" -> " ",
    "&lt;" -> "<", "&#60;" -> "<", "&#x3c;" -> "<", "&#x3C;" -> "<",
    "&gt;" -> ">", "&#62;" -> ">", "&#x3e;" -> ">", "&#x3E;" -> ">",
    "&quot;" -> "\"", "&#34;" -> "\"", "&#x22;" -> "\"",
    "&apos;" -> "'", "&#39;" -> "'", "&#x27;" -> "'",
    "&mdash;" -> "—", "&ndash;" -> "–", "&hellip;" -> "…",
    // numeric amp forms BEFORE &amp; (which is the very last): the
    // numeric patterns cannot see inside "&amp;#38;" ("&" is followed
    // by "a"), so after &amp; -> "&" the residue "&#38;" stays LITERAL
    // — uniform conservative degrade for every double-encoded form
    "&#38;" -> "&", "&#x26;" -> "&", "&amp;" -> "&")

  /** The catalyst tree both surfaces share: the DataFrame path wraps it
    * in a Column, the SQL registration (GraftFunctions `strip_markup`)
    * returns it directly — one chain, impossible to fork. (A
    * Column-API tree bridged to an Expression at registration time
    * would reach codegen as an unresolved ColumnNodeExpression.)
    */
  private[graft] def stripMarkupExpr(
      html: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Expression => CE,
      Literal => CL, RegExpReplace, StringReplace, StringTrim}
    def rr(x: CE, p: String, r: String): CE =
      new RegExpReplace(x, CL(p), CL(r))
    def rep(x: CE, s: String, r: String): CE =
      StringReplace(x, CL(s), CL(r))
    val noScript = rr(html, "(?is)<script[^>]*>.*?</script>", "")
    val noStyle = rr(noScript, "(?is)<style[^>]*>.*?</style>", "")
    val noComment = rr(noStyle, "(?s)<!--.*?-->", "")
    val blockNl = rr(noComment,
      "(?i)</?(?:p|div|br|li|ul|ol|tr|table|h[1-6]|section|article|header|footer)[^>]*>",
      "\n")
    val noTags = rr(blockNl, "<[^>]+>", "")
    val ent = EntityDecodes.foldLeft(noTags) { case (e, (s, r)) => rep(e, s, r) }
    val sp = rr(ent, "[ \\t]+", " ")
    // StringTrim with no trim set strips SPACES only — pass the set to
    // drop the leading/trailing line breaks the block-tag rewrite leaves
    StringTrim(rr(sp, " *\\n+ *", "\n"), Some(CL(" \n")))
  }

  /** One (doc_id, line_no, line, line_key) row per line of each doc —
    * the shared base of the line-frequency boilerplate pass. Null-text
    * docs are dropped up front (what plain explode did implicitly, and
    * what DuckDB's unnest(string_split(NULL)) does); the explode is
    * then the _outer form so InferFiltersFromGenerate cannot push an
    * inferred size()>0 filter that re-inlines the text expression per
    * row (the InferFiltersFromGenerate re-inlining trap, see
    * Pipeline.extractRows — `text` may be a whole stripMarkup
    * chain). For non-null text, split never yields null or an empty
    * array, so outer == inner output.
    */
  private def explodedLines(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.filter(text.isNotNull)
      .select(id.as("doc_id"),
        posexplode_outer(split(text, "\n")).as(Seq("line_no", "line")))
      .select(col("doc_id"), col("line_no").cast("long").as("line_no"),
        col("line"), xxhash64(col("line")).as("line_key"))

  /** Line-frequency boilerplate detection (the DOM-free heuristic that
    * works on OCR'd and plain text too): a line appearing in >=
    * `minDocs` DISTINCT documents is boilerplate (nav bars, footers,
    * legal lines — content lines don't repeat across a corpus).
    * Returns (line_key, n_docs) per boilerplate line.
    *
    * Shape at 10^12 docs: two partial-agg shuffles on 8-byte keys —
    * (line_key, doc_id) collapse, then count per line_key — no text in
    * any exchange and no window anywhere; the ubiquitous line (every
    * doc's empty line) costs one row per map task per stage, same
    * argument as [[dedupExact]].
    */
  def boilerplateLines(docs: DataFrame, id: Column, text: Column,
      minDocs: Long): DataFrame =
    explodedLines(docs, id, text)
      .groupBy(col("line_key"), col("doc_id")).agg(count(lit(1)).as("__n"))
      .groupBy(col("line_key")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)

  /** Strip corpus-frequent boilerplate lines from every document:
    * [[boilerplateLines]] anti-joined back onto the exploded lines (the
    * boilerplate side is tiny by construction — distinct lines crossing
    * the minDocs bar — so AQE broadcasts it; a pathological corpus
    * degrades to an SMJ on the 8-byte key). The frequency side
    * RE-DERIVES the exploded base instead of materializing it: column
    * pruning reduces that second pass to (line_key, doc_id) — split +
    * hash, no text retained — and a map-parallel re-scan is the right
    * trade at corpus scale, where staging the full line set would cost
    * a second copy of the corpus (same deliberate two-scan shape as
    * [[dedupStaged]]). Returns the kept lines as
    * (doc_id, line_no, line) — callers reassemble with
    * `groupBy(doc_id).agg(concat_ws("\n", array_sort...))` when they
    * need the flat text, or feed the lines straight to the per-line
    * operators above.
    */
  def stripBoilerplate(docs: DataFrame, id: Column, text: Column,
      minDocs: Long, asDocs: Boolean = false): DataFrame = {
    val kept = explodedLines(docs, id, text)
      .join(boilerplateLines(docs, id, text, minDocs), Seq("line_key"),
        "left_anti")
      .select(col("doc_id"), col("line_no"), col("line"))
    if (asDocs) reassemble(kept) else kept
  }

  // ---- paragraph-level dedup (the CCNet/RefinedWeb-style pass) ------------
  /** Paragraph split: blank-line-separated blocks (a run of 2+
    * newlines ends a paragraph — text already normalized to `\n` line
    * breaks, which [[stripMarkup]]'s block rewrite and N1 both emit).
    * The one definition shared by every paragraph operator here and
    * the q71 DuckDB oracle (string_split_regex with the same RE2
    * pattern).
    */
  private val ParagraphSplit = "\n{2,}"

  /** One (doc_id, para_no, para, para_key) row per paragraph — the
    * paragraph-granularity [[explodedLines]] (same null-text drop,
    * same explode_outer discipline, same 8-byte xxhash64 key).
    */
  private def explodedParagraphs(docs: DataFrame, id: Column,
      text: Column): DataFrame =
    docs.filter(text.isNotNull)
      .select(id.as("doc_id"),
        posexplode_outer(split(text, ParagraphSplit)).as(Seq("para_no", "para")))
      .select(col("doc_id"), col("para_no").cast("long").as("para_no"),
        col("para"), xxhash64(col("para")).as("para_key"))

  /** Corpus-frequent boilerplate PARAGRAPHS: a paragraph appearing in
    * >= `minDocs` distinct documents (cookie banners, subscribe
    * blocks, license blurbs — the units the published paragraph-level
    * dedup passes remove, where a line-granularity pass would also
    * have to agree on line wrapping). Identical two-partial-agg
    * 8-byte-key shape as [[boilerplateLines]]; returns
    * (para_key, n_docs).
    */
  def boilerplateParagraphs(docs: DataFrame, id: Column, text: Column,
      minDocs: Long): DataFrame =
    explodedParagraphs(docs, id, text)
      .groupBy(col("para_key"), col("doc_id")).agg(count(lit(1)).as("__n"))
      .groupBy(col("para_key")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)

  /** Strip corpus-frequent paragraphs from every document — the
    * INTER-doc half of paragraph dedup ([[stripBoilerplate]]'s shape
    * one granularity up: anti-join against the tiny frequent set, the
    * frequency side re-derived column-pruned). Returns kept
    * (doc_id, para_no, para) rows, or whole documents rebuilt with
    * blank-line separators when `asDocs` (a doc whose every paragraph
    * was boilerplate disappears, like the line form).
    */
  def stripParagraphBoilerplate(docs: DataFrame, id: Column, text: Column,
      minDocs: Long, asDocs: Boolean = false): DataFrame = {
    val kept = explodedParagraphs(docs, id, text)
      .join(boilerplateParagraphs(docs, id, text, minDocs), Seq("para_key"),
        "left_anti")
      .select(col("doc_id"), col("para_no"), col("para"))
    if (asDocs)
      reassemble(kept.select(col("doc_id"), col("para_no").as("line_no"),
        col("para").as("line")), "\n\n")
    else kept
  }

  /** INTRA-doc paragraph dedup, map-only: keep each distinct
    * paragraph's FIRST occurrence, in order, and drop later repeats
    * (navigation blocks repeated top-and-bottom, template glitches) —
    * the per-document half of the pass, a pure projection with no
    * shuffle at any scale. The position scan is O(paragraphs^2) per
    * document, bounded by the document itself (the [[reassemble]]
    * argument). NOTE: `text` is referenced three times in the
    * expression tree — pass a COLUMN, not a computed chain
    * (withColumn the chain first; the tree-copy trap documented at
    * [[explodedLines]]).
    */
  def stripRepeatedParagraphs(text: Column): Column = {
    val paras = split(text, ParagraphSplit)
    array_join(
      filter(paras, (p, i) => array_position(paras, p) === i + 1),
      "\n\n")
  }

  /** Reassemble per-line rows back into one flat document per doc_id —
    * the step between "kept lines" and "cleaned corpus" that every
    * consumer of [[stripBoilerplate]] needs: lines sorted by line_no
    * and re-joined with `\n`. Inverse of the line split for any corpus
    * whose docs contain no boilerplate (a test pins
    * `reassemble(lines(d)) == d`); a doc whose EVERY line was stripped
    * disappears (no rows -> no group), and null-text docs were already
    * dropped at the split.
    *
    * Scale shape: one hash aggregation keyed by doc_id; `collect_list`
    * state here is bounded by the DOCUMENT'S OWN line count — the
    * output row itself — so unlike a cross-doc collect this cannot
    * concentrate a corpus on one task (one doc = one output row; a
    * single pathologically-huge document is an input-hygiene problem,
    * which is what [[CurationFeatures]]' length counts are for).
    */
  def reassemble(lines: DataFrame, sep: String = "\n"): DataFrame =
    lines.groupBy(col("doc_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("line_no"), col("line")))),
          x => x("line")),
        sep).as("text"))

  // ---- PII redaction / URL parsing (pre-training hygiene) -----------------
  /** PII redaction patterns, ORDERED (more specific first: SSN and
    * credit-card shapes before the generic phone pattern, email before
    * anything that could eat its digits). A fixed documented set —
    * emails, IPv6 then IPv4 addresses, US-SSN-shaped ids, credit-card-
    * shaped digit groups, and phone-shaped digit runs — in the
    * RE2-compatible subset (no lookaround/backreferences), so the q56
    * oracle runs the SAME chain in DuckDB; the SQL is GENERATED from
    * this list, one source of truth. Anything outside the set survives
    * (redaction here is a hygiene pass, not a compliance guarantee —
    * state-of-the-art PII needs NER, which is a model, not a regex).
    * Documented edges: the IPv6 shape is "4+ colon-separated hex
    * groups" — it catches full and most partially-shortened addresses
    * (and MAC-ish hex runs, acceptable over-redaction) but not
    * `::`-compressed forms, and a digits-only run with 3+ colons
    * (a pathological timestamp list) is over-redacted; the credit-card
    * shape is 4x4 digit groups (space/dash separated) or a bare
    * 16-digit run, no Luhn check (a regex pass redacts shapes, it
    * cannot validate).
    */
  val PiiRedactions: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b(?:[0-9A-Fa-f]{1,4}:){3,7}[0-9A-Fa-f]{1,4}\\b" -> "<IPV6>",
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" -> "<IP>",
    "\\b\\d{3}-\\d{2}-\\d{4}\\b" -> "<SSN>",
    "\\b(?:\\d{4}[ -]){3}\\d{4}\\b|\\b\\d{16}\\b" -> "<CC>",
    "(?:\\+\\d{1,3}[ .-]?)?(?:\\(\\d{2,4}\\)[ .-]?)?\\d{3,4}[ .-]\\d{3,4}(?:[ .-]\\d{3,4})?\\b" -> "<PHONE>")

  /** Redact the documented PII pattern set (map-only projection). Both
    * surfaces (this and the SQL-registered `redact_pii`) share the one
    * catalyst chain, like [[stripMarkup]].
    */
  def redactPii(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(redactPiiExpr(Bridge.expression(text)))
  }

  private[graft] def redactPiiExpr(
      text: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Literal => CL, RegExpReplace}
    PiiRedactions.foldLeft(text) { case (t, (re, tag)) =>
      new RegExpReplace(t, CL(re), CL(tag))
    }
  }

  /** Registered-host extraction from a URL-ish string: scheme and
    * userinfo dropped, host lowercased, one leading "www." stripped —
    * the key [[sourceQuota]] / per-domain dedup group on when the
    * source column is a raw URL. Same RE2-safe regex in the q56 oracle.
    */
  val UrlHostPattern: String =
    "^(?:[A-Za-z][A-Za-z0-9+.-]*://)?(?:[^/@ ]*@)?([^/:?# ]+)"
  def urlHost(url: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(urlHostExpr(Bridge.expression(url)))
  }

  private[graft] def urlHostExpr(
      url: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Literal => CL, Lower, RegExpExtract, RegExpReplace}
    new RegExpReplace(Lower(RegExpExtract(url, CL(UrlHostPattern), CL(1))),
      CL("^www\\."), CL(""))
  }

  // ---- fingerprinting ------------------------------------------------------
  /** Order-sensitive rolling document fingerprint (hash chaining over
    * tokens), expression-only via aggregate HOF. Chaining instead of a
    * polynomial keeps it ANSI-safe (no long overflow).
    */
  def fingerprint(text: Column): Column =
    aggregate(tokens(text), lit(1125899906842597L),
      (acc, t) => xxhash64(acc, t))

  /** SimHash over token hashes: per-bit majority vote of xxhash64(token),
    * as the one-pass Simhash64 expression — a HOF form's 64 per-bit
    * `aggregate`s each re-inline the tokenize+hash subtree (64 regex
    * passes per row once optimized). Cross-validated byte-identical
    * against the test-scope HOF twin.
    */
  def simhash(text: Column): Column =
    Simhash64.of(transform(tokens(text), t => xxhash64(t))).as("simhash")

  /** Hamming distance between two simhash values (expression-only). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: band the 64-bit simhash into `bands`
    * chunks; docs sharing ANY band chunk are candidates (pigeonhole: a
    * pair at Hamming distance <= bands-1 MUST agree on some band, so
    * recall is 1.0 for maxHamming < bands — deterministic, unlike
    * probabilistic LSH); exact-Hamming rerank once per deduped pair.
    * Same banded-self-join shuffle shape as the MinHash path.
    */
  def simhashDupPairs(docs: DataFrame, id: Column, text: Column,
      bands: Int = 4, maxHamming: Int = 3, maxBucket: Int = 4096,
      staging: Option[String] = None): DataFrame =
    bandedHammingPairs(docs.select(id.as("id"), simhash(text).as("sh")),
      col("id"), col("sh"), bands, maxHamming, maxBucket, staging,
      stagingName = "simhash_base")

  /** The banded chunk keys of a 64-bit hash: array of (band, bucket)
    * structs — the one band encoding, read by the batch self-join
    * ([[bandedHammingPairs]]) and by the streaming bucket machine
    * (`StreamingExtract.simhashDupStream`/`dhashDupStream`). Validates
    * the band arithmetic (bands=1 would wrap the mask to 0 — one global
    * bucket, a full quadratic self-join; a non-divisor of 64 would
    * silently leave the top 64 % bands bits out of every key).
    */
  def hammingBandKeys(hash: Column, bands: Int): Column = {
    require(bands >= 2 && 64 % bands == 0,
      s"bands must be >= 2 and divide 64, got $bands")
    val width = 64 / bands
    val mask = (1L << width) - 1
    array((0 until bands).map(b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(hash, b * width).bitwiseAND(lit(mask))
          .as("bucket"))): _*)
  }

  /** The banded-Hamming self-join behind [[simhashDupPairs]], exposed
    * for ANY 64-bit locality-sensitive hash column — text simhash,
    * media dHash ([[graft.media.BinaryOps.dhashDupPairs]]), audio
    * chromaprint-style hashes: band the hash into `bands` chunks; rows
    * sharing ANY chunk are candidates (pigeonhole: a pair at Hamming
    * distance <= bands-1 MUST agree on some band, so recall is 1.0 for
    * maxHamming < bands — deterministic, unlike probabilistic LSH);
    * exact-Hamming rerank once per deduped pair. Ids may be any
    * orderable type (longs for docs, "ref#frame" strings for media).
    * The self-join is [[Buckets.selfPairs]] and the barrier is the
    * MinHash path's ([[Staging]]).
    */
  def bandedHammingPairs(hashes: DataFrame, id: Column, hash: Column,
      bands: Int = 4, maxHamming: Int = 3, maxBucket: Int = 4096,
      staging: Option[String] = None,
      stagingName: String = "hamming_base"): DataFrame = {
    require(maxHamming < bands,
      s"pigeonhole guarantee needs maxHamming < bands ($maxHamming vs $bands)")
    val base = Staging.materialize(
      hashes.select(id.as("id"), hash.as("sh"))
        .withColumn("bk", explode_outer(hammingBandKeys(col("sh"), bands)))
        .select(col("id"), col("sh"), col("bk.band"), col("bk.bucket")),
      staging, stagingName)
    // rerank BEFORE the pair-dedup exchange: hamming is two codegen
    // instructions (bit_count(xor)), so re-evaluating it per band
    // collision is ~free, while the dropDuplicates exchange then
    // carries only the NEAR pairs as (id_a, id_b, hamming) rows — at
    // 8-bit dHash buckets the organic candidate set is orders of
    // magnitude larger than the near set, and shipping (sh_a, sh_b)
    // per candidate was the single biggest shuffle in the media-dedup
    // bench (25 MB -> KBs at sf0.01; guide §2.3 "shuffle fewer
    // bytes"). Identical result: hamming is a pure function of the
    // pair, so every surviving duplicate row is byte-identical and
    // dropDuplicates keeps the same (id_a, id_b, hamming) content.
    // (The MinHash path keeps the opposite order deliberately — its
    // rerank is a full set intersection, far dearer than an exchange.)
    Buckets.selfPairs(base, Seq("band", "bucket"), "id", "sh", maxBucket)
      .select(col("id_a"), col("id_b"),
        hamming(col("sh_a"), col("sh_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  // ---- n-gram Jaccard ------------------------------------------------------
  /** Jaccard similarity of distinct n-gram sets (map-side when the two
    * texts are already co-located in one row).
    */
  def jaccard(aSh: Column, bSh: Column): Column = {
    val inter = size(array_intersect(aSh, bSh))
    val union = size(array_union(aSh, bSh))
    when(union > 0, inter.cast("double") / union).otherwise(0.0)
  }

  // ---- MinHash + LSH near-dup ---------------------------------------------
  /** End-to-end MinHash-LSH near-dup candidate pairs with verified
    * n-gram Jaccard: shingle -> minhash -> band -> bucket self-join
    * (the one shuffle; banded so each bucket is small) -> exact-Jaccard
    * rerank. Returns (id_a, id_b, jaccard) with id_a < id_b.
    */
  def minhashDupPairs(docs: DataFrame, id: Column, text: Column,
      n: Int = 3, m: Int = 16, bands: Int = 4,
      minJaccard: Double = 0.5, maxBucket: Int = 4096,
      staging: Option[String] = None): DataFrame =
    minhashSelfPairs(minhashBase(docs, id, text, n, m, bands, staging),
      minJaccard, maxBucket)

  /** The materialized (id, hs, band, bucket) base the banded self-join
    * reads (a [[Staging]] barrier: the self-join would otherwise
    * recompute the minhash chain per side AND pull inlined copies of it
    * into pushed-down join-key constraints). [[curate]]'s hot-bucket
    * audit reads exactly this frame, so auditing costs a re-scan of the
    * barrier, never a recompute of the minhash chain.
    */
  private def minhashBase(docs: DataFrame, id: Column, text: Column,
      n: Int, m: Int, bands: Int, staging: Option[String]): DataFrame =
    Staging.materialize(minhashExploded(docs, id, text, n, m, bands),
      staging, "minhash_base")

  /** The exploded (id, hs, band, bucket) frame both sides of the LSH
    * self-join read — one row per (doc, band key). The rerank carries
    * shingle HASHES (longs), not shingle strings: same Jaccard modulo
    * 64-bit collisions, far cheaper to shuffle and intersect.
    * explode_outer: band-key arrays are never empty, and plain explode
    * lets InferFiltersFromGenerate push a filter that re-inlines the
    * whole minhash expression tree (see Pipeline.extractRows).
    * Each step is one native expression: the distinct n-gram hash set
    * (ShingleHashes — string construction per shingle dominated the
    * HOF encoding, measured 4.8s of q25's 6.5s at sf0.1), the
    * signature (MinhashSignature, one pass, no per-permutation arrays)
    * and the band keys (MinhashBandKeys). Each is cross-validated
    * byte-identical against its test-scope HOF twin.
    */
  private def minhashExploded(docs: DataFrame, id: Column, text: Column,
      n: Int, m: Int, bands: Int): DataFrame =
    docs.select(id.as("id"), ShingleHashes.of(tokens(text), n).as("hs"))
      .withColumn("sig", MinhashSignature.of(col("hs"), m))
      .withColumn("bk", explode_outer(MinhashBandKeys.of(col("sig"), bands)))
      .select(col("id"), col("hs"), col("bk.band"), col("bk.bucket"))

  /** Banded self-join ([[Buckets.selfPairs]]) + exact-Jaccard rerank
    * over a MATERIALIZED (id, hs, band, bucket) base frame, pairs
    * deduped across bands after the rerank. Shared by the one-corpus
    * path ([[minhashDupPairs]]) and the incremental new-vs-new half of
    * [[dedupAgainstBase]].
    */
  private def minhashSelfPairs(base: DataFrame, minJaccard: Double,
      maxBucket: Int): DataFrame =
    Buckets.selfPairs(base, Seq("band", "bucket"), "id", "hs", maxBucket)
      // rerank each band collision, then dedupe the pairs that pass: a
      // pair colliding in k bands pays k set intersections, but only
      // (id_a, id_b, jaccard) rows over the threshold cross the dedupe
      // exchange, never the shingle-hash arrays, and the dedupe is a
      // fixed-width hash aggregate (deduping rows that carry the arrays
      // planned a sort aggregate, with its sorts and its own generated
      // classes). A pair's score is the same in every band it hits.
      .select(col("id_a"), col("id_b"),
        jaccard(col("hs_a"), col("hs_b")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
      .distinct()

  // ---- deterministic dataset splitting ---------------------------------
  /** Deterministic hash split — train/validation/test assignment that
    * is stable across runs, clusters, and re-partitionings (unlike
    * `randomSplit`, whose assignment depends on partition layout):
    * `split = name_i` where `pmod(xxhash64(key), 1e6)` falls in the
    * i-th cumulative-fraction band. Map-only; adding new rows never
    * reassigns existing ones. Pass the DOCUMENT id as `key` for a
    * plain split, or a GROUP key (source/domain, cluster keeper) to
    * keep whole groups in one band — the standard guard against
    * near-duplicate leakage across train and eval; fractions are then
    * over groups, not rows. Same pure-xxhash64 contract as every
    * hash-keyed operator here (Python-mirror oracle, q63).
    */
  def splitByHash(docs: DataFrame, key: Column,
      fractions: Seq[(String, Double)]): DataFrame = {
    require(fractions.nonEmpty && fractions.forall(_._2 > 0) &&
      math.abs(fractions.map(_._2).sum - 1.0) < 1e-9,
      s"fractions must be positive and sum to 1, got $fractions")
    val buckets = 1000000L
    val thresholds = fractions.map(_._2).scanLeft(0.0)(_ + _).tail
      .map(c => math.round(c * buckets))
    val bucket = pmod(xxhash64(key), lit(buckets))
    val assign = fractions.map(_._1).zip(thresholds).init
      .foldRight(lit(fractions.last._1): Column) { case ((name, th), acc) =>
        when(bucket < th, name).otherwise(acc)
      }
    docs.withColumn("split", assign)
  }

  /** Cross-split near-dup LEAKAGE audit — the validation every release
    * should run on its split assignment: a near-dup pair whose members
    * landed in DIFFERENT train/val/test bands leaks training signal
    * into evaluation (the failure mode group-keyed [[splitByHash]]
    * exists to prevent). Joins a (doc_id, split) assignment onto both
    * sides of a near-dup pair set and keeps the crossers — two
    * broadcast/AQE-friendly equi-joins on 8-byte ids (the pair set is
    * tiny relative to the corpus by construction). Returns (id_a,
    * id_b, split_a, split_b); empty = the assignment is leak-free
    * w.r.t. the supplied pairs. Run it with the SAME pair generation
    * the dedup used ([[minhashDupPairs]] / [[dupClusters]] members) —
    * the audit can only see the pairs it is given (no-silent-caps:
    * that contract is the caller's, this is its checker).
    */
  def splitLeakage(shards: DataFrame, pairs: DataFrame): DataFrame = {
    // fail fast with a clear message instead of an opaque unresolved-
    // column error (or, worse, silently resolving an unrelated column):
    // this operator consumes [[release]]/[[splitByHash]] output by
    // (doc_id, split) name and a pair frame by (id_a, id_b) name
    require(shards.columns.contains("doc_id") && shards.columns.contains("split"),
      s"splitLeakage needs (doc_id, split) columns in the shards frame " +
        s"(got ${shards.columns.mkString(", ")}) — the [[splitByHash]]/" +
        "[[release]] output shape; select/rename before calling")
    require(pairs.columns.contains("id_a") && pairs.columns.contains("id_b"),
      s"splitLeakage needs (id_a, id_b) columns in the pairs frame " +
        s"(got ${pairs.columns.mkString(", ")}) — the near-dup pair shape")
    val a = shards.select(col("doc_id").as("id_a"), col("split").as("split_a"))
    val b = shards.select(col("doc_id").as("id_b"), col("split").as("split_b"))
    pairs.select(col("id_a"), col("id_b"))
      .join(a, Seq("id_a")).join(b, Seq("id_b"))
      .filter(col("split_a") =!= col("split_b"))
      .select(col("id_a"), col("id_b"), col("split_a"), col("split_b"))
  }

  // ---- benchmark decontamination --------------------------------------
  /** Benchmark contamination check — the decontamination pass every
    * serious pre-training pipeline runs before a corpus ships: flag
    * documents sharing at least `minHits` distinct word `n`-grams with
    * ANY benchmark/eval document (n-gram overlap is the published
    * standard; n around 8-13 in practice). Returns (doc_id, n_hits) for
    * flagged docs; callers anti-join to drop them.
    *
    * Scale shape: the benchmark side is the distinct set of its shingle
    * HASHES (8 bytes each; eval suites are MBs against a corpus of TBs)
    * and ships as an explicit BROADCAST — the corpus side is one
    * map-parallel explode + broadcast semi-join (no corpus shuffle at
    * all; per-doc shingle sets are already distinct, fused
    * ShingleHashes) followed by a partial-agg count on the 8-byte
    * doc id over HIT rows only. Same 2^-64 hash-collision contract as
    * every dedup here.
    */
  def contaminationHits(docs: DataFrame, id: Column, text: Column,
      benchmark: DataFrame, benchText: Column, n: Int = 8,
      minHits: Long = 1L): DataFrame = {
    val bench = broadcast(
      benchmark.select(explode_outer(ShingleHashes.of(tokens(benchText), n)).as("sh"))
        .distinct())
    docs.select(id.as("doc_id"), explode_outer(ShingleHashes.of(tokens(text), n)).as("sh"))
      .join(bench, Seq("sh"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= minHits)
  }

  // ---- source/domain-aware curation ------------------------------------
  /** Per-source quota: keep at most `maxPerSource` docs per source
    * (domain), ranked by (quality desc, id asc) — the "keep the N best
    * pages per domain" control real pre-training pipelines apply BEFORE
    * content-level dedup (a crawl's worst domains are dropped wholesale
    * by quota, not one near-dup pair at a time). Keeper rule: the
    * `maxPerSource` highest-`quality` docs of each source, ties going
    * to the LOWER id — exactly `row_number() over (partition by source
    * order by quality desc, id) <= maxPerSource`, but never planned as
    * a window.
    *
    * Shape at scale (the [[dedupExact]] house shape): keeper ids come
    * from `groupBy(source).agg(BoundedTopK(quality, id, N))` — an
    * object-hash aggregation whose per-key partial state is a heap
    * CAPPED at N in update and merge ([[BoundedTopKAgg]]), so a
    * 10^8-page mega-source costs each map task at most N entries and
    * the exchange one (source, <=N ids) row per task — followed by a
    * left_semi join back on the 8-byte unique id, which spreads the
    * kept rows uniformly. No window, no unbounded collect_list, no text
    * in any exchange. Rows with null quality never qualify (documented
    * on [[BoundedTopKAgg]]); a null source is one quota group.
    *
    * Per-domain EXACT dedup composes with the existing keeper:
    * `dedupExact(docs, struct(source, xxhash64(text)), id)` scopes the
    * duplicate key per source (the same page on two mirrors survives
    * once per mirror) — quota-then-dedup is the usual order.
    */
  def sourceQuota(docs: DataFrame, id: Column, source: Column,
      quality: Column, maxPerSource: Int): DataFrame = {
    // fail fast instead of silently overwriting a caller's column with
    // withColumn (the TimeOps reserved-name guard pattern)
    val reserved = Seq("__sq_id", "__sq_src", "__sq_keep", "__sq_keep_id")
    require(!docs.columns.exists(reserved.contains),
      s"sourceQuota reserves the ${reserved.mkString("/")} column names")
    val keyed = docs.withColumn("__sq_id", id)
    val keeperIds = keyed
      .groupBy(source.as("__sq_src"))
      .agg(BoundedTopK.of(quality, col("__sq_id"), maxPerSource).as("__sq_keep"))
      .select(explode(col("__sq_keep")).as("__sq_keep_id"))
    keyed.join(keeperIds, col("__sq_id") === col("__sq_keep_id"), "left_semi")
      .drop("__sq_id")
  }

  /** Per-source TOKEN-BUDGET quota: keep each source's best docs by
    * (quality desc, id asc) while their RUNNING `weight` total stays
    * within `budget` — the volume-balanced form of [[sourceQuota]]
    * (real releases balance sources by token volume at least as often
    * as by document count). Keeper rule is the greedy prefix — exactly
    * `sum(weight) over (partition by source order by quality desc, id
    * rows unbounded preceding) <= budget` — but never planned as a
    * window: keeper ids come from `groupBy(source).agg(
    * BoundedBudgetTopAgg)`, whose partial state is the budget's own
    * prefix plus one barrier row, bounded in update AND merge
    * ([[BoundedBudgetTopAgg]] has the proof), followed by the same
    * 8-byte-id semi-join as every keeper here. Rows with null/NaN
    * quality or non-positive weight never qualify (documented there).
    */
  def sourceQuotaBudget(docs: DataFrame, id: Column, source: Column,
      quality: Column, weight: Column, budget: Double): DataFrame = {
    val reserved = Seq("__sq_id", "__sq_src", "__sq_keep", "__sq_keep_id")
    require(!docs.columns.exists(reserved.contains),
      s"sourceQuotaBudget reserves the ${reserved.mkString("/")} column names")
    val keyed = docs.withColumn("__sq_id", id)
    val keeperIds = keyed
      .groupBy(source.as("__sq_src"))
      .agg(BoundedTopK.byBudget(quality, col("__sq_id"), weight, budget)
        .as("__sq_keep"))
      .select(explode(col("__sq_keep")).as("__sq_keep_id"))
    keyed.join(keeperIds, col("__sq_id") === col("__sq_keep_id"), "left_semi")
      .drop("__sq_id")
  }

  /** Deterministic source-MIXTURE sampling — the "domain weights" step
    * that turns a curated corpus into a training mixture (the Pile /
    * DoReMi-style per-source epoch multipliers): each doc of source
    * `s` is emitted `floor(rate(s))` times plus one more with
    * probability `frac(rate(s))`, so a rate of 0.5 downsamples by
    * half, 1.0 passes through, and 2.5 upsamples to 2-3 copies with
    * per-source expectation exactly `rate` (quantized to 1e-6). The
    * coin is `xxhash64(seed, id) mod 1e6` — a pure function of (seed,
    * id), so the SAME docs survive (and the same copy counts emit)
    * under any partitioning or layout, reruns are byte-identical, and
    * flipping `seed` redraws the whole mixture ([[splitByHash]]'s
    * determinism argument). Output: the input columns plus `copy`
    * (1..n); rate-0 sources drop entirely.
    *
    * Scale shape: map-only — the rate table is a tiny plan literal
    * (mixture configs are tens-to-hundreds of entries; nothing like
    * the broadcast-sized IVF/BPE tables), the multiplier is one hash
    * + one generator per row, and nothing shuffles. `explode_outer` +
    * filter rather than plain explode (the InferFiltersFromGenerate
    * re-inlining trap).
    */
  def sampleMixture(docs: DataFrame, id: Column, source: Column,
      rates: Map[String, Double], defaultRate: Double = 1.0,
      seed: Long = 0L): DataFrame = {
    require(!docs.columns.contains("copy") && !docs.columns.contains("__mx_n"),
      "sampleMixture reserves the copy/__mx_n column names")
    require((rates.valuesIterator ++ Iterator(defaultRate)).forall(r =>
      r >= 0.0 && r <= 1000000.0 && !r.isNaN),
      "mixture rates must be finite and in [0, 1e6]")
    val rate = coalesce(element_at(typedlit(rates), source), lit(defaultRate))
    val u = pmod(xxhash64(lit(seed), id), lit(1000000L)).cast("double") /
      1000000.0
    val n = floor(rate).cast("int") +
      when(u < rate - floor(rate), 1).otherwise(0)
    docs.withColumn("__mx_n", n)
      .withColumn("copy", explode_outer(when(col("__mx_n") >= 1,
        sequence(lit(1), col("__mx_n"))).otherwise(typedlit(Seq.empty[Int]))))
      .filter(col("copy").isNotNull)
      .drop("__mx_n")
  }

  /** Per-source corpus composition report — the summary every
    * pre-training pipeline publishes with a release: doc / token /
    * char volumes, token extremes, and the language mix per source.
    * One partial-agg shuffle keyed by source; every measure is exact
    * (sums/counts/min/max, no sketches) so the whole report is
    * DuckDB-oracled (q59). Consumers derive ratios (avg tokens,
    * en-fraction) from the exact fields.
    */
  def corpusStats(docs: DataFrame, source: Column, text: Column,
      langId: Column => Column = t => markerLang(CurationFeatures.of(t))): DataFrame =
    docs.select(source.as("source"), text.as("text"))
      .withColumn("n_tokens", tokenCount(col("text")))
      .withColumn("n_chars", length(col("text")))
      .withColumn("lang", langId(col("text")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        // long, not int: the q59 oracle's DuckDB min/max(len(...)) are
        // BIGINT — align the width so the driver's type-level hash
        // matches (values were always equal; r5 verdict)
        min("n_tokens").cast("long").as("min_tokens"),
        max("n_tokens").cast("long").as("max_tokens"),
        sum("n_chars").as("total_chars"),
        countDistinct(col("lang")).as("n_langs"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"))

  // ---- curation filter (the pre-training hygiene pass) ----------------
  /** Language gate + quality-ratio window + exact-dedup keeper in one
    * composition: ONE map-side projection computes every feature, the
    * filter drops rejects before anything shuffles, and the only
    * shuffles are the exact-dedup key aggregation + keeper semi-join
    * (8-byte hash keys, partial-agg — see [[dedupExact]]) — the shape a
    * 100 TB curation job takes before the near-dup stage
    * ([[dedupCascade]]) runs on what survives. Returns the kept docs with their features
    * (doc_id, lang_pred, n_tokens, punct_ratio).
    */
  def curationFilter(docs: DataFrame, id: Column, text: Column,
      lang: String = "en", minTokens: Int = 30,
      maxPunctRatio: Double = 0.2,
      langId: Option[Column => Column] = None): DataFrame =
    dedupStaged(
      curationStage(docs, id, text, lang, minTokens, maxPunctRatio, langId),
      docs, id, text).drop("text")

  /** Exact-dedup a hygiene-FILTERED projection without paying the
    * regex-heavy feature projection twice: the keeper side of
    * [[dedupExact]]'s semi-join would otherwise re-run the whole
    * filter+projection just to aggregate (key, min id). Because the
    * filter is a pure function of the text and the dup key is
    * `xxhash64(text)`, a key's rows either all pass or all fail — so
    * keeper ids computed from the RAW table (hash + min only, no
    * regexes) select exactly the same rows: keys of rejected texts
    * simply semi-join against nothing. Same 2^-64 collision contract
    * as every hash-keyed dedup here.
    */
  private def dedupStaged(staged: DataFrame, raw: DataFrame,
      id: Column, text: Column): DataFrame = {
    val keepers = raw.groupBy(xxhash64(text).as("__k"))
      .agg(min(id).as("__i"))
    staged.join(keepers,
      xxhash64(col("text")) <=> col("__k") && col("doc_id") === col("__i"),
      "left_semi")
  }

  /** (doc_id, text, lang_pred, n_tokens, punct_ratio, extra...): the
    * hygiene features of every doc from ONE fused [[CurationFeatures]]
    * walk instead of seven regex passes. Byte-identical to the regex
    * chain (the test-scope twin `HofTwins.curationFeatures`, plus the
    * q49/q50 oracles, whose DuckDB side mirrors the regex semantics).
    * `extra`: caller-named metadata columns carried through
    * UNTOUCHED — they never feed the verdict (see [[curationStage]]'s
    * INVARIANT), they just ride so compositions like [[release]] need
    * no re-join against the raw table to recover them.
    */
  private[graft] def curationFeatures(docs: DataFrame, id: Column,
      text: Column, extra: Seq[String] = Nil): DataFrame = {
    val extraCols = extra.map(col)
    val cf = col("__cf")
    docs.select(id.as("doc_id") +: text.as("text") +: extraCols: _*)
      .withColumn("__cf", CurationFeatures.of(col("text")))
      .select(col("doc_id") +: col("text") +:
        markerLang(cf).as("lang_pred") +:
        cf.getField("n_tokens").as("n_tokens") +:
        (when(cf.getField("n_chars") > 0,
          cf.getField("n_punct").cast("double") / cf.getField("n_chars"))
          .otherwise(0.0).as("punct_ratio")) +: extraCols: _*)
  }

  /** Hygiene filter with the text column kept (shared by curationFilter
    * and the full curate() composition).
    *
    * INVARIANT (load-bearing for [[dedupStaged]]): the verdict must
    * stay a PURE FUNCTION OF `text`. [[dedupStaged]] selects keeper ids
    * from the RAW table precisely because a text-hash key's rows then
    * all pass or all fail together — adding any non-text input to this
    * filter (a metadata column, a length field read from elsewhere)
    * would let a REJECTED lower-id duplicate steal a passing row's
    * keeper slot and silently drop the whole group. Extend the
    * projection freely; gate only on text-derived columns, and keep the
    * mixed-verdict test in AnalysisSpec green.
    */
  private def curationStage(docs: DataFrame, id: Column, text: Column,
      lang: String, minTokens: Int, maxPunctRatio: Double,
      langId: Option[Column => Column] = None,
      extra: Seq[String] = Nil): DataFrame = {
    val featured = curationFeatures(docs, id, text, extra)
    // pluggable language classifier (e.g. the 26-language char-n-gram
    // [[LangId]]); MUST stay a pure function of the text column — the
    // dedupStaged keeper rule above depends on it (see the INVARIANT)
    val classified = langId match {
      case Some(f) => featured.withColumn("lang_pred", f(col("text")))
      case None => featured
    }
    classified.filter(col("lang_pred") === lang && col("n_tokens") >= minTokens &&
      col("punct_ratio") <= maxPunctRatio)
  }

  /** The COMPLETE curation pass a pre-training corpus takes, composed:
    * hygiene filter (map-side) -> exact-dup collapse (partial-agg keyed
    * on the text hash) -> MinHash near-dup join over keepers (banded,
    * hot-bucket-bounded) -> near-dup drop. Drop policy: the HIGHER id of each near pair is
    * dropped (the standard deterministic single-pass keeper rule;
    * chains resolve because every non-minimal member of a near-dup
    * cluster pairs with some lower id via the same bands — the pair set
    * is also returned for graph-based grouping where exactness
    * matters). Pass `exactClusters = true` to drop by CONNECTED-
    * COMPONENT clusters instead ([[dupClusters]] min-id propagation):
    * exact on transitive chains the greedy rule keeps (see the
    * [[dupClusters]] doc for the (1,3),(2,3) example), at the cost of
    * the O(diameter) propagation rounds. Returns a [[CurationResult]]:
    * kept (doc_id, lang_pred, n_tokens, punct_ratio), nearPairs (id_a,
    * id_b, jaccard), and the hot-bucket audit frame — no-silent-caps
    * wired in, not bolted on: `hotBuckets` over the SAME materialized
    * minhash base the join read (staged parquet or the local
    * checkpoint), so running the audit re-scans the barrier instead of
    * recomputing the minhash chain. Three barriers materialize eagerly
    * at call time ([[Staging]]): `curate_keepers`, `minhash_base` and
    * `curate_pairs` (see [[curateKeeping]]); `nearPairs` is a scan of
    * the last, and `kept` a scan of the first anti-joined with the
    * drop ids. The audit frame is lazy — an unconsumed audit costs
    * nothing beyond those barriers — but a 100 TB job should run and
    * log it alongside the dedup itself
    * (the 1M-doc volume artifact in BENCH.md's history shows the shape).
    */
  def curate(docs: DataFrame, id: Column, text: Column,
      lang: String = "en", minTokens: Int = 30, maxPunctRatio: Double = 0.2,
      n: Int = 3, m: Int = 16, bands: Int = 4, minJaccard: Double = 0.5,
      maxBucket: Int = 4096,
      exactClusters: Boolean = false,
      staging: Option[String] = None,
      langId: Option[Column => Column] = None,
      extra: Seq[String] = Nil): CurationResult =
    curateKeeping(docs, id, text, lang, minTokens, maxPunctRatio, n, m,
      bands, minJaccard, maxBucket, exactClusters, staging, langId, extra)._2

  /** [[curate]], plus its kept rows WITH their text (what [[release]]
    * decontaminates: a scan of the keepers barrier, not a raw re-scan).
    * Three barriers ([[Staging]]; `staging` switches them, and the
    * cluster-propagation rounds, to parquet staging tables):
    *  - `curate_keepers`: the hygiene-filtered exact-dedup keepers, which
    *    feed the minhash base AND the kept set, so the hygiene projection
    *    and the exact-dedup shuffle run once (keeper ids come from the
    *    raw table, [[dedupStaged]], so the hygiene regexes run once);
    *  - `minhash_base`: the banded self-join's input and the audit's;
    *  - `curate_pairs`: the near-dup pairs, which feed the drop set AND
    *    the returned `nearPairs`, so reading both runs the banded
    *    self-join once.
    * The kept set is then a scan of the keepers anti-joined with the
    * drop ids (the pairs' greater ids, or the cluster non-keepers).
    */
  private def curateKeeping(docs: DataFrame, id: Column, text: Column,
      lang: String, minTokens: Int, maxPunctRatio: Double,
      n: Int, m: Int, bands: Int, minJaccard: Double, maxBucket: Int,
      exactClusters: Boolean, staging: Option[String],
      langId: Option[Column => Column],
      extra: Seq[String]): (DataFrame, CurationResult) = {
    val staged =
      curationStage(docs, id, text, lang, minTokens, maxPunctRatio,
        langId, extra)
    val keepers = Staging.materialize(
      dedupStaged(staged, docs, id, text),
      staging, "curate_keepers")
    val base = minhashBase(keepers, col("doc_id"), col("text"), n, m, bands,
      staging)
    val pairs = Staging.materialize(minhashSelfPairs(base, minJaccard,
      maxBucket), staging, "curate_pairs")
    // no .distinct() on the drop side: left_anti ignores right-side
    // multiplicity, and the anti-join's own hash build dedups keys —
    // a pre-distinct was one spare exchange (r08)
    val dropIds =
      if (exactClusters) clusterDropIds(pairs, staging)
      else pairs.select(greatest(col("id_a"), col("id_b")).as("doc_id"))
    val keptText = keepers.join(dropIds, Seq("doc_id"), "left_anti")
    (keptText, CurationResult(keptText.drop("text"), pairs,
      Buckets.hotBuckets(base, Seq("band", "bucket"), maxBucket)))
  }

  /** What [[curate]] hands back. `hotBuckets` is the audit of what the
    * LSH bucket bound split (one row per oversized bucket; empty =
    * the salt stayed a pure backstop) — see [[Buckets.hotBuckets]] for
    * the columns and the pairs-forgone arithmetic.
    */
  final case class CurationResult(kept: DataFrame, nearPairs: DataFrame,
      hotBuckets: DataFrame)

  // ---- the composed corpus release ------------------------------------
  /** The flagship user journey, composed end-to-end: raw crawl in,
    * train/val/test shards out. Stages, in the order every published
    * pre-training pipeline runs them:
    *
    *  1. [[curate]] — hygiene filter, exact collapse, near-dup drop
    *     (all of that operator's staging/barrier/audit semantics apply
    *     unchanged; ONE staging dir serves the whole composition);
    *  2. benchmark DECONTAMINATION — [[contaminationHits]] over the
    *     curated keepers (broadcast n-gram semi-join; `minHits`
    *     flagged docs anti-joined away);
    *  3. per-source QUOTA — [[sourceQuota]] with the curation-stage
    *     token count as the quality key (keep the `maxPerSource`
    *     longest pages per source, ties to the lower id; the
    *     `Int.MaxValue` default means NO quota and skips the stage).
    *     `tokenBudgetPerSource` adds the volume-balanced form
    *     ([[sourceQuotaBudget]]: keep each source's longest pages
    *     while their running token total stays within the budget);
    *     when both are set the count cap applies first, then the
    *     budget trims the survivors;
    *  4. deterministic SPLIT — [[splitByHash]] on `splitOn`: the doc
    *     id by default, or "source" for whole-domain splitting (every
    *     page of a domain lands in ONE band — the near-dup-leakage
    *     guard [[splitByHash]] documents; fractions are then over
    *     domains, not docs).
    *
    * Scale shape: four barriers materialize eagerly at call time
    * ([[Staging]]): curate's `curate_keepers`, `minhash_base` and
    * `curate_pairs`, and the contamination flags,
    * `release_contaminated`. Every other set is a scan of those:
    * decontamination reads the keepers (text included) anti-joined with
    * the drop ids, and the clean set is the same scan anti-joined with
    * the flags too (a staged scan reads only the columns it uses; an
    * in-memory one reads whole keeper rows, text included, once per
    * reader: the quota reads the clean set twice, and `report` again).
    * Every inter-stage join is an 8-byte-id semi/anti/
    * equi join against frames the stages already bounded (drop ids,
    * flagged ids, quota keepers). Nothing in the composition adds a
    * shuffle class the pieces did not already have.
    *
    * Returns a [[ReleaseResult]]: `shards` (doc_id, lang_pred,
    * n_tokens, punct_ratio, source, split), the curation near-pairs
    * and hot-bucket audit, the contamination flags, and `report` — the
    * per-(source, split) doc/token volumes a release publishes
    * (exact sums only, so the whole pipeline is oracle-checkable:
    * q64 vs the independent Python mirror). Validate the assignment
    * with `splitLeakage(result.shards, result.nearPairs)` — empty
    * means no near-dup pair straddles train and eval (q69).
    */
  def release(docs: DataFrame, id: Column, text: Column, source: Column,
      benchmark: DataFrame, benchText: Column,
      lang: String = "en", minTokens: Int = 30, maxPunctRatio: Double = 0.2,
      n: Int = 3, m: Int = 16, bands: Int = 4, minJaccard: Double = 0.5,
      maxBucket: Int = 4096,
      contamN: Int = 8, minHits: Long = 1L,
      maxPerSource: Int = Int.MaxValue,
      tokenBudgetPerSource: Option[Double] = None,
      fractions: Seq[(String, Double)] =
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      splitOn: String = "doc_id",
      exactClusters: Boolean = false,
      staging: Option[String] = None): ReleaseResult = {
    require(splitOn == "doc_id" || splitOn == "source",
      s"splitOn must be 'doc_id' or 'source', got '$splitOn'")
    val named = docs.select(id.as("doc_id"), text.as("text"), source.as("source"))
    // `source` rides the curation projection (curationStage `extra`) and
    // the kept rows carry their text, so neither the quota nor the
    // decontamination reads the raw table again
    val (keptText, cur) = curateKeeping(named, col("doc_id"), col("text"),
      lang, minTokens, maxPunctRatio, n, m, bands, minJaccard, maxBucket,
      exactClusters, staging, None, Seq("source"))
    // BARRIER the (tiny) contamination flags: the clean anti-join AND
    // the returned `contaminated` frame both consume them — without
    // this, reading both re-runs the heavy n-gram corpus scan twice
    val contaminated = Staging.materialize(
      contaminationHits(keptText, col("doc_id"), col("text"),
        benchmark, benchText, contamN, minHits),
      staging, "release_contaminated")
    // no barrier: every reader of the clean set (the quota reads it
    // twice) scans the keepers barrier with two anti-joins against the
    // small pairs and flags barriers
    val clean = cur.kept.join(contaminated, Seq("doc_id"), "left_anti")
    // the Int.MaxValue default means "no quota": skip the stage rather
    // than rank every source's full membership through a top-(2^31)
    // aggregate
    val quotaCount =
      if (maxPerSource == Int.MaxValue) clean
      else sourceQuota(clean, col("doc_id"), col("source"),
        col("n_tokens"), maxPerSource)
    val quota = tokenBudgetPerSource match {
      case Some(b) => sourceQuotaBudget(quotaCount, col("doc_id"),
        col("source"), col("n_tokens"), col("n_tokens"), b)
      case None => quotaCount
    }
    val shards = splitByHash(quota, col(splitOn), fractions)
    val report = shards.groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("total_tokens"))
    ReleaseResult(shards, cur.nearPairs, cur.hotBuckets, contaminated, report)
  }

  /** What [[release]] hands back: the split shards, the curation-stage
    * evidence (near pairs + hot-bucket audit), the decontamination
    * flags (what stage 2 dropped and why), and the publishable
    * per-(source, split) volume report. The returned frames are lazy,
    * but the composition's four BARRIERS (see [[release]]) materialize
    * eagerly at call time; what remains lazy is only the anti-joins and
    * the final quota/split/report layer on top of them.
    */
  final case class ReleaseResult(shards: DataFrame, nearPairs: DataFrame,
      hotBuckets: DataFrame, contaminated: DataFrame, report: DataFrame)

  // ---- near-dup cluster grouping (connected components) ----------------
  /** Groups a near-dup PAIR set into duplicate clusters: every doc
    * appearing in `pairs` (id_a, id_b) is labelled with the minimum doc
    * id reachable through the pair graph (`cluster_keeper`) — the
    * union-find / connected-components step every real dedup pipeline
    * runs after candidate generation, and the exact form of the drop
    * rule [[curate]]'s greedy per-pair greatest-id policy approximates
    * (they differ on transitive chains: pairs (1,3),(2,3) greedy-keep
    * {1,2} but are ONE cluster keeping only {1}).
    *
    * Implementation is iterative min-label propagation PLUS
    * pointer-jumping, with plain keyed joins — no GraphX, AQE-friendly.
    * Each round first takes the min over neighbors' labels (one join +
    * one partial-agg groupBy on 8-byte ids), then shortcuts every label
    * through the PREVIOUS round's label table (label(x) <-
    * label_prev(label(x)) — dereferencing the already-cut table instead
    * of the in-flight propagation result keeps each round to ONE pass
    * over the edges; the jump still compounds the reach
    * Fibonacci-style, so a diameter-d component converges in O(log d)
    * rounds, not O(d): a 10^6-link drift chain needs ~30 rounds where
    * plain propagation could not finish inside any sane cap). Labels
    * only ever decrease, and the loop stops at fixpoint.
    *
    * ONE Spark action per round: lineage is cut per round by the
    * [[Staging]] barrier (a local checkpoint, or a parquet staging
    * table when `staging` is passed — the executor-loss-tolerant
    * encoding a 100 TB job should run), and the convergence signal
    * rides THAT action via an accumulator counting label changes
    * inside the materializing scan — never a second `count()` job
    * re-reading the round. (Task retries can only
    * over-count the accumulator, which is safe: the loop tests
    * changed == 0, and a retried task of an all-unchanged round adds
    * nothing.) Returns (doc_id, cluster_keeper), one row per distinct
    * doc in `pairs`; docs in no pair are their own implicit singleton
    * clusters (callers left-join and coalesce to doc_id).
    */
  def dupClusters(pairs: DataFrame, maxIters: Int = 64,
      staging: Option[String] = None): DataFrame = {
    val spark = pairs.sparkSession
    val acc = spark.sparkContext.longAccumulator("graft.dupClusters.changed")
    // counts rows whose label decreased DURING the cut's own scan —
    // the one action of the round doubles as the convergence check
    def cutCounted(df: DataFrame, name: String): DataFrame = {
      import org.apache.spark.sql.{Encoders, Row}
      val counted = df.mapPartitions { (it: Iterator[Row]) =>
        // new_label <= label always (least() is monotone), so
        // "changed" is exactly inequality — type-generic
        it.map { r => if (r.get(1) != r.get(2)) acc.add(1); r }
      }(Encoders.row(df.schema))
      Staging.materialize(counted, staging, name)
        .select(col("doc_id"), col("new_label").as("label"))
    }
    // symmetrize in ONE pass over `pairs` (explode of the two
    // directions), not a self-union: an unmaterialized pair frame is
    // typically the whole LSH self-join, and a union's two references
    // re-execute it — measured as a doubled set of base exchanges in
    // the q51 stage audit (r08). explode_outer per the house rule for
    // computed arrays.
    val edges = Staging.materialize(pairs.select(explode_outer(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct(), staging, "edges")
    // round 1 reads the label table three times (neighbor join, left
    // join, jump dereference) — cut the seed so those are scans, not
    // three recomputations of the seed aggregation
    var labels = Staging.materialize(edges.groupBy(col("src").as("doc_id"))
      .agg(min(col("dst")).as("mn"))
      .select(col("doc_id"), least(col("doc_id"), col("mn")).as("label")),
      staging, "labels_0")
    var changed = 1L
    var round = 0
    while (changed > 0 && round < maxIters) {
      round += 1
      // candidate label per node = min over its neighbors' current labels
      val cand = edges.join(labels, edges("src") === labels("doc_id"))
        .groupBy(edges("dst").as("doc_id")).agg(min(col("label")).as("nbr"))
      val prop = labels.join(cand, Seq("doc_id"), "left")
        .select(col("doc_id"), col("label"),
          least(col("label"), coalesce(col("nbr"), col("label"))).as("p"))
      // pointer-jumping: p <- labels_prev(p) — label values are node ids
      // (every node appears as src in the symmetrized edge set, so the
      // lookup always resolves); least() keeps labels monotone. The
      // dereference table is the PREVIOUS cut, so `prop` feeds the plan
      // exactly once and the round stays one propagation pass.
      val byId = labels.select(col("doc_id").as("__l"), col("label").as("__lp"))
      val before = acc.value
      labels = cutCounted(prop.join(byId, prop("p") === col("__l"), "left")
        .select(col("doc_id"), col("label"),
          least(col("p"), coalesce(col("__lp"), col("p"))).as("new_label")),
        s"labels_$round")
      changed = acc.value - before
    }
    require(changed == 0,
      s"dupClusters did not converge in $maxIters rounds — pathological " +
        "graph diameter; raise maxIters")
    // staged mode: the returned frame reads ONLY the final round's
    // parquet, so the intermediate tables (edges, labels_0..r-1) are
    // dead weight — delete them now rather than letting a long job's
    // staging grow O(rounds * |labels|). (The in-memory rounds need no
    // analog: the ContextCleaner frees unreachable checkpoint blocks.)
    staging.foreach { dir =>
      val hconf = spark.sparkContext.hadoopConfiguration
      (Seq("edges") ++ (0 until round).map(r => s"labels_$r")).foreach { nm =>
        val p = new org.apache.hadoop.fs.Path(s"$dir/$nm")
        try p.getFileSystem(hconf).delete(p, true)
        catch { case _: java.io.IOException => } // cleanup is best-effort
      }
    }
    labels.select(col("doc_id"), col("label").as("cluster_keeper"))
  }

  /** The ids a cluster-exact dedup drops: every non-keeper member of
    * each connected near-dup cluster. The exact alternative to the
    * greedy per-pair drop inside [[curate]] (see [[dupClusters]]).
    */
  def clusterDropIds(pairs: DataFrame, staging: Option[String] = None): DataFrame =
    dupClusters(pairs, staging = staging)
      .filter(col("doc_id") =!= col("cluster_keeper"))
      .select(col("doc_id"))

  // ---- exact -> near dedup composition --------------------------------
  /** The standard web-scale dedup cascade: collapse EXACT duplicates
    * first (one keyed aggregation on a text hash), then run the MinHash
    * LSH near-dup join over unique texts only. A 10^6-identical-
    * boilerplate cluster costs one aggregation group here instead of a
    * quadratically hot LSH bucket — the exact pre-pass is what keeps
    * [[Buckets.selfPairs]]'s salt a backstop rather than a recall
    * tax. Returns
    *   (nearPairs among exact-group keepers: (id_a, id_b, jaccard),
    *    exactGroups: (dup_key, n_dups, keeper_id))
    * — together they define the full duplicate relation: ids sharing an
    * exact group are duplicates of their keeper; keepers linked by a
    * near pair are near-duplicates of each other.
    */
  def dedupCascade(docs: DataFrame, id: Column, text: Column,
      n: Int = 3, m: Int = 16, bands: Int = 4, minJaccard: Double = 0.5,
      maxBucket: Int = 4096,
      staging: Option[String] = None): (DataFrame, DataFrame) = {
    val named = docs.select(id.as("id"), text.as("text"))
    val reps = dedupExact(named, xxhash64(col("text")), col("id"))
    val pairs = minhashDupPairs(reps, col("id"), col("text"),
      n, m, bands, minJaccard, maxBucket, staging)
    (pairs, exactDupGroups(named, xxhash64(col("text")), col("id")))
  }

  // ---- incremental (snapshot-vs-base) dedup ----------------------------
  /** Seed a persistent minhash BASE for incremental dedup: stage the
    * corpus's exploded (id, hs, band, bucket) frame as parquet under
    * `baseDir/minhash_base` and return it. [[dedupAgainstBase]] then
    * dedups each ARRIVING snapshot against that table without ever
    * recomputing the base corpus's signatures — the most frequently-run
    * operation of a living corpus (crawls arrive in snapshots; the
    * full-corpus join is a one-time cost, the incremental join is the
    * steady state). A [[curate]]/[[release]] run with `staging` already
    * writes this exact table (over its exact-collapse keepers), so a
    * released corpus's staging dir IS a valid `baseDir` — no separate
    * seeding pass needed. The (n, m, bands) parameters are
    * part of the table's contract: incremental calls must pass the SAME
    * values or band keys will not collide (documented, not detectable
    * from the table itself).
    *
    * CAVEAT — this seeds the RAW corpus with no exact-duplicate
    * collapse, while [[dedupAgainstBase]]'s new-vs-base equi-join is
    * deliberately unsalted on the premise that a CURATED base keeps its
    * buckets bounded by construction. A base seeded directly from a
    * corpus containing a mega identical cluster puts that whole cluster
    * in one (band, bucket) and every subsequent incremental join fans
    * out against it unboundedly. Collapse exact duplicates first
    * ([[dedupCascade]] / [[dedupExact]] keepers, or seed from a staged
    * [[curate]] run) when the corpus may carry identical-text clusters.
    */
  def buildMinhashBase(docs: DataFrame, id: Column, text: Column,
      baseDir: String, n: Int = 3, m: Int = 16, bands: Int = 4): DataFrame =
    minhashBase(docs, id, text, n, m, bands, Some(baseDir))

  /** What [[dedupAgainstBase]] hands back.
    *  - `keepers`: the new snapshot's survivors (doc_id, text) — docs
    *    that near-dup nothing in the base and are not the dropped
    *    (greater-id) side of a new-new pair;
    *  - `crossPairs` (new_id, base_id, jaccard): new docs caught by the
    *    base — the incremental evidence frame;
    *  - `newPairs` (id_a, id_b, jaccard): near-dups WITHIN the snapshot
    *    (the base can't catch two new docs that duplicate each other);
    *  - `newBase`: the snapshot's exploded (id, hs, band, bucket) frame,
    *    what [[appendToBase]] folds into the base table.
    */
  final case class IncrementalDedupResult(keepers: DataFrame,
      crossPairs: DataFrame, newPairs: DataFrame, newBase: DataFrame)

  /** Dedup a NEW snapshot against an existing staged base WITHOUT
    * recomputing the base: read `baseDir/minhash_base` back (written by
    * [[buildMinhashBase]] or a staged [[curate]]/[[release]] run),
    * compute signatures for the new docs only, and
    *
    *  1. equi-join the new docs' band keys against the base's — a new
    *     doc sharing any (band, bucket) with a base doc is a candidate;
    *     exact-Jaccard rerank (shingle-hash sets ride both sides) keeps
    *     pairs >= `minJaccard`;
    *  2. self-join the new docs' band keys among themselves (hot
    *     buckets salted like every self-join here) — snapshot-internal
    *     dups the base cannot know about;
    *  3. keepers = new docs minus (cross-matched new ids) minus (the
    *     greater id of each new-new pair — [[curate]]'s greedy rule).
    *
    * Cost shape: O(new docs) signatures + one equi-join whose base side
    * is a column-pruned parquet scan of 8-byte ids and hash arrays —
    * snapshot k never pays snapshot 1..k-1's minhash chain again
    * (the incremental phase of the 1M-doc volume artifact in BENCH.md's
    * history is the measured evidence).
    * The new-vs-base join is a plain equi-join (not a self-join), so
    * the hot-bucket salt does not apply to it; a curated base keeps its
    * buckets bounded by construction ([[curate]] collapses exact dups
    * before banding), and AQE skew handling covers organic hot keys.
    * Exact duplicates WITHIN the snapshot surface as jaccard-1.0 pairs
    * (provided the text has >= n tokens); run [[dedupCascade]] first if
    * the snapshot may carry mega-clusters of identical text.
    *
    * `staging` controls the SNAPSHOT-side barriers only (the new
    * base + the two pair frames, each consumed twice); the base table
    * is read-only here — fold survivors in with [[appendToBase]] once
    * the results are consumed.
    */
  def dedupAgainstBase(newDocs: DataFrame, id: Column, text: Column,
      baseDir: String, n: Int = 3, m: Int = 16, bands: Int = 4,
      minJaccard: Double = 0.5, maxBucket: Int = 4096,
      staging: Option[String] = None): IncrementalDedupResult = {
    val spark = newDocs.sparkSession
    val base = spark.read.parquet(s"$baseDir/minhash_base")
    val named = newDocs.select(id.as("doc_id"), text.as("text"))
    val newBase = Staging.materialize(
      minhashExploded(named, col("doc_id"), col("text"), n, m, bands),
      staging, "minhash_base_new")
    // barrier both pair frames: each feeds the keeper anti-join AND is
    // returned for the caller to consume — unmaterialized, reading both
    // would re-run its join (the q64 release lesson)
    val crossPairs = Staging.materialize(
      newBase.select(col("band"), col("bucket"),
          col("id").as("new_id"), col("hs").as("hs_n"))
        .join(base.select(col("band"), col("bucket"),
          col("id").as("base_id"), col("hs").as("hs_b")), Seq("band", "bucket"))
        .dropDuplicates("new_id", "base_id")
        .select(col("new_id"), col("base_id"),
          jaccard(col("hs_n"), col("hs_b")).as("jaccard"))
        .filter(col("jaccard") >= minJaccard),
      staging, "inc_cross_pairs")
    val newPairs = Staging.materialize(
      minhashSelfPairs(newBase, minJaccard, maxBucket),
      staging, "inc_new_pairs")
    // no .distinct(): left_anti ignores right-side multiplicity and
    // its hash build dedups keys (see [[curate]]'s dropIds)
    val dropIds = crossPairs.select(col("new_id").as("doc_id"))
      .unionByName(newPairs.select(
        greatest(col("id_a"), col("id_b")).as("doc_id")))
    val keepers = named.join(dropIds, Seq("doc_id"), "left_anti")
    IncrementalDedupResult(keepers, crossPairs, newPairs, newBase)
  }

  /** Fold an incremental pass's survivors into the base table: append
    * the keepers' rows of `newBase` (already computed — this is a
    * filter + append, no new signature work) to `baseDir/minhash_base`,
    * so the NEXT snapshot dedups against base + this snapshot's
    * keepers. Parquet append is not atomic across failures — rerunning
    * a failed append can duplicate base rows, which is RECALL-safe
    * (extra identical band rows re-find the same candidates; crossPairs
    * dedups per (new_id, base_id)) but wasteful; compact the base table
    * on a maintenance cadence if appends churn.
    *
    * WARNING — appending MUTATES `baseDir/minhash_base`, which other
    * frames may be lazily reading: a staged [[curate]]/[[release]]
    * run's `hotBuckets` audit is a lazy RE-SCAN of that same table
    * (by design), so evaluate/materialize any such audit BEFORE
    * appending, or the audit will count the snapshot's band rows as
    * the original run's. The same goes for any other unevaluated
    * consumer of the staged base.
    */
  def appendToBase(baseDir: String, result: IncrementalDedupResult): Unit =
    result.newBase
      .join(result.keepers.select(col("doc_id").as("id")), Seq("id"),
        "left_semi")
      .write.mode("append").parquet(s"$baseDir/minhash_base")

  // ---- exact-substring (verbatim-run) dedup ----------------------------
  /** Maximal verbatim token runs duplicated ANYWHERE in the corpus —
    * the published substring-level pass (flag/excise long verbatim
    * runs, the suffix-array dedup of Lee et al. 2022) re-expressed as
    * stride-1 shingling: a shared run of R >= `minRun` tokens is
    * exactly a chain of R - minRun + 1 consecutive positions whose
    * minRun-gram hashes each occur >= 2 times corpus-wide (intra-doc
    * repeats included — a doc that repeats its own passage is flagged
    * too). Per doc, flagged positions merge into maximal intervals
    * (positions p, p' chain iff p' <= p + minRun, i.e. their windows
    * overlap or touch), so a planted R-token copy comes back as ONE
    * (start, len=R) run with exact boundaries.
    *
    * Returns (doc_id, start, len) in TOKEN coordinates
    * ([[tokens]]-array indices, 0-based) — run lengths are always
    * >= minRun. Excision/flag policy is the caller's (drop the doc,
    * cut the range, weight it down).
    *
    * Scale shape: the hashes frame carries (doc_id, pos, 8-byte hash)
    * — never text; the frequency filter is a partial-agg groupBy on
    * the hash; the run-merge is ONE groupBy(doc) whose collect_list
    * is bounded by the doc's own length ([[reassemble]]'s argument)
    * and merges via a HOF `aggregate` over the sorted positions.
    * Hashing is `xxhash64(concat_ws(" ", window))` per position —
    * O(n * minRun) per doc inside codegen (a fused Karp-Rabin rolling
    * hash would be O(n); at minRun <= ~50 the HOF form stays cheap and
    * keeps the no-custom-kernel surface). 64-bit collisions can
    * over-flag a position (never under-flag); the mirror oracle
    * compares against COLLISION-FREE tuple counting, so the green q74
    * hash is also evidence no collision fired at this scale.
    */
  def duplicatedRuns(docs: DataFrame, id: Column, text: Column,
      minRun: Int = 10, staging: Option[String] = None): DataFrame = {
    require(minRun >= 2, s"minRun must be >= 2, got $minRun")
    val toked = docs.select(id.as("doc_id"), tokens(text).as("toks"))
      .withColumn("nt", size(col("toks")))
      .filter(col("nt") >= minRun)
    // (doc_id, pos, h): one row per stride-1 window. Barrier: consumed
    // by the frequency count AND the flag join. Hashing is the fused
    // [[PosShingleHashes]] (one reused window buffer per doc; the HOF
    // twin — transform + slice + concat_ws + xxhash64 — is
    // byte-identical by test and was the measured per-doc hot spot:
    // a slice allocation + string concat per position).
    val sh = Staging.materialize(
      toked
        .select(col("doc_id"),
          posexplode_outer(PosShingleHashes.of(col("toks"), minRun)))
        .toDF("doc_id", "pos", "h"),
      staging, "run_hashes")
    val dup = sh.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
    // 100 TB note (no-silent-caps house rule applied to run hashes): at
    // bench scale `dup` broadcasts and `sh` never shuffles for this
    // flag join; at corpus scale the duplicated-hash set outgrows the
    // broadcast threshold and this becomes an SMJ left-semi where a
    // ubiquitous boilerplate minRun-gram is a hot key — AQE skew-join
    // handling covers left-semi splits, and the partial-agg `dup` side
    // stays one row per hash either way. Watch item, not a defect.
    val flagged = sh.join(dup.select(col("h")), Seq("h"), "left_semi")
    val mergedT = "array<struct<s:int,e:int>>"
    flagged.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
      .select(col("doc_id"), explode_outer(aggregate(
        col("ps"), lit(null).cast(mergedT),
        (acc, p) => when(acc.isNull,
            array(struct(p.as("s"), (p + minRun).as("e"))))
          .when(p <= element_at(acc, -1)("e"),
            concat(slice(acc, lit(1), size(acc) - 1),
              array(struct(element_at(acc, -1)("s").as("s"),
                (p + minRun).as("e")))))
          .otherwise(concat(acc,
            array(struct(p.as("s"), (p + minRun).as("e"))))))).as("run"))
      .select(col("doc_id"), col("run.s").as("start"),
        (col("run.e") - col("run.s")).as("len"))
  }

  /** Excise flagged runs: rebuild each doc as its token stream MINUS
    * every token covered by a `runs` interval — the "cut the range"
    * policy over [[duplicatedRuns]] output (callers choose the policy
    * upstream by filtering the runs frame, e.g. keep each run's first
    * occurrence by dropping the lowest-(doc_id, start) row per
    * duplicated content before passing it here).
    *
    * Coordinates are [[tokens]]-array indices — the SAME (lowered)
    * token stream [[duplicatedRuns]] hashed — so the output text is
    * the normalized lowercase token stream joined by single spaces
    * (what the downstream BPE/packing path consumes anyway); docs with
    * no flagged runs come back as their rejoined token stream too, so
    * the transformation is uniform. `runs` must carry (doc_id, start,
    * len) like [[duplicatedRuns]] emits; a require guards the shape.
    *
    * Scale shape: one partial-agg groupBy collapses the runs frame to
    * per-doc interval arrays (bounded by the doc's own token count),
    * one equi-join on the 8-byte id attaches them, and the cut is a
    * map-side indexed-filter HOF — no text in the runs exchange. The
    * docs side avoids shuffling while the aggregated runs frame
    * broadcasts (the common case — intervals are a sliver of the
    * corpus; a spec pins the BroadcastHashJoin at the default
    * threshold); a corpus whose aggregated runs exceed the broadcast
    * threshold falls back to a standard 8-byte-id shuffle of both
    * sides, which is the correct plan there, not a defect.
    */
  def exciseRuns(docs: DataFrame, id: Column, text: Column,
      runs: DataFrame): DataFrame = {
    require(Seq("doc_id", "start", "len").forall(runs.columns.contains),
      s"exciseRuns needs (doc_id, start, len) columns in the runs frame " +
        s"(got ${runs.columns.mkString(", ")}) — the [[duplicatedRuns]] " +
        "output shape; select/rename before calling")
    val perDoc = runs.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("start").as("s"), col("len").as("l")))
        .as("__rs"))
    // LINEAR complement-slice cut (r08): sort the doc's intervals once
    // and emit the kept gaps between them with a cursor walk — O(T +
    // R log R) per doc instead of the old per-token `exists` over the
    // interval array (O(T * R): quadratic-ish for a doc that is mostly
    // duplicated runs). `greatest` on the cursor makes overlapping,
    // touching, negative-start and past-the-end intervals all degrade
    // to exactly the old per-token coverage semantics (a property test
    // pins equality against the per-token form on adversarial interval
    // sets); slice lengths are clamped at 0, and slice itself clamps
    // reads past the token array. Intervals must be non-null rows, the
    // [[duplicatedRuns]] output shape.
    val emptyRs = typedlit(Seq.empty[(Int, Int)]).cast("array<struct<s:int,l:int>>")
    val acc0 = struct(lit(0).as("c"),
      typedlit(Seq.empty[Seq[String]]).cast("array<array<string>>").as("parts"))
    docs.select(id.as("doc_id"), text.as("text"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("__toks", tokens(col("text")))
      .select(col("doc_id"), aggregate(
        array_sort(coalesce(col("__rs"), emptyRs)),
        acc0,
        (acc, r) => struct(
          greatest(acc("c"), r("s"), r("s") + r("l")).as("c"),
          concat(acc("parts"), array(slice(col("__toks"), acc("c") + 1,
            greatest(lit(0), r("s") - acc("c"))))).as("parts")),
        acc => array_join(flatten(concat(acc("parts"),
          array(slice(col("__toks"), acc("c") + 1,
            greatest(lit(0), size(col("__toks")) - acc("c")))))), " "))
        .as("text"))
  }
}
