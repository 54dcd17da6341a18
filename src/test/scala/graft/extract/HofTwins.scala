package graft.extract

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.analysis.{LangProfiles, TextOps, VectorOps}
import TshExtract.{adjustRefValue, normalize, toFloat}
import TshPatterns._

/** UDF-free expression-chain twins of the product's native expressions,
  * kept as test oracles: specs compare each native column with its twin
  * on the same inputs, byte for byte. Change both or neither.
  *
  * Per-line parsing is a staged chain of `transform` calls, each adding
  * struct fields that the next stage reads as leaves, so the tree stays
  * linear in the parse steps. `regexp_instr` + `length(regexp_extract)`
  * give Python's leftmost `re.search` match; `regexp_extract_all` gives
  * `finditer`'s tokenization (the fallback's last number, quirk Q8).
  */
object HofTwins {

  private val nullS = lit(null).cast("string")

  // ---- TSH / analyte candidate gather (twins of GatherCore) ---------------

  private def nullIfEmpty(c: Column): Column =
    when(c === "", nullS).otherwise(c)

  /** G2 — `_score_candidate`'s label penalty (`parsers/tsh.py:282-290`).
    * `fallback` is tested before `tsh` (so the fallback label scores 2),
    * and dotted labels like "T.S.H" contain neither "tsh" nor "thyr" and
    * genuinely score 3 — the reference's `else` branch is reachable.
    */
  private def labelPenalty(label: Column): Column = {
    val l = lower(label)
    when(l.contains("fallback"), 2)
      .when(l.contains("tsh"), 0)
      .when(l.contains("thyr"), 1)
      .otherwise(3)
  }

  /** Candidate struct: leading fields are the total sort key (Q7). */
  private def candidate(hasRange: Column, penalty: Column, spanStart: Column,
      lineNo: Column, value: Column, unit: Column, refMin: Column,
      refMax: Column, label: Column): Column =
    struct(
      hasRange.as("has_range"), penalty.as("penalty"),
      spanStart.cast("int").as("span_start"), lineNo.cast("int").as("line_no"),
      value.as("value"), unit.as("unit"),
      refMin.as("ref_min"), refMax.as("ref_max"), label.as("label"))

  private def linesOf(raw: Column): Column = split(normalize(raw), "\n")

  /** E1-E6 generalized — `_extract_tsh_from_labelled_line` semantics
    * (`parsers/tsh.py:131-182,251-257`) with the label/unit patterns as
    * parameters; returns candidate structs in line order. Twin of the
    * labelled phase of [[MultiAnalyteGather]].
    */
  def labelledCandidates(raw: Column, labelRe: String, unitRe: String): Column = {
    val s1 = transform(linesOf(raw), (l, i) =>
      struct(l.as("line"), i.as("line_no"),
        regexp_instr(l, lit(labelRe)).as("label_pos"))) // 1-based; 0 = none
    // E1 gate (`parsers/tsh.py:252-253`): drop label-less lines NOW so
    // the expensive per-line stages below only run on candidate lines
    val s1g = filter(s1, c => c("label_pos") > 0)
    val s1l = transform(s1g, c =>
      struct(c("line"), c("line_no"), c("label_pos"),
        regexp_extract(c("line"), labelRe, 0).as("label")))
    // snippet = everything after the label (`parsers/tsh.py:142`)
    val s2 = transform(s1l, c =>
      struct(c("line_no"), c("label_pos"), c("label"),
        c("line").substr(c("label_pos") + length(c("label")),
          length(c("line"))).as("snippet")))
    val s3 = transform(s2, c =>
      struct(c("line_no"), c("label_pos"), c("label"), c("snippet"),
        get(regexp_extract_all(c("snippet"), lit(Num), lit(0)), lit(0))
          .as("first_num"), // first number after label (Q8)
        regexp_instr(c("snippet"), lit(Num)).as("num_pos"),
        size(regexp_extract_all(c("snippet"), lit(Num), lit(0))).as("n_nums")))
    val s4 = transform(s3, c =>
      struct(c("line_no"), c("label_pos"), c("label"), c("first_num"), c("n_nums"),
        c("snippet").substr(c("num_pos") + length(c("first_num")),
          length(c("snippet"))).as("after")))
    val s5 = transform(s4, c =>
      struct(c("line_no"), c("label_pos"), c("label"), c("n_nums"),
        toFloat(c("first_num")).as("value"),
        // unit searched in a 25-char window after the value (quirk Q10)
        nullIfEmpty(regexp_extract(substring(c("after"), 1, 25), unitRe, 0))
          .as("unit"),
        adjustRefValue(nullIfEmpty(regexp_extract(c("after"), Range, 1)))
          .as("ref_min"),
        adjustRefValue(nullIfEmpty(regexp_extract(c("after"), Range, 2)))
          .as("ref_max")))
    val cands = transform(s5, c =>
      when(c("label_pos") > 0 && c("n_nums") > 0 && c("value").isNotNull,
        candidate(
          when(c("ref_min").isNotNull && c("ref_max").isNotNull, 0).otherwise(1),
          labelPenalty(c("label")), c("label_pos") - 1, c("line_no"),
          c("value"), c("unit"), c("ref_min"), c("ref_max"), c("label"))))
    filter(cands, c => c.isNotNull)
  }

  /** E1-E6 for TSH: the generic chain with the reference's patterns (the
    * "thyr" half of the reference's gate is semantically inert — E2
    * re-requires the label — so label_pos>0 is the net gate).
    */
  def tshLabelledCandidates(raw: Column): Column =
    labelledCandidates(raw, Label, UnitLabelled)

  /** E7-E11 — `_extract_tsh_from_mui_line` over every line
    * (`parsers/tsh.py:189-239`): unit-anchored fallback; value = LAST
    * number before the unit (Q8); span_start fixed at 0
    * (`parsers/tsh.py:236`); unit regex lacks pUI/mL (Q6).
    */
  def fallbackCandidates(raw: Column): Column = {
    val s0 = transform(linesOf(raw), (l, i) =>
      struct(l.as("line"), i.as("line_no"),
        (lower(l).contains("mui") || lower(l).contains("ui/l")).as("gate")))
    // E7 gate (`parsers/tsh.py:198-199`): cheap substring check first,
    // regex work only on gated lines
    val s0g = filter(s0, c => c("gate"))
    val s1 = transform(s0g, c =>
      struct(c("line"), c("line_no"), c("gate"),
        regexp_instr(c("line"), lit(UnitFallback)).as("unit_pos"),
        regexp_extract(c("line"), UnitFallback, 0).as("unit")))
    val s2 = transform(s1, c =>
      struct(c("line_no"), c("gate"), c("unit_pos"), c("unit"),
        c("line").substr(lit(1), c("unit_pos") - 1).as("before"),
        c("line").substr(c("unit_pos") + length(c("unit")),
          length(c("line"))).as("after")))
    val s3 = transform(s2, c =>
      struct(c("line_no"), c("gate"), c("unit_pos"), c("unit"),
        try_element_at(regexp_extract_all(c("before"), lit(Num), lit(0)), lit(-1))
          .as("last_num"), // ANSI-safe on empty arrays
        adjustRefValue(nullIfEmpty(regexp_extract(c("after"), Range, 1)))
          .as("ref_min"),
        adjustRefValue(nullIfEmpty(regexp_extract(c("after"), Range, 2)))
          .as("ref_max")))
    val s4 = transform(s3, c =>
      struct(c("line_no"), c("gate"), c("unit_pos"), c("unit"),
        c("ref_min"), c("ref_max"), toFloat(c("last_num")).as("value")))
    val cands = transform(s4, c =>
      when(c("gate") && c("unit_pos") > 0 && c("value").isNotNull,
        candidate(
          when(c("ref_min").isNotNull && c("ref_max").isNotNull, 0).otherwise(1),
          lit(2), lit(0), c("line_no"),
          c("value"), nullIfEmpty(c("unit")), c("ref_min"), c("ref_max"),
          lit(FallbackLabel))))
    filter(cands, c => c.isNotNull)
  }

  /** G1 — two-phase gather (`parsers/tsh.py:246-266`): the fallback
    * pass runs only for docs with zero labelled candidates. `labelled`
    * should be a materialized column to avoid double evaluation.
    */
  def gatherCandidates(raw: Column, labelled: Column): Column =
    when(size(labelled) > 0, labelled).otherwise(fallbackCandidates(raw))

  /** `df` plus the twin's candidates for `rawCol` as column `out`. */
  def withGather(df: DataFrame, rawCol: String, out: String): DataFrame =
    df.withColumn(s"${out}_lab", tshLabelledCandidates(col(rawCol)))
      .withColumn(out, gatherCandidates(col(rawCol), col(s"${out}_lab")))

  // ---- best-pick and span assembly (twins of TshExtract.best and
  //      SpanAssembly.assemble) ---------------------------------------------

  /** G3 as a stable sort: the head of `array_sort` over the candidate
    * structs (NULL elements sort last; equal elements keep their order).
    */
  def bestBySort(cands: Column): Column =
    when(size(cands) > 0, get(array_sort(cands), lit(0)))

  private def span(kind: String, text: Column, mediaRef: Column): Column =
    struct(lit(kind).as("kind"), text.as("text"), mediaRef.as("media_ref"))

  /** G6 as filter + transform: every possible span in emission order,
    * absent ones NULL, then the NULLs dropped and each survivor numbered
    * by its position.
    */
  def assembleByFilter(r: Column, firstMediaRef: Column): Column = {
    val noRef = lit("")
    val rawSpan = when(r("raw_text").isNotNull,
      span("raw_text", r("raw_text"), coalesce(firstMediaRef, lit(""))))
    val items = when(r("ok"),
      array(
        span("marker", lit("TSH"), noRef),
        span("value", r("value").cast("string"), noRef),
        when(r("unit").isNotNull, span("unit", r("unit"), noRef)),
        when(r("ref_min").isNotNull, span("ref_min", r("ref_min").cast("string"), noRef)),
        when(r("ref_max").isNotNull, span("ref_max", r("ref_max").cast("string"), noRef)),
        span("confidence", r("confidence"), noRef),
        rawSpan))
      .otherwise(array(
        span("marker", lit("TSH"), noRef),
        span("error", r("error"), noRef),
        rawSpan))
    val present = filter(items, s => s.isNotNull)
    transform(present, (s, i) =>
      struct(s("kind").as("kind"), s("text").as("text"),
        s("media_ref").as("media_ref"), i.cast("int").as("order")))
  }

  // ---- entity list (twin of AnalyteExtract.withEntities' concat) ---------

  /** The entity array of `withEntities` as a `filter` over every
    * analyte's entity struct, the absent ones (NULL) dropped.
    */
  def entitiesByFilter(out: String, cfgs: Seq[AnalyteConfig]): Column =
    filter(array(cfgs.map(AnalyteExtract.entity(out, _)): _*), e => e.isNotNull)

  // ---- curation features (twins of CurationFeatures / TextOps.curationFeatures)

  /** Length / punctuation / stopword counts and ratios, one regex per count. */
  def qualityFeatures(text: Column): Column = {
    val len = length(text)
    val toks = TextOps.tokenCount(text)
    val punct = size(regexp_extract_all(text, lit("[^\\p{L}0-9\\s]"), lit(0)))
    val stop = size(regexp_extract_all(lower(text),
      lit(TextOps.Stopwords.mkString("\\b(?:", "|", ")\\b")), lit(0)))
    struct(len.as("n_chars"), toks.as("n_tokens"), punct.as("n_punct"),
      stop.as("n_stopwords"),
      when(toks > 0, stop.cast("double") / toks).otherwise(0.0).as("stopword_ratio"),
      when(len > 0, punct.cast("double") / len).otherwise(0.0).as("punct_ratio"))
  }

  /** Per-language marker-word regexes, built from TextOps.LangMarkerWords. */
  val LangMarkers: Seq[(String, String)] =
    TextOps.LangMarkerWords.map { case (l, ws) =>
      l -> ws.mkString("\\b(?:", "|", ")\\b")
    }

  def langIdScores(text: Column): Seq[(String, Column)] =
    LangMarkers.map { case (l, re) =>
      l -> size(regexp_extract_all(lower(text), lit(re), lit(0)))
    }

  /** Twin of TextOps.markerLang: a `when` fold with the declaration-order
    * tiebreak. Its tree doubles per language (fine at four; never in
    * src/main).
    */
  def langIdBest(text: Column): Column = langArgmax(langIdScores(text))

  private def langArgmax(scores: Seq[(String, Column)]): Column =
    scores.tail.foldLeft(
      struct(scores.head._2.as("s"), lit(scores.head._1).as("l"))) {
      case (acc, (l, s)) =>
        when(s > acc("s"), struct(s.as("s"), lit(l).as("l"))).otherwise(acc)
    }("l")

  /** (doc_id, text, lang_pred, n_tokens, punct_ratio) from the regex chain. */
  def curationFeatures(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.select(id.as("doc_id"), text.as("text"))
      .withColumn("f", qualityFeatures(col("text")))
      .withColumn("lang_pred", langIdBest(col("text")))
      .select(col("doc_id"), col("text"), col("lang_pred"),
        col("f.n_tokens").as("n_tokens"), col("f.punct_ratio").as("punct_ratio"))

  // ---- text sketches (twins of Simhash64 / ShingleHashes / MinhashSignature /
  // MinhashBandKeys) ----------------------------------------------------------

  /** SimHash: per-bit majority vote of xxhash64(token), one `aggregate` per bit. */
  def simhashHof(text: Column): Column = {
    val hs = transform(TextOps.tokens(text), t => xxhash64(t))
    val bits: Seq[Column] = (0 until 64).map { b =>
      val votes = aggregate(hs, lit(0),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1))
      when(votes > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b)).as("simhash")
  }

  /** Distinct word n-gram shingles as an array column. */
  def shingles(text: Column, n: Int): Column = {
    val toks = TextOps.tokens(text)
    array_distinct(
      when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))
        .otherwise(array()))
  }

  /** One string hash per shingle. */
  def shingleHashes(sh: Column): Column = transform(sh, s => xxhash64(s))

  /** MinHash signature from already-hashed shingles: m permutations
    * approximated by seeded xxhash64 over the shingle hashes.
    */
  def minhashSignature0(hs: Column, m: Int): Column =
    transform(sequence(lit(0), lit(m - 1)),
      p => coalesce(array_min(transform(hs, h => xxhash64(p, h))),
        lit(Long.MaxValue)))

  /** LSH band keys: split the signature into `bands` bands and hash each. */
  def lshBandKeys(sig: Column, m: Int = 16, bands: Int = 4): Column = {
    val rows = m / bands
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        xxhash64(concat_ws("_", slice(sig, b * lit(rows) + lit(1), lit(rows))))
          .as("bucket")))
  }

  // ---- vectors (twins of CosineSim / SignProjections / SignBuckets /
  // BroadcastDotProducts) -----------------------------------------------------

  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)

  private def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0d), (acc, x) => acc + x * x))

  def cosineHof(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d > 0, dot(a, b) / d).otherwise(0.0)
  }

  /** Deterministic pseudo-random ±1 hyperplane component for
    * (plane, dim) — recomputable anywhere, nothing to broadcast.
    */
  private def planeComponent(p: Column, d: Column): Column =
    when(pmod(xxhash64(p, d), lit(2)) === 0, 1.0d).otherwise(-1.0d)

  /** Signed projections of `vec` onto the `nPlanes` planes of `table`. */
  def projections(vec: Column, nPlanes: Int, table: Int): Column =
    transform(sequence(lit(0), lit(nPlanes - 1)), p =>
      aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, d) => x * planeComponent(p + lit(table * nPlanes), d)),
        lit(0.0d), (acc, v) => acc + v))

  /** All projections as [table][plane] (array<array<double>>). */
  def projMatrix(vec: Column, nPlanes: Int, tables: Int): Column =
    array((0 until tables).map(t => projections(vec, nPlanes, t)): _*)

  /** Corpus-side LSH keys: one (table, bucket) per table. */
  def lshKeys(vec: Column, nPlanes: Int, tables: Int): Column =
    zip_with(projMatrix(vec, nPlanes, tables),
      sequence(lit(0), lit(tables - 1)),
      (projs, t) => struct(t.as("table"), VectorOps.bucketOf(projs).as("bucket")))

  /** Centroid dot products with the centroid matrix as a plan literal. */
  def centroidDots(vec: Column, unitCents: Seq[Seq[Double]]): Column =
    transform(typedlit(unitCents), c => dot(vec, c))

  // ---- language id (twin of LangNgramScores) -----------------------------

  /** Per-language trigram scores with the profile table embedded as a
    * map literal. Byte-identical accumulation: per trigram in order,
    * adding each language's weight left to right; absent trigrams add
    * +0.0 to never-negative accumulators, so the IEEE result matches
    * the fused skip exactly.
    */
  def scoresHof(text: Column): Column = {
    import scala.jdk.CollectionConverters._
    import LangProfiles.{Languages, N}
    val zeros = typedlit(Seq.fill(Languages.length)(0.0))
    val tableLit = typedlit(
      LangProfiles.table.asScala.map { case (g, w) => g -> w.toSeq }.toMap)
    val norm = concat(lit(" "),
      trim(regexp_replace(lower(text), "[^\\p{L}]+", " ")), lit(" "))
    val grams = when(length(norm) >= N,
      transform(sequence(lit(0), length(norm) - N),
        i => norm.substr(i + 1, lit(N))))
      .otherwise(typedlit(Seq.empty[String]))
    aggregate(grams, zeros, (acc, g) =>
      zip_with(acc, coalesce(element_at(tableLit, g), zeros), (a, b) => a + b))
  }
}
