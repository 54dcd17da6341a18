package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.analysis.{CurationFeatures, TextOps, VectorOps}
import graft.corpus.Corpus
import graft.extract.TshExtract

/** Driver contract — one `queries` entry per operator family from
  * SURVEY.md §2 (+ the large-scale training-data ops), each with an
  * equivalent DuckDB `oracleSql` where the op is SQL-expressible;
  * non-SQL-expressible ops (xxhash-based sketches, the full OCR
  * pipeline) are rows-only entries validated by the golden ScalaTest
  * suite instead.
  *
  * Column names are aliased identically on both sides (the driver's
  * compare sorts columns by name before hashing). Aggregates avoid
  * order-dependent float sums (exact sums / min / max / counts only).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Input-skew guard (optimization guide §2.5 "input skew ...
    * repartition immediately after the read"): the sf test tables are
    * single-row-group parquet files, so every scan is ONE partition
    * and a regex/minhash-heavy map chain runs on one core (measured:
    * the q64 curation stage spent 1.7 s in a 1-task stage at sf0.1 on
    * 32 cores). Round-robin repartition to the session's configured
    * parallelism unlocks the map chain; the guard keeps it
    * scale-adaptive rather than local-tuned — a production corpus
    * arrives in >= shuffle-partitions splits, and then this is a
    * NO-OP (no exchange injected; a 100 TB text table must never be
    * blanket-reshuffled, which is why the spread lives in the query
    * entry, not inside the operators). Only applied where the timed
    * action actually forces per-row compute (joins/aggs/explodes over
    * derived values); scan/pushdown queries keep their bare scans.
    * Lifecycle note: localCheckpoint blocks live OUTSIDE the SQL cache
    * (spark.catalog.clearCache() does not evict them); they are
    * reclaimed by the ContextCleaner once the per-query frames are
    * GC'd, and are sub-MB each at the sf scales this guard fires at.
    */
  private def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    if (df.rdd.getNumPartitions < p)
      // localCheckpoint, not a bare repartition: Catalyst pushes
      // deterministic filters/projections BELOW a repartition, which
      // re-pins the regex-heavy work onto the 1-task scan (measured:
      // q49's curation gate ran as a 1.5 s single-task stage under a
      // bare repartition). The checkpoint is a hard barrier — heavy
      // expressions evaluate on the 32-way side — and it truncates the
      // lineage the deep compositions (q64/q50) otherwise re-analyze
      // per barrier reference. Eager + tiny (these are the sub-MB sf
      // tables; the guard above keeps real multi-split corpora on
      // their bare parallel scans).
      df.repartition(p).localCheckpoint()
    else df
  }

  /** JVM-exit cleanup registry for q72's per-invocation staged base
    * dirs: one shutdown hook, however many invocations (each hook
    * thread would otherwise accumulate in a long-lived session).
    */
  private object Q72TempDirs {
    private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
    private lazy val hook: Unit = Runtime.getRuntime.addShutdownHook(
      new Thread(() => dirs.forEach { d =>
        try {
          val walk = java.nio.file.Files.walk(d)
          try {
            import scala.jdk.CollectionConverters._
            walk.iterator().asScala.toSeq.reverse
              .foreach(java.nio.file.Files.deleteIfExists(_))
          } finally walk.close()
        } catch { case _: Exception => }
      }))
    def register(d: java.nio.file.Path): Unit = { hook; dirs.add(d) }
  }


  private def us(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    unix_micros(c.cast("timestamp"))

  /** The as-of inputs SHARED by q60 (plain) and q67 (bucketed): clicks
    * as the lookup side, purchases pre-aggregated unique per
    * (user, time) so the at-equal-time tiebreak is deterministic. One
    * builder — the q67->q60 shared-oracle premise ("row-identical
    * forms over identical inputs") must not be maintainable by hand in
    * two places.
    */
  private def asofInputs(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val ev = t(s, d, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), us(col("ts")).as("t_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), us(col("ts")).as("t_us"))
      .agg(max(col("event_id")).as("r_event_id"))
    (clicks, purchases)
  }

  /** Session volume stats SHARED by q62 (plain) and q68 (bucketed). */
  private def sessionStats(sess: DataFrame): DataFrame =
    sess.groupBy(col("user_id"), col("session_no"))
      .agg(count(lit(1)).as("n_events"),
        min(us(col("ts"))).as("start_us"), max(us(col("ts"))).as("end_us"))

  // q52's deterministic HTML wrapping, shared verbatim by the Spark
  // query and the generated DuckDB oracle (entity coverage: named +
  // numeric + hex refs from TextOps.EntityDecodes, incl. the
  // double-encoded &amp;lt; which must decode to the LITERAL "&lt;")
  private val Q52Prefix =
    "<html><head><style type=\"text/css\">body{color:#000}</style>" +
      "<script>if(1&lt;2){a=&quot;x&quot;;}</script></head><body><h1>Doc</h1><p>"
  private val Q52Suffix =
    "</p><!-- footer --><div>&amp; more &lt;tags&gt;&nbsp;here</div>" +
      "<p>&#39;n&#x27; &#34;q&#x22;&#160;it&mdash;em&ndash;en&apos;end&hellip; " +
      "&#60;kept&#x3e; &#38;co &amp;lt;</p></body></html>"

  /** Flagship: the full auto-cascade TSH extraction (OCR pool +
    * Catalyst core) over an in-memory deterministic corpus; exploded
    * span rows. Driver smoke-checks rows > 0 on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame =
    Pipeline.extractRows(Corpus.generate(spark, 512), "auto")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational skeleton (SURVEY.md §2.8) -----------------------------
    "q01_scan_project" -> ((s, d) =>
      t(s, d, "part").select(col("p_partkey"), col("p_name"), col("p_size"))),

    "q02_filter_pushdown" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_quantity") > 30 && col("l_returnflag") === "A")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))),

    "q03_agg_groupby" -> ((s, d) =>
      t(s, d, "lineitem").groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n"),
          max(col("l_extendedprice")).as("max_price"),
          min(col("l_discount")).as("min_disc"))),

    "q04_join_broadcast" -> ((s, d) =>
      t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_cust"), max(col("c_acctbal")).as("max_bal"))),

    "q05_window_top1" -> ((s, d) => {
      // G3 analog: deterministic top-1 per group with full tiebreak (Q7)
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, d, "orders").withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
    }),

    "q06_anti_join" -> ((s, d) =>
      // G1 fallback-gating analog: docs with zero labelled candidates
      t(s, d, "customer").join(
        t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))),

    "q07_semi_join" -> ((s, d) =>
      t(s, d, "supplier").join(
        t(s, d, "lineitem").filter(col("l_quantity") >= 49),
        col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))),

    "q08_union_cascade" -> ((s, d) => {
      // C3 cascade-stage union analog: tagged branches, unionByName
      val o = t(s, d, "orders")
      val light = o.filter(col("o_totalprice") > 150000)
        .select(col("o_orderkey"), lit("light").as("src"))
      val premium = o.filter(col("o_totalprice") <= 150000 && col("o_orderstatus") === "F")
        .select(col("o_orderkey"), lit("premium").as("src"))
      light.unionByName(premium)
    }),

    "q09_distinct" -> ((s, d) =>
      t(s, d, "lineitem").select(col("l_returnflag"), col("l_linestatus")).distinct()),

    "q10_sort_limit" -> ((s, d) =>
      t(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select(col("o_orderkey"), col("o_totalprice")).limit(10)),

    // ---- extraction string core over TPC-H strings (N1-N4, E2-E9) --------
    "q11_n1_normalize" -> ((s, d) => {
      val messy = concat(lit("  "), col("p_name"), lit("\t\t "), col("p_brand"),
        lit("\r"), col("p_type"))
      t(s, d, "part").select(col("p_partkey"),
        TshExtract.normalize(messy).as("norm"))
    }),

    "q12_n3_tofloat" -> ((s, d) => {
      val sRaw = concat(lit(" "),
        regexp_replace(col("l_quantity").cast("string"), "\\.", ","))
      t(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        TshExtract.toFloat(sRaw).as("val"))
    }),

    "q13_n4_adjust" -> ((s, d) => {
      val padded = expr("lpad(CAST(l_orderkey % 9999 AS string), " +
        "CASE WHEN l_orderkey % 3 = 0 THEN 3 WHEN l_orderkey % 3 = 1 THEN 4 " +
        "ELSE 2 END, '0')")
      t(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        TshExtract.adjustRefValue(padded).as("adjusted"))
    }),

    "q14_regex_extract" -> ((s, d) => {
      // E2-E5 machinery cross-engine (ASCII patterns valid in RE2 + Java)
      val line = concat(lit("TSH "), col("l_quantity").cast("string"),
        lit(" mUI/L (0,27 - 4,20) fin"))
      val num = "[0-9]+(?:[.,][0-9]+)?"
      val range = s"($num)\\s*(?:-|~|a|to|&)\\s*($num)"
      t(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        regexp_extract(line, "(?i)TSH", 0).as("label"),
        TshExtract.toFloat(regexp_extract(line, num, 0)).as("value"),
        regexp_extract(line, "(?i)(m ?UI/?L|UI/?L|mUI)", 1).as("unit"),
        TshExtract.adjustRefValue(regexp_extract(line, range, 1)).as("ref_min"),
        TshExtract.adjustRefValue(regexp_extract(line, range, 2)).as("ref_max"))
    }),

    "q15_last_number" -> ((s, d) => {
      // E9: LAST number before a marker, via regexp_extract_all (Q8)
      val sCol = concat(col("l_orderkey").cast("string"), lit(" "),
        col("l_quantity").cast("string"), lit(" mUI"))
      val nums = regexp_extract_all(sCol, lit("[0-9]+(?:\\.[0-9]+)?"), lit(0))
      t(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        try_element_at(nums, lit(-1)).as("last_num"))
    }),

    "q16_posexplode_split" -> ((s, d) =>
      // N2: line split with load-bearing position (Q7 tiebreak source)
      t(s, d, "part")
        .select(col("p_partkey"),
          posexplode(split(col("p_name"), " ")).as(Seq("pos", "word")))
        .select(col("p_partkey"), col("pos").cast("long").as("pos"), col("word"))),

    "q17_case_when" -> ((s, d) =>
      // G4 confidence mapping analog
      t(s, d, "orders").select(col("o_orderkey"),
        when(col("o_orderpriority") === "1-URGENT", "high")
          .when(col("o_orderpriority") === "2-HIGH", "medium")
          .otherwise("low").as("confidence"))),

    // ---- training-data pipeline ops (documents / embeddings) -------------
    "q18_dedup_exact" -> ((s, d) =>
      TextOps.exactDupGroups(t(s, d, "documents"),
        substring(col("text"), 1, 30), col("doc_id"))),

    "q19_token_count" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.bpeishTokenCount(col("text")).as("n_bpeish"))),

    "q20_quality_score" -> ((s, d) => {
      val f = col("f")
      def ratio(x: String, n: String) =
        when(f(n) > 0, f(x).cast("double") / f(n)).otherwise(0.0)
      t(s, d, "documents").withColumn("f", CurationFeatures.of(col("text")))
        .select(col("doc_id"), f("n_tokens").as("n_tokens"),
          f("n_stopwords").as("n_stopwords"),
          ratio("n_stopwords", "n_tokens").as("stopword_ratio"),
          ratio("n_punct", "n_chars").as("punct_ratio"))
    }),

    "q21_lang_id" -> ((s, d) => {
      val f = col("f")
      val langs = TextOps.LangMarkerWords.map(_._1)
      t(s, d, "documents").withColumn("f", CurationFeatures.of(col("text")))
        .select((col("doc_id") +: langs.map(l => f(s"s_$l").as(s"s_$l")) :+
          TextOps.markerLang(f).as("lang_pred")): _*)
    }),

    "q52_strip_markup" -> ((s, d) => {
      // main-content extraction (north_rule: HTML boilerplate strip):
      // deterministic HTML wrapping synthesized in-query, stripped by
      // the expression-only TextOps.stripMarkup; the oracle runs the
      // SAME RE2-safe regex chain in DuckDB over the same wrapping,
      // with the entity-decode nest GENERATED from the same table
      val html = concat(lit(Q52Prefix), col("text"), lit(Q52Suffix))
      t(s, d, "documents").select(col("doc_id"),
        TextOps.stripMarkup(html).as("clean"))
    }),

    "q53_strip_boilerplate" -> ((s, d) => {
      // line-frequency boilerplate removal: nav header + legal footer
      // injected into EVERY doc (so they cross the minDocs bar), body
      // lines survive; output is the kept (doc_id, line_no, line) rows
      val wrapped = t(s, d, "documents").select(col("doc_id"),
        concat(lit("HOME | ABOUT | CONTACT\n"), col("text"),
          lit("\n(c) example corp - all rights reserved")).as("text"))
      TextOps.stripBoilerplate(wrapped, col("doc_id"), col("text"), minDocs = 100L)
    }),

    "q59_corpus_stats" -> ((s, d) =>
      // per-source corpus composition report: exact volumes + language
      // mix, one partial-agg shuffle keyed by source
      TextOps.corpusStats(t(s, d, "documents"), col("source"), col("text"))),

    "q56_redact_pii" -> ((s, d) => {
      // PII redaction + URL->host over deterministic synthesized PII;
      // the oracle's regexp_replace nest is GENERATED from
      // TextOps.PiiRedactions (same chain, 'g' flag — Spark replaces
      // all matches, DuckDB's default is first-only)
      val dirty = concat(col("text"),
        lit(" contact u"), col("doc_id"), lit("@mail.example.org or "),
        lit("+1 (555) 123-4567 host 10.42.7."), pmod(col("doc_id"), lit(250)),
        lit(" ssn 123-45-6789 v6 2001:db8:85a3:1:2:8a2e:370:"),
        pmod(col("doc_id"), lit(9999)),
        lit(" card 4111 1111 1111 1111 end"))
      val url = concat(lit("https://user:pw@WWW."), col("source"),
        lit(".Example.com/p/"), col("doc_id"))
      t(s, d, "documents").select(col("doc_id"),
        TextOps.redactPii(dirty).as("clean"),
        TextOps.urlHost(url).as("host"))
    }),

    "q57_repetition" -> ((s, d) => {
      // repetition/composition quality signals over text with injected
      // duplicate lines, a trailing ellipsis and symbol runs — every
      // field IEEE-identical to the DuckDB oracle's list expressions
      val wrapped = concat(col("text"),
        lit("\nrepeat me\nrepeat me\ntrailing...\n1 22 333 #@| end"))
      t(s, d, "documents")
        .withColumn("r", TextOps.repetitionSignals(wrapped))
        .select(col("doc_id"), col("r.n_lines").as("n_lines"),
          col("r.dup_line_frac").as("dup_line_frac"),
          col("r.mean_word_len").as("mean_word_len"),
          col("r.symbol_ratio").as("symbol_ratio"),
          col("r.ellipsis_line_frac").as("ellipsis_line_frac"),
          col("r.alpha_word_frac").as("alpha_word_frac"))
    }),

    "q58_contamination" -> ((s, d) => {
      // benchmark decontamination: 8-gram overlap vs a benchmark set
      // (docs 0-4) over the corpus + planted contaminated probes
      // (doc 0-2's text behind a prefix) — hash-checked against the
      // independent Python mirror (fixtures/gen_hash_expected.py)
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val probes = docs.filter(col("doc_id") < 3)
        .select((col("doc_id") + 3000000).as("doc_id"),
          concat(lit("prefix words ahead then "), col("text")).as("text"))
      val bench = docs.filter(col("doc_id") < 5).select(col("text"))
      TextOps.contaminationHits(spread(docs.unionByName(probes)),
        col("doc_id"), col("text"), bench, col("text"), n = 8, minHits = 1L)
    }),

    "q55_reassemble" -> ((s, d) => {
      // the q53 boilerplate strip composed with document reassembly:
      // kept lines -> one cleaned flat text per doc (asDocs = true)
      val wrapped = t(s, d, "documents").select(col("doc_id"),
        concat(lit("HOME | ABOUT | CONTACT\n"), col("text"),
          lit("\n(c) example corp - all rights reserved")).as("text"))
      TextOps.stripBoilerplate(wrapped, col("doc_id"), col("text"),
        minDocs = 100L, asDocs = true)
    }),

    "q70_budget_quota" -> ((s, d) =>
      // per-source TOKEN-BUDGET quota (keep each source's best docs
      // while their running weight total stays within the budget):
      // BoundedBudgetTop prefix+barrier partial-agg keeper + semi-join
      // — the greedy prefix rule is a window cumsum in SQL, so fully
      // oracled
      TextOps.sourceQuotaBudget(t(s, d, "documents"), col("doc_id"),
          col("source"), col("n_chars"), col("n_chars"), budget = 5000.0)
        .select(col("doc_id"), col("source"), col("n_chars"))),

    "q71_paragraph_dedup" -> ((s, d) => {
      // paragraph-level dedup, both halves composed: an intra-doc
      // repeated paragraph ("footer tag <id>" twice, dropped by the
      // map-only first-occurrence strip) + a corpus-wide boilerplate
      // paragraph (the SUBSCRIBE block in every doc, dropped by the
      // cross-doc frequency pass); organic paragraphs survive; output
      // is the documents rebuilt with blank-line separators
      val wrapped = spread(t(s, d, "documents").select(col("doc_id"), col("text"))).select(col("doc_id"),
        concat(lit("SUBSCRIBE TO OUR NEWSLETTER\n\n"), col("text"),
          lit("\n\nfooter tag "), col("doc_id"),
          lit("\n\nfooter tag "), col("doc_id")).as("text"))
      val intra = wrapped.select(col("doc_id"),
        TextOps.stripRepeatedParagraphs(col("text")).as("text"))
      TextOps.stripParagraphBoilerplate(intra, col("doc_id"), col("text"),
        minDocs = 100L, asDocs = true)
    }),

    "q54_source_quota" -> ((s, d) =>
      // per-source quota (keep the N best docs per domain by a quality
      // key): BoundedTopK partial-agg keeper + semi-join — the exact
      // keeper rule is row_number-expressible, so fully oracled
      TextOps.sourceQuota(t(s, d, "documents"), col("doc_id"), col("source"),
          col("n_chars"), maxPerSource = 10)
        .select(col("doc_id"), col("source"), col("n_chars"))),

    "q22_jaccard_pairs" -> ((s, d) => {
      // 1-gram Jaccard on a small doc sample (cross-engine form of the
      // n-gram near-dup rerank; n=3 variant is ScalaTest-validated)
      val doc = t(s, d, "documents").filter(col("doc_id") < 12)
        .select(col("doc_id"), array_distinct(TextOps.tokens(col("text"))).as("toks"))
      val a = doc.select(col("doc_id").as("id_a"), col("toks").as("t_a"))
      val b = doc.select(col("doc_id").as("id_b"), col("toks").as("t_b"))
      a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          TextOps.jaccard(col("t_a"), col("t_b")).as("jaccard"))
    }),

    "q23_ann_top1" -> ((s, d) => {
      val emb = spread(t(s, d, "embeddings"))
        .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("embedding"))
      VectorOps.bruteForceTopK(emb.filter(col("vec_id") < 5), emb, 1)
        .select(col("query_id"), col("neighbor_id"))
    }),

    // ---- date/time, grouping sets, JSON, math (events/lineitem) ----------
    "q29_time_window" -> ((s, d) =>
      // tumbling event-time window (epoch-second keys for cross-engine
      // comparability; Spark session TZ is UTC)
      t(s, d, "events")
        .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), max(col("value")).as("max_value"))),

    "q30_lag_gaps" -> ((s, d) => {
      // per-user inter-event gap via lag window (sessionization primitive)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      // microseconds: duckdb's epoch(ts)::BIGINT ROUNDS sub-seconds while
      // Spark's unix_timestamp truncates — epoch_us/unix_micros agree.
      // events.ts is parquet TIMESTAMP_NTZ; session TZ is UTC, so the
      // cast to (LTZ) timestamp is a no-op relabel
      val us = (c: org.apache.spark.sql.Column) =>
        unix_micros(c.cast("timestamp"))
      t(s, d, "events").select(col("user_id"), col("event_id"),
        (us(col("ts")) - lag(us(col("ts")), 1).over(w)).as("gap_us"))
    }),

    "q31_rollup" -> ((s, d) =>
      t(s, d, "lineitem").rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))),

    "q32_json_extract" -> ((s, d) =>
      t(s, d, "events").select(col("event_id"),
        get_json_object(col("props"), "$.k").as("k_str"))),

    "q33_math_exact" -> ((s, d) =>
      // IEEE-exact math only (sqrt/abs/ceil/floor/pow-int) — ln/exp are
      // libm-dependent and not bit-stable across engines
      t(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        sqrt(col("l_extendedprice")).as("sq"),
        abs(col("l_discount") - 0.05).as("ab"),
        ceil(col("l_quantity") / 7.0).cast("double").as("ce"),
        floor(col("l_quantity") / 7.0).cast("double").as("fl"),
        pow(col("l_tax"), 2).as("p2"))),

    "q36_cube" -> ((s, d) =>
      t(s, d, "orders").cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), max(col("o_totalprice")).as("max_price"))),

    "q37_set_ops" -> ((s, d) => {
      val hi = t(s, d, "orders").filter(col("o_totalprice") > 100000)
        .select(col("o_custkey"))
      val urgent = t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      hi.intersect(urgent).withColumn("src", lit("both"))
        .unionByName(urgent.except(hi).withColumn("src", lit("urgent_only")))
    }),

    "q38_distinct_count" -> ((s, d) =>
      t(s, d, "lineitem").groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"))),

    "q39_pivot" -> ((s, d) =>
      // pivot as conditional aggregation (the portable form; Spark's
      // .pivot() compiles to the same plan)
      t(s, d, "lineitem").groupBy(col("l_returnflag"))
        .agg(sum(when(col("l_linestatus") === "F", col("l_quantity"))
          .otherwise(0.0)).as("qty_f"),
          sum(when(col("l_linestatus") === "O", col("l_quantity"))
            .otherwise(0.0)).as("qty_o"))),

    "q60_asof_join" -> ((s, d) => {
      // point-in-time join: every click matched to the user's latest
      // purchase at-or-before it (TimeOps.asofJoin: union + per-key
      // ordered carry-forward, ONE hash shuffle — vs DuckDB's native
      // ASOF LEFT JOIN). Inputs shared with q67 (asofInputs).
      import graft.analysis.TimeOps
      val (clicks, purchases) = asofInputs(s, d)
      TimeOps.asofJoin(clicks, purchases, "user_id", "t_us")
        .select(col("event_id"), col("asof.r_event_id").as("r_event_id"))
    }),

    "q61_range_join" -> ((s, d) => {
      // interval join as an equi-join: views falling inside the hour
      // after any error event (TimeOps.rangeJoinBucketed: intervals
      // exploded onto covered time buckets, hash join on bucket id +
      // residual containment filter — vs DuckDB's inequality join)
      import graft.analysis.TimeOps
      val us = (c: org.apache.spark.sql.Column) => unix_micros(c.cast("timestamp"))
      val hourUs = 3600L * 1000000L
      val ev = t(s, d, "events")
      val pts = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("p_event_id"), us(col("ts")).as("t_us"))
      val iv = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("i_event_id"), us(col("ts")).as("s_us"))
        .withColumn("e_us", col("s_us") + hourUs)
      TimeOps.rangeJoinBucketed(pts, col("t_us"), iv, col("s_us"), col("e_us"),
          bucketWidth = hourUs)
        .select(col("p_event_id"), col("i_event_id"))
    }),

    "q69_split_leakage" -> ((s, d) => {
      // cross-split near-dup leakage audit: the organic minhash pairs
      // of the base corpus joined onto the q63 doc-id split — pairs
      // straddling bands are exactly what domain-keyed splitting
      // prevents. Oracle is a pure SQL join of two independently-
      // mirrored fixtures (the q25 pair set restricted to base ids ==
      // the base-only pair set: extra docs add buckets, never remove
      // a base pair's shared band, and the Jaccard rerank is per-pair.
      // PRECONDITION: holds only while no (band, bucket) exceeds
      // maxBucket in EITHER corpus — Buckets.selfPairs's salt could split
      // a hot bucket in the larger q25 corpus and sever a base pair the
      // base-only run would emit; gen_hash_expected.py asserts both
      // corpora are salt-free so a corpus change cannot silently
      // invalidate this oracle)
      val docs = spread(t(s, d, "documents").select(col("doc_id"), col("text")))
      TextOps.splitLeakage(
        TextOps.splitByHash(docs, col("doc_id"),
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)),
        TextOps.minhashDupPairs(docs, col("doc_id"), col("text"),
          n = 3, m = 16, bands = 4, minJaccard = 0.5))
    }),

    "q63_hash_split" -> ((s, d) =>
      // deterministic 90/5/5 split on xxhash64(doc_id) — stable across
      // runs/partitionings; hash-checked vs the Python XXH64 mirror
      TextOps.splitByHash(t(s, d, "documents"), col("doc_id"),
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .select(col("doc_id"), col("split"))),

    "q62_sessionize" -> ((s, d) => {
      // gap-based sessionization: 30-minute silence splits a user's
      // events into sessions (deterministic numbering via event_id
      // tiebreak); session volume stats make the output compact
      import graft.analysis.TimeOps
      sessionStats(TimeOps.sessionize(t(s, d, "events"),
        col("user_id"), us(col("ts")), col("event_id"),
        maxGap = 30L * 60L * 1000000L))
    }),

    "q67_asof_bucketed" -> ((s, d) => {
      // the hot-key-proof TWO-PHASE as-of form, driver-gated against
      // the SAME DuckDB native-ASOF oracle as q60 over the SAME
      // shared inputs (asofInputs — row-identical by contract; here
      // the cross-engine hash proves it end-to-end); 1-hour buckets
      // so carries genuinely cross many buckets
      import graft.analysis.TimeOps
      val (clicks, purchases) = asofInputs(s, d)
      TimeOps.asofJoinBucketed(clicks, purchases, "user_id", "t_us",
          bucketWidth = 3600L * 1000000L)
        .select(col("event_id"), col("asof.r_event_id").as("r_event_id"))
    }),

    "q68_sessionize_bucketed" -> ((s, d) => {
      // the hot-key-proof two-phase sessionization, against q62's
      // exact DuckDB oracle over the SAME sessionStats wrapper
      // (1-hour buckets; 30-min gap spans them)
      import graft.analysis.TimeOps
      sessionStats(TimeOps.sessionizeBucketed(t(s, d, "events"),
        col("user_id"), us(col("ts")), col("event_id"),
        maxGap = 30L * 60L * 1000000L, bucketWidth = 3600L * 1000000L))
    }),

    // ---- rows-only entries (not SQL-expressible in DuckDB) ---------------
    "q40_sketch_aggs" -> ((s, d) =>
      // HLL / quantile sketches: algorithms (and thus exact outputs)
      // are engine-specific, so rows-only; exact twins are q38/q03
      t(s, d, "lineitem").groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
            .as("p50_price"))),
    "q41_map_ops" -> ((s, _) => {
      // map-typed columns over the extraction output: error-class counts
      // over the 200-doc fixture corpus — hash-checked against the
      // reference-executed golden spans (gen_expected_parquet.py)
      val spansDf = Pipeline.extract(Corpus.generate(s, 200), "auto")
      spansDf.select(
        map_from_entries(transform(col("spans"),
          sp => struct(sp("kind"), sp("text")))).as("m"))
        .select(explode(map_filter(col("m"),
          (k, _) => k.isin("confidence", "error"))).as(Seq("kind", "text")))
        .groupBy("kind", "text").agg(count(lit(1)).as("n"))
    }),
    "q34_media_decode" -> ((s, _) =>
      graft.media.BinaryOps.mediaPipeline(s, 2000)),
    "q66_media_dedup" -> ((s, _) => {
      // perceptual-hash (dHash) media dedup over the 2000-doc asset
      // corpus + planted resized and re-encoded (low-bit noise)
      // copies — hash-checked against the Python StubCodec+dHash
      // mirror (fixtures/gen_media_expected.py)
      import s.implicits._
      import graft.media.BinaryOps
      val assets = BinaryOps.assetsFor(Corpus.generate(s, 2000))
      val images = assets.filter(a =>
        a.mime.startsWith("image/") && a.content.length >= 72)
      // one flatMap pass emits the original + the resized copy (~r,
      // BinaryOps.resizeImages semantics on an all-image input) + the
      // bit-noise re-encode (~n) — row-identical to the old
      // images.union(resized).union(noisy), whose three branches each
      // re-ran corpus generation and tripled the partition count (r08
      // stage audit: 96-task stages over a 2000-doc corpus)
      val tripled = images.mapPartitions { it =>
        val codec = BinaryOps.CodecPool.codec
        it.flatMap { a => Iterator(
          a,
          a.copy(media_ref = a.media_ref + "~r",
            content = codec.resize(a.content, 192, 192)),
          a.copy(media_ref = a.media_ref + "~n",
            content = a.content.map(b => (b ^ 1).toByte)))
        }
      }
      BinaryOps.dhashDupPairs(tripled)
    }),
    "q43_analytes" -> ((s, _) => {
      // generic lab-entity surface (north_star): best candidate per
      // secondary analyte from full-page (optimum) text, hash-checked
      // against an independent Python re-implementation over the same
      // corpus (fixtures/gen_analyte_expected.py). The text comes from
      // the extraction paths' text-only OCR column (no boxes, no typed
      // mapPartitions), so the query is one whole-stage-codegen stage
      val ocr = Corpus.generate(s, 200).toDF().select(col("doc_id"),
        graft.media.OcrText.of(col("spans"), "optimum").as("optimum_raw"))
      graft.extract.AnalyteExtract.withEntities(ocr, "optimum_raw", "ents")
        .select(col("doc_id"), explode_outer(col("ents")).as("e"))
        .filter(col("e").isNotNull)
        .select(col("doc_id"), col("e.analyte").as("analyte"),
          col("e.value").as("value"), col("e.unit").as("unit"),
          col("e.ref_min").as("ref_min"), col("e.ref_max").as("ref_max"))
    }),
    "q44_report_date" -> ((s, _) => {
      // date entity: page-header date from the full text; null from the
      // cropped light view (the header sits in the cropped top 35%)
      val ocr = Pipeline.ocrAll(Corpus.generate(s, 200)).toDF()
      ocr.select(col("doc_id"),
        graft.extract.AnalyteExtract.reportDateIso(col("optimum_raw"))
          .as("report_date"),
        graft.extract.AnalyteExtract.reportDateIso(col("light_raw"))
          .as("light_date"))
    }),
    "q42_ocr_boxes" -> ((s, _) => {
      // O2 audit surface: per-doc OCR box stats (ocr_engine.py:88-97
      // box dicts) over the 200-doc fixture corpus, hash-checked
      // against the frozen engine dump (gen_pipeline_expected.py)
      val ocr = Pipeline.ocrAll(Corpus.generate(s, 200)).toDF()
      ocr.select(col("doc_id"), explode_outer(col("premium_boxes")).as("b"))
        .groupBy(col("doc_id"))
        .agg(count(col("b")).as("n_boxes"),
          max(col("b.conf")).as("max_conf"),
          min(col("b.left")).as("min_left"))
    }),
    "q35_level_mix" -> ((s, _) =>
      // hash-checked against the REFERENCE-executed cascade acceptance
      // over the same 200-doc corpus (gen_pipeline_expected.py)
      Pipeline.levelMix(Corpus.generate(s, 200))),
    "q24_tsh_auto" -> ((s, _) =>
      // the FLAGSHIP pipeline, hash-checked against reference-executed
      // expected spans (fixtures/expected_auto_spans.parquet covers the
      // same 200-doc fixture corpus; see gen_expected_parquet.py)
      Pipeline.extractRows(Corpus.generate(s, 200), "auto")),
    "q25_minhash_pairs" -> ((s, d) => {
      // inject near-dups so the candidate set is non-empty
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val dups = docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" extra token")).as("text"))
      TextOps.minhashDupPairs(spread(docs.unionByName(dups)),
        col("doc_id"), col("text"), n = 3, m = 16, bands = 4, minJaccard = 0.5)
    }),
    "q26_simhash" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextOps.simhash(col("text")).as("simhash"))),
    "q45_simhash_dedup" -> ((s, d) => {
      // banded-simhash near-dup join (xxhash-based -> rows-only); inject
      // near-dups so the candidate set is non-empty
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val dups = docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat(col("text"), lit(" zz")).as("text"))
      TextOps.simhashDupPairs(spread(docs.unionByName(dups)),
        col("doc_id"), col("text"), bands = 4, maxHamming = 3)
    }),
    "q47_ann_ivf" -> ((s, d) => {
      // centroid-partitioned ANN (IVF) — candidates depend on the
      // sampled centroids, engine-internal -> rows-only; recall is
      // spec-checked vs brute force
      val emb = spread(t(s, d, "embeddings"))
        .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("embedding"))
      VectorOps.ivfTopK(emb.filter(col("vec_id") < 5), emb, 3,
          nCells = 32, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }),
    "q46_cosine_dedup" -> ((s, d) => {
      // embedding-cosine near-dup: exact duplicates planted at
      // vec_id+10000; identical vectors share every LSH bucket, so the
      // candidate join catches them with certainty -> oracle-checkable
      val emb = t(s, d, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("embedding"))
      val dups = emb.select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
      VectorOps.cosineDupPairs(emb.unionByName(dups), minCos = 0.999)
        .select(col("id_a"), col("id_b"))
    }),
    "q27_fingerprint" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextOps.fingerprint(col("text")).as("fp"))),
    "q49_curation" -> ((s, d) =>
      // end-to-end curation hygiene pass: language gate + quality window
      // + exact-dedup keeper — fully SQL-expressible, so the whole
      // composition is cross-engine hash-checked
      TextOps.curationFilter(spread(t(s, d, "documents").select(col("doc_id"), col("text"))),
        col("doc_id"), col("text"))),
    "q50_curate_full" -> ((s, d) => {
      // the COMPLETE curation pass (filter -> exact collapse -> near-dup
      // drop) over base docs + injected near-dups + a 100-clone cluster;
      // kept set hash-checked against the independent Python mirror
      // (fixtures/gen_hash_expected.py)
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val dups = docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" extra token")).as("text"))
      val clones = s.range(0, 100, 1, 1).crossJoin(
          broadcast(docs.filter(col("doc_id") === 1).select(col("text"))))
        .select((col("id") + 6000000).as("doc_id"), col("text"))
      TextOps.curate(spread(docs.unionByName(dups).unionByName(clones)),
        col("doc_id"), col("text")).kept
    }),
    "q65_bpe_tokens" -> ((s, d) => {
      // real BPE token budgeting: vocab trained on the same table
      // (200 merges, Sennrich procedure, deterministic tiebreaks),
      // applied as a fused broadcast expression; hash-checked against
      // the Python mirror's independent train + greedy-apply
      // (fixtures/gen_hash_expected.py, expected_bpe.parquet)
      // (a count needs no alphabet: an unknown symbol is one UNK id)
      import graft.analysis.Bpe
      val docs = t(s, d, "documents")
      val vocab = s.sparkContext.broadcast(
        Bpe.TokenVocab(Seq.empty, Bpe.train(docs, col("text"), nMerges = 200)))
      docs.select(col("doc_id"),
        size(Bpe.tokenIds(col("text"), vocab)).as("n_bpe"))
    }),

    "q73_pack_sequences" -> ((s, d) => {
      // tokenized output + sequence packing: the corpus BPE-tokenizes
      // to ids (alphabet + merge-rank layout) and packs into 512-token
      // sequences with (doc_id, start, len) provenance spans, docs in
      // (xxhash64(doc_id), doc_id) order. Flattened to scalar rows
      // (tok: per-token position/id; span: per-span doc/start/len) so
      // the DuckDB hash compare covers full content without nested
      // types; the mirror packs the same corpus independently.
      import graft.analysis.{Bpe, Pack}
      val docs = spread(t(s, d, "documents").select(col("doc_id"), col("text")))
      val vocab = s.sparkContext.broadcast(
        Bpe.buildTokenVocab(docs, col("text"), nMerges = 200))
      val packed = Pack.packSequences(docs, col("doc_id"), col("text"),
        vocab, seqLen = 512)
      val toks = packed.select(col("seq_id"),
          posexplode_outer(col("token_ids")).as(Seq("pos", "tid")))
        .select(lit("tok").as("kind"), col("seq_id"),
          col("pos").cast("long").as("a"), col("tid").cast("long").as("b"),
          lit(null).cast("long").as("c"))
      val spans = packed.select(col("seq_id"),
          explode_outer(col("spans")).as("sp"))
        .select(lit("span").as("kind"), col("seq_id"),
          col("sp.doc_id").as("a"), col("sp.start").cast("long").as("b"),
          col("sp.len").cast("long").as("c"))
      toks.unionByName(spans)
    }),

    "q64_release" -> ((s, d) => {
      // the composed corpus release (curate -> decontaminate ->
      // per-source quota -> deterministic split) over the q50 corpus
      // (base + near-dups + a 100-clone cluster) with the q58
      // benchmark (docs 0-4): quota keeps the 12 longest-by-tokens
      // pages per source. Hash-checked against the Python mirror's
      // composition of the same four stages
      // (fixtures/gen_hash_expected.py, expected_release.parquet)
      val base = t(s, d, "documents")
        .select(col("doc_id"), col("text"), col("source"))
      val dups = base.filter(col("doc_id") < 20)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" extra token")).as("text"),
          lit("dup.example.com").as("source"))
      val clones = s.range(0, 100, 1, 1).crossJoin(
          broadcast(base.filter(col("doc_id") === 1).select(col("text"))))
        .select((col("id") + 6000000).as("doc_id"), col("text"),
          lit("clone.example.com").as("source"))
      val bench = base.filter(col("doc_id") < 5).select(col("text"))
      TextOps.release(spread(base.unionByName(dups).unionByName(clones)),
          col("doc_id"), col("text"), col("source"), bench, col("text"),
          maxPerSource = 12).shards
        .select(col("doc_id"), col("source"), col("n_tokens"), col("split"))
    }),

    "q72_incremental_dedup" -> ((s, d) => {
      // incremental snapshot-vs-base dedup: snapshot 1 (doc_id < 250)
      // seeds a staged minhash base; snapshot 2 (the rest + planted
      // near-dups of BASE docs + near-dups WITHIN the snapshot) is
      // deduped against it without recomputing the base. One frame
      // carries all three results (keepers, cross pairs, new-new
      // pairs), hash-checked against the Python mirror's independent
      // two-snapshot composition (fixtures/gen_hash_expected.py).
      // The temp base dir is per-invocation (OS tmp lifecycle).
      // spread AFTER composing each snapshot, not before: three
      // union branches of an already-spread frame stack to 3x the
      // partition count (96-task stages over 5k rows in the r08 audit)
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      // base snapshot is 250 docs: its minhash chain is trivial, and an
      // unspread build writes ONE staged parquet file instead of 32 —
      // every downstream base scan then lists/opens one file (measured
      // cheaper than spreading the seed side)
      val baseDocs = docs.filter(col("doc_id") < 250)
      val crossDups = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 7000000).as("doc_id"),
          concat(col("text"), lit(" extra token")).as("text"))
      val newDups = docs.filter(col("doc_id") >= 250 && col("doc_id") < 260)
        .select((col("doc_id") + 7100000).as("doc_id"),
          concat(col("text"), lit(" extra token")).as("text"))
      val newDocs = spread(docs.filter(col("doc_id") >= 250)
        .unionByName(crossDups).unionByName(newDups))
      // JVM-exit cleanup: repeated sweeps in one long-lived session must
      // not leak a staged base dir per invocation (ADVICE r07); ONE
      // static hook drains a queue, so invocations don't accumulate
      // hook threads
      val dirPath = java.nio.file.Files.createTempDirectory("graft-q72-")
      Q72TempDirs.register(dirPath)
      val dir = dirPath.toString
      TextOps.buildMinhashBase(baseDocs, col("doc_id"), col("text"), dir)
      val r = TextOps.dedupAgainstBase(newDocs, col("doc_id"), col("text"), dir)
      r.keepers.select(lit("keeper").as("kind"), col("doc_id").as("id_a"),
          lit(null).cast("long").as("id_b"),
          lit(null).cast("double").as("jaccard"))
        .unionByName(r.crossPairs.select(lit("cross").as("kind"),
          col("new_id").as("id_a"), col("base_id").as("id_b"), col("jaccard")))
        .unionByName(r.newPairs.select(lit("new").as("kind"),
          col("id_a"), col("id_b"), col("jaccard")))
    }),

    "q74_duplicated_runs" -> ((s, d) => {
      // exact-substring (verbatim-run) dedup: maximal token runs
      // duplicated anywhere in the corpus. Corpus = documents +
      // planted verbatim copies (15 tokens of each early donor doc
      // inside unique pre/post padding, ids +8000000); the corpus's
      // small shared vocabulary also yields abundant ORGANIC
      // duplicated 10-grams, so the oracle exercises interval merging
      // far beyond the plants. Hash-checked against the Python
      // mirror's COLLISION-FREE brute-force tuple counting
      // (fixtures/gen_hash_expected.py) — a green hash also certifies
      // no 64-bit shingle-hash collision fired at this scale.
      val base = spread(t(s, d, "documents").select(col("doc_id"), col("text")))
      val planted = base
        .filter(col("doc_id") < 15 &&
          size(TextOps.tokens(col("text"))) >= 25)
        .select((col("doc_id") + 8000000).as("doc_id"),
          concat_ws(" ", concat(lit("pre"), col("doc_id")),
            concat_ws(" ",
              slice(TextOps.tokens(col("text")), 6, 15)),
            concat(lit("post"), col("doc_id"))).as("text"))
      TextOps.duplicatedRuns(base.unionByName(planted), col("doc_id"),
        col("text"), minRun = 10)
    }),

    "q76_excise_runs" -> ((s, d) => {
      // run EXCISION composed over q74: rebuild the same corpus, flag
      // its duplicated runs, cut every flagged token range, rejoin.
      // The oracle is PURE SQL over the documents table + the q74
      // expected_runs fixture (DuckDB rebuilds the corpus, drops
      // positions covered by any fixture run, string_aggs in token
      // order) — so q76 green certifies the excision arithmetic AND,
      // independently of q74's own check, that the Spark runs frame
      // equals the fixture's.
      val base = spread(t(s, d, "documents").select(col("doc_id"), col("text")))
      val planted = base
        .filter(col("doc_id") < 15 &&
          size(TextOps.tokens(col("text"))) >= 25)
        .select((col("doc_id") + 8000000).as("doc_id"),
          concat_ws(" ", concat(lit("pre"), col("doc_id")),
            concat_ws(" ", slice(TextOps.tokens(col("text")), 6, 15)),
            concat(lit("post"), col("doc_id"))).as("text"))
      val corpus = base.unionByName(planted)
      TextOps.exciseRuns(corpus, col("doc_id"), col("text"),
        TextOps.duplicatedRuns(corpus, col("doc_id"), col("text"),
          minRun = 10))
    }),

    "q77_mixture_sample" -> ((s, d) =>
      // deterministic source-mixture sampling: src0 upsamples to 2-3
      // copies (rate 2.5), src1 halves, src2 drops entirely, src3
      // passes through, everything else keeps 1 in 4 (default 0.25) —
      // copy counts are pure functions of (seed, doc_id), mirrored
      // with the same xxhash64 chain in gen_hash_expected.py
      TextOps.sampleMixture(
        t(s, d, "documents").select(col("doc_id"), col("source")),
        col("doc_id"), col("source"),
        rates = Map("src0" -> 2.5, "src1" -> 0.5, "src2" -> 0.0,
          "src3" -> 1.0),
        defaultRate = 0.25, seed = 7L)),

    "q75_lang_id" -> ((s, d) => {
      // 26-language char-trigram classifier (fused LangNgramScores over
      // the broadcast profile table) over documents + three synthetic
      // docs per language built from the language's own word list
      // (rotated by rep, doubled — self-classification is guaranteed by
      // the L2-normalized cosine argmax). The Python mirror re-derives
      // the profiles from fixtures/lang_profiles.json (dumped from the
      // same Scala word table) and re-scores independently
      // (fixtures/gen_lang_expected.py).
      import s.implicits._
      import graft.analysis.{LangId, LangProfiles}
      val bc = LangProfiles.broadcastTable(s)
      val synth = LangProfiles.Words.zipWithIndex.flatMap {
        case ((_, ws), li) =>
          (0 until 3).map { rep =>
            val rot = ws.drop(rep) ++ ws.take(rep)
            (9000000L + li * 10L + rep, (rot ++ rot).mkString(" "))
          }
      }.toDF("doc_id", "text")
      t(s, d, "documents").select(col("doc_id"), col("text"))
        .unionByName(synth)
        .select(col("doc_id"), LangId.predict(col("text"), bc).as("lang_pred"))
    }),

    "q48_dedup_cascade" -> ((s, d) => {
      // exact -> near dedup composition: a 500-strong identical cluster
      // (plus q25's injected near-dups) must collapse in the exact
      // stage and never reach the LSH join; pairs are among keepers.
      // Hash-checked against the independent Python implementation
      // (fixtures/gen_hash_expected.py, pure-Python XXH64)
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val dups = docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" extra token")).as("text"))
      val cluster = s.range(0, 500, 1, 1).crossJoin(
          broadcast(docs.filter(col("doc_id") === 0).select(col("text"))))
        .select((col("id") + 5000000).as("doc_id"), col("text"))
      TextOps.dedupCascade(spread(docs.unionByName(dups).unionByName(cluster)),
        col("doc_id"), col("text"))._1
    }),
    "q51_dup_clusters" -> ((s, d) => {
      // duplicate-cluster grouping (connected components / union-find)
      // over the q25 near-dup pair graph: (doc_id, cluster_keeper) via
      // min-id label propagation — hash-checked against an independent
      // Python union-find mirror (fixtures/gen_hash_expected.py)
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val dups = docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" extra token")).as("text"))
      TextOps.dupClusters(TextOps.minhashDupPairs(spread(docs.unionByName(dups)),
        col("doc_id"), col("text"), n = 3, m = 16, bands = 4, minJaccard = 0.5))
    }),
    "q28_ann_lsh" -> ((s, d) => {
      val emb = spread(t(s, d, "embeddings"))
        .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("embedding"))
      // 8-plane tables for the sf-sized corpus (500-2000 vectors); the
      // 16-plane default is the >>1M-vector parameterization. 4 tables
      // x 8 margin-guided probes: same candidate volume as 8 tables x 4
      // probes at half the corpus-side projection work
      VectorOps.annTopK(emb.filter(col("vec_id") < 5), emb, 3,
          nPlanes = 8, tables = 4, probeBits = 3)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    })
  )

  def oracleSql: Map[String, String] = {
    val m = oracleSqlBase
    // the bucketed temporal forms are row-identical to the plain forms
    // by contract — they face the SAME DuckDB oracles, so the driver's
    // hash gate proves the two-phase re-plan end-to-end
    m ++ Map(
      "q67_asof_bucketed" -> m("q60_asof_join"),
      "q68_sessionize_bucketed" -> m("q62_sessionize"))
  }

  private def oracleSqlBase: Map[String, String] = Map(
    "q01_scan_project" ->
      "SELECT p_partkey, p_name, p_size FROM part",

    "q02_filter_pushdown" ->
      ("SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem " +
        "WHERE l_quantity > 30 AND l_returnflag = 'A'"),

    "q03_agg_groupby" ->
      ("SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, " +
        "count(*) AS n, max(l_extendedprice) AS max_price, " +
        "min(l_discount) AS min_disc FROM lineitem GROUP BY 1, 2"),

    "q04_join_broadcast" ->
      ("SELECT n_name, count(*) AS n_cust, max(c_acctbal) AS max_bal " +
        "FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY 1"),

    "q05_window_top1" ->
      ("SELECT o_custkey, o_orderkey, o_totalprice FROM (" +
        "SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (" +
        "PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn " +
        "FROM orders) WHERE rn = 1"),

    "q06_anti_join" ->
      ("SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS (" +
        "SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
        "AND o_orderpriority = '1-URGENT')"),

    "q07_semi_join" ->
      ("SELECT s_suppkey, s_name FROM supplier WHERE EXISTS (" +
        "SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey AND l_quantity >= 49)"),

    "q08_union_cascade" ->
      ("SELECT o_orderkey, 'light' AS src FROM orders WHERE o_totalprice > 150000 " +
        "UNION ALL SELECT o_orderkey, 'premium' AS src FROM orders " +
        "WHERE o_totalprice <= 150000 AND o_orderstatus = 'F'"),

    "q09_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",

    "q10_sort_limit" ->
      ("SELECT o_orderkey, o_totalprice FROM orders " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"),

    "q11_n1_normalize" ->
      ("SELECT p_partkey, regexp_replace(regexp_replace(replace(" +
        "'  ' || p_name || chr(9) || chr(9) || ' ' || p_brand || chr(13) || p_type, " +
        "chr(13), chr(10)), '[ \\t\\f\\x0B]+', ' ', 'g'), '\\n+', chr(10), 'g') " +
        "AS norm FROM part"),

    "q12_n3_tofloat" ->
      ("SELECT l_orderkey, l_linenumber, TRY_CAST(replace(replace(" +
        "' ' || replace(CAST(l_quantity AS varchar), '.', ','), ' ', ''), " +
        "',', '.') AS DOUBLE) AS val FROM lineitem"),

    "q13_n4_adjust" ->
      ("SELECT l_orderkey, l_linenumber, CASE " +
        "WHEN length(d) >= 4 THEN CAST(d AS DOUBLE) / 1000.0 " +
        "WHEN length(d) = 3 THEN CAST(d AS DOUBLE) / 100.0 " +
        "ELSE CAST(d AS DOUBLE) END AS adjusted FROM (" +
        "SELECT l_orderkey, l_linenumber, lpad(CAST(l_orderkey % 9999 AS varchar), " +
        "CASE WHEN l_orderkey % 3 = 0 THEN 3 WHEN l_orderkey % 3 = 1 THEN 4 " +
        "ELSE 2 END, '0') AS d FROM lineitem)"),

    "q14_regex_extract" ->
      ("SELECT l_orderkey, l_linenumber, " +
        "regexp_extract(line, '(?i)TSH', 0) AS label, " +
        "TRY_CAST(replace(regexp_extract(line, '[0-9]+(?:[.,][0-9]+)?', 0), ',', '.') AS DOUBLE) AS value, " +
        "regexp_extract(line, '(?i)(m ?UI/?L|UI/?L|mUI)', 1) AS unit, " +
        "CASE WHEN regexp_extract(line, '([0-9]+(?:[.,][0-9]+)?)\\s*(?:-|~|a|to|&)\\s*([0-9]+(?:[.,][0-9]+)?)', 1) LIKE '%,%' " +
        "OR regexp_extract(line, '([0-9]+(?:[.,][0-9]+)?)\\s*(?:-|~|a|to|&)\\s*([0-9]+(?:[.,][0-9]+)?)', 1) LIKE '%.%' " +
        "THEN TRY_CAST(replace(regexp_extract(line, '([0-9]+(?:[.,][0-9]+)?)\\s*(?:-|~|a|to|&)\\s*([0-9]+(?:[.,][0-9]+)?)', 1), ',', '.') AS DOUBLE) " +
        "WHEN length(regexp_extract(line, '([0-9]+(?:[.,][0-9]+)?)\\s*(?:-|~|a|to|&)\\s*([0-9]+(?:[.,][0-9]+)?)', 1)) >= 4 THEN TRY_CAST(regexp_extract(line, '([0-9]+(?:[.,][0-9]+)?)\\s*(?:-|~|a|to|&)\\s*([0-9]+(?:[.,][0-9]+)?)', 1) AS DOUBLE) / 1000.0 " +
        "WHEN length(regexp_extract(line, '([0-9]+(?:[.,][0-9]+)?)\\s*(?:-|~|a|to|&)\\s*([0-9]+(?:[.,][0-9]+)?)', 1)) = 3 THEN TRY_CAST(regexp_extract(line, '([0-9]+(?:[.,][0-9]+)?)\\s*(?:-|~|a|to|&)\\s*([0-9]+(?:[.,][0-9]+)?)', 1) AS DOUBLE) / 100.0 " +
        "ELSE TRY_CAST(regexp_extract(line, '([0-9]+(?:[.,][0-9]+)?)\\s*(?:-|~|a|to|&)\\s*([0-9]+(?:[.,][0-9]+)?)', 1) AS DOUBLE) END AS ref_min, " +
        "CASE WHEN regexp_extract(line, '([0-9]+(?:[.,][0-9]+)?)\\s*(?:-|~|a|to|&)\\s*([0-9]+(?:[.,][0-9]+)?)', 2) LIKE '%,%' " +
        "OR regexp_extract(line, '([0-9]+(?:[.,][0-9]+)?)\\s*(?:-|~|a|to|&)\\s*([0-9]+(?:[.,][0-9]+)?)', 2) LIKE '%.%' " +
        "THEN TRY_CAST(replace(regexp_extract(line, '([0-9]+(?:[.,][0-9]+)?)\\s*(?:-|~|a|to|&)\\s*([0-9]+(?:[.,][0-9]+)?)', 2), ',', '.') AS DOUBLE) " +
        "WHEN length(regexp_extract(line, '([0-9]+(?:[.,][0-9]+)?)\\s*(?:-|~|a|to|&)\\s*([0-9]+(?:[.,][0-9]+)?)', 2)) >= 4 THEN TRY_CAST(regexp_extract(line, '([0-9]+(?:[.,][0-9]+)?)\\s*(?:-|~|a|to|&)\\s*([0-9]+(?:[.,][0-9]+)?)', 2) AS DOUBLE) / 1000.0 " +
        "WHEN length(regexp_extract(line, '([0-9]+(?:[.,][0-9]+)?)\\s*(?:-|~|a|to|&)\\s*([0-9]+(?:[.,][0-9]+)?)', 2)) = 3 THEN TRY_CAST(regexp_extract(line, '([0-9]+(?:[.,][0-9]+)?)\\s*(?:-|~|a|to|&)\\s*([0-9]+(?:[.,][0-9]+)?)', 2) AS DOUBLE) / 100.0 " +
        "ELSE TRY_CAST(regexp_extract(line, '([0-9]+(?:[.,][0-9]+)?)\\s*(?:-|~|a|to|&)\\s*([0-9]+(?:[.,][0-9]+)?)', 2) AS DOUBLE) END AS ref_max " +
        "FROM (SELECT l_orderkey, l_linenumber, 'TSH ' || CAST(l_quantity AS varchar) " +
        "|| ' mUI/L (0,27 - 4,20) fin' AS line FROM lineitem)"),

    "q15_last_number" ->
      ("SELECT l_orderkey, l_linenumber, a[len(a)] AS last_num FROM (" +
        "SELECT l_orderkey, l_linenumber, regexp_extract_all(" +
        "CAST(l_orderkey AS varchar) || ' ' || CAST(l_quantity AS varchar) || ' mUI', " +
        "'[0-9]+(?:\\.[0-9]+)?') AS a FROM lineitem)"),

    "q16_posexplode_split" ->
      ("SELECT p_partkey, unnest(range(0, len(string_split(p_name, ' ')))) AS pos, " +
        "unnest(string_split(p_name, ' ')) AS word FROM part"),

    "q17_case_when" ->
      ("SELECT o_orderkey, CASE WHEN o_orderpriority = '1-URGENT' THEN 'high' " +
        "WHEN o_orderpriority = '2-HIGH' THEN 'medium' ELSE 'low' END AS confidence " +
        "FROM orders"),

    "q18_dedup_exact" ->
      ("SELECT substr(text, 1, 30) AS dup_key, count(*) AS n_dups, " +
        "min(doc_id) AS keeper_id FROM documents GROUP BY 1"),

    "q19_token_count" ->
      ("SELECT doc_id, len(regexp_extract_all(lower(text), '[\\p{L}0-9'']+')) AS n_tokens, " +
        "len(regexp_extract_all(lower(text), '[\\p{L}0-9]{1,4}|[^\\p{L}0-9\\s]')) AS n_bpeish " +
        "FROM documents"),

    "q20_quality_score" ->
      ("SELECT doc_id, n_tokens, n_stopwords, " +
        "CASE WHEN n_tokens > 0 THEN CAST(n_stopwords AS DOUBLE) / n_tokens ELSE 0.0 END AS stopword_ratio, " +
        "CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END AS punct_ratio FROM (" +
        "SELECT doc_id, length(text) AS n_chars, " +
        "len(regexp_extract_all(lower(text), '[\\p{L}0-9'']+')) AS n_tokens, " +
        "len(regexp_extract_all(text, '[^\\p{L}0-9\\s]')) AS n_punct, " +
        "len(regexp_extract_all(lower(text), '\\b(?:the|a|of|and|to|in|is|it)\\b')) AS n_stopwords " +
        "FROM documents)"),

    "q21_lang_id" ->
      ("SELECT doc_id, s_en, s_fr, s_de, s_es, CASE " +
        "WHEN s_es > greatest(s_en, s_fr, s_de) THEN 'es' " +
        "WHEN s_de > greatest(s_en, s_fr) THEN 'de' " +
        "WHEN s_fr > s_en THEN 'fr' ELSE 'en' END AS lang_pred FROM (" +
        "SELECT doc_id, " +
        "len(regexp_extract_all(lower(text), '\\b(?:the|and|of|is|was)\\b')) AS s_en, " +
        "len(regexp_extract_all(lower(text), '\\b(?:le|la|les|des|est|une)\\b')) AS s_fr, " +
        "len(regexp_extract_all(lower(text), '\\b(?:der|die|das|und|ist)\\b')) AS s_de, " +
        "len(regexp_extract_all(lower(text), '\\b(?:el|los|las|es|una)\\b')) AS s_es " +
        "FROM documents)"),

    // the SAME RE2-safe regex chain as TextOps.stripMarkup, over the
    // same in-query HTML wrapping; the entity replace() nest is
    // GENERATED from TextOps.EntityDecodes so the engines cannot drift
    "q52_strip_markup" -> {
      def q(s: String) = "'" + s.replace("'", "''") + "'"
      val wrapped = q(Q52Prefix) + " || text || " + q(Q52Suffix)
      val noTags =
        "regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
          wrapped + ", " +
          "'(?is)<script[^>]*>.*?</script>', '', 'g'), " +
          "'(?is)<style[^>]*>.*?</style>', '', 'g'), " +
          "'(?s)<!--.*?-->', '', 'g'), " +
          "'(?i)</?(?:p|div|br|li|ul|ol|tr|table|h[1-6]|section|article|header|footer)[^>]*>', chr(10), 'g'), " +
          "'<[^>]+>', '', 'g')"
      val ent = TextOps.EntityDecodes.foldLeft(noTags) { case (e, (from, to)) =>
        s"replace($e, ${q(from)}, ${q(to)})"
      }
      "SELECT doc_id, trim(regexp_replace(regexp_replace(" + ent + ", " +
        "'[ \\t]+', ' ', 'g'), " +
        "' *\\n+ *', chr(10), 'g'), ' ' || chr(10)) AS clean FROM documents"
    },

    "q53_strip_boilerplate" ->
      ("WITH wrapped AS (SELECT doc_id, 'HOME | ABOUT | CONTACT' || chr(10) " +
        "|| text || chr(10) || '(c) example corp - all rights reserved' AS text " +
        "FROM documents), " +
        "lines AS (SELECT doc_id, " +
        "unnest(range(0, len(string_split(text, chr(10))))) AS line_no, " +
        "unnest(string_split(text, chr(10))) AS line FROM wrapped), " +
        "freq AS (SELECT line, count(DISTINCT doc_id) AS n_docs FROM lines GROUP BY 1) " +
        "SELECT l.doc_id, l.line_no, l.line FROM lines l " +
        "JOIN freq f USING (line) WHERE f.n_docs < 100"),

    // integer sums CAST to BIGINT: DuckDB promotes integer sum() to
    // HUGEINT (Arrow decimal128), which is value-equal but not
    // TYPE-identical to Spark's LONG — the driver's hash compares
    // serialized values, so the cast is load-bearing (r5 verdict)
    "q59_corpus_stats" ->
      ("SELECT source, count(*) AS n_docs, " +
        "CAST(sum(n_tokens) AS BIGINT) AS total_tokens, min(n_tokens) AS min_tokens, " +
        "max(n_tokens) AS max_tokens, CAST(sum(n_chars) AS BIGINT) AS total_chars, " +
        "count(DISTINCT lang) AS n_langs, " +
        "CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en FROM (" +
        "SELECT source, " +
        "len(regexp_extract_all(lower(text), '[\\p{L}0-9'']+')) AS n_tokens, " +
        "length(text) AS n_chars, CASE " +
        "WHEN s_es > greatest(s_en, s_fr, s_de) THEN 'es' " +
        "WHEN s_de > greatest(s_en, s_fr) THEN 'de' " +
        "WHEN s_fr > s_en THEN 'fr' ELSE 'en' END AS lang FROM (" +
        "SELECT source, text, " +
        "len(regexp_extract_all(lower(text), '\\b(?:the|and|of|is|was)\\b')) AS s_en, " +
        "len(regexp_extract_all(lower(text), '\\b(?:le|la|les|des|est|une)\\b')) AS s_fr, " +
        "len(regexp_extract_all(lower(text), '\\b(?:der|die|das|und|ist)\\b')) AS s_de, " +
        "len(regexp_extract_all(lower(text), '\\b(?:el|los|las|es|una)\\b')) AS s_es " +
        "FROM documents)) GROUP BY 1"),

    // redaction nest GENERATED from TextOps.PiiRedactions ('g' flag:
    // Spark regexp_replace replaces all matches, DuckDB defaults to
    // first-only); host chain mirrors TextOps.urlHost
    "q56_redact_pii" -> {
      val dirty = "text || ' contact u' || CAST(doc_id AS varchar) || " +
        "'@mail.example.org or ' || '+1 (555) 123-4567 host 10.42.7.' || " +
        "CAST(doc_id % 250 AS varchar) || " +
        "' ssn 123-45-6789 v6 2001:db8:85a3:1:2:8a2e:370:' || " +
        "CAST(doc_id % 9999 AS varchar) || ' card 4111 1111 1111 1111 end'"
      val clean = TextOps.PiiRedactions.foldLeft(dirty) { case (e, (re, tag)) =>
        s"regexp_replace($e, '${re.replace("'", "''")}', '$tag', 'g')"
      }
      val url = "'https://user:pw@WWW.' || source || '.Example.com/p/' || " +
        "CAST(doc_id AS varchar)"
      s"SELECT doc_id, $clean AS clean, " +
        s"regexp_replace(lower(regexp_extract($url, '${TextOps.UrlHostPattern}', 1)), " +
        "'^www\\.', '') AS host FROM documents"
    },

    "q57_repetition" ->
      ("WITH base AS (SELECT doc_id, text || chr(10) || 'repeat me' || chr(10) " +
        "|| 'repeat me' || chr(10) || 'trailing...' || chr(10) || " +
        "'1 22 333 #@| end' AS t FROM documents), " +
        "feat AS (SELECT doc_id, t, string_split(t, chr(10)) AS lines, " +
        "regexp_extract_all(lower(t), '[\\p{L}0-9'']+') AS toks FROM base) " +
        "SELECT doc_id, len(lines) AS n_lines, " +
        "CASE WHEN len(lines) > 0 THEN 1.0 - CAST(len(list_distinct(lines)) AS DOUBLE) / len(lines) ELSE 0.0 END AS dup_line_frac, " +
        "CASE WHEN len(toks) > 0 THEN CAST(coalesce(list_aggregate(list_transform(toks, x -> length(x)), 'sum'), 0) AS DOUBLE) / len(toks) ELSE 0.0 END AS mean_word_len, " +
        "CASE WHEN len(toks) > 0 THEN CAST(len(regexp_extract_all(t, '[#$%&*+=@^_|~]')) AS DOUBLE) / len(toks) ELSE 0.0 END AS symbol_ratio, " +
        "CASE WHEN len(lines) > 0 THEN CAST(len(list_filter(lines, l -> ends_with(l, '...') OR ends_with(l, '…'))) AS DOUBLE) / len(lines) ELSE 0.0 END AS ellipsis_line_frac, " +
        "CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> regexp_matches(x, '\\p{L}'))) AS DOUBLE) / len(toks) ELSE 0.0 END AS alpha_word_frac " +
        "FROM feat"),

    "q58_contamination" ->
      ("SELECT doc_id, n_hits " +
        "FROM read_parquet('/root/repo/fixtures/expected_contamination.parquet')"),

    "q55_reassemble" ->
      ("WITH wrapped AS (SELECT doc_id, 'HOME | ABOUT | CONTACT' || chr(10) " +
        "|| text || chr(10) || '(c) example corp - all rights reserved' AS text " +
        "FROM documents), " +
        "lines AS (SELECT doc_id, " +
        "unnest(range(0, len(string_split(text, chr(10))))) AS line_no, " +
        "unnest(string_split(text, chr(10))) AS line FROM wrapped), " +
        "freq AS (SELECT line, count(DISTINCT doc_id) AS n_docs FROM lines GROUP BY 1) " +
        "SELECT l.doc_id, string_agg(l.line, chr(10) ORDER BY l.line_no) AS text " +
        "FROM lines l JOIN freq f USING (line) WHERE f.n_docs < 100 GROUP BY 1"),

    // paragraph dedup: the same split/first-occurrence/frequency rules
    // in DuckDB list lambdas (list_position is 1-based like the lambda
    // index; Spark's filter index is 0-based, hence the +1 there)
    "q71_paragraph_dedup" ->
      ("WITH wrapped AS (SELECT doc_id, 'SUBSCRIBE TO OUR NEWSLETTER' " +
        "|| chr(10) || chr(10) || text || chr(10) || chr(10) || " +
        "'footer tag ' || doc_id || chr(10) || chr(10) || " +
        "'footer tag ' || doc_id AS text FROM documents), " +
        "intra AS (SELECT doc_id, list_filter(paras, (p, i) -> " +
        "list_position(paras, p) = i) AS paras FROM (" +
        "SELECT doc_id, string_split_regex(text, '\\n{2,}') AS paras " +
        "FROM wrapped)), " +
        "px AS (SELECT doc_id, unnest(range(0, len(paras))) AS para_no, " +
        "unnest(paras) AS para FROM intra), " +
        "freq AS (SELECT para, count(DISTINCT doc_id) AS n_docs " +
        "FROM px GROUP BY 1) " +
        "SELECT px.doc_id, string_agg(px.para, chr(10) || chr(10) " +
        "ORDER BY px.para_no) AS text FROM px " +
        "JOIN freq f USING (para) WHERE f.n_docs < 100 GROUP BY 1"),

    // the greedy budget-prefix rule, as the window cumsum it is
    // definitionally equal to (weight > 0 mirrors the operator's
    // skip rule; vacuous on this table, stated for fidelity)
    "q70_budget_quota" ->
      ("SELECT doc_id, source, n_chars FROM (" +
        "SELECT doc_id, source, n_chars, sum(n_chars) OVER (" +
        "PARTITION BY source ORDER BY n_chars DESC, doc_id " +
        "ROWS UNBOUNDED PRECEDING) AS cum " +
        "FROM documents WHERE n_chars > 0) WHERE cum <= 5000"),

    "q54_source_quota" ->
      ("SELECT doc_id, source, n_chars FROM (" +
        "SELECT doc_id, source, n_chars, row_number() OVER (" +
        "PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn " +
        "FROM documents) WHERE rn <= 10"),

    "q22_jaccard_pairs" ->
      ("SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "CASE WHEN len(list_distinct(a.toks || b.toks)) > 0 THEN " +
        "CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / len(list_distinct(a.toks || b.toks)) " +
        "ELSE 0.0 END AS jaccard FROM " +
        "(SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '[\\p{L}0-9'']+')) AS toks " +
        "FROM documents WHERE doc_id < 12) a, " +
        "(SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '[\\p{L}0-9'']+')) AS toks " +
        "FROM documents WHERE doc_id < 12) b WHERE a.doc_id < b.doc_id"),

    "q23_ann_top1" ->
      ("SELECT query_id, neighbor_id FROM (" +
        "SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, row_number() OVER (" +
        "PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rn " +
        "FROM (SELECT * FROM embeddings WHERE vec_id < 5) q, embeddings c " +
        "WHERE q.vec_id <> c.vec_id) WHERE rn = 1"),

    "q29_time_window" ->
      ("SELECT epoch(date_trunc('hour', ts))::BIGINT AS hour_epoch, event_type, " +
        "count(*) AS n, max(value) AS max_value FROM events GROUP BY 1, 2"),

    "q30_lag_gaps" ->
      ("SELECT user_id, event_id, epoch_us(ts) - lag(epoch_us(ts)) " +
        "OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us FROM events"),

    "q31_rollup" ->
      ("SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, " +
        "count(*) AS n FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"),

    "q32_json_extract" ->
      ("SELECT event_id, json_extract_string(props, '$.k') AS k_str FROM events"),

    "q62_sessionize" ->
      ("WITH g AS (SELECT user_id, event_id, epoch_us(ts) AS t_us, " +
        "CASE WHEN lag(epoch_us(ts)) OVER w IS NULL " +
        "OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 " +
        "THEN 1 ELSE 0 END AS new_sess FROM events " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)), " +
        // CAST: DuckDB's windowed integer sum is HUGEINT, Spark's is
        // LONG — type-identity for the driver's hash (r5 verdict)
        "s AS (SELECT user_id, event_id, t_us, CAST(sum(new_sess) OVER (" +
        "PARTITION BY user_id ORDER BY t_us, event_id " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no FROM g) " +
        "SELECT user_id, session_no, count(*) AS n_events, " +
        "min(t_us) AS start_us, max(t_us) AS end_us FROM s GROUP BY 1, 2"),

    // DuckDB's NATIVE ASOF join checks the union+window re-expression
    "q60_asof_join" ->
      ("WITH l AS (SELECT user_id, event_id, epoch_us(ts) AS t_us " +
        "FROM events WHERE event_type = 'click'), " +
        "r AS (SELECT user_id, epoch_us(ts) AS t_us, max(event_id) AS r_event_id " +
        "FROM events WHERE event_type = 'purchase' GROUP BY 1, 2) " +
        "SELECT l.event_id, r.r_event_id FROM l ASOF LEFT JOIN r " +
        "ON l.user_id = r.user_id AND l.t_us >= r.t_us"),

    // DuckDB's plain inequality join checks the bucketed equi-join form
    "q61_range_join" ->
      ("WITH p AS (SELECT event_id AS p_event_id, epoch_us(ts) AS t_us " +
        "FROM events WHERE event_type = 'view'), " +
        "i AS (SELECT event_id AS i_event_id, epoch_us(ts) AS s_us, " +
        "epoch_us(ts) + 3600000000 AS e_us FROM events WHERE event_type = 'error') " +
        "SELECT p.p_event_id, i.i_event_id FROM p JOIN i " +
        "ON p.t_us >= i.s_us AND p.t_us < i.e_us"),

    "q33_math_exact" ->
      ("SELECT l_orderkey, l_linenumber, sqrt(l_extendedprice) AS sq, " +
        "abs(l_discount - 0.05) AS ab, " +
        "CAST(ceil(l_quantity / 7.0) AS DOUBLE) AS ce, " +
        "CAST(floor(l_quantity / 7.0) AS DOUBLE) AS fl, " +
        "power(l_tax, 2) AS p2 FROM lineitem"),

    "q36_cube" ->
      ("SELECT o_orderstatus, o_orderpriority, count(*) AS n, " +
        "max(o_totalprice) AS max_price FROM orders " +
        "GROUP BY CUBE(o_orderstatus, o_orderpriority)"),

    "q37_set_ops" ->
      ("SELECT o_custkey, 'both' AS src FROM (" +
        "SELECT o_custkey FROM orders WHERE o_totalprice > 100000 " +
        "INTERSECT SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') " +
        "UNION ALL SELECT o_custkey, 'urgent_only' AS src FROM (" +
        "SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT' " +
        "EXCEPT SELECT o_custkey FROM orders WHERE o_totalprice > 100000)"),

    "q38_distinct_count" ->
      ("SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts, " +
        "count(DISTINCT l_suppkey) AS n_supps FROM lineitem GROUP BY 1"),

    "q39_pivot" ->
      ("SELECT l_returnflag, " +
        "sum(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0.0 END) AS qty_f, " +
        "sum(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0.0 END) AS qty_o " +
        "FROM lineitem GROUP BY 1"),

    // flagship: expected spans were produced by EXECUTING the reference
    // parser+cascade over the same 200-doc corpus (gen_golden.py ->
    // gen_expected_parquet.py); the oracle just reads them back
    "q24_tsh_auto" ->
      ("SELECT doc_id, kind, text, media_ref, \"order\" " +
        "FROM read_parquet('/root/repo/fixtures/expected_auto_spans.parquet')"),

    // ANN queries: deterministic given the embeddings table (xxh64
    // hyperplanes, corpus-sample centroids) — expected sets from an
    // independent Python mirror of bucketing/probing/cells + exact
    // cosine rerank (fixtures/gen_ann_expected.py)
    "q28_ann_lsh" ->
      ("SELECT query_id, neighbor_id, rank " +
        "FROM read_parquet('/root/repo/fixtures/expected_ann_lsh.parquet')"),
    "q47_ann_ivf" ->
      ("SELECT query_id, neighbor_id, rank " +
        "FROM read_parquet('/root/repo/fixtures/expected_ann_ivf.parquet')"),

    // map-ops over extraction spans: the aggregation reduces to
    // confidence/error class counts — derived from the same
    // reference-executed golden spans as q24
    "q41_map_ops" ->
      ("SELECT kind, text, n FROM read_parquet(" +
        "'/root/repo/fixtures/expected_span_class_counts.parquet')"),

    // level mix: the reference parser + app.py acceptance predicates
    // executed per level over the same OCR texts (gen_pipeline_expected.py)
    "q35_level_mix" ->
      ("SELECT resolved_level, n_docs " +
        "FROM read_parquet('/root/repo/fixtures/expected_level_mix.parquet')"),
    // box stats: frozen engine-dump execution (engine-specific content,
    // so this is a regression oracle rather than an independent one)
    "q42_ocr_boxes" ->
      ("SELECT doc_id, n_boxes, max_conf, min_left " +
        "FROM read_parquet('/root/repo/fixtures/expected_box_stats.parquet')"),

    // generic analyte + date entities: expected values produced by an
    // INDEPENDENT Python implementation of the documented semantics over
    // the dumped corpus texts (fixtures/gen_analyte_expected.py)
    "q43_analytes" ->
      ("SELECT doc_id, analyte, value, unit, ref_min, ref_max " +
        "FROM read_parquet('/root/repo/fixtures/expected_analytes.parquet')"),
    "q44_report_date" ->
      ("SELECT doc_id, report_date, light_date " +
        "FROM read_parquet('/root/repo/fixtures/expected_dates.parquet')"),

    // media decode: StubCodec semantics re-implemented in Python over
    // the dumped asset payloads (fixtures/gen_media_expected.py)
    "q34_media_decode" ->
      ("SELECT media_ref, mime, n_bytes, width, height, n_frames, ok, " +
        "n_sampled_frames " +
        "FROM read_parquet('/root/repo/fixtures/expected_media.parquet')"),
    // perceptual-hash dedup: the mirror re-derives resample + noise +
    // grayFrame + dHash + the banded Hamming join independently
    "q66_media_dedup" ->
      ("SELECT id_a, id_b, hamming " +
        "FROM read_parquet('/root/repo/fixtures/expected_media_dedup.parquet')"),

    "q49_curation" ->
      ("SELECT doc_id, lang_pred, n_tokens, punct_ratio FROM (" +
        "SELECT doc_id, text, lang_pred, n_tokens, punct_ratio, " +
        "row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM (" +
        "SELECT doc_id, text, CASE " +
        "WHEN s_es > greatest(s_en, s_fr, s_de) THEN 'es' " +
        "WHEN s_de > greatest(s_en, s_fr) THEN 'de' " +
        "WHEN s_fr > s_en THEN 'fr' ELSE 'en' END AS lang_pred, " +
        "n_tokens, CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars " +
        "ELSE 0.0 END AS punct_ratio FROM (" +
        "SELECT doc_id, text, length(text) AS n_chars, " +
        "len(regexp_extract_all(lower(text), '[\\p{L}0-9'']+')) AS n_tokens, " +
        "len(regexp_extract_all(text, '[^\\p{L}0-9\\s]')) AS n_punct, " +
        "len(regexp_extract_all(lower(text), '\\b(?:the|and|of|is|was)\\b')) AS s_en, " +
        "len(regexp_extract_all(lower(text), '\\b(?:le|la|les|des|est|une)\\b')) AS s_fr, " +
        "len(regexp_extract_all(lower(text), '\\b(?:der|die|das|und|ist)\\b')) AS s_de, " +
        "len(regexp_extract_all(lower(text), '\\b(?:el|los|las|es|una)\\b')) AS s_es " +
        "FROM documents)) " +
        "WHERE lang_pred = 'en' AND n_tokens >= 30 AND punct_ratio <= 0.2" +
        ") WHERE rn = 1"),

    // hash-based analysis queries: expected values from an INDEPENDENT
    // pure-Python XXH64 + minhash/simhash implementation over the same
    // documents table (fixtures/gen_hash_expected.py + xxh64.py) — a
    // genuine cross-implementation check of tokenize/shingle/hash/band
    "q26_simhash" ->
      ("SELECT doc_id, simhash " +
        "FROM read_parquet('/root/repo/fixtures/expected_simhash.parquet')"),
    "q27_fingerprint" ->
      ("SELECT doc_id, fp " +
        "FROM read_parquet('/root/repo/fixtures/expected_fingerprint.parquet')"),
    "q25_minhash_pairs" ->
      ("SELECT id_a, id_b, jaccard " +
        "FROM read_parquet('/root/repo/fixtures/expected_minhash_pairs.parquet')"),
    "q45_simhash_dedup" ->
      ("SELECT id_a, id_b, hamming " +
        "FROM read_parquet('/root/repo/fixtures/expected_simhash_pairs.parquet')"),
    "q48_dedup_cascade" ->
      ("SELECT id_a, id_b, jaccard " +
        "FROM read_parquet('/root/repo/fixtures/expected_dedup_cascade.parquet')"),
    "q51_dup_clusters" ->
      ("SELECT doc_id, cluster_keeper " +
        "FROM read_parquet('/root/repo/fixtures/expected_dup_clusters.parquet')"),
    "q50_curate_full" ->
      ("SELECT doc_id, lang_pred, n_tokens, punct_ratio " +
        "FROM read_parquet('/root/repo/fixtures/expected_curate.parquet')"),

    // planted exact duplicates: every (i, i+10000) pair and nothing else
    // is >= 0.999 cosine in this corpus (no organic near-identical pair
    // among the random vectors), and identical vectors collide in every
    // LSH bucket, so the expected set is exactly the plant
    "q46_cosine_dedup" ->
      "SELECT vec_id AS id_a, vec_id + 10000 AS id_b FROM embeddings",

    "q63_hash_split" ->
      ("SELECT doc_id, split " +
        "FROM read_parquet('/root/repo/fixtures/expected_split.parquet')"),

    // the composed corpus release: all four stages mirrored end-to-end
    // in Python (curate + 8-gram decontamination + per-source quota +
    // hash split — gen_hash_expected.py)
    "q64_release" ->
      ("SELECT doc_id, source, n_tokens, split " +
        "FROM read_parquet('/root/repo/fixtures/expected_release.parquet')"),

    // incremental snapshot-vs-base dedup: the mirror composes the two
    // snapshots independently (base band table, cross equi-join,
    // snapshot self-join, greedy keeper rule — gen_hash_expected.py)
    "q72_incremental_dedup" ->
      ("SELECT kind, id_a, id_b, jaccard " +
        "FROM read_parquet('/root/repo/fixtures/expected_incremental.parquet')"),

    // exact-substring dedup: the mirror brute-force counts minRun-token
    // TUPLES (collision-free, no hashing) and merges intervals with the
    // same chain rule (gen_hash_expected.py)
    "q74_duplicated_runs" ->
      ("SELECT doc_id, \"start\", \"len\" " +
        "FROM read_parquet('/root/repo/fixtures/expected_runs.parquet')"),

    // mixture sampling: the mirror replays the same xxhash64 coin and
    // floor+fraction multiplier per doc (gen_hash_expected.py)
    "q77_mixture_sample" ->
      ("SELECT doc_id, source, \"copy\" " +
        "FROM read_parquet('/root/repo/fixtures/expected_mixture.parquet')"),

    // char-n-gram language ID: the mirror re-derives the trigram
    // profiles from the dumped word lists and re-scores independently
    // (gen_lang_expected.py + lang_profiles.json)
    "q75_lang_id" ->
      ("SELECT doc_id, lang_pred " +
        "FROM read_parquet('/root/repo/fixtures/expected_langid.parquet')"),

    // run excision: pure SQL — rebuild q74's corpus, drop token
    // positions covered by any expected_runs interval, string_agg in
    // position order (empty docs kept via the left join + coalesce)
    "q76_excise_runs" ->
      ("WITH corpus AS (" +
        "SELECT doc_id, text FROM documents " +
        "UNION ALL " +
        "SELECT doc_id + 8000000 AS doc_id, " +
        "'pre' || doc_id || ' ' || " +
        "array_to_string(list_slice(regexp_extract_all(lower(text), " +
        "'[\\p{L}0-9'']+'), 6, 20), ' ') || ' post' || doc_id AS text " +
        "FROM documents WHERE doc_id < 15 " +
        "AND len(regexp_extract_all(lower(text), '[\\p{L}0-9'']+')) >= 25), " +
        "toks AS (SELECT doc_id, " +
        "unnest(range(0, len(regexp_extract_all(lower(text), '[\\p{L}0-9'']+')))) AS pos, " +
        "unnest(regexp_extract_all(lower(text), '[\\p{L}0-9'']+')) AS tok " +
        "FROM corpus), " +
        "kept AS (SELECT t.doc_id, t.pos, t.tok FROM toks t " +
        "WHERE NOT EXISTS (SELECT 1 " +
        "FROM read_parquet('/root/repo/fixtures/expected_runs.parquet') r " +
        "WHERE r.doc_id = t.doc_id AND t.pos >= r.\"start\" " +
        "AND t.pos < r.\"start\" + r.\"len\")) " +
        "SELECT c.doc_id, coalesce(k.text, '') AS text FROM corpus c " +
        "LEFT JOIN (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text " +
        "FROM kept GROUP BY 1) k USING (doc_id)"),

    // real BPE: the mirror independently re-trains the merge list and
    // greedy-applies it (gen_hash_expected.py)
    "q65_bpe_tokens" ->
      ("SELECT doc_id, n_bpe " +
        "FROM read_parquet('/root/repo/fixtures/expected_bpe.parquet')"),

    // tokenize + pack: the mirror independently re-trains the vocab,
    // tokenizes in text order, and packs in (xxhash64(id), id) order
    "q73_pack_sequences" ->
      ("SELECT kind, seq_id, a, b, c " +
        "FROM read_parquet('/root/repo/fixtures/expected_pack.parquet')"),

    // leakage audit: a pure SQL join of two independently-mirrored
    // fixtures (q25's pair set restricted to base ids is the base-only
    // pair set; q63's split covers exactly the base ids)
    "q69_split_leakage" ->
      ("SELECT p.id_a, p.id_b, a.split AS split_a, b.split AS split_b " +
        "FROM read_parquet('/root/repo/fixtures/expected_minhash_pairs.parquet') p " +
        "JOIN read_parquet('/root/repo/fixtures/expected_split.parquet') a ON p.id_a = a.doc_id " +
        "JOIN read_parquet('/root/repo/fixtures/expected_split.parquet') b ON p.id_b = b.doc_id " +
        "WHERE p.id_b < 1000000 AND a.split <> b.split")
  )
}
