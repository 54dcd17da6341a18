import graft._; import graft.corpus.Corpus
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import java.nio.file.{Files, Paths}
spark.sparkContext.setLogLevel("ERROR")
val sf = "/root/testdata/sf0.01"
val sb = new StringBuilder
sb ++= "# EXPLAINS — physical-plan + executed-work audit (generated by fixtures/gen_explains.scala via spark-shell)\n\n"
sb ++= s"""Plan-shape and executed-work evidence for the 100 TB design claims.
Per query: `plan exchanges` counts Exchange OCCURRENCES in the printed
pre-execution plan — an upper bound that double-counts every reprint of
a reused subtree (a dedup semi-join prints its input twice), and that
stops at each barrier: a materialized barrier is a leaf (`Scan
ExistingRDD` for a local checkpoint, a parquet scan when staged), so
the work behind it shows only in the EXECUTED columns.
The EXECUTED columns are the truth: stages actually run, shuffle bytes
actually written, input bytes actually read — counted from query BUILD
(the barrier materializations run eagerly at build time and are
included) through one execution into the noop sink,
so no column is pruned from the audited work (AQE on, sf0.01,
${spark.sparkContext.master}).
"""
sb ++= "\n"
var stages = 0; var shuffleMB = 0.0; var inputMB = 0.0
val listener = new SparkListener {
  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    stages += 1
    shuffleMB += s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten / 1e6
    inputMB += s.stageInfo.taskMetrics.inputMetrics.bytesRead / 1e6
  }
}
spark.sparkContext.addSparkListener(listener)
def audit(name: String, claim: String, dfThunk: => org.apache.spark.sql.DataFrame, keep: Seq[String]) = {
  // reset FIRST, then build: the eager barrier materializations run at
  // build time and must be inside the counted window
  spark.catalog.clearCache()
  stages = 0; shuffleMB = 0.0; inputMB = 0.0
  val df = dfThunk
  val p = df.queryExecution.executedPlan.toString
  val ex = "Exchange".r.findAllIn(p).length
  val cg = "\\*\\(\\d+\\)".r.findAllIn(p).map(_.drop(2).dropRight(1).toInt).toSet.size
  df.write.format("noop").mode("overwrite").save()
  Thread.sleep(800) // drain the listener bus before reading the counters
  sb ++= s"## $name\n\n$claim\n\n"
  sb ++= f"- plan exchanges (occurrences, see header): $ex, codegen stages: $cg\n"
  sb ++= f"- EXECUTED: $stages stages, shuffle write $shuffleMB%.2f MB, input read $inputMB%.2f MB\n"
  keep.foreach { g =>
    p.linesIterator.filter(_.contains(g)).take(1).foreach { l =>
      sb ++= s"- `${l.trim.take(200)}`\n" } }
  sb ++= "\n"
}
audit("flagship auto-cascade extraction (Pipeline.extractRows)",
  "Map-only: each cascade level's OCR is an ocr_text column inside ONE whole-stage-codegen stage (premium and optimum behind CASE gates on the earlier levels' acceptance; no CodegenFallback, so no bare Project between stages) + Generate — no MapPartitions, ZERO Exchange and zero shuffle bytes, so throughput scales with partition count alone (the >=0.8 N->4N claim).",
  Pipeline.extractRows(Corpus.generate(spark, 100), "auto"), Seq("AS light_raw"))
audit("multi-analyte entity extraction (q43)",
  "ALL analyte configs + best-pick in ONE map-side gather projection (single fused pass per doc, not one per analyte) — zero Exchange below the final small agg.",
  SparkEntry.queries("q43_analytes")(spark, sf), Seq("multi_analyte_gather"))
audit("parquet filter pushdown (q02)",
  "Filters and projection reach the scan: PushedFilters + 3-column ReadSchema (not the 16-column table).",
  SparkEntry.queries("q02_filter_pushdown")(spark, sf), Seq("PushedFilters"))
audit("dimension join (q04)",
  "Small dim broadcast: BroadcastHashJoin, no shuffle of the fact side.",
  SparkEntry.queries("q04_join_broadcast")(spark, sf), Seq("BroadcastHashJoin"))
audit("window top-1 (q05)",
  "Single hash-partitioned Exchange on the window key — the minimal plan for a global per-group top-1.",
  SparkEntry.queries("q05_window_top1")(spark, sf), Seq("Window"))
audit("minhash near-dup pairs (q25)",
  "Banded LSH self-join on (band,bucket) over a materialized one-pass base (fused ShingleHashes+MinhashSignature); each band collision reranked by exact Jaccard, and only (id_a, id_b, jaccard) rows over the threshold cross the pair-dedup exchange (a fixed-width hash aggregate; the shingle-hash arrays never shuffle).",
  SparkEntry.queries("q25_minhash_pairs")(spark, sf), Seq("Join"))
audit("cosine near-dup (q46)",
  "Sign-LSH bucket self-join; at sf scale AQE broadcasts one side, at 100 TB it is a co-partitioned SMJ on (table,bucket) with ~N/65k vectors per bucket. Hot buckets are salt-split (join key includes __salt).",
  SparkEntry.queries("q46_cosine_dedup")(spark, sf), Seq("Join"))
audit("IVF ANN (q47)",
  "Centroids ride as a TorrentBroadcast consumed by the native broadcast_dot_products expression — the serialized plan stays small (the round-2 typedlit encoding embedded the full centroid matrix in every task's expression tree). Cell join + per-query top-k window.",
  SparkEntry.queries("q47_ann_ivf")(spark, sf), Seq("broadcast_dot_products"))
audit("exact->near dedup cascade (q48)",
  "Exact collapse is a map-side partial HashAggregate on xxhash64(text) + keeper semi-join (NO Window: a mega-cluster costs one tiny 8-byte-key row per map task, never one reducer — the keeper side aggregates keys only, the heavy side never shuffles for the dedup; the trade is a second map-parallel pass over the input, visible in input-read, which at 100 TB beats shuffling the text). Feeds the banded minhash join, so a 500-strong identical cluster reaches LSH as ONE keeper; the self-join key carries the hot-bucket salt.",
  SparkEntry.queries("q48_dedup_cascade")(spark, sf), Seq("Join", "HashAggregate"))
audit("curation filter (q49)",
  "Language gate + quality features are ONE map-side projection; rejects drop before anything shuffles, and the only shuffles are the exact-dedup partial agg + keeper semi-join on 8-byte hash keys.",
  SparkEntry.queries("q49_curation")(spark, sf), Seq("Filter", "HashAggregate"))
audit("full curate pass (q50)",
  "Filter -> exact collapse -> banded near-dup join -> left_anti drop; the near stage sees keepers only. Three barriers (keepers, minhash base, near pairs), so the regex-heavy hygiene projection and the banded join each execute once however many consumers; the kept set is a keepers scan anti-joined with the pairs' drop ids.",
  SparkEntry.queries("q50_curate_full")(spark, sf), Seq("Join"))
audit("line-frequency boilerplate strip (q53)",
  "Two partial-agg shuffles on 8-byte line hashes ((line_key, doc_id) collapse, then count per line_key) + anti-join back — no text column in any exchange; the boilerplate side is tiny by construction, so AQE broadcasts it.",
  SparkEntry.queries("q53_strip_boilerplate")(spark, sf), Seq("HashAggregate", "Join"))
audit("per-source quota (q54)",
  "Bounded top-k keeper: ObjectHashAggregate with a partial_bounded_top_k stage whose per-key heap state is CAPPED at N in update AND merge (a mega-source costs each map task at most N entries) + a left_semi join back on the 8-byte id — no Window, no unbounded collect_list.",
  SparkEntry.queries("q54_source_quota")(spark, sf), Seq("ObjectHashAggregate", "Join"))
audit("boilerplate strip + reassembly (q55)",
  "q53's hashed-key frequency pass composed with per-doc reassembly: ONE more hash aggregate keyed by doc_id whose collect_list state is bounded by the document's own line count (one doc = one output row — cannot concentrate a corpus on one task).",
  SparkEntry.queries("q55_reassemble")(spark, sf), Seq("ObjectHashAggregate", "Join"))
audit("benchmark decontamination (q58)",
  "The benchmark side (distinct 8-byte shingle hashes of an MB-scale eval suite) ships as an explicit broadcast; the corpus side is one map-parallel explode + BroadcastHashJoin LEFT-SEMI (the corpus NEVER shuffles for the membership test) + partial-agg count on 8-byte doc ids over hit rows only.",
  SparkEntry.queries("q58_contamination")(spark, sf), Seq("BroadcastHashJoin"))
audit("as-of join (q60)",
  "Point-in-time join as union + per-key time-ordered carry-forward: ONE hash shuffle on the key + a Window — never the inequality-join nested loop; DuckDB's NATIVE ASOF JOIN is the oracle.",
  SparkEntry.queries("q60_asof_join")(spark, sf), Seq("Window"))
audit("bucketed range join (q61)",
  "Interval containment as an EQUI-join: intervals exploded onto covered fixed-width time buckets, hash join on the bucket id, residual exact-containment filter — ceil(L/width)+1 replicas per interval instead of a quadratic BroadcastNestedLoopJoin.",
  SparkEntry.queries("q61_range_join")(spark, sf), Seq("Join"))
audit("composed corpus release (q64)",
  "The four-stage release in one plan: curate's staged shapes (map-side hygiene, partial-agg exact collapse, salted banded join), the benchmark broadcast LEFT-SEMI decontamination + anti-join, the bounded-top-k quota keeper (no Window), and the map-only hash split — every inter-stage join is on 8-byte ids against already-bounded frames. Four barriers (curate's keepers, minhash base and near pairs, then the contamination flags): decontamination scans the keepers with their text, and the clean set is the same scan anti-joined with the drop ids and the flags, not a barrier of its own.",
  SparkEntry.queries("q64_release")(spark, sf), Seq("ObjectHashAggregate", "BroadcastHashJoin"))
audit("BPE token count (q65)",
  "Map-only: the count is size() of the fused bpe_token_ids expression, which consumes the merge-rank table from a TorrentBroadcast (never a plan literal) inside whole-stage codegen; the vocab carries no alphabet (an unknown symbol is one UNK id), so the only job besides training is the scan itself — per-doc counts are a pure projection over it.",
  SparkEntry.queries("q65_bpe_tokens")(spark, sf), Seq("bpe_token_ids"))
audit("perceptual media dedup (q66)",
  "dHash64 (fused) over pooled-codec 9x8 rasters, then the SAME banded-Hamming self-join class as q45 (8 bands x 8 bits, hot-bucket salt in the join key, pair-dedup before the exact-Hamming rerank) — copies collide in some band with certainty (pigeonhole), so recall needs no all-pairs compare.",
  SparkEntry.queries("q66_media_dedup")(spark, sf), Seq("Join"))
audit("bucketed as-of join (q67, hot-key-proof form)",
  "asofJoinBucketed: the q60 semantics with every event-level Window partitioned by (key, TIME BUCKET) — the per-key carry crosses buckets through a compact one-row-per-active-bucket summary walk, so a pathological key spreads over its buckets instead of pinning one task (row-identical to asofJoin by test AND by q67's shared q60 oracle).",
  SparkEntry.queries("q67_asof_bucketed")(spark, sf), Seq("Window"))
audit("token-budget source quota (q70)",
  "The q54 bounded-keeper shape with the cap on cumulative WEIGHT instead of row count: ObjectHashAggregate whose bounded_budget_top state is weight-capped in update AND merge (a mega-source's map tasks each hold only what fits the budget) + the semi-join back — no Window, no cumsum over an unbounded key.",
  SparkEntry.queries("q70_budget_quota")(spark, sf), Seq("ObjectHashAggregate", "Join"))
audit("paragraph-level dedup (q71)",
  "Intra-doc repeated-paragraph strip is a pure map-side array walk (first occurrence kept, zero shuffle); the cross-doc pass is q53's hashed-key frequency shape at paragraph granularity — partial aggs on 8-byte paragraph hashes, per-doc bounded reassembly, no paragraph text in any exchange.",
  SparkEntry.queries("q71_paragraph_dedup")(spark, sf), Seq("HashAggregate", "Join"))
audit("incremental snapshot-vs-base dedup (q72)",
  "The staged minhash base enters as a parquet SCAN (never recomputed — the plan's base side is a FileScan of the staged table); new-snapshot signatures compute map-side and equi-join the base's (band,bucket) keys; both pair frames are barriers consumed by the keeper anti-joins.",
  SparkEntry.queries("q72_incremental_dedup")(spark, sf), Seq("Scan parquet", "Join"))
audit("BPE token ids + sequence packing (q73)",
  "Packing as a distributed prefix sum: the global concatenation order is a RANGE partition of a counts-only frame (24-byte rows), per-partition totals collect once, and a per-partition Window adds local running sums — tokens themselves shuffle exactly twice (offset join-back, bounded per-sequence assembly); no global sort, no single-partition Window.",
  SparkEntry.queries("q73_pack_sequences")(spark, sf), Seq("rangepartitioning", "Window"))
audit("exact-substring duplicated runs (q74)",
  "Stride-1 shingle hashes stage once as (doc_id, pos, 8-byte hash) — every downstream exchange (frequency partial-agg on the hash, left-semi flag join, per-doc bounded interval merge) carries those three columns, never text; the run merge is one groupBy(doc) whose state is bounded by the doc's own length.",
  SparkEntry.queries("q74_duplicated_runs")(spark, sf), Seq("HashAggregate", "Join"))
audit("run excision (q76)",
  "The cut itself is map-side: runs collapse to per-doc interval arrays (partial agg, bounded by the doc's token count), join back on the 8-byte id, and an indexed-filter HOF drops covered tokens — the only text movement is the docs' own scan.",
  SparkEntry.queries("q76_excise_runs")(spark, sf), Seq("ObjectHashAggregate", "Join"))
audit("mixture sampling (q77)",
  "Map-only: one xxhash64 coin + a bounded generator per row (explode_outer over a <= ceil(rate)-element sequence), the rate table a tiny plan literal — zero shuffle, layout-stable output.",
  SparkEntry.queries("q77_mixture_sample")(spark, sf), Seq("Generate"))
audit("char-n-gram language ID (q75)",
  "Map-only: the fused lang_ngram_scores expression consumes the 26-language trigram profile table from a TorrentBroadcast (never a plan literal) inside whole-stage codegen; classification is a projection over the scan — zero exchange below the count.",
  SparkEntry.queries("q75_lang_id")(spark, sf), Seq("lang_ngram_scores"))
audit("dup-cluster grouping (q51)",
  "Union-find as min-label propagation + pointer-jumping: per round one keyed join + one partial-agg groupBy + one label_prev(label(x)) shortcut join, all on 8-byte ids; ONE Spark action per round (the convergence count rides the cut's scan via an accumulator, and the jump dereferences the previous round's already-cut table). Path compounding keeps rounds O(log diameter), so even a 10^6-link drift chain needs ~30.",
  SparkEntry.queries("q51_dup_clusters")(spark, sf), Seq("HashAggregate"))
// RUN WITH --driver-java-options "-Dfile.encoding=UTF-8": spark-shell
// -I otherwise reads this script with a non-UTF-8 default charset and
// turns each em-dash literal into a U+FFFD run (the scala-shell -I
// default-charset trap, see BENCH.md's measurement notes). The guard
// below fails loudly instead of committing mangled prose.
require(!sb.toString.contains(new String(Character.toChars(0xFFFD))),
  "script was read with a non-UTF-8 charset; rerun spark-shell with " +
    "--driver-java-options -Dfile.encoding=UTF-8")
Files.writeString(Paths.get("/root/repo/EXPLAINS.md"), sb.toString)
println("WROTE EXPLAINS.md " + sb.length + " chars")
sys.exit(0)
