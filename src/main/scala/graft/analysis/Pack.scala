package graft.analysis

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fixed-length sequence packing for a training release: BPE-tokenize
  * every doc ([[BpeTokenIds]], map-only) and concatenate the corpus's
  * token stream — docs in a DETERMINISTIC, layout-stable order (the
  * [[TextOps.splitByHash]] rule: `(xxhash64(doc_id), doc_id)`) — into
  * back-to-back sequences of exactly `seqLen` ids (the last may be
  * short; no padding id is invented), each carrying provenance spans
  * `(doc_id, start, len)`. A doc crossing a boundary contributes a
  * span to each sequence it touches.
  *
  * Scale shape — the global concatenation is a classic distributed
  * prefix sum, never a single-partition sort:
  *
  *  1. per-doc token arrays + counts, map-only, one materialized
  *     barrier (consumed by the counts pass and the final slice join);
  *  2. a COUNTS-ONLY frame (doc_id, n, ord — ~24-byte rows, no tokens)
  *     is bucketed by a deterministic monotone function of the order
  *     key (its top bits — uniform, so range-balanced); per-bucket
  *     totals (one row per bucket, the only collect) prefix-sum on
  *     the driver into bucket base offsets; a per-bucket window
  *     (bounded: buckets are range-split, never one key) adds the
  *     local running sum — every doc knows its global token offset
  *     without any global sort or sampling pass;
  *  3. offsets join back to the token arrays (the tokens' first
  *     shuffle), each doc explodes into the 1+ sequences it overlaps,
  *     and a groupBy(seq_id) assembles each sequence (the tokens'
  *     second and last shuffle). The per-sequence collect_list is
  *     bounded by construction — a sequence holds at most `seqLen`
  *     pieces (every piece carries >= 1 token) — so the house rule
  *     against unbounded per-key collection does not bite.
  *
  * Output offsets are a pure function of the (ord, doc_id) total
  * order, so results are byte-identical across partition counts and
  * range-boundary placement (a spec pins repartition invariance).
  * Zero-token docs (empty/whitespace text) pack nothing and appear in
  * no span.
  */
object Pack {

  def packSequences(docs: DataFrame, id: Column, text: Column,
      vocab: Broadcast[Bpe.TokenVocab], seqLen: Int,
      staging: Option[String] = None): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val spark = docs.sparkSession
    val toks = Staging.materialize(
      docs.select(id.as("doc_id"), Bpe.tokenIds(text, vocab).as("tids"))
        .withColumn("n", size(col("tids")).cast("long"))
        .filter(col("n") > 0),
      staging, "pack_tokens")
    // the counts-only prefix-sum path. The prefix buckets are a
    // DETERMINISTIC monotone function of the order key — the top
    // ceil(log2(parallelism)) bits of the signed `ord` (an arithmetic
    // shift preserves signed order, and xxhash64 output is uniform
    // over the full signed range, so buckets are range-balanced like
    // the sampled repartitionByRange this replaces) — instead of
    // spark_partition_id over a sampled range partition. That removes
    // the range partitioner's sampling job, the physical-partitioning
    // barrier the old form needed so the totals pass and the window
    // pass saw identical pids (r08: one fewer materialization + one
    // fewer exchange), and any dependence on physical layout at all:
    // offsets are now a pure function of (ord, doc_id), which is also
    // the stronger form of the repartition-invariance contract.
    val shufflePartitions =
      spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // bits >= 1 always (numberOfLeadingZeros(1L) = 63), so the shift
    // distance is in [1, 63] and pid always derives from ord's top bits
    val bits = (64 - java.lang.Long.numberOfLeadingZeros(
      math.max(1, shufflePartitions - 1).toLong)).toInt
    val pidCol = shiftright(col("ord"), 64 - bits).cast("int")
    val counts = toks
      .select(col("doc_id"), col("n"), xxhash64(col("doc_id")).as("ord"))
      .withColumn("pid", pidCol)
    val partTotals = counts.groupBy("pid").agg(sum(col("n")).as("pn"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val partBase = partTotals.map { case (p, pn) =>
      val row = (p, acc); acc += pn; row
    }.toSeq
    val baseDf = spark.createDataFrame(partBase).toDF("pid", "poff")
    val w = Window.partitionBy(col("pid")).orderBy(col("ord"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = counts.join(broadcast(baseDf), Seq("pid"))
      .withColumn("cum", sum(col("n")).over(w))
      .select(col("doc_id"), (col("poff") + col("cum") - col("n")).as("off"))
    // each doc overlaps sequences floor(off/L) .. floor((off+n-1)/L);
    // piece = its slice of one sequence. explode_outer: house rule for
    // computed arrays (InferFiltersFromGenerate re-inlines otherwise);
    // the sequence() array is never empty.
    val pieces = toks.join(offsets, Seq("doc_id"))
      .withColumn("seq_id",
        explode_outer(sequence(expr(s"off DIV $seqLen"),
          expr(s"(off + n - 1) DIV $seqLen"))))
      .withColumn("gs", greatest(col("off"), col("seq_id") * seqLen))
      .withColumn("ge", least(col("off") + col("n"),
        (col("seq_id") + 1) * seqLen))
      .select(col("seq_id"), struct(
        (col("gs") - col("seq_id") * seqLen).cast("int").as("seq_pos"),
        col("doc_id"),
        slice(col("tids"), ((col("gs") - col("off")) + 1).cast("int"),
          (col("ge") - col("gs")).cast("int")).as("seg")).as("piece"))
    // array_sort on structs orders by fields left-to-right: seq_pos
    // leads, and seq_pos values within a sequence are distinct
    pieces.groupBy("seq_id")
      .agg(array_sort(collect_list(col("piece"))).as("ps"))
      .select(col("seq_id"),
        flatten(transform(col("ps"), p => p("seg"))).as("token_ids"),
        transform(col("ps"), p => struct(p("doc_id").as("doc_id"),
          p("seq_pos").as("start"),
          size(p("seg")).as("len"))).as("spans"))
  }
}
