package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.corpus.{Corpus, Det}
import graft.schema.DocRow

/** Workload inputs, made from the seed alone. The product sees only the
  * generated rows.
  */
object Inputs {

  private def mix(seed: Long, salt: Long): Long =
    new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt).nextLong() & Long.MaxValue

  /** Doc indices for a skewed corpus of `n` docs, in the order the
    * source partitions them. The seed picks where in the index space the
    * docs come from; what sets the work is the same for every seed:
    * `n / 100` oversized docs whose page counts are one fixed set spread
    * evenly over 50-200, placed at evenly spaced positions in one fixed
    * order between `n - n / 100` ordinary docs. Every seed thus carries
    * the same skew and the same load per source partition; seeds differ
    * in the docs' content, not in how much of it there is.
    */
  def skewedIndices(seed: Long, n: Int): Array[Long] = {
    val heavyN = n / 100
    val start = 100000L + mix(seed, 1) % 90000000L
    // the corpus's own skew draws (Corpus.doc), read without building docs
    def oversized(i: Long): Boolean = !Corpus.isUnreadable(i) && Det.h(i, "skew") % 100 == 0
    def pages(i: Long): Int = 50 + (Det.h(i, "skewN") % 151).toInt
    val wanted = new scala.util.Random(7L)
      .shuffle((0 until heavyN).map(k => 50 + (2 * k + 1) * 151 / (2 * heavyN)))
    // the first oversized docs from `start` on with each wanted page count
    val need = mutable.Map.empty[Int, Int].withDefaultValue(0)
    wanted.foreach(p => need(p) += 1)
    val found = mutable.Map.empty[Int, mutable.Queue[Long]]
    var left = heavyN
    var i = start
    while (left > 0) {
      require(i - start < 100000000L, s"no oversized docs with pages ${need.filter(_._2 > 0).keys}")
      if (oversized(i) && need(pages(i)) > 0) {
        need(pages(i)) -= 1
        found.getOrElseUpdate(pages(i), mutable.Queue.empty) += i
        left -= 1
      }
      i += 1
    }
    val heavy = wanted.map(p => found(p).dequeue())
    heavy.zip(wanted).foreach { case (d, p) =>
      require(Corpus.doc(d, skew = true).spans.count(_.kind == "media") == p,
        s"doc $d was picked for $p pages but has another count")
    }
    val normal = Iterator.iterate(start)(_ + 1).filterNot(oversized)
    val slot = heavy.indices.map(j => j.toLong * n / heavyN + n / (2 * heavyN) -> heavy(j)).toMap
    Array.tabulate(n)(k => slot.getOrElse(k.toLong, normal.next()))
  }

  /** The skewed corpus over `indices`; `generated` counts every doc the
    * plan builds (one per doc per scan).
    */
  def docs(spark: SparkSession, indices: Array[Long], partitions: Int,
      generated: LongAccumulator): Dataset[DocRow] = {
    import spark.implicits._
    spark.sparkContext.parallelize(indices.toSeq, partitions).toDS()
      .map { i => generated.add(1); Corpus.doc(i, skew = true) }
  }

  /** Counted `spark.range` source for the audited job: `n` consecutive
    * doc indices from a seed-picked offset.
    */
  def rangeDocs(spark: SparkSession, seed: Long, n: Int, partitions: Int,
      generated: LongAccumulator): Dataset[DocRow] = {
    import spark.implicits._
    val off = 100000L + mix(seed, 2) % 90000000L
    spark.range(off, off + n, 1, partitions)
      .map { i => generated.add(1); Corpus.doc(i, skew = true) }
  }

  // ---- text corpus for curation ------------------------------------------

  /** One token of a pseudo-word stream: every 5th position is an English
    * stopword (so language and stopword gates pass); the rest draw from
    * a 100k-word vocabulary. A pure function of the position.
    */
  private def streamWord(t: Column): Column = {
    val markers = array(Seq("the", "and", "of", "is", "was").map(lit): _*)
    when(pmod(t, lit(5)) === 0,
      element_at(markers, (pmod(xxhash64(lit(1), t), lit(5)) + 1).cast("int")))
      .otherwise(concat(lit("w"), pmod(xxhash64(lit(2), t), lit(100000))))
  }

  /** 50 stream tokens starting at `base`. */
  def window(base: Column): Column =
    concat_ws(" ", transform(sequence(lit(0), lit(49)), k => streamWord(base + k)))

  /** Layout of the curation corpus: ids `[0, clones)` share one text,
    * ids `[clones, clones + chain)` are a drift chain (doc j is the
    * window at offset j, so neighbours are near-duplicates), the rest
    * are windows at disjoint offsets. The seed moves every offset.
    */
  final case class TextCorpus(n: Long, clones: Long, chain: Long, base: Long) {
    def background: Long = n - clones - chain
    val sources = 50
    /** Binding quota: below the ~n/sources docs a source keeps. */
    def maxPerSource: Int = math.max(1, (0.8 * n / sources).toInt)
    def snapshotSize: Long = n / 20

    def docs(spark: SparkSession, partitions: Int): DataFrame =
      spark.range(0, n, 1, partitions).select(col("id").as("doc_id"),
        when(col("id") < clones, window(lit(base)))
          .when(col("id") < clones + chain, window(lit(base + 1000) + col("id") - clones))
          .otherwise(window(lit(base + 10000000L) + col("id") * 50)).as("text"),
        concat(lit("s"), pmod(xxhash64(col("id")), lit(sources))).as("source"))

    /** Benchmark set for decontamination: every 500th doc's own text. */
    def benchmark(d: DataFrame): DataFrame =
      d.filter(pmod(col("doc_id"), lit(500)) === 17).select(col("text"))

    def benchmarkBackground: Long =
      (clones + chain until n).count(i => i % 500 == 17).toLong

    /** A later snapshot: every 10th doc is a background doc plus one
      * token; the rest are windows no base doc shares.
      */
    def snapshot(spark: SparkSession, partitions: Int): DataFrame =
      spark.range(0, snapshotSize, 1, partitions).select(
        (col("id") + 2000000000L).as("doc_id"),
        when(pmod(col("id"), lit(10)) === 0,
          concat(window(lit(base + 10000000L) + (col("id") + clones + chain) * 50),
            lit(" extradup")))
          .otherwise(window(lit(base + 500000000L) + col("id") * 50)).as("text"))
  }

  def textCorpus(seed: Long, n: Long): TextCorpus =
    TextCorpus(n, n / 10, n / 100, (mix(seed, 3) % 1000000L) * 1000000000L)
}
