package graft.analysis

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The counting twin of [[BpeTokenIds]], kept as a test oracle: a text's
  * BPE token count as the sum of per-word greedy merge counts over
  * [[TextOps.tokens]] plus one token per `[^\p{L}0-9'\s]` symbol of
  * `lower(text)`. It counts, never emits ids, and reads no alphabet, so
  * `size(Bpe.tokenIds(text, vocab)) == tokenCount(text)` for any vocab
  * with these merges. The symbol scan runs over `lower(text)`, the
  * string the emitter walks, so the two agree even where lowercase
  * EXPANDS a code point (U+0130 'İ' lowers to "i" + combining U+0307,
  * a non-letter both count as one symbol).
  */
final case class BpeCountTwin(merges: Seq[(String, String)]) {

  @transient private lazy val ranks: Map[(String, String), Int] =
    merges.zipWithIndex.toMap

  /** BPE token count of ONE word: merge the lowest-rank pair TYPE present
    * (every non-overlapping occurrence, left to right) until none is.
    */
  def countWord(word: String): Int = {
    var syms = Bpe.codePointStrings(word)
    var done = false
    while (!done && syms.length >= 2) {
      val present = syms.indices.init.flatMap(i => ranks.get((syms(i), syms(i + 1))))
      if (present.isEmpty) done = true
      else {
        val (l, r) = merges(present.min)
        syms = Bpe.mergeAll(syms, l, r)
      }
    }
    syms.length
  }

  /** Full-text count; null text gives null. */
  def tokenCount(text: Column): Column = {
    val words = udf((ws: Seq[String]) => Option(ws).map(_.map(countWord).sum))
    words(TextOps.tokens(text)) +
      size(regexp_extract_all(lower(text), lit("[^\\p{L}0-9'\\s]"), lit(0)))
  }
}
