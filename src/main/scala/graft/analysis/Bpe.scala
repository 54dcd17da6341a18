package graft.analysis

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.graftbridge.Bridge.{ADT => AbstractDataType}
import org.apache.spark.sql.types._

/** Real byte-pair-encoding subword tokenization — the published BPE
  * procedure (Sennrich et al. 2016 training; greedy lowest-rank-first
  * application as in the GPT-2 reference tokenizer), replacing the
  * honest-but-crude `TextOps.bpeishTokenCount` length heuristic for
  * token budgeting. Everything here is a pure function of (corpus,
  * nMerges), mirrored symbol-for-symbol by the Python oracle generator
  * (fixtures/gen_hash_expected.py) — change either side only with the
  * other.
  *
  * Tokenization contract (shared with [[TextOps.tokens]]): words are
  * `[\p{L}0-9']+` runs of `lower(text)`; BPE merges happen INSIDE
  * words only (no cross-word merges, no end-of-word marker — ids and
  * their counts are what matter here, not decodability); every
  * non-word non-space character is one token (the same symbol rule as
  * `bpeishTokenCount`). Symbols are Unicode CODE POINTS (not UTF-16
  * chars), so astral-plane text counts like the Python mirror; the
  * lexicographic tiebreaks also compare by CODE POINT ([[cpLess]]),
  * so training agrees with the mirror on astral symbols too (a
  * property test pins it against Python's string order).
  *
  * Scale shape: TRAINING is the standard offline step — one
  * distributed word-type count (partial-agg on the word, the
  * [[TextOps.dedupExact]] exchange argument) capped at `maxWordTypes`
  * by a deterministic (count desc, word asc) top-N, then a driver-side
  * merge loop over that bounded table (like k-means' seed collect:
  * the ONLY collect, explicitly bounded). APPLICATION is map-only: the
  * merge ranks ride a TorrentBroadcast into [[BpeTokenIds]] (the
  * [[BroadcastDotProducts]] pattern — never a plan literal), one
  * compiled pass per row; a token count is `size(tokenIds)`.
  */
object Bpe {

  /** One string per Unicode code point. */
  private[analysis] def codePointStrings(s: String): Array[String] = {
    val out = new Array[String](s.codePointCount(0, s.length))
    var i = 0
    var j = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      out(j) = new String(Character.toChars(cp))
      i += Character.charCount(cp)
      j += 1
    }
    out
  }

  /** a < b in CODE-POINT order (== Python's str compare), not UTF-16
    * code-unit order: the two differ exactly when one side starts a
    * supplementary (astral) code point — a surrogate code unit
    * (0xD800-0xDFFF) — where the other holds a BMP char above it.
    */
  private[graft] def cpLess(a: String, b: String): Boolean = {
    var i = 0
    while (i < a.length && i < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(i)
      if (ca != cb) return ca < cb
      i += Character.charCount(ca)
    }
    a.length < b.length
  }

  /** Merge every non-overlapping (l, r) occurrence, left to right. */
  private[analysis] def mergeAll(syms: Array[String], l: String,
      r: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
        out += l + r; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** The Sennrich training loop over a word-TYPE frequency table:
    * `nMerges` rounds of "merge the most frequent adjacent symbol
    * pair" (pair counts weighted by word frequency, occurrences
    * counted left-to-right non-overlapping so counting and merging
    * agree on runs like "aaa"), ties to the code-point-lexicographic
    * smallest (left, then right), compared by CODE POINT ([[cpLess]])
    * — plain Java string order would sort surrogate pairs (astral
    * symbols) below U+E000..U+FFFF, diverging from the Python
    * mirror's tuple compare — so every choice is deterministic AND
    * engine-agreed for the full Unicode range. Stops early when no
    * pair repeats. Returns the merge list in rank order.
    */
  def trainFromCounts(wordCounts: Seq[(String, Long)],
      nMerges: Int): Seq[(String, String)] = {
    require(nMerges >= 0, s"nMerges must be >= 0, got $nMerges")
    val words = wordCounts.map { case (w, c) => (codePointStrings(w), c) }
      .filter(_._1.length >= 2).toArray
    val merges = Seq.newBuilder[(String, String)]
    var active = words
    var round = 0
    var exhausted = false
    while (round < nMerges && !exhausted) {
      val counts = new java.util.HashMap[(String, String), Long]()
      active.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          counts.merge(p, c, (a, b) => a + b)
          // non-overlapping like mergeAll: "aaa" counts (a,a) ONCE
          i += (if (i < syms.length - 2 && syms(i) == syms(i + 1) &&
            syms(i + 1) == syms(i + 2)) 2 else 1)
        }
      }
      var best: (String, String) = null
      var bestN = 1L // a pair must repeat to earn a merge
      counts.forEach { (p, n) =>
        if (n > bestN || (n == bestN && best != null &&
          (cpLess(p._1, best._1) ||
            (p._1 == best._1 && cpLess(p._2, best._2))))) {
          best = p; bestN = n
        }
      }
      if (best == null) exhausted = true
      else {
        merges += best
        active = active.map { case (syms, c) =>
          (mergeAll(syms, best._1, best._2), c)
        }.filter(_._1.length >= 2)
        round += 1
      }
    }
    merges.result()
  }

  /** Distributed vocab training: word-type counts (one partial-agg
    * shuffle on the word), deterministic (count desc, word asc) cap at
    * `maxWordTypes`, then [[trainFromCounts]] on the driver. The
    * collect is bounded by `maxWordTypes` rows — training a subword
    * vocab on a capped type table IS the published practice (the tail
    * of a Zipf distribution cannot win a merge anyway).
    */
  def train(docs: DataFrame, text: Column, nMerges: Int,
      maxWordTypes: Int = 100000): Seq[(String, String)] = {
    // reject before the corpus scan, not after it
    require(nMerges >= 0, s"nMerges must be >= 0, got $nMerges")
    import docs.sparkSession.implicits._
    val wc = docs.select(explode_outer(TextOps.tokens(text)).as("w"))
      .filter(col("w").isNotNull)
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w"))
      .limit(maxWordTypes)
      .as[(String, Long)].collect().toSeq
    trainFromCounts(wc, nMerges)
  }

  /** Token-ID vocabulary: the merge list plus an explicit base
    * alphabet, so tokenization can EMIT ids instead of counting.
    * Id layout (deterministic, engine-agreed with the Python mirror):
    *  - alphabet symbols (single code points, code-point-sorted) get
    *    ids `0 .. A-1`;
    *  - merge `r` (rank order) gets id `A + r` — ids are assigned by
    *    the MERGE applied, not by string lookup, because two distinct
    *    merges can produce the same string (("a","bc") and ("ab","c")
    *    both yield "abc");
    *  - any symbol outside the alphabet maps to `unkId = A + M` (text
    *    tokenized against a vocab trained elsewhere). A symbol is one
    *    id whether or not the alphabet holds it, so a token COUNT needs
    *    no alphabet: `TokenVocab(Seq.empty, merges)` counts like the
    *    full vocab (every base symbol UNK).
    */
  final case class TokenVocab(alphabet: Seq[String],
      merges: Seq[(String, String)]) extends Serializable {
    val unkId: Int = alphabet.size + merges.size
    @transient private[analysis] lazy val alphaIds: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer](alphabet.size * 2)
      alphabet.zipWithIndex.foreach { case (s, i) => m.put(s, Integer.valueOf(i)) }
      m
    }
    @transient private[analysis] lazy val ranks: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer](merges.size * 2)
      merges.zipWithIndex.foreach { case ((a, b), r) =>
        m.put(a + "\u0000" + b, r)
      }
      m
    }
    @transient private[analysis] lazy val memo =
      new java.util.concurrent.ConcurrentHashMap[String, Array[Int]]()

    /** Token ids of ONE word: greedy lowest-rank-first merging (the
      * pair TYPE with the lowest merge rank present in the word merges
      * everywhere, left to right), carrying a parallel id array through
      * the merges. The one BPE merge loop in the product.
      */
    def idsOfWord(word: String): Array[Int] = {
      val cached = memo.get(word)
      if (cached != null) return cached
      var syms = codePointStrings(word)
      var ids = syms.map(s => alphaIds.getOrDefault(s, unkId).intValue())
      var done = false
      while (!done && syms.length >= 2) {
        var bestRank = Int.MaxValue
        var bestL: String = null
        var bestR: String = null
        var i = 0
        while (i < syms.length - 1) {
          val r = ranks.get(syms(i) + "\u0000" + syms(i + 1))
          if (r != null && r.intValue() < bestRank) {
            bestRank = r.intValue(); bestL = syms(i); bestR = syms(i + 1)
          }
          i += 1
        }
        if (bestL == null) done = true
        else {
          val outS = Array.newBuilder[String]
          val outI = Array.newBuilder[Int]
          var j = 0
          while (j < syms.length) {
            if (j < syms.length - 1 && syms(j) == bestL && syms(j + 1) == bestR) {
              outS += bestL + bestR; outI += alphabet.size + bestRank; j += 2
            } else { outS += syms(j); outI += ids(j); j += 1 }
          }
          syms = outS.result(); ids = outI.result()
        }
      }
      if (memo.size < (1 << 16)) memo.put(word, ids)
      ids
    }
  }

  /** Distributed [[TokenVocab]] build: [[train]] for the merges, plus
    * one distinct over the corpus's code points (lowered, minus the
    * ASCII `\s` set — the same whitespace rule the tokenizers use) for
    * the alphabet. The per-char explode collapses to the distinct set
    * inside each map task (partial hash aggregation), so the shuffle
    * and the collect are bounded by the alphabet size, not the corpus.
    */
  def buildTokenVocab(docs: DataFrame, text: Column, nMerges: Int,
      maxWordTypes: Int = 100000): TokenVocab = {
    import docs.sparkSession.implicits._
    // the alphabet scan and the word-count scan are INDEPENDENT reads
    // of the same input — submit the alphabet job from a driver thread
    // so the scheduler backfills it behind the word-count job's tail
    // (optimization guide §2.6 "overlap independent jobs"): at corpus
    // scale that overlaps two full scans, and the driver-side merge
    // loop in train() overlaps the alphabet job too. Job submission is
    // thread-safe; an alphabet failure propagates via Await, and a
    // train() failure cancels the alphabet job's group (unique per
    // call, so nothing else is cancelled) until the thread is done: an
    // adaptive query stage submitted after a group cancel escapes it
    // (map-stage submission does not check cancelled groups).
    //
    // per-doc array_distinct BEFORE the explode: the exploded row count
    // drops from corpus-characters to docs x alphabet-size (identical
    // distinct set — distinct of a union is the union of per-doc
    // distincts), so the explode+aggregate is bounded by the alphabet,
    // not the text volume (r08)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val sc = docs.sparkSession.sparkContext
    val phase = "graft:buildTokenVocab:alphabet"
    val group = s"$phase:${java.util.UUID.randomUUID()}"
    val alphaF = Future {
      // a pooled thread: the group is set for this job only
      sc.setJobGroup(group, phase, interruptOnCancel = true)
      try docs.select(explode_outer(array_distinct(
          regexp_extract_all(lower(text),
            lit("[^ \\t\\n\\x0B\\f\\r]"), lit(0)))).as("ch"))
        .filter(col("ch").isNotNull).distinct().as[String].collect()
      finally sc.clearJobGroup()
    }
    val merges =
      try train(docs, text, nMerges, maxWordTypes)
      catch { case e: Throwable =>
        while (!alphaF.isCompleted) {
          sc.cancelJobGroupAndFutureJobs(group, "graft:buildTokenVocab: training failed")
          scala.util.Try(Await.ready(alphaF, 100.millis))
        }
        throw e
      }
    val alpha = Await.result(alphaF, Duration.Inf)
    TokenVocab(alpha.sortWith(cpLess).toSeq, merges)
  }

  /** Full-text token IDS in text order (q65 counts them,
    * [[Pack.packSequences]] consumes them): fused scan of `lower(text)` —
    * word runs (`[\p{L}0-9']+`, the [[TextOps.tokens]] class) BPE-merge
    * to subword ids, every other non-ASCII-whitespace code point is one
    * alphabet (or UNK) token.
    */
  def tokenIds(text: Column, vocab: Broadcast[TokenVocab]): Column =
    BpeTokenIds.of(lower(text), vocab)
}

/** Token IDS of a full (already-lowered) text, in text order, against
  * a broadcast [[Bpe.TokenVocab]]. One code-point scan: word runs
  * ([\p{L}0-9']+, matching `Character.isLetter` + ASCII digits +
  * apostrophe) merge to subword ids via [[Bpe.TokenVocab.idsOfWord]];
  * ASCII whitespace (space, tab, LF, VT, FF, CR — the Java regex `\s`
  * set) separates; every OTHER code point (punctuation, and e.g. NBSP,
  * which Java `\s` does not match) is one alphabet-or-UNK token. The
  * test-scope counting twin (`BpeCountTwin`: per-word merge counts
  * plus a symbol regex) pins `size(tokenIds)`. The child must be
  * pre-lowered ([[Bpe.tokenIds]] wraps `lower(text)`) so word
  * detection uses Spark's own lowering, like [[TextOps.tokens]].
  */
case class BpeTokenIds(child: Expression, vocab: Broadcast[Bpe.TokenVocab])
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "bpe_token_ids"

  @transient private lazy val v: Bpe.TokenVocab = vocab.value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("bpeIds", this)
      s"${ev.value} = $ref.evalCore($c);"
    })

  override def nullSafeEval(text: Any): Any =
    evalCore(text.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  private def isWordCp(cp: Int): Boolean =
    Character.isLetter(cp) || (cp >= '0' && cp <= '9') || cp == '\''

  private def isAsciiWs(cp: Int): Boolean =
    cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B || cp == '\f' ||
      cp == '\r'

  /** Shared by interpreted eval and generated code (public for janino). */
  def evalCore(low: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val s = low.toString
    val out = new scala.collection.mutable.ArrayBuffer[Int](s.length / 4 + 4)
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val w = Character.charCount(cp)
      if (isAsciiWs(cp)) i += w
      else if (isWordCp(cp)) {
        var j = i + w
        while (j < s.length && isWordCp(s.codePointAt(j))) {
          j += Character.charCount(s.codePointAt(j))
        }
        out ++= v.idsOfWord(s.substring(i, j))
        i = j
      } else {
        out += v.alphaIds
          .getOrDefault(new String(Character.toChars(cp)), v.unkId).intValue()
        i += w
      }
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BpeTokenIds {
  def of(loweredText: Column, vocab: Broadcast[Bpe.TokenVocab]): Column =
    Bridge.column(BpeTokenIds(Bridge.expression(loweredText), vocab))
}
