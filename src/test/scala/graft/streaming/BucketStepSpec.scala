package graft.streaming

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import StreamingExtract.{Nearness, bucketStep, cosine, estJaccard, hamming}

/** The shared bucket step of the near-dup streams == each of the loop
  * bodies it replaced ([[BucketTwins]]), on random buckets built to hit
  * every rule: re-ingested keeper ids, exact score ties across ids,
  * buckets at and one below the cap, mismatched-dimension (NaN) and
  * zero-norm vectors, and String ids.
  */
class BucketStepSpec extends AnyFunSuite {

  private val Batches = 3000

  type Rows[I, F] = Seq[(Int, Long, I, F)]

  /** Stored keepers with distinct ids (the machine never stores an id
    * twice), at the cap, one below it, or anywhere up to it.
    */
  private def keepers[I, F](r: Random, cap: Int, ids: IndexedSeq[I],
      feat: => F): List[(I, F)] = {
    val n = r.nextInt(3) match {
      case 0 => cap
      case 1 => cap - 1
      case _ => r.nextInt(cap + 1)
    }
    r.shuffle(ids).take(n).map(i => (i, feat)).toList
  }

  /** One bucket's micro-batch: ids from the keepers' pool (re-ingests
    * and in-batch repeats), features from a tiny pool (score ties).
    */
  private def rows[I, F](r: Random, ids: IndexedSeq[I], feat: => F): Rows[I, F] =
    Seq.fill(r.nextInt(12))((0, 0L, ids(r.nextInt(ids.size)), feat))

  private def norm[I, F](kept: List[(I, F)]) = kept.map {
    case (i, f: Array[_]) => (i, f.toSeq)
    case p => p
  }

  /** Runs `Batches` random buckets through the shared step (fed as the
    * adapter feeds it: (id, feature) in id order) and the twin, each
    * under random parameters `P`; also counts how often the data decided
    * a re-ingest, the tie-break and the cap, so the comparison cannot
    * pass vacuously.
    */
  private def agree[I, F, S, P](seed: Int, ids: IndexedSeq[I],
      param: Random => P, feat: (Random, P) => F, rule: P => Nearness[F, S],
      twin: (P, List[(I, F)], Rows[I, F], Int) => (List[(I, F)], List[(I, I, S)]))(
      implicit ord: Ordering[I]): Unit = {
    val r = new Random(seed)
    var reingests, tieDecided, capDecided = 0
    for (b <- 0 until Batches) {
      val p = param(r)
      val cap = 1 + r.nextInt(5)
      val seen = keepers(r, cap, ids, feat(r, p))
      val batch = rows(r, ids, feat(r, p))
      val sorted = batch.map(x => (x._3, x._4)).sortBy(_._1)
      val (kept, out) = bucketStep(seen, sorted, rule(p), cap)
      val (tKept, tOut) = twin(p, seen, batch, cap)
      def ctx = s"batch $b: p $p, cap $cap, seen ${norm(seen)}, rows ${norm(batch.map(x => (x._3, x._4)).toList)}"
      assert(norm(kept) == norm(tKept), s"keepers differ; $ctx")
      assert(out == tOut, s"emitted rows differ; $ctx")
      if (batch.exists(x => seen.exists(_._1 == x._3))) reingests += 1
      if (bucketStep(seen, sorted, rule(p), cap)(ord.reverse)._2 != out) tieDecided += 1
      if (norm(bucketStep(seen, sorted, rule(p), cap + 1)._1) != norm(kept)) capDecided += 1
    }
    val floor = Batches / 100
    assert(reingests > floor && tieDecided > floor && capDecided > floor,
      s"re-ingests $reingests, tie-decided $tieDecided, cap-decided $capDecided")
  }

  private val longIds = (0L until 10L).toIndexedSeq

  private def pick[A](r: Random, xs: Seq[A]): A = xs(r.nextInt(xs.size))

  test("bucket step == the vector twin: cosine ties, NaN dims, zero norms") {
    // dims 2 and 3 (a mismatch scores NaN), components in {-1, 0, 1}
    // (zero-norm vectors score 0.0; few distinct cosines, so ties)
    agree[Long, Array[Double], Double, Double](1, longIds,
      r => pick(r, Seq(-1.0, 0.0, 0.5, 0.99, 1.0)),
      (r, _) => Array.fill(if (r.nextInt(5) == 0) 3 else 2)((r.nextInt(3) - 1).toDouble),
      cosine,
      (minCos, seen, batch, cap) => BucketTwins.vector(seen, batch, minCos, cap))
  }

  test("bucket step == the minhash twin: estimated-Jaccard ties") {
    agree[Long, Seq[Long], Double, (Int, Double)](2, longIds,
      r => (pick(r, Seq(2, 4)), pick(r, Seq(0.0, 0.25, 0.5, 1.0))),
      (r, p) => Seq.fill(p._1)(r.nextInt(3).toLong),
      p => estJaccard(p._1, p._2),
      (p, seen, batch, cap) => BucketTwins.minhash(seen, batch, p._1, p._2, cap))
  }

  // hashes differ in at most 8 bits (a nibble at each end): distances
  // 0..8 against thresholds 0..4, many exact ties
  private def hash(r: Random, p: Int) = r.nextInt(16).toLong | (r.nextInt(16).toLong << 60)

  test("bucket step == the hamming twin: long ids (simhash)") {
    agree[Long, Long, Int, Int](3, longIds, _.nextInt(5), hash, hamming,
      (maxHamming, seen, batch, cap) => BucketTwins.hamming(seen, batch, maxHamming, cap))
  }

  test("bucket step == the hamming twin: String ids (dHash media_ref#frame)") {
    // lexical order differs from frame order ("a#10" < "a#9")
    val ids = (0 until 12).map(i => s"${"ab"(i % 2)}#${i * 7 % 12}")
    agree[String, Long, Int, Int](4, ids, _.nextInt(5), hash, hamming,
      (maxHamming, seen, batch, cap) => BucketTwins.hamming(seen, batch, maxHamming, cap))
  }

  test("cosine and est-Jaccard ties are IEEE: 0.0 ties -0.0, NaN is never a hit") {
    for (nearer <- Seq(cosine(0.0).nearer, estJaccard(4, 0.0).nearer)) {
      assert(nearer.equiv(0.0, -0.0) && nearer.equiv(-0.0, 0.0))
      assert(nearer.lt(1.0, 0.5) && !nearer.lt(0.5, 1.0))
    }
    assert(!cosine(-1.0).near(Double.NaN))
    assert(cosine(-1.0).score(Array(1.0, 0.0), Array(1.0, 0.0, 0.0)).isNaN)
    assert(cosine(-1.0).score(Array(0.0, 0.0), Array(1.0, 0.0)) == 0.0)
  }
}
