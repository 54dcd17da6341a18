package graft.streaming

/** The three per-bucket loop bodies the near-dup streams ran before they
  * shared [[StreamingExtract.bucketStep]], kept verbatim as test oracles
  * (pure functions of the stored keepers and one bucket's micro-batch
  * rows): BucketStepSpec compares the shared step with each. Change both
  * or neither.
  */
object BucketTwins {

  /** `vectorNearDupStream`: exact cosine, best hit >= minCos. */
  def vector(seen0: List[(Long, Array[Double])],
      rows: Seq[(Int, Long, Long, Array[Double])], minCos: Double,
      maxPerBucket: Int): (List[(Long, Array[Double])], List[(Long, Long, Double)]) = {
    def cos(a: Array[Double], b: Array[Double]): Double = {
      if (a.length != b.length) return Double.NaN
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
    }
    var seen = seen0
    val out = List.newBuilder[(Long, Long, Double)]
    rows.sortBy(_._3).foreach { case (_, _, id, vec) =>
      if (!seen.exists(_._1 == id)) {
        val best = seen.iterator.map { case (sid, svec) =>
          (sid, cos(vec, svec))
        }.filter(_._2 >= minCos)
          .reduceOption((a, b) =>
            if (b._2 > a._2 || (b._2 == a._2 && b._1 < a._1)) b else a)
        best match {
          case Some((sid, c)) => out += ((id, sid, c))
          case None =>
            if (seen.size < maxPerBucket) seen = seen :+ ((id, vec))
        }
      }
    }
    (seen, out.result())
  }

  /** `hammingDedupState` (simhash and dHash): exact Hamming, best hit
    * <= maxHamming, generic id.
    */
  def hamming[I](seen0: List[(I, Long)], rows: Seq[(Int, Long, I, Long)],
      maxHamming: Int, maxPerBucket: Int)(
      implicit ord: Ordering[I]): (List[(I, Long)], List[(I, I, Int)]) = {
    var seen = seen0
    val out = List.newBuilder[(I, I, Int)]
    rows.sortBy(_._3).foreach { case (_, _, id, h) =>
      if (!seen.exists(_._1 == id)) {
        val best = seen.iterator.map { case (sid, sh) =>
          (sid, java.lang.Long.bitCount(h ^ sh))
        }.filter(_._2 <= maxHamming)
          .reduceOption((a, b) =>
            if (b._2 < a._2 || (b._2 == a._2 && ord.lt(b._1, a._1))) b
            else a)
        best match {
          case Some((sid, d)) => out += ((id, sid, d))
          case None =>
            if (seen.size < maxPerBucket) seen = seen :+ ((id, h))
        }
      }
    }
    (seen, out.result())
  }

  /** `nearDupStream`: MinHash estimated Jaccard, best hit >= minEst. */
  def minhash(seen0: List[(Long, Seq[Long])],
      rows: Seq[(Int, Long, Long, Seq[Long])], m: Int, minEstJaccard: Double,
      maxPerBucket: Int): (List[(Long, Seq[Long])], List[(Long, Long, Double)]) = {
    var seen = seen0
    val out = List.newBuilder[(Long, Long, Double)]
    rows.sortBy(_._3).foreach { case (_, _, id, sig) =>
      if (!seen.exists(_._1 == id)) {
        val best = seen.iterator.map { case (sid, ssig) =>
          val matches = sig.iterator.zip(ssig.iterator)
            .count { case (a, b) => a == b }
          (sid, matches.toDouble / m)
        }.filter(_._2 >= minEstJaccard)
          .reduceOption((a, b) =>
            if (b._2 > a._2 || (b._2 == a._2 && b._1 < a._1)) b else a)
        best match {
          case Some((sid, est)) => out += ((id, sid, est))
          case None =>
            if (seen.size < maxPerBucket) seen = seen :+ ((id, sig))
        }
      }
    }
    (seen, out.result())
  }
}
