package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.analysis.{Buckets, TextOps}

/** Volume evidence for the dedup/curation stack (the extraction path
  * has its 1M-doc audited job; this is the same artifact for curation):
  * 1M synthetic documents that PASS the hygiene gates, with the two
  * planted pathologies a web corpus brings —
  *
  *  - a 100,000-strong identical-text clone cluster (must collapse in
  *    the exact stage and never reach the LSH join; the hot-bucket
  *    audit over the staged minhash base proves the salt stayed a
  *    backstop), and
  *  - a 1,000-doc DRIFT CHAIN (doc j = a 50-token sliding window at
  *    offset j over one pseudo-word stream, so consecutive docs are
  *    ~0.96-Jaccard near-dups and the chain is one connected component
  *    of graph diameter >> 1 — the shape that exercises dupClusters'
  *    pointer-jumping rounds at volume).
  *
  * Everything is a pure function of the doc id (seed folded into
  * xxhash64), so two runs must reproduce the outcome counts exactly;
  * wall times carry /proc/stat steal shares like every bench here.
  * Runs curate (staging mode, exactClusters) end-to-end, audits the
  * staged base, then dedupCascade + dupClusters stats. Prints ONE JSON
  * line.
  *
  * Usage: graft.CurateVolumeBench [nDocs] [workDir]
  */
object CurateVolumeBench {

  /** The shared pseudo-word stream window ([[BenchUtil.windowText]] —
    * extracted so RunsVolumeBench builds byte-compatible corpora).
    */
  private def windowText(base: Column): Column = BenchUtil.windowText(base)

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(1000000L)
    val workDir = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-curate-vol").toString)
    val nClones = math.min(100000L, nDocs / 10)
    val nChain = math.min(1000L, nDocs / 100)
    val spark = BenchUtil.localSession("local[16]", 32,
      "spark.sql.session.timeZone" -> "UTC")
    import spark.implicits._

    // clone text: constant-foldable (fixed stream offset far from every
    // per-doc offset range); chain offsets 0..nChain+49; background
    // offsets disjoint per doc (id * 50)
    val docs: DataFrame = spark.range(nDocs).select(col("id").as("doc_id"),
      when(col("id") < nClones, windowText(lit(10000000000L)))
        .when(col("id") < nClones + nChain, windowText(col("id") - nClones))
        .otherwise(windowText((col("id") + 1000) * 50)).as("text"))

    def timed[T](f: => T): (T, Double, Double) = BenchUtil.timed(f)

    // ---- curate, staged, cluster-exact drop ------------------------------
    val curateDir = s"$workDir/curate"
    val ((res, nKept, nPairs), curateSec, curateSteal) = timed {
      val r = TextOps.curate(docs, col("doc_id"), col("text"),
        exactClusters = true, staging = Some(curateDir))
      (r, r.kept.count(), r.nearPairs.count())
    }
    val kept = res.kept
    // chain sanity: how many chain docs survived (expect 1 keeper if the
    // chain resolved as one connected component)
    val chainKept = kept.filter(col("doc_id") >= nClones &&
      col("doc_id") < nClones + nChain).count()
    val clonesKept = kept.filter(col("doc_id") < nClones).count()

    // ---- hot-bucket audit: wired into curate's result, reads the
    // STAGED base (no recompute of the minhash chain)
    val hot = res.hotBuckets.collect()
    val maxBucketN = spark.read.parquet(s"$curateDir/minhash_base")
      .groupBy("band", "bucket").count()
      .agg(max("count")).as[Long].head()

    // ---- dedupCascade + cluster stats ------------------------------------
    val cascadeDir = s"$workDir/cascade"
    val ((nCascadePairs, nGroups, maxGroup), cascadeSec, cascadeSteal) = timed {
      val (pairs, groups) = TextOps.dedupCascade(docs, col("doc_id"), col("text"),
        staging = Some(cascadeDir))
      val g = groups.filter(col("n_dups") > 1)
        .agg(count(lit(1)), max(col("n_dups"))).as[(Long, Long)].head()
      // materialize the pair set once; the cluster phase consumes the
      // parquet instead of re-running the banded join
      pairs.write.parquet(s"$workDir/cascade_pairs")
      (spark.read.parquet(s"$workDir/cascade_pairs").count(), g._1, g._2)
    }
    val (clusterStats, clusterSec, clusterSteal) = timed {
      val pairs = spark.read.parquet(s"$workDir/cascade_pairs")
      val clusters = TextOps.dupClusters(pairs,
        staging = Some(s"$workDir/clusters"))
      val byKeeper = clusters.groupBy("cluster_keeper").count()
      (byKeeper.count(), byKeeper.agg(max("count")).as[Long].head())
    }

    // ---- composed corpus release (curate -> decontaminate -> quota ->
    // split) at the same volume: 499 synthetic sources (~2000 docs
    // each at 1M), a 200-doc benchmark sampled from the corpus itself
    // (those docs self-hit and must be decontaminated away; id 17
    // lands in the clone cluster, so the whole cluster's keeper is
    // flagged too), quota at 1500/source (binding: ~1800 of each
    // source's ~2000 docs survive curation), 90/5/5 split.
    // Deterministic like everything above: counts must reproduce.
    val docsS = docs.withColumn("source",
      concat(lit("s"), pmod(xxhash64(col("doc_id")), lit(499))))
    val benchDocs = docs.filter(pmod(col("doc_id"), lit(5000)) === 17)
      .select(col("text"))
    val ((bySplit, nContam, relHot), relSec, relSteal) = timed {
      val r = TextOps.release(docsS, col("doc_id"), col("text"), col("source"),
        benchDocs, col("text"), maxPerSource = 1500,
        staging = Some(s"$workDir/release"))
      (r.shards.groupBy("split").count().as[(String, Long)].collect().toMap,
        r.contaminated.count(), r.hotBuckets.count())
    }

    // ---- incremental snapshot-vs-base dedup: snapshot-2 cost must be
    // O(new docs), not O(corpus). Base = the STAGED minhash base the
    // curate above already wrote (read back, never recomputed — the
    // q72 contract); TWO snapshot sizes (nDocs/40 and nDocs/20) show
    // the wall tracks the snapshot size against a base 20-40x larger.
    // 10% of each snapshot near-dups a distinct base background doc
    // (its 50-token window + one extra token, ~0.9 Jaccard); the rest
    // are fresh windows from an offset range disjoint from every base
    // doc and from each other. Counts are pure functions of the ids
    // (band recall at j~0.9 included), so reruns must reproduce them.
    // fresh offsets start past EVERY base background offset
    // ((id + 1000) * 50 for id < nDocs), so they stay disjoint at any
    // nDocs; the clone stream offset (1e10) is only reachable past
    // ~190M docs, far above what this single-node artifact runs
    require(nDocs + 1000000L < 190000000L,
      s"snapshot offsets would collide with the clone stream at $nDocs docs")
    def snapshot(nNew: Long): DataFrame =
      spark.range(nNew).select((col("id") + 2000000000L).as("doc_id"),
        when(pmod(col("id"), lit(10)) === 0,
          concat(
            windowText((col("id") + nClones + nChain + 1000L) * 50),
            lit(" extradup")))
          .otherwise(windowText((col("id") + nDocs + 1000000L) * 50)).as("text"))
    val incStats = Seq(nDocs / 40, nDocs / 20).map { nNew =>
      val ((nKeep, nCross, nNewPairs), sec, steal) = timed {
        val r = TextOps.dedupAgainstBase(snapshot(nNew), col("doc_id"),
          col("text"), curateDir, staging = Some(s"$workDir/inc_$nNew"))
        (r.keepers.count(), r.crossPairs.count(), r.newPairs.count())
      }
      s""""inc_${nNew}_sec":${f(sec)},"inc_${nNew}_steal_pct":${f(steal)},""" +
        s""""inc_${nNew}_keepers":$nKeep,"inc_${nNew}_cross":$nCross,""" +
        s""""inc_${nNew}_new_pairs":$nNewPairs"""
    }

    val json =
      s"""{"n_docs":$nDocs,"n_clones":$nClones,"n_chain":$nChain,""" +
      s""""curate_sec":${f(curateSec)},"curate_steal_pct":${f(curateSteal)},""" +
      s""""kept":$nKept,"near_pairs":$nPairs,""" +
      s""""clones_kept":$clonesKept,"chain_kept":$chainKept,""" +
      s""""hot_buckets":${hot.length},"max_bucket":$maxBucketN,""" +
      s""""cascade_sec":${f(cascadeSec)},"cascade_steal_pct":${f(cascadeSteal)},""" +
      s""""cascade_pairs":$nCascadePairs,"exact_groups_gt1":$nGroups,""" +
      s""""max_exact_group":$maxGroup,""" +
      s""""cluster_sec":${f(clusterSec)},"cluster_steal_pct":${f(clusterSteal)},""" +
      s""""n_clusters":${clusterStats._1},"max_cluster":${clusterStats._2},""" +
      s""""release_sec":${f(relSec)},"release_steal_pct":${f(relSteal)},""" +
      s""""release_train":${bySplit.getOrElse("train", 0L)},""" +
      s""""release_val":${bySplit.getOrElse("val", 0L)},""" +
      s""""release_test":${bySplit.getOrElse("test", 0L)},""" +
      s""""release_contaminated":$nContam,"release_hot_buckets":$relHot,""" +
      incStats.mkString(",") + "}"
    println(json)
    spark.stop()
  }

  private def f(x: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", java.lang.Double.valueOf(x))
}
