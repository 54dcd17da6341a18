package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.corpus.Corpus

/** Two-cluster-size scaling evidence (BASELINE.json north_rule): the
  * sandbox has no real cluster, so the N vs 4N executor comparison is
  * run as local[N] vs local[4N] on the SAME input — the pipeline is
  * map-only, so thread-level scaling is the honest stand-in for
  * executor-level scaling (no shuffle traffic to model either way).
  * Writes BENCH.md and prints one JSON line.
  *
  * Run: sbt "runMain graft.ScalingBench" (or spark-submit; ~2 min).
  */
object ScalingBench {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_BENCH_DOCS", "100000").toLong
    // N vs 4N within the host: 4N = every core, N = a quarter of them,
    // so neither size oversubscribes the machine (1 vs 4 on 4 vCPUs)
    val hi = sys.env.get("SPARK_GRAFT_SCALE_HI").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val lo = sys.env.get("SPARK_GRAFT_SCALE_LO").map(_.toInt).getOrElse(math.max(1, hi / 4))
    val trials = sys.env.getOrElse("SPARK_GRAFT_SCALE_TRIALS", "3").toInt

    def run(cpus: Int): Double = {
      val spark = BenchUtil.localSession(s"local[$cpus]", cpus,
        "spark.app.name" -> s"graft-scaling-$cpus")
      try {
        // partition count fixed by the INPUT (same in both sizes) so both
        // runs do identical work in identically-sized tasks. The corpus
        // is regenerated per run (pure map-side CPU, scales linearly) —
        // measured: caching it instead COSTS throughput at high thread
        // counts (BlockManager read contention beat the regeneration).
        val docs = Corpus.generate(spark, n, skew = true, partitions = hi * 4)
        Pipeline.extractRows(docs, "auto").count() // warm JIT
        val times = (1 to trials).map { _ =>
          val t0 = System.nanoTime()
          Pipeline.extractRows(docs, "auto").count()
          (System.nanoTime() - t0) / 1e9
        }
        times.min // best-of-K: filters host-steal noise, standard practice
      } finally spark.stop()
    }

    // interleave the two sizes across rounds and take per-size minima,
    // so a host-steal burst during one window can't skew the ratio
    val rounds = sys.env.getOrElse("SPARK_GRAFT_SCALE_ROUNDS", "2").toInt
    val results = (1 to rounds).map(_ => (run(lo), run(hi)))
    val tLo = results.map(_._1).min
    val tHi = results.map(_._2).min
    val thrLo = n / tLo
    val thrHi = n / tHi
    val eff = (thrHi / thrLo) / (hi.toDouble / lo)
    val json = f"""{"docs":$n,"cpus_lo":$lo,"cpus_hi":$hi,""" +
      f""""sec_lo":$tLo%.2f,"sec_hi":$tHi%.2f,""" +
      f""""docs_per_sec_lo":$thrLo%.0f,"docs_per_sec_hi":$thrHi%.0f,""" +
      f""""scaling_efficiency":$eff%.3f}"""
    println(json)
    // BENCH.md is a curated document; only overwrite it on request
    if (!sys.env.get("SPARK_GRAFT_WRITE_BENCH").contains("1")) return
    val md =
      s"""# BENCH — extraction throughput + scaling (auto cascade, skewed corpus)
         |
         |Same job, same input (${n} docs, seed 42, 1% oversized multi-page
         |docs), measured at two parallelism levels as the sandbox stand-in
         |for N vs 4N executors (BASELINE.md). Pipeline is map-only, so
         |thread scaling == executor scaling modulo scheduler overhead.
         |
         || parallelism | wall sec | docs/sec |
         ||---|---|---|
         || local[$lo] | ${f"$tLo%.2f"} | ${f"$thrLo%.0f"} |
         || local[$hi] | ${f"$tHi%.2f"} | ${f"$thrHi%.0f"} |
         |
         |**Scaling efficiency (${lo}→${hi} cores): ${f"$eff%.3f"}**
         |(target ≥ 0.8 per BASELINE.json north_rule).
         |
         |Raw: `$json`
         |""".stripMargin
    Files.write(Paths.get("BENCH.md"), md.getBytes(StandardCharsets.UTF_8))
  }
}
