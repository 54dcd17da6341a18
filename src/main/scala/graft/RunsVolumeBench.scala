package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analysis.TextOps

/** Volume evidence for the exact-substring pass (q74/q76) — the
  * heaviest per-token operator in the engine (stride-1 shingling is
  * ~one hashed minRun-gram per token). A synthetic corpus of 50-token
  * docs over [[BenchUtil]]'s pseudo-word stream with the two verbatim
  * pathologies a web corpus brings:
  *
  *  - BOILERPLATE: 1% of docs end with the SAME 20-token passage (the
  *    shared disclaimer) — at 1M docs that is one duplicated content
  *    appearing 10,000 times, stressing the hash-frequency aggregate
  *    and the flag semi-join fan-in;
  *  - PLANTS: 10% of docs end with a 20-token verbatim copy of a
  *    DISTINCT donor doc's opening (pairwise duplication at volume) —
  *    both the copy and its donor must come back flagged with exact
  *    boundaries;
  *  - the remaining docs are disjoint stream windows (no runs).
  *
  * Runs `duplicatedRuns` (minRun=10, parquet staging) then
  * `exciseRuns`, and reports walls (steal-stamped like every bench
  * here), run/doc counts, and the token totals before/after excision.
  * Everything is a pure function of the doc id, so reruns must
  * reproduce every count byte-identically.
  *
  * Boundary arithmetic per run class (minRun=10, stride-1 chains
  * merge maximally): a doc whose last 20 tokens (positions 30..49)
  * are duplicated content yields ONE run (30, 20); a donor's copied
  * OPENING (positions 0..19) yields (0, 20); excision removes exactly
  * the flagged token count (asserted). A small, deterministic
  * fraction of boilerplate docs grow a one-token SEAM extension —
  * when two of them draw the same vocab word just before the shared
  * passage, the 10-gram crossing the seam is itself duplicated and
  * the merge correctly extends to (29, 21); the `copy_runs_exact`
  * field counts the unextended majority (measured 10,988/11,000 at
  * 100k docs), which is the operator telling the truth about the
  * corpus, not noise.
  *
  * Usage: graft.RunsVolumeBench [nDocs] [workDir]
  */
object RunsVolumeBench {

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(500000L)
    val workDir = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-runs-vol").toString)
    val spark = BenchUtil.localSession("local[16]", 32,
      "spark.sql.session.timeZone" -> "UTC")
    import spark.implicits._

    // disjoint per-doc windows at (id + 1000) * 50; donors for doc id
    // are the docs id % 10 == 2 refer back to (id - 1, always a plain
    // background doc because plants/boilerplate ids sit on other
    // residues); the boilerplate passage lives at a far offset
    val own30 = BenchUtil.windowText((col("id") + 1000L) * 50, 30)
    val boiler20 = BenchUtil.windowText(lit(20000000000L), 20)
    val donor20 = BenchUtil.windowText((col("id") - 1 + 1000L) * 50, 20)
    val docs: DataFrame = spark.range(nDocs).select(col("id").as("doc_id"),
      when(pmod(col("id"), lit(100)) === 0,
        concat_ws(" ", own30, boiler20))
        .when(pmod(col("id"), lit(10)) === 2,
          concat_ws(" ", own30, donor20))
        .otherwise(BenchUtil.windowText((col("id") + 1000L) * 50)).as("text"))

    def timed[T](f: => T): (T, Double, Double) = BenchUtil.timed(f)

    val runsDir = s"$workDir/runs"
    val ((nRuns, nFlaggedDocs, flaggedTokens), runsSec, runsSteal) = timed {
      val r = TextOps.duplicatedRuns(docs, col("doc_id"), col("text"),
        minRun = 10, staging = Some(runsDir))
      r.write.parquet(s"$workDir/runs_out")
      val out = spark.read.parquet(s"$workDir/runs_out")
      (out.count(),
        out.select(countDistinct(col("doc_id"))).as[Long].head(),
        out.agg(sum(col("len"))).as[Long].head())
    }
    val runsOut = spark.read.parquet(s"$workDir/runs_out")
    // boundary arithmetic per class (see scaladoc): copies at (30,20),
    // donor openings at (0,20); boilerplate docs at (30,20)
    val copyRuns = runsOut
      .filter(pmod(col("doc_id"), lit(10)) === 2 ||
        pmod(col("doc_id"), lit(100)) === 0)
      .filter(col("start") === 30 && col("len") === 20).count()
    val donorRuns = runsOut
      .filter(pmod(col("doc_id"), lit(10)) === 1 &&
        col("start") === 0 && col("len") === 20).count()

    // count the input's tokens OUTSIDE the excision wall — it is a
    // full-corpus scan of its own, not excision work
    val tokensBefore = docs.select(sum(TextOps.tokenCount(col("text"))))
      .as[Long].head()
    val (tokensAfter, excSec, excSteal) = timed {
      TextOps.exciseRuns(docs, col("doc_id"), col("text"), runsOut)
        .select(sum(TextOps.tokenCount(col("text")))).as[Long].head()
    }
    // require, not assert: the bench's headline correctness cross-check
    // must survive -Xelide-below/-Xdisable-assertions builds
    require(tokensBefore - tokensAfter == flaggedTokens,
      s"excision removed ${tokensBefore - tokensAfter} tokens, " +
        s"flagged $flaggedTokens")

    def f(x: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", java.lang.Double.valueOf(x))
    println(
      s"""{"n_docs":$nDocs,"min_run":10,""" +
      s""""runs_sec":${f(runsSec)},"runs_steal_pct":${f(runsSteal)},""" +
      s""""n_runs":$nRuns,"n_flagged_docs":$nFlaggedDocs,""" +
      s""""flagged_tokens":$flaggedTokens,"copy_runs_exact":$copyRuns,""" +
      s""""donor_runs_exact":$donorRuns,""" +
      s""""excise_sec":${f(excSec)},"excise_steal_pct":${f(excSteal)},""" +
      s""""tokens_before":$tokensBefore,"tokens_after":$tokensAfter}""")
    spark.stop()
  }
}
