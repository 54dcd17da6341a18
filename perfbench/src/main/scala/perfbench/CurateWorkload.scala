package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.analysis.TextOps

/** `curate_release`: a timed pass is one staged `release` (which runs
  * `curate` inside it, then decontamination, quota and split) over a text
  * corpus with a planted 10% clone cluster and a drift chain. Traced runs
  * add, outside the timed pass, `dedupAgainstBase` of a later snapshot
  * against the minhash base release staged, and a standalone `curate`: a
  * release alone is already about 40 Spark jobs, whose overhead, not the
  * data, sets the wall. Two timed passes per run: a steal burst on one
  * of them moves the median less.
  */
object CurateWorkload {

  val Docs = 1000

  private final case class PassRec(t: Measure.Timing, heapMb: Double, counts: Map[String, Long],
      callS: Map[String, Double], stagedBytes: Long, stats: Seq[SparkStats], gcS: Double)

  def run(ctx: Ctx, rep: Report): Unit = {
    val spark = ctx.spark
    val n = ctx.size(Docs, 1000)
    val tc = Inputs.textCorpus(ctx.seed, n)
    val docs = tc.docs(spark, ctx.partitions)
    val bench = tc.benchmark(docs)
    val snapshot = tc.snapshot(spark, ctx.partitions)
    rep.meta("docs") = n
    rep.meta("clones") = tc.clones
    rep.meta("chain") = tc.chain
    rep.meta("snapshot_docs") = tc.snapshotSize
    val id = col("doc_id")
    val isClone = id < tc.clones
    val inChain = id >= tc.clones && id < tc.clones + tc.chain

    /** Writes `df` to the noop sink, counting rows (and rows matching `extra`). */
    def drain(df: DataFrame, name: String, extra: (String, Column)*): Map[String, Long] = {
      val obs = Observation(name)
      val exprs = count(lit(1)).as(name) +:
        extra.map { case (k, c) => sum(when(c, 1L).otherwise(0L)).as(k) }
      Checks.noop(df.observe(obs, exprs.head, exprs.tail: _*))
      obs.get.map { case (k, v) => k -> Option(v).map(_.asInstanceOf[Long]).getOrElse(0L) }
    }

    def pass(name: String, traceParent: Option[Int]): PassRec = {
      val dir = ctx.workDir.resolve(name)
      Measure.deleteTree(dir)
      val stats = Seq.newBuilder[SparkStats]
      val callS = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      def call[T](layer: String)(f: => T): T = {
        val t0 = System.nanoTime()
        val r = traceParent match {
          case Some(p) =>
            val (r, st) = ctx.tracer.span(layer, p)(
              ctx.stats.within(s"perfbench:$layer:$name")(f))(x => Trace.statsAttrs(x._2))
            stats += st
            r
          case None => f
        }
        callS(layer) = (System.nanoTime() - t0) / 1e9
        r
      }
      val gc0 = Measure.gcSeconds()
      val t = Measure.timed {
        val rel = call("analysis.release") {
          val r = TextOps.release(docs, id, col("text"), col("source"),
            bench, col("text"), maxPerSource = tc.maxPerSource,
            staging = Some(dir.resolve("release").toString))
          drain(r.shards, "released", "released_clones" -> isClone,
            "released_chain" -> inChain, "released_train" -> (col("split") === "train")) ++
            drain(r.contaminated, "contaminated") ++ drain(r.nearPairs, "near_pairs") ++
            drain(r.hotBuckets, "hot_buckets")
        }
        rel
      }
      val gcS = Measure.gcSeconds() - gc0
      val bytes = Measure.treeBytes(dir)
      // traced runs only, outside the timed pass: the incremental step
      // against the base release staged, and a standalone curate
      val extra = traceParent.map { _ =>
        call("analysis.incremental") {
          val r = TextOps.dedupAgainstBase(snapshot, id, col("text"),
            dir.resolve("release").toString, staging = Some(dir.resolve("inc").toString))
          drain(r.keepers, "inc_keepers") ++ drain(r.crossPairs, "inc_cross_pairs")
        } ++ call("analysis.curate") {
          val r = TextOps.curate(docs.select("doc_id", "text"), id, col("text"),
            staging = Some(dir.resolve("curate").toString))
          drain(r.kept, "kept", "kept_clones" -> isClone, "kept_chain" -> inChain)
        }
      }.getOrElse(Map.empty)
      Measure.deleteTree(dir)
      val heap = Measure.heapAfterGcMb()
      // three probes per pass: a pass lasts ~10 s, so the run has few
      val probes = Seq.fill(3)(Measure.sparkProbe(spark))
      PassRec(Measure.Timing(t.wallS, t.cpuS, t.stealFrac, probes), heap, t.result ++ extra,
        callS.toMap, bytes, stats.result(), gcS)
    }

    // traced runs need only the minimum of untraced passes
    val loopSeconds = if (ctx.trace) 0.0 else ctx.seconds
    val warm = rep.attempt("warm pass")(pass("warm", None))
    val first = Measure.firstProbes(spark)
    rep.setupDone()
    val passes = Measure.closedLoop(loopSeconds, minPasses = math.min(ctx.minPasses, 2)) { i =>
      rep.attempt(s"timed pass $i")(pass(s"pass$i", None))
    }.flatten
    rep.check(passes.nonEmpty && warm.nonEmpty, "no timed pass completed")
    if (passes.isEmpty || warm.isEmpty) return
    val walls = passes.map(_.t.wallS)
    rep.passMetrics(n, passes.map(_.t), Measure.probeScaledWallS(first, passes.map(_.t)),
      passes.map(_.heapMb).max)

    // ---- correctness: counts repeat exactly, and hold what the planted
    // layout implies whatever the seed
    val ref = warm.get.counts
    rep.meta("counts") = ref.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }
    passes.zipWithIndex.foreach { case (p, i) =>
      ref.foreach { case (k, v) => rep.mismatch(p.counts.getOrElse(k, -1L) - v, s"pass $i: $k repeats") }
    }
    rep.check(ref("released") > 0 && ref("released") <= n, s"released ${ref("released")} of $n")
    rep.check(ref("released_clones") <= 1, s"clone cluster released ${ref("released_clones")} docs")
    rep.check(ref("near_pairs") >= 1, "drift chain produced no near pair")
    rep.check(ref("contaminated") >= tc.benchmarkBackground,
      s"contaminated ${ref("contaminated")} < ${tc.benchmarkBackground} self-hits")
    if (!ctx.trace) return

    // ---- traced passes ----------------------------------------------------
    val traced = Measure.closedLoop(ctx.seconds, minPasses = 1) { i =>
      rep.attempt(s"traced pass $i") {
        val pid = ctx.tracer.open(s"curate_release.pass$i")
        val p = pass(s"traced$i", Some(pid))
        ctx.tracer.close(pid)
        p
      }
    }.flatten
    // one more untraced pass: the overhead compares the traced passes
    // with their untraced neighbours, as the JIT is still warming
    val after = rep.attempt("untraced pass after")(pass("after", None))
    if (traced.isEmpty || after.isEmpty) return
    def med(f: PassRec => Double): Double = Measure.median(traced.map(f))
    val t0 = traced.head.counts
    (traced ++ after).foreach(p => ref.foreach { case (k, v) =>
      rep.mismatch(p.counts.getOrElse(k, -1L) - v, s"traced pass: $k repeats") })
    rep.check(t0("inc_keepers") >= tc.snapshotSize * 9 / 10 && t0("inc_keepers") < tc.snapshotSize,
      s"incremental keepers ${t0("inc_keepers")} of ${tc.snapshotSize}")
    traced.foreach(p => Seq("inc_keepers", "inc_cross_pairs", "kept", "kept_clones", "kept_chain")
      .foreach(k => rep.mismatch(p.counts(k) - t0(k), s"traced pass: $k repeats")))
    rep.check(t0("kept_clones") == 1, s"curate kept ${t0("kept_clones")} clone docs, expected 1")
    rep.check(t0("kept_chain") >= 1, "curate kept no drift-chain doc")
    rep.check(t0("kept") - t0("kept_clones") - t0("kept_chain") == tc.background,
      s"curate kept ${t0("kept") - t0("kept_clones") - t0("kept_chain")} of ${tc.background} background docs")
    Seq("curate", "release", "incremental").foreach { c =>
      Layers.put(rep, s"analysis.${c}_s", med(_.callS(s"analysis.$c")))
    }
    Layers.put(rep, "analysis.staged_bytes", traced.head.stagedBytes.toDouble)
    Layers.put(rep, "io.written_bytes_per_doc", traced.head.stagedBytes.toDouble / n)
    Seq("kept", "near_pairs", "contaminated", "hot_buckets").foreach { k =>
      Layers.put(rep, s"analysis.$k", t0(k).toDouble)
    }
    // Spark work of the timed part of the pass: the release call
    Layers.putSpark(rep, traced.last.stats.head, med(_.gcS))
    Layers.put(rep, "trace.overhead_frac", med(_.t.wallS) / ((walls.last + after.get.t.wallS) / 2) - 1)
    rep.attempt("corpus scan") {
      Layers.put(rep, "corpus.scan_s", ctx.tracer.span("corpus.scan") {
        Measure.timed(Checks.noop(docs)).wallS
      }())
    }
  }
}
