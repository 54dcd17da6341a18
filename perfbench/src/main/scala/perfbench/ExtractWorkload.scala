package perfbench

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col

import graft.Pipeline
import graft.schema.DocRow

/** `extract_cpu`: auto-mode `extractRows` over a skewed corpus with the
  * zero-cost simulated OCR, written to the noop sink. OCR simulation,
  * gather and parse, cascade and assembly do all the work; io and
  * analysis do none. Traced runs add the storage layer ([[JobWorkload]]).
  */
object ExtractWorkload {

  val Docs = 5000
  /** Untimed passes before timing. The JIT compiles this plan for a long
    * time: on a 4-vCPU host pass walls keep falling for the first ~15
    * passes (from ~2.2 s to ~1 s), so a run that times passes any earlier
    * measures how far compilation got. A count, not a time: on a slow host
    * a fixed time would leave the JIT further behind.
    */
  val WarmPasses = 16

  private final case class PassRec(t: Measure.Timing, jitS: Double, sum: Checks.Sum,
      pages: Map[String, Long], generated: Long)

  def run(ctx: Ctx, rep: Report): Unit = {
    val spark = ctx.spark
    val generated = spark.sparkContext.longAccumulator("docs_generated")
    val indices = Inputs.skewedIndices(ctx.seed, ctx.size(Docs, 400))
    val n = indices.length
    val docs = Inputs.docs(spark, indices, ctx.partitions, generated)
    rep.log(s"$n doc indices chosen")
    rep.meta("docs") = n
    rep.meta("doc_index_range") = Seq(indices.min, indices.max)

    def pass(name: String): PassRec = {
      OcrCounters.reset(); generated.reset()
      val (rows, obs) = Checks.observed(Pipeline.extractRows(docs, "auto"), name)
      val j0 = Measure.jitSeconds()
      val t = Measure.timed(Checks.noop(rows))
      val jitS = Measure.jitSeconds() - j0
      PassRec(Measure.Timing(t.wallS, t.cpuS, t.stealFrac), jitS, Checks.sumOf(obs),
        OcrCounters.snapshot()._1, generated.value)
    }

    // ---- warm passes: the first on the product's own engine, unwrapped,
    // whose output every wrapped pass must reproduce
    val warm = rep.attempt("warm pass (unwrapped engine)")(BoundaryOcr.plain(pass("warm")))
    val (warmMore, passes) = BoundaryOcr.using(timePages = false) {
      val w = (1 until math.max(2, (WarmPasses * ctx.scale).toInt)).flatMap { i =>
        rep.attempt(s"warm pass $i")(pass(s"warm$i"))
      }
      rep.setupDone()
      // traced runs need only the minimum of untraced passes
      val loopSeconds = if (ctx.trace) 0.0 else ctx.seconds
      (w, Measure.closedLoop(loopSeconds, minPasses = ctx.minPasses) { i =>
        rep.attempt(s"timed pass $i")(pass(s"pass$i"))
      }.flatten)
    }
    rep.check(passes.nonEmpty && warm.nonEmpty && warmMore.nonEmpty, "no timed pass completed")
    if (passes.isEmpty || warm.isEmpty || warmMore.isEmpty) return
    rep.meta("warm_passes") = 1 + warmMore.size
    rep.meta("pass_jit_s") = passes.map(_.jitS)
    rep.meta("warm_walls_s") = (warm.toSeq ++ warmMore).map(_.t.wallS)
    rep.meta("warm_jit_s") = (warm.toSeq ++ warmMore).map(_.jitS)
    // compute on nproc threads slows with the share of host time stolen
    // during the pass: net of it, runs of different seeds spread ~0.07
    // (IQR / median) both in a quiet hour and with 10-25% steal
    rep.passMetrics(n, passes.map(_.t), Measure.median(passes.map(_.t.ownWallS)),
      Measure.heapAfterGcMb())

    // ---- correctness ------------------------------------------------------
    val want = warm.get.sum
    val bad = (warmMore ++ passes).zipWithIndex.filter(_._1.sum != want).map(_._2)
    if (bad.nonEmpty) rep.attempt("per-doc diff of wrapped vs unwrapped output") {
      val ref = BoundaryOcr.plain(Checks.perDoc(Pipeline.extractRows(docs, "auto")))
      val got = BoundaryOcr.using(timePages = false)(
        Checks.perDoc(Pipeline.extractRows(docs, "auto")))
      rep.mismatch(math.max(1L, Checks.mismatchedDocs(ref, got)),
        s"wrapped passes ${bad.mkString(",")} vs unwrapped engine")
    }
    rep.attempt("golden fixtures") {
      val (ok, total) = BoundaryOcr.plain(Checks.golden(spark, ctx.goldenPath))
      rep.check(total == 800, s"golden fixtures: expected 800 (doc, mode) sequences, read $total")
      rep.mismatch(total - ok, "golden fixtures")
      rep.meta("golden_matched") = s"$ok/$total"
    }
    val genOk = passes.forall(_.generated == n)
    rep.check(genOk, s"docs generated per pass ${passes.map(_.generated).distinct} != $n")

    if (!ctx.trace) return
    // ---- per-layer numbers ------------------------------------------------
    val pages = passes.head.pages
    OcrCounters.Levels.foreach(l => Layers.put(rep, s"media.pages_$l", pages(l).toDouble))
    Layers.put(rep, "media.ocr_calls_per_doc", pages.values.sum.toDouble / n)
    // pages the reference's early exit needs: the iterative encoding
    // runs each level over still-pending docs only (and must produce
    // the same spans)
    rep.attempt("iterative cascade pass") {
      BoundaryOcr.using(timePages = false) {
        OcrCounters.reset()
        val (rows, obs) = Checks.observed(
          Pipeline.extractRows(docs, "auto", iterative = true), "iterative")
        Checks.noop(rows)
        spark.catalog.clearCache()
        if (Checks.sumOf(obs) != want) rep.mismatch(1, "iterative cascade vs columnar")
        Layers.put(rep, "media.useful_ratio",
          OcrCounters.snapshot()._1.values.sum.toDouble / pages.values.sum)
      }
    }
    Layers.put(rep, "corpus.docs_generated", passes.head.generated.toDouble)
    traced(ctx, rep, docs, indices)
    JobWorkload.traced(ctx, rep)
  }

  /** Prefix differencing along scan -> ocrAll -> light level ->
    * results(auto) -> extract -> extractRows: each prefix runs to the
    * noop sink on its own; a layer's self time is its prefix's median
    * wall minus the previous prefix's.
    */
  private def traced(ctx: Ctx, rep: Report, docs: Dataset[DocRow],
      indices: Array[Long]): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    def prefixes(d: Dataset[DocRow]): Seq[(String, () => DataFrame)] = {
      val ocrCols = Seq("doc_id", "first_media_ref", "light_raw", "premium_raw", "optimum_raw")
      def ocr = Pipeline.ocrAll(d).toDF().select(ocrCols.map(col): _*)
      Seq(
        "corpus.scan" -> (() => d.toDF()),
        "media.ocr" -> (() => ocr),
        "extract.gather" -> (() => Pipeline.withLevelResult(ocr, "light_raw", "r_l")
          .select("doc_id", "first_media_ref", "r_l", "premium_raw", "optimum_raw")),
        "extract.cascade" -> (() => Pipeline.results(d, "auto")),
        "extract.assemble" -> (() => Pipeline.extract(d, "auto")),
        "extract.explode" -> (() => Checks.observed(Pipeline.extractRows(d, "auto"), "traced")._1))
    }
    val small = Inputs.docs(spark, indices.take(400), ctx.partitions,
      spark.sparkContext.longAccumulator("warm"))

    // compile every prefix plan once, untimed, on a small slice
    BoundaryOcr.using(timePages = true) {
      (prefixes(small) :+ ("light" -> (() => Pipeline.extractRows(small, "light"))))
        .foreach { case (_, df) => Checks.noop(df()) }
    }
    val (head, full) = prefixes(docs).splitAt(5)
    // an untraced full pass right before the traced one: the JIT is
    // still warming, so the overhead compares neighbouring passes
    val untraced = "extract.untraced" -> (() => Pipeline.extractRows(docs, "auto"))
    val light = "extract.light_only" -> (() => Pipeline.extractRows(docs, "light"))
    val end = System.nanoTime() + (ctx.seconds * 1e9).toLong
    val rounds = scala.collection.mutable.ArrayBuffer.empty[Map[String, (Double, Double, SparkStats, Double)]]
    var r = 0
    while (r < 2 || (System.nanoTime() < end && r < 5)) {
      val roundId = t.open(s"round$r")
      val walls = (head ++ (untraced +: full) :+ light).map { case (name, df) =>
        val traced = name != untraced._1
        BoundaryOcr.using(timePages = traced) {
          OcrCounters.reset()
          val gc0 = Measure.gcSeconds()
          val (w, st) =
            if (traced) t.span(name, roundId) {
              ctx.stats.within(s"perfbench:$name:r$r")(Measure.timed(Checks.noop(df())).wallS)
            }(x => Trace.statsAttrs(x._2))
            else (Measure.timed(Checks.noop(df())).wallS, SparkStats(0, 0, 0, 0, 0, 0, Nil))
          name -> (w, OcrCounters.snapshot()._2, st, Measure.gcSeconds() - gc0)
        }
      }.toMap
      t.close(roundId)
      rounds += walls
      r += 1
    }
    def med(name: String): Double = Measure.median(rounds.map(_(name)._1).toSeq)
    val chain = Seq("corpus.scan", "media.ocr", "extract.gather", "extract.cascade",
      "extract.assemble", "extract.explode")
    chain.zip(0.0 +: chain.map(med)).foreach { case (name, prev) =>
      Layers.put(rep, if (name == "corpus.scan") "corpus.scan_s" else s"${name}_s", med(name) - prev)
    }
    val explode = rounds.map(_("extract.explode"))
    Layers.put(rep, "media.page_s", Measure.median(explode.map(_._2).toSeq))
    Layers.put(rep, "extract.auto_over_light", med("extract.explode") / med("extract.light_only"))
    Layers.putSpark(rep, explode.last._3, Measure.median(explode.map(_._4).toSeq))
    Layers.put(rep, "trace.overhead_frac", med("extract.explode") / med("extract.untraced") - 1)
    rep.meta("traced_rounds") = rounds.size
    rep.attempt("levelMix") {
      val mix = BoundaryOcr.plain(Pipeline.levelMix(docs).collect())
        .map(row => row.getString(0) -> row.getLong(1)).toMap
      Seq("light", "premium", "optimum", "failed").foreach { l =>
        Layers.put(rep, s"extract.resolved_$l", mix.getOrElse(l, 0L).toDouble)
      }
      rep.check(mix.values.sum == indices.length, s"levelMix covers ${mix.values.sum} docs")
    }
  }
}
