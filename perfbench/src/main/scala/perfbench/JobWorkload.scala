package perfbench

import graft.io.ExtractJob

/** The storage layer, run inside the traced `extract_cpu` run:
  * `ExtractJob.run` into a fresh directory (skew-aware extraction,
  * per-bucket parquet write, read-back stats, audit commit), then a
  * resume call that must find nothing left to do. It fills the `io.*`
  * layer metrics and checks the job's results against the map-only path.
  */
object JobWorkload {

  val Docs = 600
  val Buckets = 2

  private final case class PassRec(buckets: Seq[BucketTiming], resumeS: Double, resumed: Int,
      generated: Long, writtenBytes: Long, spans: Map[String, (Long, Long)], stats: Option[SparkStats])

  def traced(ctx: Ctx, rep: Report): Unit = {
    val spark = ctx.spark
    val generated = spark.sparkContext.longAccumulator("docs_generated")
    val n = ctx.size(Docs, 200)
    val docs = Inputs.rangeDocs(spark, ctx.seed, n, ctx.partitions, generated)
    rep.meta("extract_job_docs") = n
    rep.meta("extract_job_buckets") = Buckets

    def pass(name: String, traceParent: Option[Int]): PassRec = {
      val dir = ctx.workDir.resolve(name)
      Measure.deleteTree(dir)
      val io = new TimedIO
      OcrCounters.reset(); generated.reset()
      def job() = Measure.timed(ExtractJob.run(spark, docs, "auto", dir.toString, "bench",
        buckets = Buckets, io = io))
      val (t, stats) = traceParent match {
        case Some(_) =>
          val (r, st) = ctx.stats.within(s"perfbench:extract_job:$name")(job())
          (r, Some(st))
        case None => (job(), None)
      }
      val gen = generated.value
      val resume = Measure.timed(ExtractJob.run(spark, docs, "auto", dir.toString, "bench",
        buckets = Buckets, io = new TimedIO))
      val bytes = Measure.treeBytes(dir)
      val got = Checks.perDoc(Checks.explodeSpans(ExtractJob.readResults(spark, dir.toString)))
      rep.check(resume.result.isEmpty,
        s"$name: resume reprocessed ${resume.result.size} buckets")
      rep.check(t.result.map(_.n_docs).sum == n,
        s"$name: audit counts ${t.result.map(_.n_docs).sum} docs, expected $n")
      traceParent.foreach { parent =>
        val tr = ctx.tracer
        io.timings.foreach { b =>
          val id = tr.record(s"io.bucket${b.bucket}", parent, b.startNs, b.endNs)
          tr.record("io.write", id, b.endNs - ((b.writeS + b.statsS + b.commitS) * 1e9).toLong,
            b.endNs - ((b.statsS + b.commitS) * 1e9).toLong)
          tr.record("io.stats", id, b.endNs - ((b.statsS + b.commitS) * 1e9).toLong,
            b.endNs - (b.commitS * 1e9).toLong)
          tr.record("io.commit", id, b.endNs - (b.commitS * 1e9).toLong, b.endNs)
        }
      }
      Measure.deleteTree(dir)
      PassRec(io.timings, resume.wallS, resume.result.size, gen, bytes, got, stats)
    }

    val warm = BoundaryOcr.using(timePages = false)(rep.attempt("extract_job warm pass")(pass("job_warm", None)))
    val traced = BoundaryOcr.using(timePages = true) {
      Measure.closedLoop(ctx.seconds / 2, minPasses = 1) { i =>
        rep.attempt(s"extract_job traced pass $i") {
          val id = ctx.tracer.open(s"extract_job.pass$i")
          val rec = pass(s"job_traced$i", Some(id))
          ctx.tracer.close(id, rec.stats.map(Trace.statsAttrs).getOrElse(Map.empty))
          rec
        }
      }.flatten
    }
    rep.check(traced.nonEmpty && warm.nonEmpty, "no extract_job pass completed")
    if (traced.isEmpty || warm.isEmpty) return

    // reference: the map-only path over the same docs, default engine
    rep.attempt("extract_job reference pass (map-only path)") {
      BoundaryOcr.plain(Checks.perDoc(graft.Pipeline.extractRows(docs, "auto")))
    }.foreach { r =>
      (warm.toSeq ++ traced).zipWithIndex.foreach { case (p, i) =>
        rep.mismatch(Checks.mismatchedDocs(r, p.spans), s"extract_job pass $i: results vs map-only path")
      }
    }
    val recs = traced
    def med(f: PassRec => Double): Double = Measure.median(recs.map(f))
    val bucketWalls = recs.flatMap(_.buckets.map(_.wallS))
    Layers.put(rep, "io.bucket_p50_s", Measure.median(bucketWalls))
    Layers.put(rep, "io.bucket_max_s", med(_.buckets.map(_.wallS).max))
    Layers.put(rep, "io.write_s", med(_.buckets.map(_.writeS).sum))
    Layers.put(rep, "io.stats_s", med(_.buckets.map(_.statsS).sum))
    Layers.put(rep, "io.commit_s", med(_.buckets.map(_.commitS).sum))
    Layers.put(rep, "io.scan_amplification", recs.head.generated.toDouble / n)
    Layers.put(rep, "io.resume_s", med(_.resumeS))
    Layers.put(rep, "io.resume_buckets", recs.map(_.resumed).max.toDouble)
    Layers.put(rep, "io.written_bytes_per_doc", recs.head.writtenBytes.toDouble / n)
    recs.last.stats.foreach { st =>
      rep.meta("extract_job_spark") = Trace.statsAttrs(st).map { case (k, v) => s"$k=$v" }.toSeq.sorted
    }
  }
}
