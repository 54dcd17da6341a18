package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Optimization-round measurement tool (guide §1.4): runs named
  * SparkEntry queries through the noop sink with a per-stage listener,
  * printing each executed stage's wall time, task count and shuffle
  * bytes — the empirical "where does the time go" evidence for
  * OPTIMIZATION_r*.md. Purely additive; Bench.scala is untouched.
  *
  * Usage: runMain graft.BenchExtra <query> [query ...]
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BenchExtra <query> [query ...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = BenchUtil.localSession(s"local[$cpus]", cpus.toInt,
      "spark.sql.session.timeZone" -> "UTC")

    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val si = s.stageInfo
        val wall = (for {
          a <- si.completionTime; b <- si.submissionTime
        } yield a - b).getOrElse(-1L)
        val m = si.taskMetrics
        stages.add(f"  stage ${si.stageId}%3d ${wall}%6d ms " +
          f"tasks=${si.numTasks}%3d shufW=${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.2f MB " +
          f"shufR=${m.shuffleReadMetrics.totalBytesRead / 1e6}%8.2f MB " +
          f"in=${m.inputMetrics.bytesRead / 1e6}%7.2f MB  ${si.name.take(90)}")
      }
    }
    spark.sparkContext.addSparkListener(listener)

    // warmup: absorb session/codegen startup
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()

    args.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      spark.catalog.clearCache()
      // one warm pass (not reported) so codegen compile noise does not
      // swamp the breakdown, then 3 measured passes (best kept — the
      // Bench methodology on this steal-prone host)
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val timings = (1 to 3).map { _ =>
        spark.catalog.clearCache()
        stages.clear()
        spark.sparkContext.setJobDescription(s"benchextra: $name")
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val tPlan = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t1 = System.nanoTime()
        Thread.sleep(400) // drain the listener bus BEFORE snapshotting
        val snap = { val a = new java.util.ArrayList[String](); stages.forEach(s => a.add(s)); a }
        ((t1 - t0) / 1e9, (tPlan - t0) / 1e9, snap)
      }
      // report the BEST trial's wall AND ITS OWN stage breakdown (the
      // previous form printed the last trial's stages under the best
      // trial's wall)
      val best = timings.minBy(_._1)
      println(f"== $name  best ${best._1}%.3f s " +
        f"(build ${best._2}%.3f s), ${best._3.size} stages, " +
        s"all=${timings.map(t => f"${t._1}%.2f").mkString(",")}")
      best._3.forEach(println(_))
      spark.sparkContext.setJobDescription(null)
    }
    spark.stop()
  }
}
