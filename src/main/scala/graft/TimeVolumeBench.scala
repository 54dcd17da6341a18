package graft

import org.apache.spark.sql.functions._

/** Volume evidence for the hot-key-proof temporal forms (TimeOps):
  * a synthetic event log where ONE key owns 80% of all events — the
  * pathology the plain window forms concentrate onto a single task —
  * spread over a 30-day range, so the `*Bucketed` forms at 1-day
  * buckets split the whale across ~30 key-bucket partitions.
  *
  * Runs sessionize vs sessionizeBucketed and asofJoin vs
  * asofJoinBucketed on the SAME input, verifies the outputs are
  * identical via full-row checksums (bit_xor of xxhash64 — order-free,
  * overflow-free under ANSI, content-exact on unique rows), and
  * prints ONE JSON line with steal-stamped walls
  * (the BenchUtil convention). Everything is a pure function of
  * (seed, id): two runs must reproduce the checksums exactly.
  *
  * Usage: graft.TimeVolumeBench [nEvents]
  */
object TimeVolumeBench {

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(5000000L)
    val spark = BenchUtil.localSession("local[16]", 32,
      "spark.sql.session.timeZone" -> "UTC")
    import spark.implicits._

    val dayUs = 86400L * 1000000L
    val rangeUs = 30L * dayUs
    // 80% of events land on the whale; the rest spread over 10k keys.
    // Times are hashed over the 30-day range (so every day-bucket of
    // the whale is active); event_id is the deterministic tiebreak.
    val events = spark.range(n).select(
      when(col("id") % 5 =!= 0, lit("whale"))
        .otherwise(concat(lit("k"), pmod(xxhash64(lit(1), col("id")), lit(10000))))
        .as("k"),
      pmod(xxhash64(lit(2), col("id")), lit(rangeUs)).as("t"),
      col("id").as("event_id"))

    // best-of-2 per form: the first evaluation pays JIT/codegen warmup
    // and possible steal; the kept trial is the better-witnessed one
    def timed[T](f: => T): (T, Double, Double) = {
      val a = BenchUtil.timed(f)
      val b = BenchUtil.timed(f)
      if (b._2 < a._2) b else a
    }

    import graft.analysis.TimeOps
    val gap = 30L * 60L * 1000000L

    def sessChecksum(df: org.apache.spark.sql.DataFrame): (Long, Long) =
      df.agg(count(lit(1)),
        bit_xor(xxhash64(col("k"), col("t"), col("event_id"), col("session_no"))))
        .as[(Long, Long)].head()

    val (plainSess, plainSessSec, plainSessSteal) = timed {
      sessChecksum(TimeOps.sessionize(events, col("k"), col("t"),
        col("event_id"), gap))
    }
    val (buckSess, buckSessSec, buckSessSteal) = timed {
      sessChecksum(TimeOps.sessionizeBucketed(events, col("k"), col("t"),
        col("event_id"), gap, bucketWidth = dayUs))
    }

    // as-of: a third of the events are lookups, the rest the history
    // side (pre-aggregated unique per (key, time) for the tiebreak)
    val left = events.filter(col("event_id") % 3 === 0)
    val right = events.filter(col("event_id") % 3 =!= 0)
      .groupBy(col("k"), col("t")).agg(max(col("event_id")).as("rid"))

    def asofChecksum(df: org.apache.spark.sql.DataFrame): (Long, Long) =
      df.agg(count(lit(1)),
        bit_xor(xxhash64(col("event_id"), coalesce(col("asof.rid"), lit(-1L)))))
        .as[(Long, Long)].head()

    val (plainAsof, plainAsofSec, plainAsofSteal) = timed {
      asofChecksum(TimeOps.asofJoin(left, right, "k", "t"))
    }
    val (buckAsof, buckAsofSec, buckAsofSteal) = timed {
      asofChecksum(TimeOps.asofJoinBucketed(left, right, "k", "t",
        bucketWidth = dayUs))
    }

    def f(x: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", java.lang.Double.valueOf(x))
    val json =
      s"""{"n_events":$n,"whale_frac":0.8,"bucket_days":1,""" +
      s""""sessionize_sec":${f(plainSessSec)},"sessionize_steal_pct":${f(plainSessSteal)},""" +
      s""""sessionize_bucketed_sec":${f(buckSessSec)},"sessionize_bucketed_steal_pct":${f(buckSessSteal)},""" +
      s""""sessionize_rows":${plainSess._1},"sessionize_equal":${plainSess == buckSess},""" +
      s""""asof_sec":${f(plainAsofSec)},"asof_steal_pct":${f(plainAsofSteal)},""" +
      s""""asof_bucketed_sec":${f(buckAsofSec)},"asof_bucketed_steal_pct":${f(buckAsofSteal)},""" +
      s""""asof_rows":${plainAsof._1},"asof_equal":${plainAsof == buckAsof}}"""
    println(json)
    spark.stop()
  }
}
