package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.corpus.Corpus

/** Output fingerprints and the golden-fixture gate. */
object Checks {

  /** Order-free fingerprint of a set of span rows: (rows, hash sum). */
  final case class Sum(rows: Long, hash: Long)

  private val Mod = 1L << 40
  /** Per-row hash of an exploded span row, folded to 40 bits so that a
    * sum over millions of rows cannot overflow.
    */
  def rowHash: Column =
    pmod(xxhash64(col("doc_id"), col("kind"), col("text"), col("media_ref"),
      col("order")), lit(Mod))

  /** Attaches the fingerprint to `rows` so the pass that writes them
    * also measures them, without a second action.
    */
  def observed(rows: DataFrame, name: String): (DataFrame, Observation) = {
    val obs = Observation(name)
    (rows.observe(obs, count(lit(1)).as("rows"), sum(rowHash).as("hash")), obs)
  }

  def sumOf(obs: Observation): Sum = {
    val m = obs.get
    Sum(m("rows").asInstanceOf[Long], Option(m("hash")).map(_.asInstanceOf[Long]).getOrElse(0L))
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** doc_id -> (rows, hash sum) over span rows. */
  def perDoc(rows: DataFrame): Map[String, (Long, Long)] = {
    import rows.sparkSession.implicits._
    rows.groupBy("doc_id").agg(count(lit(1)), sum(rowHash))
      .as[(String, Long, Long)].collect().map { case (d, n, h) => d -> (n, h) }.toMap
  }

  /** Docs whose spans differ between two per-doc fingerprints. */
  def mismatchedDocs(a: Map[String, (Long, Long)], b: Map[String, (Long, Long)]): Long =
    (a.keySet ++ b.keySet).count(k => a.get(k) != b.get(k)).toLong

  /** Span rows of an `ExtractJob` result table (doc_id, spans). */
  def explodeSpans(results: DataFrame): DataFrame =
    results.select(col("doc_id"), explode_outer(col("spans")).as("s"))
      .select(col("doc_id"), col("s.kind"), col("s.text"), col("s.media_ref"), col("s.order"))

  /** (doc, mode) span sequences of the first 200 corpus docs compared
    * with `fixtures/golden.json`. Returns (matching, total).
    */
  def golden(spark: SparkSession, path: String): (Int, Int) = {
    import spark.implicits._
    type Key = (String, String)
    type SpanSeq = Seq[(Int, String, String, String)]
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val want: Map[Key, SpanSeq] = mapper.readTree(new java.io.File(path)).elements().asScala.map { e =>
      (e.get("doc_id").asText(), e.get("mode").asText()) -> e.get("spans").elements().asScala.map { s =>
        (s.get("order").asInt(), s.get("kind").asText(), s.get("text").asText(), s.get("media_ref").asText())
      }.toSeq.sortBy(_._1)
    }.toMap
    val docs = Corpus.generate(spark, 200)
    val got: Map[Key, SpanSeq] = Pipeline.Modes.map { m =>
      Pipeline.extractRows(docs, m).select(col("doc_id"), lit(m).as("mode"),
        col("order"), col("kind"), col("text"), col("media_ref"))
    }.reduce(_ unionByName _)
      .as[(String, String, Int, String, String, String)].collect().toSeq
      .groupBy(r => (r._1, r._2))
      .map { case (k, rs) => k -> rs.map(r => (r._3, r._4, r._5, r._6)).sortBy(_._1) }
    (want.count { case (k, v) => got.get(k).contains(v) }, want.size)
  }
}
