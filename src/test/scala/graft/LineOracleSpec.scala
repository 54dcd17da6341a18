package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.extract.{HofTwins, TshExtract}

/** Surgical per-line parity vs the executed reference parser
  * (fixtures/line_oracle.json from fixtures/gen_line_oracle.py): unit
  * variants, range separators, window boundaries (Q10), label word
  * boundaries, Unicode case folding, NBSP, fallback-gate asymmetry
  * (Q6), last-number-before-unit (Q8). Runs the product path and the
  * test-scope HOF gather twin.
  */
case class LineOracle(line: String, ok: Boolean, value: Option[Double],
    unit: Option[String], ref_min: Option[Double], ref_max: Option[Double],
    confidence: Option[String], error: Option[String])

class LineOracleSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  lazy val oracle: Seq[LineOracle] = {
    val df = spark.read.option("multiLine", true).json("fixtures/line_oracle.json")
    df.select(col("line"), col("ok"), col("value"), col("unit"),
      col("ref_min"), col("ref_max"), col("confidence"), col("error"))
      .as[LineOracle].collect().toSeq
  }

  private def runAll(path: String, levelResult: DataFrame => DataFrame): Unit = {
    val in = oracle.map(_.line).toDF("raw")
    val got = levelResult(in)
      .select(col("raw"),
        col("r.ok"), col("r.value"), col("r.unit"),
        col("r.ref_min"), col("r.ref_max"), col("r.confidence"), col("r.error"))
      .as[(String, Boolean, Option[Double], Option[String], Option[Double],
        Option[Double], Option[String], Option[String])]
      .collect().map(r => r._1 -> r).toMap
    oracle.foreach { o =>
      val g = got(o.line)
      val clue = s"line=<${o.line}> path=$path got=$g want=$o"
      assert(g._2 == o.ok, clue)
      assert(g._3 == o.value, clue)
      assert(g._4 == o.unit, clue)
      assert(g._5 == o.ref_min, clue)
      assert(g._6 == o.ref_max, clue)
      assert(g._7 == o.confidence, clue)
      assert(g._8 == (if (o.ok) None else o.error), clue)
    }
  }

  test("fused Expression path matches reference on 55 surgical lines") {
    runAll("fused", Pipeline.withLevelResult(_, "raw", "r"))
  }
  test("HOF expression-chain path matches reference on 55 surgical lines") {
    runAll("hof", in => HofTwins.withGather(in, "raw", "cands")
      .withColumn("best", TshExtract.best(col("cands")))
      .withColumn("r", TshExtract.levelResult(col("raw"), col("best"))))
  }
}
