package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{FileSourceScanExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.Corpus
import graft.schema.DocRow

/** The flagship plan (`extractRows`, auto and one explicit level) runs
  * as ONE whole-stage-codegen stage. A `CodegenFallback` expression
  * (an `array_sort` or a lambda HOF) would cut it with a bare
  * projection that generates and compiles its code again on every
  * task; a generated method over HotSpot's 8,000-byte limit would
  * never be JIT-compiled. The output schemas, nullability included,
  * are what ExtractJob's parquet tables and resume read.
  */
class FlagshipPlanSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Generated docs (the stage starts at the corpus' Range), and the
    * same docs read back from parquet, the shape ExtractJob feeds the
    * plan (the stage starts at the scan's columnar-to-row adapter).
    */
  lazy val generated: Dataset[DocRow] = Corpus.generate(spark, 50)
  lazy val docs: Dataset[DocRow] = {
    val dir = tempDir("graft-flagship")
    generated.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).as[DocRow]
  }

  private def plan(in: Dataset[DocRow], mode: String): SparkPlan =
    Pipeline.extractRows(in, mode).queryExecution.executedPlan

  private def assertOneStage(p: SparkPlan): Unit = {
    assert(p.collect { case w: WholeStageCodegenExec => w }.size == 1, p.toString)
    val fallbacks = p.collect { case n => n }.flatMap(_.expressions)
      .flatMap(_.collect { case f: CodegenFallback => f.prettyName })
    assert(fallbacks.isEmpty, fallbacks.distinct.mkString(", "))
  }

  Seq("auto", "light").foreach { mode =>
    test(s"$mode extractRows is one whole-stage-codegen stage with no CodegenFallback") {
      val p = plan(generated, mode)
      assertOneStage(p)
      assert(p.collect { case i: InputAdapter => i }.isEmpty, p.toString)
      // from parquet, the only stage input is the leaf scan itself
      val fromParquet = plan(docs, mode)
      assertOneStage(fromParquet)
      assert(fromParquet.collect { case i: InputAdapter => i.child }
        .forall(_.isInstanceOf[FileSourceScanExec]), fromParquet.toString)
    }

    test(s"$mode extractRows generates no method over 8,000 bytes") {
      Seq(generated, docs).foreach { in =>
        val sizes = codegenStringSeq(plan(in, mode)).map(_._3.maxMethodCodeSize)
        assert(sizes.size == 1 && sizes.max < 8000, sizes)
      }
    }
  }

  test("extract and extractRows keep their output schemas, nullability included") {
    val span = ArrayType(StructType(Seq(StructField("kind", StringType),
      StructField("text", StringType), StructField("media_ref", StringType),
      StructField("order", IntegerType, nullable = false))), containsNull = false)
    Pipeline.Modes.foreach { mode =>
      assert(Pipeline.extract(docs, mode).schema == StructType(Seq(
        StructField("doc_id", StringType), StructField("spans", span, nullable = false))), mode)
      assert(Pipeline.extractRows(docs, mode).schema == StructType(
        Seq("doc_id", "kind", "text", "media_ref", "order").map(n =>
          StructField(n, if (n == "order") IntegerType else StringType))), mode)
    }
  }
}
