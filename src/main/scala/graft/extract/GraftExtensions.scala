package graft.extract

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** SQL surface for the engine's native expressions and operator
  * compositions: registers every function in [[GraftFunctions.all]]
  * (the candidate gathers `tsh_gather_candidates` /
  * `analyte_gather_candidates`, the text and vector sketches, the
  * markup/PII/URL compositions, the `bounded_top_k` aggregate and
  * `dhash64`), so pure-SQL users get the same fused cores:
  *
  *   spark.sql("SELECT tsh_gather_candidates(raw_text) FROM docs")
  *
  * Load via `--conf spark.sql.extensions=graft.extract.GraftExtensions`
  * (cluster) or call [[GraftFunctions.register]] on an existing session.
  * No custom Rule/Strategy is needed anywhere in this engine (SURVEY.md
  * §4 conclusion): the planner's built-ins cover every operator; the
  * only extensions are these functions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach(ext.injectFunction)
}

object GraftFunctions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
  import org.apache.spark.sql.types.{IntegerType, StringType}
  import org.apache.spark.unsafe.types.UTF8String

  import graft.analysis._
  import graft.media.DHash64

  /** One SQL call's arguments; `int` / `string` read a plan-time literal
    * (it sizes an output array or heap, or compiles a regex).
    */
  private final class Args(fn: String, exprs: Seq[Expression]) {
    def apply(i: Int): Expression = exprs(i)
    def int(i: Int): Int = literal(i, "an integer") { case Literal(v: Int, IntegerType) => v }
    def string(i: Int): String =
      literal(i, "a string") { case Literal(v: UTF8String, _: StringType) => v.toString }

    private def literal[T](i: Int, kind: String)(read: PartialFunction[Expression, T]): T =
      read.applyOrElse(exprs(i), (other: Expression) => throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} must be $kind literal, got $other"))
  }

  /** (SQL name, implementing class, arity, builder). Every builder returns
    * the same catalyst tree as the DataFrame path: `tsh_gather_candidates`
    * and `analyte_gather_candidates` are the one-config gather
    * (`MultiAnalyteGather.one`, NULL raw -> `[]` like the reference's
    * `_normalize_text(None) -> ''`, tsh.py:39-40); strip_markup,
    * redact_pii and url_host are compositions of built-ins shared with
    * TextOps, so SQL users inherit their codegen and null propagation;
    * `bounded_top_k` returns the bare AggregateFunction, which the
    * analyzer wraps like any built-in aggregate.
    */
  private val table: Seq[(String, Class[_], Int, Args => Expression)] = Seq(
    ("tsh_gather_candidates", classOf[MultiAnalyteGather], 1,
      a => MultiAnalyteGather.one(a(0), AnalyteExtract.Tsh)),
    ("analyte_gather_candidates", classOf[MultiAnalyteGather], 3,
      a => MultiAnalyteGather.one(a(0),
        AnalyteConfig("analyte_gather_candidates", a.string(1), a.string(2)))),
    ("shingle_hashes", classOf[ShingleHashes], 2, a => ShingleHashes(a(0), a.int(1))),
    ("minhash_signature", classOf[MinhashSignature], 2,
      a => MinhashSignature(a(0), a.int(1))),
    ("minhash_band_keys", classOf[MinhashBandKeys], 2, a => MinhashBandKeys(a(0), a.int(1))),
    ("simhash64", classOf[Simhash64], 1, a => Simhash64(a(0))),
    ("cosine_sim", classOf[CosineSim], 2, a => CosineSim(a(0), a(1))),
    ("sign_buckets", classOf[SignBuckets], 3, a => SignBuckets(a(0), a.int(1), a.int(2))),
    ("strip_markup", TextOps.getClass, 1, a => TextOps.stripMarkupExpr(a(0))),
    ("redact_pii", TextOps.getClass, 1, a => TextOps.redactPiiExpr(a(0))),
    ("url_host", TextOps.getClass, 1, a => TextOps.urlHostExpr(a(0))),
    ("bounded_top_k", classOf[BoundedTopKAgg], 3, a => BoundedTopKAgg(a(0), a(1), a.int(2))),
    ("dhash64", classOf[DHash64], 1, a => DHash64(a(0))))

  /** The full fused-expression SQL surface. Arity is checked before the
    * builder runs: `args.head` alone would silently drop extras and
    * throw an opaque error on zero args.
    */
  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    table.map { case (name, cls, arity, build) =>
      (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
        (args: Seq[Expression]) => {
          if (args.length != arity) throw new IllegalArgumentException(
            s"$name expects exactly $arity argument(s), got ${args.length}")
          build(new Args(name, args))
        })
    }

  /** Imperative registration on an already-built session. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    all.foreach { case (id, _, builder) =>
      reg.createOrReplaceTempFunction(id.funcName, builder, "built-in")
    }
  }
}
