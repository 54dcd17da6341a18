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

  /** SQL-path builder: the same one-config gather the DataFrame path
    * builds (`MultiAnalyteGather.one`), so a null input behaves like the
    * reference's `_normalize_text(None) -> ''` (empty candidate array,
    * tsh.py:39-40). Arity is validated here — `args.head` alone would
    * silently drop extras and throw an opaque error on zero args.
    */
  private def build(args: Seq[Expression]): Expression = {
    if (args.length != 1)
      throw new IllegalArgumentException(
        s"tsh_gather_candidates expects exactly 1 argument, got ${args.length}")
    MultiAnalyteGather.one(args.head, AnalyteExtract.Tsh)
  }

  val tshGatherCandidates: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("tsh_gather_candidates"),
    new ExpressionInfo(classOf[MultiAnalyteGather].getName,
      "tsh_gather_candidates"),
    build(_))

  /** Second argument of the sketch functions must be a literal int
    * (it sizes the output array at plan time).
    */
  private def litInt(args: Seq[Expression], fn: String): Int = args(1) match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn: second argument must be an integer literal, got $other")
  }

  private def buildShingles(args: Seq[Expression]): Expression = {
    if (args.length != 2)
      throw new IllegalArgumentException(
        s"shingle_hashes expects (tokens, n), got ${args.length} arguments")
    graft.analysis.ShingleHashes(args.head, litInt(args, "shingle_hashes"))
  }

  private def buildMinhash(args: Seq[Expression]): Expression = {
    if (args.length != 2)
      throw new IllegalArgumentException(
        s"minhash_signature expects (hashes, m), got ${args.length} arguments")
    graft.analysis.MinhashSignature(args.head, litInt(args, "minhash_signature"))
  }

  val shingleHashes: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("shingle_hashes"),
    new ExpressionInfo(classOf[graft.analysis.ShingleHashes].getName,
      "shingle_hashes"),
    buildShingles(_))

  val minhashSignature: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("minhash_signature"),
    new ExpressionInfo(classOf[graft.analysis.MinhashSignature].getName,
      "minhash_signature"),
    buildMinhash(_))

  private def arity(args: Seq[Expression], n: Int, fn: String): Unit =
    if (args.length != n)
      throw new IllegalArgumentException(
        s"$fn expects exactly $n argument(s), got ${args.length}")

  private def litStr(args: Seq[Expression], i: Int, fn: String): String =
    args(i) match {
      case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) => s.toString
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} must be a string literal, got $other")
    }

  private def buildSimhash(args: Seq[Expression]): Expression = {
    arity(args, 1, "simhash64")
    graft.analysis.Simhash64(args.head)
  }

  private def buildCosine(args: Seq[Expression]): Expression = {
    arity(args, 2, "cosine_sim")
    graft.analysis.CosineSim(args.head, args(1))
  }

  private def buildSignBuckets(args: Seq[Expression]): Expression = {
    arity(args, 3, "sign_buckets")
    graft.analysis.SignBuckets(args.head,
      litInt(args, "sign_buckets"), args(2) match {
        case Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"sign_buckets: third argument must be an integer literal, got $other")
      })
  }

  private def buildBandKeys(args: Seq[Expression]): Expression = {
    arity(args, 2, "minhash_band_keys")
    graft.analysis.MinhashBandKeys(args.head, litInt(args, "minhash_band_keys"))
  }

  private def buildAnalyteGather(args: Seq[Expression]): Expression = {
    arity(args, 3, "analyte_gather_candidates")
    MultiAnalyteGather.one(args.head, AnalyteConfig("analyte_gather_candidates",
      litStr(args, 1, "analyte_gather_candidates"),
      litStr(args, 2, "analyte_gather_candidates")))
  }

  /** strip_markup is a COMPOSITION of built-in expressions, not a
    * native one — both surfaces return the SAME catalyst chain
    * (TextOps.stripMarkupExpr), so SQL users inherit its codegen and
    * null propagation (null -> null) unchanged.
    */
  private def buildStripMarkup(args: Seq[Expression]): Expression = {
    arity(args, 1, "strip_markup")
    graft.analysis.TextOps.stripMarkupExpr(args.head)
  }

  /** redact_pii / url_host: compositions sharing the DataFrame path's
    * catalyst chain, same contract as strip_markup.
    */
  private def buildRedactPii(args: Seq[Expression]): Expression = {
    arity(args, 1, "redact_pii")
    graft.analysis.TextOps.redactPiiExpr(args.head)
  }

  private def buildUrlHost(args: Seq[Expression]): Expression = {
    arity(args, 1, "url_host")
    graft.analysis.TextOps.urlHostExpr(args.head)
  }

  /** bounded_top_k(quality, id, k): the capped top-k AGGREGATE — the
    * registry builder returns the bare AggregateFunction; the analyzer
    * wraps it in an AggregateExpression like any built-in agg. k sizes
    * the heap, so it must be a literal.
    */
  private def buildBoundedTopK(args: Seq[Expression]): Expression = {
    arity(args, 3, "bounded_top_k")
    graft.analysis.BoundedTopKAgg(args.head, args(1), args(2) match {
      case Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"bounded_top_k: third argument must be an integer literal, got $other")
    })
  }

  private def buildDHash(args: Seq[Expression]): Expression = {
    arity(args, 1, "dhash64")
    graft.media.DHash64(args.head)
  }

  private def info(cls: Class[_], name: String) =
    new ExpressionInfo(cls.getName, name)

  /** The full fused-expression SQL surface. */
  val all: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    tshGatherCandidates, shingleHashes, minhashSignature,
    (FunctionIdentifier("simhash64"),
      info(classOf[graft.analysis.Simhash64], "simhash64"), buildSimhash(_)),
    (FunctionIdentifier("cosine_sim"),
      info(classOf[graft.analysis.CosineSim], "cosine_sim"), buildCosine(_)),
    (FunctionIdentifier("sign_buckets"),
      info(classOf[graft.analysis.SignBuckets], "sign_buckets"),
      buildSignBuckets(_)),
    (FunctionIdentifier("minhash_band_keys"),
      info(classOf[graft.analysis.MinhashBandKeys], "minhash_band_keys"),
      buildBandKeys(_)),
    (FunctionIdentifier("analyte_gather_candidates"),
      info(classOf[MultiAnalyteGather], "analyte_gather_candidates"),
      buildAnalyteGather(_)),
    (FunctionIdentifier("strip_markup"),
      info(graft.analysis.TextOps.getClass, "strip_markup"),
      buildStripMarkup(_)),
    (FunctionIdentifier("redact_pii"),
      info(graft.analysis.TextOps.getClass, "redact_pii"),
      buildRedactPii(_)),
    (FunctionIdentifier("url_host"),
      info(graft.analysis.TextOps.getClass, "url_host"),
      buildUrlHost(_)),
    (FunctionIdentifier("bounded_top_k"),
      info(classOf[graft.analysis.BoundedTopKAgg], "bounded_top_k"),
      buildBoundedTopK(_)),
    (FunctionIdentifier("dhash64"),
      info(classOf[graft.media.DHash64], "dhash64"), buildDHash(_)))

  /** Imperative registration on an already-built session. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    all.foreach { case (id, _, builder) =>
      reg.createOrReplaceTempFunction(id.funcName, builder, "built-in")
    }
  }
}
