package graft.analysis

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.Bridge.{ADT => AbstractDataType}

/** Fused MinHash signature as a native Catalyst Expression — the
  * performance path for the near-dup pipeline's per-row signature
  * (preference order (b) of SURVEY.md §7.5, same pattern as
  * MultiAnalyteGather): one pass over the shingle hashes computing all
  * `m` permutation minima in a local array, instead of the HOF
  * encoding's m nested `transform`s that allocate an intermediate
  * array per permutation.
  *
  * Semantics are EXACTLY the HOF chain's (the test-scope twin `HofTwins.minhashSignature0`):
  * permutation p's hash of shingle-hash h is Spark's `xxhash64(p, h)`
  * with int32 p and int64 h — seed 42, then each argument folded with
  * the running hash as seed (`XxHash64Function`) — and an empty input
  * yields Long.MaxValue per slot. A cross-validation test pins
  * equality, so band keys built on top are byte-identical either way.
  */
case class MinhashSignature(child: Expression, m: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))


  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  /** Real codegen (not CodegenFallback, which would re-evaluate the
    * whole child subtree interpreted): the child stays inside
    * whole-stage codegen and hands its unboxed value to the compiled
    * core below.
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("minhashSig", this)
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.evalCore($c);"
    })

  // per-permutation seeds hoisted out of the row loop
  @transient private lazy val permSeed: Array[Long] =
    Array.tabulate(m)(p => XXH64.hashInt(p, 42L))

  override def nullSafeEval(input: Any): Any =
    evalCore(input.asInstanceOf[ArrayData])

  /** Shared by interpreted eval and generated code (public for janino). */
  def evalCore(hs: ArrayData): GenericArrayData = {
    val n = hs.numElements()
    val sig = Array.fill(m)(Long.MaxValue)
    var i = 0
    while (i < n) {
      // SQL callers can pass array(1L, NULL): the HOF twin's
      // xxhash64(p, h) SKIPS a null argument, yielding hashInt(p, 42)
      // for that slot — replicate, don't read undefined memory
      val isNull = hs.isNullAt(i)
      val h = if (isNull) 0L else hs.getLong(i)
      var p = 0
      while (p < m) {
        // xxhash64(p: int, h: long) == hashLong(h, hashInt(p, 42))
        val v = if (isNull) permSeed(p) else XXH64.hashLong(h, permSeed(p))
        if (v < sig(p)) sig(p) = v
        p += 1
      }
      i += 1
    }
    new GenericArrayData(sig) // Array[Long] overload — keeps it primitive
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinhashSignature {
  def of(hs: Column, m: Int): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(MinhashSignature(Bridge.expression(hs), m))
  }
}

/** Fused distinct word-n-gram hashing: tokens -> n-gram -> xxhash64 in
  * one pass, skipping the HOF encoding's intermediate shingle STRINGS
  * (`concat_ws` per window) — profiling shows string construction, not
  * hashing, dominates the near-dup pipeline's map side. Hash-compatible
  * with the HOF chain: each window hashes exactly like
  * `xxhash64(concat_ws(" ", slice(toks, i, n)))` (one UTF8String concat
  * per window, hashUnsafeBytes seed 42), and output order is
  * first-occurrence like `array_distinct` — identical hash sets, pinned
  * by a cross-validation test.
  */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  import org.apache.spark.unsafe.types.UTF8String

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))


  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  /** Real codegen (not CodegenFallback, which would re-evaluate the
    * whole child subtree interpreted): the child stays inside
    * whole-stage codegen and hands its unboxed value to the compiled
    * core below.
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("shingleHashes", this)
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.evalCore($c);"
    })

  @transient private lazy val sep = UTF8String.fromString(" ")

  override def nullSafeEval(input: Any): Any =
    evalCore(input.asInstanceOf[ArrayData])

  /** Shared by interpreted eval and generated code (public for janino). */
  def evalCore(toks: ArrayData): GenericArrayData = {
    val len = toks.numElements()
    if (len < n) return new GenericArrayData(Array.emptyLongArray)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val window = new Array[UTF8String](n)
    var i = 0
    while (i <= len - n) {
      var j = 0
      // null elements (possible from SQL callers) are skipped by
      // concatWs — exactly the HOF twin's concat_ws semantics
      while (j < n) {
        window(j) = if (toks.isNullAt(i + j)) null else toks.getUTF8String(i + j)
        j += 1
      }
      val s = UTF8String.concatWs(sep, window: _*)
      seen.add(XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
        s.numBytes, 42L))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashes {
  def of(tokens: Column, n: Int): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(ShingleHashes(Bridge.expression(tokens), n))
  }
}

/** Positional (stride-1, NON-deduplicated) shingle hashes: element p is
  * [[ShingleHashes]]' window hash for the window STARTING at token p —
  * same `xxhash64(concat_ws(" ", window), 42)` formula, without the
  * distinct-set collapse — for consumers that need one hash PER
  * POSITION ([[TextOps.duplicatedRuns]]'s verbatim-run pass). The HOF
  * twin (`transform(sequence(...), i => xxhash64(concat_ws(" ",
  * slice(toks, i+1, n))))`) allocates a slice array + concat per
  * position; this walks one reused window buffer (byte-identical by
  * test). Fewer than `n` tokens -> empty array.
  */
case class PosShingleHashes(child: Expression, n: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  import org.apache.spark.unsafe.types.UTF8String

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "pos_shingle_hashes"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("posShingleHashes", this)
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.evalCore($c);"
    })

  @transient private lazy val sep = UTF8String.fromString(" ")

  override def nullSafeEval(input: Any): Any =
    evalCore(input.asInstanceOf[ArrayData])

  /** Shared by interpreted eval and generated code (public for janino). */
  def evalCore(toks: ArrayData): GenericArrayData = {
    val len = toks.numElements()
    if (len < n) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](len - n + 1)
    val window = new Array[UTF8String](n)
    var i = 0
    while (i <= len - n) {
      var j = 0
      // null elements skipped by concatWs — the concat_ws twin's rule
      while (j < n) {
        window(j) = if (toks.isNullAt(i + j)) null else toks.getUTF8String(i + j)
        j += 1
      }
      val s = UTF8String.concatWs(sep, window: _*)
      out(i) = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
        s.numBytes, 42L)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PosShingleHashes {
  def of(tokens: Column, n: Int): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(PosShingleHashes(Bridge.expression(tokens), n))
  }
}

/** Fused 64-bit SimHash from a token-hash array: one pass maintaining
  * 64 vote counters. The HOF encoding pays a separate `aggregate` per
  * bit — and because each references the token-hash subtree, Catalyst
  * inlines the WHOLE tokenize+hash chain 64 times per row (verified in
  * the optimized plan; it made the simhash-banded join ~20x slower than
  * the hashing itself). Semantics identical to the test-scope HOF
  * form: vote = +1/-1 per bit per hash, bit set iff votes > 0; empty
  * input -> 0L. Cross-validated byte-identical by test.
  */
case class Simhash64(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))


  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  /** Real codegen (not CodegenFallback, which would re-evaluate the
    * whole child subtree interpreted): the child stays inside
    * whole-stage codegen and hands its unboxed value to the compiled
    * core below.
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("simhash64", this)
      s"${ev.value} = $ref.evalCore($c);"
    })

  override def nullSafeEval(input: Any): Any =
    evalCore(input.asInstanceOf[ArrayData])

  /** Shared by interpreted eval and generated code (public for janino). */
  def evalCore(hs: ArrayData): Long = {
    val n = hs.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      // a null element votes -1 on every bit, like the HOF twin (its
      // per-bit `when` over a null hash falls through to otherwise(-1))
      val h = if (hs.isNullAt(i)) 0L else hs.getLong(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Simhash64 {
  def of(hs: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(Simhash64(Bridge.expression(hs)))
  }
}

/** Fused sign-LSH projection matrix: for `tables` tables of `nPlanes`
  * deterministic ±1 hyperplanes, all `tables*nPlanes` projections of
  * `vec` in one pass (array<array<double>>, [table][plane]). Replaces
  * the HOF form's tables*nPlanes separate `aggregate(zip_with(...))`
  * passes (each re-walking the vector through interpreted lambdas);
  * downstream bucket/probe logic is unchanged and operates on this
  * small matrix. Bit-compatible with VectorOps.projections: plane
  * component = +1 iff pmod(xxhash64(int planeId, int dim), 2) == 0 —
  * replicated here via XXH64.hashInt chaining (seed 42) + floorMod.
  * Cross-validated byte-identical by test.
  */
case class SignProjections(child: Expression, nPlanes: Int, tables: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))


  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
  override def prettyName: String = "sign_projections"

  /** Real codegen (not CodegenFallback, which would re-evaluate the
    * whole child subtree interpreted): the child stays inside
    * whole-stage codegen and hands its unboxed value to the compiled
    * core below.
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("signProjections", this)
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.evalCore($c);"
    })

  override def nullSafeEval(input: Any): Any =
    evalCore(input.asInstanceOf[ArrayData])

  /** Shared by interpreted eval and generated code (public for janino). */
  def evalCore(vec: ArrayData): GenericArrayData = {
    val dim = vec.numElements()
    val out = new Array[Any](tables)
    var t = 0
    while (t < tables) {
      val projs = new Array[Double](nPlanes)
      var p = 0
      while (p < nPlanes) {
        val planeSeed = XXH64.hashInt(t * nPlanes + p, 42L)
        var acc = 0.0d
        var d = 0
        while (d < dim) {
          val h = XXH64.hashInt(d, planeSeed)
          val sign = if (java.lang.Math.floorMod(h, 2L) == 0L) 1.0d else -1.0d
          acc += vec.getDouble(d) * sign
          d += 1
        }
        projs(p) = acc
        p += 1
      }
      out(t) = new GenericArrayData(projs)
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SignProjections {
  def of(vec: Column, nPlanes: Int, tables: Int): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(SignProjections(Bridge.expression(vec), nPlanes, tables))
  }
}

/** Fused batch dot products against a BROADCAST centroid matrix:
  * dot(vec, m) for every row m of `mats` in one pass — the IVF
  * centroid-assignment hot loop, replacing one interpreted
  * `aggregate(zip_with(...))` per centroid. Exactly
  * `transform(matsLiteral, m -> dot(vec, m))` for equal-length vectors
  * (the only case the callers produce) — but the matrix rides as a
  * TorrentBroadcast handle, NOT a plan literal: at nCells ~ sqrt(N)
  * sizing (FAISS-style IVF), 1B x 768-dim vectors mean ~32k x 768
  * doubles ≈ 200 MB of centroids, which a `typedlit` would embed in
  * every task's serialized expression tree; the broadcast ships once
  * per executor and the expression is a few bytes on the wire.
  */
case class BroadcastDotProducts(child: Expression,
    mats: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]])
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))


  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "broadcast_dot_products"

  // resolved once per executor JVM from the block manager
  @transient private lazy val m: Array[Array[Double]] = mats.value


  /** Real codegen (not CodegenFallback, which would re-evaluate the
    * whole child subtree interpreted): the child stays inside
    * whole-stage codegen and hands its unboxed value to the compiled
    * core below.
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("bcastDots", this)
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.evalCore($c);"
    })

  override def nullSafeEval(vecAny: Any): Any =
    evalCore(vecAny.asInstanceOf[ArrayData])

  /** Shared by interpreted eval and generated code (public for janino). */
  def evalCore(vec: ArrayData): GenericArrayData = {
    val out = new Array[Double](m.length)
    var i = 0
    while (i < m.length) {
      val row = m(i)
      val dim = math.min(vec.numElements(), row.length)
      var acc = 0.0d
      var d = 0
      while (d < dim) { acc += vec.getDouble(d) * row(d); d += 1 }
      out(i) = acc
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BroadcastDotProducts {
  def of(vec: Column,
      mats: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]]): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(BroadcastDotProducts(Bridge.expression(vec), mats))
  }
}

/** Fused cosine similarity — the exact-rerank hot loop shared by
  * brute-force top-k, LSH/IVF ANN and the cosine dup join. One compiled
  * pass computes dot(a,b), |a|, |b| together; the HOF twin
  * (`HofTwins.cosineHof`) pays three interpreted `aggregate(zip_with)`
  * walks plus an intermediate array per pair.
  *
  * Floating-point AND null semantics replicate the HOF form exactly
  * (cross-validated; the q23 DuckDB oracle and the ANN == brute-force
  * float-equality tests depend on it):
  *  - sums accumulate left-to-right (same IEEE result as `aggregate`);
  *  - any null ELEMENT nulls a norm -> the `when(d > 0, ...)` guard
  *    falls through to 0.0;
  *  - unequal lengths null the zip_with dot -> null when d > 0, else 0.
  */
case class CosineSim(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))


  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val ref = ctx.addReferenceObj("cosineSim", this)
      // freshName: with a non-nullable child the generated snippet is
      // emitted inline (no block scope), so a fixed local name would
      // collide when two CosineSim calls share one generated method
      val res = ctx.freshName("cosRes")
      s"""
         |Object $res = $ref.evalCore($l, $r);
         |if ($res == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ((java.lang.Double) $res).doubleValue();
         |}
       """.stripMargin
    })

  override def nullSafeEval(a: Any, b: Any): Any =
    evalCore(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  /** Shared by interpreted eval and generated code (public for janino). */
  def evalCore(a: ArrayData, b: ArrayData): Any = {
    val n = a.numElements()
    val m = b.numElements()
    var i = 0
    while (i < n) { if (a.isNullAt(i)) return 0.0d; i += 1 }
    i = 0
    while (i < m) { if (b.isNullAt(i)) return 0.0d; i += 1 }
    var na = 0.0d
    i = 0
    while (i < n) { val x = a.getDouble(i); na += x * x; i += 1 }
    var nb = 0.0d
    i = 0
    while (i < m) { val y = b.getDouble(i); nb += y * y; i += 1 }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (n != m) return if (d > 0) null else java.lang.Double.valueOf(0.0d)
    var dot = 0.0d
    i = 0
    while (i < n) { dot += a.getDouble(i) * b.getDouble(i); i += 1 }
    java.lang.Double.valueOf(if (d > 0) dot / d else 0.0d)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  def of(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(CosineSim(Bridge.expression(a), Bridge.expression(b)))
  }
}

/** Fused sign-LSH bucket keys: projections AND sign-bucketing in one
  * pass — the corpus-side map work of annTopK / cosineDupPairs /
  * bucketOccupancy (every corpus vector pays it). Byte-compatible with
  * the staged form (`SignProjections` + the HOF bucketOf): same
  * xxh64-derived ±1 components, bucket bit i set iff projection_i >= 0.
  * The query side keeps the projection matrix (multi-probe needs the
  * margins); cross-validated byte-identical by test.
  */
case class SignBuckets(child: Expression, nPlanes: Int, tables: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  // plan-time guards (the SQL surface bypasses VectorOps.requirePlanes):
  // 1L << p wraps silently at p >= 64, and tables sizes the output
  require(nPlanes >= 1 && nPlanes <= 62,
    s"sign_buckets: nPlanes must be in [1, 62], got $nPlanes")
  require(tables >= 1, s"sign_buckets: tables must be >= 1, got $tables")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))


  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("table", IntegerType, nullable = false),
    StructField("bucket", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "sign_buckets"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("signBuckets", this)
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.evalCore($c);"
    })

  override def nullSafeEval(input: Any): Any =
    evalCore(input.asInstanceOf[ArrayData])

  /** Shared by interpreted eval and generated code (public for janino). */
  def evalCore(vec: ArrayData): GenericArrayData = {
    val dim = vec.numElements()
    val out = new Array[Any](tables)
    // HOF-twin parity: a null element nulls every projection, and the
    // per-bit `when(pr >= 0, ...)` then falls through to otherwise(0L)
    // -> bucket 0 in every table (SQL callers can pass null elements)
    var nd = 0
    while (nd < dim) {
      if (vec.isNullAt(nd)) {
        var t0 = 0
        while (t0 < tables) {
          out(t0) = new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(Array[Any](t0, 0L))
          t0 += 1
        }
        return new GenericArrayData(out)
      }
      nd += 1
    }
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var p = 0
      while (p < nPlanes) {
        val planeSeed = XXH64.hashInt(t * nPlanes + p, 42L)
        var acc = 0.0d
        var d = 0
        while (d < dim) {
          val h = XXH64.hashInt(d, planeSeed)
          val sign = if (java.lang.Math.floorMod(h, 2L) == 0L) 1.0d else -1.0d
          acc += vec.getDouble(d) * sign
          d += 1
        }
        if (acc >= 0) bucket |= (1L << p)
        p += 1
      }
      out(t) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](t, bucket))
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SignBuckets {
  def of(vec: Column, nPlanes: Int, tables: Int): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(SignBuckets(Bridge.expression(vec), nPlanes, tables))
  }
}

/** Fused MinHash LSH band keys: the per-band `concat_ws("_", slice) ->
  * xxhash64` chain as one pass building the identical "_"-joined
  * signed-decimal string per band and hashing its UTF-8 bytes with
  * seed 42 — hash-compatible with the test-scope `HofTwins.lshBandKeys` (and with the
  * Python oracle mirror, which builds the same string). Cross-validated
  * byte-identical by test.
  */
case class MinhashBandKeys(child: Expression, bands: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  import org.apache.spark.unsafe.types.UTF8String

  require(bands >= 1, s"minhash_band_keys: bands must be >= 1, got $bands")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))


  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("band", IntegerType, nullable = false),
    StructField("bucket", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "minhash_band_keys"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("minhashBandKeys", this)
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.evalCore($c);"
    })

  override def nullSafeEval(input: Any): Any =
    evalCore(input.asInstanceOf[ArrayData])

  /** Shared by interpreted eval and generated code (public for janino). */
  def evalCore(sig: ArrayData): GenericArrayData = {
    val m = sig.numElements()
    val rows = m / bands
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      val sb = new java.lang.StringBuilder(rows * 21)
      var k = 0
      var first = true
      while (k < rows) {
        // concat_ws semantics (the HOF twin): null slots are SKIPPED,
        // separator included only between non-null values
        if (!sig.isNullAt(b * rows + k)) {
          if (!first) sb.append('_')
          sb.append(sig.getLong(b * rows + k))
          first = false
        }
        k += 1
      }
      val s = UTF8String.fromString(sb.toString)
      val bucket = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
        s.numBytes, 42L)
      out(b) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](b, bucket))
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinhashBandKeys {
  def of(sig: Column, bands: Int): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(MinhashBandKeys(Bridge.expression(sig), bands))
  }
}
