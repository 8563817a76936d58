package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions (SURVEY.md §4 "custom Catalyst work" /
  * §7.3 stretch): per-row kernels written as codegen'd expressions
  * instead of composed built-ins, so they stay inside whole-stage
  * codegen without interpreted HOF lambdas. Spark already fuses its
  * built-in expressions, so each one here stays only for a measured win
  * over its built-in form, for having no built-in equivalent, or for a
  * semantic role ([[EvalBarrier]]); CHANGES.md records which, with the
  * registry queries that reach it. The monitors convert MJD with
  * graft.core.TimeFns' built-in compositions.
  *
  * Each native holds its algorithm once, in a public kernel (`compute`
  * for most): `eval` calls it, and `doGenCode` emits one call to it
  * through a reference object, so interpreted and generated code run
  * the same code. A reference-object call, not CodegenFallback, keeps
  * the surrounding projection inside the fused stage (fallback switches
  * the whole projection to the interpreted row path; PERF.md round-1
  * fix 4).
  */

/** Generated code for a kernel that can return null: one call, and a
  * null result when the call returns null. `unbox` reads a primitive
  * result out of its box (e.g. `.doubleValue()`). */
private object KernelCall {
  def orNull(ctx: CodegenContext, ev: ExprCode, javaType: String,
             call: String, unbox: String = ""): String = {
    val r = ctx.freshName("r")
    s"""
       |$javaType $r = $call;
       |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r$unbox; }
     """.stripMargin
  }
}

/** Cosine similarity of two numeric arrays in ONE pass: dot product and
  * both norms accumulate in a single loop ([[compute]]), vs three separate
  * array traversals (plus zip_with allocation) for the HOF composition
  * `dot(a,b)/(norm(a)*norm(b))`. A zero norm (empty arrays included) →
  * 0.0 (matching graft.ops.Similarity.cosine's guard); a null array →
  * null. Unequal-length arrays → null,
  * matching the HOF reference (zip_with pads with nulls, which propagate
  * through the aggregate) — pinned by NativeExprSpec. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"
  override def nullable: Boolean = true

  def compute(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0d; var nx = 0.0d; var ny = 0.0d
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0d) 0.0d else dot / denom
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cosine", this,
      "org.apache.spark.sql.graft.CosineSimilarity")
    nullSafeCodeGen(ctx, ev, (a, b) => KernelCall.orNull(ctx, ev,
      "java.lang.Double", s"$ref.compute($a, $b)", ".doubleValue()"))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Bridge for code outside the spark.sql package tree: Column <-> native
  * Expression conversions (these constructors are private[sql] in
  * Spark 4). */
object NativeBridge {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.classic.ExpressionUtils

  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Dot product of two double arrays in one loop (the HOF form
  * `aggregate(zip_with(a, b, _*_), 0d, _+_)` allocates the zipped array
  * and evaluates interpreted lambdas per element). Null/length rules
  * match [[CosineSimilarity]]: null input → null, unequal lengths →
  * null (zip_with's null-padding propagates in the HOF reference). */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"
  override def nullable: Boolean = true

  def compute(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0d
    var i = 0
    while (i < n) { dot += x.getDouble(i) * y.getDouble(i); i += 1 }
    dot
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dot", this,
      "org.apache.spark.sql.graft.DotProduct")
    nullSafeCodeGen(ctx, ev, (a, b) => KernelCall.orNull(ctx, ev,
      "java.lang.Double", s"$ref.compute($a, $b)", ".doubleValue()"))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Shared md5-component kernel of [[MdMinHashSignature]]: the 60-bit
  * prefix of md5(s"$j " + shingle), numerically identical to the SQL
  * form `conv(substring(md5(concat('j ', s)), 1, 15), 16, 10)` — the
  * first 15 hex digits of the digest read as one base-16 number are
  * exactly the digest's first 60 bits, i.e. bytes 0–7 big-endian
  * shifted right by the low nibble. */
object MdMinHash {
  private val mdTl = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** The thread-local digest, for sibling md5-family kernels
    * ([[MdBandKeys]]) — callers must reset() before use. */
  def digester(): java.security.MessageDigest = mdTl.get()

  /** 60-bit md5 prefix of raw bytes — the numeric value of the first
    * 15 hex digits of the digest, i.e. `conv(substring(md5(x), 1, 15),
    * 16, 10)` without the hex-string round trip. */
  def hash60(bytes: Array[Byte]): Long = {
    val md = mdTl.get()
    md.reset()
    md.update(bytes)
    val d = md.digest()
    val be =
      ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
        ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
        ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    be >>> 4
  }
  // "0 ", "1 ", … prefixes pre-encoded once; j beyond the cache (no
  // caller uses numHashes > 64) falls back to a per-call encode
  private val prefixCache: Array[Array[Byte]] =
    Array.tabulate(64)(j => (j.toString + " ")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  private def prefix(j: Int): Array[Byte] =
    if (j < 64) prefixCache(j)
    else (j.toString + " ").getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** One token's hash-derived integer weight (the classifierMarginInt
    * kernel): slot = hash60(tok) mod buckets, then
    * hash60("w" + slot) mod 2001 − 1000 ∈ [−1000, 1000]. */
  def derivedWeight(tokBytes: Array[Byte], buckets: Int): Long = {
    val slot = hash60(tokBytes) % buckets
    val key = ("w" + slot).getBytes(java.nio.charset.StandardCharsets.UTF_8)
    hash60(key) % 2001L - 1000L
  }

  /** All k-token window hashes of a token array in one pass — the
    * [[SpanHashes60]] kernel. Window p (1-based) hashes the
    * single-space join of tokens [p-1, p+k-2], null tokens skipped
    * exactly as concat_ws skips them (no doubled separator). The
    * window bytes stream straight into the digest — no joined string
    * is ever materialized. */
  def spanHashes(arr: org.apache.spark.sql.catalyst.util.ArrayData,
                 k: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = arr.numElements()
    val m = n - k + 1
    if (m <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    val toks = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) toks(i) = arr.getUTF8String(i).getBytes
      i += 1
    }
    val md = mdTl.get()
    val out = new Array[Any](m)
    var p = 0
    while (p < m) {
      md.reset()
      var first = true
      var j = p
      val end = p + k
      while (j < end) {
        val t = toks(j)
        if (t != null) {
          if (!first) md.update(' '.toByte)
          md.update(t)
          first = false
        }
        j += 1
      }
      val d = md.digest()
      val be =
        ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
          ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
          ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
          ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
      out(p) = org.apache.spark.sql.catalyst.InternalRow(p + 1, be >>> 4)
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Fold one shingle into the running signature: for every component
    * j, sig(j) = min(sig(j), 60-bit md5 prefix of (j + " " + s)). */
  def fold(sig: Array[Long], numHashes: Int,
           s: org.apache.spark.unsafe.types.UTF8String): Unit = {
    val md = mdTl.get()
    val sb = s.getBytes
    var j = 0
    while (j < numHashes) {
      md.reset()
      md.update(prefix(j))
      md.update(sb)
      val d = md.digest()
      val be =
        ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
          ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
          ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
          ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
      val v = be >>> 4
      if (v < sig(j)) sig(j) = v
      j += 1
    }
  }
}

/** The PORTABLE (md5-family) minhash signature as ONE fused per-row
  * loop — semantics identical to `numHashes` stacked
  * `aggregate(sh, MaxValue, least(acc, conv(substring(md5(concat(
  * j+" ", sgl)), 1, 15), 16, 10)))` HOF columns (the Curation.mdComp
  * family the DuckDB oracle replays), but each HOF runs its lambda
  * INTERPRETED per element and re-traverses the array per component —
  * 16 interpreted array walks with conv-over-hex-string boxing per
  * step. Here: one traversal, md5 bytes → 60-bit prefix with no hex
  * string round-trip, still inside whole-stage codegen. Null elements
  * are skipped (least() ignores nulls); an empty array yields
  * Long.MaxValue per component (the HOF's init), matching the
  * aggregate form exactly — pinned against the HOF in NativeExprSpec
  * and end-to-end by the oracled md5-LSH queries. */
case class MdMinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "md_minhash_signature"

  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) MdMinHash.fold(sig, numHashes, arr.getUTF8String(i))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sig)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("mdminhash", this,
      "org.apache.spark.sql.graft.MdMinHashSignature")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): MdMinHashSignature =
    copy(child = newChild)
}

/** Positional k-token span hashes as ONE fused per-row loop —
  * semantics identical to the HOF form
  * `transform(sequence(1, n-k+1), i => struct(i, portableHash(
  * concat_ws(" ", slice(toks, i, k)))))` with the n < k empty-array
  * guard (graft.ops.Text.spanHashes): one (pos, 60-bit-md5) struct per
  * window. The HOF ran its lambda interpreted per window and
  * materialized every joined window string; here window bytes stream
  * straight into the digest. Besides the per-window cost, this deletes
  * the suffix ladder's level-0 positions⋈tokens join outright — the
  * explode-then-join-back shape existed only because in-row HOF
  * hashing was interpreted (the r17 measurement); a native loop beats
  * both. Agreement pinned in NativeExprSpec; the ladder and span
  * queries stay oracled (values identical). */
case class SpanHashes60(child: Expression, k: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(k >= 1, s"k must be >= 1, got $k")

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("pos", IntegerType, nullable = false),
      StructField("h", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "span_hashes60"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, arr =>
      s"org.apache.spark.sql.graft.MdMinHash.spanHashes($arr, $k)")

  override protected def nullSafeEval(input: Any): Any =
    MdMinHash.spanHashes(input.asInstanceOf[ArrayData], k)

  override protected def withNewChildInternal(newChild: Expression): SpanHashes60 =
    copy(child = newChild)
}

/** The engine-wide portable hash as ONE native step: the 60-bit md5
  * prefix of a string — numerically identical to
  * `conv(substring(md5(s), 1, 15), 16, 10) :: long`
  * (graft.ops.Text.portableHash's composed form), but without
  * materializing the 32-char hex string and re-parsing 15 digits of it
  * per row. Null in → null out (md5/conv propagate null the same
  * way). Pinned against the composed form in NativeExprSpec; every
  * portableHash-derived query stays oracled because the VALUES are
  * bit-identical. */
case class Md5Prefix60(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_prefix60"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s =>
      s"org.apache.spark.sql.graft.MdMinHash.hash60($s.getBytes())")

  override protected def nullSafeEval(input: Any): Any =
    MdMinHash.hash60(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes)

  override protected def withNewChildInternal(newChild: Expression): Md5Prefix60 =
    copy(child = newChild)
}

/** Hashed-bag-of-words linear margin in ONE fused loop — semantics
  * identical to the HOF form
  * `aggregate(toks, 0.0, (acc, t) => acc + w[(pmod(portableHash(t), B)
  * + 1)])` (graft.ops.Curation.classifierScore's inner aggregate):
  * left-to-right double accumulation over the token array, one md5 per
  * token, weight lookup by 60-bit-hash mod B. The HOF runs its lambda
  * interpreted per token with a hex-conv per hash; this stays inside
  * whole-stage codegen. Null tokens contribute null (poisoning the sum
  * exactly like the HOF's `acc + null`); a null array yields null. */
case class MdBucketMargin(child: Expression, weights: Seq[Double],
                          skipEmpty: Boolean = false)
    extends UnaryExpression with ImplicitCastInputTypes {
  // advisor r18: misuse fails at plan construction, not with a per-row
  // ArithmeticException inside executor codegen
  require(weights.nonEmpty, "weights must be non-empty")

  // advisor r18 equivalence caveat: with skipEmpty=true the documented
  // HOF twin is `aggregate(filter(toks, t =!= ""), ...)`, whose filter
  // silently DROPS null tokens while this expression nulls the sum —
  // the claimed identity holds for NULL-FREE arrays only (split()
  // never emits nulls, so every call site qualifies; the skipEmpty
  // NativeExprSpec pin uses null-free fixtures deliberately).
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType))
  override def dataType: DataType = DoubleType
  // nullable regardless of the child: a null ELEMENT nulls the sum, so
  // ev.isNull must be a real variable even over a non-null array column
  override def nullable: Boolean = true
  override def prettyName: String = "md_bucket_margin"

  @transient private lazy val wArr: Array[Double] = weights.toArray

  def compute(arr: ArrayData): java.lang.Double = {
    val n = arr.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val s = arr.getUTF8String(i)
      if (!(skipEmpty && s.numBytes() == 0)) {
        val h = MdMinHash.hash60(s.getBytes)
        acc += wArr((h % wArr.length).toInt)
      }
      i += 1
    }
    acc
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("margin", this,
      "org.apache.spark.sql.graft.MdBucketMargin")
    nullSafeCodeGen(ctx, ev, c => KernelCall.orNull(ctx, ev,
      "java.lang.Double", s"$ref.compute($c)", ".doubleValue()"))
  }

  override protected def withNewChildInternal(newChild: Expression): MdBucketMargin =
    copy(child = newChild)
}

/** The hash-derived INTEGER classifier margin in one fused loop —
  * semantics identical to the HOF form
  * `aggregate(toks, 0L, (acc, t) => acc + (portableHash("w" +
  * (portableHash(t) % buckets)) % 2001 - 1000))`
  * (graft.ops.Text.classifierMarginInt): per token, slot =
  * 60-bit-md5(t) mod buckets, weight = 60-bit-md5("w" + slot) mod
  * 2001 − 1000, summed as longs. Null elements null the sum like the
  * HOF's `acc + null`. */
case class MdDerivedMarginInt(child: Expression, buckets: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  // advisor r18: fail at plan construction (SpanHashes60's k >= 1 rule)
  require(buckets >= 1, s"buckets must be >= 1, got $buckets")

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "md_derived_margin_int"

  def compute(arr: ArrayData): java.lang.Long = {
    val n = arr.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      acc += MdMinHash.derivedWeight(arr.getUTF8String(i).getBytes, buckets)
      i += 1
    }
    acc
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("imargin", this,
      "org.apache.spark.sql.graft.MdDerivedMarginInt")
    nullSafeCodeGen(ctx, ev, c => KernelCall.orNull(ctx, ev,
      "java.lang.Long", s"$ref.compute($c)", ".longValue()"))
  }

  override protected def withNewChildInternal(newChild: Expression): MdDerivedMarginInt =
    copy(child = newChild)
}

/** 64-bit SimHash from pre-hashed tokens in ONE pass: per token, all 64
  * bit-counters update in one inner loop — vs 64 interpreted aggregate()
  * traversals for the HOF formulation. Input array<long>, output long;
  * null elements are skipped. */
case class SimHash64(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  def compute(arr: ArrayData): Long = {
    val n = arr.numElements()
    val counters = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = arr.getLong(i)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) counters(j) += 1 else counters(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (counters(j) >= 0) out |= (1L << j)
      j += 1
    }
    out
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simhash", this,
      "org.apache.spark.sql.graft.SimHash64")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Word k-gram shingles in one pass: space-joined k-token windows over a
  * string array (k > 0); shorter inputs yield one partial shingle.
  * Semantics identical to graft.ops.Text.wordShingles, without the
  * per-window interpreted concat_ws lambda. */
case class ShingleArray(child: Expression, k: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(k > 0, "shingle size must be positive")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingles"

  def compute(input: ArrayData): ArrayData = {
    val arr = input
    val n = arr.numElements()
    val m = math.max(n - (k - 1), 1)
    val out = new Array[AnyRef](m)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < m) {
      sb.setLength(0)
      var j = i
      val end = math.min(i + k, n)
      while (j < end) {
        if (j > i) sb.append(' ')
        if (!arr.isNullAt(j)) sb.append(arr.getUTF8String(j).toString)
        j += 1
      }
      out(i) = org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingler", this,
      "org.apache.spark.sql.graft.ShingleArray")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleArray =
    copy(child = newChild)
}

/** Content-defined chunk cuts: end positions (1-based, code points) of
  * rolling-hash-delimited chunks, the boundary scheme rsync/LBFS-style
  * dedup builds on. A windowed Rabin–Karp hash (base 31, mod 1e9+7)
  * runs over the last `window` code points; position `i >= window` is
  * a cut when `H_i % divisor == 0`.
  * Boundaries depend only on LOCAL content, so an insertion re-chunks
  * only the window around the edit — every downstream chunk keeps its
  * position-independent identity (the property fixed-size chunking
  * lacks, and the whole point of CDC dedup).
  *
  * `minSize`/`maxSize` add the standard stateful guards: a candidate cut
  * closer than `minSize` to the previous cut is suppressed; a chunk
  * reaching `maxSize` is force-cut regardless of content (bounds chunk
  * size on pathological data — e.g. a long constant run that never fires
  * the hash). With `minSize = 1` and an unreachable `maxSize` the cut set
  * is STATELESS — each position decides independently — which is the
  * oracle-able form (`t_cdc_chunks`/`dedup_cdc` recompute the identical
  * windowed fold in DuckDB per position); the stateful guards are pinned
  * by CdcSpec instead. Output always ends with the text length (the last
  * chunk's end); empty input yields an empty array. The per-character
  * loop is why this is a native expression: the HOF composition would
  * evaluate an interpreted slice+fold lambda per position (O(n·window)
  * with per-element lambda dispatch) vs one fused O(n) rolling pass.
  */
case class CdcCuts(child: Expression, window: Int, divisor: Int,
                   minSize: Int, maxSize: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(window > 0, "window must be positive")
  require(divisor > 0, "divisor must be positive")
  require(minSize > 0, "minSize must be positive")
  require(maxSize >= minSize, "maxSize must be >= minSize")

  override def inputTypes: Seq[AbstractDataType] =
    Seq(TypeCollection(StringType, BinaryType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "cdc_cuts"

  private val Mod = 1000000007L
  // 31^(window-1) mod M: coefficient of the expiring (oldest) code point
  @transient private lazy val pow: Long = {
    var p = 1L; var i = 1
    while (i < window) { p = p * 31L % Mod; i += 1 }
    p
  }

  def compute(input: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val str = input.toString
    val ring = new Array[Long](window)
    val cuts = scala.collection.mutable.ArrayBuffer.empty[Int]
    var h = 0L
    var p = 0      // code-point position, 1-based once incremented
    var prev = 0   // last accepted cut position
    var idx = 0    // char index into str
    while (idx < str.length) {
      val cp = str.codePointAt(idx)
      idx += Character.charCount(cp)
      p += 1
      if (p > window) h = (h - ring(p % window) * pow % Mod + Mod) % Mod
      h = (h * 31L + cp) % Mod
      ring(p % window) = cp.toLong
      val force = p - prev == maxSize
      if (force || (p >= window && h % divisor == 0 && p - prev >= minSize)) {
        cuts += p
        prev = p
      }
    }
    if (p > 0 && (cuts.isEmpty || cuts.last != p)) cuts += p
    new org.apache.spark.sql.catalyst.util.GenericArrayData(cuts.toArray)
  }

  /** Byte-level twin: the identical rolling fold over raw payload bytes
    * (unsigned 0–255), positions 1-based in BYTES. This is the form real
    * CDC systems (LBFS/rsync/borg) run — content is arbitrary binary, not
    * text — and on all-ASCII text it produces exactly the code-point cut
    * set (each byte IS the code point), which is what lets `t_cdc_bytes`
    * share the per-position SQL oracle with the string form. */
  def computeBytes(input: Array[Byte]): ArrayData = {
    val ring = new Array[Long](window)
    val cuts = scala.collection.mutable.ArrayBuffer.empty[Int]
    var h = 0L
    var p = 0
    var prev = 0
    while (p < input.length) {
      val b = (input(p) & 0xff).toLong
      p += 1
      if (p > window) h = (h - ring(p % window) * pow % Mod + Mod) % Mod
      h = (h * 31L + b) % Mod
      ring(p % window) = b
      val force = p - prev == maxSize
      if (force || (p >= window && h % divisor == 0 && p - prev >= minSize)) {
        cuts += p
        prev = p
      }
    }
    if (p > 0 && (cuts.isEmpty || cuts.last != p)) cuts += p
    new org.apache.spark.sql.catalyst.util.GenericArrayData(cuts.toArray)
  }

  private def isBinary: Boolean = child.dataType == BinaryType

  override protected def nullSafeEval(input: Any): Any =
    if (isBinary) computeBytes(input.asInstanceOf[Array[Byte]])
    else compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cdc", this, "org.apache.spark.sql.graft.CdcCuts")
    val m = if (isBinary) "computeBytes" else "compute"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.$m($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): CdcCuts =
    copy(child = newChild)
}

/** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken 2003 —
  * the MOSS local document-fingerprinting scheme; reference near-dup
  * context: cosmo-style span dedup over document corpora). Over the
  * text's code points:
  *
  *   1. every k-gram gets the [[CdcCuts]]-family rolling Rabin–Karp hash
  *      (base 31, mod 1e9+7) — O(n) total via add-newest/drop-oldest;
  *   2. a window of `w` consecutive gram hashes slides by one gram; each
  *      window contributes its MINIMUM hash (monotonic-deque sliding
  *      min, O(n) total);
  *   3. the selected values, distinct and sorted ascending, are the
  *      document's fingerprint set.
  *
  * The winnowing guarantee: any shared substring of at least w+k−1 code
  * points produces at least one shared fingerprint, while expected
  * density stays ~2/(w+1) — i.e. coverage with bounded fingerprint
  * count, which is what makes it the right candidate generator for
  * substring-level dedup at corpus scale (vs MinHash's whole-document
  * set similarity). Selection is BY VALUE (the set of window minima):
  * positional tie-breaking (rightmost-min) only affects which position
  * is recorded, never the value set, so the value-set contract is the
  * portable, oracle-able one (`t_winnow_fingerprints` recomputes the
  * identical gram fold + window minima with DuckDB list functions).
  *
  * Degenerate inputs: fewer code points than k → empty array; fewer
  * grams than w → one window spanning all grams (its single minimum).
  * Per-gram hashing + the deque are why this is native: the HOF
  * composition is an interpreted O(n·k + n·w) lambda cascade (slice +
  * fold per position), vs one fused O(n) pass here.
  */
case class WinnowMinima(child: Expression, k: Int, w: Int,
    wide: Boolean = false)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(k > 0, "gram size k must be positive")
  require(w > 0, "window w must be positive")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_minima"

  private val Mod = 1000000007L
  // Finalizing multiplier (Knuth's 2^32/phi): the raw polynomial fold
  // (acc*31+cp) % M never wraps for small k (max ≈ 1.2e8 at k=5 over
  // ASCII), so it is ORDER-PRESERVING in the leading code point — window
  // minima then degenerate to "grams starting with the smallest
  // character" (measured: a 50k-doc templated corpus collapsed to 154
  // distinct fingerprints, all space-leading grams). Winnowing's
  // uniform-selection guarantee (Schleimer 2003 §3 assumes a random
  // hash) needs the minimum to land on a pseudo-random gram, so each
  // stored gram hash gets one multiplicative mix before the min-window
  // pass. The rolling state itself stays unmixed (the recurrence needs
  // the raw fold); h < M and Mix < 2^32 keep the product under 2^62.
  private val Mix = 2654435761L
  // 31^(k-1) mod M: coefficient of the expiring (oldest) code point
  @transient private lazy val pow: Long = {
    var p = 1L; var i = 1
    while (i < k) { p = p * 31L % Mod; i += 1 }
    p
  }
  // `wide` companion fold (base 131): the primary's mod-1e9+7 value
  // space is a ~30-bit key, and a corpus-scale shared-value GATE over
  // tens of millions of fingerprints saturates it by birthday — ~every
  // doc chance-shares some value and the gate reads vacuous (measured,
  // r18). Selection stays ENTIRELY on the primary (the winnowing
  // guarantee is about which gram each window selects); the emitted
  // value becomes primary·Mod + companion (< 2^60), so two docs match
  // only when the SAME GRAM was selected — the guarantee window selects
  // the same gram in every holder of a shared substring, so exactness
  // is unchanged while chance matches drop to 2^-60 scale. wide=false
  // keeps the oracle-replayable historical output.
  @transient private lazy val pow2: Long = {
    var p = 1L; var i = 1
    while (i < k) { p = p * 131L % Mod; i += 1 }
    p
  }

  def compute(input: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val str = input.toString
    // pass 1: code points (needed to size the gram array exactly)
    val n = str.codePointCount(0, str.length)
    val g = n - k + 1
    if (g <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
    val hs = new Array[Long](g)
    val hs2 = if (wide) new Array[Long](g) else null
    val ring = new Array[Long](k)
    var h = 0L
    var h2 = 0L
    var p = 0 // 1-based code-point position
    var idx = 0
    while (idx < str.length) {
      val cp = str.codePointAt(idx)
      idx += Character.charCount(cp)
      p += 1
      if (p > k) {
        h = (h - ring(p % k) * pow % Mod + Mod) % Mod
        if (wide) h2 = (h2 - ring(p % k) * pow2 % Mod + Mod) % Mod
      }
      h = (h * 31L + cp) % Mod
      if (wide) h2 = (h2 * 131L + cp) % Mod
      ring(p % k) = cp.toLong
      if (p >= k) {
        hs(p - k) = h * Mix % Mod
        if (wide) hs2(p - k) = h2
      }
    }
    def fp(i: Int): Long = if (wide) hs(i) * Mod + hs2(i) else hs(i)
    val minima = new java.util.TreeSet[java.lang.Long]()
    if (g < w) {
      var mi = 0; var i = 1
      while (i < g) { if (hs(i) < hs(mi)) mi = i; i += 1 }
      minima.add(fp(mi))
    } else {
      // monotonic deque of indices with increasing hash values
      val deque = new Array[Int](g)
      var head = 0; var tail = 0 // [head, tail)
      var i = 0
      while (i < g) {
        while (tail > head && hs(deque(tail - 1)) >= hs(i)) tail -= 1
        deque(tail) = i; tail += 1
        if (deque(head) <= i - w) head += 1
        if (i >= w - 1) minima.add(fp(deque(head)))
        i += 1
      }
    }
    val out = new Array[Long](minima.size)
    val it = minima.iterator(); var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("winnow", this, "org.apache.spark.sql.graft.WinnowMinima")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowMinima =
    copy(child = newChild)
}

/** Min-cost unigram-LM segmentation (the SentencePiece/Kudo-2018 word
  * lattice): given a piece→cost map (cost = −ln p, a foldable literal in
  * practice), Viterbi DP over the word's positions returns the cheapest
  * segmentation as struct(pieces array&lt;string&gt;, nll double), or null
  * when no piece path covers the word. Exact cost ties prefer the LONGER
  * piece (candidates are tried longest-first with strict improvement) —
  * pinned by UnigramSpec. O(len · maxPieceLen) per word with one hashed
  * lookup per arc; the piece map is converted to a java HashMap once per
  * distinct MapData instance (reference-equality cache — a literal map is
  * one instance per task), so per-row cost is the DP alone. The identical
  * DP is expressible in SQL only as an unrolled per-position shortest
  * path (see t_unigram_viterbi's generated oracle), which is the
  * oracle-able form; this expression is the engine path.
  */
case class UnigramViterbi(left: Expression, right: Expression, maxPieceLen: Int)
    extends BinaryExpression with ImplicitCastInputTypes {
  require(maxPieceLen > 0, "maxPieceLen must be positive")

  override def inputTypes: Seq[AbstractDataType] =
    Seq(StringType, MapType(StringType, DoubleType))
  override def dataType: DataType = StructType(Seq(
    StructField("pieces", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("nll", DoubleType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "unigram_viterbi"

  // the reference-equality cache below is only a cache when the cost map
  // is ONE instance per task — i.e. a foldable literal. A per-row map
  // column would silently rebuild the HashMap every row (O(vocab) each);
  // refuse it at analysis time instead of degrading quietly.
  override def checkInputDataTypes(): TypeCheckResult = {
    val base = super.checkInputDataTypes()
    if (base.isFailure) base
    else if (!right.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a foldable (literal) piece-cost map: the " +
          "per-reference cache would rebuild per row for a non-literal")
    else TypeCheckResult.TypeCheckSuccess
  }

  // (sourceMapData -> hashed costs); single field so a racy re-read sees
  // a consistent pair.
  @transient private var cached: (AnyRef, java.util.HashMap[String, java.lang.Double]) = _

  private def costMap(m: org.apache.spark.sql.catalyst.util.MapData)
      : java.util.HashMap[String, java.lang.Double] = {
    val c = cached
    if (c != null && (c._1 eq m)) c._2
    else {
      val h = new java.util.HashMap[String, java.lang.Double](m.numElements() * 2)
      val keys = m.keyArray(); val vals = m.valueArray()
      var i = 0
      while (i < m.numElements()) {
        if (!vals.isNullAt(i))
          h.put(keys.getUTF8String(i).toString, vals.getDouble(i))
        i += 1
      }
      cached = (m, h)
      h
    }
  }

  def compute(w: org.apache.spark.unsafe.types.UTF8String,
              m: org.apache.spark.sql.catalyst.util.MapData)
      : org.apache.spark.sql.catalyst.InternalRow = {
    // CODE-POINT positions, not UTF-16 chars: the piece inventory
    // (Unigram.substringCounts via Spark substr) and the unrolled SQL
    // oracle both slice by code point — a supplementary-plane word must
    // run the DP on the same axis or vocabulary pieces become
    // unmatchable (see the WordPieceEncode twin of this note).
    val cps = w.toString.codePoints.toArray
    val n = cps.length
    if (n == 0) return null
    def sub(from: Int, until: Int) = new String(cps, from, until - from)
    val costs = costMap(m)
    val best = Array.fill(n + 1)(Double.PositiveInfinity)
    val back = new Array[Int](n + 1)
    best(0) = 0.0
    var j = 1
    while (j <= n) {
      // longest candidate first + strict <: exact ties keep the long piece
      var l = math.min(maxPieceLen, j)
      while (l >= 1) {
        val i = j - l
        if (best(i) != Double.PositiveInfinity) {
          val c = costs.get(sub(i, j))
          if (c != null && best(i) + c < best(j)) {
            best(j) = best(i) + c
            back(j) = l
          }
        }
        l -= 1
      }
      j += 1
    }
    if (best(n) == Double.PositiveInfinity) return null
    var k = n
    var count = 0
    while (k > 0) { count += 1; k -= back(k) }
    val pieces = new Array[AnyRef](count)
    k = n
    var p = count - 1
    while (k > 0) {
      pieces(p) = org.apache.spark.unsafe.types.UTF8String
        .fromString(sub(k - back(k), k))
      p -= 1
      k -= back(k)
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      new org.apache.spark.sql.catalyst.util.GenericArrayData(pieces), best(n)))
  }

  override protected def nullSafeEval(w: Any, m: Any): Any =
    compute(w.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      m.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("viterbi", this,
      "org.apache.spark.sql.graft.UnigramViterbi")
    nullSafeCodeGen(ctx, ev, (w, m) => KernelCall.orNull(ctx, ev,
      "org.apache.spark.sql.catalyst.InternalRow", s"$ref.compute($w, $m)"))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): UnigramViterbi =
    copy(left = newLeft, right = newRight)
}

/** WordPiece greedy longest-match-first segmentation (Wu et al. 2016,
  * the BERT tokenizer): from the word start, repeatedly take the LONGEST
  * vocabulary piece matching at the cursor — word-initial pieces match
  * verbatim, word-internal ones via their `##`-prefixed form — and
  * return the piece array, or null when no piece (not even a single
  * char) matches at some position (the [UNK] path; an EMPTY word is not
  * [UNK] — zero positions encode as an empty array). Greedy-longest is
  * deliberately NOT [[UnigramViterbi]]'s min-cost DP: WordPiece commits
  * left-to-right with no backtracking, which is what makes it O(n·L)
  * with zero DP state and also why the two segmenters disagree on words
  * where a long early piece strands the remainder.
  *
  * Vocabulary arrives as `array<string>` (a foldable literal/broadcast in
  * practice — vocabularies are thousands of entries); it is interned into
  * a HashSet once per distinct array reference, same caching contract as
  * [[UnigramViterbi]]'s cost map. The identical greedy walk is
  * expressible in SQL only as unrolled per-step CTEs (see
  * t_wordpiece_encode's generated oracle); this expression is the engine
  * path, map-only at any corpus scale. */
case class WordPieceEncode(left: Expression, right: Expression, maxPieceLen: Int)
    extends BinaryExpression with ImplicitCastInputTypes {
  require(maxPieceLen > 0, "maxPieceLen must be positive")

  override def inputTypes: Seq[AbstractDataType] =
    Seq(StringType, ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "wordpiece_encode"

  // same contract as [[UnigramViterbi]]: the reference-equality vocab
  // cache assumes one interned array per task — a per-row vocab column
  // would rebuild the HashSet every row; refuse at analysis time.
  override def checkInputDataTypes(): TypeCheckResult = {
    val base = super.checkInputDataTypes()
    if (base.isFailure) base
    else if (!right.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a foldable (literal) vocabulary array: the " +
          "per-reference cache would rebuild per row for a non-literal")
    else TypeCheckResult.TypeCheckSuccess
  }

  @transient private var cached: (AnyRef, java.util.HashSet[String]) = _

  private def vocabSet(a: ArrayData): java.util.HashSet[String] = {
    val c = cached
    if (c != null && (c._1 eq a)) c._2
    else {
      val s = new java.util.HashSet[String](a.numElements() * 2)
      var i = 0
      while (i < a.numElements()) {
        if (!a.isNullAt(i)) s.add(a.getUTF8String(i).toString)
        i += 1
      }
      cached = (a, s)
      s
    }
  }

  def compute(w: org.apache.spark.unsafe.types.UTF8String,
              v: ArrayData): ArrayData = {
    // CODE-POINT units throughout, not UTF-16 chars: the vocabulary
    // builder (Spark substr) and the DuckDB oracle both slice by code
    // point, so a supplementary-plane word (emoji, rare CJK) must
    // segment on the same axis — and candidate strings must never be
    // lone surrogates.
    val cps = w.toString.codePoints.toArray
    val n = cps.length
    // empty word: zero positions → zero pieces, NOT the [UNK] null
    // (null means "some position has no matching piece"; an empty word
    // has no positions to fail at)
    if (n == 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[AnyRef])
    def sub(from: Int, len: Int) = new String(cps, from, len)
    val vocab = vocabSet(v)
    val pieces = scala.collection.mutable.ArrayBuffer.empty[AnyRef]
    var pos = 0
    while (pos < n) {
      var l = math.min(maxPieceLen, n - pos)
      var matched = -1
      while (l >= 1 && matched < 0) {
        val cand =
          if (pos == 0) sub(0, l)
          else "##" + sub(pos, l)
        if (vocab.contains(cand)) matched = l else l -= 1
      }
      if (matched < 0) return null // [UNK]: some position has no piece
      pieces += org.apache.spark.unsafe.types.UTF8String.fromString(
        if (pos == 0) sub(0, matched)
        else "##" + sub(pos, matched))
      pos += matched
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(pieces.toArray)
  }

  override protected def nullSafeEval(w: Any, v: Any): Any =
    compute(w.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordpiece", this,
      "org.apache.spark.sql.graft.WordPieceEncode")
    nullSafeCodeGen(ctx, ev, (w, v) => KernelCall.orNull(ctx, ev,
      "org.apache.spark.sql.catalyst.util.ArrayData", s"$ref.compute($w, $v)"))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WordPieceEncode =
    copy(left = newLeft, right = newRight)
}

/** Unicode normalization (java.text.Normalizer): canonical/compatibility
  * composition of combining sequences — the text-pipeline prerequisite
  * for every byte-keyed operation in this engine (fingerprints, CDC
  * chunk hashes, exact dedup keys all compare BYTES, and "é" as U+00E9
  * vs e+U+0301 are different bytes for the same text; web corpora mix
  * both freely). Spark ships no normalizer builtin; this is a map-only
  * per-row pass with a fast path — `Normalizer.isNormalized` is O(n)
  * with no allocation, and real-world text is overwhelmingly already
  * NFC. Form is a literal (NFC/NFD/NFKC/NFKD); the DuckDB twin is
  * `nfc_normalize` (same Unicode tables, byte-identical output). */
case class UnicodeNormalize(child: Expression, form: String)
    extends UnaryExpression with ImplicitCastInputTypes {
  private val normForm = java.text.Normalizer.Form.valueOf(form.toUpperCase)

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "unicode_normalize"

  def compute(input: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    val s = input.toString
    if (java.text.Normalizer.isNormalized(s, normForm)) input
    else org.apache.spark.unsafe.types.UTF8String.fromString(
      java.text.Normalizer.normalize(s, normForm))
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("norm", this,
      "org.apache.spark.sql.graft.UnicodeNormalize")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): UnicodeNormalize =
    copy(child = newChild)
}

/** Multi-pattern substring scan via an Aho–Corasick automaton
  * (Aho & Corasick 1975 — the FlashText/fgrep algorithm): returns the
  * DISTINCT patterns that occur in `text` as substrings, ordered as in
  * the patterns array. One automaton walk is O(len(text) + matches)
  * regardless of pattern count — the reason real blocklist/safety
  * scrubbing (thousands of phrases) cannot be a `contains` chain or a
  * regex alternation, both O(len·patterns) and the regex one
  * catastrophic on overlap. The automaton (trie + BFS failure links
  * with output-set propagation) builds once per distinct patterns-array
  * reference — the [[UnigramViterbi]]/[[WordPieceEncode]] caching
  * contract; patterns are a foldable literal/broadcast in practice.
  * Map-only at any corpus scale; the DuckDB twin is a per-pattern
  * `contains` filter (same semantics, oracle scale only). Empty
  * patterns are ignored; no match → empty array (never null for
  * non-null input). */
case class MultiMatch(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(StringType, ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "multi_match"

  // same contract as [[WordPieceEncode]]: the automaton cache is
  // reference-keyed — a per-row patterns column would rebuild the
  // trie + failure links every row; refuse at analysis time.
  override def checkInputDataTypes(): TypeCheckResult = {
    val base = super.checkInputDataTypes()
    if (base.isFailure) base
    else if (!right.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a foldable (literal) patterns array: the " +
          "per-reference automaton cache would rebuild per row for a " +
          "non-literal")
    else TypeCheckResult.TypeCheckSuccess
  }

  /** goto transitions per node, failure links, and per-node matched
    * pattern indices (outputs merged across failure chains at build). */
  private final class Automaton(val patterns: Array[String]) {
    val gotoMaps = scala.collection.mutable.ArrayBuffer(
      new java.util.HashMap[Char, Int]())
    val fails = scala.collection.mutable.ArrayBuffer(0)
    val outs = scala.collection.mutable.ArrayBuffer[java.util.BitSet](new java.util.BitSet())
    // trie; duplicate pattern strings map to their FIRST index so the
    // output really is distinct (the documented contract — a repeated
    // blocklist entry must not double-count downstream)
    private val seenPatterns = new java.util.HashSet[String]()
    for (pi <- patterns.indices;
         p = patterns(pi) if p.nonEmpty && seenPatterns.add(p)) {
      var node = 0
      var i = 0
      while (i < p.length) {
        val c = p.charAt(i)
        node = if (gotoMaps(node).containsKey(c)) gotoMaps(node).get(c)
        else {
          gotoMaps += new java.util.HashMap[Char, Int]()
          fails += 0
          outs += new java.util.BitSet()
          val id = gotoMaps.size - 1
          gotoMaps(node).put(c, id)
          id
        }
        i += 1
      }
      outs(node).set(pi)
    }
    // BFS failure links; outputs inherit the fail target's outputs
    val queue = new java.util.ArrayDeque[Int]()
    gotoMaps(0).forEach((_, child) => { fails(child) = 0; queue.add(child) })
    while (!queue.isEmpty) {
      val node = queue.poll()
      gotoMaps(node).forEach { (c, child) =>
        var f = fails(node)
        while (f != 0 && !gotoMaps(f).containsKey(c)) f = fails(f)
        fails(child) = if (gotoMaps(f).containsKey(c) && gotoMaps(f).get(c) != child)
          gotoMaps(f).get(c) else 0
        outs(child).or(outs(fails(child)))
        queue.add(child)
      }
    }

    def matches(text: String): java.util.BitSet = {
      val hit = new java.util.BitSet(patterns.length)
      var node = 0
      var i = 0
      while (i < text.length) {
        val c = text.charAt(i)
        while (node != 0 && !gotoMaps(node).containsKey(c)) node = fails(node)
        if (gotoMaps(node).containsKey(c)) node = gotoMaps(node).get(c)
        hit.or(outs(node))
        i += 1
      }
      hit
    }
  }

  @transient private var cached: (AnyRef, Automaton) = _

  private def automaton(a: ArrayData): Automaton = {
    val c = cached
    if (c != null && (c._1 eq a)) c._2
    else {
      val ps = new Array[String](a.numElements())
      var i = 0
      while (i < ps.length) {
        ps(i) = if (a.isNullAt(i)) "" else a.getUTF8String(i).toString
        i += 1
      }
      val au = new Automaton(ps)
      cached = (a, au)
      au
    }
  }

  def compute(t: org.apache.spark.unsafe.types.UTF8String,
              v: ArrayData): ArrayData = {
    val au = automaton(v)
    val hit = au.matches(t.toString)
    val out = scala.collection.mutable.ArrayBuffer.empty[AnyRef]
    var i = hit.nextSetBit(0)
    while (i >= 0) {
      out += org.apache.spark.unsafe.types.UTF8String.fromString(au.patterns(i))
      i = hit.nextSetBit(i + 1)
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  override protected def nullSafeEval(t: Any, v: Any): Any =
    compute(t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ac", this,
      "org.apache.spark.sql.graft.MultiMatch")
    nullSafeCodeGen(ctx, ev, (t, v) => s"${ev.value} = $ref.compute($t, $v);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MultiMatch =
    copy(left = newLeft, right = newRight)
}

/** All capture groups of ONE regex match as `array<string>`: the pattern
  * (a foldable literal) compiles once per operator, `find()` runs once per
  * row, and every group is read from the same Matcher. The composed
  * alternative — one `regexp_extract` per field — rescans the line per
  * field; for the 16-field SMS report parse that is ~11 full scans of
  * every line, most with lookbehinds. No match → null; an unmatched
  * optional group → null element. */
case class RegexpExtractGroups(child: Expression, pattern: String)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "regexp_extract_groups"

  @transient private lazy val compiled: java.util.regex.Pattern =
    java.util.regex.Pattern.compile(pattern)

  def compute(input: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val m = compiled.matcher(input.toString)
    if (!m.find()) return null
    val out = new Array[AnyRef](m.groupCount())
    var i = 0
    while (i < out.length) {
      val g = m.group(i + 1)
      out(i) = if (g == null) null
        else org.apache.spark.unsafe.types.UTF8String.fromString(g)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("regexpgroups", this,
      "org.apache.spark.sql.graft.RegexpExtractGroups")
    nullSafeCodeGen(ctx, ev, c => KernelCall.orNull(ctx, ev,
      "org.apache.spark.sql.catalyst.util.ArrayData", s"$ref.compute($c)"))
  }

  override protected def withNewChildInternal(newChild: Expression): RegexpExtractGroups =
    copy(child = newChild)
}

/** Bloom-filter join pruning (100 TB lever): build a bloom filter over the
  * small side's keys, broadcast it, and pre-filter the big side before
  * the real join. For anti-joins the logic inverts: might_contain = false
  * PROVES non-membership, so those rows skip the shuffle entirely and
  * only the might-contain rows take the actual anti-join. Spark's own
  * runtime row-level filtering uses these internal expressions; exposed
  * here because they are not SQL-registered. */
object BloomOps {
  import org.apache.spark.sql.{Column, DataFrame}
  import org.apache.spark.sql.functions.{broadcast, col, xxhash64, not}
  import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
  import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

  def bloomAgg(key: Column, estimatedItems: Long): Column =
    NativeBridge.column(
      new BloomFilterAggregate(
        NativeBridge.expression(xxhash64(key)), estimatedItems)
        .toAggregateExpression())

  def mightContain(bloom: Column, key: Column): Column =
    NativeBridge.column(BloomFilterMightContain(
      NativeBridge.expression(bloom),
      NativeBridge.expression(xxhash64(key))))

  /** Anti-join with bloom pre-filter: rows whose key provably isn't in
    * `small` pass straight through (no shuffle); only possible members
    * join. Result equals `big.join(small, key, "left_anti")`.
    *
    * might_contain requires a CONSTANT bloom, so the one-row aggregate is
    * collected and embedded as a binary literal — the same driver-side
    * materialization Spark's own runtime row-filters do via a scalar
    * subquery (the filter is ~1.2 MB per million keys). */
  def bloomAntiJoin(big: DataFrame, small: DataFrame, bigKey: String,
                    smallKey: String, estimatedItems: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val bloomBytes = small.agg(bloomAgg(col(smallKey), estimatedItems).as("b"))
      .head().getAs[Array[Byte]]("b")
    if (bloomBytes == null) big // empty small side: nothing to subtract
    else {
      val tagged = big.withColumn("__mc", mightContain(lit(bloomBytes), col(bigKey)))
      val definiteNonMembers = tagged.filter(not(col("__mc"))).drop("__mc")
      val possibleMembers = tagged.filter(col("__mc")).drop("__mc")
        .join(small.select(col(smallKey).as(bigKey)), Seq(bigKey), "left_anti")
      definiteNonMembers.unionByName(possibleMembers)
    }
  }
}

/** Identity wrapper marked non-deterministic: filters cannot be pushed
  * below a Project containing it and projects do not collapse through it,
  * pinning the child's evaluation to its position in the plan. Needed for
  * expressions with side effects (raise_error guards): optimizer rules
  * like InferFiltersFromGenerate + predicate pushdown otherwise evaluate
  * them on rows that upstream filters were meant to remove. */
case class EvalBarrier(child: Expression) extends UnaryExpression {
  override lazy val deterministic: Boolean = false
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "eval_barrier"
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    child.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }
  override protected def withNewChildInternal(newChild: Expression): EvalBarrier =
    copy(child = newChild)
}

/** Top-`nProbe` IVF cell ids of one vector against the trained centroid
  * family, in one native per-row pass. Ranks every centroid by
  * (`round(cosine, simRound)` DESC, cid ASC, null cosine last) — the
  * exact comparator of [[graft.ops.Similarity.ivfAssign]]'s `array_sort`
  * formulation — and returns the winning cids in rank order (fewer than
  * `nProbe` when k < nProbe). The cosine accumulation is
  * [[CosineSimilarity]]'s loop verbatim (same summation order, so
  * bit-identical doubles); rounding is Spark `round`'s
  * BigDecimal/HALF_UP. Centroids ride the expression as plain Scala data
  * (k-means k rows — the same bounded-driver contract the training loop
  * holds) and unpack once per task into a primitive matrix, so the
  * per-row cost is k·dim fused multiply-adds plus an O(k·nProbe)
  * selection — no per-row struct allocation and no O(k log k)
  * interpreted lambda comparator, which is what dominated the HOF form
  * once k grows as √N (IVF cells at corpus scale; measured in PERF.md
  * round 18). One semantic difference from the HOF form, by design: a
  * NULL input vector returns null (the array_sort form assigned null
  * vectors to the lowest cids — an accident of nulls-last slicing, not a
  * contract anyone wants); a length-mismatched centroid ranks with null
  * similarity, after every real one. Agreement on non-null vectors is
  * pinned in NativeExprSpec. */
case class IvfTopCells(child: Expression, cids: Seq[Long],
    cents: Seq[Seq[Double]], nProbe: Int, simRound: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  require(cids.length == cents.length,
    s"cids (${cids.length}) and cents (${cents.length}) must align")
  require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ivf_top_cells"
  override def nullable: Boolean = true
  // keep the k×dim matrix out of every plan dump
  override def toString: String =
    s"ivf_top_cells($child, k=${cids.length}, nProbe=$nProbe, simRound=$simRound)"

  @transient private lazy val ids: Array[Long] = cids.toArray
  @transient private lazy val mat: Array[Array[Double]] = cents.map(_.toArray).toArray

  def top(vecData: ArrayData): ArrayData = {
    val n = vecData.numElements()
    val k = ids.length
    val sims = new Array[Double](k)
    val simNull = new Array[Boolean](k)
    var c = 0
    while (c < k) {
      val cv = mat(c)
      if (cv.length != n) simNull(c) = true
      else {
        var dot = 0.0d; var nx = 0.0d; var ny = 0.0d
        var i = 0
        while (i < n) {
          val xi = vecData.getDouble(i); val yi = cv(i)
          dot += xi * yi; nx += xi * xi; ny += yi * yi
          i += 1
        }
        val denom = math.sqrt(nx) * math.sqrt(ny)
        var s = if (denom == 0.0d) 0.0d else dot / denom
        if (simRound >= 0 && !s.isNaN && !s.isInfinite)
          s = java.math.BigDecimal.valueOf(s)
            .setScale(simRound, java.math.RoundingMode.HALF_UP).doubleValue()
        sims(c) = s
      }
      c += 1
    }
    val m = math.min(nProbe, k)
    val out = new Array[Long](m)
    val taken = new Array[Boolean](k)
    var filled = 0
    while (filled < m) {
      var best = -1
      var j = 0
      while (j < k) {
        if (!taken(j)) {
          if (best < 0) best = j
          else {
            val better =
              if (simNull(best) && simNull(j)) ids(j) < ids(best)
              else if (simNull(best)) true
              else if (simNull(j)) false
              else if (sims(j) > sims(best)) true
              else if (sims(j) < sims(best)) false
              else ids(j) < ids(best)
            if (better) best = j
          }
        }
        j += 1
      }
      taken(best) = true
      out(filled) = ids(best)
      filled += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    top(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivf", this, "org.apache.spark.sql.graft.IvfTopCells")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.top($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): IvfTopCells =
    copy(child = newChild)
}

/** Proper analysis errors for SQL-builder argument validation — lives in
  * this package to reach Spark's private[sql] error factories, so a bad
  * literal argument surfaces as an AnalysisException at registration
  * instead of a ClassCastException/NPE. */
object AnalysisErrors {
  def nonFoldableArgument(fn: String, param: String, dt: DataType): Nothing =
    throw org.apache.spark.sql.errors.QueryCompilationErrors
      .nonFoldableArgumentError(fn, param, dt)
  def nullArgument(fn: String, param: String): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      "INVALID_PARAMETER_VALUE.NULL",
      Map("parameter" -> s"`$param`", "functionName" -> s"`$fn`"))
}

/** Shared xxhash64-chain kernel of [[BigramHashes]] / [[TrigramHashes]]:
  * Spark's multi-argument `xxhash64(c1, c2, …)` folds left-to-right —
  * state starts at the default seed 42 and each NON-NULL child rehashes
  * the state (null children leave it unchanged) — so the n-gram key
  * family the LM queries build from 4–8 separate xxhash64 columns per
  * event shares long prefix chains: `xxhash64(a,b)` is an intermediate
  * state of `xxhash64(a,b,c)`, and the per-token hashes `xxhash64(t)` /
  * the `xxhash64(lit(1), …)` chain starts are reusable across adjacent
  * events. One fused loop computes every key of every event in a doc
  * with ~half the string traversals and none of the interpreted
  * `transform()` lambda, token-struct materialization, or post-explode
  * string re-hashing of the composed form. Values are BIT-IDENTICAL to
  * the composed columns (pinned in NativeExprSpec), so every LM query
  * stays oracled unchanged. */
object NgramHash {
  import org.apache.spark.sql.catalyst.expressions.{XXH64, XxHash64Function}
  import org.apache.spark.unsafe.types.UTF8String

  val Seed = 42L
  /** Chain state after folding the integer literal 1 over the default
    * seed — the prefix every `xxhash64(lit(1), …)` variant starts from. */
  val Seed1: Long = XXH64.hashInt(1, Seed)

  /** One xxhash64 fold step: null tokens leave the state unchanged,
    * exactly as Spark's HashExpression skips null children. */
  @inline private def fold(state: Long, t: UTF8String): Long =
    if (t == null) state
    else XxHash64Function.hash(t, StringType, state).asInstanceOf[Long]

  /** All bigram events of a token array as (h2, h2b, ha, hb) rows —
    * h2 = xxhash64(a, b), h2b = xxhash64(lit(1), a, b), ha/hb the
    * single-token hashes. Arrays shorter than 2 yield the empty array
    * (graft.ops.Text.bigrams' emission guard). */
  def bigramHashes(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < 2)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val toks = new Array[UTF8String](n)
    val h42 = new Array[Long](n)
    var i = 0
    while (i < n) {
      val t = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      toks(i) = t
      h42(i) = fold(Seed, t)
      i += 1
    }
    val out = new Array[Any](n - 1)
    i = 0
    while (i < n - 1) {
      val b = toks(i + 1)
      val h2 = fold(h42(i), b)
      val h2b = fold(fold(Seed1, toks(i)), b)
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](h2, h2b, h42(i), h42(i + 1)))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** All trigram events of a token array as
    * (h3, h3b, hab, habb, hbc, hbcb, hb, hc) rows — the exact key set
    * graft.ops.Text.trigramNll builds per event, with the
    * chain prefixes shared: hab is h3's intermediate state, habb is
    * h3b's, and the per-token 42- and lit(1)-seeded hashes are computed
    * once per token instead of once per event side. Arrays shorter
    * than 3 yield the empty array (Text.trigrams' guard). */
  def trigramHashes(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < 3)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val toks = new Array[UTF8String](n)
    val h42 = new Array[Long](n)   // xxhash64(t)
    val hS1 = new Array[Long](n)   // state after folding t over Seed1
    var i = 0
    while (i < n) {
      val t = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      toks(i) = t
      h42(i) = fold(Seed, t)
      hS1(i) = fold(Seed1, t)
      i += 1
    }
    val out = new Array[Any](n - 2)
    i = 0
    while (i < n - 2) {
      val b = toks(i + 1); val c = toks(i + 2)
      val hab = fold(h42(i), b)
      val h3 = fold(hab, c)
      val habb = fold(hS1(i), b)
      val h3b = fold(habb, c)
      val hbc = fold(h42(i + 1), c)
      val hbcb = fold(hS1(i + 1), c)
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](h3, h3b, hab, habb, hbc, hbcb, h42(i + 1), h42(i + 2)))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Bigram LM event keys in ONE fused per-row loop — semantics identical
  * to `transform`-built (a, b) token structs exploded and re-hashed
  * through four separate xxhash64 columns (the
  * graft.ops.Text.bigramNll composition); see [[NgramHash]]
  * for the chain-sharing arithmetic. Output
  * array<struct<h2, h2b, ha, hb>> (all longs, never null — a null token
  * is skipped by the fold exactly as xxhash64 skips null children). */
case class BigramHashes(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("h2", LongType, nullable = false),
      StructField("h2b", LongType, nullable = false),
      StructField("ha", LongType, nullable = false),
      StructField("hb", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "bigram_hashes"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, arr =>
      s"org.apache.spark.sql.graft.NgramHash.bigramHashes($arr)")

  override protected def nullSafeEval(input: Any): Any =
    NgramHash.bigramHashes(input.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(newChild: Expression): BigramHashes =
    copy(child = newChild)
}

/** Trigram LM event keys in ONE fused per-row loop — the
  * [[BigramHashes]] treatment of graft.ops.Text.trigramNll's
  * eight xxhash64 key columns. Output
  * array<struct<h3, h3b, hab, habb, hbc, hbcb, hb, hc>>. */
case class TrigramHashes(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("h3", LongType, nullable = false),
      StructField("h3b", LongType, nullable = false),
      StructField("hab", LongType, nullable = false),
      StructField("habb", LongType, nullable = false),
      StructField("hbc", LongType, nullable = false),
      StructField("hbcb", LongType, nullable = false),
      StructField("hb", LongType, nullable = false),
      StructField("hc", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "trigram_hashes"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, arr =>
      s"org.apache.spark.sql.graft.NgramHash.trigramHashes($arr)")

  override protected def nullSafeEval(input: Any): Any =
    NgramHash.trigramHashes(input.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(newChild: Expression): TrigramHashes =
    copy(child = newChild)
}

/** LSH band keys as the FULL md5 digest split into two longs — one fused
  * loop replacing the banding composition
  * `posexplode(transform(sequence(0, bands-1), j => md5(concat_ws(",",
  * transform(slice(cs, j*r+1, r), cast-to-string)))))`
  * (graft.ops.Curation.bandHashes). Per band, the digested BYTES are the
  * md5 of exactly the same comma-joined decimal rendering of the band's
  * signature slice; (b1, b2) are the digest's 16 bytes big-endian, so
  * equality of (b1, b2) is equality of the old 32-char hex string —
  * bucket identity is BIT-EXACT, no collision-semantics change — while
  * the groupBy/join key shrinks from a ~36-byte UTF8 string to 16 fixed
  * bytes and the interpreted transform/concat/hex round-trip disappears.
  * Output array<struct<j:int, b1:long, b2:long>>, one row per band.
  * Null signatures → null (the composed form's md5-of-null propagation);
  * signature length must be a multiple of `bands` (checked at
  * construction against the caller's requirement). */
case class MdBandKeys(child: Expression, bands: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(bands >= 1, s"bands must be >= 1, got $bands")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("j", IntegerType, nullable = false),
      StructField("b1", LongType, nullable = false),
      StructField("b2", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "md_band_keys"

  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    require(n % bands == 0,
      s"signature length $n not divisible by bands=$bands")
    val r = n / bands
    val md = MdMinHash.digester()
    val out = new Array[Any](bands)
    val sb = new java.lang.StringBuilder()
    var j = 0
    while (j < bands) {
      sb.setLength(0)
      var i = j * r
      val end = i + r
      while (i < end) {
        if (i > j * r) sb.append(',')
        sb.append(arr.getLong(i))
        i += 1
      }
      md.reset()
      md.update(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val d = md.digest()
      def be(o: Int): Long =
        ((d(o) & 0xffL) << 56) | ((d(o + 1) & 0xffL) << 48) |
          ((d(o + 2) & 0xffL) << 40) | ((d(o + 3) & 0xffL) << 32) |
          ((d(o + 4) & 0xffL) << 24) | ((d(o + 5) & 0xffL) << 16) |
          ((d(o + 6) & 0xffL) << 8) | (d(o + 7) & 0xffL)
      out(j) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](j, be(0), be(8)))
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bandkeys", this,
      "org.apache.spark.sql.graft.MdBandKeys")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): MdBandKeys =
    copy(child = newChild)
}

/** An ordered BPE merge list applied in ONE fused per-row loop —
  * semantics identical to the stacked HOF folds
  * `merges.foldLeft(syms)((c, m) => aggregate(c, array(), (acc, s) =>
  * when(try_element_at(acc, -1) === m.a && s === m.b,
  * concat(slice(acc, 1, size(acc)-1), array(m.a + m.b)))
  * .otherwise(concat(acc, array(s)))))` (graft.ops.Bpe.applyMerge /
  * segment): per merge pair one greedy left-to-right pass, merged
  * symbols are NEW symbols (no re-merge within a pass), leftmost-first
  * on runs, null ELEMENTS append as nulls and never match. The HOF
  * stack ran `merges.length` interpreted lambdas per row and built a
  * fresh array per SYMBOL per pass (O(len²·merges) allocation); here
  * every pass is an in-place write pointer over one buffer. Agreement
  * pinned in NativeExprSpec; the BPE family stays value-oracled because
  * the outputs are identical. */
case class BpeMergeSeq(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression with ImplicitCastInputTypes {
  require(merges.nonEmpty, "merges must be non-empty (identity: use the input)")

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType))
  override def dataType: DataType =
    ArrayType(StringType, containsNull = true)
  override def prettyName: String = "bpe_merge_seq"

  @transient private lazy val aArr: Array[org.apache.spark.unsafe.types.UTF8String] =
    merges.map(m => org.apache.spark.unsafe.types.UTF8String.fromString(m._1)).toArray
  @transient private lazy val bArr: Array[org.apache.spark.unsafe.types.UTF8String] =
    merges.map(m => org.apache.spark.unsafe.types.UTF8String.fromString(m._2)).toArray
  @transient private lazy val abArr: Array[org.apache.spark.unsafe.types.UTF8String] =
    merges.map(m => org.apache.spark.unsafe.types.UTF8String.fromString(m._1 + m._2)).toArray

  def compute(arr: ArrayData): ArrayData = {
    val n0 = arr.numElements()
    val buf = new Array[org.apache.spark.unsafe.types.UTF8String](n0)
    var i = 0
    while (i < n0) {
      buf(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      i += 1
    }
    var n = n0
    var m = 0
    while (m < aArr.length) {
      val a = aArr(m); val b = bArr(m); val ab = abArr(m)
      // in-place greedy pass: the write pointer w trails the read
      // pointer r, so a merge rewrites buf(w-1) and never clobbers
      // unread input. buf(w-1) == ab can never re-match a (b non-empty
      // makes ab != a), reproducing the fold's no-re-merge rule.
      var r = 0
      var w = 0
      while (r < n) {
        val s = buf(r)
        if (w > 0 && buf(w - 1) != null && s != null &&
            buf(w - 1).equals(a) && s.equals(b)) {
          buf(w - 1) = ab
        } else {
          buf(w) = s
          w += 1
        }
        r += 1
      }
      n = w
      m += 1
    }
    val out = new Array[Any](n)
    i = 0
    while (i < n) { out(i) = buf(i); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpemerges", this,
      "org.apache.spark.sql.graft.BpeMergeSeq")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeMergeSeq =
    copy(child = newChild)
}
