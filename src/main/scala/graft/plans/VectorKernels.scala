package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftSqlShim
import org.apache.spark.sql.types._

/**
 * Native codegen kernels for the dedup/ANN hot paths. Spark's higher-order
 * functions (`transform`/`aggregate`/`zip_with`) are evaluated
 * INTERPRETED, one lambda call per array element — measured ~3 ms/doc for
 * shingle+minhash pipelines at 64–500 elements/row, which dominates the
 * LSH queries. Each kernel below is a single compiled loop producing
 * BIT-IDENTICAL results to the higher-order formulation it replaces
 * (same left-to-right accumulation order, same integer math), so the
 * DuckDB oracles keep matching. Equality with the HOF formulation is
 * pinned by KernelParitySpec.
 *
 * All kernels stay inside whole-stage codegen via static helper calls
 * (same pattern as NormalizeWs).
 */
object VectorKernels {

  // ---- static entries the generated code calls ------------------------

  /** Left fold of x(i)*w(i) — identical to
    * aggregate(zip_with(v, lit(w), _*_), 0.0, _+_). Float elements. */
  def dotConstF(v: ArrayData, w: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    val n = math.min(v.numElements(), w.length)
    while (i < n) { acc += v.getFloat(i).toDouble * w(i); i += 1 }
    acc
  }

  def dotConstD(v: ArrayData, w: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    val n = math.min(v.numElements(), w.length)
    while (i < n) { acc += v.getDouble(i) * w(i); i += 1 }
    acc
  }

  /** cosine(a,b) = fold(a·b) / (sqrt(fold(a·a)) * sqrt(fold(b·b))) with the
    * exact accumulation order of Dedup.cosine's three folds. */
  def cosineFF(a: ArrayData, b: ArrayData): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def cosineDD(a: ArrayData, b: ArrayData): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    while (i < n) {
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** 64-bit SimHash with the majority rule of Dedup.simhashFromHashes
    * (bit set when 2*count >= n; empty input ⇒ all bits set, matching
    * `when(0 >= 0)` in the column formulation). */
  def simhash64(hs: ArrayData): Long = {
    val n = hs.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var b = 0
      while (b < 64) {
        if ((h & (1L << b)) != 0L) counts(b) += 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) * 2 >= n) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** k minhash mins over h' = pmod(h, 2^31-1), v_i = (a_i*h' + b_i) mod M
    * with M = 2^31-1 (modulus ≈ domain size — see Dedup.MersennePrime for
    * why a larger M breaks band independence) — identical to
    * Dedup.minhashSignatureFromHashes' transform+array_min.
    * Empty input ⇒ array of nulls (array_min(empty) = null). */
  def minhashSig(hs: ArrayData, a: Array[Long], b: Array[Long]): ArrayData = {
    val k = a.length
    val n = hs.numElements()
    if (n == 0) return new GenericArrayData(new Array[Any](k))
    val M = (1L << 31) - 1
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      val hp = { val m = h % 2147483647L; if (m < 0) m + 2147483647L else m }
      var j = 0
      while (j < k) {
        val v = (a(j) * hp + b(j)) % M
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** MD5 digests are not thread-safe and allocation isn't free — one per
    * executor thread. */
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  // the Java∩RE2 explicit whitespace class (Dedup.WsClass) — NOT \s:
  // Java's \s includes U+000B, the DuckDB oracles' RE2 \s does not
  private[plans] val WsRegex = org.apache.spark.unsafe.types.UTF8String.fromString("[ \\t\\n\\f\\r]+")

  /**
   * Distinct hashed word n-gram shingles of a text column in ONE compiled
   * pass — replaces the interpreted
   * `array_distinct(transform(shingles(text, n), hash))` pipeline that
   * dominated the dedup-family queries (the `shingles` HOF allocates a
   * lambda call per window, plus one per hash).
   *
   * Bit-identical semantics to the column formulation, reproduced by
   * calling the SAME primitives Spark's expressions call:
   *  - trim  = UTF8String.trim (ASCII space only, as StringTrim)
   *  - lower = UTF8String.toLowerCase (as Lower/CollationSupport default)
   *  - split = UTF8String.split("[ \\t\\n\\f\\r]+", -1) (as StringSplit: leading
   *    separator yields an empty first token; "" yields [""])
   *  - < n tokens ⇒ one whole-text shingle (space-joined), as the
   *    `otherwise` branch
   *  - hash: xxhash64(seed 42, over the shingle's UTF-8 bytes — XXH64,
   *    exactly XxHash64's string path) or md5-60bit (value of the first
   *    15 hex digits = top 60 bits of the digest — exactly
   *    conv(substring(md5(s),1,15),16,10)::long)
   *  - distinct keeps first-occurrence order, as array_distinct
   * Pinned against the HOF formulation in KernelParitySpec.
   */
  def shingleHashes(text: org.apache.spark.unsafe.types.UTF8String,
                    n: Int, md5: Boolean): ArrayData =
    shingleHashes(text, n, md5, distinct = true)

  /** distinct = false (with n = 1) reproduces
    * `transform(tokens(text), hash)` — the NON-deduplicated token-hash
    * stream SimHash's majority vote needs (frequency matters there). */
  def shingleHashes(text: org.apache.spark.unsafe.types.UTF8String,
                    n: Int, md5: Boolean, distinct: Boolean): ArrayData =
    shingleHashes(text.trim().toLowerCase().split(WsRegex, -1), n, md5, distinct)

  /** The hashing half of shingleHashes over an already-split token
    * array (TextStats reuses its tokenization for the 3-gram count). */
  def shingleHashes(toks: Array[org.apache.spark.unsafe.types.UTF8String],
                    n: Int, md5: Boolean, distinct: Boolean): ArrayData = {
    val width = if (toks.length >= n) n else toks.length
    val count = if (toks.length >= n) toks.length - n + 1 else 1
    val seen = if (distinct) new java.util.LinkedHashSet[java.lang.Long]() else null
    val all = if (distinct) null else new Array[Long](count)
    val digest = if (md5) md5Local.get() else null
    var i = 0
    while (i < count) {
      // space-joined shingle bytes (concat_ws(" ", slice))
      var len = math.max(0, width - 1)
      var j = 0
      while (j < width) { len += toks(i + j).numBytes(); j += 1 }
      val bytes = new Array[Byte](len)
      var pos = 0
      j = 0
      while (j < width) {
        val t = toks(i + j)
        t.writeToMemory(bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + pos)
        pos += t.numBytes()
        if (j < width - 1) { bytes(pos) = ' '; pos += 1 }
        j += 1
      }
      val h =
        if (md5) {
          digest.reset()
          val d = digest.digest(bytes)
          var v = 0L
          var b = 0
          while (b < 8) { v = (v << 8) | (d(b) & 0xFFL); b += 1 }
          v >>> 4
        } else {
          org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
            bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len, 42L)
        }
      if (distinct) seen.add(h) else all(i) = h
      i += 1
    }
    if (!distinct) return new GenericArrayData(all)
    val out = new Array[Long](seen.size())
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  // ---- Column builders -------------------------------------------------

  def dotConst(v: Column, w: Seq[Double]): Column =
    GraftSqlShim.column(DotConst(GraftSqlShim.expression(v), w.toIndexedSeq))
  def cosine(a: Column, b: Column): Column =
    GraftSqlShim.column(CosineSim(
      GraftSqlShim.expression(a), GraftSqlShim.expression(b)))
  def simhash(hs: Column): Column =
    GraftSqlShim.column(SimHash64(GraftSqlShim.expression(hs)))
  def minhash(hs: Column, params: Seq[(Long, Long)]): Column =
    GraftSqlShim.column(MinHashSig(GraftSqlShim.expression(hs),
      params.map(_._1).toIndexedSeq, params.map(_._2).toIndexedSeq))
  def shingleHash(text: Column, n: Int, md5: Boolean,
                  distinct: Boolean = true): Column =
    GraftSqlShim.column(ShingleHash(GraftSqlShim.expression(text), n, md5, distinct))
}

/** Dot product of a float/double array column with a constant vector. */
case class DotConst(child: Expression, weights: IndexedSeq[Double])
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_dot_const requires array<float|double>, got ${other.sql}")
    }
  @transient private lazy val isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }
  @transient private lazy val wArr: Array[Double] = weights.toArray
  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (isFloat) VectorKernels.dotConstF(v, wArr) else VectorKernels.dotConstD(v, wArr)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val w = ctx.addReferenceObj("weights", wArr, "double[]")
    val fn = if (isFloat) "dotConstF" else "dotConstD"
    defineCodeGen(ctx, ev, c => s"graft.plans.VectorKernels.$fn($c, $w)")
  }
  override protected def withNewChildInternal(newChild: Expression): DotConst =
    copy(child = newChild)
  override def prettyName: String = "graft_dot_const"
}

/** Cosine similarity of two float-array columns (double accumulation). */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) |
           (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_cosine requires two same-typed array<float|double> args, got $other")
    }
  @transient private lazy val fn: String = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(FloatType, _))   => "cosineFF"
    case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) => "cosineDD"
    case other => throw new IllegalStateException(s"graft_cosine: bad input types $other")
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    if (fn == "cosineFF")
      VectorKernels.cosineFF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    else
      VectorKernels.cosineDD(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.VectorKernels.$fn($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
  override def prettyName: String = "graft_cosine"
}

private object KernelTypes {
  def requireLongArray(name: String, dt: DataType): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    dt match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$name requires array<bigint>, got ${other.sql}")
    }
}

/** 64-bit SimHash of a long-array column. */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    KernelTypes.requireLongArray("graft_simhash64", child.dataType)
  override def nullSafeEval(input: Any): Any =
    VectorKernels.simhash64(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.VectorKernels.simhash64($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
  override def prettyName: String = "graft_simhash64"
}

/** Distinct hashed word n-gram shingles of a string column (see
  * VectorKernels.shingleHashes for the pinned semantics). */
case class ShingleHash(child: Expression, n: Int, md5: Boolean,
                       distinct: Boolean = true)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case _: StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_shingle_hash requires string, got ${other.sql}")
    }
  override def nullSafeEval(input: Any): Any =
    VectorKernels.shingleHashes(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n, md5, distinct)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.plans.VectorKernels.shingleHashes($c, $n, $md5, $distinct)")
  override protected def withNewChildInternal(newChild: Expression): ShingleHash =
    copy(child = newChild)
  override def prettyName: String = "graft_shingle_hash"
}

/** MinHash signature (array<long>) of a long-array column. */
case class MinHashSig(child: Expression, a: IndexedSeq[Long], b: IndexedSeq[Long])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    KernelTypes.requireLongArray("graft_minhash_sig", child.dataType)
  @transient private lazy val aArr: Array[Long] = a.toArray
  @transient private lazy val bArr: Array[Long] = b.toArray
  override def nullSafeEval(input: Any): Any =
    VectorKernels.minhashSig(input.asInstanceOf[ArrayData], aArr, bArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ar = ctx.addReferenceObj("a", aArr, "long[]")
    val br = ctx.addReferenceObj("b", bArr, "long[]")
    defineCodeGen(ctx, ev, c => s"graft.plans.VectorKernels.minhashSig($c, $ar, $br)")
  }
  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
  override def prettyName: String = "graft_minhash_sig"
}
