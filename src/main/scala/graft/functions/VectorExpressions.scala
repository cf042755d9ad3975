package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, FloatType, LongType}

/** Native Catalyst expression: dot product over two float32 embedding
  * arrays, accumulated in float64 (SURVEY §4 "custom Expression only for
  * perf-sensitive scalar kernels").
  *
  * Why an Expression and not a UDF: `doGenCode` emits a primitive loop
  * straight into whole-stage codegen — no boxing, no Scala closure call,
  * no array deserialization per row. The higher-order
  * `aggregate(zip_with(...))` formulation allocates an intermediate array
  * per row; this reads both `ArrayData` buffers in place. At 100 TB the
  * kNN inner loop runs |probes|·|vectors| times — this is the hot path.
  *
  * Summation is sequential ascending-index — the SAME float op order as
  * the fold formulation and DuckDB's list_reduce, so results are
  * bit-identical across all three (VectorExprSpec asserts it).
  */
case class DotProductF32(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_f32"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_f32 expects (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Fused cosine similarity over two float32 arrays: dot, |a|² and |b|² in
  * ONE pass over the buffers, then dot / (√|a|²·√|b|²). Bit-identical to
  * the three-fold formulation (dot_f32 + two norm folds): each of the
  * three sums accumulates in double in the same ascending-index order, and
  * the final combine performs the same sqrt/multiply/divide — only the
  * number of passes changes (3 → 1), not any float op. The kNN hot path
  * runs this |probes|·|candidates| times. */
case class CosineF32(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_f32"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_f32 expects (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override protected def nullSafeEval(l: Any, r: Any): Any =
    CosineKernels.f32(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.CosineKernels.f32($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Cosine of a float32 probe against a symmetric-int8 (SQ8) quantized
  * corpus vector — the memory-budget middle arm between raw float32 and
  * PQ's 32× (VERDICT r16 #4). The per-vector SQ8 scale CANCELS in
  * cosine: cos(p, s·q) = Σp_i·s·q_i / (|p| · s·|q|) = Σp_i·q_i /
  * (|p|·|q|) — so serving reads ONLY the 1-byte codes, never the scale,
  * and the candidate re-rank scans 4× fewer corpus bytes than
  * cosine_f32. Accumulation is double in ascending-index order (the
  * dot_f32 discipline); a zero vector (all-zero codes) yields NaN
  * exactly as cosine_f32 does on the raw zero vector. */
case class CosineI8(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_i8"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(ByteType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cosine_i8 expects (array<float>, array<tinyint>), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }

  override protected def nullSafeEval(l: Any, r: Any): Any =
    CosineKernels.i8(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.CosineKernels.i8($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The one implementation of the cosine loops: the interpreted and
  * codegen paths of [[CosineF32]] and [[CosineI8]] and AnnIndex's
  * driver-resident flat arm all call these, so every arm's `sim` is
  * bit-identical. Each of dot, |a|² and |b|² accumulates in double in
  * ascending-index order over the shorter array. */
object CosineKernels {
  def f32(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** `b` holds SQ8 codes: its scale cancels (see [[CosineI8]]). */
  def i8(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getByte(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** Static plane matrix + signature kernel shared by the interpreted and
  * codegen paths of [[SignLsh]].
  *
  * Planes are deterministic ±1.0 hyperplanes over 64 dims derived from
  * md5("p:j") — the same derivation `LlmOps.planesFor` documents, so
  * signatures are reproducible across runs and languages. Each plane dot
  * accumulates `plane(i) * emb(i)` in double in ascending-index order —
  * the exact op sequence of `dot_f32(plane, embedding)`, keeping every
  * signature bit-identical to the per-plane-expression formulation this
  * kernel replaced (it built bands·bits separate dot_f32 calls plus a
  * bands·bits·64-element plan literal; one fused call per row replaces
  * them all).
  */
object LshKernels {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Double]]]()

  def planesFor(n: Int): Array[Array[Double]] =
    cache.computeIfAbsent(n, nn => {
      val md = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(nn) { p =>
        Array.tabulate(64) { j =>
          val h = md.digest(s"$p:$j".getBytes("UTF-8"))
          if ((h(0) & 1) == 1) 1.0 else -1.0
        }
      }
    })

  /** All `bands` sign-LSH signatures of one embedding in a single pass:
    * bit k of band b is set iff dot(plane[b*bits+k], emb) > 0. */
  def sigs(emb: ArrayData, bands: Int, bits: Int): ArrayData = {
    val ps = planesFor(bands * bits)
    val out = new Array[Long](bands)
    val m = emb.numElements()
    var b = 0
    while (b < bands) {
      var acc = 0L
      var k = 0
      while (k < bits) {
        val p = ps(b * bits + k)
        val n = math.min(p.length, m)
        var s = 0.0
        var i = 0
        while (i < n) { s += p(i) * emb.getFloat(i).toDouble; i += 1 }
        if (s > 0) acc |= (1L << k)
        k += 1
      }
      out(b) = acc
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** `sign_lsh(embedding, bands, bits)` → array<bigint> of length `bands`:
  * all banded sign-random-projection signatures of an embedding in ONE
  * expression call. Replaces a bands·bits-expression tree (one dot_f32 +
  * comparison per plane) whose generated code and embedded plane literal
  * grew with bands·bits·64 — at 24 tables × 8 bits that was 192 inlined
  * loops and a 12,288-element literal per plan. Codegen emits one static
  * call into [[LshKernels.sigs]]; results are bit-identical (same plane
  * derivation, same double accumulation order, same `> 0` sign rule). */
case class SignLsh(child: Expression, bands: Int, bits: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sign_lsh"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) if bands > 0 && bits > 0 && bits <= 63 =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"sign_lsh expects (array<float>, bands > 0, 0 < bits <= 63), got " +
        s"(${child.dataType.simpleString}, $bands, $bits)")
  }

  override protected def nullSafeEval(input: Any): Any =
    LshKernels.sigs(input.asInstanceOf[ArrayData], bands, bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.LshKernels.sigs($a, $bands, $bits);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One-pass 64-bit SimHash of a document (Charikar/Manku — the crawl
  * near-dup signature): byte-scan the lowercased text for single-space
  * token boundaries (0x20 never occurs inside a multi-byte UTF-8
  * sequence, so the scan is encoding-safe), xxhash64 each token IN
  * PLACE (seed 42, the engine's xxhash64() — same XXH64 kernel, no
  * UTF8String allocation per token), ±1 vote per bit, bit set iff the
  * vote is positive.
  *
  * Bit-identical to the relational formulation it replaces
  * (explode tokens → explode 64 bit positions → two groupBys): token
  * boundaries match Spark's `split(lower(text), ' ')` at limit -1 —
  * interior, leading, AND trailing empty tokens included, and the empty
  * text yields one empty token — which VectorExprSpec pins against the
  * built-ins on edge-case strings and the corpus. The relational plan
  * shuffled |tokens|·64 rows twice (~100M rows at sf0.1); this computes
  * each signature in one pass inside whole-stage codegen. */
object SimHashKernels {
  def simhash64(text: org.apache.spark.unsafe.types.UTF8String): Long = {
    val lower = text.toLowerCase
    val base = lower.getBaseObject
    val off = lower.getBaseOffset
    val n = lower.numBytes
    val votes = new Array[Int](64)
    var start = 0
    var i = 0
    while (i <= n) {
      val boundary = i == n ||
        org.apache.spark.unsafe.Platform.getByte(base, off + i) == 0x20
      if (boundary) {
        val h = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUnsafeBytes(base, off + start, i - start, 42L)
        var k = 0
        while (k < 64) {
          if (((h >>> k) & 1L) == 1L) votes(k) += 1 else votes(k) -= 1
          k += 1
        }
        start = i + 1
      }
      i += 1
    }
    var sig = 0L
    var k = 0
    while (k < 64) { if (votes(k) > 0) sig |= (1L << k); k += 1 }
    sig
  }
}

/** `simhash64(text)` → BIGINT: the one-pass SimHash kernel as a codegen'd
  * scalar (see [[SimHashKernels.simhash64]]). */
case class SimHash64(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 expects STRING, got ${other.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    SimHashKernels.simhash64(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.SimHashKernels.simhash64($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorExpressions {
  /** Register `dot_f32(a, b)`, `cosine_f32(a, b)`,
    * `sign_lsh(v, bands, bits)` and `simhash64(text)` as temp SQL
    * functions. */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash64",
      (exprs: Seq[Expression]) => SimHash64(exprs(0)),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dot_f32",
      (exprs: Seq[Expression]) => DotProductF32(exprs(0), exprs(1)),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_f32",
      (exprs: Seq[Expression]) => CosineF32(exprs(0), exprs(1)),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_i8",
      (exprs: Seq[Expression]) => CosineI8(exprs(0), exprs(1)),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "sign_lsh",
      (exprs: Seq[Expression]) => SignLsh(exprs(0),
        VectorExpressions.intArg(exprs(1), "bands"),
        VectorExpressions.intArg(exprs(2), "bits")),
      "built-in")
  }

  /** Coerce a foldable integer argument (INT or BIGINT literal) to Int
    * with a clear analysis-time message — a bare eval().asInstanceOf
    * throws ClassCastException on `CAST(24 AS BIGINT)` and an internal
    * Catalyst error on a column argument. */
  private[graft] def intArg(e: Expression, name: String): Int = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"sign_lsh: $name must be an integer literal, got ${e.sql}")
    e.eval() match {
      case i: java.lang.Integer => i.intValue
      case l: java.lang.Long if l.longValue.isValidInt => l.intValue
      case s: java.lang.Short => s.intValue
      case other => throw new IllegalArgumentException(
        s"sign_lsh: $name must be an integer literal, got $other")
    }
  }
}
