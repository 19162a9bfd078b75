package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native per-token kernels (round 14). Spark's higher-order array
  * functions (`transform`, `filter`, `aggregate`) are CodegenFallback:
  * every call interprets its lambda per ELEMENT with boxing — and the
  * text family's hottest projections are exactly such lambdas over the
  * token array (hash-per-token, rolling shingle windows, bucket-weight
  * folds). Each kernel below replaces one interpreted
  * lambda-per-element chain with a single static loop inside
  * whole-stage codegen, bit-identical by construction (the per-element
  * math delegates to the same [[Md5PrefixLongExpr.prefixLong]] /
  * integer ops the declarative spelling used; null elements propagate
  * to null exactly as the lambda did).
  */
object TokenKernels {

  private def requireType(name: String, dt: DataType, want: DataType, what: String): TypeCheckResult =
    if (DataType.equalsStructurally(dt, want, ignoreNullability = true)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$name requires $what, got ${dt.sql}")

  // ------------------------------------------------------------------
  // transform(tokens, t => hashN(salt || t) [% mod])  →  one loop
  // ------------------------------------------------------------------

  /** md5-prefix hash of each element: value = prefixLong(salt ++ t,
    * hexDigits), then `% mod` when mod > 0 (all operands non-negative,
    * so Java % ≡ the SQL % the lambda used). Null elements → null.
    */
  def hashAll(a: ArrayData, hexDigits: Int, salt: UTF8String, mod: Long): ArrayData = {
    val n = a.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val t = a.getUTF8String(i)
        val s = if (salt.numBytes() == 0) t else UTF8String.concat(salt, t)
        val h = Md5PrefixLongExpr.prefixLong(s, hexDigits)
        out(i) = if (mod > 0) h % mod else h
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  case class Md5TokensExpr(child: Expression, hexDigits: Int, salt: String, mod: Long)
      extends UnaryExpression {

    require(hexDigits >= 1 && hexDigits <= 15)
    @transient private lazy val saltU = UTF8String.fromString(salt)

    override def dataType: DataType = ArrayType(LongType, containsNull = true)
    override def prettyName: String = "md5_tokens"

    override def checkInputDataTypes(): TypeCheckResult =
      requireType(prettyName, child.dataType, ArrayType(StringType), "array<string>")

    override protected def nullSafeEval(a: Any): Any =
      TokenKernels.hashAll(a.asInstanceOf[ArrayData], hexDigits, saltU, mod)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val saltRef = ctx.addReferenceObj("salt", saltU, "org.apache.spark.unsafe.types.UTF8String")
      defineCodeGen(ctx, ev, a => s"graft.plans.TokenKernels.hashAll($a, $hexDigits, $saltRef, ${mod}L)")
    }

    override protected def withNewChildInternal(newChild: Expression): Md5TokensExpr =
      copy(child = newChild)
  }

  def md5Tokens(arr: Column, hexDigits: Int, salt: String = "", mod: Long = 0L): Column =
    shims.columnOf(Md5TokensExpr(shims.expressionOf(arr), hexDigits, salt, mod))

  // ------------------------------------------------------------------
  // rolling polynomial shingle hashes  →  one loop
  // ------------------------------------------------------------------

  /** (Σ_j ht[i+j]·coeffs(j)) % p per window start i — identical
    * integer math to the `transform(sequence(...), i => Σ element_at ·
    * k) % p` spelling (sum accumulated in long, one % at the end; a
    * null element nulls every window containing it, as the lambda's
    * null propagation did). Callers guarantee numElements ≥ n via the
    * same `when(size ≥ n, …)` wrapper as before.
    */
  def rollAll(a: ArrayData, coeffs: Array[Long], p: Long): ArrayData = {
    val n = coeffs.length
    val m = a.numElements() - (n - 1)
    val out = new Array[Any](math.max(m, 0))
    var i = 0
    while (i < m) {
      var s = 0L
      var ok = true
      var j = 0
      while (j < n && ok) {
        if (a.isNullAt(i + j)) ok = false
        else s += a.getLong(i + j) * coeffs(j)
        j += 1
      }
      if (ok) out(i) = s % p
      i += 1
    }
    new GenericArrayData(out)
  }

  case class RollingPolyHashExpr(child: Expression, coeffs: Array[Long], p: Long)
      extends UnaryExpression
      with ArrayFieldEquality {

    override def dataType: DataType = ArrayType(LongType, containsNull = true)
    override def prettyName: String = "rolling_poly_hash"

    override def checkInputDataTypes(): TypeCheckResult =
      requireType(prettyName, child.dataType, ArrayType(LongType), "array<long>")

    override protected def nullSafeEval(a: Any): Any =
      TokenKernels.rollAll(a.asInstanceOf[ArrayData], coeffs, p)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cRef = ctx.addReferenceObj("coeffs", coeffs, "long[]")
      defineCodeGen(ctx, ev, a => s"graft.plans.TokenKernels.rollAll($a, $cRef, ${p}L)")
    }

    override protected def withNewChildInternal(newChild: Expression): RollingPolyHashExpr =
      copy(child = newChild)
  }

  def rollingPolyHash(ht: Column, coeffs: Seq[Long], p: Long): Column =
    shims.columnOf(RollingPolyHashExpr(shims.expressionOf(ht), coeffs.toArray, p))

  // ------------------------------------------------------------------
  // aggregate(transform(w, t => weights[hash32(t) % dim]), 0L, +)  →  one loop
  // ------------------------------------------------------------------

  /** Σ weights(md5prefix8(t) % dim) over the tokens, left-to-right in
    * array order — the hashed-bag-of-words score fold (c79/c107
    * serving). A null token nulls the whole sum (the lambda's `acc +
    * null` did the same).
    */
  def weightSum(a: ArrayData, weights: Array[Long]): Any = {
    val dim = weights.length
    val n = a.numElements()
    var s = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val b = Md5PrefixLongExpr.prefixLong(a.getUTF8String(i), 8) % dim
      s += weights(b.toInt)
      i += 1
    }
    s
  }

  case class BucketWeightSumExpr(child: Expression, weights: Array[Long])
      extends UnaryExpression
      with ArrayFieldEquality {

    override def dataType: DataType = LongType
    override def prettyName: String = "bucket_weight_sum"
    // weightSum returns null on a null ELEMENT of a non-null array, so
    // this expression is nullable regardless of the child's nullability
    // (inheriting the child's `false` would emit `ev.isNull = true`
    // against a literal-false isNull in codegen → Janino compile error
    // and a silent interpreted fallback the first time tokens() ever
    // yields a non-nullable array)
    override def nullable: Boolean = true

    override def checkInputDataTypes(): TypeCheckResult =
      requireType(prettyName, child.dataType, ArrayType(StringType), "array<string>")

    override protected def nullSafeEval(a: Any): Any =
      TokenKernels.weightSum(a.asInstanceOf[ArrayData], weights)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val wRef = ctx.addReferenceObj("weights", weights, "long[]")
      val res = ctx.freshName("ws")
      nullSafeCodeGen(
        ctx,
        ev,
        a => s"""
          Object $res = graft.plans.TokenKernels.weightSum($a, $wRef);
          if ($res == null) { ${ev.isNull} = true; } else { ${ev.value} = ((Long) $res).longValue(); }
        """
      )
    }

    override protected def withNewChildInternal(newChild: Expression): BucketWeightSumExpr =
      copy(child = newChild)
  }

  def bucketWeightSum(w: Column, weights: Array[Long]): Column =
    shims.columnOf(BucketWeightSumExpr(shims.expressionOf(w), weights))

  // ------------------------------------------------------------------
  // array_position(zip_with(a, b, ===), true)  →  one loop
  // ------------------------------------------------------------------

  /** 1-based index of the first position where the two long arrays are
    * equal, 0 when none — the exact value
    * `array_position(zip_with(a, b, _ === _), true)` produced (both
    * arrays same length and non-null elements at every call site; a
    * null element compares not-equal, as `===` yields null which
    * array_position skips). This predicate runs once per CANDIDATE
    * PAIR inside the banded-join filters (the first-matching-band
    * dedup), where the zip_with spelling allocated a boolean array and
    * interpreted its lambda per band per pair.
    */
  def firstEqIndex(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i)) return i + 1L
      i += 1
    }
    0L
  }

  case class FirstEqIndexExpr(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

    override def dataType: DataType = LongType
    override def prettyName: String = "first_eq_index"

    override def checkInputDataTypes(): TypeCheckResult = {
      val l = requireType(prettyName, left.dataType, ArrayType(LongType), "array<long>")
      if (l != TypeCheckResult.TypeCheckSuccess) l
      else requireType(prettyName, right.dataType, ArrayType(LongType), "array<long>")
    }

    override protected def nullSafeEval(a: Any, b: Any): Any =
      TokenKernels.firstEqIndex(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.plans.TokenKernels.firstEqIndex($a, $b)")

    override protected def withNewChildrenInternal(l: Expression, r: Expression): FirstEqIndexExpr =
      copy(left = l, right = r)
  }

  def firstEqIndex(a: Column, b: Column): Column =
    shims.columnOf(FirstEqIndexExpr(shims.expressionOf(a), shims.expressionOf(b)))
}
