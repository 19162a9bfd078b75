package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native md5-prefix hash: the first `hexDigits` hex digits of
  * md5(utf8(s)) as an unsigned long — bit-identical to the declarative
  * `conv(substring(md5(c), 1, hexDigits), 16, 10).cast("long")` every
  * text operator hashed tokens with (the md5-only house rule: DuckDB
  * oracles reproduce it as `CAST(concat('0x', substr(md5(t), 1, n)) AS
  * BIGINT)`), but computed straight off the DIGEST BYTES. The
  * declarative chain materialized a 32-char hex string per call, took
  * a substring, then re-parsed it base-16 through `conv` — three
  * string allocations and a digit parse per hashed TOKEN, on the
  * hottest path the text family has (every tokenize-and-hash operator
  * calls this once per token occurrence). One thread-local
  * MessageDigest, one nibble loop, zero allocations beyond the digest.
  *
  * `hexDigits` ≤ 15 so the value fits a signed long (the house hash,
  * `hash32`, takes 8).
  */
case class Md5PrefixLongExpr(child: Expression, hexDigits: Int) extends UnaryExpression {

  require(hexDigits >= 1 && hexDigits <= 15, s"hexDigits must be in [1,15], got $hexDigits")

  override def dataType: DataType = LongType
  override def prettyName: String = "md5_prefix_long"

  override def checkInputDataTypes(): TypeCheckResult =
    if (DataType.equalsStructurally(child.dataType, StringType, ignoreNullability = true)) {
      TypeCheckResult.TypeCheckSuccess
    } else {
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string argument, got ${child.dataType.sql}")
    }

  override protected def nullSafeEval(s: Any): Any =
    Md5PrefixLongExpr.prefixLong(s.asInstanceOf[UTF8String], hexDigits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.plans.Md5PrefixLongExpr.prefixLong($s, $hexDigits)")

  override protected def withNewChildInternal(newChild: Expression): Md5PrefixLongExpr =
    copy(child = newChild)
}

object Md5PrefixLongExpr {

  private val digests = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First `hexDigits` hex digits (nibbles) of md5(s) as an unsigned
    * long — the exact value `conv(substring(md5(s), 1, hexDigits), 16,
    * 10)` parses from the hex string.
    */
  def prefixLong(s: UTF8String, hexDigits: Int): Long = {
    val d = digests.get()
    d.reset()
    val bytes = d.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < hexDigits) {
      val b = bytes(i >> 1) & 0xff
      val nib = if ((i & 1) == 0) b >>> 4 else b & 0xf
      v = (v << 4) | nib.toLong
      i += 1
    }
    v
  }

  def md5PrefixLong(c: Column, hexDigits: Int): Column =
    shims.columnOf(Md5PrefixLongExpr(shims.expressionOf(c), hexDigits))
}
