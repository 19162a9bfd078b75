package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** An order-independent fingerprint of a result: its row count and the
  * sum, modulo 2^64, of one 64-bit hash per row.
  *
  * Floating-point values are rendered to [[SignificantDigits]]
  * significant digits before hashing, so sums and averages whose last
  * bits depend on the order in which partitions are combined (and so on
  * the shuffle-partition count) still fingerprint the same. -0.0 hashes
  * as 0.0. Nested arrays, maps and structs are normalized field by field;
  * map entries are sorted first. Column names are not hashed, column
  * order is.
  */
final case class Fingerprint(rows: Long, hash: Long) {
  override def toString: String = f"$rows:$hash%016x"
}

object Fingerprint {

  val SignificantDigits = 9

  def of(df: DataFrame): Fingerprint = {
    val rowHash = xxhash64(df.schema.fields.map(f => normalize(col(s"`${f.name}`"), f.dataType)).toIndexedSeq: _*)
    // a decimal sum cannot overflow: 2^63 x 2^64 rows < 10^38
    val r = df
      .select(rowHash.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h")))
      .head()
    val total = Option(r.getDecimal(1)).map(d => BigInt(d.toBigInteger)).getOrElse(BigInt(0))
    Fingerprint(r.getLong(0), total.toLong)
  }

  def parse(s: String): Fingerprint = {
    val Array(rows, hash) = s.split(":")
    Fingerprint(rows.toLong, java.lang.Long.parseUnsignedLong(hash, 16))
  }

  private def normalize(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      // adding 0.0 turns -0.0 into 0.0; %e rounds the exact binary value
      format_string(s"%.${SignificantDigits - 1}e", c.cast(DoubleType) + lit(0.0))
    case ArrayType(et, _) => transform(c, x => normalize(x, et))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e => struct(normalize(e("key"), kt), normalize(e("value"), vt))))
    case s: StructType =>
      when(c.isNotNull, struct(s.fields.toIndexedSeq.map(f => normalize(c(f.name), f.dataType).as(f.name)): _*))
    case _ => c
  }
}
