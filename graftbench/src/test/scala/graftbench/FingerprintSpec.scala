package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[2]")
    .appName("FingerprintSpec")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "3")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def rows: DataFrame = {
    import spark.implicits._
    (0 until 500)
      .map(i => (i.toLong, s"k${i % 7}", i * 0.1, Seq(i * 1.5, -0.0), Map(s"m$i" -> i.toDouble)))
      .toDF("id", "key", "x", "xs", "m")
      .withColumn("s", struct(col("key"), col("x")))
  }

  test("the fingerprint does not depend on row order or partitioning") {
    val base = Fingerprint.of(rows)
    assert(Fingerprint.of(rows.orderBy(rand(7))) == base)
    assert(Fingerprint.of(rows.repartition(5)) == base)
    assert(Fingerprint.of(rows.coalesce(1).orderBy(col("id").desc)) == base)
    assert(base.rows == 500)
  }

  test("the fingerprint does not depend on the shuffle-partition count") {
    // double sums and averages combine partial results in an order that
    // follows the partition count; rounding to significant digits hides it
    def agg(partitions: Int): Fingerprint = {
      spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
      try
        Fingerprint.of(
          rows.repartition(partitions, col("id")).groupBy("key").agg(sum(col("x") * 1.1).as("sx"), avg("x").as("ax"))
        )
      finally spark.conf.set("spark.sql.shuffle.partitions", "3")
    }
    assert(agg(1) == agg(7))
    assert(agg(7) == agg(13))
  }

  test("the fingerprint changes when one value changes") {
    val base = Fingerprint.of(rows)
    val oneDouble = rows.withColumn("x", when(col("id") === 42, col("x") + 0.001).otherwise(col("x")))
    val oneString = rows.withColumn("key", when(col("id") === 42, lit("other")).otherwise(col("key")))
    val oneNested = rows.withColumn("xs", when(col("id") === 42, array(lit(1.0))).otherwise(col("xs")))
    val oneRowLess = rows.where(col("id") =!= 42)
    Seq(oneDouble, oneString, oneNested, oneRowLess).foreach(df => assert(Fingerprint.of(df) != base))
  }

  test("the fingerprint renders -0.0 as 0.0 and survives NaN and nulls") {
    import spark.implicits._
    val a = Seq[(Option[Double], String)]((Some(0.0), "a"), (Some(Double.NaN), null), (None, "c")).toDF("d", "s")
    val b = Seq[(Option[Double], String)]((Some(-0.0), "a"), (Some(Double.NaN), null), (None, "c")).toDF("d", "s")
    assert(Fingerprint.of(a) == Fingerprint.of(b))
    assert(Fingerprint.parse(Fingerprint.of(a).toString) == Fingerprint.of(a))
  }

  test("an empty result fingerprints as zero rows") {
    assert(Fingerprint.of(rows.where(lit(false))) == Fingerprint(0L, 0L))
  }
}
