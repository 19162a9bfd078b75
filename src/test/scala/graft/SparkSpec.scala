package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  /** Runs `body` under [[graft.core.GraftSession.StatefulStreamingSettings]],
    * applied to the shared session as a reused graft session gets them,
    * then restores the settings the rest of the suite runs under.
    */
  def withStatefulStreamingSettings[T](body: => T): T = {
    val hadoop = spark.sparkContext.hadoopConfiguration
    val prior = graft.core.GraftSession.StatefulStreamingSettings.map { case (k, _) =>
      if (k.startsWith("spark.hadoop.")) {
        val hk = k.stripPrefix("spark.hadoop.")
        val v = Option(hadoop.get(hk))
        () => v.fold(hadoop.unset(hk))(hadoop.set(hk, _))
      } else {
        val v = spark.conf.getOption(k)
        () => v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      }
    }
    graft.core.GraftSession.applyStatefulStreamingSettings(spark)
    try body
    finally prior.foreach(_())
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
