package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generic as-of join — for each left row, the latest right row (by
  * event time) at-or-before the left row's time, within a tolerance,
  * matched on equi keys. The operator family Spark lacks natively: the
  * naive formulation is a range join (planned as a sort-merge with an
  * inequality residual at best, a nested loop at worst) followed by a
  * per-left-row "latest" reduction.
  *
  * Implementation is the distributed as-of idiom (a11 is its
  * specialized form): UNION both sides tagged, one shuffle on the key,
  * and a running `last(..., ignoreNulls)` window in (time, side) order
  * — right rows sort before left rows at equal timestamps, so a right
  * row is visible to a left row with the same time. One shuffle total,
  * partition count scales with key cardinality, no range predicate in
  * any join, no low-cardinality window.
  *
  * Contract: right rows must be unique per (keys, rightTime) — the
  * standard as-of precondition (otherwise "the" row at a timestamp is
  * ambiguous). Output = every left row + `right_<col>` payload columns
  * (null when no right row is within `toleranceMs`).
  */
object AsOfJoin {

  def asOf(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      leftTime: String,
      rightTime: String,
      toleranceMs: Long
  ): DataFrame = {
    require(keyCols.nonEmpty, "asOf requires at least one key column")
    // fail fast with a clear message instead of a confusing analysis
    // error downstream: the times must be TIMESTAMP (unix_micros), and
    // the internal/output column names must be free
    def requireTimestamp(df: DataFrame, c: String, side: String): Unit = {
      require(df.columns.contains(c), s"$side time column '$c' not found in ${df.columns.toSeq}")
      require(df.schema(c).dataType == org.apache.spark.sql.types.TimestampType,
        s"$side time column '$c' must be TIMESTAMP, got ${df.schema(c).dataType.simpleString}")
    }
    requireTimestamp(left, leftTime, "left")
    requireTimestamp(right, rightTime, "right")
    val reserved = Set("_t", "_side", "_r", "_m", "_rt")
    (left.columns ++ right.columns).find(reserved.contains).foreach { c =>
      throw new IllegalArgumentException(
        s"column '$c' collides with asOf's internal names (${reserved.toSeq.sorted.mkString(", ")}) — rename it first")
    }
    val leftPayload = left.columns.toSeq.filterNot(c => keyCols.contains(c) || c == leftTime)
    val rightPayload = right.columns.toSeq.filterNot(c => keyCols.contains(c) || c == rightTime)
    val rightOut = rightPayload.map(c => s"right_$c").toSet + s"right_$rightTime"
    (keyCols ++ Seq(leftTime) ++ leftPayload).find(rightOut.contains).foreach { c =>
      throw new IllegalArgumentException(
        s"left column '$c' collides with asOf's right_<col> output columns — rename it first")
    }

    // common shape: keys, _t, _side (right=0 so it sorts first at equal
    // times), left payload (null on right rows), right payload carried
    // as ONE struct — per-column running-last would skip a null FIELD of
    // the matched row and stitch in a value from an older (possibly
    // out-of-tolerance) row; a struct is non-null for every right row,
    // so the running last always returns the matched row wholesale
    val rStruct = struct(col(rightTime).as("_rt") +: rightPayload.map(col): _*)
    val rStructType = r0StructType(right, rightTime, rightPayload)
    val l = left.select(
      keyCols.map(col) ++
        Seq(col(leftTime).as("_t"), lit(1).as("_side")) ++
        leftPayload.map(col) :+
        lit(null).cast(rStructType).as("_r"): _*
    )
    val r = right.select(
      keyCols.map(col) ++
        Seq(col(rightTime).as("_t"), lit(0).as("_side")) ++
        leftPayload.map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
        rStruct.as("_r"): _*
    )

    val w = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col("_t"), col("_side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val matched = last(when(col("_side") === 0, col("_r")), ignoreNulls = true).over(w)

    // microsecond-precision tolerance (a timestamp→long cast truncates
    // to seconds and would mis-round sub-second tolerances)
    val inTolerance =
      col("_m").isNotNull &&
        unix_micros(col("_t")) - unix_micros(col("_m._rt")) <= toleranceMs * 1000L

    l.unionByName(r)
      .select(
        (keyCols.map(col) :+ col("_t") :+ col("_side")) ++ leftPayload.map(col) :+
          matched.as("_m"): _*
      )
      .filter(col("_side") === 1)
      .select(
        keyCols.map(col) ++
          Seq(col("_t").as(leftTime)) ++
          leftPayload.map(col) ++
          rightPayload.map(c => when(inTolerance, col(s"_m.$c")).as(s"right_$c")) :+
          when(inTolerance, col("_m._rt")).as(s"right_$rightTime"): _*
      )
  }

  private def r0StructType(
      right: DataFrame,
      rightTime: String,
      rightPayload: Seq[String]
  ): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("_rt", right.schema(rightTime).dataType) +:
        rightPayload.map(c => org.apache.spark.sql.types.StructField(c, right.schema(c).dataType))
    )
}
