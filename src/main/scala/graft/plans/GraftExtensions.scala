package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, UnscaledValue}
import org.apache.spark.sql.types.IntegerType

/** SparkSessionExtensions entry point: registers graft's native
  * expressions as SQL functions, so `spark.sql("SELECT array_dot(a, b)")`
  * works next to the DataFrame API, and the [[TopKPerKey]] planner
  * strategy, so sessions built with the extension plan the custom
  * operator without the lazy `experimental.extraStrategies` injection.
  *
  * Activate with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")` or
  * programmatically via `SparkSession.builder.withExtensions(new
  * GraftExtensions)` — both are plain public Spark API, no spark-submit
  * needed.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    ext.injectPlannerStrategy(_ => TopKPerKey.TopKPerKeyStrategy)
    ext.injectOptimizerRule(_ => TopKPerKey.RowNumberLimitToTopK)
  }
}

object GraftExtensions {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "", "", "", "", "", "", "built-in")

  // wrong arity must be an analysis error naming the function — a bare
  // children(1) would throw IndexOutOfBounds on too few args and
  // SILENTLY IGNORE extras
  private def arity(name: String, n: Int)(children: Seq[Expression]): Seq[Expression] = {
    if (children.size != n) {
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> name,
          "expectedNum" -> n.toString,
          "actualNum" -> children.size.toString,
          "docroot" -> ""
        )
      )
    }
    children
  }

  val functions: Seq[(String, ExpressionInfo, FunctionBuilder)] = Seq(
    (
      "array_dot",
      info("array_dot", "array_dot(a, b) - dot product of two double arrays (strict sequential sum)"),
      (children: Seq[Expression]) => {
        val c = arity("array_dot", 2)(children); ArrayDotProduct(c(0), c(1))
      }
    ),
    (
      "array_l2_normalize",
      info("array_l2_normalize", "array_l2_normalize(a) - L2-normalize a double array in one pass"),
      (children: Seq[Expression]) => {
        val c = arity("array_l2_normalize", 1)(children); ArrayNormalize(c.head)
      }
    ),
    (
      "simhash_of_tokens",
      info(
        "simhash_of_tokens",
        "simhash_of_tokens(token_hashes, bits) - SimHash signature of a token-hash array in one row-local pass " +
          "(bits must be an integer literal <= 64; the scalar form of simhash_agg)"
      ),
      (children: Seq[Expression]) => {
        val c = arity("simhash_of_tokens", 2)(children)
        c(1) match {
          case Literal(v: Int, IntegerType) => SimHashOfTokens(c(0), v)
          case _ =>
            throw new org.apache.spark.sql.AnalysisException(
              errorClass = "NON_FOLDABLE_ARGUMENT",
              messageParameters = Map(
                "funcName" -> "`simhash_of_tokens`",
                "paramName" -> "`bits`",
                "paramType" -> "\"INT\""
              )
            )
        }
      }
    ),
    (
      "freq_item_candidates",
      info(
        "freq_item_candidates",
        "freq_item_candidates(item, capacity) - Misra-Gries frequent-item candidates: at most `capacity` " +
          "strings, guaranteed to include every item with share > 1/(capacity+1); capacity must be an " +
          "integer literal (re-count candidates exactly for exact heavy hitters)"
      ),
      (children: Seq[Expression]) => {
        val c = arity("freq_item_candidates", 2)(children)
        c(1) match {
          case Literal(v: Int, IntegerType) => FreqItemsAgg(c(0), v).toAggregateExpression()
          case _ =>
            throw new org.apache.spark.sql.AnalysisException(
              errorClass = "NON_FOLDABLE_ARGUMENT",
              messageParameters = Map(
                "funcName" -> "`freq_item_candidates`",
                "paramName" -> "`capacity`",
                "paramType" -> "\"INT\""
              )
            )
        }
      }
    ),
    (
      "unscaled_long",
      info(
        "unscaled_long",
        "unscaled_long(d) - the unscaled BIGINT of a compact decimal (precision <= 18): exactly d * 10^scale. " +
          "The entry point of the exact long-domain money path (round 14): a DECIMAL(p1,s1) * DECIMAL(p2,s2) " +
          "product whose result precision exceeds 18 digits leaves Spark's compact (Long-backed) decimal " +
          "representation, so every per-row multiply and every aggregate-buffer update runs on JVM BigDecimal " +
          "and disables the vectorized hash-map fast path. Multiplying the UNSCALED longs instead is the " +
          "identical integer (scale s1+s2) at long speed; callers re-attach the scale once per GROUP via " +
          "CAST(x AS DECIMAL(38,0)) / 10^s. Caller contract: input precision <= 18 (compact) and the long " +
          "products/sums must be overflow-safe by construction - document the bound at each use site."
      ),
      (children: Seq[Expression]) => {
        val c = arity("unscaled_long", 1)(children)
        // UnscaledValue is only valid for compact (Long-backed) decimals;
        // a DECIMAL(19+, s) input would silently produce wrong longs, so
        // enforce the documented precision <= 18 contract at analysis
        c.head.dataType match {
          case d: org.apache.spark.sql.types.DecimalType if d.precision <= 18 =>
            UnscaledValue(c.head)
          case other =>
            throw new org.apache.spark.sql.AnalysisException(
              errorClass = "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE",
              messageParameters = Map(
                "sqlExpr" -> "\"unscaled_long\"",
                "paramIndex" -> "first",
                "requiredType" -> "\"DECIMAL\" with precision <= 18 (compact, Long-backed)",
                "inputSql" -> ("\"" + c.head.sql + "\""),
                "inputType" -> ("\"" + other.sql + "\"")
              )
            )
        }
      }
    ),
    (
      "simhash_agg",
      info(
        "simhash_agg",
        "simhash_agg(hash, cnt) - 60-bit SimHash signature from pre-counted (token-hash, multiplicity) rows; " +
          "the aggregate form of simhash for inputs already grouped (per-row arrays use SimHashOfTokens)"
      ),
      (children: Seq[Expression]) => {
        val c = arity("simhash_agg", 2)(children)
        SimHashAgg(c(0), c(1), bits = 60).toAggregateExpression()
      }
    )
  )
}
