package graft

import org.apache.spark.sql.functions._

import graft.plans.{ArrayDotProduct, ArrayNormalize}

/** Property tests for the native expressions: the codegen'd fast path
  * must equal a reference Scala fold exactly (not approximately — the
  * engine contract is bit-equality with any strict sequential sum).
  */
class ExpressionsSpec extends SparkSpec {

  private def refDot(a: Seq[Double], b: Seq[Double]): Double =
    a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }

  test("array_dot equals strict sequential fold, bit-exact (100 seeded cases)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val cases = (1 to 100).map { _ =>
      val n = 1 + rnd.nextInt(96)
      (Array.fill(n)(rnd.nextGaussian() * math.pow(10, rnd.nextInt(7) - 3)),
       Array.fill(n)(rnd.nextGaussian() * math.pow(10, rnd.nextInt(7) - 3)))
    }
    val df = cases.toDF("a", "b")
    val got = df.select(ArrayDotProduct.arrayDot(col("a"), col("b"))).collect().map(_.getDouble(0))
    got.zip(cases).foreach { case (g, (a, b)) =>
      assert(java.lang.Double.doubleToLongBits(g) ==
        java.lang.Double.doubleToLongBits(refDot(a.toSeq, b.toSeq)))
    }
  }

  test("array_l2_normalize: unit norm and direction preserved") {
    import spark.implicits._
    val v = Array(3.0, 4.0, 0.0)
    val got = Seq(Tuple1(v)).toDF("v")
      .select(ArrayNormalize.arrayNormalize(col("v")))
      .head().getSeq[Double](0)
    assert(got == Seq(0.6, 0.8, 0.0))
  }

  test("hyperplane_sign_bits equals per-plane sequential dot signs, bit-exact") {
    import spark.implicits._
    import graft.plans.HyperplaneSignBits
    val dim = 64
    val planes = graft.operators.VectorOps.hyperplanes(32, dim)
    val rnd = new scala.util.Random(7)
    val vecs = (1 to 50).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    val got = vecs.map(Tuple1(_)).toDF("v")
      .select(HyperplaneSignBits.hyperplaneBits(col("v"), planes))
      .collect().map(_.getLong(0))
    got.zip(vecs).foreach { case (bits, v) =>
      (0 until 32).foreach { j =>
        val dot = refDot(v.toSeq, planes(j).toSeq)
        assert(((bits >> j) & 1L) == (if (dot >= 0) 1L else 0L), s"plane $j: dot=$dot bits=$bits")
      }
    }
  }

  test("hyperplane_sign_bits rejects a vector of the wrong dimension loudly") {
    import spark.implicits._
    import graft.plans.HyperplaneSignBits
    val planes = graft.operators.VectorOps.hyperplanes(4, 64)
    val ex = intercept[Exception] {
      Seq(Tuple1(Array(1.0, 2.0))).toDF("v")
        .select(HyperplaneSignBits.hyperplaneBits(col("v"), planes))
        .collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(_.getMessage != null) &&
      causes(ex).exists(c => Option(c.getMessage).exists(_.contains("expected a 64-element vector"))))
  }

  test("simhash_of_tokens equals the grouped vote formulation") {
    import spark.implicits._
    import graft.plans.SimHashOfTokens
    val rnd = new scala.util.Random(11)
    val docs = (1 to 30).map { _ =>
      // duplicates on purpose — multiplicity weighting must match
      val base = Array.fill(1 + rnd.nextInt(40))(rnd.nextLong() & ((1L << 60) - 1))
      base ++ Array.fill(rnd.nextInt(10))(base(rnd.nextInt(base.length)))
    }
    def refSig(hs: Seq[Long], bits: Int): Long = {
      val votes = new Array[Long](bits)
      hs.groupBy(identity).foreach { case (h, occ) =>
        (0 until bits).foreach(i => votes(i) += (if (((h >> i) & 1L) == 1L) occ.size else -occ.size))
      }
      (0 until bits).foldLeft(0L)((s, i) => if (votes(i) > 0) s | (1L << i) else s)
    }
    val got = docs.map(Tuple1(_)).toDF("h")
      .select(SimHashOfTokens.simHashOfTokens(col("h"), 60))
      .collect().map(_.getLong(0))
    got.zip(docs).foreach { case (g, hs) => assert(g == refSig(hs.toSeq, 60)) }
  }

  test("SimHashOfTokens rejects null token hashes loudly (no fabricated signature)") {
    import spark.implicits._
    import graft.plans.SimHashOfTokens
    val df = Seq(Tuple1(Array[java.lang.Long](5L, null, 9L))).toDF("h")
    val ex = intercept[Exception] {
      df.select(SimHashOfTokens.simHashOfTokens(col("h"), 60)).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(_.getMessage != null) &&
      causes(ex).exists(c => c.getMessage != null && c.getMessage.contains("null token hash")),
      s"expected the strict-at-ingestion error, got: ${ex.getMessage}")
  }

  test("SQL surface: simhash_agg aggregate equals the per-row scalar formulation") {
    import spark.implicits._
    import graft.plans.SimHashOfTokens
    GraftSql.register(spark, sf0001)
    val hs = Seq(5L, 5L, 9L, 123456789L)
    hs
      .groupBy(identity).map { case (h, occ) => (h, occ.size.toLong) }.toSeq
      .toDF("h", "cnt")
      .createOrReplaceTempView("simhash_in")
    val agg = spark.sql("SELECT simhash_agg(h, cnt) AS sig FROM simhash_in").head().getLong(0)
    val scalar = Seq(Tuple1(hs.toArray)).toDF("hs")
      .select(SimHashOfTokens.simHashOfTokens(col("hs"), 60)).head().getLong(0)
    assert(agg == scalar)
  }

  test("SQL surface: array_dot and array_l2_normalize callable from spark.sql") {
    GraftSql.register(spark, sf0001)
    val r = spark
      .sql("SELECT array_dot(array_l2_normalize(array(3.0d, 4.0d)), array_l2_normalize(array(3.0d, 4.0d))) AS c")
      .head()
      .getDouble(0)
    assert(math.abs(r - 1.0) < 1e-15)
  }

  test("SQL surface: simhash_of_tokens equals the Scala API and rejects non-literal bits") {
    GraftSql.register(spark, sf0001)
    import spark.implicits._
    import graft.plans.SimHashOfTokens
    val hs = Seq(123456789L, 987654321L, 123456789L)
    val sqlSig = spark
      .sql(s"SELECT simhash_of_tokens(array(${hs.mkString("L,")}L), 60) AS s")
      .head()
      .getLong(0)
    val apiSig = Seq(Tuple1(hs.toArray)).toDF("hs")
      .select(SimHashOfTokens.simHashOfTokens(col("hs"), 60))
      .head()
      .getLong(0)
    assert(sqlSig == apiSig)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT simhash_of_tokens(array(1L), CAST(rand() * 60 AS INT))").collect()
    }
    assert(e.getMessage.contains("simhash_of_tokens"))
  }

  test("freq_item_candidates: MG superset guarantee holds across partition merges (seeded streams)") {
    import spark.implicits._
    import graft.plans.FreqItemsAgg
    val cap = 16
    Seq(1, 7, 23).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val n = 20000
      // mixture stream: 5 hot tokens share half the mass (each ~10% —
      // above the N/(cap+1) guarantee line), 20 warm tokens ~1% each
      // (below the line — may or may not survive), 5000-token cold tail
      val items = (1 to n).map { _ =>
        val u = rnd.nextDouble()
        if (u < 0.5) s"hot_${rnd.nextInt(5)}"
        else if (u < 0.7) s"warm_${rnd.nextInt(20)}"
        else s"cold_${rnd.nextInt(5000)}"
      }
      val trueCounts = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val guaranteed = trueCounts.collect { case (t, c) if c > n.toLong / (cap + 1) => t }.toSet
      assert(guaranteed.size >= 5, s"seed=$seed degenerate stream")
      val cands = items
        .toDF("token")
        .repartition(7) // forces serialize + cross-partition MG merges
        .agg(FreqItemsAgg.freqItemCandidates(col("token"), cap))
        .head()
        .getSeq[String](0)
        .toSet
      assert(cands.size <= cap)
      assert(guaranteed.subsetOf(cands), s"seed=$seed missing=${guaranteed -- cands}")
    }
  }

  test("freq_item_candidates buffer serialization roundtrip") {
    import org.apache.spark.unsafe.types.UTF8String
    val agg = graft.plans.FreqItemsAgg(org.apache.spark.sql.catalyst.expressions.Literal("x"), 8)
    val buf = agg.createAggregationBuffer()
    buf.put(UTF8String.fromString("a"), 3L)
    buf.put(UTF8String.fromString("bb"), 7L)
    buf.put(UTF8String.fromString(""), 1L)
    assert(agg.deserialize(agg.serialize(buf)) == buf)
    assert(agg.deserialize(agg.serialize(agg.createAggregationBuffer())).isEmpty)
  }

  test("c41 sketch+verify equals the plain exact heavy-hitter computation") {
    import graft.operators.TextAnalysis
    val toks = graft.sources.Tables
      .documents(spark, sf0001)
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("token"))
    val total = toks.count()
    val exact = toks
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * lit(100L) >= lit(total))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toSet
    val got = TextAnalysis
      .c41HeavyHitters(spark, sf0001)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toSet
    assert(got == exact && got.nonEmpty)
  }

  test("SQL surface: freq_item_candidates finds all values of a low-cardinality column") {
    GraftSql.register(spark, sf0001)
    val langs = spark.sql("SELECT DISTINCT lang FROM documents").collect().map(_.getString(0)).toSet
    assert(langs.size <= 8, "test premise: lang cardinality fits the capacity")
    val cands = spark
      .sql("SELECT freq_item_candidates(lang, 8) AS c FROM documents")
      .head()
      .getSeq[String](0)
      .toSet
    assert(cands == langs)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT freq_item_candidates(lang, CAST(rand() * 8 AS INT)) FROM documents").collect()
    }
    assert(e.getMessage.contains("freq_item_candidates"))
  }

  test("s2 partition pruning reaches the file source") {
    graft.sources.Formats.s2PartitionedWrite(spark, sf0001).count() // materialize layout
    val pruned = spark.read
      .parquet(graft.sources.Formats.s2PartitionedDir(spark, sf0001))
      .filter(col("o_year") === 1997)
    val planStr = pruned.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters") && planStr.contains("o_year"))
  }
}
