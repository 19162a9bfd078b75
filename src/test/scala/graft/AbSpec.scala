package graft

import graft.tools.Ab

class AbSpec extends SparkSpec {

  test("Ab: two shuffle-partition variants of an integer gate query are identical, timed once per pass") {
    val before = spark.conf.getAll
    val variants = Seq("p2:spark.sql.shuffle.partitions=2", "p7:spark.sql.shuffle.partitions=7").map(Ab.parseVariant)
    val r = Ab.run(spark, sf0001, Seq("b18_custdist"), variants, passes = 3)
    assert(r.mismatches.isEmpty)
    assert(r.timings.map(t => (t.query, t.variant)) == Seq(("b18_custdist", "p2"), ("b18_custdist", "p7")))
    assert(r.timings.forall(t => t.secs.size == 3 && t.secs.forall(_ > 0)))
    assert(r.timings.map(_.rows).distinct.size == 1 && r.timings.head.rows > 0)
    assert(spark.conf.getAll == before, "Ab must restore the confs it set")
  }

  test("Ab: a variant whose confs do not parse fails with a message that names it") {
    val before = spark.conf.getAll
    def fails(variants: String*): String =
      intercept[IllegalArgumentException](
        Ab.run(spark, sf0001, Seq("b18_custdist"), variants.map(Ab.parseVariant), passes = 1)
      ).getMessage
    assert(fails("ok:spark.sql.shuffle.partitions=2", "bad:spark.sql.shuffle.partitions=many").contains("variant 'bad'"))
    assert(fails("typo:spark.sql.shufle.partitions=2").contains("variant 'typo'"))
    val static = fails("cache:spark.sql.codegen.cache.maxEntries=10")
    assert(static.contains("variant 'cache'") && static.contains("static"))
    assert(intercept[IllegalArgumentException](Ab.parseVariant("half:spark.sql.shuffle.partitions")).getMessage
      .contains("variant 'half'"))
    assert(spark.conf.getAll == before, "a failed variant must leave the confs as they were")
  }
}
