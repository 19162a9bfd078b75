package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf

import graft.SparkEntry

/** A/B of engine settings over unchanged gate queries: each variant is
  * a named set of runtime SQL confs, so no operator needs a parameter
  * to be A/B'd.
  *
  * {{{
  * SPARK_GRAFT_CPUS=8 runMain graft.tools.Ab <sfDir> <q1,q2,...> [--passes N] [--variant name:k=v,k=v]...
  * }}}
  *
  * A variant's confs are set around each of its runs and restored
  * after. One warm-up pass writes each (query, variant) output to a
  * temporary parquet directory: its row count, and the identity check,
  * `exceptAll` both ways against the first variant. Then `--passes`
  * timed passes (default 5 with two or more variants, else 1) build
  * each query and run it into a `noop` write, as `graft.Bench` does;
  * each pass alternates which variant runs first. Prints one JSON line
  * per (query, variant), then the mismatches; exits non-zero on any.
  */
object Ab {
  final case class Variant(name: String, confs: Seq[(String, String)])
  final case class Timing(query: String, variant: String, rows: Long, secs: Seq[Double])
  final case class Report(timings: Seq[Timing], mismatches: Seq[String])

  /** `name:k=v,k=v`; `name:` alone runs the session's settings. */
  def parseVariant(spec: String): Variant = {
    val (name, rest) = spec.span(_ != ':')
    require(name.nonEmpty && rest.nonEmpty, s"variant '$spec' is not name:k=v[,k=v...]")
    Variant(name, rest.drop(1).split(",").toSeq.filter(_.nonEmpty).map { kv =>
      val (k, v) = (kv.takeWhile(_ != '=').trim, kv.dropWhile(_ != '=').drop(1).trim)
      require(k.nonEmpty && v.nonEmpty, s"variant '$name': '$kv' is not k=v")
      k -> v
    })
  }

  /** Runs `body` with `v`'s confs set, then restores each to its prior
    * explicit value or unsets it. A static conf, one Spark does not
    * know, or a value Spark rejects fails naming the variant.
    */
  def withConfs[T](spark: SparkSession, v: Variant)(body: => T): T = {
    var prior = List.empty[(String, Option[String])] // the confs set so far
    try {
      v.confs.foreach { case (k, x) =>
        require(spark.conf.isModifiable(k), s"variant '${v.name}': $k is " + (
          if (SQLConf.isStaticConfigKey(k)) "a static conf, fixed when the session starts; A/B it across JVMs"
          else "not a runtime SQL conf this Spark knows"))
        val was = spark.conf.getAll.get(k)
        try spark.conf.set(k, x)
        catch {
          case e: Exception =>
            throw new IllegalArgumentException(s"variant '${v.name}': cannot set $k=$x: ${e.getMessage}", e)
        }
        prior ::= k -> was
      }
      body
    } finally prior.foreach { case (k, o) => o.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  def run(spark: SparkSession, sfDir: String, queries: Seq[String], variants: Seq[Variant], passes: Int): Report = {
    val unknown = queries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    require(passes >= 1, s"--passes must be at least 1, got $passes")
    val vs = if (variants.isEmpty) Seq(Variant("session", Nil)) else variants
    require(vs.map(_.name).distinct.size == vs.size, s"variant names repeat: ${vs.map(_.name).mkString(",")}")
    vs.foreach(withConfs(spark, _)(())) // fail on a bad conf before anything runs
    val out = Files.createTempDirectory("graft-ab").toFile
    def dir(q: String, v: Variant) = s"${out.getPath}/$q/${v.name}"
    def build(q: String) = SparkEntry.queries(q)(spark, sfDir)
    try {
      for (q <- queries; v <- vs) withConfs(spark, v)(build(q).write.parquet(dir(q, v)))
      val secs = (0 until passes).flatMap { p =>
        for (q <- queries; v <- if (p % 2 == 0) vs else vs.reverse) yield (q, v.name) -> withConfs(spark, v) {
          val t0 = System.nanoTime()
          build(q).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
      }.groupMap(_._1)(_._2)
      def read(q: String, v: Variant) = spark.read.parquet(dir(q, v))
      val timings = for (q <- queries; v <- vs) yield Timing(q, v.name, read(q, v).count(), secs((q, v.name)))
      val mismatches = for (q <- queries; v <- vs.drop(1)) yield {
        val (a, b) = (read(q, vs.head), read(q, v))
        if (a.schema != b.schema) Some(s"$q: ${v.name}'s schema ${b.schema.simpleString} != ${a.schema.simpleString}")
        else {
          val (onlyA, onlyB) = (a.exceptAll(b).count(), b.exceptAll(a).count())
          Option.when(onlyA + onlyB > 0)(s"$q: $onlyA rows only under ${vs.head.name}, $onlyB only under ${v.name}")
        }
      }
      Report(timings, mismatches.flatten)
    } finally org.apache.spark.network.util.JavaUtils.deleteRecursively(out)
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: Ab <sfDir> <q1,q2,...> [--passes N] [--variant name:k=v,k=v]..."
    val opts = args.drop(2).grouped(2).map(_.toSeq).toSeq
    require(args.length >= 2 && opts.forall(o => o.size == 2 && Set("--passes", "--variant")(o.head)), usage)
    val variants = opts.collect { case Seq("--variant", s) => parseVariant(s) }
    val passes = opts.collectFirst { case Seq("--passes", n) => n.toInt }.getOrElse(if (variants.size >= 2) 5 else 1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.core.GraftSession.builder(master = s"local[$cpus]", shufflePartitions = cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val report = try run(spark, args(0), args(1).split(",").toSeq, variants, passes) finally spark.stop()
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    report.timings.foreach { t =>
      val s = t.secs.sorted
      val median = (s((s.size - 1) / 2) + s(s.size / 2)) / 2
      println(s"""{"query":${str(t.query)},"variant":${str(t.variant)},"rows":${t.rows},""" +
        f""""median_s":$median%.3f,"secs":${t.secs.map(x => f"$x%.3f").mkString("[", ",", "]")}}""")
    }
    println(s"""{"mismatches":${report.mismatches.map(str).mkString("[", ",", "]")}}""")
    if (report.mismatches.nonEmpty) sys.exit(1)
  }
}
