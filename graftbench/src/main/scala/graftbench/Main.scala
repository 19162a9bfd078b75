package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.graftbench.ListenerBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** The graft benchmark harness: one workload, one JVM, `local[cpus]`.
  *
  *   graftbench.Main --workload curation|stream --seed N
  *     --seconds S --trace 0|1 --data DIR --tmp DIR --expected FILE
  *     --cpus N --spans FILE [--record] [--smoke]
  *
  * A traced run writes its spans, with self times, to the --spans file.
  * Prints a run record line and a result line (see [[Bench.run]]). `graftbench/run.py`
  * builds the classpath, generates the data and starts this JVM.
  */
object Main {

  final case class Config(
      workload: String,
      seed: Long,
      seconds: Double,
      trace: Boolean,
      data: String,
      tmp: String,
      expected: String,
      cpus: Int,
      record: Boolean,
      smoke: Boolean,
      spans: String
  )

  def parse(args: Array[String]): Config = {
    val flags = Set("--record", "--smoke")
    val kv = mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      if (flags(args(i))) { kv(args(i)) = "1"; i += 1 }
      else { kv(args(i)) = args(i + 1); i += 2 }
    }
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing $k"))
    val workload = need("--workload")
    require(Seq("curation", "stream").contains(workload), s"unknown workload $workload")
    Config(
      workload,
      need("--seed").toLong,
      need("--seconds").toDouble,
      need("--trace") == "1",
      need("--data"),
      need("--tmp"),
      need("--expected"),
      need("--cpus").toInt,
      kv.contains("--record"),
      kv.contains("--smoke"),
      need("--spans")
    )
  }

  def main(args: Array[String]): Unit = {
    val processStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val bench = new Bench(parse(args), processStartMs)
    val out =
      try bench.run()
      finally bench.close()
    out.foreach(println)
  }
}

/** The curation workload: the queries of a pass, and the query that
  * stands in for the dedup and for the join topology, with the table it
  * reads. Curation reports `dedup.*` and `join.*` from those queries:
  * rows/s is the table's rows over the query's median latency, and the
  * latency quantiles are over its timed executions: one per pass, so
  * with fewer than 101 passes the nearest-rank p99 is the slowest one.
  */
object Curation {
  val Queries = Seq("c4_dedup_simhash", "c78_bitext_margin", "c108_ann_imi_adc")
  val Dedup = ("c4_dedup_simhash", "documents")
  val Join = ("c78_bitext_margin", "embeddings")

  def standIn(topology: String): (String, String) = if (topology == "dedup") Dedup else Join

  /** Timed passes go on past `--seconds` until there are this many
    * (query, pass) samples, so that at least 7 lie beyond p80.
    */
  val MinQuerySamples = 36

  /** Untimed warm passes after the cold pass: on a 4-core machine query
    * times fall by half over the first 20 or so passes as the JIT compiles
    * Spark's planning and execution paths, and samples taken on that slope
    * differ from run to run.
    */
  val WarmPasses = 5
}

/** The stream phase: the first `events` events of the replay, and how
  * each topology is driven over them (see [[LegPlan]]).
  */
final case class StreamPlan(events: Int, dedup: LegPlan, join: LegPlan) {
  def apply(topology: String): LegPlan = if (topology == "dedup") dedup else join
}

object StreamPlan {
  /** The stream workload. */
  val full = StreamPlan(
    events = 2100,
    dedup = LegPlan(primeRows = 200, warmChunks = 1, chunks = 6, chunkRows = 200, rate = 150),
    join = LegPlan(primeRows = 80, warmChunks = 0, chunks = 3, chunkRows = 100, rate = 90)
  )

  val smoke = StreamPlan(
    events = 600,
    dedup = LegPlan(primeRows = 100, warmChunks = 1, chunks = 2, chunkRows = 100, rate = 400),
    join = LegPlan(primeRows = 50, warmChunks = 1, chunks = 2, chunkRows = 30, rate = 150)
  )
}

final case class QuerySample(query: String, buildS: Double, actionS: Double)

/** One timed unit: a batch pass over the workload's queries, or one
  * closed-loop chunk of a stream topology.
  */
final case class Pass(scope: String, wallS: Double, samples: Seq[QuerySample], gcS: Double, traced: Boolean)

final class Bench(cfg: Main.Config, processStartMs: Double) {

  private val tracer = new Tracer
  private val probe = if (cfg.trace) Some(new Probe(tracer)) else None
  private var tracing = false

  private var spark: SparkSession = _
  private val sessionS = mutable.ArrayBuffer.empty[Double]
  private var attempted = 0L
  private var failed = 0L
  private val problems = mutable.ArrayBuffer.empty[String]

  /** The expected fingerprints: one `name rows:hash` line per query or
    * stream topology; `#` starts a comment.
    */
  private def readExpected(): Map[String, String] =
    if (!Files.exists(Paths.get(cfg.expected))) Map.empty
    else
      Files
        .readAllLines(Paths.get(cfg.expected), StandardCharsets.UTF_8)
        .asScala
        .map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l =>
          val Array(k, v) = l.split("\\s+")
          k -> v
        }
        .toMap

  private val expected: Map[String, Fingerprint] =
    if (cfg.record) Map.empty else readExpected().map { case (k, v) => k -> Fingerprint.parse(v) }
  private val recorded = mutable.LinkedHashMap.empty[String, Fingerprint]

  private val plan = if (cfg.smoke) StreamPlan.smoke else StreamPlan.full
  private val batch = cfg.workload == "curation"
  private val queries = if (batch) Curation.Queries else Nil

  private def nowMs(): Double = tracer.nowMs()

  private def openSession(): Unit = {
    val t0 = System.nanoTime()
    spark = GraftSession
      .builder(master = s"local[${cfg.cpus}]", shufflePartitions = cfg.cpus)
      .config("spark.sql.warehouse.dir", s"${cfg.tmp}/warehouse")
      .config("spark.local.dir", s"${cfg.tmp}/local")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    sessionS += (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("WARN")
    probe.foreach { p =>
      spark.sparkContext.addSparkListener(p)
      spark.listenerManager.register(p)
    }
  }

  def close(): Unit = if (spark != null) {
    spark.stop()
    spark = null
  }

  private def span[T](parent: Long, kind: String, name: String)(body: Long => T): T =
    if (tracing) tracer.span(parent, kind, name)(body) else body(0L)

  /** In a traced run, delivers every pending listener event; called
    * before the harness changes scope or flips [[Probe.enabled]], so that
    * no event is charged to the next pass.
    */
  private def drain(): Unit = if (cfg.trace) ListenerBus.drain(spark.sparkContext)

  private def setTracing(on: Boolean): Unit = {
    drain()
    tracing = on
    probe.foreach(_.enabled = on)
  }

  private def enter(scope: String, span: Long): Unit = probe.foreach(_.enter(scope, span))

  private def check(key: String, fp: Fingerprint): Boolean =
    if (cfg.record) { recorded(key) = fp; true }
    else
      expected.get(key) match {
        case Some(e) if e == fp => true
        case other =>
          problems += s"$key: expected ${other.getOrElse("none")}, got $fp"
          false
      }

  /** Runs one operation, counting it as attempted and, if it throws or
    * returns false, as failed.
    */
  private def operation(name: String)(body: => Boolean): Boolean = {
    attempted += 1
    val ok =
      try body
      catch {
        case NonFatal(e) =>
          problems += s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          false
      }
    if (!ok) failed += 1
    ok
  }

  // ---- batch -------------------------------------------------------------

  /** Runs each query once: the build phase (the query function, which may
    * run eager jobs) and the action phase (a `noop` write, or the
    * fingerprint when `verify`).
    */
  private def batchPass(scope: String, order: Seq[String], verify: Boolean, parent: Long): Pass = {
    val gc0 = gcMs()
    val t0 = System.nanoTime()
    val samples = span(parent, "pass", scope) { passSpan =>
      enter(scope, passSpan)
      order.flatMap { q =>
        val sc = spark.sparkContext
        var sample: Option[QuerySample] = None
        span(passSpan, "query", q) { qSpan =>
          operation(s"$scope/$q") {
            try {
              val tb = System.nanoTime()
              val df = span(qSpan, "build", q) { id =>
                val g = Probe.group(scope, q, "build")
                probe.foreach(_.bindGroup(g, id))
                sc.setJobGroup(g, q)
                graft.SparkEntry.queries(q)(spark, cfg.data)
              }
              val ta = System.nanoTime()
              val ok = span(qSpan, "action", q) { id =>
                val g = Probe.group(scope, q, "action")
                probe.foreach(_.bindGroup(g, id))
                sc.setJobGroup(g, q)
                if (verify) check(q, Fingerprint.of(df))
                else { df.write.format("noop").mode("overwrite").save(); true }
              }
              val te = System.nanoTime()
              sample = Some(QuerySample(q, (ta - tb) / 1e9, (te - ta) / 1e9))
              ok
            } finally sc.clearJobGroup()
          }
        }
        sample
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    drain()
    Pass(scope, wall, samples, (gcMs() - gc0) / 1e3, tracing)
  }

  // ---- stream ------------------------------------------------------------

  private var replay: Replay = _

  private def batchSpans(parent: Long, leg: LegResult): Unit = if (tracing) {
    for (p <- leg.progress) {
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
      val id = tracer.nextId()
      tracer.add(Span(id, parent, "batch", s"${leg.topology}#${p.batchId}", start, start + d.getOrElse("triggerExecution", 0.0)))
      Seq("latestOffset", "queryPlanning", "walCommit", "getBatch", "addBatch", "commitOffsets").foldLeft(start) { (at, phase) =>
        val ms = d.getOrElse(phase, 0.0)
        tracer.add(Span(tracer.nextId(), id, "phase", phase, at, at + ms))
        at + ms
      }
    }
  }

  /** Drives each topology over the replay and checks its sink's output.
    * In a traced run of the stream workload, closed-loop chunks alternate
    * between traced and untraced, to measure the tracing overhead.
    */
  private def streamPhase(parent: Long): Unit = {
    val gc0 = gcMs()
    val t0 = System.nanoTime()
    for (t <- Stream.Topologies) span(parent, "leg", t) { id =>
      enter("stream", id)
      val flags = mutable.ArrayBuffer.empty[Boolean]
      def onChunk(i: Int): Unit = {
        startTimed()
        setTracing(cfg.trace && i % 2 == 0)
        flags += tracing
      }
      operation(s"stream/$t") {
        val r = Stream.run(spark, replay, t, plan(t), cfg.cpus, cfg.tmp, onChunk)
        setTracing(cfg.trace)
        batchSpans(id, r)
        legs += r
        chunks ++= r.chunkS.zip(flags).map { case (s, f) => Pass(s"stream/$t", s, Nil, 0.0, f) }
        check(s"$t@${plan.events}", r.output)
      }
    }
    drain()
    streamWall = ((System.nanoTime() - t0) / 1e9, (gcMs() - gc0) / 1e3)
  }

  // ---- run ---------------------------------------------------------------

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  private def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala.find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  private val passes = mutable.ArrayBuffer.empty[Pass]
  private val legs = mutable.ArrayBuffer.empty[LegResult]
  private val chunks = mutable.ArrayBuffer.empty[Pass]
  private var streamWall = (0.0, 0.0)

  private var tableRows = Map.empty[String, Long]

  /** The set-up: JVM and session start, then the cold pass, in fixed
    * order, that runs every batch query once, and [[Curation.WarmPasses]]
    * warm passes. The cold and the first warm pass check every query's
    * output, the warm pass with AppScopedCache filled, so that the cache
    * hits timed passes rely on are checked too. For the stream workload,
    * loading the replay; each topology then warms up before its timed
    * chunks (see [[LegPlan]]).
    */
  private def setUp(): Unit = {
    openSession()
    if (batch) {
      val tables = Stream.Topologies.map(t => Curation.standIn(t)._2)
      tableRows = tables.map(t => t -> spark.read.parquet(s"${cfg.data}/$t.parquet").count()).toMap
      coldS = queries.map(q => q -> batchPass("setup", Seq(q), verify = true, 0L).wallS)
      if (!cfg.smoke) for (i <- 0 until Curation.WarmPasses) batchPass(s"warm$i", queries, verify = i == 0, 0L)
    } else replay = Replay.load(spark, cfg.data, plan.events, cfg.seed)
  }

  private var coldS = Seq.empty[(String, Double)]

  /** `setup_s`: from JVM start to the first timed operation. */
  private var setupS = -1.0

  private def startTimed(): Unit = if (setupS < 0) setupS = (nowMs() - processStartMs) / 1e3

  private def orderFor(pass: Int): Seq[String] = new scala.util.Random(cfg.seed * 1000003L + pass).shuffle(queries)

  /** The run: the set-up, then timed batch passes for `--seconds` and
    * until there are [[Curation.MinQuerySamples]] samples, or the stream
    * phase. In a traced run, batch passes alternate between traced and
    * untraced. Returns the run record line and the result line.
    */
  def run(): Seq[String] = {
    val loadStart = loadAvg()
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    setUp()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    val codegenMs = compiles * CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean

    val root = tracer.nextId()
    val rootStart = nowMs()
    if (batch) {
      val minPasses = if (cfg.trace) 2 else 1
      val deadline = System.nanoTime() + (cfg.seconds * 1e9).toLong
      startTimed()
      var n = 0
      def more = System.nanoTime() < deadline || n * queries.size < Curation.MinQuerySamples
      while (n < minPasses || (!cfg.smoke && more)) {
        setTracing(cfg.trace && n % 2 == 0)
        passes += batchPass(s"p$n", orderFor(n), verify = false, root)
        n += 1
      }
    }
    setTracing(cfg.trace)
    if (!batch) streamPhase(root)

    if (cfg.trace) tracer.add(Span(root, 0L, "workload", cfg.workload, rootStart, nowMs()))
    val metrics =
      if (cfg.trace) Metrics.perLayer(layerInputs(codegenMs, compiles))
      else Metrics.endToEnd(endToEndInputs(setupS))
    if (cfg.record) writeExpected()
    if (cfg.trace) writeSpans(cfg.spans)
    val record = Json.obj(
      "record" -> Json.obj(
        "workload" -> Json.str(cfg.workload),
        "seed" -> Json.num(cfg.seed.toDouble),
        "trace" -> Json.bool(cfg.trace),
        "cores_used" -> Json.num(cfg.cpus.toDouble),
        "jvm" -> Json.str(s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}"),
        "load_1m_start" -> Json.num(loadStart),
        "load_1m_end" -> Json.num(loadAvg()),
        "timed_passes" -> Json.num(passes.size.toDouble),
        "query_samples" -> Json.num(passes.map(_.samples.size).sum.toDouble),
        "closed_loop_chunks" -> Json.num(chunks.size.toDouble),
        "session_s" -> Json.arr(sessionS.map(Json.num).toSeq),
        "cold_query_s" -> Json.obj(coldS.map { case (q, s) => q -> Json.num(s) }: _*),
        "timed_s" -> Json.obj(
          (queries.map(q => q -> passes.flatMap(_.samples).filter(_.query == q).map(s => s.buildS + s.actionS).toSeq) ++
            legs.map(l => s"${l.topology}.batch" -> l.closedBatches.map(_.durationMs.get("triggerExecution").toDouble / 1e3)) ++
            legs.map(l => s"${l.topology}.chunk" -> l.chunkS)).map { case (k, v) => k -> Json.arr(v.map(x => Json.num(math.rint(x * 1e3) / 1e3))) }: _*),
        "offered_rows_per_s" ->
          Json.obj((if (batch) Nil else Stream.Topologies).map(t => t -> Json.num(plan(t).rate)): _*),
        "spans" -> (if (cfg.trace) Json.str(cfg.spans) else "null"),
        "problems" -> Json.arr(problems.map(Json.str).toSeq)
      )
    )
    val result = Json.obj(
      "correct" -> Json.bool(failed == 0),
      "attempted" -> Json.num(attempted.toDouble),
      "failed" -> Json.num(failed.toDouble),
      "metrics" -> Json.obj(metrics.map { case (k, (v, unit)) => k -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(unit)) }: _*)
    )
    Seq(record, result)
  }

  private def loadAvg(): Double =
    try Files.readAllLines(Paths.get("/proc/loadavg")).get(0).split(" ")(0).toDouble
    catch { case NonFatal(_) => -1.0 }

  /** Curation's timed samples are its passes and queries; the
    * stream workload's are its closed-loop chunks and their micro-batches.
    */
  private def endToEndInputs(setupS: Double): Metrics.EndToEnd =
    if (batch) {
      def latencies(t: String) =
        passes.flatMap(_.samples).filter(_.query == Curation.standIn(t)._1).map(s => s.buildS + s.actionS).toSeq
      Metrics.EndToEnd(
        setupS = setupS,
        passS = passes.map(_.wallS).toSeq,
        queryS = passes.flatMap(_.samples.map(s => s.buildS + s.actionS)).toSeq,
        peakRssMb = peakRssMb(),
        rowsPerS = Stream.Topologies.map(t => t -> Seq(tableRows(Curation.standIn(t)._2) / Metrics.median(latencies(t)))).toMap,
        lagMs = Stream.Topologies.map(t => t -> latencies(t).map(_ * 1e3)).toMap
      )
    } else {
      Metrics.EndToEnd(
        setupS = setupS,
        passS = Seq(legs.map(l => l.chunkS.size * Metrics.median(l.chunkS)).sum),
        queryS = legs.flatMap(l => l.closedBatches.map(_.durationMs.get("triggerExecution").toDouble / 1e3)).toSeq,
        peakRssMb = peakRssMb(),
        rowsPerS = Stream.Topologies.map(t => t -> legs.filter(_.topology == t).map(l => l.closedRows.toDouble / l.chunkS.size / Metrics.median(l.chunkS)).toSeq).toMap,
        lagMs = Stream.Topologies.map(t => t -> legs.filter(_.topology == t).flatMap(_.lagsMs).toSeq).toMap
      )
    }

  /** Per-layer counters come from the traced passes; the stream
    * workload's from its whole stream phase.
    */
  private def layerInputs(codegenMs: Double, compiles: Long): Metrics.Layers = {
    val timed = if (batch) passes.toSeq else chunks.toSeq
    val traced = timed.filter(_.traced)
    val untraced = timed.filter(!_.traced)
    val counted =
      if (batch) traced
      else Seq(Pass("stream", streamWall._1, Nil, streamWall._2, traced = true))
    Metrics.Layers(
      sessionS = sessionS.toSeq,
      passes = counted.map { p =>
        Metrics.PassLayers(p.wallS, p.gcS, p.samples.map(_.buildS).sum, p.samples.map(_.actionS).sum, probe.get.get(p.scope))
      },
      overheadPct =
        if (traced.isEmpty || untraced.isEmpty) 0.0
        else 100.0 * (Metrics.median(traced.map(_.wallS)) / Metrics.median(untraced.map(_.wallS)) - 1.0),
      codegenMs = codegenMs,
      codegenCompiles = compiles,
      legs = legs.toSeq
    )
  }

  private def writeExpected(): Unit = {
    val merged = readExpected() ++ recorded.map { case (k, v) => k -> v.toString }
    val header = s"# query-or-leg  rows:hash  (Fingerprint, ${Fingerprint.SignificantDigits} significant digits)"
    val lines = header +: merged.toSeq.sortBy(_._1).map { case (k, v) => s"$k $v" }
    Files.write(Paths.get(cfg.expected), (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }

  private def writeSpans(path: String): Unit = {
    val rows = tracer.selfTimes.map { case (s, self) =>
      Json.obj(
        "id" -> Json.num(s.id.toDouble),
        "parent" -> Json.num(s.parent.toDouble),
        "kind" -> Json.str(s.kind),
        "name" -> Json.str(s.name),
        "start_ms" -> Json.num(s.start),
        "end_ms" -> Json.num(s.end),
        "self_ms" -> Json.num(self)
      )
    }
    Files.write(Paths.get(path), Json.arr(rows).getBytes(StandardCharsets.UTF_8))
  }
}
