package graftbench

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Turns a run's samples into the named metrics of `BENCHMARK.json`. */
object Metrics {

  type Named = Seq[(String, (Double, String))]

  /** Nearest-rank quantile; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  final case class EndToEnd(
      setupS: Double,
      passS: Seq[Double],
      queryS: Seq[Double],
      peakRssMb: Double,
      rowsPerS: Map[String, Seq[Double]],
      lagMs: Map[String, Seq[Double]]
  )

  def endToEnd(e: EndToEnd): Named =
    Seq(
      "setup_s" -> (e.setupS -> "s"),
      "pass_s" -> (median(e.passS) -> "s"),
      "query_s.p50" -> (quantile(e.queryS, 0.5) -> "s"),
      "query_s.p80" -> (quantile(e.queryS, 0.8) -> "s"),
      "peak_rss_mb" -> (e.peakRssMb -> "MB")
    ) ++ Stream.Topologies.flatMap { t =>
      Seq(
        s"$t.rows_per_s" -> (median(e.rowsPerS(t)) -> "rows/s"),
        s"$t.lag_ms.p50" -> (quantile(e.lagMs(t), 0.5) -> "ms"),
        s"$t.lag_ms.p99" -> (quantile(e.lagMs(t), 0.99) -> "ms")
      )
    }

  final case class PassLayers(wallS: Double, gcS: Double, buildS: Double, actionS: Double, counters: Counters)

  final case class Layers(
      sessionS: Seq[Double],
      passes: Seq[PassLayers],
      overheadPct: Double,
      codegenMs: Double,
      codegenCompiles: Long,
      legs: Seq[LegResult]
  )

  /** Per-pass counters are medians over the traced timed passes; stream
    * figures come from the stream phase's micro-batches. The batch count
    * and peak state rows cover the closed loop only, whose micro-batches
    * are fixed by the seed; the open loop's follow the timing.
    */
  def perLayer(l: Layers): Named = {
    def per(f: PassLayers => Double): Double = median(l.passes.map(f))
    def c(f: Counters => Long): Double = per(p => f(p.counters).toDouble)
    def phase(p: StreamingQueryProgress, k: String): Double = Option(p.durationMs.get(k)).fold(0.0)(_.toDouble)
    def states(p: StreamingQueryProgress) = Option(p.stateOperators).toSeq.flatten
    val closed = l.legs.flatMap(_.closedBatches)
    val all = l.legs.flatMap(_.progress)
    Seq(
      "core.session_s" -> (median(l.sessionS) -> "s"),
      "core.gc_s" -> (per(_.gcS) -> "s"),
      "sources.input_rows" -> (c(_.inputRows) -> "rows"),
      "sources.input_bytes" -> (c(_.inputBytes) -> "bytes"),
      "sources.scan_tasks" -> (c(_.scanTasks) -> "count"),
      "sources.output_rows" -> (c(_.outputRows) -> "rows"),
      "sources.output_bytes" -> (c(_.outputBytes) -> "bytes"),
      "operators.build_s" -> (per(_.buildS) -> "s"),
      "operators.build_jobs" -> (c(_.buildJobs) -> "count"),
      "operators.action_s" -> (per(_.actionS) -> "s"),
      "operators.action_jobs" -> (c(_.actionJobs) -> "count"),
      "operators.jobs" -> (c(_.jobs) -> "count"),
      "operators.stages" -> (c(_.stages) -> "count"),
      "operators.tasks" -> (c(_.tasks) -> "count"),
      "operators.tasks_per_stage" -> (per(p => p.counters.tasks.toDouble / p.counters.stages.max(1L)) -> "ratio"),
      "operators.busy_cores" -> (per(p => p.counters.taskRunMs / 1e3 / p.wallS) -> "cores"),
      "operators.shuffle_read_bytes" -> (c(_.shuffleReadBytes) -> "bytes"),
      "operators.shuffle_write_bytes" -> (c(_.shuffleWriteBytes) -> "bytes"),
      "operators.spill_bytes" -> (c(_.spillBytes) -> "bytes"),
      "operators.materialized_bytes" -> (c(_.materializedBytes) -> "bytes"),
      "operators.task_retries" -> (c(_.taskRetries) -> "count"),
      "plans.plan_ms" -> (c(_.planMs) -> "ms"),
      "plans.codegen_ms" -> (l.codegenMs -> "ms"),
      "plans.codegen_compiles" -> (l.codegenCompiles.toDouble -> "count"),
      "plans.task_cpu_s" -> (per(_.counters.taskCpuNs / 1e9) -> "s"),
      "streaming.batches" -> (closed.size.toDouble -> "count"),
      "streaming.rows_per_batch.p50" -> (median(closed.map(_.numInputRows.toDouble)) -> "rows"),
      "streaming.exec_ms.p50" -> (median(all.map(phase(_, "addBatch"))) -> "ms"),
      "streaming.batch_ms.p50" -> (median(all.map(phase(_, "triggerExecution"))) -> "ms"),
      "streaming.plan_ms.p50" -> (median(all.map(phase(_, "queryPlanning"))) -> "ms"),
      "streaming.log_ms.p50" -> (median(all.map(p => phase(p, "walCommit") + phase(p, "commitOffsets"))) -> "ms"),
      "streaming.state_commit_ms.p50" -> (median(all.map(states(_).map(_.commitTimeMs).sum.toDouble)) -> "ms"),
      "streaming.state_rows.peak" -> (closed.map(states(_).map(_.numRowsTotal).sum.toDouble).maxOption.getOrElse(0.0) -> "rows"),
      "streaming.state_mem_bytes.peak" -> (all.map(states(_).map(_.memoryUsedBytes).sum.toDouble).maxOption.getOrElse(0.0) -> "bytes"),
      "streaming.backlog_rows.max" -> (l.legs.map(_.backlogMax.toDouble).maxOption.getOrElse(0.0) -> "rows"),
      "streaming.generator_late_ms.max" -> (l.legs.map(_.generatorLateMs).maxOption.getOrElse(0.0) -> "ms"),
      "streaming.late_drops" -> (all.flatMap(states).map(_.numRowsDroppedByWatermark).sum.toDouble -> "count"),
      "trace.overhead_pct" -> (l.overheadPct -> "%")
    )
  }

}
