package perfbench

import scala.collection.mutable

/** Turns the traced operations into the per-layer metrics.
  *
  * Every metric is a per-pass total, reported as the median over the run's
  * traced passes. Span tree of one operation: op → construct | action →
  * stream batch → Spark job. A layer's self time is its span minus the
  * part its children cover; `self.harness_ms` is the operation's wall
  * outside construct and action, so the five `self.*` values of an
  * operation sum to its wall by definition.
  */
object Layers {

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private def batchSpan(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Span = {
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    Span(start, start + dur(p, "triggerExecution"))
  }

  private def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  def summarize(workload: String, cores: Int,
      rows: Seq[(Int, Main.OpRecord, OpEvents, Span, Span, Span)],
      passes: Seq[(Int, Boolean, Double, Int)],
      sourceProbes: Seq[(Double, Long, Long)]): Map[String, Double] = {
    val perPass = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Double]]
    rows.foreach { case (pass, rec, ev, w, c, a) =>
      val m = perPass.getOrElseUpdate(pass, mutable.Map.empty[String, Double].withDefaultValue(0.0))
      def add(k: String, v: Double): Unit = m(k) = m(k) + v
      val jobs = ev.jobs.values.map { case (s, e) => Span(s, if (e.isNaN) w.end else e) }.toSeq
      val batches = ev.batches.toSeq.map(batchSpan)
      val jobMs = Span.unionMs(jobs, w)
      // self times
      val childC = Span.unionMs(jobs ++ batches, c)
      val childA = Span.unionMs(jobs ++ batches, a)
      val selfJobs = Span.unionMs(jobs, c) + Span.unionMs(jobs, a)
      val selfs = Seq(
        "self.harness_ms" -> (w.ms - c.ms - a.ms),
        "self.construct_ms" -> (c.ms - childC),
        "self.action_ms" -> (a.ms - childA),
        "self.stream_ms" -> (childC + childA - selfJobs),
        "self.jobs_ms" -> selfJobs)
      selfs.foreach { case (k, v) => add(k, v) }

      if (workload == "etl_snapshot") {
        add("pipeline.run_ms", c.ms); add("pipeline.sink_ms", a.ms)
        add("pipeline.output_rows", rec.count.toDouble)
      }
      add("queries.construct_ms", c.ms); add("queries.action_ms", a.ms)
      if (workload == "queries") {
        add(s"queries.${rec.name}.wall_ms", w.ms); add(s"queries.${rec.name}.jobs", jobs.size)
      }
      add("catalyst.analysis_ms", ev.analysisMs.toDouble)
      add("catalyst.optimization_ms", ev.optimizationMs.toDouble)
      add("catalyst.planning_ms", ev.planningMs.toDouble)
      add("codegen.compiles", ev.codegenCompiles.toDouble)
      add("codegen.compile_ms", ev.codegenNs / 1e6)
      add("scheduler.jobs", jobs.size); add("scheduler.stages", ev.stages.toDouble)
      add("scheduler.tasks", ev.tasks.toDouble); add("scheduler.job_ms", jobMs)
      add("scheduler.driver_gap_ms", w.ms - jobMs); add("scheduler.aqe_replans", ev.aqeReplans.toDouble)
      add("executor.task_ms", ev.taskMs.toDouble); add("executor.cpu_ms", ev.cpuMs.toDouble)
      add("executor.gc_ms", ev.gcMs.toDouble); add("executor.input_bytes", ev.inputBytes.toDouble)
      add("shuffle.write_bytes", ev.shuffleWriteBytes.toDouble)
      add("shuffle.records", ev.shuffleRecords.toDouble)
      add("shuffle.spill_bytes", ev.spillBytes.toDouble)
      add("blocks.materialized_bytes", ev.materializedBytes.toDouble)
      if (ev.batches.nonEmpty) {
        val ps = ev.batches.toSeq
        val trig = ps.map(dur(_, "triggerExecution")).sum
        add("stream.batches", ps.size)
        add("stream.trigger_ms", trig)
        add("stream.add_batch_ms", ps.map(dur(_, "addBatch")).sum)
        add("stream.query_planning_ms", ps.map(dur(_, "queryPlanning")).sum)
        add("stream.wal_commit_ms", ps.map(dur(_, "walCommit")).sum)
        add("stream.commit_offsets_ms", ps.map(dur(_, "commitOffsets")).sum)
        add("stream.latest_offset_ms", ps.map(dur(_, "latestOffset")).sum)
        add("stream.staging_ms", w.ms - trig)
        add("stream.input_rows", ps.map(_.numInputRows.toDouble).sum)
        // state at the end of each streaming query: its last progress
        ps.groupBy(_.id).values.map(_.last).foreach { p =>
          add("stream.state_rows", p.stateOperators.map(_.numRowsTotal).sum.toDouble)
          add("stream.state_bytes", p.stateOperators.map(_.memoryUsedBytes).sum.toDouble)
        }
      }
    }
    def ratio(m: mutable.Map[String, Double], num: String, den: String, scale: Double): Double =
      if (m(den) > 0) m(num) / (m(den) * scale) else 0.0
    perPass.foreach { case (_, m) =>
      m("scheduler.core_busy") = ratio(m, "executor.task_ms", "scheduler.job_ms", cores)
      m("stream.rows_per_s") = ratio(m, "stream.input_rows", "stream.trigger_ms", 1e-3)
    }
    val traced = passes.filter(_._2)
    val untraced = passes.filterNot(_._2)
    val keys = perPass.values.flatMap(_.keys).toSet
    val out = mutable.Map.empty[String, Double]
    keys.foreach(k => out(k) = median(perPass.values.map(_.getOrElse(k, 0.0)).toSeq))
    if (workload == "etl_snapshot" && out.getOrElse("pipeline.output_rows", 0.0) > 0 && sourceProbes.nonEmpty)
      out("pipeline.input_rows_per_output_row") =
        median(sourceProbes.map(_._3.toDouble)) / out("pipeline.output_rows")
    if (sourceProbes.nonEmpty) {
      out("sources.scan_ms") = median(sourceProbes.map(_._1))
      out("sources.partitions") = median(sourceProbes.map(_._2.toDouble))
      out("sources.rows") = median(sourceProbes.map(_._3.toDouble))
    }
    out("blocks.retained") = median(traced.map(_._4.toDouble))
    val tp = median(traced.map(_._3)); val up = median(untraced.map(_._3))
    out("trace.pass_s") = tp / 1000; out("trace.untraced_pass_s") = up / 1000
    out("trace.overhead_ms") = tp - up
    out.toMap
  }
}
