package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run: the workload's own counters plus
  * the engine counters of the jobs attributed to each layer, each layer's
  * span self time (`self.*`) and the executor time of its tasks
  * (`tasks.*`, task-seconds). Every name in [[PerLayer]] is printed on every
  * traced run; a layer the workload does not exercise reads 0.
  */
object Report {
  val Layers = Seq("gen", "sources", "validate", "streaming", "transform", "state", "sinks",
    "pipeline", "operators")

  val PerLayer: Seq[(String, String)] = Seq(
    "gen.late_max_s" -> "s", "gen.files_landed" -> "count",
    "sources.wait_s" -> "s", "sources.lag_files_max" -> "count", "sources.files" -> "count",
    "sources.rows" -> "count", "sources.bytes" -> "bytes",
    "validate.busy_s" -> "s", "validate.jobs" -> "count", "validate.rows" -> "count",
    "validate.accept_ratio" -> "ratio",
    "completeness.state_rows" -> "count", "completeness.state_bytes" -> "bytes",
    "completeness.update_s" -> "s", "completeness.commit_s" -> "s", "completeness.emit_ratio" -> "ratio",
    "kpi_state.state_rows" -> "count", "kpi_state.state_bytes" -> "bytes", "kpi_state.update_s" -> "s",
    "kpi_state.commit_s" -> "s", "kpi_state.rows_emitted" -> "count",
    "trigger.count" -> "count", "trigger.latest_offset_s" -> "s", "trigger.planning_s" -> "s",
    "trigger.add_batch_s" -> "s", "trigger.wal_commit_s" -> "s", "trigger.input_rows" -> "count",
    "transform.busy_s" -> "s", "transform.shuffle_bytes" -> "bytes", "transform.shuffle_records" -> "count",
    "transform.spill_bytes" -> "bytes", "transform.join_rows" -> "count",
    "state.commit_s" -> "s", "state.partitions_touched" -> "count", "state.files_written" -> "count",
    "state.bytes_written" -> "bytes", "state.write_amp" -> "ratio", "state.versions_live" -> "count",
    "state.read_s" -> "s", "state.read_files" -> "count",
    "sinks.busy_s" -> "s", "sinks.items" -> "count", "sinks.chunks" -> "count", "sinks.retries" -> "count",
    "pipeline.run_s" -> "s", "pipeline.sink_s" -> "s", "pipeline.jobs" -> "count",
    "engine.jobs" -> "count", "engine.tasks" -> "count", "engine.sched_delay_s" -> "s",
    "engine.cpu_s" -> "s", "engine.gc_s" -> "s") ++
    Workloads.MixQueries.flatMap { case (q, _) =>
      Seq(s"operators.$q.s" -> "s", s"operators.$q.jobs" -> "count", s"operators.$q.shuffle_bytes" -> "bytes")
    } ++
    Layers.map(l => s"self.$l" -> "s") ++
    Layers.filterNot(_ == "gen").map(l => s"tasks.$l" -> "s") ++
    Seq("trace.spans" -> "count", "trace.latency_p50_s" -> "s")

  def layers(ctx: Ctx): Unit = {
    val r = ctx.result
    val L = r.layer
    def put(k: String, v: Double): Unit = if (!L.contains(k)) L(k) = (v, PerLayer.toMap.getOrElse(k, "count"))
    ctx.engine.foreach { e =>
      r.detail("job_sites") = e.sites.asScala.toSeq.sortBy(-_._2).take(40).toMap
      val eng = e.get("engine")
      put("engine.jobs", eng.jobs.toDouble)
      put("engine.tasks", eng.tasks.toDouble)
      put("engine.sched_delay_s", eng.schedDelayMs / 1000.0)
      put("engine.cpu_s", eng.cpuNs / 1e9)
      put("engine.gc_s", eng.gcMs / 1000.0)
      val v = e.get("validate")
      put("validate.jobs", v.jobs.toDouble)
      val t = e.get("transform")
      put("transform.shuffle_bytes", t.shuffleWriteBytes.toDouble)
      put("transform.shuffle_records", t.shuffleWriteRecords.toDouble)
      put("transform.spill_bytes", t.spillBytes.toDouble)
      val st = e.get("state")
      put("state.commit_s", st.wallNs / 1e9)
      put("state.bytes_written", st.outBytes.toDouble)
      val emitted = L.get("kpi_state.rows_emitted").map(_._1).getOrElse(0.0)
      val kpiRows = if (emitted > 0) emitted else L.get("transform.join_rows").map(_._1).getOrElse(0.0)
      put("state.write_amp", if (kpiRows > 0) st.outRecords / kpiRows else 0.0)
      put("pipeline.jobs", (e.get("span:run").jobs + e.get("span:sink").jobs).toDouble)
      Layers.foreach(l => put(s"tasks.$l", e.get(l).runMs / 1000.0))
    }
    val times = Trace.layerTimes()
    Layers.foreach(l => put(s"self.$l", times.get(l).map(_._2).getOrElse(0.0)))
    put("validate.busy_s", Trace.sum("validate"))
    put("transform.busy_s", Trace.sum("transform"))
    put("sinks.busy_s", Trace.sum("sinks"))
    put("state.read_s", Trace.sum("state", "read"))
    put("pipeline.run_s", Trace.sum("pipeline", "run"))
    put("pipeline.sink_s", Trace.sum("pipeline", "sink"))
    put("sinks.items", BenchKv.items.get.toDouble)
    put("sinks.chunks", BenchKv.chunks.get.toDouble)
    put("trace.spans", Trace.spans.size.toDouble)
    r.detail("spans") = Trace.dump()
    r.e2e.get("latency_p50_s").foreach { case (v, _) => put("trace.latency_p50_s", v) }
    PerLayer.foreach { case (k, _) => put(k, 0.0) }
    // report in the declared order
    val ordered = PerLayer.map { case (k, _) => k -> L(k) }
    L.clear()
    ordered.foreach { case (k, v) => L(k) = v }
  }
}
