package graftbench

/** Per-layer metrics of a traced run, derived from the spans and the job
  * counts attributed to them. Layers a workload never calls report 0. */
object Layers {
  /** `responses`: (request id, response bytes) of the HTTP pass. */
  def report(ctx: Ctx, o: Outcome, responses: Seq[(String, Int)]): Unit = {
    val t = ctx.tracer
    val spans = t.all
    def durations(layer: String) = spans.filter(_.layer == layer).map(_.ms)
    def med(layer: String): Double = {
      val xs = durations(layer)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    def mb(bytes: Long): Double = bytes / 1048576.0

    val http = spans.filter(_.layer == "api.request").map(s => s.req -> s.ms).toMap
    val inproc = spans.filter(_.layer == "request").map(s => s.req -> s.ms).toMap
    val apiSelf = http.toSeq.collect { case (r, ms) if inproc.contains(r) => ms - inproc(r) }
    o.metric("api.request_ms", med("api.request"), "ms")
    o.metric("api.self_ms", if (apiSelf.isEmpty) 0.0 else Stats.median(apiSelf), "ms")
    o.metric("api.bytes_out", if (responses.isEmpty) 0.0
      else responses.map(_._2.toDouble).sum / responses.size, "bytes")

    o.metric("planner.parse_ms", med("planner.parse"), "ms")
    o.metric("planner.build_ms", med("planner.build"), "ms")
    o.metric("planner.build_jobs",
      t.counts(_.endsWith("/planner.build")).jobs.toDouble, "count")
    val plans = t.counter("planner.plans")
    o.metric("planner.rollup_routed_ratio",
      if (plans == 0) 0.0 else t.counter("planner.routed").toDouble / plans, "ratio")
    o.metric("catalyst.optimize_ms", med("catalyst.optimize"), "ms")

    val all = t.counts(_.nonEmpty)
    val execWallMs = durations("exec").sum
    o.metric("exec.ms", med("exec"), "ms")
    o.metric("exec.jobs", all.jobs.toDouble, "count")
    o.metric("exec.stages", all.stages.toDouble, "count")
    o.metric("exec.tasks", all.tasks.toDouble, "count")
    o.metric("exec.task_cpu_ms", all.cpuMs, "ms")
    o.metric("exec.core_busy_ratio", if (execWallMs == 0) 0.0
      else t.counts(_.endsWith("/exec")).runMs / (execWallMs * ctx.cores), "ratio")
    o.metric("exec.shuffle_read_mb", mb(all.shuffleReadBytes), "MB")
    o.metric("exec.shuffle_write_mb", mb(all.shuffleWriteBytes), "MB")
    o.metric("exec.spill_mb", mb(all.spillBytes), "MB")
    o.metric("exec.peak_exec_mem_mb", mb(all.peakExecMemBytes), "MB")

    o.metric("result.shape_ms", med("result.shape"), "ms")
    o.metric("result.serialize_ms", med("result.serialize"), "ms")
    o.metric("result.rows", if (inproc.isEmpty) 0.0
      else t.counter("result.rows").toDouble / inproc.size, "rows")

    val jobsByReq = t.jobsByReq
    o.metric("catalog.result_cache_hit_ratio", if (inproc.isEmpty) 0.0
      else inproc.keys.count(r => jobsByReq.getOrElse(r, 0L) == 0).toDouble /
        inproc.size, "ratio")
  }
}
