package graftbench

import scala.collection.mutable

/** Per-layer metrics of a traced run, from the spans and the Spark jobs
  * attributed to them. The untraced ops only feed the tracing overhead. */
final class Layers(run: Run, w: Workload) {
  private val t = run.tracer
  private val ops = t.spans.filter(_.parent == 0L).toSeq
  private val opSeconds = ops.map(_.seconds).sum
  private val out = mutable.LinkedHashMap[String, Metric]()

  private def put(name: String, value: Double, unit: String, n: Int): Unit =
    out(name) = Metric(name, if (value.isNaN || value.isInfinite) 0.0 else value, unit, n)

  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  /** Span seconds not covered by the span's own Spark jobs. */
  private def selfSeconds(s: Span): Double = {
    val iv = t.jobsOf(s).map(j => (math.max(j.startMs, s.startNs / 1000000),
      math.min(if (j.endMs < 0) s.endNs / 1000000 else j.endMs, s.endNs / 1000000)))
    math.max(0.0, s.seconds - Tracer.unionMs(iv) / 1000.0)
  }

  private def attr(ss: Seq[Span], k: String): Double = ss.map(_.attrs.getOrElse(k, 0.0)).sum

  private def layer(name: String): Unit = {
    val ss = t.spans.filter(_.name == name).toSeq
    val n = ss.size
    val jobs = ss.flatMap(t.jobsOf)
    val stages = t.stagesOf(jobs)
    val busy = ss.map(_.seconds).sum
    put(s"$name.calls", n, "count", n)
    put(s"$name.busy_s", busy, "s", n)
    put(s"$name.busy_pct", 100 * ratio(busy, opSeconds), "%", n)
    val self = ss.map(selfSeconds).sum
    put(s"$name.self_s", self, "s", n)
    put(s"$name.self_pct", 100 * ratio(self, opSeconds), "%", n)
    put(s"$name.p50_s", if (n == 0) 0.0 else Stats.median(ss.map(_.seconds)), "s", n)
    put(s"$name.jobs_per_call", ratio(jobs.size, n), "count", n)
    put(s"$name.tasks_per_call", ratio(stages.map(_.tasks).sum, n), "count", n)
    put(s"$name.shuffle_bytes_per_call",
      ratio(stages.map(a => a.shuffleWrite + a.shuffleRead).sum, n), "bytes", n)
    put(s"$name.spill_bytes", stages.map(_.spill).sum, "bytes", n)
    put(s"$name.records_read", stages.map(_.recordsRead).sum, "count", n)
    put(s"$name.bytes_read", stages.map(_.bytesRead).sum, "bytes", n)
    put(s"$name.executor_cpu_s", stages.map(_.cpuNs).sum / 1e9, "s", n)
    name match {
      case "sources.commit" =>
        put(s"$name.files_added_per_call", ratio(attr(ss, "files_added"), n), "count", n)
        put(s"$name.bytes_written_per_row", ratio(attr(ss, "bytes_added"), attr(ss, "rows")), "bytes", n)
        put(s"$name.meta_bytes_per_call", ratio(attr(ss, "meta_bytes_added"), n), "bytes", n)
        put(s"$name.failures", run.ops.count(o => o.traced && !o.ok && Set("upsert", "delete")(o.cls)), "count", n)
      case "sources.maintenance" =>
        put(s"$name.bytes_rewritten", attr(ss, "bytes_rewritten"), "bytes", n)
        put(s"$name.files_removed", attr(ss, "files_removed"), "count", n)
      case "sources.plan" =>
        put(s"$name.input_partitions", ratio(attr(ss, "input_partitions"), n), "count", n)
        put(s"$name.live_files", ratio(attr(ss, "live_files"), n), "count", n)
      case "sources.scan" =>
        val read = stages.map(_.recordsRead).sum.toDouble
        val scanOut = ss.map(s => t.scanRowsOut(s.id)).sum.toDouble
        put(s"$name.rows_read_per_live_row", ratio(read, attr(ss, "live_rows")), "ratio", n)
        put(s"$name.rows_out_per_row_read", ratio(scanOut, read), "ratio", n)
      case "operators" =>
        val docs = attr(ss, "docs")
        put(s"$name.shuffle_bytes_per_doc",
          ratio(stages.map(a => a.shuffleWrite + a.shuffleRead).sum, docs), "bytes", n)
        put(s"$name.rows_out_per_doc", ratio(attr(ss, "rows_out"), docs), "ratio", n)
        put(s"$name.cached_bytes", if (n == 0) 0.0 else ss.map(_.attrs.getOrElse("cached_bytes", 0.0)).max,
          "bytes", n)
      case _ =>
    }
  }

  private def spark(): Unit = {
    val n = ops.size
    val jobs = ops.map(t.jobsOf)
    val stages = jobs.map(t.stagesOf)
    def perOp(f: StageAgg => Double): Double = ratio(stages.map(_.map(f).sum).sum, n)
    put("spark.jobs_per_op", ratio(jobs.map(_.size).sum, n), "count", n)
    put("spark.stages_per_op", ratio(stages.map(_.size).sum, n), "count", n)
    put("spark.tasks_per_op", perOp(_.tasks.toDouble), "count", n)
    put("spark.shuffle_write_bytes", perOp(_.shuffleWrite.toDouble), "bytes", n)
    put("spark.shuffle_read_bytes", perOp(_.shuffleRead.toDouble), "bytes", n)
    put("spark.spill_bytes", perOp(_.spill.toDouble), "bytes", n)
    put("spark.executor_run_s", perOp(_.runMs / 1e3), "s", n)
    put("spark.executor_cpu_s", perOp(_.cpuNs / 1e9), "s", n)
    put("spark.gc_s", perOp(_.gcMs / 1e3), "s", n)
    put("spark.scheduler_delay_s", perOp(_.schedDelayMs / 1e3), "s", n)
    put("spark.driver_gap_s", ratio(ops.map(selfSeconds).sum, n), "s", n)
    put("spark.failed_tasks", stages.map(_.map(_.failedTasks).sum).sum, "count", n)
    put("spark.failed_jobs", jobs.map(_.count(_.failed)).sum, "count", n)
  }

  /** Mean op time of the traced phase against the untraced one. */
  private def overhead(): Unit = {
    val (on, off) = run.ops.partition(_.traced)
    def mean(os: Iterable[OpRec]) = if (os.isEmpty) 0.0 else os.map(_.seconds).sum / os.size
    put("trace.overhead_s", mean(on) - mean(off), "s", run.ops.size)
    put("trace.overhead_pct", 100 * ratio(mean(on) - mean(off), mean(off)), "%", run.ops.size)
    put("trace.traced_ops", ops.size, "count", ops.size)
    put("trace.spans", t.spans.size, "count", ops.size)
    // self time of the root spans: op time outside every layer call
    val self = ops.map { o =>
      val kids = t.spans.filter(s => s.parent == o.id)
      o.seconds - Tracer.unionMs(kids.map(k => (k.startNs / 1000, k.endNs / 1000)).toSeq) / 1e6
    }
    put("op.self_s", ratio(self.sum, ops.size), "s", ops.size)
  }

  def compute(): Seq[Metric] = {
    Seq("sources.commit", "sources.maintenance", "sources.plan", "sources.scan", "operators")
      .foreach(layer)
    spark()
    overhead()
    Curate.Queries.foreach { q =>
      val xs = run.seconds(q)
      put(s"operators.$q.p50_s", if (xs.isEmpty) 0.0 else Stats.median(xs), "s", xs.size)
    }
    // storage of the workload's table; zero where a workload has none
    val own = w.layerValues
    Layers.Storage.foreach { case (k, unit) => put(k, own.getOrElse(k, 0.0), unit, 1) }
    out.values.toSeq
  }

  /** Spans, jobs and stages as JSON lines. */
  def spansJsonl(): String = {
    val b = new StringBuilder
    t.spans.foreach { s =>
      b.append(Json.render(Map("id" -> s.id.toString, "parent" -> s.parent.toString,
        "op" -> s.op.toString, "name" -> s.name, "start_ms" -> s.startNs / 1e6,
        "end_ms" -> s.endNs / 1e6, "attrs" -> s.attrs))).append('\n')
    }
    val traced = t.spans.map(_.id).toSet
    t.jobs.values().forEach { j =>
      if (traced(j.op)) {
        b.append(Json.render(Map("id" -> s"job-${j.jobId}", "parent" -> j.span.toString,
          "op" -> j.op.toString, "name" -> "spark.job", "start_ms" -> j.startMs.toDouble,
          "end_ms" -> j.endMs.toDouble, "attrs" -> Map("failed" -> j.failed,
            "stages" -> j.stages, "sql_execution" -> j.execId)))).append('\n')
        j.stages.flatMap(id => Option(t.stages.get(id)).map(id -> _)).foreach { case (id, a) =>
          b.append(Json.render(Map("id" -> s"stage-$id", "parent" -> s"job-${j.jobId}",
            "op" -> j.op.toString, "name" -> "spark.stage", "start_ms" -> a.submitMs.toDouble,
            "attrs" -> Map("tasks" -> a.tasks, "run_ms" -> a.runMs, "cpu_ns" -> a.cpuNs,
              "shuffle_write" -> a.shuffleWrite, "shuffle_read" -> a.shuffleRead,
              "spill" -> a.spill, "records_read" -> a.recordsRead)))).append('\n')
        }
      }
    }
    b.toString
  }
}

object Layers {
  val Storage = Seq("storage.data_files_live" -> "count", "storage.data_bytes" -> "bytes",
    "storage.meta_files" -> "count", "storage.meta_bytes" -> "bytes",
    "storage.snapshots" -> "count", "storage.write_amp" -> "ratio", "storage.space_amp" -> "ratio")
}
