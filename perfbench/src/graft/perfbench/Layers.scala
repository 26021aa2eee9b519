package graft.perfbench

import Main.{Args, Result}

/** The per-layer metrics a traced run reports, in `BENCHMARK.json` order.
  * A metric whose layer a workload does not exercise reads 0. */
object Layers {
  val spec: Seq[(String, String)] = Seq(
    "query.call_s" -> "s", "query.call_jobs" -> "count", "query.action_s" -> "s",
    "query.action_jobs" -> "count", "query.call_share" -> "share",
    "catalyst.plan_s" -> "s",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.tasks_per_stage" -> "ratio", "exec.task_s" -> "s", "exec.task_cpu_s" -> "s",
    "exec.gc_s" -> "s", "exec.busy_share" -> "share", "exec.job_gap_s" -> "s",
    "exec.task_wait_s" -> "s", "exec.failed_tasks" -> "count",
    "scan.input_rows" -> "count", "scan.input_bytes" -> "bytes",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "shuffle.fetch_wait_s" -> "s", "shuffle.spill_bytes" -> "bytes", "shuffle.skew" -> "ratio",
    "storage.peak_mb" -> "MB",
    "artifact.ivf_index_s" -> "s",
    "stream.batches" -> "count", "stream.batch_ms_p50" -> "ms",
    "stream.latest_offset_ms" -> "ms", "stream.query_planning_ms" -> "ms",
    "stream.add_batch_ms" -> "ms", "stream.wal_commit_ms" -> "ms",
    "stream.commit_offsets_ms" -> "ms", "stream.max_lines_per_s" -> "1/s",
    "stream.local1_lines_per_s" -> "1/s", "stream.p99_ms_light" -> "ms",
    "stream.p50_ms_heavy" -> "ms", "stream.p99_ms_heavy" -> "ms",
    "state.rows_total" -> "count", "state.rows_updated" -> "count",
    "state.memory_bytes" -> "bytes", "state.commit_ms" -> "ms",
    "source.lag_s" -> "s", "source.visibility_ms" -> "ms",
    "trace.overhead" -> "ratio", "data.gen_s" -> "s")

  def put(res: Result, values: Map[String, Double]): Unit = {
    val unknown = values.keySet -- spec.map(_._1)
    require(unknown.isEmpty, s"metrics missing from Layers.spec: $unknown")
    spec.foreach { case (n, u) => res.put(n, values.getOrElse(n, 0.0), u) }
  }

  /** Scheduler, executor, scan and shuffle metrics of one span total. */
  def exec(a: Agg, wallS: Double, cores: Int): Map[String, Double] = Map(
    "exec.jobs" -> a.jobs.toDouble, "exec.stages" -> a.stages.toDouble,
    "exec.tasks" -> a.tasks.toDouble,
    "exec.tasks_per_stage" -> (if (a.stages == 0) 0.0 else a.tasks.toDouble / a.stages),
    "exec.task_s" -> a.taskMs / 1000.0, "exec.task_cpu_s" -> a.cpuNs / 1e9,
    "exec.gc_s" -> a.gcMs / 1000.0,
    "exec.busy_share" -> a.taskMs / 1000.0 / (wallS * cores),
    "exec.task_wait_s" -> a.taskWaitMs / 1000.0, "exec.failed_tasks" -> a.failedTasks.toDouble,
    "scan.input_rows" -> a.inputRows.toDouble,
    // Scan nodes' "size of files read": task inputMetrics.bytesRead counts
    // only the column chunks a pruned parquet scan touches.
    "scan.input_bytes" -> math.max(a.scanBytes, a.inputBytes).toDouble,
    "shuffle.write_bytes" -> a.shuffleWrite.toDouble, "shuffle.read_bytes" -> a.shuffleRead.toDouble,
    "shuffle.fetch_wait_s" -> a.fetchWaitMs / 1000.0, "shuffle.spill_bytes" -> a.spillBytes.toDouble,
    "shuffle.skew" -> a.maxSkew)
}

/** Writes the traced run's spans (run, pass, row, phase, job, stage) as JSON
  * to `<work>/trace.json`; `run.py` keeps it under `perfbench/out/`. */
object Trace {
  private def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")

  private def spanJson(c: Collector, span: String): String = {
    val jobs = c.jobs.filter(_._1 == span)
      .map(j => s"""{"job":${j._2},"start_ms":${j._3},"end_ms":${j._4}}""").mkString(",")
    val stages = c.stages.filter(_._1 == span)
      .map(s => s"""{"stage":${s._2},"submit_ms":${s._3},"end_ms":${s._4},"tasks":${s._5}}""")
      .mkString(",")
    val a = c.agg(span)
    s"""{"span":"${esc(span)}","plan_ms":${a.planMs},"jobs":[$jobs],"stages":[$stages]}"""
  }

  def write(a: Args, c: Collector, rows: Seq[Batch.RowRun]): Unit = {
    val body = rows.map { r =>
      s"""{"row":"${esc(r.span)}","call_s":${r.callS},"action_s":${r.actionS},"ok":${r.ok},""" +
        s""""phases":[${spanJson(c, r.span + "/call")},${spanJson(c, r.span + "/action")}]}"""
    }.mkString(",\n")
    save(a, s"""{"workload":"${a.workload}","seed":${a.seed},"rows":[\n$body\n]}""")
  }

  def writeStream(a: Args, phases: Seq[(String, StreamWorkload.Phase)]): Unit = {
    val body = phases.map { case (n, p) =>
      val bs = p.events.map(e => e.json.replace("\n", "")).mkString(",\n")
      s"""{"phase":"$n","seconds":${p.seconds},"ok":${p.ok},"batches":[$bs]}"""
    }.mkString(",\n")
    save(a, s"""{"workload":"${a.workload}","seed":${a.seed},"phases":[\n$body\n]}""")
  }

  private def save(a: Args, s: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(a.work, "trace.json"),
      s.getBytes("UTF-8"))
}
