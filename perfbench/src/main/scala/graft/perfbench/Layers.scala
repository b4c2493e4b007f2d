package graft.perfbench

/** Derives the per-layer metrics from a traced run's spans. Every metric
  * is reported on every workload; a layer the workload bypasses reads 0.
  * Sums are per pass (an extract cycle, a query-mix pass, a CDC replay);
  * `stream.*` figures are per micro-batch. */
object Layers {

  /** Phases whose work the timed metrics count. */
  val Timed: Set[String] = Set("build", "action", "extract", "write_dual", "replay")
  val SinkPhases: Set[String] = Set("extract", "write_dual")

  /** What the harness knows beyond the spans: passes measured, the wall
    * time they took, the cores they ran on, rows landed and WA rows each
    * full extraction must account for, the files and bytes the extract
    * sink left, and the change rows each replay applied. */
  final case class Context(passes: Int, wallS: Double, cores: Int,
                           fullRowsLanded: Double = 0, filesWritten: Double = 0,
                           bytesLanded: Double = 0, changeRows: Double = 0)

  val Names: Seq[String] = Seq(
    "rfc.calls", "rfc.rows_fetched", "rfc.call_s", "rfc.fetch_amplification",
    "rfc.plan_s",
    "sink.write_s", "sink.task_s", "sink.self_s", "sink.write_tasks",
    "sink.bytes_written", "sink.files_written", "sink.bytes_per_row",
    "ops.build_s", "ops.build_jobs", "ops.build_share", "ops.action_s",
    "ops.action_jobs", "ops.checkpoint_jobs", "tables.schema_jobs",
    "tables.schema_s",
    "stream.batches", "stream.add_batch_s", "stream.overhead_s",
    "merge.jobs_per_batch", "merge.rows_rewritten_per_change",
    "merge.bytes_written",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s",
    "exec.task_cpu_s", "exec.sched_delay_s", "exec.gc_s",
    "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes",
    "exec.task_failures", "exec.core_busy_share")

  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  def derive(spans: Seq[Span], c: Context): Map[String, Double] = {
    val per = math.max(1, c.passes).toDouble
    val timed = spans.filter(s => Timed(s.phase))
    def kind(k: String) = timed.filter(_.kind == k)
    val jobs = kind("job")
    val stages = kind("stage")
    val ops = kind("op")
    def sumAttr(ss: Seq[Span], k: String) = ss.map(_.attr(k)).sum
    def secs(ss: Seq[Span]) = ss.map(_.seconds).sum

    val calls = kind("rfc.call")
    val driverRfc = (calls ++ kind("rfc.count")).filter(_.attr("driver") == 1.0)
    val taskCalls = calls.filter(_.attr("driver") == 0.0)
    val fullFetched = sumAttr(calls.filter(_.phase == "extract"), "rows")

    val sinkStages = stages.filter(s => SinkPhases(s.phase) && s.attr("bytes_written") > 0)
    val sinkStageIds = sinkStages.map(_.attr("stage")).toSet
    // writeDual's wall: the direct call's span for a delta; for a full
    // extraction (ExtractJob.main) from its first job to its return
    val fullOps = ops.filter(_.phase == "extract")
    val fullWrite = fullOps.map { o =>
      val js = jobs.filter(_.op == o.name)
      if (js.isEmpty) 0.0 else (o.endMs - js.map(_.startMs).min) / 1000
    }.sum
    val sinkOps = ops.filter(o => SinkPhases(o.phase)).map(_.name)
    val goodWriters = sinkOps.flatMap { op =>
      stages.filter(s => s.op == op && s.attr("bytes_written") > 0)
        .sortBy(_.startMs).headOption.map(_.attr("writing_tasks"))
    }

    val build = kind("build")
    val action = kind("action")
    val buildS = secs(build)
    val actionS = secs(action)
    val checkpointJobs = jobs.count { j =>
      j.name.startsWith("localCheckpoint") ||
        stages.exists(s => s.attr("job") == j.attr("job") && s.attr("checkpoint") == 1.0)
    }
    val schemaJobs = jobs.filter(_.name.startsWith("parquet at Tables.scala"))

    // micro-batches carry no job properties: attribute them by time to
    // the timed replays that contain them
    val replays = ops.filter(_.phase == "replay")
    val batches = spans.filter(b => b.kind == "batch" && b.attr("input_rows") > 0 &&
      replays.exists(o => o.startMs <= b.startMs && b.startMs <= o.endMs))
    val replayJobs = jobs.count(_.phase == "replay")
    val replayStages = stages.filter(_.phase == "replay")

    val runS = sumAttr(stages, "run_s")
    Map(
      "rfc.calls" -> calls.size / per,
      "rfc.rows_fetched" -> sumAttr(calls, "rows") / per,
      "rfc.call_s" -> secs(calls) / per,
      "rfc.fetch_amplification" -> ratio(fullFetched, c.fullRowsLanded),
      "rfc.plan_s" -> secs(driverRfc) / per,
      "sink.write_s" -> (secs(kind("write_dual")) + fullWrite) / per,
      "sink.task_s" -> sumAttr(sinkStages, "run_s") / per,
      "sink.self_s" -> (sumAttr(sinkStages, "run_s") -
        secs(taskCalls.filter(s => sinkStageIds(s.attr("stage"))))) / per,
      "sink.write_tasks" -> (if (goodWriters.isEmpty) 0.0
                             else goodWriters.sum / goodWriters.size),
      "sink.bytes_written" -> sumAttr(sinkStages, "bytes_written") / per,
      "sink.files_written" -> c.filesWritten / per,
      "sink.bytes_per_row" -> ratio(c.bytesLanded, c.fullRowsLanded),
      "ops.build_s" -> buildS / per,
      "ops.build_jobs" -> jobs.count(_.phase == "build") / per,
      "ops.build_share" -> ratio(buildS, buildS + actionS),
      "ops.action_s" -> actionS / per,
      "ops.action_jobs" -> jobs.count(_.phase == "action") / per,
      "ops.checkpoint_jobs" -> checkpointJobs / per,
      "tables.schema_jobs" -> schemaJobs.size / per,
      "tables.schema_s" -> secs(schemaJobs) / per,
      "stream.batches" -> batches.size / per,
      "stream.add_batch_s" ->
        (if (batches.isEmpty) 0.0 else Stats.median(batches.map(_.attr("add_batch_s")))),
      "stream.overhead_s" ->
        (if (batches.isEmpty) 0.0
         else Stats.median(batches.map(b => b.attr("trigger_s") - b.attr("add_batch_s")))),
      "merge.jobs_per_batch" -> ratio(replayJobs, batches.size),
      "merge.rows_rewritten_per_change" ->
        ratio(sumAttr(replayStages, "records_written"), c.changeRows * c.passes),
      "merge.bytes_written" -> sumAttr(replayStages, "bytes_written") / per,
      "exec.jobs" -> jobs.size / per,
      "exec.stages" -> stages.size / per,
      "exec.tasks" -> sumAttr(stages, "tasks") / per,
      "exec.task_run_s" -> runS / per,
      "exec.task_cpu_s" -> sumAttr(stages, "cpu_s") / per,
      "exec.sched_delay_s" -> sumAttr(stages, "sched_delay_s") / per,
      "exec.gc_s" -> sumAttr(stages, "gc_s") / per,
      "exec.shuffle_write_bytes" -> sumAttr(stages, "shuffle_write_bytes") / per,
      "exec.shuffle_read_bytes" -> sumAttr(stages, "shuffle_read_bytes") / per,
      "exec.spill_bytes" -> sumAttr(stages, "spill_bytes") / per,
      "exec.task_failures" -> sumAttr(stages, "failed_tasks") / per,
      "exec.core_busy_share" -> ratio(runS, c.wallS * c.cores))
  }
}
