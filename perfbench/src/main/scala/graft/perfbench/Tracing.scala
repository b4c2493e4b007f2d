package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

import graft.sources.rfc.{MockRfcBackend, RfcBackend, RfcConnection, RfcPage}

/** One timed interval of the trace. `op` names the benchmark operation
  * it belongs to and `phase` the part of it (see [[Tag]]); times are
  * epoch milliseconds. */
final case class Span(kind: String, name: String, op: String, phase: String,
                      startMs: Double, endMs: Double,
                      attrs: Map[String, Double] = Map.empty) {
  def seconds: Double = (endMs - startMs) / 1000
  def attr(k: String): Double = attrs.getOrElse(k, 0.0)
}

/** Spans held in memory while the run measures, written out at exit. */
final class Trace {
  private val buf = mutable.ArrayBuffer.empty[Span]
  def add(s: Span): Unit = synchronized { buf += s }
  def spans: Vector[Span] = synchronized { buf.toVector }

  def writeJsonl(path: Path): Unit = {
    import Json.str
    val lines = spans.map { s =>
      val attrs = s.attrs.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${str(k)}:${Json.num(v)}" }.mkString(",")
      s"""{"kind":${str(s.kind)},"name":${str(s.name)},"op":${str(s.op)},""" +
        s""""phase":${str(s.phase)},"start_ms":${Json.num(s.startMs)},""" +
        s""""end_ms":${Json.num(s.endMs)},"attrs":{$attrs}}"""
    }
    Files.write(path, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Trace {
  /** The trace of a `--trace 1` run; `None` when untraced. Global so the
    * RFC backend, which the source instantiates by class name, finds it. */
  @volatile var active: Option[Trace] = None

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** Runs `f`, records it as a span when tracing, returns its result and
    * wall seconds. */
  def timed[T](kind: String, name: String, op: String, phase: String,
               attrs: => Map[String, Double] = Map.empty)(f: => T): (T, Double) = {
    val t0 = nowMs
    val r = f
    val t1 = nowMs
    active.foreach(_.add(Span(kind, name, op, phase, t0, t1, attrs)))
    (r, (t1 - t0) / 1000)
  }
}

/** Job local properties naming the operation and phase a Spark job
  * belongs to; executors see them through `TaskContext`. Phases:
  * `build`/`action` (a query), `extract` (ExtractJob.main),
  * `write_dual` (Layout.writeDual), `replay` (MergeStream.run), and
  * `setup`/`warmup`/`check`, which no timed metric counts. */
object Tag {
  val Op = "perfbench.op"
  val Phase = "perfbench.phase"

  def apply[T](sc: SparkContext, op: String, phase: String)(f: => T): T = {
    val (prevOp, prevPhase) = (sc.getLocalProperty(Op), sc.getLocalProperty(Phase))
    sc.setLocalProperty(Op, op)
    sc.setLocalProperty(Phase, phase)
    try f finally {
      sc.setLocalProperty(Op, prevOp)
      sc.setLocalProperty(Phase, prevPhase)
    }
  }

  /** (op, phase) of the calling thread: the task's on an executor, the
    * driver thread's otherwise. */
  def current: (String, String) = Option(TaskContext.get()) match {
    case Some(tc) => (tc.getLocalProperty(Op), tc.getLocalProperty(Phase))
    case None =>
      val sc = SparkSession.getDefaultSession.map(_.sparkContext)
      (sc.map(_.getLocalProperty(Op)).orNull, sc.map(_.getLocalProperty(Phase)).orNull)
  }
}

/** Counts Spark jobs per operation tag: the memoization guard's input.
  * Attached in every run, traced or not. */
final class JobCounter extends SparkListener {
  private val counts = TrieMap.empty[String, Int]
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).map(_.getProperty(Tag.Op)).orNull
    if (op != null) counts.synchronized(counts.update(op, counts.getOrElse(op, 0) + 1))
  }
  def jobs(op: String): Int = counts.getOrElse(op, 0)
}

/** The traced run's listener: one span per job, stage and streaming
  * micro-batch (the latter through `onOtherEvent`). */
final class Tracer(trace: Trace) extends SparkListener {
  private final case class JobInfo(start: Double, op: String, phase: String,
                                   callSite: String, stages: Int, tasks: Int)
  private val jobs = TrieMap.empty[Int, JobInfo]
  private val stageOwner = TrieMap.empty[Int, (Int, String, String)]
  // (stage, attempt) -> (scheduler delay ms, tasks that wrote output,
  // tasks that failed)
  private val taskAgg = TrieMap.empty[(Int, Int), (Double, Int, Int)]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.map(_.getProperty(k, "")).getOrElse("")
    val info = JobInfo(e.time.toDouble, prop(Tag.Op), prop(Tag.Phase),
      prop("callSite.short"), e.stageInfos.size, e.stageInfos.map(_.numTasks).sum)
    jobs.update(e.jobId, info)
    e.stageIds.foreach(s => stageOwner.update(s, (e.jobId, info.op, info.phase)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.remove(e.jobId).foreach { j =>
      val failed = e.jobResult match { case JobSucceeded => 0.0; case _ => 1.0 }
      trace.add(Span("job", j.callSite, j.op, j.phase, j.start, e.time.toDouble,
        Map("job" -> e.jobId.toDouble, "stages" -> j.stages.toDouble,
          "tasks" -> j.tasks.toDouble, "failed" -> failed)))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val ti = e.taskInfo
    val tm = e.taskMetrics
    if (ti != null && tm != null) {
      val gettingResult =
        if (ti.gettingResultTime > 0) ti.finishTime - ti.gettingResultTime else 0L
      val delay = math.max(0L, (ti.finishTime - ti.launchTime) - tm.executorRunTime -
        tm.executorDeserializeTime - tm.resultSerializationTime - gettingResult)
      val wrote = if (tm.outputMetrics.bytesWritten > 0) 1 else 0
      val failed = if (e.reason == org.apache.spark.Success) 0 else 1
      val key = (e.stageId, e.stageAttemptId)
      taskAgg.synchronized {
        val (d, w, f) = taskAgg.getOrElse(key, (0.0, 0, 0))
        taskAgg.update(key, (d + delay, w + wrote, f + failed))
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val (job, op, phase) = stageOwner.getOrElse(si.stageId, (-1, "", ""))
    val (delayMs, writers, failures) = taskAgg.synchronized(
      taskAgg.remove((si.stageId, si.attemptNumber())).getOrElse((0.0, 0, 0)))
    val tm = Option(si.taskMetrics)
    def m(f: org.apache.spark.executor.TaskMetrics => Long): Double =
      tm.map(f).getOrElse(0L).toDouble
    val end = si.completionTime.getOrElse(System.currentTimeMillis()).toDouble
    trace.add(Span("stage", si.name, op, phase,
      si.submissionTime.map(_.toDouble).getOrElse(end), end,
      Map("job" -> job.toDouble, "stage" -> si.stageId.toDouble,
        "tasks" -> si.numTasks.toDouble,
        "run_s" -> m(_.executorRunTime) / 1e3,
        "cpu_s" -> m(_.executorCpuTime) / 1e9,
        "gc_s" -> m(_.jvmGCTime) / 1e3,
        "sched_delay_s" -> delayMs / 1e3,
        "shuffle_write_bytes" -> m(_.shuffleWriteMetrics.bytesWritten),
        "shuffle_read_bytes" -> m(_.shuffleReadMetrics.totalBytesRead),
        "spill_bytes" -> m(t => t.memoryBytesSpilled + t.diskBytesSpilled),
        "bytes_written" -> m(_.outputMetrics.bytesWritten),
        "records_written" -> m(_.outputMetrics.recordsWritten),
        "writing_tasks" -> writers.toDouble,
        "failed_tasks" -> failures.toDouble,
        "checkpoint" -> (if (si.details.contains("localCheckpoint")) 1.0 else 0.0))))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent =>
      val pr = p.progress
      def dur(k: String): Double =
        Option(pr.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      val start = java.time.Instant.parse(pr.timestamp).toEpochMilli.toDouble
      trace.add(Span("batch", s"batch-${pr.batchId}", "", "", start,
        start + dur("triggerExecution"),
        Map("trigger_s" -> dur("triggerExecution") / 1e3,
          "add_batch_s" -> dur("addBatch") / 1e3,
          "input_rows" -> pr.numInputRows.toDouble)))
    case _ =>
  }
}

/** Delegating RFC backend: forwards to [[MockRfcBackend]] and records
  * every `call` and `tableRowCount` as a span, tagged with the operation
  * through the job local property (driver-side calls carry the driver
  * thread's tag). */
class TracingRfcBackend extends RfcBackend {
  private val inner = new MockRfcBackend

  override def open(connection: Option[RfcConnection]): Unit = inner.open(connection)

  private def traced[T](kind: String, attrs: T => Map[String, Double])(f: => T): T = {
    val (op, phase) = Tag.current
    val where = Option(TaskContext.get())
      .fold(Map("driver" -> 1.0))(tc => Map("driver" -> 0.0, "stage" -> tc.stageId().toDouble))
    val t0 = Trace.nowMs
    val r = f
    val t1 = Trace.nowMs
    Trace.active.foreach(_.add(Span(kind, Zlineitem.Name, Option(op).getOrElse(""),
      Option(phase).getOrElse(""), t0, t1, attrs(r) ++ where)))
    r
  }

  override def call(queryTable: String, delimiter: String, rowSkips: Long,
                    rowCount: Int, fields: Seq[String],
                    options: Seq[String]): RfcPage =
    traced[RfcPage]("rfc.call", p => Map("rows" -> p.rows.size.toDouble,
      "metadata" -> (if (rowCount == 0) 1.0 else 0.0))) {
      inner.call(queryTable, delimiter, rowSkips, rowCount, fields, options)
    }

  override def tableRowCount(queryTable: String,
                             options: Seq[String]): Option[Long] =
    traced[Option[Long]]("rfc.count", _ => Map.empty) {
      inner.tableRowCount(queryTable, options)
    }
}
