package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{PerfbenchSql, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The one listener of an untraced run: the RDD blocks (persisted frames
  * and local checkpoints) a request holds at once, counting only blocks
  * put during that request, and the largest such peak while `armed`.
  * Blocks left behind by earlier requests (unreferenced checkpoints not
  * yet cleaned up) do not count, so the peak does not depend on order. */
final class CacheMeter extends SparkListener {
  @volatile var armed = false
  private val held = new java.util.HashMap[String, (Long, Int)]()
  private var request = 0
  private var current = 0L
  private var peak = 0L

  /** Start counting a new request's blocks (listener bus drained). */
  def nextRequest(): Unit = synchronized { request += 1; current = 0L }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) synchronized {
      val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      val (before, owner) = Option(held.get(key)).getOrElse((0L, request))
      if (size > 0) held.put(key, (size, owner)) else held.remove(key)
      if (owner == request) current += size - before
      if (armed && current > peak) peak = current
    }
  }

  def peakBytes: Long = synchronized(peak)
}

/** Traced runs only: records jobs, stages, SQL executions, stream
  * micro-batches and block puts while `enabled`, as JSON lines that
  * run.py turns into spans and per-layer metrics. Event times are the
  * epoch milliseconds Spark stamps on its events. */
final class Tracer extends SparkListener {
  @volatile var enabled = false
  private val lines = new ConcurrentLinkedQueue[String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, JobStart]()
  private val stageTasks = new ConcurrentHashMap[(Int, Int), TaskTotals]()

  private final case class JobStart(time: Long, exec: Option[Long], owner: Option[String],
      site: String)

  private final class TaskTotals {
    var tasks, runMs, gcMs, schedMs, shuffleRead, shuffleWrite, spill,
      input, output, outputRecords = 0L
  }

  def records: Iterator[String] = lines.iterator.asScala

  private def emit(fields: (String, Any)*): Unit =
    lines.add(fields.map { case (k, v) => Json.str(k) + ":" + Json.value(v) }
      .mkString("{", ",", "}"))

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val props = Option(e.properties)
    val execId = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobStart.put(e.jobId, JobStart(e.time, execId.flatMap(_.toLongOption),
      Frames.owner(site), site.takeWhile(_ != '\n')))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobStart.remove(e.jobId))
    .foreach { j =>
      emit("ev" -> "job", "id" -> e.jobId, "start" -> j.time, "end" -> e.time,
        "exec" -> j.exec, "module" -> j.owner, "site" -> j.site)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled && e.taskMetrics != null) {
    val t = stageTasks.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new TaskTotals)
    val m = e.taskMetrics
    val info = e.taskInfo
    t.synchronized {
      t.tasks += 1
      t.runMs += m.executorRunTime
      t.gcMs += m.jvmGCTime
      t.schedMs += math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime)
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.diskBytesSpilled
      t.input += m.inputMetrics.bytesRead
      t.output += m.outputMetrics.bytesWritten
      t.outputRecords += m.outputMetrics.recordsWritten
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    Option(stageTasks.remove((s.stageId, s.attemptNumber()))).foreach { t =>
      emit("ev" -> "stage", "id" -> s.stageId, "job" -> Option(stageJob.get(s.stageId)),
        "start" -> s.submissionTime.getOrElse(0L), "end" -> s.completionTime.getOrElse(0L),
        "tasks" -> t.tasks, "run_ms" -> t.runMs, "gc_ms" -> t.gcMs, "sched_ms" -> t.schedMs,
        "shuffle_read" -> t.shuffleRead, "shuffle_write" -> t.shuffleWrite, "spill" -> t.spill,
        "input" -> t.input, "output" -> t.output, "output_records" -> t.outputRecords)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = if (enabled) {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD && info.storageLevel.isValid)
      emit("ev" -> "block", "time" -> System.currentTimeMillis(),
        "bytes" -> (info.memSize + info.diskSize))
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = if (enabled) event match {
    case e: SparkListenerSQLExecutionStart =>
      emit("ev" -> "sql_start", "id" -> e.executionId, "root" -> e.rootExecutionId,
        "time" -> e.time, "module" -> Frames.owner(e.details))
    case e: SparkListenerSQLExecutionEnd =>
      val qe = PerfbenchSql.queryExecution(e)
      val phases = Option(qe).map(_.tracker.phases.map { case (k, v) => k -> v.durationMs })
        .getOrElse(Map.empty)
      val (wscg, fallback) = Option(qe).map(q => Frames.planStats(q.executedPlan)).getOrElse((0, 0))
      emit("ev" -> "sql_end", "id" -> e.executionId, "time" -> e.time,
        "analysis_ms" -> phases.getOrElse("analysis", 0L),
        "optimization_ms" -> phases.getOrElse("optimization", 0L),
        "planning_ms" -> phases.getOrElse("planning", 0L),
        "wscg" -> wscg, "fallback" -> fallback)
    case _ =>
  }

  /** Micro-batch progress of every stream the requests run. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (enabled) {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      emit("ev" -> "batch", "run" -> p.runId.toString, "batch" -> p.batchId,
        "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "rows" -> p.numInputRows, "duration_ms" -> d.toMap)
    }
  }
}

/** Call-site and plan readers shared by the listeners. */
object Frames {
  /** Who launched the work behind a Spark call site: the module of its
    * innermost `graft.` frame (`graft.operators.Dedup$.$anonfun$x$1(...)`
    * -> Dedup), else `@harness` when the benchmark's own action did. */
  def owner(callSite: String): Option[String] = {
    val frames = Option(callSite).getOrElse("").split("\n").map(_.trim)
    frames.find(_.startsWith("graft.")).map { frame =>
      val cls = frame.takeWhile(_ != '(')
      cls.take(cls.lastIndexOf('.')).split('.').last.takeWhile(_ != '$')
    }.orElse(frames.find(_.startsWith("perfbench.")).map(_ => "@harness"))
  }

  /** (whole-stage codegen stages, nodes holding a CodegenFallback
    * expression) of an executed plan, AQE stages and subqueries included. */
  def planStats(root: SparkPlan): (Int, Int) = {
    var wscg = 0
    var fallback = 0
    def visit(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
      case q: QueryStageExec => visit(q.plan)
      case _: ReusedExchangeExec => ()
      case _ =>
        if (p.isInstanceOf[WholeStageCodegenExec]) wscg += 1
        if (p.expressions.exists(_.exists(_.isInstanceOf[CodegenFallback]))) fallback += 1
        p.children.foreach(visit)
        p.subqueries.foreach(visit)
    }
    visit(root)
    (wscg, fallback)
  }
}

/** Minimal JSON rendering for the harness's own records. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => other.toString
  }
}
