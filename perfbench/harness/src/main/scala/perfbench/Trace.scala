package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `parent` names the span that caused it: an
  * operation ("op:3"), an SQL execution ("sql:12"), a job ("job:40") or a
  * stage ("stage:57.0"). Spans delivered on Spark's asynchronous listener
  * bus leave it empty when no id ties them to an op; the report assigns
  * those to the op whose interval holds their start. Times are epoch
  * milliseconds; `attrs` holds the layer's counters. */
final case class Span(id: String, parent: String, layer: String,
    name: String, start: Double, end: Double, attrs: Map[String, Any])

/** In-memory span store, written out once at the end of a run. Spans are
  * recorded only while `on` is set, so the untraced half of a traced run
  * pays nothing beyond the volatile read. */
object Trace {
  @volatile var on = false
  /** The operation the single client thread is running, "" between ops. */
  @volatile var currentOp = ""
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val seq = new AtomicLong()

  def nowMs: Double = System.nanoTime() / 1e6 - nanoOffsetMs
  private val nanoOffsetMs = System.nanoTime() / 1e6 - System.currentTimeMillis()

  def record(s: Span): Unit = if (on) spans.add(s)
  def nextId(prefix: String): String = s"$prefix:${seq.incrementAndGet()}"
  def all: Seq[Span] = spans.asScala.toSeq

  /** Plan-phase spans of one query execution, parented to the op. */
  def recordPhases(qe: QueryExecution, op: String): Unit =
    if (on) qe.tracker.phases.foreach { case (phase, s) =>
      record(Span(nextId("plan"), op, "plans", phase,
        s.startTimeMs.toDouble, s.endTimeMs.toDouble, Map.empty))
    }
}

/** Jobs, stages, tasks and SQL executions from Spark's listener bus. A
  * job's parent is its SQL execution when it has one, else the op named
  * by its job group (the harness sets the group to the op id). */
final class SchedulerListener extends SparkListener {
  private val stageParent = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (Trace.on) {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("op:")).getOrElse("")
    val parent = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map("sql:" + _).getOrElse(group)
    jobStart.put(e.jobId, (e.time, parent, e.stageIds.size))
    e.stageIds.foreach(s => stageParent.put(s, s"job:${e.jobId}"))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (Trace.on) {
    Option(jobStart.remove(e.jobId)).foreach { case (t0, parent, stages) =>
      Trace.record(Span(s"job:${e.jobId}", parent, "scheduler", "job",
        t0.toDouble, e.time.toDouble, Map("stages" -> stages)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (Trace.on) {
      val i = e.stageInfo
      val t0 = i.submissionTime.getOrElse(0L).toDouble
      Trace.record(Span(s"stage:${i.stageId}.${i.attemptNumber()}",
        stageParent.getOrDefault(i.stageId, ""), "scheduler",
        "stage", t0, i.completionTime.map(_.toDouble).getOrElse(t0),
        Map("tasks" -> i.numTasks)))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (Trace.on && e.taskMetrics != null) {
      val m = e.taskMetrics
      val info = e.taskInfo
      Trace.record(Span(s"task:${info.taskId}",
        s"stage:${e.stageId}.${e.stageAttemptId}", "exec", "task",
        info.launchTime.toDouble, info.finishTime.toDouble, Map(
          "run_ms" -> m.executorRunTime,
          "cpu_ns" -> m.executorCpuTime,
          "gc_ms" -> m.jvmGCTime,
          "in_bytes" -> m.inputMetrics.bytesRead,
          "in_rows" -> m.inputMetrics.recordsRead,
          "sh_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
          "sh_read_rows" -> m.shuffleReadMetrics.recordsRead,
          "sh_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
          "sh_write_rows" -> m.shuffleWriteMetrics.recordsWritten,
          "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled))))
    }

  private val sqlStart = new java.util.concurrent.ConcurrentHashMap[Long, Long]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = if (Trace.on) e match {
    case s: SparkListenerSQLExecutionStart =>
      sqlStart.put(s.executionId, s.time)
    case s: SparkListenerSQLExecutionEnd =>
      Option(sqlStart.remove(s.executionId)).foreach { t0 =>
        Trace.record(Span(s"sql:${s.executionId}", "", "plans", "sql",
          t0.toDouble, s.time.toDouble, Map.empty))
      }
    case _ =>
  }
}

/** Plan phases of every action a lane runs internally (model training,
  * closure loops, commits), beside the op's own final query. */
final class PhaseListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Trace.recordPhases(qe, "")
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    Trace.recordPhases(qe, "")
}

/** The per-trigger `durationMs` breakdown of each streaming progress. */
final class ProgressListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (Trace.on && p.numInputRows > 0) {
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      Trace.record(Span(Trace.nextId("progress"), "",
        "streaming", "trigger", t0, t0 + d.getOrElse("triggerExecution", 0L),
        d))
    }
  }
}

/** The local filesystem with every call counted. It stays a
  * [[LocalFileSystem]], so the engine's local O_EXCL claim path and every
  * commit-safety check behave exactly as in an untraced run. Registered as
  * `fs.file.impl` for traced runs only. */
class CountingFileSystem extends LocalFileSystem {
  private def timed[T](kind: String, p: Path)(f: => T): T = {
    if (!Trace.on) return f
    val t0 = Trace.nowMs
    try f
    finally Trace.record(Span(Trace.nextId("fs"), Trace.currentOp, "commit",
      kind, t0, Trace.nowMs, Map("log" -> p.toString.contains("/_graft_log/"))))
  }

  override def listStatus(f: Path): Array[FileStatus] =
    timed("list", f)(super.listStatus(f))
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    timed("open", f)(super.open(f, bufferSize))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    timed("create", f)(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean =
    timed("rename", dst)(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    timed("delete", f)(super.delete(f, recursive))
}
