package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `parent` is the id of the span that caused it
  * (0 for the run's root); every span of a run carries the run id.
  */
final case class Span(id: Int, parent: Int, name: String,
    startNs: Long, endNs: Long, attrs: Map[String, Any])

/** In-memory span recorder, written out once when the run ends. With
  * `enabled = false` every call only runs its body.
  */
final class Tracer(val runId: String, enabled: Boolean) {
  private val spans = ArrayBuffer[Span]()
  private var stack = List(0)
  private var nextId = 1
  // listener events carry wall-clock millis; spans use nanoTime
  private val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def current: Int = synchronized(stack.head)

  def span[T](name: String, attrs: Map[String, Any] = Map.empty)(body: => T): T =
    if (!enabled) body
    else {
      val (id, parent) = synchronized {
        val id = nextId
        nextId += 1
        val p = stack.head
        stack = id :: stack
        (id, p)
      }
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        synchronized {
          stack = stack.tail
          spans += Span(id, parent, name, t0, t1, attrs)
        }
      }
    }

  /** A span observed from outside the traced thread (a Spark job). */
  def recordMillis(name: String, parent: Int, startMs: Long, endMs: Long,
      attrs: Map[String, Any]): Unit = if (enabled) synchronized {
    spans += Span(nextId, parent, name, startMs * 1000000L - epochNs,
      endMs * 1000000L - epochNs, attrs)
    nextId += 1
  }

  def all: Seq[Span] = synchronized(spans.toList.sortBy(_.startNs))

  def toJsonLines: Seq[String] = all.map { s =>
    Json.write(Map("run_id" -> runId, "id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "attrs" -> s.attrs))
  }
}

/** What the Spark shell did during one measured interval. */
final case class ShellStats(
    jobs: Int, stages: Int, tasks: Int,
    shuffleWrite: Long, shuffleRead: Long,
    outputBytes: Long, spillBytes: Long, gcMs: Long, taskMs: Long,
    taskSkew: Double, jobIntervals: Seq[(Long, Long)])

/** What the executed plans of one measured interval held. `scanBytes`
  * is the size of the files the scans selected: task input metrics miss
  * the bytes parquet reads on its own I/O threads.
  */
final case class PlanStats(scans: Int, exchanges: Int, scanBytes: Long)

final case class PassStats(shell: ShellStats, plans: PlanStats) {
  def toMap: Map[String, Any] = Map(
    "jobs" -> shell.jobs, "stages" -> shell.stages, "tasks" -> shell.tasks,
    "shuffle_write_bytes" -> shell.shuffleWrite,
    "shuffle_read_bytes" -> shell.shuffleRead,
    "output_bytes" -> shell.outputBytes, "spill_bytes" -> shell.spillBytes,
    "gc_ms" -> shell.gcMs, "task_ms" -> shell.taskMs,
    "task_skew" -> shell.taskSkew, "scans" -> plans.scans,
    "exchanges" -> plans.exchanges, "scan_bytes" -> plans.scanBytes)
}

/** Counts jobs, stages and task metrics between `reset()` and
  * `snapshot()`, and records each job as a span under the tracer's
  * current span.
  */
final class ShellListener(tracer: Tracer) extends SparkListener {
  private var jobs = 0
  private var stages = 0
  private var tasks = 0
  private var shuffleWrite, shuffleRead, outputBytes = 0L
  private var spillBytes, gcMs, taskMs = 0L
  private val stageTaskMs = collection.mutable.Map[Int, ArrayBuffer[Long]]()
  private val jobStart = collection.mutable.Map[Int, Long]()
  private val intervals = ArrayBuffer[(Long, Long)]()
  @volatile private var parent = 0

  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0
    shuffleWrite = 0; shuffleRead = 0; outputBytes = 0
    spillBytes = 0; gcMs = 0; taskMs = 0
    stageTaskMs.clear(); jobStart.clear(); intervals.clear()
    parent = tracer.current
  }

  /** Jobs started since the last `reset()`. */
  def jobCount: Int = synchronized(jobs)

  def snapshot(): ShellStats = synchronized {
    // skew of the stage that held most of the task time: the stage whose
    // slowest task sets the pass's critical path
    val heaviest = stageTaskMs.values.filter(_.size > 1)
      .maxByOption(_.sum)
    val skew = heaviest.map { ts =>
      val s = ts.sorted
      val med = s(s.size / 2).max(1L)
      s.last.toDouble / med
    }.getOrElse(1.0)
    ShellStats(jobs, stages, tasks, shuffleWrite, shuffleRead,
      outputBytes, spillBytes, gcMs, taskMs, skew, intervals.toList)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val t0 = jobStart.getOrElse(e.jobId, e.time)
    intervals += ((t0, e.time))
    tracer.recordMillis("spark.job", parent, t0, e.time,
      Map("job_id" -> e.jobId))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      outputBytes += m.outputMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      gcMs += m.jvmGCTime
      taskMs += m.executorRunTime
      stageTaskMs.getOrElseUpdate(e.stageId, ArrayBuffer()) += m.executorRunTime
    }
  }
}

/** Counts scans, the bytes of the files they select and shuffle
  * exchanges in each executed plan, adaptive query stages included.
  */
final class PlanListener extends QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private var scans = 0
  private var exchanges = 0
  private var scanBytes = 0L

  def reset(): Unit = synchronized { scans = 0; exchanges = 0; scanBytes = 0 }
  def snapshot(): PlanStats = synchronized(PlanStats(scans, exchanges, scanBytes))

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val plan: SparkPlan = qe.executedPlan
    val fileScans = collectWithSubqueries(plan) { case p: FileSourceScanExec => p }
    val batchScans = collectWithSubqueries(plan) { case p: BatchScanExec => p }
    val x = collectWithSubqueries(plan) { case p: ShuffleExchangeExec => p }.size
    val bytes = fileScans.flatMap(_.metrics.get("filesSize")).map(_.value).sum
    synchronized {
      scans += fileScans.size + batchScans.size
      exchanges += x
      scanBytes += bytes
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}
