package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Executor-side totals for a set of tasks. */
final class TaskTotals {
  var cpuNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var peakMem = 0L

  def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
    cpuNs += m.executorCpuTime
    shuffleRead += m.shuffleReadMetrics.totalBytesRead
    shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    spill += m.memoryBytesSpilled + m.diskBytesSpilled
    peakMem = math.max(peakMem, m.peakExecutionMemory)
  }

  def addAll(o: TaskTotals): Unit = {
    cpuNs += o.cpuNs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
    peakMem = math.max(peakMem, o.peakMem)
  }
}

/** One Spark job as seen on the listener bus. Times are epoch ms. */
final case class JobRecord(id: Int, group: String, firstStage: String,
                           startMs: Long, var endMs: Long = -1L)

/** SparkListener that attributes jobs and task metrics to the job group
  * that was set when the job was submitted. The benchmark sets the
  * group to "<op>|<phase>" around each layer call of a traced operation
  * ("op<k>|execute"), and to "u|<phase>" for untraced ones; only traced
  * operations keep per-job records.
  */
final class Recorder extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val groups = mutable.HashMap.empty[String, TaskTotals]
  /** Executor CPU of every task outside the output checks. */
  private var measuredCpu = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup(_) = group)
    if (group.startsWith("op")) {
      val first = e.stageInfos.sortBy(_.stageId).headOption.map(_.name).getOrElse("")
      jobs(e.jobId) = JobRecord(e.jobId, group, first, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskMetrics != null) {
      val group = stageGroup.getOrElse(e.stageId, "")
      if (!group.endsWith("|check")) measuredCpu += e.taskMetrics.executorCpuTime
      if (group.startsWith("op"))
        groups.getOrElseUpdate(group, new TaskTotals).add(e.taskMetrics)
    }
  }

  /** Jobs whose group starts with `prefix`, in submission order. */
  def jobsIn(prefix: String): Seq[JobRecord] = synchronized {
    jobs.values.filter(_.group.startsWith(prefix)).toSeq
  }

  def totalsIn(prefix: String): TaskTotals = synchronized {
    val t = new TaskTotals
    groups.foreach { case (g, acc) => if (g.startsWith(prefix)) t.addAll(acc) }
    t
  }

  def cpuNs: Long = synchronized(measuredCpu)

  /** Forgets per-job state of finished operations (totals are kept). */
  def forget(prefix: String): Unit = synchronized {
    jobs.filterInPlace((_, j) => !j.group.startsWith(prefix))
    groups.filterInPlace((g, _) => !g.startsWith(prefix))
    stageGroup.filterInPlace((_, g) => !g.startsWith(prefix))
  }
}

/** Catalyst phase times of each finished write, from the write's own
  * QueryExecution (the source DataFrame's tracker only sees analysis).
  */
final class PlanListener extends QueryExecutionListener {
  private val phases = mutable.ArrayBuffer.empty[(String, Map[String, Long])]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      phases += funcName -> qe.tracker.phases.map { case (k, s) => k -> (s.endTimeMs - s.startTimeMs) }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Phase milliseconds of every write finished since the last call. */
  def take(): Seq[(String, Map[String, Long])] = synchronized {
    val out = phases.toList
    phases.clear()
    out
  }
}

/** Counts log events the engine emits at WARN and above that mark a
  * plan-quality problem: whole-stage or expression codegen falling back
  * to interpreted execution, and windows with no partition spec.
  */
object LogCounter {
  val codegenFallbacks = new AtomicLong
  val unpartitionedWindows = new AtomicLong
  private var installed: Option[AbstractAppender] = None

  private final class Counter extends AbstractAppender(
      "perfbench-log-counter", null, null, true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = {
      val m = e.getMessage.getFormattedMessage
      if (m.contains("Whole-stage codegen disabled") ||
          m.contains("falling back to interpreter mode")) codegenFallbacks.incrementAndGet()
      else if (m.contains("No Partition Defined for Window")) unpartitionedWindows.incrementAndGet()
    }
  }

  /** Attaches the counter to the root logger. Call after the Spark
    * session exists: Spark configures logging when it starts.
    */
  def install(): Unit = synchronized {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val conf = ctx.getConfiguration
    installed.foreach(a => conf.getRootLogger.removeAppender(a.getName))
    val a = new Counter
    a.start()
    conf.getRootLogger.addAppender(a, null, null)
    ctx.updateLoggers()
    installed = Some(a)
  }

  def snapshot: (Long, Long) = (codegenFallbacks.get, unpartitionedWindows.get)
}
