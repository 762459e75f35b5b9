package perfbench

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.perfbench.BusBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed operation of a workload: a batch query execution or a
  * stream micro-batch. Times are epoch milliseconds, so they line up with
  * the times Spark stamps on its listener events and log records.
  * `buildEnd` marks where `SparkEntry` construction (or `Pipeline.start`)
  * ended; the rest of the span is execution. `cpuS` is the CPU time the
  * whole JVM spent meanwhile.
  */
final case class OpSpan(id: String, name: String, kind: String,
    start: Double, buildEnd: Double, end: Double, ok: Boolean, cpuS: Double = 0.0) {
  def wallS: Double = (end - start) / 1000.0
}

/** Per-stage task totals, summed from task-end events. */
final class StageAgg(val id: Int) {
  var name = ""
  var submit = 0L
  var complete = 0L
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var shuffleReadBytes = 0L
  var shuffleReadRecords = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  var inputBytes = 0L
  var inputRecords = 0L
}

final case class JobRec(id: Int, group: Option[String], execId: Option[Long],
    start: Long, stageIds: Seq[Int]) {
  @volatile var end: Long = -1L
}

final case class PhaseRec(name: String, start: Long, end: Long)

/** A "Broadcasting large task binary" warning, tied to the stage whose
  * submission logged it.
  */
final case class LargeBinary(time: Long, mib: Double, stageId: Option[Int])

/** The traced run's recorder: a SparkListener (jobs, stages, tasks, AQE
  * updates), a QueryExecutionListener (plan phases), a
  * StreamingQueryListener (micro-batch progress) and a log appender
  * (codegen compile times, large task binaries). Everything is kept in
  * memory; `Layers` turns it into spans and per-layer numbers afterwards.
  * Operations are tagged with a job group so jobs attribute exactly.
  */
final class Trace(spark: SparkSession) {
  private val lock = new Object
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageAgg]
  val phases = mutable.ArrayBuffer.empty[PhaseRec]
  val aqeUpdates = mutable.Map.empty[Long, Int].withDefaultValue(0)
  val codegen = mutable.ArrayBuffer.empty[(Long, Double)]
  val largeBinaries = mutable.ArrayBuffer.empty[LargeBinary]
  val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  private var pendingBinary = Map.empty[String, (Long, Double)]

  private def stage(id: Int): StageAgg = stages.getOrElseUpdate(id, new StageAgg(id))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val props = Option(e.properties)
      jobs += JobRec(e.jobId,
        props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))),
        props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong),
        e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      val s = stage(e.stageInfo.stageId)
      s.name = e.stageInfo.name
      s.submit = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      stage(e.stageInfo.stageId).complete =
        e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val s = stage(e.stageId)
      s.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRecords += m.inputMetrics.recordsRead
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        lock.synchronized(aqeUpdates(u.executionId) += 1)
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = lock.synchronized {
      qe.tracker.phases.foreach { case (name, p) =>
        phases += PhaseRec(name, p.startTimeMs, p.endTimeMs)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  /** Plan phases Spark ran while the query was being built: analysis
    * happens when the DataFrame is constructed, outside the write's
    * own QueryExecution that the listener reports.
    */
  def addPhases(qe: QueryExecution): Unit = lock.synchronized {
    qe.tracker.phases.foreach { case (name, p) => phases += PhaseRec(name, p.startTimeMs, p.endTimeMs) }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized(progress += e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val CodegenRe = """Code generated in ([0-9.]+) ms""".r.unanchored
  private val BinaryRe = """Broadcasting large task binary with size ([0-9.]+) (B|KiB|MiB|GiB)""".r.unanchored
  private val SubmitRe = """Submitting \d+ missing tasks from \w*Stage (\d+)""".r.unanchored

  private def unitMiB(unit: String): Double = unit match {
    case "B" => 1.0 / (1 << 20)
    case "KiB" => 1.0 / 1024
    case "MiB" => 1.0
    case _ => 1024.0
  }

  /** The DAGScheduler logs the large-binary warning while it serializes a
    * stage's tasks and, on the same thread, names the stage in the
    * "Submitting … missing tasks from <stage>" line right after; the
    * pending warning is tied to that stage.
    */
  private def onLog(time: Long, thread: String, level: Level, msg: String): Unit = lock.synchronized {
    msg match {
      case CodegenRe(ms) => codegen += time -> ms.toDouble
      case BinaryRe(size, unit) => pendingBinary += thread -> (time -> size.toDouble * unitMiB(unit))
      case SubmitRe(stageId) =>
        pendingBinary.get(thread).foreach { case (t, mib) =>
          largeBinaries += LargeBinary(t, mib, Some(stageId.toInt))
          pendingBinary -= thread
        }
      case _ =>
    }
    if (level.isMoreSpecificThan(Level.WARN) && BinaryRe.findFirstIn(msg).isEmpty)
      System.err.println(s"[$level] $msg")
  }

  private val appender = new AbstractAppender("perfbench-trace", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit =
      onLog(e.getTimeMillis, e.getThreadName, e.getLevel, e.getMessage.getFormattedMessage)
  }
  private val tracedLoggers = Seq(
    "org.apache.spark.scheduler.DAGScheduler",
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator")

  private var attached = false

  def attach(): Unit = if (!attached) {
    attached = true
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    appender.start()
    cfg.addAppender(appender)
    tracedLoggers.foreach { name =>
      val lc = new LoggerConfig(name, Level.INFO, false)
      lc.addAppender(appender, Level.INFO, null)
      cfg.addLogger(name, lc)
    }
    ctx.updateLoggers()
  }

  def detach(): Unit = if (attached) {
    drain()
    attached = false
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    tracedLoggers.foreach(ctx.getConfiguration.removeLogger)
    ctx.updateLoggers()
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(): Unit = BusBridge.drain(spark.sparkContext)

  /** Jobs of an operation: those run under its job group, plus jobs
    * from outside the benchmark's groups that started inside its span (a
    * stream's micro-batch jobs run under the query's own group).
    */
  def jobsOf(op: OpSpan): Seq[JobRec] = lock.synchronized {
    jobs.filter(j => j.group.contains(op.id) ||
      (!j.group.exists(_.startsWith(Trace.OpPrefix)) && j.start >= op.start && j.start <= op.end)).toSeq
  }

  def stagesOf(js: Seq[JobRec]): Seq[StageAgg] = lock.synchronized {
    js.flatMap(_.stageIds).distinct.flatMap(stages.get).filter(_.submit > 0)
  }

  def phasesIn(start: Double, end: Double): Seq[PhaseRec] = lock.synchronized {
    phases.filter(p => p.start >= start - 1 && p.end <= end + 1).toSeq
  }

  def codegenIn(start: Double, end: Double): Seq[Double] = lock.synchronized {
    codegen.collect { case (t, ms) if t >= start && t <= end => ms }.toSeq
  }

  def largeBinariesOf(stageIds: Set[Int]): Seq[LargeBinary] = lock.synchronized {
    largeBinaries.filter(_.stageId.exists(stageIds)).toSeq
  }

  def unattributedBinaries(attributed: Set[Int]): Seq[LargeBinary] = lock.synchronized {
    largeBinaries.filterNot(_.stageId.exists(attributed)).toSeq ++
      pendingBinary.values.map { case (t, mib) => LargeBinary(t, mib, None) }
  }

  def aqeUpdatesOf(js: Seq[JobRec]): Int = lock.synchronized {
    js.flatMap(_.execId).distinct.map(aqeUpdates).sum
  }

  def progressSnapshot: Seq[StreamingQueryProgress] = lock.synchronized(progress.toSeq)
}

object Trace {
  /** Job-group prefix of the benchmark's own batch operations. */
  val OpPrefix = "pb:"
}
