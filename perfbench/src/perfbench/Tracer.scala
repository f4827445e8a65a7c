package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.SparkInternals
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** What one layer phase (construction or execution) of one query did,
  * as counted by the listener bus while that phase was open. */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskCpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var taskGcMs = 0L
  var inputBytes = 0L
  var inputRows = 0L
  var outputBytes = 0L
  var rddBlockBytes = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  /** Planning trackers already counted, by identity. */
  val trackers = mutable.Set.empty[Int]
  /** One entry per executed micro-batch of any streaming query. */
  val batches = mutable.ArrayBuffer.empty[Map[String, Any]]

  def toJson: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_cpu_ms" -> taskCpuNs / 1e6, "shuffle_bytes" -> shuffleBytes,
    "spill_bytes" -> spillBytes, "task_gc_ms" -> taskGcMs,
    "input_bytes" -> inputBytes, "input_rows" -> inputRows,
    "output_bytes" -> outputBytes, "rdd_block_bytes" -> rddBlockBytes,
    "analysis_ms" -> analysisMs, "optimization_ms" -> optimizationMs,
    "planning_ms" -> planningMs, "batches" -> batches.toSeq)
}

/** A timed interval at a layer boundary; spans of one query share its
  * query span as ancestor. Times are epoch microseconds. */
final case class Span(id: Int, parent: Int, name: String, startUs: Long,
                      endUs: Long, attrs: Map[String, Any]) {
  def toJson: Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "name" -> name, "start_us" -> startUs, "end_us" -> endUs, "attrs" -> attrs)
}

object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseMs * 1000 + (System.nanoTime() - baseNs) / 1000
}

/** Benchmark-owned listener. Events land in the [[Counts]] of the phase
  * that is open; [[end]] drains the listener bus before it closes a phase,
  * so every event a phase caused is counted in that phase and no other.
  * Spans are kept in memory and written out once, after the run. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val idle = new Counts
  @volatile private var open: Counts = idle
  @volatile private var openSpan = 0
  private var nextId = 0
  private val started = mutable.Map.empty[Int, (Long, Int, String)]
  private val done = mutable.ArrayBuffer.empty[Span]
  private val jobStarts = mutable.Map.empty[Int, (Long, Int)]

  /** Every job id the SparkContext reported while the tracer listened. */
  val jobIds = mutable.ArrayBuffer.empty[Int]
  /** Streaming queries started and not yet terminated, over all sessions. */
  val activeStreams = mutable.Set.empty[java.util.UUID]

  def openSpanAt(name: String, parent: Int): Int = synchronized {
    nextId += 1
    started(nextId) = (Clock.nowUs, parent, name)
    nextId
  }

  def closeSpan(id: Int, attrs: Map[String, Any] = Map.empty): Unit = synchronized {
    val (start, parent, name) = started.remove(id).get
    done += Span(id, parent, name, start, Clock.nowUs, attrs)
  }

  private def addSpan(parent: Int, name: String, startUs: Long, endUs: Long,
                      attrs: Map[String, Any]): Unit = synchronized {
    nextId += 1
    done += Span(nextId, parent, name, startUs, endUs, attrs)
  }

  def spans: Seq[Span] = synchronized(done.sortBy(_.id).toSeq)

  /** Open a layer phase under `parent`. */
  def begin(name: String, parent: Int): Unit = {
    openSpan = openSpanAt(name, parent)
    open = new Counts
  }

  /** Close the open phase once the bus has delivered all it caused. */
  def end(): Counts = {
    SparkInternals.drainListenerBus(sc)
    val c = open
    closeSpan(openSpan, Map("jobs" -> c.jobs, "stages" -> c.stages))
    open = idle
    openSpan = 0
    c
  }

  private def catalyst(phase: String, s: Long, t: Long, attrs: Map[String, Any]): Unit = {
    val c = open
    phase match {
      case "analysis" => c.analysisMs += t - s
      case "optimization" => c.optimizationMs += t - s
      case "planning" => c.planningMs += t - s
      case _ =>
    }
    addSpan(openSpan, s"catalyst.$phase", s * 1000, t * 1000, attrs)
  }

  /** Count the eager analysis of the DataFrame a construction returned,
    * unless an execution already reported its tracker. Call before [[end]]. */
  def constructed(df: org.apache.spark.sql.DataFrame): Unit = {
    SparkInternals.drainListenerBus(sc)
    SparkInternals.analysis(df).foreach { case (tracker, s, t) =>
      if (open.trackers.add(tracker)) catalyst("analysis", s, t, Map("source" -> "construction"))
    }
  }

  /** Close the open phase, if any (a query that failed mid-phase). */
  def endIfOpen(): Unit = if (openSpan != 0) end(): Unit

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    open.jobs += 1
    jobIds.synchronized(jobIds += e.jobId)
    jobStarts(e.jobId) = (e.time * 1000, openSpan)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStarts.remove(e.jobId).foreach { case (startUs, parent) =>
      addSpan(parent, s"job ${e.jobId}", startUs, e.time * 1000,
        Map("result" -> e.jobResult.toString))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = open
    val info = e.stageInfo
    c.stages += 1
    c.tasks += info.numTasks
    val m = info.taskMetrics
    if (m != null) {
      c.taskCpuNs += m.executorCpuTime
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
      c.taskGcMs += m.jvmGCTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRows += m.inputMetrics.recordsRead
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      open.rddBlockBytes += b.memSize + b.diskSize
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionEnd =>
      if (SparkInternals.trackerId(e).exists(open.trackers.add))
        SparkInternals.catalystPhases(e).foreach { case (phase, s, t) =>
          catalyst(phase, s, t, Map("execution_id" -> e.executionId))
        }
    case e: QueryProgressEvent =>
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val ops = p.stateOperators.toSeq
      val trigger = d.getOrElse("triggerExecution", 0L)
      open.batches += Map(
        "run_id" -> p.runId.toString, "batch_id" -> p.batchId,
        "input_rows" -> p.numInputRows, "trigger_ms" -> trigger,
        "add_batch_ms" -> d.getOrElse("addBatch", 0L),
        "get_batch_ms" -> d.getOrElse("getBatch", 0L),
        "wal_commit_ms" -> d.getOrElse("walCommit", 0L),
        "query_planning_ms" -> d.getOrElse("queryPlanning", 0L),
        "state_rows" -> ops.map(_.numRowsTotal).sum,
        "state_memory_bytes" -> ops.map(_.memoryUsedBytes).sum,
        "state_commit_ms" -> ops.map(_.commitTimeMs).sum)
      // the progress timestamp is the trigger's start
      val startUs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000
      addSpan(openSpan, s"micro-batch ${p.batchId}", startUs, startUs + trigger * 1000,
        Map("run_id" -> p.runId.toString, "input_rows" -> p.numInputRows))
    case e: QueryStartedEvent => activeStreams.synchronized(activeStreams += e.runId)
    case e: QueryTerminatedEvent => activeStreams.synchronized(activeStreams -= e.runId)
    case _ =>
  }
}
