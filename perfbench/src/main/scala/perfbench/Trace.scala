package perfbench

import scala.collection.mutable
import org.apache.spark.sql.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One operation of a traced run (a query of one pass, a catch-up
  * cycle, the live phase, ...). Times are epoch milliseconds, the
  * clock Spark's listener events carry. */
final class Span(val id: String, val start: Long) {
  var end = 0L
  /** Phase wall times in seconds, set by the benchmark code. */
  val phaseS = mutable.LinkedHashMap[String, Double]()
  /** Job intervals per phase ("call", "plan", "exec", "verify", "stream"). */
  val jobIntervals = mutable.HashMap[String, mutable.ArrayBuffer[(Long, Long)]]()
  var jobs, stages, tasks = 0L
  var runMs, gcMs, cpuNs = 0L
  var shuffleRead, shuffleWrite, spill, peakExecMem = 0L
  var scanTasks, inputBytes, inputRows, scanRunMs = 0L
  var maxSkew = 1.0
  val taskIntervals = mutable.ArrayBuffer[(Long, Long)]()
  var cacheEntriesLeft = 0
  var sqlExecutions = 0
  var qePlanningMs = 0L

  def wallS: Double = (end - start) / 1000.0
  def jobCount(phase: String): Int = jobIntervals.get(phase).map(_.size).getOrElse(0)

  /** Span time with no task running: the scheduler floor. */
  def driverGapS: Double = (end - start - Trace.unionMs(taskIntervals, start, end)) / 1000.0

  /** Per phase: wall time not covered by any job of that phase, i.e.
    * time spent outside Spark jobs (plan construction, collect handling, ...). */
  def selfS: Map[String, Double] = phaseS.map { case (p, s) =>
    val iv = jobIntervals.getOrElse(p, mutable.ArrayBuffer.empty[(Long, Long)])
    p -> math.max(0.0, s - Trace.unionMs(iv, Long.MinValue, Long.MaxValue) / 1000.0)
  }.toMap

  def toMap: Map[String, Any] = Map(
    "id" -> id, "wall_s" -> wallS, "phases_s" -> phaseS.toMap, "self_s" -> selfS,
    "jobs" -> jobs, "jobs_by_phase" -> jobIntervals.map { case (k, v) => k -> v.size }.toMap,
    "stages" -> stages, "tasks" -> tasks,
    "executor_run_s" -> runMs / 1000.0, "executor_cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1000.0,
    "driver_gap_s" -> driverGapS, "task_skew" -> maxSkew,
    "shuffle_read_bytes" -> shuffleRead, "shuffle_write_bytes" -> shuffleWrite,
    "spill_bytes" -> spill, "peak_exec_mem_bytes" -> peakExecMem,
    "scan_tasks" -> scanTasks, "input_bytes" -> inputBytes, "input_rows" -> inputRows,
    "scan_task_s" -> scanRunMs / 1000.0, "cache_entries_left" -> cacheEntriesLeft,
    "sql_executions" -> sqlExecutions, "qe_planning_s" -> qePlanningMs / 1000.0)
}

/** The traced run's recorder: a SparkListener, a QueryExecutionListener
  * and a StreamingQueryListener, registered from the benchmark (nothing
  * in the library changes). Jobs are attributed to spans by job group
  * (set to the span id) and the `perfbench.phase` local property;
  * streaming jobs, whose group is the stream's run id, go to the span
  * open when they start. */
final class Trace(spark: SparkSession) extends SparkListener {
  private val byId = mutable.LinkedHashMap[String, Span]()
  @volatile private var current: Option[Span] = None
  private val jobSpan = mutable.HashMap[Int, (Span, String, Long)]()
  private val stageSpan = mutable.HashMap[Int, Span]()
  private val stageTaskMs = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()
  private val blocks = mutable.HashMap[String, Long]()
  private var storageBytes = 0L
  var storageBytesPeak = 0L
  var blockUpdates = 0L
  val progress = mutable.ArrayBuffer[org.apache.spark.sql.streaming.StreamingQueryProgress]()

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Trace.this.synchronized {
        current.foreach { s =>
          s.sqlExecutions += 1
          s.qePlanningMs += qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized { progress += e.progress }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def install(): Unit = {
    synchronized { blocks.clear(); storageBytes = 0L }
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = PerfbenchBridge.drain(spark)

  def open(id: String): Span = {
    drain()
    val s = new Span(id, System.currentTimeMillis())
    synchronized { byId(id) = s; current = Some(s) }
    s
  }

  def close(s: Span): Unit = {
    s.end = System.currentTimeMillis()
    drain()
    synchronized { if (current.contains(s)) current = None }
  }

  def spans: Seq[Span] = synchronized(byId.values.toSeq)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val phase = props.flatMap(p => Option(p.getProperty(Trace.PhaseKey))).getOrElse("stream")
    group.flatMap(byId.get).orElse(current).foreach { s =>
      s.jobs += 1
      jobSpan(e.jobId) = (s, phase, e.time)
      e.stageIds.foreach(stageSpan(_) = s)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (s, phase, t0) =>
      s.jobIntervals.getOrElseUpdate(phase, mutable.ArrayBuffer()) += ((t0, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      s.tasks += 1
      val info = e.taskInfo
      s.taskIntervals += ((info.launchTime, info.finishTime))
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += info.duration
      Option(e.taskMetrics).foreach { m =>
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
        if (m.inputMetrics.bytesRead > 0 || m.inputMetrics.recordsRead > 0) {
          s.scanTasks += 1
          s.inputBytes += m.inputMetrics.bytesRead
          s.inputRows += m.inputMetrics.recordsRead
          s.scanRunMs += m.executorRunTime
        }
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageSpan.get(id).foreach { s =>
      s.stages += 1
      stageTaskMs.get(id).filter(_.size >= 2).foreach { ms =>
        val med = Stats.median(ms.map(_.toDouble).toSeq)
        if (med > 0) s.maxSkew = math.max(s.maxSkew, ms.max / med)
      }
    }
    stageTaskMs.remove(id)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    blockUpdates += 1
    val key = b.blockManagerId.toString + "/" + b.blockId.name
    storageBytes -= blocks.remove(key).getOrElse(0L)
    if (b.storageLevel.isValid) {
      val size = b.memSize + b.diskSize
      blocks(key) = size
      storageBytes += size
    }
    storageBytesPeak = math.max(storageBytesPeak, storageBytes)
  }
}

object Trace {
  val PhaseKey = "perfbench.phase"

  /** Length of the union of [a, b) intervals clipped to [lo, hi). */
  def unionMs(iv: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1).foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
    if (curB > curA) total += curB - curA
    total
  }
}
