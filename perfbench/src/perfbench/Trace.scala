package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval on the run's timeline, in epoch microseconds. `parent` is
  * set where the harness knows it (a stage's job); the rest are placed by
  * time containment when the trace is summarised. */
final case class Span(name: String, layer: String, startUs: Long, endUs: Long,
                      parent: String = "")

/** What the listeners saw while one flow ran. Events arrive on Spark's
  * listener thread; every access is synchronized on the collector. */
final class FlowCollector(val traced: Boolean) {
  var inputRows = 0L
  var inputBytes = 0L
  var tasks = 0L
  var taskFailures = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var taskGcMs = 0L
  var taskWaitMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var exchanges = 0L
  var cachedBytesPeak = 0L
  val jobs = mutable.LinkedHashMap.empty[Int, (Long, Long, Seq[Int])]
  val stages = mutable.LinkedHashMap.empty[Int, (Long, Long)]
  val stageTaskRunMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  val phases = mutable.ArrayBuffer.empty[Span]
  val batches = mutable.ArrayBuffer.empty[Span]
  val batchPhaseMs = mutable.LinkedHashMap.empty[String, Long]
  var stateCommitMs = 0L
  var stateRows = 0L
}

/** Spark's public listeners, registered by the harness. The light part
  * (records read, which make_expected.py stores per flow; micro-batch
  * durations) is always on; the rest records only in a traced run. */
final class Trace(traced: Boolean) {
  @volatile private var current = new FlowCollector(false)
  private val rddBlocks = mutable.HashMap.empty[String, Long]
  private var cachedNow = 0L

  /** Open a flow; `tracedFlow` is false for the untraced passes a traced
    * run makes to measure its own overhead. */
  def begin(tracedFlow: Boolean): Unit =
    synchronized { current = new FlowCollector(traced && tracedFlow) }
  def end(): FlowCollector = synchronized {
    val c = current
    current = new FlowCollector(false)
    c
  }
  private def onCurrent(f: FlowCollector => Unit): Unit = {
    val c = current
    c.synchronized(f(c))
  }
  private def onTraced(f: FlowCollector => Unit): Unit =
    onCurrent(c => if (c.traced) f(c))

  // stage submission times, kept across flows: a task's wait for a core
  // is its launch time minus its stage's submission
  private val stageSubmitMs = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      onTraced(_.jobs(e.jobId) = (e.time, -1L, e.stageIds))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      onTraced { c =>
        c.jobs.get(e.jobId).foreach { case (s, _, ids) => c.jobs(e.jobId) = (s, e.time, ids) }
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (traced)
      e.stageInfo.submissionTime.foreach(t => stageSubmitMs.put(e.stageInfo.stageId, t))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      onTraced { c =>
        val i = e.stageInfo
        c.stages(i.stageId) = (i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = onCurrent { c =>
      val m = e.taskMetrics
      if (m != null) {
        c.inputRows += m.inputMetrics.recordsRead
        c.inputBytes += m.inputMetrics.bytesRead
      }
      if (c.traced) {
        c.tasks += 1
        if (!e.taskInfo.successful) c.taskFailures += 1
        Option(stageSubmitMs.get(e.stageId)).foreach(s =>
          c.taskWaitMs += math.max(0L, e.taskInfo.launchTime - s.longValue))
        if (m != null) {
          c.taskRunMs += m.executorRunTime
          c.taskCpuNs += m.executorCpuTime
          c.taskGcMs += m.jvmGCTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.stageTaskRunMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
            m.executorRunTime
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = if (traced) {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val now = Trace.this.synchronized {
          val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
          cachedNow += size - rddBlocks.getOrElse(b.blockId.name, 0L)
          if (size == 0L) rddBlocks.remove(b.blockId.name) else rddBlocks(b.blockId.name) = size
          cachedNow
        }
        onTraced(c => c.cachedBytesPeak = math.max(c.cachedBytesPeak, now))
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = onTraced { c =>
      c.phases ++= Trace.phaseSpans(qe)
      c.exchanges += (try Trace.exchanges(qe.executedPlan) catch { case _: Throwable => 0 })
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      if (d.containsKey("addBatch")) {
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
        val trigger = Option(d.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        onCurrent { c =>
          c.batches += Span(s"batch ${p.batchId}", "micro_batch", start, start + trigger * 1000L)
          if (c.traced) {
            d.forEach((k, v) => c.batchPhaseMs(k) = c.batchPhaseMs.getOrElse(k, 0L) + v)
            p.stateOperators.foreach { s =>
              c.stateCommitMs += s.commitTimeMs
              c.stateRows += s.numRowsTotal
            }
          }
        }
      }
    }
  }

  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    if (traced) spark.listenerManager.register(queryListener)
  }
}

object Trace {
  private val PhaseNames = Seq("analysis", "optimization", "planning")

  def phaseSpans(qe: QueryExecution): Seq[Span] = {
    val ph = qe.tracker.phases
    PhaseNames.flatMap(n => ph.get(n).map(s =>
      Span(n, "catalyst", s.startTimeMs * 1000L, s.endTimeMs * 1000L)))
  }

  /** Shuffle and broadcast exchanges of the plan that ran: the final
    * adaptive plan, its query stages and subqueries; a reused exchange
    * moves no data and is not counted. */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case _: ReusedExchangeExec => 0
    case e: Exchange => 1 + e.children.map(exchanges).sum
    case other =>
      val inner = other.innerChildren.collect { case sp: SparkPlan => sp }
      (other.children ++ inner ++ other.subqueries).map(exchanges).sum
  }
}
