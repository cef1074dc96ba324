package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters for one span: a query call in a batch pass, or the timed
  * phases of the stream. Filled from listener events, read after the
  * listener bus has drained. */
final class SpanAgg {
  var jobs, buildJobs, stages, tasks, failedTasks = 0L
  var taskRunMs, taskCpuNs, taskGcMs = 0L
  var inBytes, inRows, shuffleWrite, shuffleRead, fetchWaitMs, spillBytes = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  /** [start, end] epoch ms of each job, for the job-covered time. */
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()

  def add(s: SpanAgg): Unit = {
    jobs += s.jobs; buildJobs += s.buildJobs; stages += s.stages; tasks += s.tasks
    failedTasks += s.failedTasks; taskRunMs += s.taskRunMs; taskCpuNs += s.taskCpuNs
    taskGcMs += s.taskGcMs; inBytes += s.inBytes; inRows += s.inRows
    shuffleWrite += s.shuffleWrite; shuffleRead += s.shuffleRead
    fetchWaitMs += s.fetchWaitMs; spillBytes += s.spillBytes
    analysisMs += s.analysisMs; optimizationMs += s.optimizationMs; planningMs += s.planningMs
    jobIntervals ++= s.jobIntervals
  }

  /** Milliseconds of `[from, to]` during which at least one job ran. */
  def coveredMs(from: Long, to: Long): Long = {
    var covered = 0L
    var curS = -1L
    var curE = -1L
    jobIntervals.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) covered += curE - curS
    covered
  }
}

/** The traced run's three listeners. Spans are keyed by Spark job group
  * (the batch harness names the group after the query call); jobs with no
  * group go to `defaultSpan`. Catalyst phases from the
  * QueryExecutionListener go to the span named by `current`. */
final class Tracer(defaultSpan: String) extends SparkListener with QueryExecutionListener {
  val spans = mutable.LinkedHashMap[String, SpanAgg]()
  private val jobSpan = mutable.Map[Int, String]()
  private val jobStartMs = mutable.Map[Int, Long]()
  private val stageSpan = mutable.Map[Int, String]()
  @volatile var current: String = defaultSpan
  val progress = mutable.ArrayBuffer[StreamingQueryListener.QueryProgressEvent]()

  def span(name: String): SpanAgg = synchronized(spans.getOrElseUpdate(name, new SpanAgg))

  /** All spans summed (a streaming query names its jobs' group after its run id). */
  def total: SpanAgg = synchronized { val t = new SpanAgg; spans.values.foreach(t.add); t }

  /** Forget what was recorded so far (after draining). */
  def reset(spark: SparkSession): Unit = {
    drain(spark)
    synchronized { spans.clear(); progress.clear() }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val name = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(defaultSpan)
    val a = span(name)
    a.jobs += 1
    if (props.flatMap(p => Option(p.getProperty(Common.PhaseKey))).contains("build")) a.buildJobs += 1
    jobSpan(e.jobId) = name
    jobStartMs(e.jobId) = e.time
    e.stageIds.foreach(s => stageSpan(s) = name)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { name =>
      span(name).jobIntervals += ((jobStartMs.remove(e.jobId).getOrElse(e.time), e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    span(stageSpan.getOrElse(e.stageInfo.stageId, defaultSpan)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = span(stageSpan.getOrElse(e.stageId, defaultSpan))
    a.tasks += 1
    if (!e.taskInfo.successful) a.failedTasks += 1
    Option(e.taskMetrics).foreach { m =>
      a.taskRunMs += m.executorRunTime
      a.taskCpuNs += m.executorCpuTime
      a.taskGcMs += m.jvmGCTime
      a.inBytes += m.inputMetrics.bytesRead
      a.inRows += m.inputMetrics.recordsRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spillBytes += m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val a = span(current)
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    a.analysisMs += ms("analysis")
    a.optimizationMs += ms("optimization")
    a.planningMs += ms("planning")
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized(progress += e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streams)
  }

  def detach(spark: SparkSession): Unit = {
    drain(spark)
    spark.streams.removeListener(streams)
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
}
