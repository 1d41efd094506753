package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.{ArrayBuffer, HashMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import Harness.str

/** Records, through Spark's public listener interfaces only, the events
  * the traced run turns into spans: jobs and their stages (with task
  * metrics summed per stage), SQL executions (Catalyst phase times and
  * plan shape) and streaming micro-batches. Events are kept in memory
  * and written once, when the run ends; run.py attaches each to its
  * query span by time and computes self times.
  */
final class Tracer(spark: SparkSession) {
  private val events = new AtomicLong
  private var attached = false

  private final class StageAgg(val stageId: Int, val attempt: Int) {
    var submitMs = 0L; var endMs = 0L; var tasks = 0L; var emptyTasks = 0L
    var runMs = 0L; var cpuNs = 0L; var deserMs = 0L; var gcMs = 0L; var delayMs = 0L
    var shReadB = 0L; var shWriteB = 0L; var fetchWaitMs = 0L; var spillB = 0L
    val shReads = ArrayBuffer.empty[Long]
    def json: String = {
      val sorted = shReads.sorted
      val med = if (sorted.isEmpty) 0L else sorted(sorted.length / 2)
      val mx = if (sorted.isEmpty) 0L else sorted.last
      s"""{"stage":$stageId,"attempt":$attempt,"submit_ms":$submitMs,"end_ms":$endMs,"tasks":$tasks,"empty_tasks":$emptyTasks,""" +
        s""""run_ms":$runMs,"cpu_ns":$cpuNs,"deserialize_ms":$deserMs,"gc_ms":$gcMs,"delay_ms":$delayMs,""" +
        s""""shuffle_read_b":$shReadB,"shuffle_write_b":$shWriteB,"fetch_wait_ms":$fetchWaitMs,"spill_b":$spillB,""" +
        s""""task_read_max_b":$mx,"task_read_median_b":$med}"""
    }
  }

  private val jobs = ArrayBuffer.empty[String]
  private val jobStart = HashMap.empty[Int, (Long, Seq[Int], String)]
  private val stages = HashMap.empty[(Int, Int), StageAgg]
  private val sql = ArrayBuffer.empty[String]
  private val batches = ArrayBuffer.empty[String]

  private def stage(id: Int, attempt: Int) = stages.getOrElseUpdate((id, attempt), new StageAgg(id, attempt))

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobStart(e.jobId) = (e.time, e.stageIds, group)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock {
      jobStart.remove(e.jobId).foreach { case (t0, st, group) =>
        jobs += s"""{"job":${e.jobId},"start_ms":$t0,"end_ms":${e.time},"stages":${st.mkString("[", ",", "]")},"group":${str(group)}}"""
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock {
      val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
      s.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock {
      val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
      s.endMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock {
      val m = e.taskMetrics
      if (m != null) {
        val s = stage(e.stageId, e.stageAttemptId)
        val info = e.taskInfo
        val read = m.shuffleReadMetrics
        s.tasks += 1
        if (m.inputMetrics.recordsRead + read.recordsRead == 0) s.emptyTasks += 1
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.deserMs += m.executorDeserializeTime
        s.gcMs += m.jvmGCTime
        // the scheduler-delay formula of Spark's own stage page
        s.delayMs += math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
        s.shReadB += read.totalBytesRead
        s.shWriteB += m.shuffleWriteMetrics.bytesWritten
        s.fetchWaitMs += read.fetchWaitTime
        s.spillB += m.diskBytesSpilled
        s.shReads += read.totalBytesRead
      }
    }
  }

  private val planner = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(funcName, qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = record(funcName, qe, -1L)
    private def record(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
      val (ex, ops) = try Harness.planCounts(qe.executedPlan) catch { case _: Throwable => (0, 0) }
      lock {
        sql += s"""{"func":${str(funcName)},"start_ms":$start,"end_ms":${System.currentTimeMillis()},"duration_ns":$durationNs,""" +
          s""""analysis_ms":${ms("analysis")},"optimization_ms":${ms("optimization")},"physical_ms":${ms("planning")},""" +
          s""""exchanges":$ex,"operators":$ops}"""
      }
    }
  }

  private val streams = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = events.incrementAndGet()
    override def onQueryIdle(e: QueryIdleEvent): Unit = events.incrementAndGet()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = events.incrementAndGet()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val ops = p.stateOperators.toSeq
      lock {
        batches += s"""{"run":"${p.runId}","batch":${p.batchId},"start_ms":$start,"end_ms":${start + d.getOrElse("triggerExecution", 0L)},""" +
          s""""input_rows":${p.numInputRows},"add_batch_ms":${d.getOrElse("addBatch", 0L)},"query_planning_ms":${d.getOrElse("queryPlanning", 0L)},""" +
          s""""wal_commit_ms":${d.getOrElse("walCommit", 0L)},"commit_offsets_ms":${d.getOrElse("commitOffsets", 0L)},""" +
          s""""state_commit_ms":${ops.map(_.commitTimeMs).sum},"state_rows":${ops.map(_.numRowsTotal).sum},""" +
          s""""state_bytes":${ops.map(_.memoryUsedBytes).sum}}"""
      }
    }
  }

  private def lock(f: => Unit): Unit = { events.incrementAndGet(); synchronized(f) }

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(scheduler)
    spark.listenerManager.register(planner)
    spark.streams.addListener(streams)
    attached = true
  }

  def detach(): Unit = if (attached) {
    settle()
    spark.sparkContext.removeSparkListener(scheduler)
    spark.listenerManager.unregister(planner)
    spark.streams.removeListener(streams)
    attached = false
  }

  /** Listener buses deliver asynchronously: wait (un-timed) until no
    * event has arrived for two consecutive 50 ms polls, at most 2 s. */
  def settle(): Unit = if (attached) {
    var prev = events.get(); var stable = 0; var waited = 0
    while (stable < 2 && waited < 2000) {
      Thread.sleep(50); waited += 50
      val cur = events.get()
      if (cur == prev) stable += 1 else { stable = 0; prev = cur }
    }
  }

  def json: String = synchronized {
    s"""{"jobs":${jobs.mkString("[", ",\n", "]")},"stages":${stages.values.toSeq.sortBy(s => (s.stageId, s.attempt)).map(_.json).mkString("[", ",\n", "]")},""" +
      s""""sql":${sql.mkString("[", ",\n", "]")},"batches":${batches.mkString("[", ",\n", "]")}}"""
  }
}
