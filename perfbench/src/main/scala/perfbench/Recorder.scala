package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced runs only: records Spark's public listener events in memory
  * (jobs with their stages' call sites and task metrics, micro-batch
  * progress, Catalyst phase times of each executed query) and hands them
  * to run.py at exit. Times are epoch milliseconds. */
final class Recorder {
  private final class Job(val id: Int, val startMs: Long, val stageIds: Seq[Int],
      val name: String, val details: String, val batchId: String, val queryId: String) {
    @volatile var endMs: Long = -1
  }
  private final class Stage(val id: Int, val tasks: Int, val runMs: Long, val cpuNs: Long,
      val gcMs: Long, val shuffleRead: Long, val shuffleWrite: Long, val spill: Long)

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val plans = new ConcurrentLinkedQueue[Map[String, Any]]()

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val first = e.stageInfos.sortBy(_.stageId).headOption
      val prop = (k: String) =>
        Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
      jobs.put(e.jobId, new Job(e.jobId, e.time, e.stageIds,
        first.map(_.name).getOrElse(""), first.map(_.details).getOrElse(""),
        prop("streaming.sql.batchId"), prop("sql.streaming.queryId")))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      if (m != null) stages.add(new Stage(s.stageId, s.numTasks,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  val streamingListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {}
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {}
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(Map(
        "query" -> p.name,
        "query_id" -> p.id.toString,
        "batch_id" -> p.batchId,
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "rows" -> p.numInputRows,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  val executionListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
      record(funcName, qe, ok = false)
    private def record(funcName: String, qe: QueryExecution, ok: Boolean): Unit =
      plans.add(Map("func" -> funcName, "ok" -> ok,
        "phases" -> qe.tracker.phases.map { case (k, v) =>
          k -> Seq(v.startTimeMs, v.endTimeMs) }))
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamingListener)
    watchPlans(spark)
  }

  /** Execution listeners are per session; call for every session queried. */
  def watchPlans(spark: SparkSession): Unit = spark.listenerManager.register(executionListener)

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamingListener)
  }

  /** Listener events arrive asynchronously; call after waiting for the
    * bus to drain. */
  def dump(): Map[String, Any] = {
    val byId = stages.asScala.map(s => s.id -> s).toMap
    Map(
      "jobs" -> jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
        val ss = j.stageIds.flatMap(byId.get)
        Map("id" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
          "name" -> j.name, "details" -> j.details, "batch_id" -> j.batchId,
          "query_id" -> j.queryId,
          "stages" -> ss.size, "tasks" -> ss.map(_.tasks).sum,
          "task_run_ms" -> ss.map(_.runMs).sum, "task_cpu_ns" -> ss.map(_.cpuNs).sum,
          "gc_ms" -> ss.map(_.gcMs).sum,
          "shuffle_read" -> ss.map(_.shuffleRead).sum,
          "shuffle_write" -> ss.map(_.shuffleWrite).sum,
          "spill" -> ss.map(_.spill).sum)
      },
      "progress" -> progress.asScala.toSeq,
      "plans" -> plans.asScala.toSeq)
  }
}
