package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with nanosecond resolution, on the
  * same base as Spark's listener event times. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Tags every job the calling thread submits with the benchmark op it
  * belongs to (a thread-local Spark property, so engine code that sets
  * its own job groups is left alone). */
object OpTag {
  val Key = "perfbench.op"
  def set(spark: SparkSession, op: String): Unit =
    spark.sparkContext.setLocalProperty(Key, op)
}

/** The traced run's instrument: a SparkListener (jobs and stages), a
  * QueryExecutionListener (planning phases) and a
  * StreamingQueryListener (trigger progress). Events are kept in memory
  * as flat records and written once, after the measured window. */
final class Tracer(spark: SparkSession) {
  private val jobs = new ConcurrentHashMap[Int, Map[String, Any]]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val plans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val triggers = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val FlushOp = "__flush__"
  @volatile private var flushJob = -1
  @volatile private var flushSeen = false

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      if (prop(OpTag.Key).contains(FlushOp)) flushJob = e.jobId
      else jobs.put(e.jobId, Map(
        "job" -> e.jobId, "t0" -> e.time.toDouble, "stages" -> e.stageIds,
        "op" -> prop(OpTag.Key),
        "exec" -> prop("spark.sql.execution.id").map(_.toLong)))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val ok = e.jobResult == JobSucceeded
      jobs.computeIfPresent(e.jobId, (_, j) => j ++ Map("t1" -> e.time.toDouble, "ok" -> ok))
      if (e.jobId == flushJob) flushSeen = true
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      // a stage that failed or was skipped may complete without metrics
      val m: Map[String, Any] = Option(info.taskMetrics).map { tm =>
        Map(
          "run_ms" -> tm.executorRunTime,
          "cpu_ns" -> tm.executorCpuTime,
          "gc_ms" -> tm.jvmGCTime,
          "spill_bytes" -> (tm.memoryBytesSpilled + tm.diskBytesSpilled),
          "shuffle_write_bytes" -> tm.shuffleWriteMetrics.bytesWritten,
          "shuffle_read_bytes" -> tm.shuffleReadMetrics.totalBytesRead,
          "fetch_wait_ms" -> tm.shuffleReadMetrics.fetchWaitTime,
          "input_bytes" -> tm.inputMetrics.bytesRead,
          "output_bytes" -> tm.outputMetrics.bytesWritten,
          "output_records" -> tm.outputMetrics.recordsWritten)
      }.getOrElse(Map.empty)
      stages.add(Map(
        "stage" -> info.stageId, "attempt" -> info.attemptNumber(),
        "name" -> info.name, "tasks" -> info.numTasks,
        "t0" -> info.submissionTime.map(_.toDouble),
        "t1" -> info.completionTime.map(_.toDouble),
        "failed" -> info.failureReason.isDefined,
        "metrics" -> m))
    }
  }

  private def planRecord(qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
    // stamped on delivery, just after the execution ended
    plans.add(Map("t" -> Clock.nowMs, "ok" -> ok, "phases" -> phases))
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      planRecord(qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      planRecord(qe, ok = false)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      triggers.add(Map(
        "query" -> p.id.toString, "name" -> Option(p.name),
        "batch" -> p.batchId,
        "t0" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        "rows" -> p.numInputRows,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum))
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until the listener bus has delivered every event posted so
    * far: a marker job is run and its end event awaited (the bus is FIFO
    * per queue), then the listeners are removed. */
  def drainAndUninstall(): Unit = {
    OpTag.set(spark, FlushOp)
    spark.sparkContext.parallelize(Seq(1), 1).count(): Unit
    OpTag.set(spark, null)
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (!flushSeen && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(200) // the streams queue drains on its own thread
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def records: Map[String, Any] = Map(
    "jobs" -> jobs.values.asScala.toSeq.sortBy(_("job").asInstanceOf[Int]),
    "stages" -> stages.asScala.toSeq,
    "plans" -> plans.asScala.toSeq,
    "triggers" -> triggers.asScala.toSeq)
}
