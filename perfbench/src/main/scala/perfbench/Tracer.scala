package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/**
 * Per-layer recorder for traced runs, built only from Spark's public
 * listener APIs: nothing inside the library is instrumented. Events are
 * kept in memory with wall-clock stamps; [[Tracer.summary]] aggregates the
 * ones inside a [from, to) window when the benchmark asks.
 *
 * Spark jobs are attributed to the serving layer that submitted them by
 * their call site (the user frames of the submitting thread's stack, or of
 * the thread that started the job's SQL execution): a job submitted under
 * `ProduceCoalescer` is a flush, one under `PolarHttpServer.handlePoll` is
 * a poll.
 */
final class Tracer extends SparkListener {
  import Tracer._

  final class Job(val kind: String, val startMs: Long) {
    @volatile var endMs: Long = -1L
    @volatile var tasks: Long = 0L
    @volatile var cpuNs: Long = 0L
    @volatile var inputBytes: Long = 0L
    @volatile var shuffleBytes: Long = 0L
  }

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val qes = new ConcurrentLinkedQueue[Qe]()
  private val batches = new ConcurrentLinkedQueue[Batch]()
  private val executionKind = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  private def classify(callSite: String): String =
    if (callSite == null) "other"
    else if (callSite.contains("ProduceCoalescer")) "flush"
    else if (callSite.contains("handlePoll")) "poll"
    else "other"

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // a stage's details are its call site's long form (the user frames of
    // the submitting thread, `spark.callstack.depth` of them)
    val direct = classify(e.stageInfos.map(_.details).mkString("\n"))
    // jobs that adaptive execution submits from its own pool carry only
    // their SQL execution id; the execution start has the caller's stack
    val kind = if (direct != "other") direct else
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(executionKind.get(id.toLong))).getOrElse(direct)
    val j = new Job(kind, e.time)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      executionKind.put(s.executionId, classify(s.details))
    case _ => ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.synchronized {
        j.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.inputBytes += m.inputMetrics.bytesRead
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
      qes.add(Qe(System.currentTimeMillis(), ms("analysis"), ms("optimization"),
        ms("planning")))
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      batches.add(Batch(System.currentTimeMillis(), d,
        p.stateOperators.map(_.memoryUsedBytes).sum))
    }
  }

  /** Aggregates over events stamped inside [from, to). */
  def summary(from: Long, to: Long): Map[String, Any] = {
    val js = jobs.values.asScala.toSeq.filter(j => j.startMs >= from && j.startMs < to)
    def jobStats(kind: String): Map[String, Any] = {
      val k = js.filter(_.kind == kind)
      Map("jobs" -> k.size, "tasks" -> k.map(_.tasks).sum,
        "job_ms" -> k.map(j => math.max(0L, j.endMs - j.startMs)).sum,
        "cpu_ms" -> k.map(_.cpuNs).sum / 1e6,
        "input_mb" -> k.map(_.inputBytes).sum / 1048576.0)
    }
    // union of job intervals, clipped to the window; the gap is the rest
    val covered = js.filter(_.endMs > 0).map(j => (j.startMs, math.min(j.endMs, to)))
      .sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((sum, reach), (s, e)) =>
        val s1 = math.max(s, reach)
        if (e > s1) (sum + (e - s1), e) else (sum, reach)
      }._1
    val q = qes.asScala.toSeq.filter(x => x.atMs >= from && x.atMs < to)
    val b = batches.asScala.toSeq.filter(x => x.atMs >= from && x.atMs < to)
    def bsum(k: String) = b.map(_.durations.getOrElse(k, 0L)).sum
    val trig = b.map(_.durations.getOrElse("triggerExecution", 0L)).sorted
    Map(
      "flush" -> jobStats("flush"), "poll" -> jobStats("poll"),
      "driver_gap_frac" -> (if (to > from) 1.0 - covered.toDouble / (to - from) else 0.0),
      "scan_mb" -> js.map(_.inputBytes).sum / 1048576.0,
      "shuffle_mb" -> js.map(_.shuffleBytes).sum / 1048576.0,
      "qe_count" -> q.size,
      "analysis_ms" -> q.map(_.analysisMs).sum,
      "optimization_ms" -> q.map(_.optimizationMs).sum,
      "planning_ms" -> q.map(_.planningMs).sum,
      "batches" -> b.size,
      "batch_ms_p50" -> (if (trig.isEmpty) 0L else trig(trig.size / 2)),
      "latest_offset_ms" -> bsum("latestOffset"),
      "query_planning_ms" -> bsum("queryPlanning"),
      "add_batch_ms" -> bsum("addBatch"),
      "wal_commit_ms" -> bsum("walCommit"),
      "commit_offsets_ms" -> bsum("commitOffsets"),
      "state_mb" -> (if (b.isEmpty) 0.0 else b.map(_.stateBytes).max / 1048576.0))
  }
}

object Tracer {
  final case class Qe(atMs: Long, analysisMs: Long, optimizationMs: Long,
      planningMs: Long)

  final case class Batch(atMs: Long, durations: Map[String, Long],
      stateBytes: Long)
}
