package graft.core

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.collection.mutable

/** One Spark job of a measured scope: its interval (epoch ms) and its
  * call site — the action of the SQL execution it runs for (broadcast
  * and AQE stage jobs run on pool threads, whose own stack says
  * nothing), else the name of its result stage. */
final case class JobMetrics(id: Int, startMs: Long, endMs: Long, callSite: String) {
  def ms: Long = endMs - startMs
}

/** What one [[StatementMetrics.measure]] scope ran. Task figures sum
  * over every task of the scope's jobs; Catalyst phase times sum over
  * its SQL executions (`QueryExecution.tracker`). */
final case class Metrics(tag: String, wallMs: Long, jobs: Seq[JobMetrics], tasks: Long,
    runMs: Long, schedDelayMs: Long, shuffleWriteRecords: Long, shuffleWriteBytes: Long,
    shuffleReadBytes: Long, inputRecords: Long, spillBytes: Long,
    analysisMs: Long, optimizationMs: Long, planningMs: Long) {

  /** Wall time at least one of the scope's jobs was running. */
  def jobMs: Long = jobs.map(j => (j.startMs, j.endMs)).sorted
    .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (s, e)) =>
      if (e <= reach) (sum, reach) else (sum + e - math.max(s, reach), e) }._1

  /** Wall time no job covered: parsing, compiling and other driver work. */
  def outsideJobMs: Long = math.max(0L, wallMs - jobMs)

  def line: String =
    s"wall_ms=$wallMs jobs=${jobs.size} job_ms=$jobMs outside_job_ms=$outsideJobMs " +
      s"tasks=$tasks run_ms=$runMs sched_delay_ms=$schedDelayMs " +
      s"shuffle_write_records=$shuffleWriteRecords shuffle_write_bytes=$shuffleWriteBytes " +
      s"shuffle_read_bytes=$shuffleReadBytes input_records=$inputRecords spill_bytes=$spillBytes " +
      s"analysis_ms=$analysisMs optimization_ms=$optimizationMs planning_ms=$planningMs"
}

/** The one statement recorder: measures a scope exactly, attributing
  * Spark work by job tag rather than by time window. Spark copies a
  * thread's local properties (tags included) to the threads that run
  * its broadcast, subquery and AQE stages, so concurrent scopes on one
  * SparkContext each see only their own jobs, and a caller's job
  * group and tags are left as they were. */
object StatementMetrics {
  private val scopes = new AtomicLong

  def measure[T](spark: SparkSession)(body: => T): (T, Metrics) = {
    val sc = spark.sparkContext
    val rec = new Recorder(s"graft-stmt-${scopes.incrementAndGet()}")
    sc.addSparkListener(rec)
    try {
      sc.addJobTag(rec.tag)
      val t0 = System.nanoTime()
      val out = try body finally sc.removeJobTag(rec.tag)
      val wallMs = (System.nanoTime() - t0) / 1000000L
      // every event of the scope's jobs was posted before its action
      // returned; the drain delivers them, so the read is complete
      GraftSqlBridge.drainListenerBus(sc)
      (out, rec.metrics(wallMs))
    } finally sc.removeSparkListener(rec)
  }

  private final class Recorder(val tag: String) extends SparkListener {
    private val jobs = mutable.LinkedHashMap.empty[Int, JobMetrics]
    private val stages = mutable.Set.empty[Int]
    private val executionSite = mutable.Map.empty[Long, String]
    private val phaseMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
    private var tasks, runMs, schedMs, swRec, swBytes, srBytes, inRec, spill = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      if (tags.exists(_.split(',').contains(tag))) {
        val site = Option(e.properties.getProperty("spark.sql.execution.id"))
          .flatMap(id => executionSite.get(id.toLong))
          .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name)).getOrElse("?")
        jobs(e.jobId) = JobMetrics(e.jobId, e.time, e.time, site)
        stages ++= e.stageIds
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (m <- Option(e.taskMetrics) if stages.contains(e.stageId)) {
        val info = e.taskInfo
        tasks += 1
        runMs += m.executorRunTime
        // the web UI's scheduler delay: task wall not spent deserialising,
        // running, serialising the result or fetching it
        val fetch = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        schedMs += math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - fetch)
        swRec += m.shuffleWriteMetrics.recordsWritten
        swBytes += m.shuffleWriteMetrics.bytesWritten
        srBytes += m.shuffleReadMetrics.totalBytesRead
        inRec += m.inputMetrics.recordsRead
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if s.jobTags.contains(tag) =>
        synchronized { executionSite(s.executionId) = s.description }
      case end: SparkListenerSQLExecutionEnd => synchronized {
        if (executionSite.contains(end.executionId))
          GraftSqlBridge.queryExecution(end).foreach(_.tracker.phases.foreach {
            case (phase, p) => phaseMs(phase) += p.durationMs })
      }
      case _ =>
    }

    def metrics(wallMs: Long): Metrics = synchronized {
      Metrics(tag, wallMs, jobs.values.toSeq, tasks, runMs, schedMs, swRec, swBytes, srBytes,
        inRec, spill, phaseMs("analysis"), phaseMs("optimization"), phaseMs("planning"))
    }
  }
}
