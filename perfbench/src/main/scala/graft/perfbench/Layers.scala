package graft.perfbench

import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One Spark job: its interval (epoch ms) and its tasks' totals. */
final case class JobRec(id: Int, start: Long, end: Long, tasks: Int, runMs: Long, schedMs: Long,
    shuffleWriteRecords: Long, shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long)

/** One executed action's Catalyst phases: name -> (start, end) epoch ms. */
final case class QeRec(func: String, phases: Map[String, (Long, Long)])

/** What the listeners saw between two instants. */
final case class Window(jobs: Seq[JobRec], qes: Seq[QeRec]) {
  def jobMs: Long = Stats.unionLength(jobs.map(j => (j.start, j.end)))
  def tasks: Long = jobs.map(_.tasks.toLong).sum
  def schedMs: Long = jobs.map(_.schedMs).sum
  def runMs: Long = jobs.map(_.runMs).sum
  def shuffleWriteRecords: Long = jobs.map(_.shuffleWriteRecords).sum
  def shuffleWriteBytes: Long = jobs.map(_.shuffleWriteBytes).sum
  def shuffleReadBytes: Long = jobs.map(_.shuffleReadBytes).sum
  def spillBytes: Long = jobs.map(_.spillBytes).sum
  def phaseMs(name: String): Long =
    qes.flatMap(_.phases.get(name)).map { case (s, e) => e - s }.sum
}

/** Spark's public listener interfaces, registered from outside graft:
  * a `SparkListener` for jobs and tasks and a `QueryExecutionListener`
  * for Catalyst phase times. Events arrive asynchronously;
  * [[drain]] waits until the bus has delivered everything posted so
  * far, so a window read after it is complete. */
final class LayerRecorder(spark: SparkSession) extends SparkListener with QueryExecutionListener {

  private final class JobAcc(val id: Int, val start: Long) {
    var end: Long = start
    var tasks, runMs, schedMs, swRec, swBytes, srBytes, spill = 0L
    def rec: JobRec = JobRec(id, start, end, tasks.toInt, runMs, schedMs, swRec, swBytes, srBytes, spill)
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, JobAcc]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val qes = mutable.ArrayBuffer.empty[(Long, QeRec)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobAcc(e.jobId, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); acc <- jobs.get(j); m <- Option(e.taskMetrics)) {
      val info = e.taskInfo
      acc.tasks += 1
      acc.runMs += m.executorRunTime
      // the web UI's scheduler delay: task wall not spent deserialising,
      // running, serialising the result or fetching it
      val fetch = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      acc.schedMs += math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - fetch)
      acc.swRec += m.shuffleWriteMetrics.recordsWritten
      acc.swBytes += m.shuffleWriteMetrics.bytesWritten
      acc.srBytes += m.shuffleReadMetrics.totalBytesRead
      acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  private def record(func: String, qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases.map { case (k, p) => k -> ((p.startTimeMs, p.endTimeMs)) }
    val start = if (phases.isEmpty) System.currentTimeMillis() else phases.values.map(_._1).min
    qes += ((start, QeRec(func, phases)))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe)

  def attach(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  def detach(): Unit = {
    drain()
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  def drain(): Unit = ListenerBusDrain(spark.sparkContext)

  /** Jobs that started, and actions whose planning started, in
    * [t0, t1] (epoch ms). Call [[drain]] first. */
  def window(t0: Long, t1: Long): Window = synchronized {
    Window(jobs.values.filter(j => j.start >= t0 && j.start <= t1).map(_.rec).toSeq,
      qes.collect { case (s, q) if s >= t0 && s <= t1 => q }.toSeq)
  }
}

/** JVM-wide counters the benchmark reads from the platform MXBeans. */
object Jvm {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Heap in use after full collections, in MB, less what Spark's
    * block store holds: cached RDD and broadcast blocks are freed
    * asynchronously after `unpersist`, so how much of them is still
    * there at run end depends on timing, not on the program. Collects
    * until two readings agree within 1%, since some objects only become
    * unreachable through cleanup that a collection triggers. */
  def heapLiveMb(spark: org.apache.spark.sql.SparkSession): Double = {
    def used() = {
      System.gc()
      val blocks = spark.sparkContext.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
      (ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed - blocks) / 1048576.0
    }
    var prev = used()
    var cur = used()
    var n = 2
    while (math.abs(cur - prev) > 0.01 * prev && n < 8) { prev = cur; cur = used(); n += 1 }
    cur
  }

  def loadAverage: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
}
