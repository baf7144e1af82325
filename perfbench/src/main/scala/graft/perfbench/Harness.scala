package graft.perfbench

import graft.{GraftSession, TxHandle}
import graft.cypher.{CypherParser, Params}
import java.io.{File, PrintWriter}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Everything one run shares: Spark, the arguments, its directories,
  * and the set-up stage timings. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int, val trace: Boolean,
    val workDir: File) {

  /** Set-up stages in seconds, in the order they ran. */
  val setup: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  def stage[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally setup(name) = setup.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  def path(name: String): String = new File(workDir, name).getPath

  val spans = new SpanLog
}

/** What a run measured. `endToEnd` and `layers` hold the metrics the
  * result line carries; `report` adds the ones that only some
  * workloads have. */
final case class Outcome(attempted: Long, failed: Long, endToEnd: Seq[(String, Metric)],
    layers: Seq[(String, Metric)], report: Seq[(String, Metric)])

/** Statement counts and client latencies of a closed loop. A
  * statement fails when it raises or when its answer differs from the
  * expected one; failures are reported on stderr. */
final class Tally {
  var attempted = 0L
  var failed = 0L
  private val samples = mutable.ArrayBuffer.empty[(String, Double)]

  private def fail(label: String, why: String): Boolean = {
    failed += 1
    System.err.println(s"perfbench: $label failed: $why")
    false
  }

  private def verdict[A](label: String, result: Either[Exception, A])(ok: A => Boolean): Boolean =
    result match {
      case Left(e) => fail(label, e.toString)
      case Right(a) =>
        try ok(a) || fail(label, "wrong answer")
        catch { case e: Exception => fail(label, e.toString) }
    }

  /** Times `run` as one statement and returns its latency in ms; `ok`
    * then checks the answer, outside the timed interval. */
  def statement[A](label: String)(run: => A)(ok: A => Boolean): Double = {
    attempted += 1
    val t0 = System.nanoTime()
    val result = try Right(run) catch { case e: Exception => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    if (verdict(label, result)(ok)) samples += label -> ms
    ms
  }

  /** An untimed check (a replayed answer, the end-of-run state). */
  def check(label: String)(body: => Boolean): Unit = {
    attempted += 1
    verdict(label, Right(()))(_ => body)
  }

  def add(other: Tally): Unit = { attempted += other.attempted; failed += other.failed }

  def latencies: Seq[Double] = samples.map(_._2).toSeq
  def latencies(label: String): Seq[Double] = samples.collect { case (`label`, ms) => ms }.toSeq
  def count: Int = samples.size
}

/** One statement replayed in process with every layer timed. Epoch-ms
  * instants bound the windows the listeners' jobs are attributed to. */
final case class StmtTrace(id: Int, label: String, write: Boolean, parseMs: Option[Double],
    cypherMs: Double, matMs: Double, commitMs: Option[Double], rows: Seq[Seq[Any]],
    start: Long, cypherEnd: Long, end: Long, win: Window, cypherWin: Window) {
  def wallMs: Double = cypherMs + matMs + commitMs.getOrElse(0.0)
  def catalystMs: Double =
    Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)
      .map(win.phaseMs).sum.toDouble
  def outsideJobMs: Double = math.max(0.0, wallMs - win.jobMs)
  /** Driver time neither in a job nor in a Catalyst phase: graft's own
    * compile, eager probes, result handling. */
  def driverSelfMs: Double = math.max(0.0, outsideJobMs - catalystMs)
}

/** How a replayed statement reaches the session. */
sealed trait Surface
/** `cypherWire`, as the Bolt endpoint runs it. */
case object BoltSurface extends Surface
/** `cypher` inside a transaction handle, as the HTTP endpoint runs it. */
case object HttpSurface extends Surface
/** Plain embedded `cypher(q, params)` + `collect`. */
case object EmbeddedSurface extends Surface

object Replay {
  private def rowValues(r: Row): Seq[Any] = (0 until r.length).map(r.get)

  /** Runs `stmt` the way `surface` does, timing parse, `cypher`,
    * materialisation and commit; `inTx` wraps it in its own
    * transaction handle. */
  def run(session: GraftSession, rec: LayerRecorder, id: Int, stmt: Stmt, surface: Surface,
      inTx: Boolean, write: Boolean, spans: SpanLog): StmtTrace = {
    val parseMs =
      try {
        val t0 = System.nanoTime()
        Params.substitute(CypherParser.parse(stmt.query), stmt.params)
        Some((System.nanoTime() - t0) / 1e6)
      } catch {
        // statements the session dispatches before the parser (DDL, some
        // procedure calls) have no parse step to time
        case _: IllegalArgumentException => None
      }
    val start = System.currentTimeMillis()
    val tx: TxHandle = if (inTx) session.beginTransaction(surface.toString) else null
    val c0 = System.nanoTime()
    val (cypherMs, cypherEnd, rows, matMs, matEnd, commitMs) =
      try {
        val df: DataFrame = surface match {
          case BoltSurface => session.cypherWire(stmt.query, stmt.params, "neo4j", tx)
          case EmbeddedSurface if tx == null => session.cypher(stmt.query, stmt.params)
          case _ => session.cypher(stmt.query, stmt.params, "neo4j", tx)
        }
        val cypherMs = (System.nanoTime() - c0) / 1e6
        val cypherEnd = System.currentTimeMillis()
        val m0 = System.nanoTime()
        val rows: Seq[Seq[Any]] = surface match {
          case EmbeddedSurface => df.collect().toSeq.map(rowValues)
          case _ => df.toLocalIterator().asScala.map(rowValues).toSeq // the endpoints stream
        }
        val matMs = (System.nanoTime() - m0) / 1e6
        val matEnd = System.currentTimeMillis()
        val commitMs = Option(tx).map { h =>
          val t0 = System.nanoTime()
          session.commitTransaction(h)
          (System.nanoTime() - t0) / 1e6
        }
        (cypherMs, cypherEnd, rows, matMs, matEnd, commitMs)
      } catch {
        case e: Exception =>
          if (tx != null && tx.open) session.rollbackTransaction(tx)
          throw e
      }
    val end = System.currentTimeMillis()
    rec.drain()
    val win = rec.window(start, end)
    val t = StmtTrace(id, stmt.label, write, parseMs, cypherMs, matMs, commitMs, rows, start,
      cypherEnd, end, win, rec.window(start, cypherEnd))
    spans.statement(t, matEnd)
    t
  }
}

/** Per-layer summaries of replayed statements: medians per statement,
  * except shares, which are ratios of totals. */
object LayerReport {
  import Stats.{medianOrZero => med}

  /** The layers every workload has; the result line's `per_layer`. */
  def common(ts: Seq[StmtTrace]): Seq[(String, Metric)] = {
    def m(f: StmtTrace => Double) = med(ts.map(f))
    val wall = ts.map(_.wallMs).sum
    Seq(
      "cypher.parse_ms" -> Metric(med(ts.flatMap(_.parseMs)), "ms"),
      "session.cypher_ms" -> Metric(m(_.cypherMs), "ms"),
      "session.cypher_jobs" -> Metric(m(_.cypherWin.jobs.size.toDouble), "count"),
      "catalyst.analysis_ms" -> Metric(m(_.win.phaseMs(QueryPlanningTracker.ANALYSIS).toDouble), "ms"),
      "catalyst.optimization_ms" -> Metric(m(_.win.phaseMs(QueryPlanningTracker.OPTIMIZATION).toDouble), "ms"),
      "catalyst.planning_ms" -> Metric(m(_.win.phaseMs(QueryPlanningTracker.PLANNING).toDouble), "ms"),
      "spark.jobs" -> Metric(m(_.win.jobs.size.toDouble), "count"),
      "spark.tasks" -> Metric(m(_.win.tasks.toDouble), "count"),
      "spark.job_ms" -> Metric(m(_.win.jobMs.toDouble), "ms"),
      "spark.sched_delay_ms" -> Metric(m(_.win.schedMs.toDouble), "ms"),
      "spark.task_run_ms" -> Metric(m(_.win.runMs.toDouble), "ms"),
      "spark.shuffle_write_records" -> Metric(m(_.win.shuffleWriteRecords.toDouble), "count"),
      "spark.shuffle_write_bytes" -> Metric(m(_.win.shuffleWriteBytes.toDouble), "bytes"),
      "spark.shuffle_read_bytes" -> Metric(m(_.win.shuffleReadBytes.toDouble), "bytes"),
      "spark.spill_bytes" -> Metric(m(_.win.spillBytes.toDouble), "bytes"),
      "driver.outside_job_ms" -> Metric(m(_.outsideJobMs), "ms"),
      "driver.outside_job_share" -> Metric(if (wall > 0) ts.map(_.outsideJobMs).sum / wall else 0.0, "ratio"))
  }

  /** Self time per layer (medians) and the accounting of a traced
    * statement's wall: `trace.unaccounted_ms` is the traced wall minus
    * the layers' self times and the wire. */
  def selfTimes(ts: Seq[StmtTrace], tracedWallMs: Double, wireMs: Double): Seq[(String, Metric)] = {
    val spark = med(ts.map(_.win.jobMs.toDouble))
    val catalyst = med(ts.map(_.catalystMs))
    val driver = med(ts.map(_.driverSelfMs))
    Seq(
      "self.spark_ms" -> Metric(spark, "ms"),
      "self.catalyst_ms" -> Metric(catalyst, "ms"),
      "self.driver_ms" -> Metric(driver, "ms"),
      "self.wire_ms" -> Metric(wireMs, "ms"),
      "trace.wall_ms" -> Metric(tracedWallMs, "ms"),
      "trace.unaccounted_ms" -> Metric(tracedWallMs - spark - catalyst - driver - wireMs, "ms"))
  }

  def writes(ts: Seq[StmtTrace]): Seq[(String, Metric)] = {
    val w = ts.filter(_.write)
    Seq(
      "mutate.cypher_ms" -> Metric(med(w.map(_.cypherMs)), "ms"),
      "mutate.jobs_per_stmt" -> Metric(med(w.map(_.win.jobs.size.toDouble)), "count"),
      "txn.commit_ms" -> Metric(med(ts.flatMap(_.commitMs)), "ms"))
  }
}

/** Spans of the traced run, written as JSON lines at exit: one per
  * layer boundary, each with its statement id, name, parent and
  * epoch-ms start and end. */
final class SpanLog {
  private val lines = mutable.ArrayBuffer.empty[String]

  def add(stmt: Int, name: String, parent: String, start: Long, end: Long,
      extra: Map[String, Any] = Map.empty): Unit = synchronized {
    lines += Json.write(scala.collection.immutable.ListMap[String, Any](
      "stmt" -> stmt, "name" -> name, "parent" -> parent, "start_ms" -> start, "end_ms" -> end) ++ extra)
  }

  /** The replayed statement, its `session.cypher` / `materialize` /
    * `txn.commit` children, and the jobs and Catalyst phases under
    * whichever child they started in. */
  def statement(t: StmtTrace, matEnd: Long): Unit = {
    val top = s"replay.${t.label}"
    add(t.id, top, null, t.start, t.end)
    add(t.id, "session.cypher", top, t.start, t.cypherEnd)
    add(t.id, "materialize", top, t.cypherEnd, matEnd)
    if (t.commitMs.isDefined) add(t.id, "txn.commit", top, matEnd, t.end)
    def parentOf(at: Long) =
      if (at <= t.cypherEnd) "session.cypher" else if (at <= matEnd) "materialize" else "txn.commit"
    t.win.jobs.foreach(j => add(t.id, "spark.job", parentOf(j.start), j.start, j.end,
      Map("job" -> j.id, "tasks" -> j.tasks)))
    t.win.qes.foreach(q => q.phases.foreach { case (ph, (s, e)) =>
      add(t.id, s"catalyst.$ph", parentOf(s), s, e) })
  }

  def write(file: File): Unit = synchronized {
    file.getParentFile.mkdirs()
    val w = new PrintWriter(file, "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }
}

object Files {
  /** Regular files under `dir`: path -> (size, mtime). */
  def listing(dir: File): Map[String, (Long, Long)] =
    if (dir.isDirectory) Option(dir.listFiles()).toSeq.flatten.flatMap(listing).toMap
    else if (dir.isFile) Map(dir.getPath -> ((dir.length(), dir.lastModified())))
    else Map.empty

  /** Bytes under `dir`. */
  def du(dir: File): Long = listing(dir).values.map(_._1).sum

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    if (f.exists() && !f.delete()) System.err.println(s"perfbench: could not delete $f")
  }

  def copyTree(from: File, to: File): Unit = {
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles()).toSeq.flatten.foreach(f => copyTree(f, new File(to, f.getName)))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)
  }
}
