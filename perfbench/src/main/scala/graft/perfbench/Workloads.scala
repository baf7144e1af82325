package graft.perfbench

import graft.GraftSession
import graft.bolt.BoltEndpoint
import graft.core.GraphViews
import graft.http.HttpEndpoint
import java.io.File
import scala.collection.mutable

/** Pieces the three workloads share. */
object Common {
  import Stats.{medianOrZero => med}

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Opens the served database `reps` times, closing all but the last;
    * the median open time is the `open` set-up stage. */
  def openReps[A](ctx: Ctx, reps: Int)(open: => A)(close: A => Unit): A = {
    val times = mutable.ArrayBuffer.empty[Double]
    var last: Option[A] = None
    (1 to reps).foreach { _ =>
      last.foreach(close)
      val t0 = System.nanoTime()
      last = Some(open)
      times += (System.nanoTime() - t0) / 1e9
    }
    ctx.setup("open") = Stats.median(times.toSeq)
    last.get
  }

  /** Runs `block` at least `minRounds` times and until `seconds` have
    * passed; returns the elapsed seconds. */
  def loopFor(seconds: Double, minRounds: Int = 1)(block: => Unit): Double = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var rounds = 0
    while (rounds < minRounds || System.nanoTime() < deadline) { block; rounds += 1 }
    (System.nanoTime() - t0) / 1e9
  }

  /** The base graph: the tpch view over freshly generated tables, with
    * the given index, saved as a full snapshot. */
  def buildBase(ctx: Ctx, sf: Double, indexDdl: String): (String, String) = {
    val tables = ctx.path("tables")
    val db = ctx.path("data")
    ctx.stage("datagen")(DataGen.write(ctx.spark, tables, ctx.seed, Scale(sf)))
    val s0 = new GraftSession(ctx.spark)
    ctx.stage("base_graph") {
      s0.setGraph(GraphViews.tpch(ctx.spark, tables))
      s0.cypher(indexDdl).collect()
    }
    ctx.stage("base_save")(s0.saveDatabase(db))
    (tables, db)
  }

  def latencyMetrics(t: Tally, elapsedS: Double): Seq[(String, Metric)] = {
    val lat = t.latencies
    require(lat.nonEmpty, "no statement succeeded")
    Seq("stmt_p50_ms" -> Metric(Stats.median(lat), "ms"),
      "stmts_per_s" -> Metric(lat.size / elapsedS, "1/s"),
      "stmt_count" -> Metric(lat.size.toDouble, "count"))
  }

  /** The highest tail percentile the sample count supports, by name
    * (`stmt_p90_ms` needs 100 statements). */
  def tailMetric(t: Tally): Seq[(String, Metric)] =
    Stats.highestReportable(t.count).filter(_ > 50).toSeq.map { p =>
      s"stmt_p${p}_ms" -> Metric(Stats.quantile(t.latencies, p / 100.0), "ms")
    }

  /** Sorts a workload's metrics into the result line's (end-to-end, or
    * per-layer when traced) and the rest, which only the report shows. */
  def outcome(ctx: Ctx, attempted: Long, failed: Long, metrics: Seq[(String, Metric)]): Outcome = {
    val all = metrics :+ ("failed_frac" -> Metric(failed.toDouble / attempted, "ratio"))
    val byName = all.toMap
    def pick(names: Seq[String]) =
      names.map(n => n -> byName.getOrElse(n, sys.error(s"metric $n missing")))
    if (ctx.trace)
      Outcome(attempted, failed, Nil, pick(LayerNames), all.filterNot(m => LayerNames.contains(m._1)))
    else {
      // `setup_s` comes from Main; the heap is read last, after all the work
      val measured = Seq("stmt_p50_ms", "stmts_per_s")
      Outcome(attempted, failed,
        pick(measured) :+ ("heap_live_mb" -> Metric(Jvm.heapLiveMb(ctx.spark), "MB")), Nil,
        all.filterNot(m => measured.contains(m._1)))
    }
  }

  /** Per-layer metrics every workload reports from its traced run. */
  def traceLayers(ctx: Ctx, replays: Seq[StmtTrace], tracedWallMs: Seq[Double], untracedMs: Seq[Double],
      wireMs: Double, gcMs: Long): Seq[(String, Metric)] =
    LayerReport.common(replays) ++ Seq(
      "jvm.gc_ms" -> Metric(gcMs.toDouble, "ms"),
      "jvm.heap_live_mb" -> Metric(Jvm.heapLiveMb(ctx.spark), "MB"),
      "trace.overhead_ms" -> Metric(med(tracedWallMs) - med(untracedMs), "ms")) ++
      LayerReport.selfTimes(replays, med(tracedWallMs), wireMs)

  /** Names of the end-to-end metrics on the result line. */
  val EndToEndNames: Seq[String] = Seq("setup_s", "stmt_p50_ms", "stmts_per_s", "heap_live_mb")

  /** Names of the per-layer metrics on the result line. */
  val LayerNames: Seq[String] = Seq(
    "cypher.parse_ms", "session.cypher_ms", "session.cypher_jobs",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "spark.jobs", "spark.tasks", "spark.job_ms", "spark.sched_delay_ms", "spark.task_run_ms",
    "spark.shuffle_write_records", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
    "spark.spill_bytes", "driver.outside_job_ms", "driver.outside_job_share",
    "jvm.gc_ms", "jvm.heap_live_mb", "trace.overhead_ms", "trace.wall_ms", "trace.unaccounted_ms",
    "self.spark_ms", "self.catalyst_ms", "self.driver_ms")

}

// =================================================================== oltp

/** One Bolt connection, closed loop, over the sf0.01 tpch graph saved
  * with a RANGE index on the customer key and reloaded. */
object OltpBolt {
  import Common._
  import Stats.{medianOrZero => med}
  val Sf = 0.01

  private def exec(c: BoltClient, ref: Reference, op: OltpOp, tally: Tally,
      written: mutable.Map[Long, String], commits: mutable.Buffer[Double]): Double = op match {
    case r: OltpRead =>
      tally.statement(r.stmt.label)(c.run(r.stmt.query, r.stmt.params)) { rows =>
        Answers.same(rows, Oltp.expected(ref, r), ordered = r.template == 1 || r.template == 2)
      }
    case w: OltpWrite =>
      tally.statement("merge") {
        c.begin()
        c.run(w.stmt.query, w.stmt.params)
        val t0 = System.nanoTime()
        c.commit()
        commits += ms(t0)
      } { _ =>
        // the write's effect is checked against `written` at the end
        written(w.key) = w.value
        true
      }
  }

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val (tables, db) = buildBase(ctx, Sf,
      "CREATE RANGE INDEX customer_key FOR (c:customer) ON (c.c_custkey)")
    val ref = new Reference(spark, tables)
    val keys = ref.activeCustomers
    val loadMs = mutable.ArrayBuffer.empty[Double]
    val (session, endpoint, port) = openReps(ctx, 3) {
      val s = new GraftSession(spark)
      val t0 = System.nanoTime()
      s.loadDatabase(db)
      loadMs += ms(t0)
      val ep = new BoltEndpoint(s, 0, "127.0.0.1")
      (s, ep, ep.start())
    }(_._2.stop())
    val written = mutable.Map.empty[Long, String]
    val commits = mutable.ArrayBuffer.empty[Double]
    val warm = new Tally
    val tally = new Tally
    try {
      val c = new BoltClient(port)
      val extra = try {
        stage("warmup") {
          // each template once, then one write
          (Oltp.Templates.indices.map(t => OltpRead(t, keys(t * 7 % keys.size), t): OltpOp) :+
            OltpWrite(keys.head, s"warm$seed")).foreach(exec(c, ref, _, warm, written, commits))
        }
        commits.clear()
        if (!trace) measure(ctx, c, ref, keys, tally, written, commits)
        else traced(ctx, session, c, ref, keys, tally, written, commits)
      } finally c.close()
      tally.check("final-state") {
        val rows = session.cypher(
          "MATCH (c:customer) WHERE c.c_custkey IN $keys RETURN c.c_custkey AS k, c.c_comment AS v",
          Map("keys" -> written.keys.toSeq)).collect().map(r => Seq[Any](r.getLong(0), r.getString(1))).toSeq
        Answers.same(rows, written.toSeq.map { case (k, v) => Seq(k, v) }, ordered = false)
      }
      tally.add(warm)
      outcome(ctx, tally.attempted, tally.failed, extra ++ Seq(
        "snapshot.load_ms" -> Metric(med(loadMs.toSeq), "ms"),
        "txn.commit_client_ms" -> Metric(med(commits.toSeq), "ms")))
    } finally endpoint.stop()
  }

  /** The closed loop: whole blocks until the time is up. */
  private def measure(ctx: Ctx, c: BoltClient, ref: Reference, keys: IndexedSeq[Long], tally: Tally,
      written: mutable.Map[Long, String], commits: mutable.Buffer[Double]): Seq[(String, Metric)] = {
    val blocks = Oltp.stream(ctx.seed, keys).grouped(Oltp.BlockSize)
    val elapsed = loopFor(ctx.seconds)(blocks.next().foreach(exec(c, ref, _, tally, written, commits)))
    latencyMetrics(tally, elapsed) ++ tailMetric(tally) ++
      Oltp.Templates.map(_._1).:+("merge").map(l => s"stmt_p50_ms.$l" -> Metric(med(tally.latencies(l)), "ms"))
  }

  /** One connection, whole blocks until the time is up. In each block
    * the first statement of every read template runs untraced and the
    * rest (the second of every template, and the write) traced: their
    * jobs are attributed by time window, then they are replayed in
    * process. The traced statements come later in their block, so JIT
    * warm-up favours the traced side. */
  private def traced(ctx: Ctx, session: GraftSession, c: BoltClient, ref: Reference,
      keys: IndexedSeq[Long], tally: Tally, written: mutable.Map[Long, String],
      commits: mutable.Buffer[Double]): Seq[(String, Metric)] = {
    val blocks = Oltp.stream(ctx.seed, keys).grouped(Oltp.BlockSize)
    val untraced = new Tally
    val rec = new LayerRecorder(ctx.spark)
    var gcMs = 0L
    val wire = mutable.ArrayBuffer.empty[(OltpOp, Double, Long)]
    loopFor(ctx.seconds) {
      val seen = mutable.Set.empty[Int]
      blocks.next().foreach {
        case r: OltpRead if seen.add(r.template) => exec(c, ref, r, untraced, written, commits)
        case op =>
          rec.attach()
          val gc0 = Jvm.gcMs
          val b0 = c.bytesFromServer
          val s = System.currentTimeMillis()
          val ms = exec(c, ref, op, tally, written, commits)
          val e = System.currentTimeMillis()
          gcMs += Jvm.gcMs - gc0
          rec.detach()
          ctx.spans.add(wire.size, s"bolt.${op.stmt.label}", null, s, e)
          wire += ((op, ms, c.bytesFromServer - b0))
      }
    }
    tally.add(untraced)
    rec.attach()
    val gc0 = Jvm.gcMs
    val replays = wire.zipWithIndex.map { case ((op, _, _), i) =>
      val t = Replay.run(session, rec, i, op.stmt, BoltSurface, inTx = op.isInstanceOf[OltpWrite],
        write = op.isInstanceOf[OltpWrite], ctx.spans)
      op match {
        case r: OltpRead => tally.check(s"replay.${r.stmt.label}")(Answers.same(t.rows,
          Oltp.expected(ref, r), ordered = r.template == 1 || r.template == 2))
        case w: OltpWrite => written(w.key) = w.value
      }
      t
    }.toSeq
    gcMs += Jvm.gcMs - gc0
    rec.detach()
    val wireMs = med(wire.zip(replays).map { case ((_, ms, _), t) => ms - t.wallMs }.toSeq)
    traceLayers(ctx, replays, wire.map(_._2).toSeq, untraced.latencies, wireMs, gcMs) ++
      LayerReport.writes(replays) ++ Seq(
        "bolt.wire_ms" -> Metric(wireMs, "ms"),
        "bolt.bytes_out" -> Metric(med(wire.map(_._3.toDouble).toSeq), "bytes"))
  }
}

// ================================================================= ingest

/** One HTTP client posting `/db/neo4j/tx/commit` batches against a
  * saved sf0.01 base, with an incremental save every few batches. */
object IngestHttp {
  import Common._
  import Stats.{medianOrZero => med}
  val Sf = 0.01
  val WarmKeys = 1000000000L

  /** Runs the ops of whole cycles until `seconds` pass, saving every
    * [[IngestGen.SaveEvery]] batches. Returns elapsed seconds. */
  private final class Loop(session: GraftSession, dbDir: String, http: HttpClient, tally: Tally) {
    var rows = 0L
    var payload = 0L
    var sinceSave = 0
    val saves = mutable.ArrayBuffer.empty[(Double, Long, Long)] // ms, bytes, files written
    val executed = mutable.ArrayBuffer.empty[(IngestOp, Double)]

    def save(): Unit = {
      val before = Files.listing(new File(dbDir))
      val t0 = System.nanoTime()
      session.saveDatabase(dbDir)
      val took = ms(t0)
      val changed = Files.listing(new File(dbDir)).filter { case (p, st) => !before.get(p).contains(st) }
      saves += ((took, changed.values.map(_._1).sum, changed.size.toLong))
      sinceSave = 0
    }

    def op(o: IngestOp): Unit = {
      val label = o match {
        case _: ReadBack => s"readback.since$sinceSave"
        case _ => o.stmt.label
      }
      val took = tally.statement(label)(http.commit(Seq(o.stmt)).head) { res =>
        // writes are checked against the generator's model at the end
        o match {
          case rb: ReadBack => Answers.same(res, rb.expected.map { case (k, v) => Seq(k, v) }, ordered = true)
          case _ => true
        }
      }
      executed += ((o, took))
      rows += o.rowsWritten
      payload += o.payloadBytes
      sinceSave += 1
      if (sinceSave == IngestGen.SaveEvery) save()
    }

    def cycles(gen: IngestGen, seconds: Double): Double =
      loopFor(seconds)(IngestGen.Cycle.indices.foreach(_ => op(gen.next())))
  }

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val (_, db) = buildBase(ctx, Sf,
      "CREATE RANGE INDEX item_key FOR (p:item) ON (p.ik)")
    val loadMs = mutable.ArrayBuffer.empty[Double]
    val (session, endpoint, port) = openReps(ctx, 3) {
      val s = new GraftSession(spark)
      val t0 = System.nanoTime()
      s.loadDatabase(db)
      loadMs += ms(t0)
      val ep = new HttpEndpoint(s, 0, "127.0.0.1")
      (s, ep, ep.start())
    }(_._2.stop())
    try {
      val http = new HttpClient(port)
      val warmGen = new IngestGen(seed + 1000003L, WarmKeys)
      val warm = new Tally
      stage("warmup")(new Loop(session, db, http, warm).cycles(warmGen, 0.0))
      val tally = new Tally
      val gen = new IngestGen(seed)
      val main = new Loop(session, db, http, tally)
      val before = Files.du(new File(db))
      val report = mutable.ArrayBuffer.empty[(String, Metric)]
      if (!trace) {
        val elapsed = main.cycles(gen, seconds)
        val after = Files.du(new File(db))
        report ++= latencyMetrics(tally, elapsed) ++ tailMetric(tally) ++ Seq(
          "rows_per_s" -> Metric(main.rows / elapsed, "1/s"),
          "save_p50_ms" -> Metric(med(main.saves.map(_._1).toSeq), "ms"),
          "storage_amp" -> Metric((after - before).toDouble / main.payload, "ratio"))
      } else report ++= traced(ctx, session, db, http, gen, main, tally)
      report ++= Seq("snapshot.load_ms" -> Metric(med(loadMs.toSeq), "ms")) ++
        Seq(1, 3).map(n => s"ingest.readback_ms.since$n" ->
          Metric(med(tally.latencies(s"readback.since$n")), "ms"))
      tally.check("final-state") {
        val items = session.cypher("MATCH (p:item) RETURN p.ik AS k, p.v AS v").collect()
          .map(r => Seq[Any](r.getLong(0), r.getString(1))).toSeq
        val links = session.cypher("MATCH (a:item)-[:LINK]->(b:item) RETURN a.ik AS a, b.ik AS b")
          .collect().map(r => Seq[Any](r.getLong(0), r.getLong(1))).toSeq
        Answers.same(items, (warmGen.values ++ gen.values).toSeq.map { case (k, v) => Seq(k, v) },
          ordered = false) &&
          Answers.same(links, (warmGen.links ++ gen.links).toSeq.map { case (a, b) => Seq(a, b) },
            ordered = false)
      }
      tally.add(warm)
      outcome(ctx, tally.attempted, tally.failed, report.toSeq)
    } finally endpoint.stop()
  }

  /** Untraced half, then a traced half replayed in process on a copy
    * of the snapshot the traced half started from. */
  private def traced(ctx: Ctx, session: GraftSession, db: String, http: HttpClient,
      gen: IngestGen, main: Loop, tally: Tally): Seq[(String, Metric)] = {
    val untraced = new Tally
    new Loop(session, db, http, untraced).cycles(gen, ctx.seconds / 2.0)
    val replayDb = ctx.path("replay-data")
    Files.copyTree(new File(db), new File(replayDb))
    val rec = new LayerRecorder(ctx.spark).attach()
    val gc0 = Jvm.gcMs
    val bytes0 = http.bytesToServer
    main.cycles(gen, ctx.seconds / 2.0)
    val bytesPerStmt = (http.bytesToServer - bytes0).toDouble / main.executed.size
    val replaySession = new GraftSession(ctx.spark)
    replaySession.loadDatabase(replayDb)
    rec.drain()
    var sinceSave = 0
    val replays = main.executed.zipWithIndex.map { case ((op, _), i) =>
      val t = Replay.run(replaySession, rec, i, op.stmt, HttpSurface, inTx = true,
        write = !op.isInstanceOf[ReadBack], ctx.spans)
      op match {
        case rb: ReadBack => tally.check("replay.readback")(Answers.same(t.rows,
          rb.expected.map { case (k, v) => Seq(k, v) }, ordered = true))
        case _ =>
      }
      sinceSave += 1
      if (sinceSave == IngestGen.SaveEvery) { replaySession.saveDatabase(replayDb); sinceSave = 0 }
      t
    }.toSeq
    val gcMs = Jvm.gcMs - gc0
    rec.detach()
    val clientMs = main.executed.map(_._2).toSeq
    val wireMs = med(clientMs.zip(replays).map { case (ms, t) => ms - t.wallMs })
    traceLayers(ctx, replays, clientMs, untraced.latencies, wireMs, gcMs) ++
      LayerReport.writes(replays) ++ Seq(
        "http.wire_ms" -> Metric(wireMs, "ms"),
        "http.bytes_in" -> Metric(bytesPerStmt, "bytes"),
        "snapshot.save_ms" -> Metric(med(main.saves.map(_._1).toSeq), "ms"),
        "snapshot.bytes_written" -> Metric(med(main.saves.map(_._2.toDouble).toSeq), "bytes"),
        "snapshot.files_written" -> Metric(med(main.saves.map(_._3.toDouble).toSeq), "count"))
  }
}

// ============================================================== analytics

/** One in-process client repeating a fixed pass of distinct iterative
  * statements over the tpch graph with the gds and apoc packs. */
object AnalyticsGds {
  import Common._
  import Stats.{medianOrZero => med}
  val Sf = 0.01
  val GdsProcs = Seq("pageRank", "wcc", "closeness")

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val tables = path("tables")
    stage("datagen")(DataGen.write(spark, tables, seed, Scale(Sf)))
    val ref = new Reference(spark, tables)
    val pass = AnalyticsPass(seed)
    val expected = pass.expected(ref)
    val session = openReps(ctx, 3) {
      val s = new GraftSession(spark)
      s.setGraph(GraphViews.tpch(spark, tables))
      graft.procs.Packs.install(s, Seq("graph-data-science", "apoc"))
      s
    }(_ => ())
    val tally = new Tally
    def onePass(t: Tally): Unit = pass.stmts.zip(expected).foreach { case (st, exp) =>
      t.statement(st.label) {
        session.cypher(st.query).collect().toSeq.map(r => (0 until r.length).map(r.get))
      }(Answers.same(_, exp, ordered = false))
    }
    val report: Seq[(String, Metric)] =
      if (!trace) {
        val elapsed = loopFor(seconds)(onePass(tally))
        latencyMetrics(tally, elapsed) ++ tailMetric(tally) ++
          pass.stmts.map(s => s"stmt_p50_ms.${s.label}" -> Metric(med(tally.latencies(s.label)), "ms"))
      } else {
        // the untraced pass is the JVM's first, as in the untraced run;
        // the traced replay runs warm, so the overhead reads low
        val untraced = new Tally
        onePass(untraced)
        tally.add(untraced)
        val rec = new LayerRecorder(spark).attach()
        val gc0 = Jvm.gcMs
        val replays = pass.stmts.zip(expected).zipWithIndex.map { case ((st, exp), i) =>
          val t = Replay.run(session, rec, i, st, EmbeddedSurface, inTx = false, write = false, spans)
          tally.check(st.label)(Answers.same(t.rows, exp, ordered = false))
          t
        }
        val gcMs = Jvm.gcMs - gc0
        rec.detach()
        val gds = replays.filter(t => GdsProcs.contains(t.label))
        traceLayers(ctx, replays, replays.map(_.wallMs), untraced.latencies, 0.0, gcMs) ++
          gds.map(t => s"gds.${t.label}_ms" -> Metric(t.wallMs, "ms")) ++ Seq(
            "gds.jobs_per_call" -> Metric(med(gds.map(_.win.jobs.size.toDouble)), "count"),
            "gds.shuffle_records_per_call" ->
              Metric(med(gds.map(_.win.shuffleWriteRecords.toDouble)), "count"))
      }
    outcome(ctx, tally.attempted, tally.failed, report)
  }
}
