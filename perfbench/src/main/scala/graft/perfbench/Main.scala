package graft.perfbench

import java.io.{File, PrintWriter}
import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap

/** Benchmark entry point; `perfbench/run.py` builds and launches it.
  *
  * {{{
  * --workload oltp_bolt|analytics_gds|ingest_http --seed N --seconds S --trace 0|1
  * }}}
  *
  * Prints a report line (every metric the workload has, the set-up
  * stages, the host's cpu count and load) and then the result line:
  * with `--trace 0` the end-to-end metrics, with `--trace 1` the
  * per-layer ones. Work files live under `<dir>/.work` and are removed
  * at exit; the report and, for traced runs, the spans are kept under
  * `<dir>/out`, where `<dir>` is the `perfbench.dir` system property. */
object Main {
  val Workloads: ListMap[String, Ctx => Outcome] = ListMap(
    "oltp_bolt" -> OltpBolt.run,
    "analytics_gds" -> AnalyticsGds.run,
    "ingest_http" -> IngestHttp.run)

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean)

  def parse(argv: Seq[String]): Either[String, Args] = {
    val kv = argv.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.get(k).toRight(s"missing --$k")
    for {
      _ <- Either.cond(argv.size % 2 == 0 && kv.size * 2 == argv.size, (), "arguments come in --key value pairs")
      w <- need("workload").flatMap(w => Either.cond(Workloads.contains(w), w,
        s"unknown workload $w (one of ${Workloads.keys.mkString(", ")})"))
      seed <- need("seed").flatMap(s => s.toLongOption.toRight(s"--seed $s is not an integer"))
      secs <- need("seconds").flatMap(s => s.toIntOption.filter(_ > 0).toRight(s"--seconds $s is not a positive integer"))
      trace <- need("trace").flatMap {
        case "0" => Right(false); case "1" => Right(true); case t => Left(s"--trace $t is not 0 or 1")
      }
    } yield Args(w, seed, secs, trace)
  }

  /** The result line's metrics: end-to-end (with `setup_s`) or, for a
    * traced run, per-layer; exactly the names `BENCHMARK.json` lists. */
  def lineMetrics(trace: Boolean, setupS: Double, o: Outcome): Seq[(String, Metric)] = {
    val (ms, names) =
      if (trace) (o.layers, Common.LayerNames)
      else (("setup_s" -> Metric(setupS, "s")) +: o.endToEnd, Common.EndToEndNames)
    require(ms.map(_._1) == names, s"result metrics ${ms.map(_._1)} are not $names")
    ms
  }

  def resultLine(trace: Boolean, setupS: Double, o: Outcome): String =
    ResultLine.render(o.failed == 0, o.attempted, o.failed, lineMetrics(trace, setupS, o))

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toSeq) match {
      case Right(a) => a
      case Left(err) =>
        System.err.println(s"perfbench: $err")
        sys.exit(2)
    }
    val launchMs = sys.props.get("perfbench.launchMs").map(_.toLong)
      .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val dir = new File(sys.props.getOrElse("perfbench.dir", "perfbench")).getAbsoluteFile
    val workDir = new File(dir, s".work/${args.workload}-${args.seed}-${ProcessHandle.current().pid()}")
    val outDir = new File(dir, "out")
    val cpus = Runtime.getRuntime.availableProcessors()
    val loadStart = Jvm.loadAverage
    Files.deleteTree(workDir)
    workDir.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(workDir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val ctx = new Ctx(spark, args.seed, args.seconds, args.trace, workDir)
      ctx.setup("spark_start") = (System.currentTimeMillis() - launchMs) / 1000.0
      val o = Workloads(args.workload)(ctx)
      val setupS = ctx.setup.values.sum
      val all = lineMetrics(args.trace, setupS, o) ++ o.report
      val tag = s"${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}"
      val report = Json.write(ListMap(
        "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds,
        "trace" -> args.trace, "correct" -> (o.failed == 0), "attempted" -> o.attempted,
        "failed" -> o.failed,
        "host" -> ListMap("cpus" -> cpus, "load_avg_start" -> loadStart, "load_avg_end" -> Jvm.loadAverage),
        "setup_stages_s" -> ListMap(ctx.setup.toSeq: _*),
        "metrics" -> ListMap(all.map { case (n, m) => n -> ListMap("value" -> m.value, "unit" -> m.unit) }: _*)))
      outDir.mkdirs()
      val w = new PrintWriter(new File(outDir, s"result-$tag.json"), "UTF-8")
      try w.println(report) finally w.close()
      if (args.trace) ctx.spans.write(new File(outDir, s"spans-$tag.jsonl"))
      println(report)
      println(resultLine(args.trace, setupS, o))
    } finally {
      spark.stop()
      Files.deleteTree(workDir)
    }
    System.out.flush()
    // endpoint and Spark pools are daemon threads; nothing else to wait for
    sys.exit(0)
  }
}
