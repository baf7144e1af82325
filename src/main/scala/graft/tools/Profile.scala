package graft.tools

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import graft.{GraftSession, SparkEntry}
import graft.bolt.BoltEndpoint
import graft.core.{JobMetrics, Metrics, StatementMetrics}
import graft.http.HttpEndpoint

/** Profiles catalog rows or one Cypher statement.
  *
  * `graft.tools.Profile <sfDir> <name>[,<name>…] [runs]` runs each
  * catalog row once untimed (JIT, codegen, session fixtures, parquet
  * footers), then `runs` (default 3) steady runs through the noop sink,
  * each measured by [[StatementMetrics]] and printed as one metrics
  * line.
  *
  * `graft.tools.Profile --cypher <snapshotDir> <statement> [<params
  * JSON object>] [runs]` loads a saved snapshot into a session and runs
  * the statement as the Bolt endpoint does (`cypherWire`, rows streamed
  * by `BoltEndpoint.streamed`): once untimed, then `runs` times, each
  * printed as a `compile` line (parsing, compiling and its probes) and
  * an `execute` line (streaming the rows).
  *
  * For the last run both modes also print every job's ms and call
  * site, the Join/Exchange lines and the PushedFilters/ReadSchema lines
  * of the executed plan, an OK or FLAG line for CartesianProduct /
  * BroadcastNestedLoopJoin (the two shapes that do not survive a 100×
  * scale-up) and the `explain("formatted")` plan. */
object Profile {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.localSession("graft-profile")
    spark.sparkContext.setLogLevel("ERROR")
    if (args(0) == "--cypher") {
      val params =
        if (args.length > 3) HttpEndpoint.fromJsonMap(new ObjectMapper().readTree(args(3)))
        else Map.empty[String, Any]
      val runs = if (args.length > 4) args(4).toInt else 3
      val session = new GraftSession(spark)
      session.loadDatabase(args(1))
      def run(): (DataFrame, Metrics, Metrics) = {
        val (df, compile) = StatementMetrics.measure(spark)(
          session.cypherWire(args(2), params, "neo4j", null))
        val (_, execute) = StatementMetrics.measure(spark)(
          BoltEndpoint.streamed(df).forEachRemaining(_ => ()))
        (df, compile, execute)
      }
      run()
      val measured = (1 to runs).map { i =>
        val (df, compile, execute) = run()
        println(s"run $i compile: ${compile.line}")
        println(s"run $i execute: ${execute.line}")
        (df, compile.jobs ++ execute.jobs)
      }
      measured.lastOption.foreach { case (df, jobs) => report(df, jobs) }
    } else {
      val sfDir = args(0)
      val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
      val runs = if (args.length > 2) args(2).toInt else 3
      names.foreach { name =>
        println(s"===== $name =====")
        def run(): DataFrame = {
          val df = SparkEntry.queries(name)(spark, sfDir)
          df.write.format("noop").mode("overwrite").save()
          df
        }
        run()
        val measured = (1 to runs).map { i =>
          val r = StatementMetrics.measure(spark)(run())
          println(s"run $i: ${r._2.line}")
          r
        }
        measured.lastOption.foreach { case (df, m) => report(df, m.jobs) }
      }
    }
    spark.stop()
  }

  private def report(df: DataFrame, jobs: Seq[JobMetrics]): Unit = {
    jobs.foreach(j => println(s"job ${j.id}: ${j.ms} ms ${j.callSite}"))
    val plan = df.queryExecution.executedPlan.toString
    def lines(keys: String*) =
      plan.linesIterator.filter(l => keys.exists(l.contains)).map(_.replaceAll("\\[plan_id=\\d+\\]", ""))
    lines("Join", "Exchange").map(_.take(120)).foreach(println)
    lines("PushedFilters", "ReadSchema").map(_.trim.take(2000)).foreach(println)
    val bad = Seq("CartesianProduct", "BroadcastNestedLoopJoin").filter(plan.contains)
    println(if (bad.isEmpty) "OK: no CartesianProduct/BroadcastNestedLoopJoin"
      else s"FLAG: ${bad.mkString(",")}")
    println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
  }
}
