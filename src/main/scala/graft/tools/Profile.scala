package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import graft.SparkEntry
import graft.core.StatementMetrics

/** Profiles catalog rows: `graft.tools.Profile <sfDir> <name>[,<name>…] [runs]`.
  *
  * Each row runs once untimed (JIT, codegen, session fixtures, parquet
  * footers), then `runs` (default 3) steady runs through the noop sink,
  * each measured by [[StatementMetrics]] and printed as one metrics
  * line. For the last run it also prints every job's ms and call site,
  * the Join/Exchange lines and the PushedFilters/ReadSchema lines of the
  * executed plan, an OK or FLAG line for CartesianProduct /
  * BroadcastNestedLoopJoin (the two shapes that do not survive a 100×
  * scale-up) and the `explain("formatted")` plan. */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val runs = if (args.length > 2) args(2).toInt else 3
    val spark = SparkEntry.localSession("graft-profile")
    spark.sparkContext.setLogLevel("ERROR")
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
      measured.lastOption.foreach { case (df, m) =>
        m.jobs.foreach(j => println(s"job ${j.id}: ${j.ms} ms ${j.callSite}"))
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
    spark.stop()
  }
}
