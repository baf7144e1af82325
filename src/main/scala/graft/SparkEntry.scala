package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every operator catalog in the library. Each catalog entry
  * is a `QueryDef` (Spark query + optional DuckDB oracle); the driver
  * hash-compares results at sf0.01.
  */
object SparkEntry {

  /** Worker threads of a local session: `SPARK_GRAFT_CPUS`, else every
    * available processor. */
  def cpus(env: Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** The session every entry point runs on: master `SPARK_MASTER`, else
    * `local[cpus]`; `cpus` shuffle partitions; UI off; UTC session time
    * zone. */
  def localSession(app: String, env: Map[String, String] = sys.env): SparkSession = {
    val n = cpus(env)
    SparkSession.builder()
      .master(env.getOrElse("SPARK_MASTER", s"local[$n]"))
      .appName(app)
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
  }

  /** Every registered operator demo, in registration order. */
  def catalog: Seq[QueryDef] =
    graft.operators.Relational.all ++
    graft.operators.TpchQueries.all ++
    graft.operators.CypherQueries.all ++
    graft.operators.Dedup.all ++
    graft.operators.TextAnalysis.all ++
    graft.operators.Pipeline.all ++
    graft.operators.Similarity.all ++
    graft.operators.GraphAlgos.all ++
    graft.operators.Multimodal.all ++
    graft.operators.Events.all ++
    graft.operators.Streaming.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    catalog.head.fn(spark, "/root/testdata/sf0.001")

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    catalog.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
