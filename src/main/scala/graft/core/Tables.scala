package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet tables (repo:TESTDATA.md).
  *
  * All reads go through `spark.read.parquet` so Catalyst predicate
  * pushdown / column pruning reach the scan. At 100 TB the same call
  * reads a partitioned directory tree; nothing here assumes single-file.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Memoized parquet SCHEMAS per (dir, table): `spark.read.parquet`
    * runs a footer/schema-inference JOB on every call (30-275 ms each;
    * a fresh session building the 6-table tpch view paid 11 of them),
    * which a metastore-backed deployment never pays because the schema
    * lives in the catalog. Only the StructType is kept: every call
    * builds a fresh reader over it, so no session or frame is pinned
    * and each read lists the files as they are now. Input files are
    * immutable per path, so a schema never goes stale. */
  private val schemas = new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val p = s"$dir/$name.parquet"
    spark.read.schema(schemas.computeIfAbsent(p, _ => spark.read.parquet(p).schema)).parquet(p)
  }

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  /** `events.ts` has shipped as both parquet TIMESTAMP(NANOS) (reads
    * as a raw long under `nanosAsLong`, which Spark 4 requires for
    * nanos columns) and TIMESTAMP(MICROS) (reads natively as a
    * timestamp). The generator owns the footer, not this library, so
    * the reader adapts: branch on the type Spark actually loaded and
    * normalize to TimestampType micros either way — the same value
    * DuckDB's `epoch_ns(ts)` sees, so oracle comparisons line up.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    // set once and leave on: toggling back was racy under concurrent
    // catalog queries, and the conf ONLY affects TIMESTAMP(NANOS)
    // parquet columns — micros/NTZ columns load identically with it on
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(apply(s, d, "events"))
  }

  /** Normalize an events frame's `ts` to TimestampType whatever layout
    * the parquet footer declared. Works on batch and streaming frames.
    * NTZ→LTZ cast preserves the wall clock under the UTC session
    * timezone every graft entry point pins (`SparkEntry.localSession`,
    * the specs).
    */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType         => // legacy TIMESTAMP(NANOS) read as nanos-long
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType    => df
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case other => throw new IllegalStateException(
        s"events.ts arrived as unsupported type $other — expected " +
          "long-nanos, TIMESTAMP, or TIMESTAMP_NTZ; regenerate testdata " +
          "or extend Tables.normalizeEventTs")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
