package graft.core

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Labeled property graph as a pair of DataFrames (SURVEY.md §1.2).
  *
  * nodes: `id LONG, labels ARRAY<STRING>, <typed property columns…>`
  * edges: `src LONG, dst LONG, relType STRING, eid LONG,
  *         <typed property columns…>`
  *
  * `eid` is the relationship's surrogate identity (the reference gives
  * every relationship a stable id — driver entity round-trips, ref
  * DatabaseIO.java:121-132): minted from the same allocator as node
  * ids at append, it distinguishes parallel same-type edges between
  * one endpoint pair for SET/DELETE targeting, var-length trail
  * uniqueness, and Bolt Relationship ids. Analytic views derive a
  * deterministic (src, dst, relType)-hash eid instead — which does
  * NOT distinguish parallel same-type rows (GraphViews.viewEid
  * documents that deviation). Every database graph carries `eid`:
  * `GraftSession.setGraph`, the one way a caller-supplied frame
  * becomes a database graph, adds the derived eid to an edge frame
  * without the column, and snapshots migrate pre-v4 edges on open.
  *
  * Schema-optional: property columns appear on first CREATE
  * (`unionByName(allowMissingColumns = true)`), mirroring the
  * reference's no-DDL model (ref DatabaseIO.java:42 — nodes exist on
  * first CREATE). At 100 TB, nodes/edges live as parquet partitioned
  * by label/relType; this class never assumes collected data.
  *
  * Schema-width contract (SURVEY §1.2 documented divergence): every
  * property key promotes to a typed column — there is NO
  * `MapType(String,String)` overflow. Typed columns keep predicates
  * inside whole-stage codegen and push down to parquet scans, which a
  * map lookup never does; the cost is schema width proportional to
  * the DISTINCT key count. Re-using a key never re-widens (union is
  * by name — spec-guarded), so width is bounded by the vocabulary of
  * property keys, which is bounded in every reference-shaped workload
  * (the reference asserts exactly four property value types,
  * StubPluginHelper.java:131-134). A corpus with genuinely unbounded
  * dynamic keys would want the map-overflow design instead.
  *
  * `knownMaxIds`: the (node id, relationship eid) ceilings, for a
  * graph that knows them without a data scan — a snapshot from its
  * manifest, a GraphViews view from its per-dir memo — so
  * `GraftSession.setGraph` seeds both id allocators without the two
  * max scans (at 100 TB a full pass over every key column just to
  * open a session). Purely an optimization hint: absent → setGraph
  * falls back to the scans.
  */
final case class PropertyGraph(nodes: DataFrame, edges: DataFrame,
    knownMaxIds: Option[(Long, Long)] = None) {

  def nodesWithLabel(label: String): DataFrame =
    nodes.filter(array_contains(col("labels"), label))

  def edgesOfType(relType: String): DataFrame =
    edges.filter(col("relType") === relType)

  def persist(): PropertyGraph =
    PropertyGraph(nodes.persist(), edges.persist(), knownMaxIds)
}

object PropertyGraph {

  def nodeBaseSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("labels", ArrayType(StringType), nullable = false)))

  def edgeBaseSchema: StructType = StructType(Seq(
    StructField("src", LongType, nullable = false),
    StructField("dst", LongType, nullable = false),
    StructField("relType", StringType, nullable = false),
    StructField("eid", LongType, nullable = false)))

  def empty(spark: SparkSession): PropertyGraph = PropertyGraph(
    spark.createDataFrame(new java.util.ArrayList[Row](), nodeBaseSchema),
    spark.createDataFrame(new java.util.ArrayList[Row](), edgeBaseSchema))

  /** Infer the Spark type of a Cypher literal (the four property types
    * the reference asserts: string/long/double/boolean —
    * ref StubPluginHelper.java:131-134). */
  def literalType(v: Any): DataType = v match {
    case _: String  => StringType
    case _: Long    => LongType
    case _: Int     => LongType
    case _: Double  => DoubleType
    case _: Boolean => BooleanType
    // LIST properties (Neo4j stores homogeneous lists; the canonical
    // case is a node embedding fed to a VECTOR index): element type
    // from the first non-null element, like map-batch inference
    case s: Seq[_] =>
      org.apache.spark.sql.types.ArrayType(
        s.find(_ != null).map(literalType).getOrElse(StringType))
    case null       => StringType
    case other => throw new IllegalArgumentException(s"unsupported property type: $other")
  }

  /** max(`c`) over `df` as a Long, -1 when `df` is empty: one
    * column-pruned aggregate job. */
  def maxOf(df: DataFrame, c: Column): Long =
    df.agg(max(c)).collect().headOption
      .flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long])).getOrElse(-1L)

  /** Append rows with a possibly-new property schema (schema-optional
    * writes): missing columns null-fill on both sides. */
  def appendByName(base: DataFrame, extra: DataFrame): DataFrame =
    base.unionByName(extra, allowMissingColumns = true)

  /** Latest-wins overlay by id: base rows whose id the delta doesn't
    * replace, plus the delta's replacement/created rows (schema widens
    * by name); the base is never rewritten — the resolution step of
    * the mutation delta-log and of v5 snapshot `nodes_delta` overlays.
    * See [[overlayByKey]] for the two plans. */
  def overlayById(base: DataFrame, delta: DataFrame): DataFrame =
    overlayByKey(base, delta, "id")

  /** Rows in a delta flagged with this TRUE column are TOMBSTONES:
    * they suppress their base row and emit nothing — DELETE expressed
    * in the same latest-wins overlay as SET/MERGE, so a 30-row delete
    * commits (and incrementally snapshots) O(batch), never rewriting
    * the base. A tombstone row carries the full deleted row plus the
    * flag; resolution filters it out and the column never reaches a
    * resolved frame. */
  val TombstoneCol = "__tombstone"

  /** Delta rows carry the monotonic COMMIT SEQUENCE they were
    * published under (stamped at fold/publish time): a CDC cursor
    * records the sequence at mint, and `db.cdc.query` delivers only
    * rows with a later stamp — updates committed before the cursor no
    * longer replay from epoch start (the r14 u-event over-delivery).
    * Like [[TombstoneCol]] it is delta-log METADATA: resolution drops
    * it, so no resolved frame (and no query result) ever sees it, but
    * the persisted `nodes_delta`/`edges_delta` keep it so cursors
    * survive incremental saves with their sequences intact. */
  val CdcSeqCol = "__commit_seq"

  /** The delta-log metadata columns — never properties. */
  val MetaDeltaCols: Set[String] = Set(TombstoneCol, CdcSeqCol)

  /** [[overlayById]] generalized over the key column — nodes overlay
    * on `id`, relationships on their surrogate `eid`. Tombstone-aware:
    * flagged delta rows suppress without re-emitting; delta-log
    * metadata columns never reach the resolved frame.
    *
    * The delta decides the plan. A driver-resident delta (a
    * LocalRelation, as a write buffer publishes it) of at most
    * `DeltaSide.MaxDriverRows` rows removes its keys by a literal set
    * filter: no join, so no broadcast stage and none of its jobs in
    * the read or in the compile-time probes over it. Any other delta
    * (checkpointed folds, on-disk `nodes_delta`/`edges_delta`) is
    * removed by one anti join. Either way one union adds the live
    * delta rows. A base row with a null key is never replaced. */
  def overlayByKey(base: DataFrame, delta: DataFrame, key: String): DataFrame = {
    val kept = literalKeys(base, delta, key) match {
      case Some(ks) if ks.isEmpty => base
      case Some(ks) => base.filter(base(key).isNull ||
        !GraftSqlBridge.column(InSet(GraftSqlBridge.expression(base(key)), ks)))
      case None => base.join(delta.select(col(key).as("_ov_k")),
        base(key) === col("_ov_k"), "left_anti")
    }
    val tombFiltered =
      if (delta.columns.contains(TombstoneCol))
        delta.filter(!coalesce(col(TombstoneCol), lit(false))).drop(TombstoneCol)
      else delta
    val live =
      if (tombFiltered.columns.contains(CdcSeqCol)) tombFiltered.drop(CdcSeqCol)
      else tombFiltered
    appendByName(kept, live)
  }

  /** The non-null keys of a driver-resident `delta` of at most
    * `DeltaSide.MaxDriverRows` rows, read from its LocalRelation
    * without a job; None for any other delta, or when the key is not
    * LONG on both sides. The set goes straight into an `InSet`, so the
    * analyzer never walks thousands of literals. */
  private def literalKeys(base: DataFrame, delta: DataFrame, key: String): Option[Set[Any]] =
    delta.queryExecution.analyzed match {
      case r: LocalRelation if r.data.size <= DeltaSide.MaxDriverRows &&
          base.schema(key).dataType == LongType =>
        val i = r.output.indexWhere(_.name == key)
        if (i < 0 || r.output(i).dataType != LongType) None
        else Some(r.data.iterator.filterNot(_.isNullAt(i)).map(row => row.getLong(i): Any).toSet)
      case _ => None
    }
}
