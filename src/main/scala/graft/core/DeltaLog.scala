package graft.core

import scala.collection.immutable.VectorMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LocalRelation, LogicalPlan, Union}
import org.apache.spark.sql.types._

/** Driver-local write buffer of one delta-log side: present when the
  * delta lives as a LocalRelation over `rows` (bounded batches whose
  * SET values the driver evaluates), so a commit runs ZERO distributed
  * jobs beyond its bounded lookups. Immutable, insertion-ordered and
  * keyed by the side's key (node id / relationship eid): transaction
  * shadows share it by reference and extend it copy-on-write.
  * `colTypes` is the delta's schema — first writer wins, and its
  * insertion order is the delta's column order. Distributed deltas
  * (huge batches, cluster-computed SET values) carry no buffer. */
sealed trait DeltaBuffer[B] {
  def colTypes: VectorMap[String, DataType]
  def rows: VectorMap[Long, Map[String, Any]]
  def withLog(colTypes: VectorMap[String, DataType],
      rows: VectorMap[Long, Map[String, Any]]): B
}

/** The column rules of a write buffer: which driver values a buffered
  * column holds and with which type. A value that fits no column sends
  * the write down the distributed path. */
object DeltaBuffer {
  /** The canonical driver form of a scalar: narrow integers widen to
    * Long, Float to Double. Keys compare in this form. */
  def canon(v: Any): Any = v match {
    case i: java.lang.Integer => i.longValue
    case s: java.lang.Short   => s.longValue
    case b: java.lang.Byte    => b.longValue
    case f: java.lang.Float   => f.doubleValue
    case other                => other
  }

  /** Whether a canonical value is one a buffered column can hold. */
  def scalar(v: Any): Boolean = v match {
    case null | _: Long | _: Double | _: String | _: Boolean => true
    case _ => false
  }

  /** `v` as a buffered column of type `t` holds it; None when it does
    * not fit (the write then takes the distributed path). `t` is only
    * asked for a scalar. */
  def fits(v: Any, t: => DataType): Option[Any] = if (!scalar(v)) None else (v, t) match {
    case (null, _)                 => Some(null)
    case (x: Long, LongType)       => Some(x)
    case (x: Long, DoubleType)     => Some(x.toDouble)
    case (x: Double, DoubleType)   => Some(x)
    case (x: String, StringType)   => Some(x)
    case (x: Boolean, BooleanType) => Some(x)
    case _                         => None
  }

  /** The column type of a buffered write: the frame's type when it has
    * the column, else the write buffer's, else the value's. */
  def colType(schema: StructType, buffered: collection.Map[String, DataType])(
      name: String, v: Any): DataType =
    known(schema, buffered)(name).getOrElse(PropertyGraph.literalType(v))

  def known(schema: StructType, buffered: collection.Map[String, DataType])(
      name: String): Option[DataType] =
    schema.fields.find(_.name == name).map(_.dataType).orElse(buffered.get(name))
}

/** Node write buffer. `settled` caches merge keys whose BASE lookup is
  * already answered for this burst (base rows folded into `rows`, or
  * proven absent) — the base is immutable while the overlay is valid,
  * so a settled key never needs another base scan; a rerun whose keys
  * are all settled commits with ZERO Spark actions. The cache is only
  * valid for the (labels, keyNames) `shape` that built it. */
final case class NodeDeltaBuffer(
    colTypes: VectorMap[String, DataType],
    rows: VectorMap[Long, Map[String, Any]],
    settled: Set[Seq[Any]] = Set.empty,
    shape: (Seq[String], Seq[String]) = (Nil, Nil)) extends DeltaBuffer[NodeDeltaBuffer] {
  def withLog(colTypes: VectorMap[String, DataType],
      rows: VectorMap[Long, Map[String, Any]]): NodeDeltaBuffer =
    copy(colTypes = colTypes, rows = rows)
}

/** Relationship write buffer. `settled` caches (relType, srcId, dstId)
  * pairs whose BASE lookup is already answered this burst, as on
  * [[NodeDeltaBuffer]]. `nodeBind` caches endpoint-key → node-id
  * bindings, valid only while `graph.nodes eq nodeBindRef` (an
  * interleaved node mutation silently drops it — reference identity
  * again, never a manual invalidation). `None` records a key proven
  * absent. */
final case class EdgeDeltaBuffer(
    colTypes: VectorMap[String, DataType],
    rows: VectorMap[Long, Map[String, Any]],
    settled: Set[(String, Long, Long)] = Set.empty,
    nodeBind: Map[(Seq[String], Seq[String], Seq[Any]), Option[Long]] = Map.empty,
    nodeBindRef: Option[AnyRef] = None) extends DeltaBuffer[EdgeDeltaBuffer] {
  def withLog(colTypes: VectorMap[String, DataType],
      rows: VectorMap[Long, Map[String, Any]]): EdgeDeltaBuffer =
    copy(colTypes = colTypes, rows = rows)
}

/** One side's delta overlay: `resolved` is the base minus the delta's
  * keys, plus the delta's live rows ([[PropertyGraph.overlayByKey]];
  * see [[GraphDatabase.nodeDeltaState]]). `buf` is the driver write
  * buffer `delta` was built from, if any: then `delta` is its
  * [[DeltaSide.localFrame]], driver-resident and never checkpointed.
  * `materialized` is false only while the delta is a LAZY plan — a
  * distributed fold inside a transaction shadow defers its checkpoint
  * so a rolled-back transaction costs nothing; COMMIT and compaction
  * checkpoint it. */
final case class DeltaState[B](
    base: DataFrame,
    delta: DataFrame,
    resolved: DataFrame,
    buf: Option[B] = None,
    materialized: Boolean = true)

/** One side of the keyed delta log — nodes keyed by `id`, relationships
  * by their surrogate `eid`: the key column, the columns the delta
  * schema keeps non-null, the latest-wins overlay, and where the side
  * lives on a [[GraphDatabase]]. */
final class DeltaSide[B <: DeltaBuffer[B]] private (
    val key: String,
    val nonNull: Set[String],
    val emptyBuffer: B,
    val part: PropertyGraph => DataFrame,
    withPart: (PropertyGraph, DataFrame) => PropertyGraph,
    val valid: GraphDatabase => Option[DeltaState[B]],
    assign: (GraphDatabase, Option[DeltaState[B]]) => Unit) {

  def overlay(base: DataFrame, delta: DataFrame): DataFrame =
    PropertyGraph.overlayByKey(base, delta, key)

  /** The delta a write buffer publishes: a LocalRelation over `buf`'s
    * rows, columns in `colTypes` order, built without a Spark job. */
  def localFrame(spark: SparkSession, buf: B): DataFrame = {
    val rows = buf.rows.valuesIterator.map(m =>
      Row.fromSeq(buf.colTypes.keysIterator.map(m.getOrElse(_, null)).toSeq)).toSeq
    spark.createDataFrame(rows.asJava, StructType(buf.colTypes.toSeq.map {
      case (n, t) => StructField(n, t, nullable = !nonNull(n)) }))
  }

  /** A bounded buffered commit may extend this side: no overlay yet,
    * or one that is still a write buffer under the row cap. */
  def bufferable(db: GraphDatabase): Boolean =
    valid(db).forall(_.buf.exists(_.rows.size <= DeltaSide.MaxBufferRows))

  /** Swap `s.resolved` in as this side of the graph and record `s`. */
  def publish(db: GraphDatabase, s: DeltaState[B]): Unit = {
    db.graph = withPart(db.graph, s.resolved)
    assign(db, Some(s))
  }

  /** Swap in a side with no overlay (a stale state drops). */
  def reset(db: GraphDatabase, frame: DataFrame): Unit = {
    db.graph = withPart(db.graph, frame)
    assign(db, None)
  }
}

object DeltaSide {
  /** Past this many buffered rows a side falls back to distributed folds. */
  val MaxBufferRows = 100000

  /** Past this many rows one statement's matched keys, batch or miss set
    * stay distributed instead of being collected to the driver, a
    * driver-resident delta is overlaid by an anti join instead of its
    * literal key set ([[PropertyGraph.overlayByKey]]), and a path's
    * frontier joins unhinted instead of broadcast or as literal keys
    * (`CypherCompiler.compileHop`). */
  val MaxDriverRows = 10000

  /** `df`'s rows when there are at most [[MaxDriverRows]] of them, else
    * None: one bounded collect. A frame whose optimized plan is a union
    * with driver-resident branches (a base read under a write buffer's
    * delta) takes those branches' rows on the driver and the rest in
    * one bounded take; Spark's take over the whole union would scan
    * its partitions in batches, one job per batch. */
  def collectBounded(df: DataFrame): Option[Array[Row]] = {
    val bounded = df.limit(MaxDriverRows + 1)
    // the optimizer pushes a LocalLimit onto each branch of a union
    def unlimited(p: LogicalPlan) = p match { case LocalLimit(_, c) => c; case c => c }
    val (local, rest) = bounded.queryExecution.optimizedPlan match {
      case GlobalLimit(_, LocalLimit(_, u: Union)) =>
        u.children.map(unlimited).partition(_.isInstanceOf[LocalRelation])
      case _ => (Nil, Nil)
    }
    val all =
      if (local.isEmpty) bounded.collect()
      else {
        val held = local.iterator.flatMap(p => localRows(p.asInstanceOf[LocalRelation]))
          .take(MaxDriverRows + 1).toArray
        if (held.length > MaxDriverRows || rest.isEmpty) held
        else held ++ GraftSqlBridge.frame(df.sparkSession,
          if (rest.size == 1) rest.head else Union(rest))
          .limit(MaxDriverRows + 1 - held.length).collect()
      }
    Some(all).filter(_.length <= MaxDriverRows)
  }

  /** The rows of a LocalRelation-backed frame (a write buffer's delta),
    * read on the driver without a Spark job; None for any other frame. */
  def localRows(df: DataFrame): Option[Seq[Row]] = df.queryExecution.analyzed match {
    case r: LocalRelation => Some(localRows(r).toSeq)
    case _ => None
  }

  private def localRows(r: LocalRelation): Iterator[Row] = {
    val toRow = CatalystTypeConverters.createToScalaConverter(r.schema)
    r.data.iterator.map(toRow(_).asInstanceOf[Row])
  }

  val Nodes: DeltaSide[NodeDeltaBuffer] = new DeltaSide(
    "id", Set("id"), NodeDeltaBuffer(VectorMap.empty, VectorMap.empty),
    _.nodes, (g, n) => PropertyGraph(n, g.edges),
    _.validNodeDelta, _.nodeDeltaState = _)

  val Edges: DeltaSide[EdgeDeltaBuffer] = new DeltaSide(
    "eid", Set("src", "dst", "relType", "eid"),
    EdgeDeltaBuffer(VectorMap.empty, VectorMap.empty),
    _.edges, (g, e) => PropertyGraph(g.nodes, e),
    _.validEdgeDelta, _.edgeDeltaState = _)
}
