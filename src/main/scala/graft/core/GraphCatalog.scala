package graft.core

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

/** The snapshot a database was last re-pointed at by a save or a
  * load: its `dir` and `manifest`, the node and edge `frames` read
  * from it, the index defs SEALED when its `index_aux/<name>/`
  * projections were built (name → (label, prop, kind)), its on-disk
  * delta-logs (folded into `frames`, never into the projections,
  * which are built from the pure base) and its sealed cardinality
  * `stats` overlaid with those deltas (None for a dir without
  * stats.json: join ordering then stays live/textual).
  *
  * Index routing, label-scan routing, the IVF probe, the cost model,
  * the incremental-save shortcut and the CDC disk-log read all ask it
  * one question through [[liveDelta]]: is this frame the snapshot's
  * frame, or that frame under a live delta overlay? The proof is
  * reference identity per side (the house self-validation pattern: a
  * node mutation re-points only `graph.nodes`, so edge-side routing
  * survives it and vice versa); any other frame gets None and the
  * caller falls back to the ordinary scan. A routed lookup must also
  * find the LIVE index def equal to the sealed one: DROP + re-CREATE
  * under a reused name re-points no frame.
  *
  * `GraftSession.reanchor` (save, load) is its only writer and
  * `GraftSession.setGraph` its only reset. A programmatic re-point or
  * a restore installs frames that never came from `dir`; an anchor
  * that outlived them would let the next save write an INCREMENTAL
  * delta against the old on-disk base (the re-pointed rows vanish on
  * reload) and let a later overlay inherit routing and stats meant
  * for other frames. Immutable and rebuilt by every save/load, so
  * its per-generation memos below can never go stale. */
final class SnapshotAnchor(
    val dir: String,
    val manifest: SnapshotStore.Manifest,
    frames: PropertyGraph,
    val sealedIndexes: Map[String, (String, String, String)],
    nodeDiskDelta: Option[DataFrame],
    edgeDiskDelta: Option[DataFrame],
    val stats: Option[GraphStats]) {

  private def diskDelta[B <: DeltaBuffer[B]](side: DeltaSide[B]): Option[DataFrame] =
    if (side eq DeltaSide.Nodes) nodeDiskDelta else edgeDiskDelta

  /** The two-layer identity proof: `Some(None)` when `frame` IS this
    * snapshot's frame on `side`, `Some(Some(delta))` when it is the
    * side's valid live overlay over that frame, None otherwise. */
  def liveDelta[B <: DeltaBuffer[B]](side: DeltaSide[B], db: GraphDatabase,
      frame: DataFrame): Option[Option[DataFrame]] = {
    val snap = side.part(frames)
    if (frame eq snap) Some(None)
    else side.valid(db).filter(s => (s.base eq snap) && (s.resolved eq frame))
      .map(s => Some(s.delta))
  }

  /** `read` (memoized under `key`) composed up to `frame`: projection
    * ⟵ on-disk delta ⟵ live delta, latest wins per key — the same
    * overlay the base read itself resolves with, so the routed
    * frame's slice equals `frame`'s. None unless [[liveDelta]] proves
    * `frame`. */
  def routed[B <: DeltaBuffer[B]](side: DeltaSide[B], db: GraphDatabase, frame: DataFrame,
      key: String)(read: => Option[DataFrame]): Option[DataFrame] =
    liveDelta(side, db, frame).flatMap { live =>
      cachedRead(key)(read).map(proj => (diskDelta(side) ++ live).foldLeft(proj)(side.overlay))
    }

  /** The side's delta-log since the snapshot's pure base: the on-disk
    * delta with `live` (newer) winning per key. Raw rows — tombstones
    * and commit stamps kept for the IVF probe and the CDC feed. */
  def deltaLog[B <: DeltaBuffer[B]](side: DeltaSide[B],
      live: Option[DataFrame]): Option[DataFrame] = (diskDelta(side), live) match {
    case (Some(k), Some(o)) => Some(PropertyGraph.appendByName(
      k.join(o.select(col(side.key).as("_ck")), k(side.key) === col("_ck"), "left_anti"), o))
    case (k, o) => o.orElse(k)
  }

  /** `dir` still holds exactly this snapshot: no compaction or other
    * writer touched it since. */
  def intact: Boolean = SnapshotStore.exists(dir) &&
    (try SnapshotStore.readManifest(dir) == manifest catch { case NonFatal(_) => false })

  /** Memoized routed reads, keyed per projection/label — a
    * `spark.read.parquet` re-lists the file index on every call, and
    * at 100 TB a projection is tens of thousands of files: the listing
    * is paid once per anchor, not once per statement. */
  private val reads = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  def cachedRead(key: String)(mk: => Option[DataFrame]): Option[DataFrame] =
    Option(reads.get(key)).orElse {
      val v = mk; v.foreach(reads.put(key, _)); v
    }

  /** Driver-side memo of COLLECTED metadata-scale tables (the IVF
    * centroid table: one row per coarse cell, ≤ a few hundred rows by
    * construction). The r19 probe cached the DataFrame but still ran a
    * collect() JOB per probe statement — 24 scheduler round-trips in
    * the recall row for rows that cannot change within one anchor.
    * Index METADATA only; never query results. */
  private val collected = new java.util.concurrent.ConcurrentHashMap[String, Array[Row]]()
  def cachedCollect(key: String)(mk: => Option[DataFrame]): Option[Array[Row]] =
    Option(collected.get(key)).orElse {
      cachedRead(key)(mk).map { df =>
        val rows = df.collect(); collected.put(key, rows); rows
      }
    }

  /** The IVF assignment count the snapshot's cells were WRITTEN with
    * (ADVICE r19): read from `<indexAuxDir>/ivf_meta.json`, memoized
    * per dir. Legacy snapshots without the file report Int.MaxValue so
    * the probe's dedup-as-filter gate (exact only for ≤ 2 assignments)
    * fails safe into the bounded top-(k·assign)+dedup tail. */
  private val ivfAssigns =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Integer]()
  def ivfAssignOf(indexAuxDir: String): Int =
    ivfAssigns.computeIfAbsent(indexAuxDir, d => {
      try {
        val p = java.nio.file.Paths.get(s"$d/ivf_meta.json")
        if (java.nio.file.Files.exists(p))
          "\"assign\"\\s*:\\s*(\\d+)".r
            .findFirstMatchIn(java.nio.file.Files.readString(p))
            .map(m => Integer.valueOf(m.group(1).toInt))
            .getOrElse(Integer.valueOf(Int.MaxValue))
        else Integer.valueOf(Int.MaxValue)
      } catch { case NonFatal(_) => Integer.valueOf(Int.MaxValue) }
    }).intValue
}

final class GraphDatabase(val name: String) {
  @volatile var graph: PropertyGraph = _
  @volatile var stopped: Boolean = false
  val nextId = new AtomicLong(0L)
  val nextRelId = new AtomicLong(0L)
  /** Mutating statements applied since the graph lineage last
    * materialized — reads compact the plan-on-plan chain once it
    * grows (GraftSession.compactIfNeeded). The mat* references mark
    * the component DataFrames considered already-materialized (the
    * externally-set base, a loaded snapshot, or the last checkpoint):
    * compaction checkpoints only a component whose reference moved,
    * so edge-only write bursts never re-materialize the node side. */
  @volatile var pendingMutations: Int = 0
  @volatile var matNodes: org.apache.spark.sql.DataFrame = _
  @volatile var matEdges: org.apache.spark.sql.DataFrame = _

  /** Node DELTA overlay (mutation log): when set, and `graph.nodes eq
    * resolved` still holds, the node side is exactly `base` minus
    * the delta's keys, plus `delta` ([[PropertyGraph.overlayByKey]]) —
    * `delta` carries one full REPLACEMENT row per touched/created node
    * id, so a batched-upsert commit costs O(batch), never O(table):
    * compaction checkpoints at most the delta and snapshot writes fold
    * it into the base. The
    * reference analog is its transaction log under /data/transactions
    * (docker-entrypoint.sh:521-532) replayed against the store.
    *
    * SELF-VALIDATING by reference identity: any code path that
    * assigns `graph` without maintaining the overlay silently breaks
    * the `graph.nodes eq resolved` check and the state is ignored —
    * correctness never depends on remembering to invalidate. */
  @volatile var nodeDeltaState: Option[DeltaState[NodeDeltaBuffer]] = None
  def validNodeDelta: Option[DeltaState[NodeDeltaBuffer]] =
    nodeDeltaState.filter(s => graph != null && (graph.nodes eq s.resolved))

  /** Edge DELTA overlay — the eid-keyed mirror of [[nodeDeltaState]]:
    * when set, and `graph.edges eq resolved` still holds, the edge
    * side is exactly `base` minus the delta's eids, plus `delta`, one full
    * REPLACEMENT row per touched/created relationship eid. A
    * relationship MERGE ON MATCH or batched edge append then commits
    * O(batch + delta), never O(edge table). Same self-validation by
    * reference identity as the node side: any path that assigns
    * `graph` without maintaining this overlay silently invalidates it. */
  @volatile var edgeDeltaState: Option[DeltaState[EdgeDeltaBuffer]] = None
  def validEdgeDelta: Option[DeltaState[EdgeDeltaBuffer]] =
    edgeDeltaState.filter(s => graph != null && (graph.edges eq s.resolved))

  /** See [[SnapshotAnchor]]. */
  @volatile var anchor: Option[SnapshotAnchor] = None

  /** One-slot memo for the delta-overlaid stats: keyed by the RESOLVED
    * frames (immutable per mutation state), so the small delta-count
    * jobs run once per state, not once per statement. */
  @volatile var statsMemo: Option[(AnyRef, AnyRef, GraphStats)] = None

  /** Frame re-points served from a stale statsMemo since the last live
    * computation (never-saved graphs only — sealed-stats overlays are
    * O(delta) and recompute per state). Bounded by
    * GraftSession.MaxStatsDrift. */
  @volatile var statsDrift: Int = 0

  /** Hard off-switch for FULLY TEXTUAL compilation (bench/test control
    * runs) — broader than just the cost model since r19: it disables
    * stats computation AND the stats-free plan transforms (rank-gap
    * path orientation, comma reordering of MATCH patterns, and
    * broadcast-probe hints — CypherCompiler.textualOrder), so the
    * session plans patterns exactly as written. With r19's lazy live
    * stats, dropping the sealed stats alone no longer yields a
    * textual-plan session — statsFor would just compute fresh counts. */
  @volatile var statsOff: Boolean = false

  /** CDC change epoch: a MONOTONIC counter identifying the base-frame
    * generation the delta-log is relative to. `cdcBaseRefs` tracks the
    * base frames (by reference identity — the house self-validation
    * pattern) the current epoch was minted against: any re-point of a
    * base the epoch didn't account for bumps the counter lazily at the
    * next CDC touch (GraftSession.cdcEpoch). Collision-free where the
    * old 32-bit identity hashes were not (ADVICE r13), and explicitly
    * carried across an incremental save (whose on-disk delta still
    * holds everything an outstanding cursor hasn't consumed) while
    * full writes / compactions / loads bump it. Persisted in the
    * snapshot manifest so monotonicity survives restarts. */
  @volatile var changeEpoch: Long = 0L
  @volatile var cdcBaseRefs: Option[(AnyRef, AnyRef)] = None

  /** Id-allocator watermarks (nextId, nextRelId) captured when the
    * current change epoch began — db.cdc.earliest mints its cursor at
    * these so a full epoch replay classifies entities created DURING
    * the epoch as `c`, not `u`. None (pre-tracking epochs) reads as
    * the current watermarks: conservative `u` classification, never a
    * dropped event. */
  @volatile var epochStartIds: Option[(Long, Long)] = None

  /** Schema metadata, name → (label, property). Uniqueness
    * constraints are ENFORCED on write (GraftSession); plain indexes
    * are metadata-only — Spark's analog of a secondary index is
    * storage layout (partition/bucket/sort keys), not a runtime
    * structure, so CREATE INDEX records intent and SHOW INDEXES
    * reports it. VECTOR/FULLTEXT indexes additionally back the
    * `db.index.{vector,fulltext}.queryNodes` procedures (the scan +
    * score IS the runtime structure). Indexes carry a third element:
    * the kind (RANGE | TEXT | POINT | VECTOR | FULLTEXT).
    * Transaction shadows never carry entries: enforcement always
    * reads the REAL database's map. */
  val constraints = TrieMap.empty[String, (String, String, String)]
  val indexes = TrieMap.empty[String, (String, String, String)]

  /** DataFrames persisted by mutations whose cached RDDs the current
    * graph lineage still references (e.g. the numbered binding table
    * of MATCH…CREATE). They stay pinned only until the lineage next
    * collapses to a durable snapshot — releasePinned() then frees the
    * executor storage, so mutation-heavy sessions don't grow cache
    * without bound. */
  private val pinned = collection.mutable.Buffer.empty[org.apache.spark.sql.DataFrame]

  def pin(df: org.apache.spark.sql.DataFrame): Unit =
    pinned.synchronized { pinned += df }

  def releasePinned(): Unit = pinned.synchronized {
    pinned.foreach(_.unpersist(blocking = false))
    pinned.clear()
  }

  /** CDC before-image anchors: cursor commit-sequence → (change epoch,
    * the RESOLVED graph at mint). A `db.cdc.query(cursor,
    * withBefore=true)` reads each touched key's before-image straight
    * off the anchored immutable frame — the TRUE at-cursor state, even
    * for keys the latest-wins delta-log has since overwritten. Safe
    * across releasePinned: pinned frames are `.persist()` caches with
    * their (deterministic, checkpoint-rooted) lineage intact, so an
    * anchored frame recomputes rather than dangles. Bounded (≤ 64,
    * oldest evicted); an un-anchored or evicted cursor degrades to
    * the delta-log reconstruction, never an error. */
  val cdcAnchors = new java.util.concurrent.ConcurrentHashMap[java.lang.Long, (Long, PropertyGraph)]()

  def anchorCdc(seq: Long, epoch: Long, g: PropertyGraph): Unit = {
    cdcAnchors.put(seq, (epoch, g))
    while (cdcAnchors.size > 64) {
      val it = cdcAnchors.keySet().iterator()
      var lowest = Long.MaxValue
      while (it.hasNext) lowest = math.min(lowest, it.next())
      cdcAnchors.remove(lowest)
    }
  }

  /** Transfer `other`'s pinned caches to this database WITHOUT
    * unpersisting them — a committing transaction's shadow hands the
    * published lineage's cached frames to the real database, which
    * frees them at its own next lineage collapse. */
  def adoptPinnedFrom(other: GraphDatabase): Unit = {
    val moved = other.pinned.synchronized {
      val s = other.pinned.toList; other.pinned.clear(); s
    }
    pinned.synchronized { pinned ++= moved }
  }

  /** Reserve `n` consecutive ids; returns the first. Long-typed
    * end-to-end — a MATCH over 2³¹+ rows must not truncate the
    * reservation (id collisions would silently corrupt the graph). */
  def allocate(n: Long): Long = nextId.getAndAdd(n)

  /** Relationship ids live in their OWN id space (the reference keeps
    * separate node/relationship id stores): minting an edge never
    * perturbs node numbering, so node ids stay deterministic
    * regardless of how many relationships a statement creates. */
  def allocateRel(n: Long): Long = nextRelId.getAndAdd(n)
  def requireStarted(): Unit =
    if (stopped) throw new IllegalStateException(
      s"database $name is stopped; START DATABASE $name first")
}

/** Multi-database graph catalog (SURVEY.md §1.1 "multiple logical
  * databases per DBMS incl. `system`" — ref DatabaseIO.java:134-143,
  * TestBackupRestore.java:146,163 STOP/START DATABASE).
  *
  * Databases hold an immutable `PropertyGraph` snapshot swapped
  * atomically on mutation (append-log semantics, SURVEY §7.4.1); id
  * allocation is a deterministic per-db counter so t2 hashes are
  * stable across runs.
  */
final class GraphCatalog(spark: SparkSession) {
  private val dbs = TrieMap.empty[String, GraphDatabase]
  createDatabase("neo4j")
  createDatabase("system")

  def createDatabase(name: String): GraphDatabase = {
    val db = new GraphDatabase(name)
    db.graph = PropertyGraph.empty(spark)
    dbs.putIfAbsent(name, db).getOrElse(db)
  }

  def database(name: String): GraphDatabase =
    dbs.getOrElse(name, throw new NoSuchElementException(s"no such database: $name"))

  def listDatabases: Seq[String] = dbs.keys.toSeq.sorted

  def stop(name: String): Unit  = database(name).stopped = true
  def start(name: String): Unit = database(name).stopped = false
  def drop(name: String): Unit  = dbs.remove(name)
}
