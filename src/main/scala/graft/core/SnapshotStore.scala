package graft.core

import java.nio.file.{Files, Paths, Path}
import org.apache.spark.sql.SparkSession

/** Parquet snapshot store — the engine's `/data` persistence analog
  * (SURVEY.md §1.2 "/data volume" row, §2.6 dump/load/backup/restore;
  * ref TestDumpLoad.java:112-122, TestBackupRestore.java:117-163).
  *
  * Layout: one directory per snapshot with `nodes/` + `edges/` parquet
  * and a `manifest.json` carrying the snapshot format version from day
  * one (SURVEY §7.4.6: upgrade-in-place needs versioned snapshots —
  * ref TestUpgrade.java:54-73). Parquet keeps snapshots splittable and
  * schema-carrying at 100 TB; a dump is one distributed write, a load
  * is a lazy distributed read.
  */
object SnapshotStore {

  /** v0: manifest-less bare `nodes/` + `edges/`; v1: + manifest.json;
    * v2: + schema.json (uniqueness constraints + index metadata —
    * before v2 a dump/load round-trip silently dropped constraints);
    * v3: index entries gain a kind (RANGE | TEXT | POINT | VECTOR |
    * FULLTEXT) so vector/fulltext indexes survive dump/load;
    * v4: edges gain a surrogate `eid` column (relationship identity —
    * pre-v4 snapshots get deterministic ids assigned in the separate
    * relationship-id space on migration, recorded as next_rel_id);
    * v5: snapshots MAY carry `nodes_delta/` and/or `edges_delta/`
    * overlays — latest-wins replacement rows by node id / by
    * relationship eid written by INCREMENTAL saves (the delta-log
    * analog of the reference's transaction logs under
    * /data/transactions, docker-entrypoint.sh:521-532): an unchanged
    * base is never rewritten; readers fold base ⟵anti⟶ delta ∪ delta;
    * v6: constraint entries gain a type (UNIQUENESS |
    * NODE_PROPERTY_EXISTENCE | NODE_KEY) so existence constraints
    * survive dump/load — pre-v6 2-element arrays read as the legacy
    * UNIQUENESS, the same tolerant-then-canonicalize migration the
    * index kinds got at v3.
    * Older snapshots upgrade IN PLACE on first read, the reference's
    * store-migration-on-startup behavior (ref TestUpgrade.java:54-73). */
  val FormatVersion = 6

  /** Stats of the PURE base parquet (no overlay), sealed at the full
    * write that produced it: row counts plus the id-allocator
    * watermarks at seal time. The watermarks make incremental-save
    * manifest counts computable from the DELTA ALONE (O(delta), no
    * base scan): every row the base holds has id < nextId (eid <
    * nextRelId), and every id a later mutation mints is >= it — so a
    * live delta row past the watermark is a CREATE (+1), a tombstone
    * under it suppresses a base row (−1), and everything else is a
    * replacement (±0). Carried unchanged through incremental saves;
    * refreshed whenever the base itself rewrites. */
  final case class BaseStats(
      nodeCount: Long,
      edgeCount: Long,
      nextId: Long,
      nextRelId: Long)

  /** `changeEpoch`: the CDC change-epoch id this snapshot's delta-log
    * belongs to — a monotonic per-database counter. An INCREMENTAL
    * save carries the session's epoch through unchanged (outstanding
    * CDC cursors stay valid: the on-disk delta still holds every
    * change they haven't consumed); a full write or a compaction
    * seals a NEW base and bumps it (the delta-log the cursors were
    * reading folded away — they must refuse and restart from
    * db.cdc.earliest). Persisted so the counter stays monotonic
    * across session restarts. */
  final case class Manifest(
      formatVersion: Int,
      database: String,
      nodeCount: Long,
      edgeCount: Long,
      nextId: Long,
      nextRelId: Long,
      base: Option[BaseStats] = None,
      changeEpoch: Long = 0L)

  /** Schema metadata riding with a snapshot: constraints name ->
    * (label, prop, type); indexes name -> (label, prop, kind). */
  final case class SchemaMeta(
      constraints: Map[String, (String, String, String)],
      indexes: Map[String, (String, String, String)])
  object SchemaMeta { val empty: SchemaMeta = SchemaMeta(Map.empty, Map.empty) }

  /** Write a snapshot of the graph (+ id-allocator state) to `dir`.
    *
    * Writes land in a temp sibling first and swap in atomically-ish:
    * the graph being saved may itself lazily read from `dir` (a
    * database loaded from this snapshot and then mutated), and a
    * direct overwrite would delete the write job's own input files
    * mid-read. */
  def write(graph: PropertyGraph, nextId: Long, dir: String, database: String,
      schema: SchemaMeta = SchemaMeta.empty, nextRelId: Long = 0L,
      changeEpoch: Long = 0L): Manifest = {
    val tmp = s"$dir/.tmp-write"
    deleteDir(tmp)
    // nodes hive-partition by LABEL SET and cluster by id within (the
    // label-scan-store analog, r17): `_label_key` = the sorted labels
    // joined with ';' — exact, no row duplication for multi-label
    // nodes — so an unanchored `MATCH (n:L)` prunes to the partition
    // directories whose key contains L (a deterministic predicate on
    // the partition column, evaluated driver-side against the
    // directory listing) instead of scanning every node at 100 TB.
    // Within each label directory rows stay id-range-partitioned and
    // sorted, so id-anchored reads — buffered isin probes, CDC
    // before-image lookups, `MATCH (n) WHERE id(n) = …` — still
    // row-group-prune (r15 verdict #1; file id-ranges are disjoint
    // PER LABEL DIRECTORY now). Readers drop the derived column
    // ([[readNodes]]); an empty node set writes unpartitioned (a
    // partitioned empty write loses the schema).
    locally {
      import org.apache.spark.sql.functions.{col, concat_ws, sort_array}
      // the derived partition column must never shadow a real property:
      // withColumn would silently overwrite it here and readNodes would
      // drop it at load — silent data loss on round-trip. Refuse loudly
      // (ADVICE r17 #3); only programmatic setGraph frames can carry
      // the name (Cypher property tokens come from user identifiers,
      // but SET n.`_label_key` is expressible).
      if (graph.nodes.columns.contains(LabelKeyCol))
        throw new IllegalArgumentException(
          s"node property '$LabelKeyCol' collides with the snapshot's " +
            "derived label-partition column; rename the property before saving")
      val withLk = graph.nodes.withColumn(LabelKeyCol,
        concat_ws(";", sort_array(col("labels"))))
      if (graph.nodes.take(1).isEmpty)
        graph.nodes.write.mode("overwrite").parquet(s"$tmp/nodes")
      else
        withLk.repartitionByRange(col(LabelKeyCol), col("id"))
          .sortWithinPartitions(LabelKeyCol, "id")
          .write.mode("overwrite").partitionBy(LabelKeyCol)
          .parquet(s"$tmp/nodes")
    }
    writeIndexAux(graph.nodes, graph.edges, schema, tmp)
    // seal the BUILD-time index defs next to the projections (see
    // [[readSealedAux]]): incremental saves keep both untouched.
    // Written whenever ANY index exists — even one with no eligible
    // projection — so saveDatabase's "index DDL since the last full
    // write?" check compares against the full def set, not just the
    // projected subset.
    if (schema.indexes.nonEmpty || Files.exists(Paths.get(s"$tmp/index_aux"))) {
      Files.createDirectories(Paths.get(s"$tmp/index_aux"))
      Files.writeString(Paths.get(s"$tmp/index_aux/sealed_schema.json"),
        schemaJson(SchemaMeta(Map.empty, schema.indexes)))
    }
    // edges partition by relType: typed pattern expands prune to the
    // matching partition directories at scale (SURVEY §4 "partition
    // snapshots by label/relType at write"). An empty edge set writes
    // unpartitioned — a partitioned empty write loses the schema.
    if (graph.edges.take(1).isEmpty)
      graph.edges.write.mode("overwrite").parquet(s"$tmp/edges")
    else
      graph.edges.write.mode("overwrite").partitionBy("relType").parquet(s"$tmp/edges")
    // The manifest is staged in the tmp sibling and moved into place
    // LAST — it is the commit point. A crash anywhere mid-swap leaves
    // a manifest-less directory, which read() treats as format v0 and
    // re-synthesizes next_id from the data actually present (max node
    // id + 1) — new data is never paired with a stale manifest's
    // next_id, so recovered databases can never reuse ids.
    val spark = graph.nodes.sparkSession
    // graph-wide cardinality stats ride with the snapshot (stats.json)
    // as the join-ordering cost model's input. Label counts come from
    // the PARTITION COLUMN of the just-written base — a metadata-only
    // aggregate over the (schema-like, bounded) distinct label keys,
    // split driver-side so multi-label nodes count toward each
    // constituent label — and the node count is their sum, so sealing
    // stats costs no extra base scan over the count we already paid.
    val nodesBack = spark.read.parquet(s"$tmp/nodes")
    val (nodeCount, labelCounts) =
      if (nodesBack.columns.contains(LabelKeyCol)) {
        import org.apache.spark.sql.functions.{col, count => scount}
        val keys = nodesBack.groupBy(col(LabelKeyCol).cast("string"))
          .agg(scount(org.apache.spark.sql.functions.lit(1)).as("n")).collect()
          .map(r => (Option(r.getString(0)).getOrElse(""), r.getLong(1)))
        val labels = keys.iterator.flatMap { case (k, n) =>
          k.split(';').iterator.filter(_.nonEmpty).map(_ -> n)
        }.toSeq.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        (keys.iterator.map(_._2).sum, labels)
      } else (nodesBack.count(), Map.empty[String, Long])
    val edgesBack = spark.read.parquet(s"$tmp/edges")
    val (edgeCount, relTypeStats) =
      if (edgesBack.columns.contains("relType") && edgesBack.columns.contains("src")) {
        import org.apache.spark.sql.functions.{approx_count_distinct, col, count => scount, lit,
          max => smax}
        val typed = normalizeRelType(edgesBack)
        val rows = typed.groupBy("relType")
          .agg(scount(lit(1)).as("n"),
            approx_count_distinct(col("src")).as("s"),
            approx_count_distinct(col("dst")).as("d")).collect()
          .map(r => r.getString(0) -> RelTypeStats(r.getLong(1), r.getLong(2), r.getLong(3)))
        // exact per-type degree maxima (the compiler's row bounds): one
        // grouped aggregate over both endpoint columns, tagged by side
        val ends = typed.select(col("relType"), lit(true).as("out"), col("src").as("k"))
          .unionByName(typed.select(col("relType"), lit(false).as("out"), col("dst").as("k")))
        val maxima = ends.groupBy("relType", "out", "k").agg(scount(lit(1)).as("deg"))
          .groupBy("relType", "out").agg(smax("deg")).collect()
          .map(r => (r.getString(0), r.getBoolean(1)) -> r.getLong(2)).toMap
        val sealedTypes = rows.map { case (t, st) =>
          t -> st.copy(maxOut = maxima.get((t, true)), maxIn = maxima.get((t, false)))
        }
        (sealedTypes.iterator.map(_._2.count).sum, sealedTypes.toMap)
      } else (edgesBack.count(), Map.empty[String, RelTypeStats])
    Files.writeString(Paths.get(s"$tmp/stats.json"),
      statsJson(GraphStats(nodeCount, edgeCount, labelCounts, relTypeStats)))
    // a full write seals a fresh pure base: its stats (incl. the
    // allocator watermarks) let every later incremental save compute
    // manifest counts from its delta alone — see [[BaseStats]]
    val m = Manifest(FormatVersion, database, nodeCount, edgeCount, nextId, nextRelId,
      base = Some(BaseStats(nodeCount, edgeCount, nextId, nextRelId)),
      changeEpoch = changeEpoch)
    Files.writeString(Paths.get(s"$tmp/manifest.json"), manifestJson(m))
    Files.writeString(Paths.get(s"$tmp/schema.json"), schemaJson(schema))
    Files.createDirectories(Paths.get(dir))
    Files.deleteIfExists(Paths.get(s"$dir/manifest.json")) // invalidate before touching data
    deleteDir(s"$dir/nodes")
    deleteDir(s"$dir/nodes_delta") // a full write supersedes any overlay
    deleteDir(s"$dir/edges_delta")
    deleteDir(s"$dir/edges")
    deleteDir(s"$dir/index_aux") // stale vs the new base either way
    Files.deleteIfExists(Paths.get(s"$dir/schema.json"))
    Files.deleteIfExists(Paths.get(s"$dir/stats.json"))
    Files.move(Paths.get(s"$tmp/nodes"), Paths.get(s"$dir/nodes"))
    Files.move(Paths.get(s"$tmp/edges"), Paths.get(s"$dir/edges"))
    if (Files.exists(Paths.get(s"$tmp/index_aux")))
      Files.move(Paths.get(s"$tmp/index_aux"), Paths.get(s"$dir/index_aux"))
    Files.move(Paths.get(s"$tmp/stats.json"), Paths.get(s"$dir/stats.json"))
    Files.move(Paths.get(s"$tmp/schema.json"), Paths.get(s"$dir/schema.json"))
    Files.move(Paths.get(s"$tmp/manifest.json"), Paths.get(s"$dir/manifest.json"))
    deleteDir(tmp)
    m
  }

  /** RANGE-index auxiliary projections, staged next to the base at a
    * FULL write: one `index_aux/<name>/` parquet copy per RANGE index
    * — the indexed label's rows with a non-null indexed property,
    * range-partitioned and sorted by that property — so an anchored
    * `MATCH (n:L {p: v})` (and range predicates over p) reads a
    * clustered scan whose pushed filter row-group-prunes to the
    * matching values, the Spark analog of the reference's index-backed
    * lookups (the packaged engine answers exactly this shape from its
    * RANGE indexes after CREATE INDEX — ref TestExtendedConf.java-style
    * init flows run it as the first query). Null-prop rows are
    * excluded like the reference's index entries: no equality or range
    * predicate can match them, and every routed plan re-applies its
    * own predicates, so the projection is never visible semantically —
    * only as a pruned scan. Non-orderable property types (arrays,
    * structs) are skipped: they cannot cluster and Neo4j refuses to
    * RANGE-index them too. Readers that predate the layout ignore the
    * directory; [[writeDelta]] deletes it when a node delta lands
    * (base-only projections would miss delta rows) and the next full
    * write/compaction rebuilds it. */
  /** IVF coarse-quantizer width for VECTOR-index projections: the
    * centroid table must stay driver/broadcast-small (the probe reads
    * it whole), and 64 cells already turn a full-label scan into a
    * probes/64 slice at 100 TB. */
  val IvfCentroids = 64
  /** Cells each vector is assigned to (multi-assignment / spilling):
    * index bytes scale by this factor, recall@probes rises because
    * boundary vectors appear in every nearby probed cell. */
  val IvfAssign = 2
  /** Lloyd iterations for the IVF coarse quantizer at save time —
    * fixed (bounded save cost, deterministic layout); 3 rounds moves
    * seeds from "lowest ids" to actual density centers, which is
    * where the recall for a given probe budget comes from. */
  val IvfLloydIters = 3

  private def writeIndexAux(nodes: org.apache.spark.sql.DataFrame,
      edges: org.apache.spark.sql.DataFrame,
      schema: SchemaMeta, tmp: String): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    def orderable(dt: DataType): Boolean = dt match {
      case _: NumericType | StringType | BooleanType | DateType |
           TimestampType | TimestampNTZType => true
      case _ => false
    }
    def numericArray(dt: DataType): Boolean = dt match {
      case ArrayType(_: NumericType, _) => true
      case _ => false
    }
    schema.indexes.foreach {
      // TEXT indexes share the clustered-projection layout: sorted
      // strings row-group-prune equality AND prefix (STARTS WITH
      // pushes as StringStartsWith, a range over the sort); CONTAINS/
      // ENDS WITH still route — correct (the projection holds every
      // non-null-prop row) — they just scan the projection unpruned.
      // COMPOSITE keys (comma-joined prop list, RANGE only): the
      // projection holds the label's rows with a non-null FIRST key
      // property — any null-excluding anchor on that property routes
      // with the single-prop exactness argument — clustered and sorted
      // by the full key, so a conjunctive anchor on a key PREFIX
      // row-group-prunes deeper than the first property alone.
      case (name, (label, prop, kind @ ("RANGE" | "TEXT")))
          if prop.split(',').forall(nodes.columns.contains) &&
            (if (kind == "TEXT") nodes.schema(prop).dataType == StringType
             else prop.split(',').forall(p => orderable(nodes.schema(p).dataType))) =>
        val props = prop.split(',').toIndexedSeq
        nodes.filter(array_contains(col("labels"), label) && col(props.head).isNotNull)
          .repartitionByRange(props.map(col): _*)
          .sortWithinPartitions(props.map(col): _*)
          .write.mode("overwrite").parquet(s"$tmp/index_aux/$name")
      case (name, (relType, prop, kind @ ("REL_RANGE" | "REL_TEXT")))
          if prop.split(',').forall(edges.columns.contains) &&
            (if (kind == "REL_TEXT") edges.schema(prop).dataType == StringType
             else prop.split(',').forall(p => orderable(edges.schema(p).dataType))) =>
        // edge-side projection: one type's non-null-prop edges,
        // clustered by the indexed property (typed scans already prune
        // by the relType hive partitioning; this adds row-group
        // pruning WITHIN the type for `-[r:T {p: v}]->` anchors)
        val props = prop.split(',').toIndexedSeq
        edges.filter(col("relType") === lit(relType) && col(props.head).isNotNull)
          .repartitionByRange(props.map(col): _*)
          .sortWithinPartitions(props.map(col): _*)
          .write.mode("overwrite").parquet(s"$tmp/index_aux/$name")
      case (name, (label, prop, "VECTOR"))
          if nodes.columns.contains(prop) && numericArray(nodes.schema(prop).dataType) =>
        // IVF projection: `cells/` hive-partitioned by coarse cell (a
        // probe scans probes/IvfCentroids of the label, partition-
        // pruned) + the tiny `centroids/` table the query ranks on the
        // driver. Coarse quantizer: TRAINED — the IvfCentroids
        // lowest-id vectors seed a fixed number of Lloyd iterations
        // (r16 verdict #3: untrained lowest-id centroids leave recall
        // on clustered organic embeddings unquantified and likely
        // poor). Determinism holds end to end: the seed is id-order,
        // assignment ties break to the lowest cell, and the per-dim
        // means accumulate as DECIMAL (exact, associative) before the
        // one cast back to double — a re-save of the same data builds
        // byte-identical centroids regardless of partitioning.
        val V = graft.functions.VectorFunctions
        val base = nodes.filter(array_contains(col("labels"), label) && col(prop).isNotNull)
        // cell = argmax centroid cosine, ties → lowest cell id (the
        // struct sorts by (score, -cell) descending)
        def cellOf(vecCol: org.apache.spark.sql.Column,
            cents: Array[(Int, Seq[Double])]): org.apache.spark.sql.Column = {
          val scoredCells = array(cents.map { case (cid, v) =>
            struct(
              V.cosine(vecCol, array(v.map(lit): _*)).as("s"),
              lit(-cid).as("nc"))
          }.toIndexedSeq: _*)
          -sort_array(scoredCells, asc = false).getItem(0).getField("nc")
        }
        val vecs = base.select(col("id"), col(prop).cast("array<double>").as("_v"))
        var cents = vecs.orderBy("id").limit(IvfCentroids).collect()
          .zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](1)) }
        if (cents.nonEmpty) {
          (1 to IvfLloydIters).foreach { _ =>
            val means = vecs.withColumn("_c", cellOf(col("_v"), cents))
              .select(col("_c"), posexplode(col("_v")).as(Seq("_d", "_x")))
              .groupBy("_c", "_d")
              .agg((sum(col("_x").cast("decimal(30,12)")) /
                count(lit(1))).cast("double").as("_m"))
              .collect()
            val trained = means.groupBy(_.getInt(0)).map { case (c, rows) =>
              (c, rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq)
            }.toArray.sortBy(_._1)
            // an emptied cell simply drops (its id stays retired);
            // never fewer than one centroid since the data is non-empty
            if (trained.nonEmpty) cents = trained
          }
          // MULTI-ASSIGNMENT (r18 verdict #7): each vector lands in its
          // top-IvfAssign cells, not just the argmax — probing p cells
          // then covers ~IvfAssign×p worth of neighborhoods, which is
          // what lifts recall@10 past 0.9 at probes ≤ 16 on a uniform
          // corpus whose true neighbors straddle cell boundaries. The
          // index doubles in bytes (the documented tradeoff; reads stay
          // partition-pruned to the probed cells) and the probe path
          // dedups ids. Training above stays argmax — Lloyd over
          // primary assignment is the standard quantizer.
          val scoredAll = array(cents.map { case (cid, v) =>
            struct(
              V.cosine(col(prop).cast("array<double>"), array(v.map(lit): _*)).as("s"),
              lit(-cid).as("nc"))
          }.toIndexedSeq: _*)
          // `_ivf_primary` (the argmax cell) rides on every copy so the
          // probe can keep exactly ONE copy per vector with a plain
          // filter — `cell == primary OR primary not probed` — instead
          // of a dropDuplicates exchange over the whole probed slice
          // (r19: that per-probe shuffle was the recall row's cost)
          base.withColumn("_ivf_sorted", sort_array(scoredAll, asc = false))
            .withColumn("_ivf_primary", -col("_ivf_sorted").getItem(0).getField("nc"))
            .withColumn("_ivf_a", explode(slice(
              col("_ivf_sorted"), 1, math.min(IvfAssign, cents.length))))
            .withColumn("_ivf_cell", -col("_ivf_a").getField("nc"))
            .drop("_ivf_a", "_ivf_sorted")
            .repartition(col("_ivf_cell"))
            .write.mode("overwrite").partitionBy("_ivf_cell")
            .parquet(s"$tmp/index_aux/$name/cells")
          val spark = nodes.sparkSession
          import spark.implicits._
          cents.toSeq.toDF("cell", "vector").coalesce(1)
            .write.mode("overwrite").parquet(s"$tmp/index_aux/$name/centroids")
          // write-time assignment count persisted with the cells
          // (ADVICE r19): the probe's dedup-as-filter is exact only
          // for ≤ 2 assignments, and it must gate on the count the
          // snapshot was WRITTEN with, not whatever this binary
          // compiles — a later IvfAssign bump reading old cells (or
          // vice versa) would otherwise pass the gate and return
          // duplicate ids
          Files.writeString(Paths.get(s"$tmp/index_aux/$name/ivf_meta.json"),
            s"""{"assign":$IvfAssign}""")
        }
      case _ => ()
    }
  }

  /** Read a snapshot back. Snapshots from older format versions pass
    * through [[migrate]] (upgrade-in-place, ref TestUpgrade.java:54-73);
    * newer-than-engine formats are refused.
    *
    * Format v0 is the manifest-less layout (bare `nodes/` + `edges/`
    * parquet): the manifest is synthesized on load — counts from the
    * data, next id = max node id + 1 — and the snapshot loads like any
    * current one. */
  def read(spark: SparkSession, dir: String): (PropertyGraph, Manifest) = {
    val m = open(spark, dir)
    (graphOf(spark, dir, m), m)
  }

  /** The snapshot's manifest, migrated to the current format (see
    * [[read]]). */
  def open(spark: SparkSession, dir: String): Manifest = {
    import org.apache.spark.sql.functions.col
    val m0 =
      if (Files.exists(Paths.get(s"$dir/manifest.json"))) readManifest(dir)
      else if (Files.exists(Paths.get(s"$dir/nodes"))) {
        // synthesize from the FOLDED views (delta overlays included):
        // a crash between a writeDelta's manifest invalidation and its
        // rewrite must not resurrect node ids / relationship eids the
        // on-disk delta already minted
        val nodes = readNodes(spark, dir)
        val edges = readEdges(spark, dir)
        val edgeCount = edges.count()
        val nextRel =
          if (!edges.columns.contains("eid")) edgeCount
          else math.max(edgeCount, PropertyGraph.maxOf(edges, col("eid")) + 1)
        Manifest(0, dir.split('/').last, nodes.count(), edgeCount,
          PropertyGraph.maxOf(nodes, col("id")) + 1, nextRel)
      } else throw new java.io.FileNotFoundException(s"no snapshot at $dir")
    if (m0.formatVersion > FormatVersion)
      throw new IllegalStateException(
        s"snapshot at $dir has format version ${m0.formatVersion}, " +
          s"but this engine supports at most $FormatVersion")
    if (m0.formatVersion < FormatVersion) migrateInPlace(spark, dir, m0) else m0
  }

  /** The snapshot's frames, delta-logs folded in. The manifest's next
    * ids are the sealed id ceilings: attached, so a session re-pointed
    * at them (setGraph's allocator seeds) costs no scan. */
  def graphOf(spark: SparkSession, dir: String, m: Manifest): PropertyGraph =
    PropertyGraph(readNodes(spark, dir), readEdges(spark, dir),
      knownMaxIds = Some((m.nextId - 1, m.nextRelId - 1)))

  /** The node base's label-set hive-partition column (derived at
    * write, dropped at read — never a property). */
  val LabelKeyCol = "_label_key"

  /** The snapshot's node side with any `nodes_delta/` overlay folded
    * in lazily (one anti join + one union — the base files are read,
    * never rewritten). The derived label-key partition column drops
    * here: only the label-scan route ([[readNodesPrunedByLabel]])
    * reads through it. */
  def readNodes(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val base0 = spark.read.parquet(s"$dir/nodes")
    val base =
      if (base0.columns.contains(LabelKeyCol)) base0.drop(LabelKeyCol) else base0
    readNodesDelta(spark, dir) match {
      case Some(delta) => PropertyGraph.overlayById(base, delta)
      case None        => base
    }
  }

  /** Label-pruned read of the node BASE (no delta fold — the caller
    * owns composition): partition directories whose sorted label set
    * contains `label`, via a deterministic predicate on the partition
    * column (Catalyst evaluates it against the directory listing —
    * zero data files from other labels are ever opened). None when
    * the layout predates label partitioning. */
  def readNodesPrunedByLabel(spark: SparkSession, dir: String,
      label: String): Option[org.apache.spark.sql.DataFrame] =
    readNodesPrunedByLabels(spark, dir, Seq(label))

  /** Label-UNION pruned read (`MATCH (n:A|B)` — r17 verdict #2): ONE
    * scan whose partition predicate keeps directories containing ANY
    * of `labels` — a single pruned read, so a node carrying several of
    * the requested labels (one directory, one row) can never
    * duplicate the way a union of per-label reads would. */
  def readNodesPrunedByLabels(spark: SparkSession, dir: String,
      labels: Seq[String]): Option[org.apache.spark.sql.DataFrame] = {
    import org.apache.spark.sql.functions.{array_contains, col, lit, split}
    // Only identifier-shaped labels route (ADVICE r17 #2): a label
    // containing the separator would fragment in the key split and
    // miss its own rows, and an all-NUMERIC/date-shaped label ('007',
    // '1E3') can be retyped by partition-value inference before the
    // cast back to string ('007' -> 7 -> '7'), silently missing rows.
    // Cypher labels are identifiers; anything else (programmatic
    // setGraph frames) takes the full scan — correct, just unpruned.
    // Extra rows from OTHER fragmented keys are harmless either way:
    // the compiler re-applies the real labels predicate on every
    // routed frame.
    if (labels.isEmpty || !labels.forall(_.matches("[A-Za-z_]\\w*"))) return None
    val base0 = spark.read.parquet(s"$dir/nodes")
    if (!base0.columns.contains(LabelKeyCol)) None
    else {
      // cast defends against partition-column type inference retyping
      // an all-numeric label key (the relType lesson)
      val keyLabels = split(col(LabelKeyCol).cast("string"), ";")
      val pred = labels.map(l => array_contains(keyLabels, lit(l))).reduce(_ || _)
      Some(base0.filter(pred).drop(LabelKeyCol))
    }
  }

  /** The snapshot's edge side with any `edges_delta/` overlay folded
    * in lazily by eid (relType re-normalized on BOTH sides — base and
    * delta hive-partition by relType). */
  def readEdges(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val base = normalizeRelType(spark.read.parquet(s"$dir/edges"))
    readEdgesDelta(spark, dir) match {
      case Some(delta) => PropertyGraph.overlayByKey(base, delta, "eid")
      case None        => base
    }
  }

  /** The snapshot's raw node delta-log, if the dir carries one —
    * tombstones included (CDC feeds read it directly). */
  def readNodesDelta(spark: SparkSession, dir: String): Option[org.apache.spark.sql.DataFrame] =
    if (!Files.exists(Paths.get(s"$dir/nodes_delta"))) None
    else Some(spark.read.parquet(s"$dir/nodes_delta"))

  /** The snapshot's raw edge delta-log, if present — relType
    * re-normalized (the delta hive-partitions by relType like the
    * base, so partition-column inference needs the same re-assert). */
  def readEdgesDelta(spark: SparkSession, dir: String): Option[org.apache.spark.sql.DataFrame] =
    if (!Files.exists(Paths.get(s"$dir/edges_delta"))) None
    else Some(normalizeRelType(spark.read.parquet(s"$dir/edges_delta")))

  /** INCREMENTAL snapshot write (v5): persist only the DELTAS —
    * latest-wins replacement rows by node id (`nodeDelta`) and/or by
    * relationship eid (`edgeDelta`) — merging each into any delta
    * already on disk; the base parquet is untouched on both sides.
    * The manifest (the commit point) rewrites LAST with the folded
    * counts and the current allocator state, same crash discipline as
    * write(). The caller is responsible for provenance: the on-disk
    * bases must be the exact bases the deltas were built against. */
  /** When a merged on-disk delta grows past BOTH bounds — more rows
    * than `CompactMinRows` AND more than `CompactFraction` of its
    * base's sealed row count — [[writeDelta]] folds it into the base
    * once ([[compact]]) instead of rewriting an ever-larger delta
    * every save and making every load pay an ever-larger overlay
    * anti-join. The reference analog is checkpointing + txn-log
    * rotation (ref docker-entrypoint.sh:559 tail-follows the debug
    * log of exactly that loop; Configuration.java:31 sets the txn-log
    * retention knob). The floor keeps small fixtures on the
    * incremental path; the fraction keeps the 100 TB story honest —
    * a delta at half the base has amortized its one fold. */
  val CompactMinRows = 100000L
  val CompactFraction = 0.5

  /** INCREMENTAL snapshot write (v5) — persist only the deltas; the
    * base parquet is untouched AND unread on both sides:
    * manifest counts come from [[BaseStats]] watermark arithmetic
    * over the merged delta alone, so the whole save is O(delta).
    * Falls back to one overlay recount only for a legacy manifest
    * with no recorded base stats — and then seals stats so every
    * following save is O(delta) again. */
  def writeDelta(spark: SparkSession,
      nodeDelta: Option[org.apache.spark.sql.DataFrame],
      edgeDelta: Option[org.apache.spark.sql.DataFrame],
      dir: String, database: String, nextId: Long, nextRelId: Long,
      schema: SchemaMeta = SchemaMeta.empty,
      compactMinRows: Long = CompactMinRows,
      compactFraction: Double = CompactFraction,
      changeEpoch: Long = 0L): Manifest = {
    import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum, when}
    val old = readManifest(dir)
    // stage each side's merged delta in a tmp sibling first; the
    // on-disk swap happens after the manifest invalidates. The edge
    // delta hive-partitions by relType like the base (same empty-set
    // guard): a typed expand over a delta-bearing snapshot prunes the
    // DELTA side too, instead of scanning the whole log per hop.
    def stage(delta: org.apache.spark.sql.DataFrame, name: String,
        key: String): String = {
      val partitioned = name == "edges_delta" && delta.columns.contains("relType")
      val merged =
        if (!Files.exists(Paths.get(s"$dir/$name"))) delta
        else {
          val disk0 = spark.read.parquet(s"$dir/$name")
          val disk = if (partitioned) normalizeRelType(disk0) else disk0
          PropertyGraph.appendByName(
            disk.join(delta.select(col(key).as("_dk")),
              disk(key) === col("_dk"), "left_anti"),
            delta)
        }
      val tmp = s"$dir/.tmp-$name"
      deleteDir(tmp)
      if (partitioned && merged.take(1).nonEmpty)
        merged.write.mode("overwrite").partitionBy("relType").parquet(tmp)
      else merged.write.mode("overwrite").parquet(tmp)
      tmp
    }
    val nodeTmp = nodeDelta.map(stage(_, "nodes_delta", "id"))
    val edgeTmp = edgeDelta.map(stage(_, "edges_delta", "eid"))
    // resolved count per side, WITHOUT touching the base: one small
    // aggregate over the just-staged merged delta. A live row minted
    // past the base's sealed watermark is a create; a tombstone under
    // it suppresses a base row; everything else replaces in place.
    // (creates always carry fresh allocator ids ≥ the watermark, and
    // MATCH-rooted mutations can only target rows that exist — so the
    // id split IS the base-membership split, no anti-join needed.)
    def deltaStats(tmp: String, key: String, watermark: Long): (Long, Long, Long) = {
      val d = spark.read.parquet(tmp)
      val tomb =
        if (d.columns.contains(PropertyGraph.TombstoneCol))
          coalesce(col(PropertyGraph.TombstoneCol), lit(false))
        else lit(false)
      val r = d.agg(
        sum(when(!tomb && col(key) >= lit(watermark), 1L).otherwise(0L)),
        sum(when(tomb && col(key) < lit(watermark), 1L).otherwise(0L)),
        count(lit(1))).collect()(0)
      def l(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
      (l(0), l(1), l(2))
    }
    var deltaRowsMax = 0L
    val (nodeCount, edgeCount, baseStats) = old.base match {
      case Some(bs) =>
        val nc = nodeTmp.map { t =>
          val (creates, tombs, rows) = deltaStats(t, "id", bs.nextId)
          deltaRowsMax = math.max(deltaRowsMax, rows)
          bs.nodeCount + creates - tombs
        }.getOrElse(old.nodeCount)
        val ec = edgeTmp.map { t =>
          val (creates, tombs, rows) = deltaStats(t, "eid", bs.nextRelId)
          deltaRowsMax = math.max(deltaRowsMax, rows)
          bs.edgeCount + creates - tombs
        }.getOrElse(old.edgeCount)
        (nc, ec, bs)
      case None =>
        // legacy dir (pre-base-stats manifest): one overlay recount,
        // then seal pure-base stats — max(id)+1 is a valid watermark
        // (every delta create was minted past the base's own ceiling)
        // — so the NEXT save never scans the base again
        import org.apache.spark.sql.functions.col
        val baseN = spark.read.parquet(s"$dir/nodes")
        val baseE = normalizeRelType(spark.read.parquet(s"$dir/edges"))
        val bs = BaseStats(baseN.count(), baseE.count(),
          PropertyGraph.maxOf(baseN, col("id")) + 1,
          if (baseE.columns.contains("eid")) PropertyGraph.maxOf(baseE, col("eid")) + 1 else 0L)
        val nc = nodeTmp.map(t => PropertyGraph.overlayById(
          baseN, spark.read.parquet(t)).count()).getOrElse(old.nodeCount)
        val ec = edgeTmp.map(t => PropertyGraph.overlayByKey(
          baseE, spark.read.parquet(t), "eid").count()).getOrElse(old.edgeCount)
        (nc, ec, bs)
    }
    Files.deleteIfExists(Paths.get(s"$dir/manifest.json")) // invalidate first
    // ALL index projections SURVIVE a delta landing (r16 verdict #1):
    // a routed lookup composes `projection ⟵overlay⟶ delta-log` — the
    // same latest-wins anti-join + union the base read itself uses —
    // so anchored lookups stay index-backed on an ingest-heavy live
    // graph instead of degrading to full base scans after the first
    // 30-row commit. RANGE/TEXT/REL_* compose by key overlay; the IVF
    // probe composes as `pruned cells ⟵anti touched ids⟶ ∪
    // brute-forced delta slice` (GraftSession queryNodes — exact
    // relative to the quantizer, O(delta) extra work). Build-time
    // defs stay sealed in index_aux/sealed_schema.json (untouched
    // here), so DDL churn between saves can never route through a
    // mismatched projection.
    nodeTmp.foreach { t =>
      deleteDir(s"$dir/nodes_delta"); Files.move(Paths.get(t), Paths.get(s"$dir/nodes_delta"))
    }
    edgeTmp.foreach { t =>
      deleteDir(s"$dir/edges_delta"); Files.move(Paths.get(t), Paths.get(s"$dir/edges_delta"))
    }
    Files.writeString(Paths.get(s"$dir/schema.json"), schemaJson(schema))
    val m = Manifest(FormatVersion, database, nodeCount, edgeCount, nextId, nextRelId,
      base = Some(baseStats), changeEpoch = changeEpoch)
    Files.writeString(Paths.get(s"$dir/manifest.json"), manifestJson(m))
    // compaction policy: fold an outsized delta into the base ONCE,
    // after the incremental manifest committed (crash-safe either way
    // — compact() is a whole-snapshot write with its own staging)
    val baseRows = math.max(baseStats.nodeCount, baseStats.edgeCount)
    if (deltaRowsMax > compactMinRows && deltaRowsMax > compactFraction * baseRows)
      compact(spark, dir)
    else m
  }

  /** Fold any on-disk delta overlays into the base — ONE full rewrite
    * that clears `nodes_delta`/`edges_delta` and seals fresh
    * [[BaseStats]], resetting the incremental-save clock (`graft-admin
    * compact`, and [[writeDelta]]'s size trigger). A no-op (manifest
    * returned as is) when no overlay exists. */
  def compact(spark: SparkSession, dir: String): Manifest = {
    val old = readManifest(dir)
    if (!Files.exists(Paths.get(s"$dir/nodes_delta")) &&
      !Files.exists(Paths.get(s"$dir/edges_delta"))) return old
    // folding the delta-log into the base starts a NEW change epoch:
    // outstanding CDC cursors lose their log and must refuse
    write(PropertyGraph(readNodes(spark, dir), readEdges(spark, dir)),
      old.nextId, dir, old.database, readSchema(dir), old.nextRelId,
      changeEpoch = old.changeEpoch + 1)
  }

  /** Snapshots store edges hive-partitioned by relType, and partition
    * -column type inference can retype an all-numeric relType to INT
    * (and an empty-string relType reads back as null) — diverging from
    * edgeBaseSchema's non-null STRING relType. Re-assert the contract
    * on every read-back; a cheap projection, no shuffle. */
  private[graft] def normalizeRelType(edges: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    import org.apache.spark.sql.types.StringType
    if (!edges.columns.contains("relType")) edges
    else if (edges.schema("relType").dataType == StringType &&
      !edges.schema("relType").nullable) edges
    else edges.withColumn("relType",
      coalesce(col("relType").cast(StringType), lit("")))
  }

  /** Upgrade an older-format snapshot directory to the current layout,
    * chaining one step per version so each migration stays a small
    * local diff (the reference upgrades 3.5→4.4→5.x the same way,
    * ref TestUpgrade.java:54-73). Each step ends by rewriting the
    * manifest at its target version — the commit point — so a crash
    * mid-upgrade re-runs only the remaining idempotent steps. */
  private def migrateInPlace(spark: SparkSession, dir: String, m: Manifest): Manifest = {
    var cur = m
    while (cur.formatVersion < FormatVersion) {
      cur.formatVersion match {
        case 0 => // v0→v1: materialize the synthesized manifest
          ()
        case 1 => // v1→v2: snapshots gain schema.json (none recorded)
          if (!Files.exists(Paths.get(s"$dir/schema.json")))
            Files.writeString(Paths.get(s"$dir/schema.json"),
              schemaJson(SchemaMeta.empty))
        case 2 => // v2→v3: index entries gain a kind (legacy = RANGE).
          // readSchema tolerates 2-element arrays, so rewriting the
          // file through schemaJson canonicalizes it to 3 elements.
          Files.writeString(Paths.get(s"$dir/schema.json"),
            schemaJson(readSchema(dir)))
        case 3 => // v3→v4: edges gain surrogate eids — this step
          // rewrites BASE data, so any sealed base stats are stale:
          // drop them; the next incremental save re-seals with one
          // recount. (Schema-only steps keep the stats — a v5→v6
          // upgrade must not cost the next save an O(base) scan.)
          cur = cur.copy(base = None)
          migrateV3EdgeIds(spark, dir, cur) match {
            case Some(rel) => cur = cur.copy(nextRelId = rel)
            case None      => ()
          }
        case 4 => // v4→v5: nodes_delta/edges_delta are OPTIONAL —
          // absence means an all-in-base snapshot, so nothing rewrites
          ()
        case 5 => // v5→v6: constraint entries gain a type (legacy =
          // UNIQUENESS). readSchema tolerates 2-element arrays, so
          // rewriting the file canonicalizes them — same idiom as
          // the v2→v3 index-kind step.
          Files.writeString(Paths.get(s"$dir/schema.json"),
            schemaJson(readSchema(dir)))
        case v => throw new IllegalStateException(
          s"no migration from snapshot format $v at $dir")
      }
      cur = cur.copy(formatVersion = cur.formatVersion + 1)
      Files.writeString(Paths.get(s"$dir/manifest.json"), manifestJson(cur))
    }
    cur
  }

  /** The v3→v4 edge-eid rewrite, factored out of [[migrateInPlace]]:
    * deterministic distributed numbering (range-partitioned total
    * order on the full row, zipWithIndex per partition — no one-task
    * global sort) from BASE 0 of the fresh relationship-id space —
    * matching readManifest's pre-v4 default of next_rel_id =
    * edge_count, so a crash between the edge swap and the manifest
    * bump re-runs against consistent numbers. Idempotent: an edge set
    * already carrying eid (that crash window) is left as is, but
    * next_rel_id is recomputed from the data (max eid + 1) rather
    * than trusted from the stale pre-v4 default — a historical
    * snapshot migrated by an older engine that numbered from
    * edge_count would otherwise mint colliding eids. The rewrite
    * stages in a temp sibling and swaps, same discipline as write().
    * Returns the migrated next_rel_id. */
  private def migrateV3EdgeIds(spark: SparkSession, dir: String,
      cur: Manifest): Option[Long] = {
    val e = normalizeRelType(spark.read.parquet(s"$dir/edges"))
    if (!e.columns.contains("eid")) {
      import org.apache.spark.sql.functions.col
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      val keyCols = Seq("src", "dst", "relType").map(col)
      val sorted = e.repartitionByRange(keyCols: _*)
        .sortWithinPartitions(keyCols: _*)
      val rnSchema = StructType(sorted.schema.fields :+
        StructField("eid", LongType, nullable = false))
      val withEid = spark.createDataFrame(
        sorted.rdd.zipWithIndex.map { case (r, i) =>
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i) }, rnSchema)
      val tmp = s"$dir/.tmp-migrate-edges"
      deleteDir(tmp)
      if (withEid.take(1).isEmpty) withEid.write.mode("overwrite").parquet(tmp)
      else withEid.write.mode("overwrite").partitionBy("relType").parquet(tmp)
      deleteDir(s"$dir/edges")
      Files.move(Paths.get(tmp), Paths.get(s"$dir/edges"))
      Some(cur.edgeCount)
    } else {
      import org.apache.spark.sql.functions.{max => smax}
      val maxEid = e.agg(smax("eid")).collect().headOption
        .flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long])).getOrElse(-1L)
      Some(math.max(cur.nextRelId, maxEid + 1))
    }
  }

  /** Read the schema metadata of a (current-format) snapshot. Missing
    * file reads as empty — read() has already migrated by the time
    * callers ask. */
  def readSchema(dir: String): SchemaMeta = {
    val path = Paths.get(s"$dir/schema.json")
    if (!Files.exists(path)) return SchemaMeta.empty
    parseSchemaText(Files.readString(path))
  }

  /** The index defs the on-disk `index_aux/` projections were BUILT
    * from — snapshot provenance, staged by the full write that built
    * them and deliberately NOT rewritten by incremental saves (which
    * keep the composable projections but rewrite schema.json): routing
    * validity compares the LIVE index def against this BUILD-time def,
    * so a DROP + re-CREATE under a reused name between saves can never
    * route through a projection built for a different (label, prop). */
  def readSealedAux(dir: String): Map[String, (String, String, String)] = {
    val path = Paths.get(s"$dir/index_aux/sealed_schema.json")
    if (!Files.exists(path)) Map.empty
    else parseSchemaText(Files.readString(path)).indexes
  }

  private def parseSchemaText(text: String): SchemaMeta = {
    def sectionBody(name: String): String = {
      val start = text.indexOf("\"" + name + "\"")
      if (start < 0) return ""
      val end = text.indexOf('}', start)
      text.substring(start, if (end < 0) text.length else end)
    }
    // index arrays are [label, prop, kind] from v3, constraint arrays
    // [label, prop, type] from v6; a 2-element array (pre-migration
    // file) reads as the section's legacy default
    def triples(name: String, default: String): Map[String, (String, String, String)] =
      """"([^"]+)"\s*:\s*\[\s*"([^"]*)"\s*,\s*"([^"]*)"\s*(?:,\s*"([^"]*)"\s*)?\]""".r
        .findAllMatchIn(sectionBody(name))
        .map(m => m.group(1) ->
          (m.group(2), m.group(3), Option(m.group(4)).getOrElse(default))).toMap
    SchemaMeta(triples("constraints", "UNIQUENESS"), triples("indexes", "RANGE"))
  }

  /** The one manifest serializer — every writer goes through it so
    * readManifest round-trips Manifest exactly (SnapshotAnchor.intact
    * compares by equality). `base_*` fields appear only when pure-base
    * stats are sealed; older engines ignore the extra keys. */
  private def manifestJson(m: Manifest): String = {
    val baseFields = m.base.map { bs =>
      s""", "base_node_count": ${bs.nodeCount}, "base_edge_count": ${bs.edgeCount}""" +
        s""", "base_next_id": ${bs.nextId}, "base_next_rel_id": ${bs.nextRelId}"""
    }.getOrElse("")
    s"""{"format_version": ${m.formatVersion}, "database": "${m.database}", """ +
      s""""node_count": ${m.nodeCount}, "edge_count": ${m.edgeCount}, """ +
      s""""next_id": ${m.nextId}, "next_rel_id": ${m.nextRelId}, """ +
      s""""change_epoch": ${m.changeEpoch}$baseFields}"""
  }

  private def statsJson(s: GraphStats): String = {
    // names that would break the (regex-parsed) JSON — quotes,
    // backslashes, control chars; backtick identifiers make them
    // user-reachable — are DROPPED from the sealed stats rather than
    // corrupting a durable artifact: stats are an optimizer estimate,
    // and an absent label simply reads as count 0 (never wrong rows)
    // braces and brackets are also dropped: readStats' section scan
    // cuts at the first '}', so a label named "a}b" would silently
    // truncate the section and zero every later entry
    def safe(n: String): Boolean = !n.exists(c =>
      c == '"' || c == '\\' || c < ' ' || c == '{' || c == '}' || c == '[' || c == ']')
    val labels = s.labels.toSeq.filter(e => safe(e._1)).sortBy(_._1)
      .map { case (l, n) => s""""$l": $n""" }.mkString("{", ", ", "}")
    val types = s.relTypes.toSeq.filter(e => safe(e._1)).sortBy(_._1)
      .map { case (t, r) =>
        // degree maxima ride as a 4th/5th number only when both are known
        val maxima = (for (o <- r.maxOut; i <- r.maxIn) yield s", $o, $i").getOrElse("")
        s""""$t": [${r.count}, ${r.srcCount}, ${r.dstCount}$maxima]""" }
      .mkString("{", ", ", "}")
    s"""{"node_count": ${s.nodeCount}, "edge_count": ${s.edgeCount}, """ +
      s""""labels": $labels, "rel_types": $types}"""
  }

  /** Read the graph-cardinality stats sealed with a snapshot — None
    * when the dir predates stats.json (join ordering then simply
    * stays textual; stats are an optimizer input, never required). */
  def readStats(dir: String): Option[GraphStats] = {
    val path = Paths.get(s"$dir/stats.json")
    if (!Files.exists(path)) return None
    val text = Files.readString(path)
    def long(name: String): Long =
      s""""$name"\\s*:\\s*([-0-9]+)""".r.findFirstMatchIn(text)
        .map(_.group(1).toLong).getOrElse(0L)
    // section body = between the '{' that follows the key and the
    // next '}' — the key itself stays outside, so a label literally
    // named "labels" still parses
    def section(name: String): String = {
      val key = text.indexOf("\"" + name + "\"")
      if (key < 0) return ""
      val start = text.indexOf('{', key)
      if (start < 0) return ""
      val end = text.indexOf('}', start)
      text.substring(start + 1, if (end < 0) text.length else end)
    }
    val labels = """"([^"]+)"\s*:\s*([0-9]+)""".r
      .findAllMatchIn(section("labels"))
      .map(m => m.group(1) -> m.group(2).toLong).toMap
    // [count, srcCount, dstCount] or, since the degree maxima, [..., maxOut,
    // maxIn]; a 3-number entry (older snapshots) reads as unknown maxima
    val types = """"([^"]+)"\s*:\s*\[\s*([0-9]+)\s*,\s*([0-9]+)\s*,\s*([0-9]+)\s*(?:,\s*([0-9]+)\s*,\s*([0-9]+)\s*)?\]""".r
      .findAllMatchIn(section("rel_types"))
      .map(m => m.group(1) ->
        RelTypeStats(m.group(2).toLong, m.group(3).toLong, m.group(4).toLong,
          Option(m.group(5)).map(_.toLong), Option(m.group(6)).map(_.toLong))).toMap
    Some(GraphStats(long("node_count"), long("edge_count"), labels, types))
  }

  private def schemaJson(s: SchemaMeta): String = {
    def sec(m: Map[String, (String, String, String)]): String =
      m.toSeq.sortBy(_._1).map { case (n, (l, p, k)) =>
        s""""$n": ["$l", "$p", "$k"]""" }.mkString("{", ", ", "}")
    s"""{"constraints": ${sec(s.constraints)}, "indexes": ${sec(s.indexes)}}"""
  }

  def exists(dir: String): Boolean =
    Files.exists(Paths.get(s"$dir/manifest.json")) ||
      Files.exists(Paths.get(s"$dir/nodes"))

  def readManifest(dir: String): Manifest = {
    val path = Paths.get(s"$dir/manifest.json")
    if (!Files.exists(path))
      throw new java.io.FileNotFoundException(s"no snapshot manifest at $dir")
    val text = Files.readString(path)
    def field(name: String): String =
      s""""$name"\\s*:\\s*("([^"]*)"|[-0-9]+)""".r.findFirstMatchIn(text)
        .map(m => Option(m.group(2)).getOrElse(m.group(1)))
        .getOrElse(throw new IllegalStateException(s"manifest at $dir missing $name"))
    // next_rel_id appears from v4; an older manifest defaults to its
    // edge count — the v3→v4 migration numbers eids 0..edgeCount-1,
    // so edgeCount is exactly the next free relationship id
    def optField(name: String, default: Long): Long =
      s""""$name"\\s*:\\s*([-0-9]+)""".r.findFirstMatchIn(text)
        .map(_.group(1).toLong).getOrElse(default)
    val edgeCount = field("edge_count").toLong
    // base stats appear together or not at all (one serializer writes
    // them) — presence of the count field gates the whole block
    val base =
      s""""base_node_count"\\s*:\\s*([-0-9]+)""".r.findFirstMatchIn(text).map { _ =>
        BaseStats(optField("base_node_count", 0L), optField("base_edge_count", 0L),
          optField("base_next_id", 0L), optField("base_next_rel_id", 0L))
      }
    Manifest(field("format_version").toInt, field("database"),
      field("node_count").toLong, edgeCount, field("next_id").toLong,
      optField("next_rel_id", edgeCount), base,
      changeEpoch = optField("change_epoch", 0L))
  }

  /** Recursive copy used by dump/load/backup/restore verbs (a snapshot
    * directory is a self-contained artifact). */
  def copyDir(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val dst = Paths.get(to)
    Files.walk(src).forEach { p =>
      val target = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else {
        Files.createDirectories(target.getParent)
        Files.copy(p, target, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
  }

  def deleteDir(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
  }
}
