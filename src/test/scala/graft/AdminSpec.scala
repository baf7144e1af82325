package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core.StatementMetrics
import graft.tools.GraftAdmin

/** Admin data-lifecycle behaviors (SURVEY.md §2.6): dump -> load
  * round-trip into a fresh session with identical data (ref
  * TestDumpLoad.java:88-135), online backup -> restore (ref
  * TestBackupRestore.java:117-163), offline-only dump gating, and the
  * admin entrypoint's refusals (neo4j-admin/docker-entrypoint.sh:49-74).
  */
class AdminSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def dogsSession(): GraftSession = {
    val s = new GraftSession(spark)
    s.cypher("CREATE (arne:dog {name:'Arne'})-[:SNIFFS]->(bosse:dog {name:'Bosse'})")
    s
  }

  private def verifyDogs(s: GraftSession): Unit = {
    val res = s.cypher("MATCH (a:dog)-[:SNIFFS]->(b:dog) RETURN a.name AS name")
    assert(res.collect().map(_.getString(0)).toSeq == Seq("Arne"))
  }

  test("dump -> load round-trip preserves the graph (TestDumpLoad shouldDumpAndLoad)") {
    val data1 = tmp("graft-data1")
    val data2 = tmp("graft-data2")
    val backups = tmp("graft-backups")

    // populate + flush, like the server writing /data before stopping
    dogsSession().saveDatabase(data1)

    assert(GraftAdmin.run(Seq("database", "dump", "neo4j", s"--to-path=$backups"), data1) == 0)
    assert(Files.exists(java.nio.file.Paths.get(s"$backups/neo4j.dump/manifest.json")),
      "dump file not created")

    assert(GraftAdmin.run(Seq("database", "load", "neo4j", s"--from-path=$backups"), data2) == 0)

    val fresh = new GraftSession(spark)
    fresh.loadDatabase(data2)
    verifyDogs(fresh)
    // id allocator restored: new nodes don't collide with loaded ones
    fresh.cypher("CREATE (c:dog {name:'Solo'})")
    assert(fresh.graph().nodes.select("id").distinct().count() == 3)
  }

  test("stats.json: full write seals label/relType counts; delta overlays track them") {
    // r17 verdict #1's substrate: the join-ordering cost model reads
    // per-label node counts and per-relType (count, srcCount, dstCount)
    // sealed at the full write, carried through incremental saves, and
    // refreshed by compaction.
    val data = tmp("graft-stats")
    val s = new GraftSession(spark)
    s.cypher("UNWIND range(0, 99) AS x CREATE (:SA {k: x})")
    s.cypher("UNWIND range(0, 9) AS x CREATE (:SB {k: x})")
    s.cypher("CREATE (:SA:SB {k: 500})") // multi-label: counts toward both
    s.cypher("UNWIND $rows AS row MATCH (a:SA {k: row.a}), (b:SB {k: row.b}) " +
      "MERGE (a)-[:ST]->(b)",
      Map("rows" -> (0 until 20).map(i => Map("a" -> i.toLong, "b" -> (i % 10).toLong))))
    s.saveDatabase(data)
    val dir = s"$data/databases/neo4j"
    val st = graft.core.SnapshotStore.readStats(dir).get
    assert(st.nodeCount == 111L && st.edgeCount == 20L, st.toString)
    assert(st.labels == Map("SA" -> 101L, "SB" -> 11L), st.labels.toString)
    val t = st.relTypes("ST")
    assert(t.count == 20L, t.toString)
    // approx distincts on 20 exact-small values are exact
    assert(t.srcCount == 20L && t.dstCount == 10L, t.toString)
    // exact degree maxima: every SA has one ST edge, each SB k<10 two
    assert(t.maxOut.contains(1L) && t.maxIn.contains(2L), t.toString)
    // incremental save: base stats carry through (the overlay is the
    // session's job, not the file's)
    s.cypher("UNWIND range(100, 119) AS x CREATE (:SB {k: x})")
    s.cypher("MATCH (a:SA {k: 50}), (b:SB {k: 0}) MERGE (a)-[:ST]->(b)")
    s.saveDatabase(data)
    assert(Files.exists(java.nio.file.Paths.get(s"$dir/nodes_delta")))
    assert(graft.core.SnapshotStore.readStats(dir).get.labels("SB") == 11L)
    val carried = graft.core.SnapshotStore.readStats(dir).get.relTypes("ST")
    assert(carried.maxOut.contains(1L) && carried.maxIn.contains(2L), carried.toString)
    // compaction refreshes the sealed counts from the folded base
    graft.core.SnapshotStore.compact(spark, dir)
    assert(graft.core.SnapshotStore.readStats(dir).get.labels("SB") == 31L)
    val refreshed = graft.core.SnapshotStore.readStats(dir).get.relTypes("ST")
    assert(refreshed.count == 21L && refreshed.maxOut.contains(1L) &&
      refreshed.maxIn.contains(3L), refreshed.toString)
    // a fresh load of a delta-BEARING snapshot folds the disk delta
    // into the session's stats eagerly (readNodes folds the data, so
    // statsFor must see the folded counts too) — exercised via a new
    // delta on the compacted base
    s.loadDatabase(data)
    s.cypher("UNWIND range(200, 204) AS x CREATE (:SC {k: x})")
    s.saveDatabase(data) // incremental again
    val fresh = new GraftSession(spark)
    fresh.loadDatabase(data)
    // the sealed file still has no SC…
    assert(!graft.core.SnapshotStore.readStats(dir).get.labels.contains("SC"))
    // …but the loaded session's plans already anchor on it: a 1-hop
    // pattern from the 5-row SC side would reverse — proven indirectly
    // by correctness of a mixed query (the direct plan pin lives in
    // PlanSpec; here we pin that stats presence never breaks results)
    assert(fresh.cypher("MATCH (n:SC) RETURN count(n) AS n")
      .collect().head.getLong(0) == 5L)
    // a label whose name would break the regex-parsed JSON (quotes —
    // reachable via backtick identifiers) is DROPPED from the sealed
    // stats, never written as malformed JSON (review r18)
    val s2 = new GraftSession(spark)
    s2.cypher("CREATE (:`A\"B` {k: 1})")
    s2.cypher("CREATE (:Plain {k: 2})")
    val data2 = tmp("graft-stats-esc")
    s2.saveDatabase(data2)
    val st2 = graft.core.SnapshotStore.readStats(s"$data2/databases/neo4j").get
    assert(st2.labels.get("Plain").contains(1L), st2.labels.toString)
    assert(!st2.labels.keys.exists(_.contains("\"")), st2.labels.toString)
    assert(st2.nodeCount == 2L)
    // a 3-number rel_types entry (written before the degree maxima)
    // still parses, with the maxima unknown
    val legacy = tmp("graft-stats-legacy")
    Files.writeString(java.nio.file.Paths.get(s"$legacy/stats.json"),
      """{"node_count": 3, "edge_count": 2, "labels": {"L": 3}, "rel_types": {"R": [2, 2, 1]}}""")
    val lt = graft.core.SnapshotStore.readStats(legacy).get.relTypes("R")
    assert(lt == graft.core.RelTypeStats(2L, 2L, 1L, None, None), lt.toString)
  }

  test("a node property named _label_key refuses the save (derived-column collision)") {
    // ADVICE r17 #3: withColumn would silently overwrite the property
    // at write and readNodes would drop it at load — data loss with no
    // refusal. Only programmatic frames can carry the name.
    import org.apache.spark.sql.functions._
    val s = new GraftSession(spark)
    val nodes = spark.range(3).select(col("id"),
      array(lit("LK")).as("labels"), lit("x").as("_label_key"))
    s.setGraph(graft.core.PropertyGraph(nodes,
      graft.core.PropertyGraph.empty(spark).edges))
    val e = intercept[IllegalArgumentException] { s.saveDatabase(tmp("graft-lkc")) }
    assert(e.getMessage.contains("_label_key"), e.getMessage)
  }

  test("non-identifier labels never route through the partition key (type-inference trap)") {
    // ADVICE r17 #2: partition-value inference can retype an
    // all-numeric label key ('007' -> 7 -> '7') so the split/contains
    // match misses the label's own rows. Such labels (setGraph-only;
    // Cypher labels are identifiers) take the full scan — correct,
    // just unpruned.
    import org.apache.spark.sql.functions._
    val s = new GraftSession(spark)
    val nodes = spark.range(6).select(col("id"),
      when(col("id") < 4, array(lit("007"))).otherwise(array(lit("Real")))
        .as("labels"), col("id").as("k"))
    s.setGraph(graft.core.PropertyGraph(nodes,
      graft.core.PropertyGraph.empty(spark).edges))
    val data = tmp("graft-numlbl")
    s.saveDatabase(data)
    val fresh = new GraftSession(spark)
    fresh.loadDatabase(data)
    assert(graft.core.SnapshotStore.readNodesPrunedByLabels(
      spark, s"$data/databases/neo4j", Seq("007")).isEmpty,
      "numeric-shaped label wrongly offered a pruned read")
    // the unpruned read keeps every row of the numeric-shaped label
    assert(fresh.graph().nodes
      .filter(array_contains(col("labels"), "007")).count() == 4L)
    assert(fresh.cypher("MATCH (n:Real) RETURN count(n) AS n")
      .collect().head.getLong(0) == 2L)
  }

  test("an EMPTY database saves and loads (id-clustered write tolerates zero rows)") {
    // the node base now range-clusters by id at write; zero-row and
    // fresh-database saves must keep working (the shuffle sees no data)
    val data = tmp("graft-empty")
    val s = new GraftSession(spark)
    s.cypher("CREATE DATABASE nulldb")
    s.cypher("USE nulldb CREATE INDEX empty_idx FOR (n:ghost) ON (n.p)")
    s.saveDatabase(data, "nulldb")
    val s2 = new GraftSession(spark)
    s2.loadDatabase(data, "nulldb")
    assert(s2.cypher("USE nulldb MATCH (n) RETURN count(n) AS c")
      .collect().head.getLong(0) == 0L)
    assert(s2.cypher("SHOW INDEXES", Map.empty[String, Any], "nulldb")
      .collect().exists(_.getString(0) == "empty_idx"))
  }

  test("snapshot commit point is the manifest: a mid-swap crash never reuses ids") {
    val data = tmp("graft-crash")
    val s = dogsSession()
    s.saveDatabase(data)
    s.cypher("CREATE (c:dog {name:'Solo'})")
    s.saveDatabase(data)
    // Simulate a crash after the data swap but before the manifest move
    // (the commit point): the directory has new data, no manifest.
    Files.delete(java.nio.file.Paths.get(s"$data/databases/neo4j/manifest.json"))
    val fresh = new GraftSession(spark)
    fresh.loadDatabase(data)
    // v0 synthesis derives next_id from the data actually present, so a
    // new CREATE can never collide with an existing id
    fresh.cypher("CREATE (d:dog {name:'Rex'})")
    assert(fresh.graph().nodes.count() == 4)
    assert(fresh.graph().nodes.select("id").distinct().count() == 4)
  }

  test("edge snapshots partition by relType (typed-expand partition pruning)") {
    val data = tmp("graft-data")
    dogsSession().saveDatabase(data)
    assert(Files.isDirectory(
      java.nio.file.Paths.get(s"$data/databases/neo4j/edges/relType=SNIFFS")))
    val s = new GraftSession(spark)
    s.loadDatabase(data)
    verifyDogs(s)
  }

  test("load refuses to overwrite without --overwrite-destination") {
    val data = tmp("graft-data")
    val backups = tmp("graft-backups")
    dogsSession().saveDatabase(data)
    assert(GraftAdmin.run(Seq("database", "dump", "neo4j", s"--to-path=$backups"), data) == 0)
    var errs = List.empty[String]
    assert(GraftAdmin.run(Seq("database", "load", "neo4j", s"--from-path=$backups"),
      data, err = e => errs ::= e) == 1)
    assert(errs.exists(_.contains("already exists")))
    assert(GraftAdmin.run(Seq("database", "load", "neo4j", s"--from-path=$backups",
      "--overwrite-destination=true"), data) == 0)
  }

  test("online backup -> restore round-trip (TestBackupRestore)") {
    val backups = tmp("graft-backups")
    val s = dogsSession()
    s.backupDatabase(backups) // db still started: online backup is allowed
    s.cypher("CREATE (x:dog {name:'Extra'})")
    assert(s.graph().nodes.count() == 3)

    // restore refuses while started, and without overwrite consent
    intercept[IllegalStateException] { s.restoreDatabase(backups) }
    s.cypher("STOP DATABASE neo4j")
    intercept[IllegalStateException] { s.restoreDatabase(backups) }
    s.restoreDatabase(backups, overwriteDestination = true)
    s.cypher("START DATABASE neo4j")
    verifyDogs(s)
    assert(s.graph().nodes.count() == 2)
  }

  test("offline dump refuses while the database is started (C14 gating)") {
    val s = dogsSession()
    val backups = tmp("graft-backups")
    intercept[IllegalStateException] { s.dumpDatabase(backups) }
    s.cypher("STOP DATABASE neo4j")
    s.dumpDatabase(backups)
    assert(graft.core.SnapshotStore.exists(s"$backups/neo4j.dump"))
  }

  test("snapshot manifest carries the format version; newer formats refused") {
    val dir = tmp("graft-snap")
    val s = dogsSession()
    s.saveDatabase(dir)
    val m = graft.core.SnapshotStore.readManifest(s"$dir/databases/neo4j")
    assert(m.formatVersion == graft.core.SnapshotStore.FormatVersion)
    assert(m.nodeCount == 2 && m.edgeCount == 1)
    // simulate a snapshot from a future engine
    val path = java.nio.file.Paths.get(s"$dir/databases/neo4j/manifest.json")
    Files.writeString(path, Files.readString(path).replace(
      s""""format_version": ${graft.core.SnapshotStore.FormatVersion}""",
      "\"format_version\": 99"))
    intercept[IllegalStateException] {
      new GraftSession(spark).loadDatabase(dir)
    }
  }

  test("server-side report dumps config, procedures, db stats (TestAdminReport.java:59-127)") {
    val s = GraftSession.fromEnv(spark, Map("NEO4J_server_memory_pagecache_size" -> "42M"))
    s.cypher("CREATE (a:dog {name:'Arne'})")
    val dir = tmp("graft-report")
    s.report(dir)
    val p = java.nio.file.Paths.get(dir)
    assert(Files.readString(p.resolve("neo4j.conf")).contains("server.memory.pagecache.size=42M"))
    assert(Files.readString(p.resolve("procedures.txt")).contains("dbms.listConfig"))
    val dbs = Files.readString(p.resolve("databases.txt"))
    assert(dbs.contains("neo4j\tnodes=1\tedges=0\tstate=online"))
    assert(Files.readString(p.resolve("jvm.txt")).contains("spark.version="))
  }

  test("read scaling: N sessions serve reads over one shared snapshot (SURVEY §2.9)") {
    // the engine's read-replica analog: replicas are independent
    // sessions over the same immutable parquet snapshot — no
    // coordination needed, reads scale with session count
    val data = tmp("graft-data")
    dogsSession().saveDatabase(data)
    val replicas = (1 to 3).map { _ =>
      val r = new GraftSession(spark)
      r.loadDatabase(data)
      r
    }
    replicas.foreach(verifyDogs)
    // a replica's local write does not affect the others (snapshot isolation)
    replicas.head.cypher("CREATE (x:dog {name:'Local'})")
    assert(replicas.head.graph().nodes.count() == 3)
    assert(replicas(1).graph().nodes.count() == 2)
  }

  test("upgrade-in-place: a v0 manifest-less snapshot loads with a synthesized manifest (TestUpgrade analog)") {
    val data = tmp("graft-data")
    dogsSession().saveDatabase(data)
    // strip the manifest: the old (v0) layout was bare parquet dirs
    Files.delete(java.nio.file.Paths.get(s"$data/databases/neo4j/manifest.json"))
    val s = new GraftSession(spark)
    s.loadDatabase(data)
    verifyDogs(s)
    // id allocator recovered from the data: new ids don't collide
    s.cypher("CREATE (c:dog {name:'Solo'})")
    assert(s.graph().nodes.select("id").distinct().count() == 3)
    // re-saving writes the CURRENT format, and the session keeps
    // serving reads from the compacted snapshot
    s.saveDatabase(data)
    assert(graft.core.SnapshotStore.readManifest(s"$data/databases/neo4j").formatVersion
      == graft.core.SnapshotStore.FormatVersion)
    verifyDogs(s)
    assert(s.graph().nodes.count() == 3)
  }

  test("format migration chain: v0 and v1 snapshots upgrade IN PLACE to the current layout") {
    import graft.core.SnapshotStore
    val data = tmp("graft-data")
    dogsSession().saveDatabase(data)
    val snap = s"$data/databases/neo4j"
    // rewind the on-disk snapshot to v1: pre-schema.json manifest
    Files.delete(java.nio.file.Paths.get(s"$snap/schema.json"))
    val mpath = java.nio.file.Paths.get(s"$snap/manifest.json")
    Files.writeString(mpath, Files.readString(mpath).replace(
      s""""format_version": ${SnapshotStore.FormatVersion}""",
      "\"format_version\": 1"))
    assert(SnapshotStore.readManifest(snap).formatVersion == 1)
    // first read migrates the DIRECTORY, not just the in-memory view
    val s1 = new GraftSession(spark)
    s1.loadDatabase(data)
    verifyDogs(s1)
    assert(SnapshotStore.readManifest(snap).formatVersion == SnapshotStore.FormatVersion)
    assert(Files.exists(java.nio.file.Paths.get(s"$snap/schema.json")))
    // rewind all the way to v0 (bare parquet): the chain runs 0→1→2
    Files.delete(mpath)
    Files.delete(java.nio.file.Paths.get(s"$snap/schema.json"))
    val s0 = new GraftSession(spark)
    s0.loadDatabase(data)
    verifyDogs(s0)
    val m = SnapshotStore.readManifest(snap)
    assert(m.formatVersion == SnapshotStore.FormatVersion)
    assert(m.nodeCount == 2 && m.edgeCount == 1)
    assert(Files.exists(java.nio.file.Paths.get(s"$snap/schema.json")))
  }

  test("v3 -> v4: an eid-less snapshot gains surrogate relationship ids on first read") {
    import graft.core.SnapshotStore
    val data = tmp("graft-data")
    val s = dogsSession()
    s.cypher("MATCH (a:dog {name:'Arne'}), (b:dog {name:'Bosse'}) CREATE (a)-[:KNOWS]->(b)")
    s.saveDatabase(data)
    val snap = s"$data/databases/neo4j"
    // rewind to the v3 layout: strip the eid column from the edge
    // parquet and the v4 fields from the manifest
    val eidless = spark.read.parquet(s"$snap/edges").drop("eid")
    val stage = s"$snap/.edges-v3"
    eidless.write.mode("overwrite").partitionBy("relType").parquet(stage)
    def rmdir(d: String): Unit = {
      val p0 = java.nio.file.Paths.get(d)
      if (Files.exists(p0))
        Files.walk(p0).sorted(java.util.Comparator.reverseOrder())
          .forEach(x => Files.delete(x))
    }
    rmdir(s"$snap/edges")
    Files.move(java.nio.file.Paths.get(stage), java.nio.file.Paths.get(s"$snap/edges"))
    val mpath = java.nio.file.Paths.get(s"$snap/manifest.json")
    Files.writeString(mpath, Files.readString(mpath)
      .replace(s""""format_version": ${SnapshotStore.FormatVersion}""",
        "\"format_version\": 3")
      .replaceAll(""", "next_rel_id": [0-9]+""", ""))
    assert(SnapshotStore.readManifest(snap).formatVersion == 3)
    // first read runs the v3->v4 step: deterministic eids assigned,
    // manifest records next_rel_id past them
    val fresh = new GraftSession(spark)
    fresh.loadDatabase(data)
    val m = SnapshotStore.readManifest(snap)
    assert(m.formatVersion == SnapshotStore.FormatVersion)
    assert(m.edgeCount == 2 && m.nextRelId >= m.edgeCount)
    val eids = fresh.graph().edges.select("eid").collect().map(_.getLong(0)).toSeq
    assert(eids.size == 2 && eids.distinct.size == 2)
    // and new relationships allocate PAST the migrated block
    fresh.cypher("MATCH (a:dog {name:'Arne'}), (b:dog {name:'Bosse'}) CREATE (a)-[:ALSO]->(b)")
    val all = fresh.graph().edges.select("eid").collect().map(_.getLong(0)).toSeq
    assert(all.size == 3 && all.distinct.size == 3)
  }

  test("v3 -> v4 crash recovery: pre-numbered eids advance next_rel_id past max(eid)") {
    import graft.core.SnapshotStore
    // Simulates the crash window: the edge swap landed (edges already
    // carry eids — here a legacy HIGH block [edgeCount, 2*edgeCount),
    // as an older engine numbered them) but the manifest bump didn't.
    // The rerun's skip branch must recompute next_rel_id from max(eid)
    // + 1, not trust the pre-v4 edgeCount default — otherwise future
    // CREATEs mint colliding eids and SET/DELETE by eid targets the
    // wrong relationships.
    val data = tmp("graft-data")
    val s = dogsSession()
    s.cypher("MATCH (a:dog {name:'Arne'}), (b:dog {name:'Bosse'}) CREATE (a)-[:KNOWS]->(b)")
    s.saveDatabase(data)
    val snap = s"$data/databases/neo4j"
    val edgeCount = spark.read.parquet(s"$snap/edges").count()
    // rewrite eids into the legacy high block, then rewind the manifest to v3
    import org.apache.spark.sql.functions.{col, lit, row_number}
    import org.apache.spark.sql.expressions.Window
    val shifted = spark.read.parquet(s"$snap/edges").drop("eid")
      .withColumn("eid",
        row_number().over(Window.orderBy(col("src"), col("dst"))).cast("long")
          + lit(edgeCount - 1))
    val stage = s"$snap/.edges-crash"
    shifted.write.mode("overwrite").partitionBy("relType").parquet(stage)
    def rmdir(d: String): Unit = {
      val p0 = java.nio.file.Paths.get(d)
      if (Files.exists(p0))
        Files.walk(p0).sorted(java.util.Comparator.reverseOrder())
          .forEach(x => Files.delete(x))
    }
    rmdir(s"$snap/edges")
    Files.move(java.nio.file.Paths.get(stage), java.nio.file.Paths.get(s"$snap/edges"))
    val mpath = java.nio.file.Paths.get(s"$snap/manifest.json")
    Files.writeString(mpath, Files.readString(mpath)
      .replace(s""""format_version": ${SnapshotStore.FormatVersion}""",
        "\"format_version\": 3")
      .replaceAll(""", "next_rel_id": [0-9]+""", ""))
    val fresh = new GraftSession(spark)
    fresh.loadDatabase(data)
    val m = SnapshotStore.readManifest(snap)
    assert(m.formatVersion == SnapshotStore.FormatVersion)
    // the high block is [edgeCount, 2*edgeCount) -> next must clear it
    assert(m.nextRelId >= 2 * edgeCount,
      s"next_rel_id ${m.nextRelId} collides with migrated eid block")
    fresh.cypher("MATCH (a:dog {name:'Arne'}), (b:dog {name:'Bosse'}) CREATE (a)-[:ALSO]->(b)")
    val all = fresh.graph().edges.select("eid").collect().map(_.getLong(0)).toSeq
    assert(all.size == 3 && all.distinct.size == 3, s"eid collision: $all")
  }

  test("incremental save (v5): a delta-bearing database writes nodes_delta, never the base") {
    import graft.core.SnapshotStore
    val data = tmp("graft-incr")
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:acct {k: 1, bal: 10})")
    s.cypher("CREATE (a:acct {k: 2, bal: 20})")
    s.saveDatabase(data) // full write; provenance recorded
    val snap = s"$data/databases/neo4j"
    def baseFiles() = {
      val d = new java.io.File(s"$snap/nodes")
      d.listFiles().map(f => f.getName -> f.lastModified()).toMap
    }
    val before = baseFiles()
    // a delta-shaped burst (batched upsert): update k=1, create k=3
    s.cypher(
      """UNWIND [1, 3] AS x MERGE (a:acct {k: x})
        |ON MATCH SET a.bal = 99 ON CREATE SET a.bal = 0""".stripMargin)
    s.saveDatabase(data) // INCREMENTAL: only nodes_delta lands
    assert(baseFiles() == before, "incremental save rewrote the base parquet")
    assert(Files.exists(java.nio.file.Paths.get(s"$snap/nodes_delta")))
    val m1 = SnapshotStore.readManifest(snap)
    assert(m1.formatVersion == SnapshotStore.FormatVersion && m1.nodeCount == 3)
    // a fresh session folds the overlay on load
    val fresh = new GraftSession(spark)
    fresh.loadDatabase(data)
    val got = fresh.cypher("MATCH (a:acct) RETURN a.k AS k, a.bal AS bal ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 99L), (2L, 20L), (3L, 0L)))
    // a SECOND incremental burst merges into the existing delta
    s.cypher(
      """UNWIND [2, 3] AS x MERGE (a:acct {k: x})
        |ON MATCH SET a.bal = a.bal + 1 ON CREATE SET a.bal = 0""".stripMargin)
    s.saveDatabase(data)
    assert(baseFiles() == before, "second incremental save rewrote the base")
    val fresh2 = new GraftSession(spark)
    fresh2.loadDatabase(data)
    val got2 = fresh2.cypher("MATCH (a:acct) RETURN a.k AS k, a.bal AS bal ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got2 == Seq((1L, 99L), (2L, 21L), (3L, 1L)))
    // dump (dir copy) round-trips the delta-bearing snapshot byte-stably
    val copy = tmp("graft-incr-copy")
    SnapshotStore.copyDir(snap, s"$copy/databases/neo4j")
    val fresh3 = new GraftSession(spark)
    fresh3.loadDatabase(copy)
    assert(fresh3.cypher("MATCH (a:acct) RETURN a.k AS k, a.bal AS bal ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == got2)
    // plain MATCH…SET is ALSO delta-shaped now (r12): the save stays
    // incremental and the base still never rewrites
    s.cypher("MATCH (a:acct {k: 2}) SET a.bal = 500")
    s.saveDatabase(data)
    assert(baseFiles() == before, "delta-shaped SET must not rewrite the base")
    assert(Files.exists(java.nio.file.Paths.get(s"$snap/nodes_delta")))
    val fresh4 = new GraftSession(spark)
    fresh4.loadDatabase(data)
    assert(fresh4.cypher("MATCH (a:acct {k: 2}) RETURN a.bal AS b")
      .collect().head.getLong(0) == 500L)
    // DELETE is delta-shaped too (r12 tombstones): the save stays
    // incremental, the base untouched, and a fresh load excludes the
    // tombstoned row
    s.cypher("MATCH (a:acct {k: 3}) DETACH DELETE a")
    s.saveDatabase(data)
    assert(baseFiles() == before, "tombstone delete must not rewrite the base")
    assert(Files.exists(java.nio.file.Paths.get(s"$snap/nodes_delta")))
    val fresh5 = new GraftSession(spark)
    fresh5.loadDatabase(data)
    assert(fresh5.cypher("MATCH (a:acct) RETURN count(a) AS n")
      .collect().head.getLong(0) == 2L)
    assert(fresh5.cypher("MATCH (a:acct {k: 2}) RETURN a.bal AS b")
      .collect().head.getLong(0) == 500L)
    // plain CREATE is delta-shaped too (r17): created rows fold
    // through the delta-log, so the save STAYS incremental — the base
    // is still never rewritten for a one-row commit
    s.cypher("CREATE (a:acct {k: 9, bal: 1})")
    s.saveDatabase(data)
    assert(baseFiles() == before, "plain CREATE must not rewrite the base")
    assert(Files.exists(java.nio.file.Paths.get(s"$snap/nodes_delta")),
      "plain CREATE must ride the persisted delta-log")
    val fresh6 = new GraftSession(spark)
    fresh6.loadDatabase(data)
    assert(fresh6.cypher("MATCH (a:acct) RETURN count(a) AS n")
      .collect().head.getLong(0) == 3L)
    assert(fresh6.cypher("MATCH (a:acct {k: 3}) RETURN count(a) AS n")
      .collect().head.getLong(0) == 0L, "tombstoned row resurrected by the save")
    // a compaction folds the whole overlay away; the data reads the same
    SnapshotStore.compact(spark, snap)
    assert(!Files.exists(java.nio.file.Paths.get(s"$snap/nodes_delta")),
      "compaction must clear the overlay")
    val fresh7 = new GraftSession(spark)
    fresh7.loadDatabase(data)
    assert(fresh7.cypher("MATCH (a:acct) RETURN count(a) AS n")
      .collect().head.getLong(0) == 3L)
  }

  test("incremental save (v5): an edge-delta-bearing database writes edges_delta, never the edge base") {
    import graft.core.SnapshotStore
    val data = tmp("graft-incr-edge")
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:ste {k: 1})")
    s.cypher("CREATE (a:ste {k: 2})")
    s.cypher("CREATE (a:ste {k: 3})")
    s.saveDatabase(data) // full write; provenance recorded
    val snap = s"$data/databases/neo4j"
    def filesUnder(sub: String): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$snap/$sub")).map(f => f.getPath -> f.lastModified()).toMap
    }
    val edgesBefore = filesUnder("edges")
    val nodesBefore = filesUnder("nodes")
    // an edge-delta-shaped burst: MERGE creates a relationship
    s.cypher(
      """MATCH (a:ste {k: 1}), (b:ste {k: 2})
        |MERGE (a)-[x:EW]->(b) ON CREATE SET x.f = 1""".stripMargin)
    s.saveDatabase(data) // INCREMENTAL: only edges_delta lands
    assert(filesUnder("edges") == edgesBefore, "incremental save rewrote the edge base")
    assert(filesUnder("nodes") == nodesBefore, "edge-only burst rewrote the node base")
    assert(Files.exists(java.nio.file.Paths.get(s"$snap/edges_delta")))
    val m1 = SnapshotStore.readManifest(snap)
    assert(m1.formatVersion == SnapshotStore.FormatVersion && m1.edgeCount == 1)
    // a fresh session folds the overlay on load
    val fresh = new GraftSession(spark)
    fresh.loadDatabase(data)
    assert(fresh.cypher("MATCH (:ste)-[r:EW]->(:ste) RETURN r.f AS f")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    // a second burst (ON MATCH) merges latest-wins into the same delta
    s.cypher(
      """MATCH (a:ste {k: 1}), (b:ste {k: 2})
        |MERGE (a)-[x:EW]->(b) ON MATCH SET x.m = 2""".stripMargin)
    s.saveDatabase(data)
    assert(filesUnder("edges") == edgesBefore, "second incremental save rewrote the edge base")
    val fresh2 = new GraftSession(spark)
    fresh2.loadDatabase(data)
    assert(fresh2.cypher("MATCH (:ste)-[r:EW]->(:ste) RETURN r.f AS f, r.m AS m")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    // a MIXED burst (node upsert + edge merge) persists BOTH deltas,
    // still never a base
    s.cypher("UNWIND [3] AS x MERGE (a:ste {k: x}) ON MATCH SET a.tag = 7")
    s.cypher(
      """MATCH (a:ste {k: 2}), (b:ste {k: 3})
        |MERGE (a)-[x:EW]->(b) ON CREATE SET x.f = 9""".stripMargin)
    s.saveDatabase(data)
    assert(filesUnder("edges") == edgesBefore && filesUnder("nodes") == nodesBefore,
      "mixed delta burst must not rewrite either base")
    assert(Files.exists(java.nio.file.Paths.get(s"$snap/nodes_delta")))
    val m2 = SnapshotStore.readManifest(snap)
    assert(m2.edgeCount == 2 && m2.nodeCount == 3)
    val fresh3 = new GraftSession(spark)
    fresh3.loadDatabase(data)
    assert(fresh3.cypher(
      """MATCH (a:ste)-[r:EW]->(b:ste)
        |RETURN a.k AS ak, b.k AS bk, r.f AS f ORDER BY ak""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 2L, 1L), (2L, 3L, 9L)))
    assert(fresh3.cypher("MATCH (a:ste {k: 3}) RETURN a.tag AS t")
      .collect().head.getLong(0) == 7L)
  }

  test("edges_delta hive-partitions by relType: typed reads prune the delta side") {
    import graft.core.SnapshotStore
    import org.apache.spark.sql.functions.col
    val data = tmp("graft-delta-part")
    val s = new GraftSession(spark)
    s.cypher("UNWIND range(1, 402) AS x CREATE (:dpn {k: x})")
    s.saveDatabase(data) // full write seals the (edge-empty) base
    val snap = s"$data/databases/neo4j"
    // delta burst: 400 EA edges + 10 EB edges, all delta-shaped
    val ea = (1L to 400L).map(x => Map("a" -> x, "b" -> (x + 1)))
    s.cypher(
      """UNWIND $batch AS row MATCH (a:dpn {k: row.a}), (b:dpn {k: row.b})
        |MERGE (a)-[x:EA]->(b)""".stripMargin, Map("batch" -> ea))
    val eb = (1L to 10L).map(x => Map("a" -> x, "b" -> (x + 2)))
    s.cypher(
      """UNWIND $batch AS row MATCH (a:dpn {k: row.a}), (b:dpn {k: row.b})
        |MERGE (a)-[x:EB]->(b)""".stripMargin, Map("batch" -> eb))
    s.saveDatabase(data) // INCREMENTAL: edges_delta lands partitioned
    assert(Files.exists(java.nio.file.Paths.get(s"$snap/edges_delta/relType=EA")),
      "edges_delta is not hive-partitioned by relType")
    assert(Files.exists(java.nio.file.Paths.get(s"$snap/edges_delta/relType=EB")))
    // a typed scan of the RAW delta reads only the matching partition:
    // 10 EB records, never the 400 EA ones
    val (rawCount, raw) = StatementMetrics.measure(spark)(spark.read.parquet(s"$snap/edges_delta")
      .filter(col("relType") === "EB").count())
    assert(rawCount == 10L)
    // the real read path: folded snapshot edges, typed filter —
    // the delta side prunes too (the anti-join key projection
    // still reads every delta eid, but never the EA payload scan)
    val (foldCount, fold) = StatementMetrics.measure(spark)(SnapshotStore.readEdges(spark, snap)
      .filter(col("relType") === "EB").count())
    val (rawRead, foldRead) = (raw.inputRecords, fold.inputRecords)
    assert(foldCount == 10L)
    assert(rawRead < 100L, s"typed raw delta scan read $rawRead records — no pruning")
    assert(foldRead < 600L, s"typed folded read $foldRead records — delta side unpruned")
  }

  test("v2 -> v3: legacy 2-element index entries migrate to kinded RANGE entries") {
    import graft.core.SnapshotStore
    val data = tmp("graft-data")
    val s = dogsSession()
    s.cypher("CREATE INDEX legacy_idx FOR (d:dog) ON (d.name)")
    s.saveDatabase(data)
    val snap = s"$data/databases/neo4j"
    // rewind to the v2 layout: strip the kind from the index array
    val spath = java.nio.file.Paths.get(s"$snap/schema.json")
    Files.writeString(spath, Files.readString(spath)
      .replace("""["dog", "name", "RANGE"]""", """["dog", "name"]"""))
    val mpath = java.nio.file.Paths.get(s"$snap/manifest.json")
    Files.writeString(mpath, Files.readString(mpath).replace(
      s""""format_version": ${SnapshotStore.FormatVersion}""",
      "\"format_version\": 2"))
    val fresh = new GraftSession(spark)
    fresh.loadDatabase(data)
    assert(SnapshotStore.readManifest(snap).formatVersion == SnapshotStore.FormatVersion)
    assert(Files.readString(spath).contains("""["dog", "name", "RANGE"]"""))
    val shown = fresh.cypher("SHOW INDEXES").collect()
    val row = shown.find(_.getString(0) == "legacy_idx").get
    assert(row.getString(row.fieldIndex("type")) == "RANGE")
  }

  test("vector + fulltext index metadata survives dump/load with its kind") {
    val data = tmp("graft-data")
    val s = dogsSession()
    s.cypher("CREATE VECTOR INDEX dog_vec FOR (d:dog) ON d.embedding")
    s.cypher("CREATE FULLTEXT INDEX dog_txt FOR (d:dog) ON EACH [d.name]")
    s.saveDatabase(data)
    val fresh = new GraftSession(spark)
    fresh.loadDatabase(data)
    val shown = fresh.cypher("SHOW INDEXES").collect()
      .map(r => r.getString(0) -> r.getString(r.fieldIndex("type"))).toMap
    assert(shown("dog_vec") == "VECTOR")
    assert(shown("dog_txt") == "FULLTEXT")
  }

  test("uniqueness constraints survive a save -> load round-trip (schema.json)") {
    val data = tmp("graft-data")
    val s = dogsSession()
    s.cypher("CREATE CONSTRAINT uniq_snap FOR (d:dog) REQUIRE d.name IS UNIQUE")
    // a COMPOSITE index's comma-joined key round-trips in the same
    // (label, prop, kind) schema tuple — no format bump needed, the
    // on-disk schema.json shape is unchanged (r16 verdict #5)
    s.cypher("CREATE INDEX dog_comp FOR (d:dog) ON (d.name, d.age)")
    s.saveDatabase(data)
    val fresh = new GraftSession(spark)
    fresh.loadDatabase(data)
    val cons = fresh.cypher("SHOW CONSTRAINTS").collect()
    assert(cons.exists(_.getString(cons.head.fieldIndex("name")) == "uniq_snap"))
    val idx = fresh.cypher("SHOW INDEXES YIELD name, properties").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(idx.get("dog_comp").contains("name,age"),
      s"composite key lost in round-trip: ${idx.get("dog_comp")}")
    // and it ENFORCES: a duplicate name is refused post-load
    intercept[Exception] {
      fresh.cypher("CREATE (d:dog {name:'Arne'})")
    }
  }

  test("existence constraints round-trip; legacy 2-element schema arrays migrate (v5→v6)") {
    val data = tmp("graft-data")
    val s = dogsSession()
    s.cypher("CREATE CONSTRAINT uniq_v6 FOR (d:dog) REQUIRE d.name IS UNIQUE")
    s.cypher("CREATE CONSTRAINT exist_v6 FOR (d:dog) REQUIRE d.name IS NOT NULL")
    s.saveDatabase(data)
    val snap = s"$data/databases/neo4j"
    // simulate a v5-era snapshot: strip ONE constraint's type (the
    // legacy 2-element array shape) and roll the manifest back; the
    // first read must migrate in place and default it to UNIQUENESS
    val schemaPath = java.nio.file.Paths.get(s"$snap/schema.json")
    java.nio.file.Files.writeString(schemaPath,
      java.nio.file.Files.readString(schemaPath)
        .replaceFirst("""\"uniq_v6\": \["dog", "name", "UNIQUENESS"\]""",
          """"uniq_v6": ["dog", "name"]"""))
    val manPath = java.nio.file.Paths.get(s"$snap/manifest.json")
    java.nio.file.Files.writeString(manPath,
      java.nio.file.Files.readString(manPath)
        .replace(s""""format_version": ${graft.core.SnapshotStore.FormatVersion}""",
          "\"format_version\": 5"))
    val fresh = new GraftSession(spark)
    fresh.loadDatabase(data)
    val shown = fresh.cypher("SHOW CONSTRAINTS").collect()
      .map(r => r.getString(0) -> r.getString(r.fieldIndex("type"))).toMap
    assert(shown("uniq_v6") == "UNIQUENESS")
    assert(shown("exist_v6") == "NODE_PROPERTY_EXISTENCE")
    val m = graft.core.SnapshotStore.readManifest(snap)
    assert(m.formatVersion == graft.core.SnapshotStore.FormatVersion)
    // the schema-only migration kept the sealed base stats: later
    // incremental saves stay O(delta) with no recount
    assert(m.base.isDefined)
    // enforcement post-migration: existence refuses a nameless dog
    intercept[Exception] { fresh.cypher("CREATE (:dog {age: 1})") }
  }

  test("incremental save is O(delta) end to end: a 30-row save reads NO base rows") {
    import graft.core.SnapshotStore
    val data = tmp("graft-odelta")
    val s = new GraftSession(spark)
    // a base big enough that any accidental scan of it dwarfs the
    // delta-side reads the save legitimately performs
    s.cypher("UNWIND range(1, 5000) AS x CREATE (a:acct {k: x, bal: x})")
    s.saveDatabase(data) // full write seals base stats
    val snap = s"$data/databases/neo4j"
    assert(SnapshotStore.readManifest(snap).base.exists(_.nodeCount == 5000L))
    // a 30-row delta burst: update 10 existing, create 20 fresh
    s.cypher(
      """UNWIND range(4991, 5020) AS x MERGE (a:acct {k: x})
        |ON MATCH SET a.bal = 0 ON CREATE SET a.bal = -1""".stripMargin)
    // count every record any Spark task reads while the save runs —
    // a base recount (5000 rows) or an allocator max-scan would blow
    // straight through the bound; the delta write + its stats
    // aggregate touch only O(delta) rows
    val read = StatementMetrics.measure(spark)(s.saveDatabase(data))._2.inputRecords
    assert(Files.exists(java.nio.file.Paths.get(s"$snap/nodes_delta")))
    assert(read < 1000L,
      s"incremental save read $read records — it scanned the base")
    // and the arithmetic counts match a genuine recount
    val m = SnapshotStore.readManifest(snap)
    assert(m.nodeCount == 5020L, s"arithmetic count ${m.nodeCount} != 5020")
    assert(SnapshotStore.readNodes(spark, snap).count() == 5020L)
    // tombstones subtract: delete 5 base rows + 2 delta-minted rows
    s.cypher("MATCH (a:acct) WHERE a.k >= 4996 AND a.k <= 5002 DETACH DELETE a")
    s.saveDatabase(data)
    val m2 = SnapshotStore.readManifest(snap)
    assert(m2.nodeCount == 5013L, s"post-delete count ${m2.nodeCount} != 5013")
    assert(SnapshotStore.readNodes(spark, snap).count() == 5013L)
  }

  test("a re-pointed database saves in full: setGraph, restore or a table rewrite never deltas against the stale base") {
    // load → re-point (setGraph, STOP/restore/START, or a whole-table
    // rewrite that compaction then materializes) → MERGE → save into
    // the same dir must not write a delta against the old on-disk
    // base: the re-pointed rows would vanish on reload, and a restored
    // allocator would re-mint a base node's id
    import graft.core.{PropertyGraph, SnapshotStore}
    def rows(s: GraftSession): Seq[String] = {
      val n = s.graph().nodes
      n.select(n.columns.sorted.map(org.apache.spark.sql.functions.col): _*)
        .collect().map(_.toString).toSeq.sorted
    }
    def check(rePoint: GraftSession => Unit): Unit = {
      val data = tmp("graft-stalebase")
      val s = new GraftSession(spark)
      s.cypher("UNWIND $rows AS row CREATE (:A {k: row.k, t: row.t})",
        Map("rows" -> (1 to 5).map(x => Map("k" -> x.toLong, "t" -> x.toString))))
      s.saveDatabase(data)
      s.loadDatabase(data)
      rePoint(s)
      s.cypher("MERGE (n:B {k: 200})")
      s.cypher("MATCH (n) RETURN count(n)").collect() // a read compacts the lineage
      val live = rows(s)
      s.saveDatabase(data)
      assert(rows(s) == live, "the save re-pointed the session at a different graph")
      val fresh = new GraftSession(spark)
      fresh.loadDatabase(data)
      assert(rows(fresh) == live, "the reloaded graph differs from the saved one")
      SnapshotStore.deleteDir(data)
    }
    def bSession(): GraftSession = {
      val b = new GraftSession(spark)
      b.cypher("CREATE (:B {k: 100})")
      b
    }
    check(s => s.setGraph(PropertyGraph(bSession().graph().nodes.localCheckpoint(),
      bSession().graph().edges)))
    check { s =>
      val backups = tmp("graft-stalebase-bk")
      bSession().backupDatabase(backups)
      s.cypher("STOP DATABASE neo4j")
      s.restoreDatabase(backups, overwriteDestination = true)
      s.cypher("START DATABASE neo4j")
    }
    // a SET that retypes a column rewrites the whole node table (no
    // delta), and the MERGE's overlay then sits on that rewrite
    check(s => s.cypher("MATCH (n:A {k: 1}) SET n.t = 7"))
  }

  test("loadDatabase of a full snapshot reads no rows: the manifest seeds both id allocators") {
    val data = tmp("graft-loadseed")
    val s = new GraftSession(spark)
    s.cypher("CREATE (:P {k: 1})-[:R]->(:P {k: 2})")
    s.saveDatabase(data)
    val fresh = new GraftSession(spark)
    val m = StatementMetrics.measure(spark)(fresh.loadDatabase(data))._2
    assert(m.inputRecords == 0L, m.line)
    assert(!m.jobs.exists(_.callSite.contains("collect")),
      "an allocator max scan ran:\n" + m.jobs.map(_.callSite).mkString("\n"))
    // the seeds are the manifest's: new ids never collide
    fresh.cypher("CREATE (:P {k: 3})-[:R]->(:P {k: 4})")
    assert(fresh.graph().nodes.select("id").distinct().count() == 4L)
    assert(fresh.graph().edges.select("eid").distinct().count() == 2L)
  }

  test("compaction folds an outsized delta into the base once (graft-admin compact)") {
    import graft.core.SnapshotStore
    val data = tmp("graft-compact")
    val s = new GraftSession(spark)
    s.cypher("UNWIND range(1, 50) AS x CREATE (a:acct {k: x, bal: x})")
    s.saveDatabase(data)
    val snap = s"$data/databases/neo4j"
    def baseStamp() = {
      val d = new java.io.File(s"$snap/nodes")
      d.listFiles().map(f => f.getName -> f.lastModified()).toMap
    }
    val sealed0 = baseStamp()
    // K incremental saves, each a small delta burst
    (1 to 3).foreach { i =>
      s.cypher(
        s"""UNWIND range(1, 10) AS x MERGE (a:acct {k: x})
           |ON MATCH SET a.bal = $i""".stripMargin)
      s.saveDatabase(data)
      assert(baseStamp() == sealed0, s"incremental save $i rewrote the base")
    }
    assert(Files.exists(java.nio.file.Paths.get(s"$snap/nodes_delta")))
    val before = SnapshotStore.readManifest(snap)
    // the verb folds the overlay: base rewritten exactly once, delta
    // gone, counts stable, data identical
    var msgs = List.empty[String]
    assert(GraftAdmin.run(Seq("database", "compact", "neo4j"), data, out = m => msgs ::= m) == 0)
    assert(msgs.exists(_.contains("compacted")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$snap/nodes_delta")),
      "compact left the node delta behind")
    assert(baseStamp() != sealed0, "compact never rewrote the base")
    val after = SnapshotStore.readManifest(snap)
    assert(after.nodeCount == before.nodeCount && after.nextId == before.nextId)
    assert(after.base.exists(_.nodeCount == after.nodeCount), "compact must re-seal base stats")
    val fresh = new GraftSession(spark)
    fresh.loadDatabase(data)
    assert(fresh.cypher("MATCH (a:acct) WHERE a.bal = 3 RETURN count(a) AS n")
      .collect().head.getLong(0) == 10L)
    assert(fresh.cypher("MATCH (a:acct) RETURN count(a) AS n")
      .collect().head.getLong(0) == 50L)
    // idempotent: no overlay -> no-op, base untouched
    val sealed1 = baseStamp()
    assert(GraftAdmin.run(Seq("database", "compact", "neo4j"), data) == 0)
    assert(baseStamp() == sealed1, "no-op compact rewrote the base")

    // the SIZE TRIGGER folds automatically: a delta past both bounds
    // (minRows, fraction of base) compacts within writeDelta itself —
    // driven directly with tiny thresholds to exercise the trigger
    // without a 100k-row fixture
    val st = graft.core.SnapshotStore
    val delta = spark.range(1).selectExpr("CAST(0 AS LONG) AS id",
      "array('acct') AS labels", "CAST(1 AS LONG) AS k", "CAST(99 AS LONG) AS bal")
    val m3 = st.writeDelta(spark, Some(delta), None, snap, "neo4j",
      before.nextId, 0L, compactMinRows = 0L, compactFraction = 0.0)
    assert(!Files.exists(java.nio.file.Paths.get(s"$snap/nodes_delta")),
      "size-triggered compaction did not fold the delta")
    assert(m3.nodeCount == 50L && m3.base.exists(_.nodeCount == 50L))
  }

  test("delete-heavy ingest end to end: buffer x tombstone x v5 merge x resurrection over two save/load cycles") {
    import graft.core.SnapshotStore
    val data = tmp("graft-ingest")
    // ---- base: 40 account nodes + a hub, sealed by a full write ----
    val s0 = new GraftSession(spark)
    s0.cypher("UNWIND range(1, 40) AS x CREATE (a:nd {k: x})")
    s0.cypher("CREATE (h:hub {k: 0})")
    s0.saveDatabase(data)
    val snap = s"$data/databases/neo4j"
    def files(sub: String): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$snap/$sub")).map(f => f.getPath -> f.lastModified()).toMap
    }
    val nodesSealed = files("nodes")
    val edgesSealed = files("edges")
    def eids(s: GraftSession): Set[Long] =
      s.cypher("MATCH (:nd)-[x:E]->(:hub) RETURN id(x) AS e").collect()
        .map(_.getLong(0)).toSet

    // ---- cycle 1: load, MERGE a batch, DELETE subsets, save --------
    val s1 = new GraftSession(spark)
    s1.loadDatabase(data)
    val batch = (1L to 20L).map(k => Map("a" -> k))
    val merge =
      """UNWIND $batch AS row MATCH (a:nd {k: row.a}), (h:hub {k: 0})
        |MERGE (a)-[x:E]->(h) ON CREATE SET x.c = 1 ON MATCH SET x.c = x.c + 1""".stripMargin
    s1.cypher(merge, Map("batch" -> batch))
    val cycle1Eids = eids(s1)
    assert(cycle1Eids.size == 20)
    // targeted DELETE (k % 4 = 0: five edges) + one DETACH DELETE that
    // takes a node AND its surviving edge
    s1.cypher("MATCH (a:nd)-[x:E]->() WHERE a.k % 4 = 0 DELETE x")
    s1.cypher("MATCH (a:nd {k: 19}) DETACH DELETE a")
    s1.saveDatabase(data)
    assert(files("nodes") == nodesSealed && files("edges") == edgesSealed,
      "cycle-1 save must be incremental on both sides")
    val m1 = SnapshotStore.readManifest(snap)
    assert(m1.nodeCount == 40L, s"cycle-1 node count ${m1.nodeCount}") // 41 - 1
    assert(m1.edgeCount == 14L, s"cycle-1 edge count ${m1.edgeCount}") // 20 - 5 - 1
    assert(SnapshotStore.readNodes(spark, snap).count() == 40L)
    assert(SnapshotStore.readEdges(spark, snap).count() == 14L)

    // ---- cycle 2: fresh load, re-MERGE (resurrection), delete, save -
    val s2 = new GraftSession(spark)
    s2.loadDatabase(data)
    assert(eids(s2).size == 14)
    s2.cypher(merge, Map("batch" -> batch))
    // k=19's node is gone -> its row drops from the MATCH; the five
    // deleted keys re-create with FRESH eids (never the tombstoned
    // ones); the 14 survivors ON MATCH-increment
    val cycle2Eids = eids(s2)
    assert(cycle2Eids.size == 19, s"expected 19 edges, got ${cycle2Eids.size}")
    val resurrected = cycle2Eids -- cycle1Eids
    assert(resurrected.size == 5, s"expected 5 fresh eids, got $resurrected")
    assert(resurrected.forall(_ >= m1.nextRelId),
      s"resurrected eids $resurrected reuse pre-tombstone ids (< ${m1.nextRelId})")
    val counters = s2.cypher(
      """MATCH (a:nd)-[x:E]->(:hub)
        |RETURN sum(CASE WHEN x.c = 2 THEN 1 ELSE 0 END) AS twice,
        |       sum(CASE WHEN x.c = 1 THEN 1 ELSE 0 END) AS once""".stripMargin)
      .collect().head
    assert(counters.getLong(0) == 14L && counters.getLong(1) == 5L,
      s"ON MATCH/ON CREATE split wrong: ${counters}")
    // delete one RESURRECTED edge, then incremental-save again
    s2.cypher("MATCH (a:nd {k: 4})-[x:E]->() DELETE x")
    s2.saveDatabase(data)
    assert(files("nodes") == nodesSealed && files("edges") == edgesSealed,
      "cycle-2 save must be incremental on both sides")
    val m2 = SnapshotStore.readManifest(snap)
    assert(m2.nodeCount == 40L && m2.edgeCount == 18L,
      s"cycle-2 counts ${m2.nodeCount}/${m2.edgeCount}")

    // ---- final read-back state ------------------------------------
    val s3 = new GraftSession(spark)
    s3.loadDatabase(data)
    assert(eids(s3).size == 18)
    assert(s3.cypher("MATCH (a:nd {k: 4})-[x:E]->() RETURN count(x) AS n")
      .collect().head.getLong(0) == 0L)
    assert(s3.cypher("MATCH (a:nd {k: 8})-[x:E]->() RETURN x.c AS c")
      .collect().head.getLong(0) == 1L) // resurrected fresh, not the old row
    assert(s3.cypher("MATCH (a:nd {k: 1})-[x:E]->() RETURN x.c AS c")
      .collect().head.getLong(0) == 2L) // survivor incremented once
    assert(s3.cypher("MATCH (a:nd {k: 19}) RETURN count(a) AS n")
      .collect().head.getLong(0) == 0L) // detach-deleted node stays gone
    // eids remain globally distinct across the whole history
    val all = s3.graph().edges.select("eid").collect().map(_.getLong(0)).toSeq
    assert(all.size == all.distinct.size, s"eid collision after resurrection: $all")
  }

  test("admin refuses to run the server (neo4j-admin/docker-entrypoint.sh:49-60)") {
    var errs = List.empty[String]
    assert(GraftAdmin.run(Seq("neo4j"), "data", err = e => errs ::= e) == 1)
    assert(errs.exists(_.contains("usage of Neo4j server is not supported from here")))
  }

  test("admin refuses report (neo4j-admin/docker-entrypoint.sh:62-74)") {
    var errs = List.empty[String]
    assert(GraftAdmin.run(Seq("server", "report"), "data", err = e => errs ::= e) == 1)
    assert(errs.exists(_.contains("must be run in the same container as neo4j")))
  }
}
