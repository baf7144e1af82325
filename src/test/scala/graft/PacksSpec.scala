package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.procs.Packs

/** Bundled-pack behaviors (SURVEY.md §2.4/2.5): apoc scalar functions
  * usable from RETURN (C10 — ref TestConfSettings.java:411), GDS
  * algorithms over GraphX via CALL … YIELD (ref
  * TestBundledPluginInstallation.java:74-75), export gating, unknown
  * plugin error shape, and the session-from-env boot path.
  */
class PacksSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def sessionWith(plugins: String*): GraftSession = {
    val s = new GraftSession(spark)
    Packs.install(s, plugins)
    s
  }

  test("apoc.map.* over MapType (struct literals auto-convert) + apoc.agg.*") {
    // r19 gap-hunt: map helpers ride MapType columns; Cypher map
    // literals (struct-encoded) convert when fields share a type,
    // mixed-type maps refuse (the homogeneous-collection deviation)
    val s = sessionWith("apoc")
    def one(q: String) = s.cypher(q).collect().head
    assert(one("RETURN apoc.map.merge({a: 1}, {a: 9, b: 2}) AS v")
      .getMap[String, Long](0) == Map("a" -> 9L, "b" -> 2L)) // right wins
    assert(one("RETURN apoc.map.setKey({a: 1}, 'b', 7) AS v")
      .getMap[String, Long](0) == Map("a" -> 1L, "b" -> 7L))
    assert(one("RETURN apoc.map.removeKey({a: 1, b: 2}, 'b') AS v")
      .getMap[String, Long](0) == Map("a" -> 1L))
    assert(one("RETURN apoc.map.get({a: 7}, 'a', -1) AS v").getLong(0) == 7L)
    assert(one("RETURN apoc.map.get({a: 7}, 'zz', -1) AS v").getLong(0) == -1L)
    assert(one("RETURN apoc.map.fromPairs([['a', '1'], ['b', '2']]) AS v")
      .getMap[String, String](0) == Map("a" -> "1", "b" -> "2"))
    assert(one("RETURN apoc.map.fromLists(['a', 'b'], [1, 2]) AS v")
      .getMap[String, Long](0) == Map("a" -> 1L, "b" -> 2L))
    // cross-map type mixing fails LOUDLY (within one map it's the
    // UnsupportedOperationException refusal; across the two merge args
    // Spark's own cast raises) — never a silent wrong answer
    intercept[Exception] {
      s.cypher("RETURN apoc.map.merge({a: 1}, {b: 'x'}) AS v").collect()
    }
    intercept[UnsupportedOperationException] {
      s.cypher("RETURN apoc.map.removeKey({a: 1, b: 'x'}, 'b') AS v").collect()
    }
    // aggregate family: first/last follow row order, median is exact,
    // statistics is the summary struct
    assert(one("UNWIND [3, 1, 2] AS x RETURN apoc.agg.first(x) AS v").getLong(0) == 3L)
    assert(one("UNWIND [3, 1, 2] AS x RETURN apoc.agg.last(x) AS v").getLong(0) == 2L)
    assert(one("UNWIND [1, 2, 3, 4] AS x RETURN apoc.agg.median(x) AS v")
      .getDouble(0) == 2.5)
    val st = one("UNWIND [1, 2, 3] AS x RETURN apoc.agg.statistics(x) AS v").getStruct(0)
    assert(st.getLong(0) == 3L && st.getLong(1) == 1L && st.getLong(2) == 3L &&
      st.getDouble(3) == 2.0)
    assert(one("RETURN apoc.text.distance('kitten', 'sitting') AS v").getLong(0) == 3L)
  }

  test("C10: RETURN apoc.version() (TestConfSettings.java:411)") {
    val s = sessionWith("apoc")
    val res = s.cypher("RETURN apoc.version() AS version")
    assert(res.collect().map(_.getString(0)).toSeq == Seq(Packs.EngineVersion))
  }

  test("apoc text/coll helper scalars") {
    val s = sessionWith("apoc")
    val r = s.cypher(
      """UNWIND range(1, 1) AS x
        |RETURN apoc.text.clean('Hello, World!') AS cleaned,
        |       apoc.text.join(['a', 'b', 'c'], '-') AS joined,
        |       apoc.coll.sum([1.0, 2.5]) AS total,
        |       apoc.coll.max([3, 1, 2]) AS mx,
        |       apoc.coll.contains([1, 2], 2) AS has""".stripMargin).collect().head
    assert(r.getString(0) == "helloworld")
    assert(r.getString(1) == "a-b-c")
    assert(r.getDouble(2) == 3.5)
    assert(r.getLong(3) == 3L)
    assert(r.getBoolean(4))
    val r2 = s.cypher(
      """UNWIND range(1, 1) AS x
        |RETURN apoc.coll.sort([3, 1, 2]) AS sorted,
        |       apoc.coll.toSet([1, 2, 2, 1]) AS dset,
        |       apoc.text.capitalize('hello') AS cap,
        |       apoc.text.levenshteinDistance('kitten', 'sitting') AS dist,
        |       apoc.text.levenshteinSimilarity('kitten', 'kitten') AS sim""".stripMargin)
      .collect().head
    assert(r2.getSeq[Long](0) == Seq(1L, 2L, 3L))
    assert(r2.getSeq[Long](1) == Seq(1L, 2L))
    assert(r2.getString(2) == "Hello")
    assert(r2.getLong(3) == 3L)
    assert(r2.getDouble(4) == 1.0)
    val r3 = s.cypher(
      """UNWIND range(1, 1) AS x
        |RETURN apoc.text.indexOf('abcd', 'cd') AS idx,
        |       apoc.text.indexOf('abcd', 'zz') AS missing,
        |       apoc.text.replace('a-b-c', '-', '.') AS repl,
        |       apoc.text.repeat('ab', 3) AS rep,
        |       apoc.text.slug('Hello, World!') AS slug,
        |       apoc.util.md5(['a', 'b']) AS h5,
        |       apoc.util.sha256(['a', 'b']) AS h256""".stripMargin).collect().head
    assert(r3.getLong(0) == 2L)
    assert(r3.getLong(1) == -1L)
    assert(r3.getString(2) == "a.b.c")
    assert(r3.getString(3) == "ababab")
    assert(r3.getString(4) == "Hello-World")
    // digests of "ab" — standard test vectors
    assert(r3.getString(5) == "187ef4436122d1cc2f40dc2b92f0eba0")
    assert(r3.getString(6) ==
      "fb8e20fc2e4c3f248c60c39bd652f3c1347298bb977b8b4d5903b85055620603")
    val r4 = s.cypher(
      """UNWIND range(1, 1) AS x
        |RETURN apoc.date.parse('2020-03-25 10:00:00', 's', 'yyyy-MM-dd HH:mm:ss') AS secs,
        |       apoc.date.format(1585130400, 's', 'yyyy-MM-dd') AS day,
        |       apoc.coll.flatten([[1, 2], [3]]) AS flat,
        |       apoc.coll.zip([1, 2], [3, 4]) AS zipped,
        |       apoc.coll.pairsMin([1, 2, 3]) AS pairs,
        |       apoc.coll.indexOf([5, 6, 7], 6) AS ci,
        |       apoc.coll.avg([1.0, 2.0]) AS cavg""".stripMargin).collect().head
    // 2020-03-25T10:00Z (session timezone is pinned UTC)
    assert(r4.getLong(0) == 1585130400L)
    assert(r4.getString(1) == "2020-03-25")
    assert(r4.getSeq[Long](2) == Seq(1L, 2L, 3L))
    assert(r4.getSeq[Seq[Long]](3) == Seq(Seq(1L, 3L), Seq(2L, 4L)))
    assert(r4.getSeq[Seq[Long]](4) == Seq(Seq(1L, 2L), Seq(2L, 3L)))
    assert(r4.getLong(5) == 1L)
    assert(r4.getDouble(6) == 1.5)
    val r5 = s.cypher(
      """UNWIND range(1, 1) AS x
        |RETURN apoc.coll.union([1, 2], [2, 3]) AS u,
        |       apoc.coll.unionAll([1, 2], [2, 3]) AS ua,
        |       apoc.coll.intersection([1, 2, 3], [2, 3, 4]) AS ix,
        |       apoc.coll.subtract([1, 2, 3], [2]) AS sub,
        |       apoc.coll.duplicates([1, 2, 2, 3, 3, 3]) AS dups,
        |       apoc.text.split('a;b;c', ';') AS parts""".stripMargin)
      .collect().head
    assert(r5.getSeq[Long](0) == Seq(1L, 2L, 3L))
    assert(r5.getSeq[Long](1) == Seq(1L, 2L, 2L, 3L))
    assert(r5.getSeq[Long](2).sorted == Seq(2L, 3L))
    assert(r5.getSeq[Long](3) == Seq(1L, 3L))
    assert(r5.getSeq[Long](4) == Seq(2L, 3L))
    assert(r5.getSeq[String](5) == Seq("a", "b", "c"))
  }

  test("apoc export is gated by apoc.export.file.enabled (Configuration.java:13)") {
    val gated = sessionWith("apoc")
    val e = intercept[IllegalStateException] {
      gated.cypher("CALL apoc.export.csv.all('/tmp/graft-test-export')").collect()
    }
    assert(e.getMessage.contains("apoc.export.file.enabled"))

    val enabled = new GraftSession(spark, Map("apoc.export.file.enabled" -> "true"))
    Packs.install(enabled, Seq("apoc"))
    enabled.cypher("CREATE (a:dog {name:'Arne'})")
    val out = enabled.cypher("CALL apoc.export.csv.all('/tmp/graft-test-export') YIELD file, rows")
      .collect().head
    assert(out.getString(0) == "/tmp/graft-test-export")
    assert(out.getLong(1) == 1L)

    // JSON export: same gate, node + relationship sections
    intercept[IllegalStateException] {
      gated.cypher("CALL apoc.export.json.all('/tmp/graft-test-json')").collect()
    }
    enabled.cypher("CREATE (b:dog {name:'Bo'})-[:KNOWS]->(c:dog {name:'Cy'})")
    val j = enabled.cypher(
      "CALL apoc.export.json.all('/tmp/graft-test-json') YIELD file, nodes, relationships")
      .collect().head
    assert(j.getLong(1) == 3L && j.getLong(2) == 1L)
    val back = spark.read.json("/tmp/graft-test-json/nodes")
    assert(back.count() == 3L)
    assert(back.columns.contains("labels") && back.columns.contains("type"))
  }

  test("unknown plugin error lists options hiding _testing (docker-entrypoint.sh:220-224)") {
    val e = intercept[IllegalArgumentException] { sessionWith("streams") }
    assert(e.getMessage.contains("\"streams\" is not a known Neo4j plugin"))
    assert(e.getMessage.contains("graph-data-science"))
    assert(!e.getMessage.contains("_testing"))
  }

  // ---- GDS over the dogs-style fixture ----

  private def chainSession: GraftSession = {
    // a -> b -> c and a separate pair d -> e
    val s = sessionWith("graph-data-science")
    s.cypher("CREATE (a:n {name:'a'})-[:T]->(b:n {name:'b'})-[:T]->(c:n {name:'c'})")
    s.cypher("CREATE (d:n {name:'d'})-[:T]->(e:n {name:'e'})")
    s
  }

  test("gds.wcc: components labeled by min member id") {
    val s = chainSession
    val rows = s.cypher("CALL gds.wcc() YIELD node_id, component")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // nodes 0,1,2 form one component; 3,4 the other
    assert(rows == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 3L))
  }

  test("CALL ... YIELD col AS alias renames the projected column") {
    val s = sessionWith("apoc")
    s.cypher("CREATE (:yt {name: 'x'})")
    val r = s.cypher("CALL db.labels() YIELD label AS l RETURN l")
      .collect().map(_.getString(0)).toSeq
    assert(r == Seq("yt"))
  }

  test("gds.scc: a directed cycle is one component, the tail stays out") {
    val s = sessionWith("graph-data-science")
    // cycle a->b->c->a plus a dangling d->e
    s.cypher("CREATE (a:n {name:'a'})-[:T]->(b:n {name:'b'})-[:T]->(c:n {name:'c'})")
    s.cypher("MATCH (a:n {name:'a'}), (c:n {name:'c'}) CREATE (c)-[:T]->(a)")
    s.cypher("CREATE (d:n {name:'d'})-[:T]->(e:n {name:'e'})")
    val comp = s.cypher("CALL gds.scc() YIELD node_id, component")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 4L))
  }

  test("gds.louvain: two triangles joined by a bridge split into two communities") {
    val s = sessionWith("graph-data-science")
    s.cypher("CREATE (a:n)-[:T]->(b:n), (b)-[:T]->(c:n), (a)-[:T]->(c)")
    s.cypher("CREATE (d:n)-[:T]->(e:n), (e)-[:T]->(f:n), (d)-[:T]->(f)")
    s.cypher("MATCH (c:n), (f:n) WHERE id(c) = 2 AND id(f) = 5 CREATE (c)-[:T]->(f)")
    val com = s.cypher("CALL gds.louvain('T', 4) YIELD node_id, community")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(com(0L) == com(1L) && com(1L) == com(2L), s"triangle 1 split: $com")
    assert(com(3L) == com(4L) && com(4L) == com(5L), s"triangle 2 split: $com")
    assert(com(0L) != com(3L), s"bridge merged the triangles: $com")
  }

  test("gds.fastRP: deterministic init, neighbor sums, zero for isolated nodes") {
    val s = sessionWith("graph-data-science")
    s.cypher("CREATE (a:n)-[:T]->(b:n)")
    s.cypher("CREATE (z:n {name:'lone'})")
    val emb = s.cypher("CALL gds.fastRP('T', 4, 1) YIELD node_id, dim, ival")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    def init(id: Long, d: Long) = (id * 1000003L + d * 7919L) % 97 % 3 - 1
    // one round of undirected neighbor-sum: a's embedding = b's init
    // (and vice versa); the isolated node is all zeros
    (0L until 4L).foreach { d =>
      assert(emb((0L, d)) == init(1L, d))
      assert(emb((1L, d)) == init(0L, d))
      assert(emb((2L, d)) == 0L)
    }
  }

  test("gds.graph.project/list/drop: named projections feed algorithms") {
    val s = sessionWith("graph-data-science")
    s.cypher("CREATE (a:n {name:'a'})-[:T]->(b:n {name:'b'})-[:T]->(c:n {name:'c'})")
    s.cypher("CREATE (d:m {name:'d'})-[:U]->(e:m {name:'e'})")
    val proj = s.cypher(
      "CALL gds.graph.project('g1', 'n', 'T') YIELD graphName, nodeCount, relationshipCount")
      .collect().head
    assert(proj.getString(0) == "g1")
    assert(proj.getLong(1) == 3L && proj.getLong(2) == 2L)
    // algorithms resolve the projected name; d/e are outside g1
    val wcc = s.cypher("CALL gds.wcc('g1') YIELD node_id, component")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(wcc == Map(0L -> 0L, 1L -> 0L, 2L -> 0L))
    val listed = s.cypher("CALL gds.graph.list() YIELD graphName, nodeCount")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(listed == Map("g1" -> 3L))
    s.cypher("CALL gds.graph.drop('g1') YIELD graphName")
    assert(s.projectedGraphs.isEmpty)
    val err = intercept[Exception](s.cypher("CALL gds.graph.drop('g1') YIELD graphName"))
    assert(err.getMessage.contains("does not exist"))
    // label filter drops cross-label edges: project only :m nodes over
    // ALL relTypes — the a->b->c edges vanish with their endpoints
    val pm = s.cypher(
      "CALL gds.graph.project('g2', 'm', '*') YIELD nodeCount, relationshipCount")
      .collect().head
    assert(pm.getLong(0) == 2L && pm.getLong(1) == 1L)
  }

  test("procedure reads follow the statement target: a transaction sees its own writes") {
    val s = sessionWith("graph-data-science")
    s.cypher("CREATE (:aa {k: 1})")
    def labels(q: String = "CALL db.labels() YIELD label RETURN label"): Seq[String] =
      s.cypher(q).collect().map(_.getString(0)).toSeq
    def projected(name: String, label: String, db: String = ""): Long =
      s.cypher(s"$db CALL gds.graph.project('$name', '$label', '*') YIELD nodeCount")
        .collect().head.getLong(0)
    s.cypher("BEGIN")
    s.cypher("CREATE (:zz {k: 2})")
    assert(labels().contains("zz"), "db.labels() inside BEGIN missed the transaction's write")
    assert(projected("tx_zz", "zz") == 1L, "a pack procedure read the live database")
    s.cypher("ROLLBACK")
    assert(labels() == Seq("aa"))
    assert(projected("live_zz", "zz") == 0L)
    // pack procedures read the database a USE clause names
    s.cypher("CREATE DATABASE packdb")
    s.cypher("USE packdb CREATE (:pp {k: 3})")
    assert(projected("use_pp", "pp", "USE packdb") == 1L)
    assert(projected("default_pp", "pp") == 0L)
  }

  test("gds.shortestPath: hop distance to landmark along edges") {
    val s = chainSession
    val rows = s.cypher("CALL gds.shortestPath(2) YIELD node_id, distance")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // distances TO node c (id 2): a=2 hops, b=1, c=0; d,e unreachable
    assert(rows == Map(0L -> 2L, 1L -> 1L, 2L -> 0L))
  }

  test("gds.dijkstra: weighted cost takes the cheap detour over the direct edge") {
    val s = sessionWith("graph-data-science")
    // a-b (1), b-c (1), a-c (5), c-d (1): cheapest a->c is 2 via b,
    // not the direct weight-5 edge; d costs 3. Undirected projection.
    s.cypher("CREATE (a:n {name:'a'})-[:T {weight: 1}]->(b:n {name:'b'})-[:T {weight: 1}]->(c:n {name:'c'})")
    s.cypher("MATCH (a:n {name:'a'}), (c:n {name:'c'}) CREATE (a)-[:T {weight: 5}]->(c)")
    s.cypher("MATCH (c:n {name:'c'}) CREATE (c)-[:T {weight: 1}]->(d:n {name:'d'})")
    val rows = s.cypher("CALL gds.dijkstra(0) YIELD node_id, cost")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("gds.closeness/harmonic: chain + pair, undirected hop distances") {
    val s = chainSession
    // undirected chain a-b-c: a: d(b)=1 d(c)=2; b: 1,1; c: 2,1. pair d-e: 1.
    val cl = s.cypher("CALL gds.closeness() YIELD node_id, n_reachable, sum_dist, iscore")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(cl == Map(
      0L -> ((2L, 3L, 666666L)), // a: 2 others, sum 3
      1L -> ((2L, 2L, 1000000L)), // b: center
      2L -> ((2L, 3L, 666666L)),
      3L -> ((1L, 1L, 1000000L)), // d-e pair
      4L -> ((1L, 1L, 1000000L))))
    val h = s.cypher("CALL gds.harmonic() YIELD node_id, hscore")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h == Map(
      0L -> 1500000L, 1L -> 2000000L, 2L -> 1500000L,
      3L -> 1000000L, 4L -> 1000000L))
  }

  test("procedure args compose: constant expressions and $parameters") {
    val s = chainSession
    // arithmetic constant arg: 1 + 1 folds to the landmark id 2
    val viaExpr = s.cypher("CALL gds.shortestPath(1 + 1) YIELD node_id, distance")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaExpr == Map(0L -> 2L, 1L -> 1L, 2L -> 0L))
    // parameterized arg: $landmark substitutes pre-compile
    val viaParam = s.cypher("CALL gds.shortestPath($landmark) YIELD node_id, distance",
      Map("landmark" -> 2))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaParam == viaExpr)
    // a non-constant arg is refused loudly
    intercept[UnsupportedOperationException] {
      s.cypher("CALL gds.shortestPath(x) YIELD node_id, distance")
    }
  }

  test("gds.pageRank: sink accumulates highest rank; scores deterministic") {
    val s = chainSession
    val rows = s.cypher("CALL gds.pageRank() YIELD node_id, iscore")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.size == 5)
    // c is the 2-chain sink: strictly more rank than b, which beats a
    assert(rows(2L) > rows(1L) && rows(1L) > rows(0L))
    // d is a pure source, same structural rank as a
    assert(rows(3L) == rows(0L))
  }

  test("gds.eigenvector: triangle+pendant ranks center highest, symmetric pair ties") {
    val s = sessionWith("graph-data-science")
    // triangle a-b-c plus pendant d on a (non-bipartite, so the
    // power iteration converges instead of oscillating)
    s.cypher("CREATE (a:n {name:'a'})-[:T]->(b:n {name:'b'})-[:T]->(c:n {name:'c'})-[:T]->(a)")
    s.cypher("MATCH (a:n {name:'a'}) CREATE (a)-[:T]->(d:n {name:'d'})")
    val rows = s.cypher("CALL gds.eigenvector('T', 10) YIELD node_id, iscore")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.size == 4)
    // a (deg 3) beats the symmetric pair b,c (deg 2 each), which beat
    // the pendant d (deg 1); b and c are exchangeable so they tie
    assert(rows(1L) == rows(2L))
    assert(rows(0L) > rows(1L) && rows(1L) > rows(3L) && rows(3L) > 0L)
    // max-renormalization pins the top rank at the scale
    assert(rows(0L) == 1000000L)
  }

  test("gds.localClusteringCoefficient: triangle members score by degree, pendant 0") {
    val s = sessionWith("graph-data-science")
    s.cypher("CREATE (a:n {name:'a'})-[:T]->(b:n {name:'b'})-[:T]->(c:n {name:'c'})-[:T]->(a)")
    s.cypher("MATCH (a:n {name:'a'}) CREATE (a)-[:T]->(d:n {name:'d'})")
    val rows = s.cypher(
      "CALL gds.localClusteringCoefficient('T') YIELD node_id, triangles, degree, ilcc")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows.size == 4)
    // a: 1 triangle over deg 3 -> 2*1e6//6; b, c: their one neighbor
    // pair IS connected -> 1e6; d: degree 1 -> 0 by convention
    assert(rows(0L) == ((1L, 3L, 333333L)))
    assert(rows(1L) == ((1L, 2L, 1000000L)))
    assert(rows(2L) == ((1L, 2L, 1000000L)))
    assert(rows(3L) == ((0L, 1L, 0L)))
  }

  test("gds.pageRank with relationshipWeightProperty: rank splits by weight") {
    val s = sessionWith("graph-data-science")
    s.cypher("CREATE (a:n {name:'a'})-[:T {weight: 2}]->(b:n {name:'b'})")
    s.cypher("MATCH (a:n {name:'a'}) CREATE (a)-[:T {weight: 1}]->(c:n {name:'c'})")
    val rows = s.cypher("CALL gds.pageRank('T', 1, 'weight') YIELD node_id, iscore")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // one iteration from rank 1e6: b gets 1e6*2//3, c gets 1e6*1//3,
    // a receives nothing — exact floor arithmetic
    assert(rows(0L) == 150000L)
    assert(rows(1L) == 150000L + 666666L * 85L / 100L)
    assert(rows(2L) == 150000L + 333333L * 85L / 100L)
    // an undeclared weight property refuses loudly
    val e0 = intercept[Exception](
      s.cypher("CALL gds.pageRank('T', 1, 'nope') YIELD node_id, iscore").collect())
    assert(e0.getMessage.contains("not present"))
  }

  test("gds.pageRank weighted: fractional weights scale instead of truncating; zero refuses") {
    val s = sessionWith("graph-data-science")
    // doubles 0.5 / 0.25 — the ADVICE r13 case: a long cast would
    // truncate both to 0 and the Σw divisor to 0 (task-level
    // ArithmeticException); scaled by 1e6 the 2:1 split is exact
    s.cypher("CREATE (a:n {name:'a'})-[:T {w: 0.5}]->(b:n {name:'b'})")
    s.cypher("MATCH (a:n {name:'a'}) CREATE (a)-[:T {w: 0.25}]->(c:n {name:'c'})")
    val rows = s.cypher("CALL gds.pageRank('T', 1, 'w') YIELD node_id, iscore")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // same floor arithmetic as the integer 2:1 case: b gets 1e6*2//3
    assert(rows(0L) == 150000L)
    assert(rows(1L) == 150000L + 666666L * 85L / 100L)
    assert(rows(2L) == 150000L + 333333L * 85L / 100L)
    // a non-positive effective weight refuses loudly instead of
    // dividing by a zero weight total
    val s2 = sessionWith("graph-data-science")
    s2.cypher("CREATE (a:n {name:'a'})-[:T {w: 0}]->(b:n {name:'b'})")
    val e = intercept[IllegalArgumentException](
      s2.cypher("CALL gds.pageRank('T', 1, 'w') YIELD node_id, iscore").collect())
    assert(e.getMessage.contains("positive"))
  }

  test("gds.hits: chain hubs point at authorities; converged 0/1 pattern") {
    val s = chainSession // a -> b -> c, d -> e
    val rows = s.cypher("CALL gds.hits('T', 4) YIELD node_id, ihub, iauth")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows.size == 5)
    val S = 1000000L
    // hubs: everything with an out-edge (a, b, d); authorities:
    // everything with an in-edge (b, c, e) — the fixpoint is exact
    // under max-renormalization on this tiny graph
    assert(rows(0L) == ((S, 0L)))
    assert(rows(1L) == ((S, S)))
    assert(rows(2L) == ((0L, S)))
    assert(rows(3L) == ((S, 0L)))
    assert(rows(4L) == ((0L, S)))
  }

  test("apoc.path.subgraphNodes: direction/type filters, maxLevel, labelFilter") {
    val s = sessionWith("apoc")
    // ids by creation order: a=0 b=1 c=2 d=3 e=4
    s.cypher("CREATE (a:p {name:'a'})-[:X]->(b:p {name:'b'})-[:X]->(c:q {name:'c'})")
    s.cypher("MATCH (c:q {name:'c'}) CREATE (c)-[:Y]->(d:p {name:'d'})")
    s.cypher("MATCH (b:p {name:'b'}) CREATE (b)-[:Y]->(e:q {name:'e'})")
    def ids(call: String): Map[Long, Long] =
      s.cypher(call).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // outgoing X only, unbounded: a -> b -> c and stop (c's edge is Y)
    assert(ids("CALL apoc.path.subgraphNodes(0, 'X>') YIELD node_id, level") ==
      Map(0L -> 0L, 1L -> 1L, 2L -> 2L))
    // incoming X from c walks the chain backwards
    assert(ids("CALL apoc.path.subgraphNodes(2, '<X') YIELD node_id, level") ==
      Map(2L -> 0L, 1L -> 1L, 0L -> 2L))
    // type alternation, outgoing: the whole downstream cone from a
    assert(ids("CALL apoc.path.subgraphNodes(0, 'X>|Y>') YIELD node_id, level") ==
      Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 4L -> 2L, 3L -> 3L))
    // maxLevel truncates
    assert(ids("CALL apoc.path.subgraphNodes(0, 'X>', 1) YIELD node_id, level") ==
      Map(0L -> 0L, 1L -> 1L))
    // label whitelist: q nodes are never traversed, so only a, b
    assert(ids("CALL apoc.path.subgraphNodes(0, '', -1, '+p') YIELD node_id, level") ==
      Map(0L -> 0L, 1L -> 1L))
    // label blacklist is the same cut here
    assert(ids("CALL apoc.path.subgraphNodes(0, '', -1, '-q') YIELD node_id, level") ==
      Map(0L -> 0L, 1L -> 1L))
    // unsupported apoc label prefixes refuse loudly
    val e0 = intercept[Exception](
      s.cypher("CALL apoc.path.subgraphNodes(0, '', -1, '>p') YIELD node_id, level").collect())
    assert(e0.getMessage.contains("not supported"))
  }

  test("apoc.path.spanningTree: deterministic min-id parents; expandConfig levels") {
    val s = sessionWith("apoc")
    // diamond a=0 -> b=1, a -> c=2, b -> d=3, c -> d
    s.cypher("CREATE (a:n {name:'a'})-[:T]->(b:n {name:'b'})")
    s.cypher("MATCH (a:n {name:'a'}) CREATE (a)-[:T]->(c:n {name:'c'})")
    s.cypher("MATCH (b:n {name:'b'}) CREATE (b)-[:T]->(d:n {name:'d'})")
    s.cypher("MATCH (c:n {name:'c'}), (d:n {name:'d'}) CREATE (c)-[:T]->(d)")
    val tree = s.cypher(
      "CALL apoc.path.spanningTree(0, 'T>') YIELD node_id, parent_id, level")
      .collect().map(r =>
        r.getLong(0) -> ((if (r.isNullAt(1)) -1L else r.getLong(1), r.getLong(2)))).toMap
    // d is discovered by both b(1) and c(2) at level 2 — min wins
    assert(tree == Map(0L -> ((-1L, 0L)), 1L -> ((0L, 1L)), 2L -> ((0L, 1L)),
      3L -> ((1L, 2L))))
    // expandConfig: minLevel trims the inner rings
    val ring = s.cypher(
      "CALL apoc.path.expandConfig(0, 'T>', '', 2, 2) YIELD node_id, level")
      .collect().map(_.getLong(0)).toSeq
    assert(ring == Seq(3L))
    // only NODE_GLOBAL uniqueness is served
    val e0 = intercept[Exception](s.cypher(
      "CALL apoc.path.expandConfig(0, 'T>', '', 0, -1, 'RELATIONSHIP_PATH') YIELD node_id, level")
      .collect())
    assert(e0.getMessage.contains("NODE_GLOBAL"))
  }

  test("gds.labelPropagation: triangle converges to min id, isolated node keeps its own") {
    val s = sessionWith("graph-data-science")
    s.cypher("CREATE (a:n {name:'a'})-[:T]->(b:n {name:'b'})-[:T]->(c:n {name:'c'})-[:T]->(a)")
    s.cypher("CREATE (d:n {name:'d'})")
    val rows = s.cypher("CALL gds.labelPropagation('T', 4) YIELD node_id, label")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the triangle's smallest-label tie-break drains everything to id 0
    assert(rows == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L))
  }

  test("gds.triangleCount: triangle graph counts 1 per corner") {
    val s = sessionWith("graph-data-science")
    s.cypher("CREATE (a:n {name:'a'})-[:T]->(b:n {name:'b'})-[:T]->(c:n {name:'c'})-[:T]->(a)")
    val rows = s.cypher("CALL gds.triangleCount() YIELD node_id, triangles")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows == Map(0L -> 1L, 1L -> 1L, 2L -> 1L))
  }

  test("C11: stub procedure with default named args returns typed record (StubPluginHelper.java:124-134)") {
    val s = sessionWith("_testing")
    val defaults = s.cypher("CALL com.neo4j.docker.test.myplugin.defaultValues()")
      .collect().head
    assert(defaults.getString(0) == "a string")
    assert(defaults.getLong(1) == 42L)
    assert(defaults.getDouble(2) == 3.14)
    assert(defaults.getBoolean(3))
    // positional args override leading defaults, the rest stay default
    val partial = s.cypher("CALL com.neo4j.docker.test.myplugin.defaultValues('over', 7)")
      .collect().head
    assert(partial.getString(0) == "over")
    assert(partial.getLong(1) == 7L)
    assert(partial.getDouble(2) == 3.14)
    // SHOW PROCEDURES lists it (TestPluginInstallation.java:184,215)
    val names = s.cypher("SHOW PROCEDURES YIELD name, signature")
      .collect().map(_.getString(0))
    assert(names.exists(_.contains("defaultValues")))
  }

  test("enterprise license gate refuses boot without acceptance (TestBasic.java:78-143)") {
    val e = intercept[IllegalStateException] {
      GraftSession.fromEnv(spark, Map("NEO4J_EDITION" -> "enterprise"))
    }
    assert(e.getMessage.contains("you must accept the license agreement"))
    // yes and eval both accepted
    GraftSession.fromEnv(spark,
      Map("NEO4J_EDITION" -> "enterprise", "NEO4J_ACCEPT_LICENSE_AGREEMENT" -> "yes"))
    GraftSession.fromEnv(spark,
      Map("NEO4J_EDITION" -> "enterprise", "NEO4J_ACCEPT_LICENSE_AGREEMENT" -> "eval"))
  }

  test("readiness probe reflects database state (WaitStrategies.java:24-28 analog)") {
    val s = new GraftSession(spark)
    assert(s.available("neo4j"))
    s.cypher("STOP DATABASE neo4j")
    assert(!s.available("neo4j"))
    s.cypher("START DATABASE neo4j")
    assert(s.available("neo4j"))
    assert(!s.available("nosuchdb"))
  }

  test("gds.nodeSimilarity: neighbor-set Jaccard for pairs sharing a neighbor") {
    val s = sessionWith("graph-data-science")
    // a -> x, b -> x, b -> y, c -> y  (ids: a=0 x=1 b=2 y=3 c=4)
    s.cypher("CREATE (a:n {name:'a'})-[:T]->(x:n {name:'x'})")
    s.cypher("MATCH (x:n {name:'x'}) CREATE (b:n {name:'b'})-[:T]->(x)")
    s.cypher("MATCH (b:n {name:'b'}), (x2:n {name:'x'}) CREATE (b)-[:T]->(y:n {name:'y'})")
    s.cypher("MATCH (y:n {name:'y'}) CREATE (c:n {name:'c'})-[:T]->(y)")
    val rows = s.cypher("CALL gds.nodeSimilarity() YIELD node1, node2, ijac")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // a={x}, b={x,y}, c={y}: jac(a,b)=jac(b,c)=1/2; (a,c) share nothing
    assert(rows == Map((0L, 2L) -> 500000L, (2L, 4L) -> 500000L))
  }

  test("SHOW FUNCTIONS lists the scalar registry with YIELD projection") {
    val s = sessionWith("apoc")
    val names = s.cypher("SHOW FUNCTIONS YIELD name").collect().map(_.getString(0))
    assert(names.contains("apoc.version"))
    assert(names.contains("apoc.text.join"))
    assert(names.sorted.toSeq == names.toSeq) // name-sorted for determinism
    val full = s.cypher("SHOW FUNCTIONS").collect().head
    assert(full.schema.fieldNames.toSeq == Seq("name", "signature", "category"))
  }

  test("apoc.load.json/csv: gated imports yield value structs and header maps") {
    val gated = sessionWith("apoc")
    val e = intercept[IllegalStateException] {
      gated.cypher("CALL apoc.load.json('/tmp/nope.json')").collect()
    }
    assert(e.getMessage.contains("apoc.import.file.enabled"))

    val dir = java.nio.file.Files.createTempDirectory("graft-load").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/a.json"),
      """[{"name": "Arne", "age": 3}, {"name": "Bosse", "age": 7}]""")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/a.csv"),
      "name,team\nEva,core\nFrank,infra\n")
    val s = new GraftSession(spark, Map("apoc.import.file.enabled" -> "true"))
    Packs.install(s, Seq("apoc"))
    val js = s.cypher(s"CALL apoc.load.json('$dir/a.json') YIELD value RETURN value")
      .collect().map(_.getStruct(0)).sortBy(_.getAs[String]("name"))
    assert(js.map(r => (r.getAs[String]("name"), r.getAs[Long]("age"))).toSeq ==
      Seq(("Arne", 3L), ("Bosse", 7L)))
    val cs = s.cypher(s"CALL apoc.load.csv('$dir/a.csv') YIELD lineNo, list, map " +
      "RETURN lineNo, list, map").collect().sortBy(_.getLong(0))
    assert(cs.map(_.getSeq[String](1)).toSeq == Seq(Seq("Eva", "core"), Seq("Frank", "infra")))
    assert(cs.head.getMap[String, String](2)("team") == "core")
    assert(cs.map(_.getLong(0)).toSeq == Seq(0L, 1L))
  }

  test("db.info / dbms.info report connect-time identity") {
    val s = new GraftSession(spark)
    val dbi = s.cypher("CALL db.info() YIELD id, name, creationDate " +
      "RETURN id, name, creationDate").collect().head
    assert(dbi.getString(1) == "neo4j" && dbi.getString(2).nonEmpty)
    val sysi = s.cypher("CALL dbms.info() YIELD id, name, creationDate " +
      "RETURN id, name, creationDate").collect().head
    assert(sysi.getString(1) == "graft")
  }

  test("db.awaitIndex validates the name; awaitIndexes and clearQueryCaches return") {
    val s = new GraftSession(spark)
    s.cypher("CREATE INDEX wait_idx FOR (d:dog) ON (d.name)")
    s.cypher("CALL db.awaitIndex('wait_idx', 300)").collect()
    intercept[Exception] { s.cypher("CALL db.awaitIndex('nope')").collect() }
    s.cypher("CALL db.awaitIndexes(300)").collect()
    assert(s.cypher("CALL db.clearQueryCaches() YIELD value RETURN value")
      .collect().head.getString(0).contains("cleared"))
  }

  test("dbms.routing.getRoutingTable: single-server table serves all three roles") {
    val s = new GraftSession(spark)
    val r = s.cypher(
      "CALL dbms.routing.getRoutingTable({}, 'neo4j') YIELD ttl, servers " +
        "RETURN ttl, servers").collect().head
    assert(r.getLong(0) > 0)
    val entries = r.getSeq[org.apache.spark.sql.Row](1)
    assert(entries.map(_.getString(1)).toSet == Set("WRITE", "READ", "ROUTE"))
    assert(entries.forall(_.getSeq[String](0).nonEmpty))
  }

  test("db.schema.nodeTypeProperties/relTypeProperties: tabular types + mandatory flags") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (:tp {a: 1, b: 'x'})-[:TPR {w: 2.0}]->(:tp {a: 2})")
    val nodeRows = s.cypher(
      "CALL db.schema.nodeTypeProperties() YIELD nodeType, propertyName, " +
        "propertyTypes, mandatory RETURN nodeType, propertyName, propertyTypes, mandatory")
      .collect().map(r => (r.getString(1), r.getSeq[String](2).head, r.getBoolean(3)))
    assert(nodeRows.contains(("a", "Long", true)))   // every :tp node has a
    assert(nodeRows.contains(("b", "String", false))) // only one has b
    val relRows = s.cypher(
      "CALL db.schema.relTypeProperties() YIELD relType, propertyName, " +
        "propertyTypes, mandatory RETURN relType, propertyName, propertyTypes, mandatory")
      .collect().map(r => (r.getString(0), r.getString(1), r.getSeq[String](2).head))
    assert(relRows.contains((":`TPR`", "w", "Double")))
  }

  test("apoc.meta.schema maps properties to Cypher types per label and relType") {
    val s = new GraftSession(spark)
    Packs.install(s, Seq("apoc"))
    s.cypher("CREATE (:mts {name: 'x', n: 1})-[:MTR {w: 1.5}]->(:mts {name: 'y'})")
    val rows = s.cypher(
      "CALL apoc.meta.schema() YIELD name, entityType, properties " +
        "RETURN name, entityType, properties").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    val mts = rows.find(_._1 == "mts").get
    assert(mts._2 == "node")
    assert(mts._3.contains(""""name": "STRING"""") &&
      mts._3.contains(""""n": "INTEGER""""))
    val mtr = rows.find(_._1 == "MTR").get
    assert(mtr._2 == "relationship" && mtr._3.contains(""""w": "FLOAT""""))
  }

  test("apoc.merge.node: dynamic labels/keys upsert; injection-shaped keys refuse") {
    val s = new GraftSession(spark)
    Packs.install(s, Seq("apoc"))
    val id1 = s.cypher(
      """CALL apoc.merge.node(['amn'], {k: 7}, {made: 1}, {seen: 1}) YIELD id
        |RETURN id""".stripMargin).collect().head.getLong(0)
    // second call matches: same id, ON MATCH applies, ON CREATE doesn't re-run
    val id2 = s.cypher(
      """CALL apoc.merge.node(['amn'], {k: 7}, {made: 1}, {seen: 1}) YIELD id
        |RETURN id""".stripMargin).collect().head.getLong(0)
    assert(id1 == id2)
    val row = s.cypher(
      "MATCH (n:amn {k: 7}) RETURN n.made AS made, n.seen AS seen").collect().head
    assert(row.getLong(0) == 1L && row.getLong(1) == 1L)
    assert(s.cypher("MATCH (n:amn) RETURN count(n) AS c")
      .collect().head.getLong(0) == 1L)
    // a key that isn't a plain identifier refuses loudly (it would
    // otherwise interpolate into the statement) — delivered via a
    // parameter, the only route such a key can reach the procedure
    val bad = intercept[Exception] {
      s.cypher("CALL apoc.merge.node(['amn'], $m) YIELD id RETURN id",
        Map("m" -> Map("k) DETACH DELETE n //" -> 1L)))
        .collect()
    }
    assert(bad.getMessage.contains("plain identifier"))
  }

  test("apoc.merge.relationship: runtime-typed rel upsert between node ids; injection refuses") {
    val s = new GraftSession(spark)
    Packs.install(s, Seq("apoc"))
    val aid = s.cypher("CALL apoc.merge.node(['amra'], {k: 1}) YIELD id RETURN id")
      .collect().head.getLong(0)
    val bid = s.cypher("CALL apoc.merge.node(['amrb'], {k: 2}) YIELD id RETURN id")
      .collect().head.getLong(0)
    def call(extra: String = ""): Unit =
      s.cypher(s"CALL apoc.merge.relationship($aid, 'LINKS', {since: 2020}, " +
        s"{made: 1}, $bid, {seen: 1}$extra) YIELD src, dst RETURN src, dst").collect()
    call()
    call() // second call MATCHES: no duplicate, ON MATCH applies
    val rows = s.cypher(
      """MATCH (:amra)-[r:LINKS]->(:amrb)
        |RETURN r.since AS since, r.made AS made, r.seen AS seen""".stripMargin).collect()
    assert(rows.length == 1)
    assert(rows.head.getLong(0) == 2020L && rows.head.getLong(1) == 1L &&
      rows.head.getLong(2) == 1L)
    // a DIFFERENT ident value merges a distinct relationship
    s.cypher(s"CALL apoc.merge.relationship($aid, 'LINKS', {since: 2021}, " +
      s"{}, $bid, {}) YIELD src RETURN src").collect()
    assert(s.cypher("MATCH (:amra)-[r:LINKS]->(:amrb) RETURN count(r) AS c")
      .collect().head.getLong(0) == 2L)
    // an injection-shaped relType refuses loudly
    val badType = intercept[Exception] {
      s.cypher(s"CALL apoc.merge.relationship($aid, $$t, {}, {}, $bid, {}) " +
        "YIELD src RETURN src", Map("t" -> "X]->() DETACH DELETE n //")).collect()
    }
    assert(badType.getMessage.contains("plain identifier"))
    // an injection-shaped ident STRING VALUE is escaped, not executed
    s.cypher(s"CALL apoc.merge.relationship($aid, 'LINKS', $$m, {}, $bid, {}) " +
      "YIELD src RETURN src", Map("m" -> Map("tag" -> "x'}]->() DETACH DELETE n //")))
      .collect()
    assert(s.cypher(
      s"MATCH (:amra)-[r:LINKS]->(:amrb) WHERE r.tag = $$v RETURN count(r) AS c",
      Map("v" -> "x'}]->() DETACH DELETE n //")).collect().head.getLong(0) == 1L)
    assert(s.cypher("MATCH (n) RETURN count(n) AS c").collect().head.getLong(0) == 2L)
  }

  test("apoc.create.node/relationship + apoc.do.when: dynamic creates and conditional dispatch") {
    val s = new GraftSession(spark)
    Packs.install(s, Seq("apoc"))
    val id1 = s.cypher("CALL apoc.create.node(['acn', 'extra'], {k: 1}) YIELD id RETURN id")
      .collect().head.getLong(0)
    val id2 = s.cypher("CALL apoc.create.node(['acn'], {k: 1}) YIELD id RETURN id")
      .collect().head.getLong(0)
    // unconditional creates mint DISTINCT nodes (merge.* is the upsert)
    assert(id1 != id2)
    assert(s.cypher("MATCH (n:acn {k: 1}) RETURN count(n) AS c")
      .collect().head.getLong(0) == 2L)
    assert(s.cypher("MATCH (n:extra) RETURN count(n) AS c")
      .collect().head.getLong(0) == 1L)
    s.cypher(s"CALL apoc.create.relationship($id1, 'ACR', {w: 5}, $id2) " +
      "YIELD src RETURN src").collect()
    s.cypher(s"CALL apoc.create.relationship($id1, 'ACR', {w: 6}, $id2) " +
      "YIELD src RETURN src").collect()
    // two creates = two parallel relationships
    val ws = s.cypher("MATCH (:extra)-[r:ACR]->(:acn) RETURN r.w AS w ORDER BY w")
      .collect().map(_.getLong(0)).toSeq
    assert(ws == Seq(5L, 6L))
    // injection-shaped label refuses
    val bad = intercept[Exception] {
      s.cypher("CALL apoc.create.node($l, {}) YIELD id RETURN id",
        Map("l" -> Seq("x) DETACH DELETE n //"))).collect()
    }
    assert(bad.getMessage.contains("plain identifier"))
    // apoc.do.when dispatches the matching branch (writes allowed)
    s.cypher("CALL apoc.do.when(true, 'CREATE (:dwy {k: 1})', " +
      "'CREATE (:dwn {k: 1})') YIELD value RETURN value").collect()
    s.cypher("CALL apoc.do.when(false, 'CREATE (:dwy {k: 2})', " +
      "'CREATE (:dwn {k: 2})') YIELD value RETURN value").collect()
    assert(s.cypher("MATCH (n:dwy) RETURN count(n) AS c").collect().head.getLong(0) == 1L)
    assert(s.cypher("MATCH (n:dwn) RETURN count(n) AS c").collect().head.getLong(0) == 1L)
    // a read branch yields its rows as JSON text
    val v = s.cypher("CALL apoc.do.when(true, " +
      "'MATCH (n:dwy) RETURN count(n) AS c', '') YIELD value RETURN value")
      .collect().head.getString(0)
    assert(v == """{"c":1}""")
    // a missing else branch on a false condition yields nothing
    assert(s.cypher("CALL apoc.do.when(false, 'CREATE (:dwy {k: 3})') " +
      "YIELD value RETURN value").collect().isEmpty)
    // the read-only twins: apoc.when refuses writes, apoc.case picks
    // the first true branch
    val ro = intercept[Exception] {
      s.cypher("CALL apoc.when(true, 'CREATE (:dwz)') YIELD value RETURN value")
        .collect()
    }
    assert(ro.getMessage.contains("read-only"))
    assert(s.cypher("CALL apoc.when(true, 'MATCH (n:dwy) RETURN count(n) AS c') " +
      "YIELD value RETURN value").collect().head.getString(0) == """{"c":1}""")
    val cased = s.cypher(
      "CALL apoc.case([false, 'RETURN 1 AS x', true, 'RETURN 2 AS x'], " +
        "'RETURN 3 AS x') YIELD value RETURN value").collect().head.getString(0)
    assert(cased == """{"x":2}""")
    assert(s.cypher("CALL apoc.case([false, 'RETURN 1 AS x'], 'RETURN 3 AS x') " +
      "YIELD value RETURN value").collect().head.getString(0) == """{"x":3}""")
  }

  test("gds write mode: scores fold back as node properties through the delta-log") {
    val s = sessionWith("graph-data-science")
    s.cypher("CREATE (a:n {name:'a'})-[:T]->(b:n {name:'b'})")
    s.cypher("MATCH (b:n {name:'b'}) CREATE (b)-[:T]->(c:n {name:'c'})")
    val w = s.cypher(
      "CALL gds.wcc.write('T', 'comp') YIELD nodePropertiesWritten, writeProperty " +
        "RETURN nodePropertiesWritten, writeProperty").collect().head
    assert(w.getLong(0) == 3L && w.getString(1) == "comp")
    // the written property reads back through ordinary Cypher: the
    // chain is one component
    val comps = s.cypher("MATCH (n:n) RETURN n.name AS name, n.comp AS c").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(comps.size == 3 && comps.values.toSet.size == 1)
    // pageRank.write with the default property name
    s.cypher("CALL gds.pageRank.write('T', 5) YIELD nodePropertiesWritten " +
      "RETURN nodePropertiesWritten").collect()
    val pr = s.cypher("MATCH (n:n) RETURN n.name AS name, n.pagerank AS p").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // downstream beats upstream in a chain
    assert(pr("c") > pr("b") && pr("b") > pr("a"))
    // a non-identifier write property refuses loudly (it becomes a column)
    intercept[IllegalArgumentException] {
      s.cypher("CALL gds.wcc.write('T', $p) YIELD writeProperty RETURN writeProperty",
        Map("p" -> "x; DROP")).collect()
    }
    // meta columns are entity identity, not properties: writing `id`
    // or `labels` would corrupt the node table via replacement rows
    // (ADVICE r14 — the SET n = {map} refusal class)
    Seq("id", "labels", "__tombstone").foreach { bad =>
      val e = intercept[IllegalArgumentException] {
        s.cypher(s"CALL gds.wcc.write('T', '$bad') YIELD writeProperty RETURN writeProperty")
          .collect()
      }
      assert(e.getMessage.contains("entity identity"), s"$bad: ${e.getMessage}")
    }
  }

  test("gds write sweep: louvain/labelPropagation/degree node writes, nodeSimilarity rel write") {
    val s = sessionWith("graph-data-science")
    // two triangles sharing no edge: clean communities, real degrees,
    // and similar neighbor sets for the Jaccard write
    s.cypher("UNWIND range(0, 5) AS x CREATE (:gw {k: x})")
    val tri = Seq((0L, 1L), (1L, 2L), (0L, 2L), (3L, 4L), (4L, 5L), (3L, 5L))
    s.cypher(
      """UNWIND $batch AS row MATCH (a:gw {k: row.a}), (b:gw {k: row.b})
        |MERGE (a)-[:GW]->(b)""".stripMargin,
      Map("batch" -> tri.map { case (a, b) => Map("a" -> a, "b" -> b) }))
    def prop(p: String): Map[Long, Long] =
      s.cypher(s"MATCH (n:gw) WHERE n.$p IS NOT NULL RETURN n.k AS k, n.$p AS v")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    s.cypher("CALL gds.louvain.write('GW', 3, 'comm') YIELD nodePropertiesWritten " +
      "RETURN nodePropertiesWritten").collect()
    val comm = prop("comm")
    assert(comm.size == 6)
    assert(Set(comm(0), comm(1), comm(2)).size == 1 &&
      Set(comm(3), comm(4), comm(5)).size == 1 && comm(0) != comm(3))
    s.cypher("CALL gds.labelPropagation.write('GW', 5, 'lp') YIELD nodePropertiesWritten " +
      "RETURN nodePropertiesWritten").collect()
    assert(prop("lp").size == 6)
    s.cypher("CALL gds.degree.write('GW', 'odeg') YIELD nodePropertiesWritten " +
      "RETURN nodePropertiesWritten").collect()
    val odeg = prop("odeg")
    assert(odeg(0) == 2 && odeg(1) == 1 && odeg(2) == 0, s"got $odeg")
    // centrality writes: same one-fold shape, score columns differ
    s.cypher("CALL gds.eigenvector.write('GW', 5, 'ev') YIELD nodePropertiesWritten " +
      "RETURN nodePropertiesWritten").collect()
    assert(prop("ev").size == 6 && prop("ev").values.forall(_ >= 0))
    s.cypher("CALL gds.articleRank.write('GW', 5, 'ar') YIELD nodePropertiesWritten " +
      "RETURN nodePropertiesWritten").collect()
    assert(prop("ar").size == 6 && prop("ar").values.forall(_ > 0))
    // BFS-family writes (r15 verdict #2: the sweep must not stop at
    // articleRank) — sampled-source signature like their read verbs;
    // sampleMod=1 scores every node on the bounded fixture
    s.cypher("CALL gds.closeness.write('GW', 10, 1, 1, 'clw') " +
      "YIELD nodePropertiesWritten RETURN nodePropertiesWritten").collect()
    val clw = prop("clw")
    // undirected triangle: every node reaches the other 2 at distance
    // 1 → closeness = 2*1e6 // 2 = 1e6, both components alike
    assert(clw.size == 6 && clw.values.forall(_ == 1000000L), s"got $clw")
    s.cypher("CALL gds.harmonic.write('GW', 10, 1, 1, 'hw') " +
      "YIELD nodePropertiesWritten RETURN nodePropertiesWritten").collect()
    val hw = prop("hw")
    assert(hw.size == 6 && hw.values.forall(_ == 2000000L), s"got $hw")
    s.cypher("CALL gds.triangleCount.write('GW', 'tcw') " +
      "YIELD nodePropertiesWritten RETURN nodePropertiesWritten").collect()
    val tcw = prop("tcw")
    assert(tcw.size == 6 && tcw.values.forall(_ == 1L), s"got $tcw")
    // triangles have no interior vertices (stress 0 everywhere, and
    // the stress output is positive-only): the write verb writes
    // nothing — then a bridge node between the components becomes the
    // interior of every cross-triangle shortest path and gets real
    // stress written back
    val bw0 = s.cypher("CALL gds.betweenness.write('GW', 6, 1, 1, 'bw') " +
      "YIELD nodePropertiesWritten RETURN nodePropertiesWritten").collect().head.getLong(0)
    assert(bw0 == 0L && prop("bw").isEmpty)
    s.cypher("CREATE (:gw {k: 6})")
    s.cypher("MATCH (a:gw {k: 2}), (c:gw {k: 6}) MERGE (a)-[:GW]->(c)")
    s.cypher("MATCH (c:gw {k: 6}), (b:gw {k: 3}) MERGE (c)-[:GW]->(b)")
    s.cypher("CALL gds.betweenness.write('GW', 6, 1, 1, 'bw') " +
      "YIELD nodePropertiesWritten RETURN nodePropertiesWritten").collect()
    val bw = prop("bw")
    assert(bw.nonEmpty && bw.values.forall(_ > 0), s"got $bw")
    assert(bw.contains(6L), s"bridge node has no stress: $bw")
    // relationship write: NEW [:SIM {jac}] edges land in the edge
    // delta and read back through ordinary pattern matching
    val w = s.cypher(
      "CALL gds.nodeSimilarity.write('GW', 1, 10, 'SIM', 'jac') " +
        "YIELD relationshipsWritten, writeRelationshipType, writeProperty " +
        "RETURN relationshipsWritten, writeRelationshipType, writeProperty")
      .collect().head
    assert(w.getLong(0) > 0 && w.getString(1) == "SIM" && w.getString(2) == "jac")
    val sims = s.cypher(
      "MATCH (a:gw)-[r:SIM]->(b:gw) RETURN a.k AS a, b.k AS b, r.jac AS jac " +
        "ORDER BY a, b").collect()
    assert(sims.length == w.getLong(0))
    assert(sims.forall(r => r.getLong(2) > 0 && r.getLong(2) <= 1000000))
    // nodes 0 and 1 both point at 2: Jaccard({1,2},{2}) = 1/2
    assert(sims.exists(r => r.getLong(0) == 0 && r.getLong(1) == 1 &&
      r.getLong(2) == 500000), sims.mkString(","))
    // refusals: rel-side meta names and non-identifier rel types
    intercept[IllegalArgumentException] {
      s.cypher("CALL gds.nodeSimilarity.write('GW', 1, 10, 'SIM', 'src') " +
        "YIELD relationshipsWritten RETURN relationshipsWritten").collect()
    }
    intercept[IllegalArgumentException] {
      s.cypher("CALL gds.nodeSimilarity.write('GW', 1, 10, 'x; DROP', 'jac') " +
        "YIELD relationshipsWritten RETURN relationshipsWritten").collect()
    }
  }

  test("apoc.refactor.cloneNodes and refactor.to/from re-point through the deltas") {
    val s = new GraftSession(spark)
    Packs.install(s, Seq("apoc"))
    s.cypher("CREATE (a:cl {name:'a', v: 1})-[:K {w: 7}]->(b:cl {name:'b'})")
    s.cypher("MATCH (a:cl {name:'a'}) CREATE (a)-[:K {w: 8}]->(a)") // self-loop
    def idOf(q: String): Long = s.cypher(q).collect().head.getLong(0)
    val a = idOf("MATCH (n:cl {name:'a'}) RETURN id(n) AS i")
    // clone without relationships, skipping one property
    val pair = s.cypher(
      s"CALL apoc.refactor.cloneNodes([$a], false, ['v']) YIELD input, output " +
        "RETURN input, output").collect().head
    assert(pair.getLong(0) == a)
    val clone1 = pair.getLong(1)
    val c1 = s.cypher(s"MATCH (n:cl) WHERE id(n) = $clone1 " +
      "RETURN n.name AS name, n.v AS v").collect().head
    assert(c1.getString(0) == "a" && c1.isNullAt(1)) // skipProperties honored
    assert(s.cypher(s"MATCH (n)-[r:K]->() WHERE id(n) = $clone1 RETURN count(r) AS c")
      .collect().head.getLong(0) == 0L)
    // clone WITH relationships: out-edge to b copies, self-loop clones
    // as a self-loop on the clone, properties ride along
    val clone2 = s.cypher(
      s"CALL apoc.refactor.cloneNodes([$a], true) YIELD output RETURN output")
      .collect().head.getLong(0)
    val rels = s.cypher(s"MATCH (n)-[r:K]->(m) WHERE id(n) = $clone2 " +
      "RETURN id(m) AS m, r.w AS w ORDER BY w").collect()
    assert(rels.length == 2)
    assert(rels.head.getLong(1) == 7L && rels.head.getLong(0) != clone2) // → b
    assert(rels(1).getLong(1) == 8L && rels(1).getLong(0) == clone2)     // self-loop
    assert(s.cypher(s"MATCH (n)-[r:K]->(m) WHERE id(m) = $clone2 AND id(n) <> $clone2 " +
      "RETURN count(r) AS c").collect().head.getLong(0) == 0L) // no spurious in-copies
    // refactor.to re-points the original a→b edge onto the clone
    val eid = idOf(s"MATCH (n)-[r:K {w: 7}]->(:cl {name:'b'}) WHERE id(n) = $a " +
      "RETURN id(r) AS i")
    s.cypher(s"CALL apoc.refactor.to($eid, $clone1) YIELD id RETURN id").collect()
    assert(s.cypher(s"MATCH (n)-[r:K {w: 7}]->(m) WHERE id(n) = $a " +
      "RETURN id(m) AS m").collect().head.getLong(0) == clone1)
    // refactor.from re-points its start
    s.cypher(s"CALL apoc.refactor.from($eid, $clone2) YIELD id RETURN id").collect()
    assert(s.cypher(s"MATCH (n)-[r:K {w: 7}]->(m) WHERE id(m) = $clone1 " +
      "RETURN id(n) AS i").collect().head.getLong(0) == clone2)
    // unknown ids refuse loudly
    intercept[NoSuchElementException] {
      s.cypher("CALL apoc.refactor.to(99999, 0) YIELD id RETURN id").collect()
    }
    intercept[NoSuchElementException] {
      s.cypher("CALL apoc.refactor.cloneNodes([99999]) YIELD output RETURN output").collect()
    }
  }

  test("apoc.meta.stats / apoc.schema.assert / apoc.convert.toJson") {
    val s = new GraftSession(spark)
    Packs.install(s, Seq("apoc"))
    s.cypher("CREATE (a:ms {k: 1})-[:MA]->(b:ms {k: 2})")
    s.cypher("CREATE (c:ms:extra {k: 3, note: 'x'})")
    s.cypher("MATCH (a:ms {k: 1}), (c:ms {k: 3}) MERGE (a)-[:MB]->(c)")
    val st = s.cypher(
      "CALL apoc.meta.stats() YIELD labelCount, relTypeCount, nodeCount, " +
        "relCount, labels, relTypes " +
        "RETURN labelCount, relTypeCount, nodeCount, relCount, labels, relTypes")
      .collect().head
    assert(st.getLong(0) == 2L && st.getLong(1) == 2L) // ms, extra | MA, MB
    assert(st.getLong(2) == 3L && st.getLong(3) == 2L)
    assert(st.getAs[Map[String, Long]]("labels") == Map("extra" -> 1L, "ms" -> 3L))
    assert(st.getAs[Map[String, Long]]("relTypes") == Map("MA" -> 1L, "MB" -> 1L))
    // schema.assert: creates the wanted, keeps the matching, drops the
    // unlisted — the init-script idempotent shape
    s.cypher("CREATE INDEX old_idx FOR (n:ms) ON (n.gone)")
    val a1 = s.cypher(
      "CALL apoc.schema.assert({ms: ['k']}, {ms: ['note']}) " +
        "YIELD label, key, unique, action RETURN label, key, unique, action")
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2), r.getString(3)))
    assert(a1.toSet == Set(("ms", "gone", false, "DROPPED"),
      ("ms", "k", false, "CREATED"), ("ms", "note", true, "CREATED")), a1.mkString(","))
    // re-assert: everything KEPT, nothing recreated
    val a2 = s.cypher(
      "CALL apoc.schema.assert({ms: ['k']}, {ms: ['note']}) " +
        "YIELD action RETURN action").collect().map(_.getString(0))
    assert(a2.toSeq == Seq("KEPT", "KEPT"), a2.mkString(","))
    // the asserted constraint ENFORCES (duplicate note refuses)
    s.cypher("MATCH (n:ms {k: 1}) SET n.note = 'dup'")
    intercept[Exception] {
      s.cypher("MATCH (n:ms {k: 2}) SET n.note = 'dup'")
    }
    // toJson: scalars, lists, maps — one serialization surface
    val j = s.cypher(
      "RETURN apoc.convert.toJson(1) AS a, apoc.convert.toJson('x') AS b, " +
        "apoc.convert.toJson([1, 2]) AS c, apoc.convert.toJson(null) AS d")
      .collect().head
    assert(j.getString(0) == "1" && j.getString(1) == "\"x\"")
    assert(j.getString(2) == "[1,2]" && j.getString(3) == "null")
  }

  test("apoc.refactor.setType and refactor.invert rewrite in place, eid preserved") {
    val s = new GraftSession(spark)
    Packs.install(s, Seq("apoc"))
    s.cypher("CREATE (a:rst {name:'a'})-[:OLD {w: 5}]->(b:rst {name:'b'})")
    def idOf(q: String): Long = s.cypher(q).collect().head.getLong(0)
    val eid = idOf("MATCH (:rst {name:'a'})-[r:OLD]->() RETURN id(r) AS i")
    // setType: the NEW type is visible to typed expands, the old one
    // matches nothing, properties and identity ride along
    val got = idOf(s"CALL apoc.refactor.setType($eid, 'NEW') YIELD id RETURN id")
    assert(got == eid)
    assert(s.cypher("MATCH ()-[r:OLD]->() RETURN count(r) AS c")
      .collect().head.getLong(0) == 0L)
    val row = s.cypher(
      "MATCH (a:rst)-[r:NEW]->(b:rst) RETURN a.name AS a, b.name AS b, r.w AS w, id(r) AS i")
      .collect().head
    assert(row.getString(0) == "a" && row.getString(1) == "b" &&
      row.getLong(2) == 5L && row.getLong(3) == eid)
    // invert: stored orientation flips, type/props/eid untouched
    assert(idOf(s"CALL apoc.refactor.invert($eid) YIELD id RETURN id") == eid)
    val inv = s.cypher(
      "MATCH (x:rst)-[r:NEW]->(y:rst) RETURN x.name AS x, y.name AS y, r.w AS w, id(r) AS i")
      .collect().head
    assert(inv.getString(0) == "b" && inv.getString(1) == "a" &&
      inv.getLong(2) == 5L && inv.getLong(3) == eid)
    // refusals: unknown eid, non-identifier type
    intercept[NoSuchElementException] {
      s.cypher("CALL apoc.refactor.invert(99999) YIELD id RETURN id").collect()
    }
    intercept[IllegalArgumentException] {
      s.cypher(s"CALL apoc.refactor.setType($eid, 'x; DROP') YIELD id RETURN id").collect()
    }
  }

  test("apoc.refactor.rename.type/.label rewrite in bulk through the deltas") {
    val s = new GraftSession(spark)
    Packs.install(s, Seq("apoc"))
    s.cypher("CREATE (a:rlb {k: 1})-[:OT {w: 1}]->(b:rlb {k: 2})")
    s.cypher("MATCH (a:rlb {k: 1}) CREATE (a)-[:OT {w: 2}]->(a)")
    s.cypher("MATCH (a:rlb {k: 2}) CREATE (a)-[:KEEP {w: 3}]->(a)")
    def one(q: String): Long = s.cypher(q).collect().head.getLong(0)
    assert(one("CALL apoc.refactor.rename.type('OT', 'NT') YIELD total RETURN total") == 2L)
    assert(one("MATCH ()-[r:OT]->() RETURN count(r) AS c") == 0L)
    assert(one("MATCH ()-[r:NT]->() RETURN count(r) AS c") == 2L)
    assert(one("MATCH ()-[r:KEEP]->() RETURN count(r) AS c") == 1L) // untouched
    assert(s.cypher("MATCH ()-[r:NT]->() RETURN r.w AS w ORDER BY w")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L)) // props ride along
    // label rename; a node already carrying BOTH labels dedups to one
    s.cypher("MATCH (n:rlb {k: 2}) SET n:rlb2")
    assert(one("CALL apoc.refactor.rename.label('rlb', 'rlb2') YIELD total RETURN total") == 2L)
    assert(one("MATCH (n:rlb) RETURN count(n) AS c") == 0L)
    assert(one("MATCH (n:rlb2) RETURN count(n) AS c") == 2L)
    val ls = s.cypher("MATCH (n:rlb2 {k: 2}) RETURN labels(n) AS ls")
      .collect().head.getSeq[String](0)
    assert(ls == Seq("rlb2"), s"got $ls")
    // zero-match renames are no-ops returning 0; bad targets refuse
    assert(one("CALL apoc.refactor.rename.type('NOPE', 'X') YIELD total RETURN total") == 0L)
    intercept[IllegalArgumentException] {
      s.cypher("CALL apoc.refactor.rename.label('rlb2', 'x; DROP') YIELD total RETURN total")
        .collect()
    }
    // property renames: non-null rows move to the new name, nulls
    // untouched, old name reads null afterwards
    assert(one("CALL apoc.refactor.rename.nodeProperty('k', 'key') YIELD total RETURN total") == 2L)
    assert(s.cypher("MATCH (n:rlb2) RETURN n.key AS k ORDER BY k")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(s.cypher("MATCH (n:rlb2) WHERE n.k IS NOT NULL RETURN count(n) AS c")
      .collect().head.getLong(0) == 0L)
    assert(one("CALL apoc.refactor.rename.typeProperty('w', 'weight') YIELD total RETURN total") == 3L)
    assert(s.cypher("MATCH ()-[r]->() WHERE r.weight IS NOT NULL RETURN count(r) AS c")
      .collect().head.getLong(0) == 3L)
    assert(one("CALL apoc.refactor.rename.nodeProperty('gone', 'g2') YIELD total RETURN total") == 0L)
    intercept[IllegalArgumentException] {
      s.cypher("CALL apoc.refactor.rename.nodeProperty('key', 'labels') YIELD total RETURN total")
        .collect()
    }
    // same-name rename refuses: moving a column onto itself would
    // null it out right after
    intercept[IllegalArgumentException] {
      s.cypher("CALL apoc.refactor.rename.nodeProperty('key', 'key') YIELD total RETURN total")
        .collect()
    }
  }

  test("apoc.refactor.mergeNodes: rels re-point, labels union, duplicates tombstone") {
    val s = new GraftSession(spark)
    Packs.install(s, Seq("apoc"))
    s.cypher("CREATE (a:per {name:'a', x: 1})-[:K {w: 1}]->(b:per {name:'b'})")
    s.cypher("CREATE (c:dup {name:'c', y: 2})")
    s.cypher("MATCH (c:dup {name:'c'}) CREATE (c)-[:K {w: 2}]->(d:per {name:'d'})")
    def idOf(q: String): Long =
      s.cypher(q).collect().head.getLong(0)
    val a = idOf("MATCH (n:per {name:'a'}) RETURN id(n) AS i")
    val c = idOf("MATCH (n:dup {name:'c'}) RETURN id(n) AS i")
    val kept = s.cypher(
      s"CALL apoc.refactor.mergeNodes([$a, $c], {properties:'combine'}) " +
        "YIELD id RETURN id").collect().head.getLong(0)
    assert(kept == a)
    // the duplicate is gone; the kept node carries BOTH labels and the
    // combined props (keep's values win, nulls fill from the duplicate)
    assert(s.cypher("MATCH (n:dup) WHERE n.name = 'c' RETURN count(n) AS c")
      .collect().head.getLong(0) == 0L)
    val merged = s.cypher(
      "MATCH (n:per {name:'a'}) RETURN n.x AS x, n.y AS y, labels(n) AS ls")
      .collect().head
    assert(merged.getLong(0) == 1L && merged.getLong(1) == 2L)
    assert(merged.getSeq[String](2).toSet == Set("per", "dup"))
    // c's outgoing relationship re-pointed onto a — a now reaches b AND d
    val outs = s.cypher(
      "MATCH (n:per {name:'a'})-[r:K]->(m) RETURN m.name AS m, r.w AS w ORDER BY w")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(outs == Seq(("b", 1L), ("d", 2L)))
    // overwrite mode: the duplicate's value wins on conflict
    s.cypher("CREATE (e:ow {name:'e', z: 10})")
    s.cypher("CREATE (f:ow {name:'f', z: 20})")
    val e = idOf("MATCH (n:ow {name:'e'}) RETURN id(n) AS i")
    val f = idOf("MATCH (n:ow {name:'f'}) RETURN id(n) AS i")
    s.cypher(s"CALL apoc.refactor.mergeNodes([$e, $f], {properties:'overwrite'}) " +
      "YIELD id RETURN id").collect()
    val ow = s.cypher("MATCH (n:ow) RETURN n.z AS z, n.name AS name").collect()
    assert(ow.length == 1 && ow.head.getLong(0) == 20L && ow.head.getString(1) == "f")
    // an unknown id refuses loudly
    intercept[NoSuchElementException] {
      s.cypher(s"CALL apoc.refactor.mergeNodes([$a, 99999]) YIELD id RETURN id").collect()
    }
  }

  test("apoc.cypher.run yields dynamic rows as JSON text; writes refuse") {
    val s = new GraftSession(spark)
    Packs.install(s, Seq("apoc"))
    s.cypher("CREATE (:dyn {k: 1}), (:dyn {k: 2})")
    val rows = s.cypher(
      "CALL apoc.cypher.run('MATCH (n:dyn) RETURN n.k AS k ORDER BY k') " +
        "YIELD value RETURN value").collect().map(_.getString(0)).toSeq
    assert(rows == Seq("""{"k":1}""", """{"k":2}"""))
    val err = intercept[Exception] {
      s.cypher("CALL apoc.cypher.run('CREATE (:dyn {k: 3})') YIELD value RETURN value")
        .collect()
    }
    assert(err.getMessage.contains("read-only"))
    // the doIt variant writes
    s.cypher("CALL apoc.cypher.doIt('CREATE (:dyn {k: 3})') YIELD value RETURN value")
      .collect()
    assert(s.cypher("MATCH (n:dyn) RETURN count(n) AS c")
      .collect().head.getLong(0) == 3L)
  }

  test("apoc.periodic.iterate: batched drive, bulk statement per batch, failures counted") {
    val s = sessionWith("apoc")
    s.cypher("UNWIND range(1, 7) AS i CREATE (:src {k: i})")
    val r = s.cypher(
      """CALL apoc.periodic.iterate(
        |  'MATCH (n:src) RETURN n.k AS k',
        |  'CREATE (:dst {k: row.k})',
        |  {batchSize: 3})
        |YIELD batches, total, failedBatches
        |RETURN batches, total, failedBatches""".stripMargin).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((3L, 7L, 0L)))
    assert(s.cypher("MATCH (d:dst) RETURN count(d) AS n").collect().head.getLong(0) == 7L)
    // all 7 distinct keys arrived (batching didn't drop or duplicate)
    val keys = s.cypher("MATCH (d:dst) RETURN d.k AS k ORDER BY k").collect().map(_.getLong(0))
    assert(keys.toSeq == (1L to 7L))
    // a failing action marks the batch failed and keeps driving
    val bad = s.cypher(
      """CALL apoc.periodic.iterate(
        |  'MATCH (n:src) RETURN n.k AS k',
        |  'SET n.k = 0',
        |  {batchSize: 4})
        |YIELD batches, failedBatches, errorMessages
        |RETURN batches, failedBatches, errorMessages""".stripMargin).collect().head
    assert(bad.getLong(0) == 2L && bad.getLong(1) == 2L)
    assert(bad.getString(2).nonEmpty)
  }

  test("db.index.vector.queryNodes: top-k by cosine against the indexed label") {
    import org.apache.spark.sql.functions._
    val s = new GraftSession(spark)
    val nodes = spark.range(4).select(
      col("id"),
      array(lit("doc")).as("labels"),
      // unit-ish vectors at distinct angles from the +x axis
      when(col("id") === 0, array(lit(1.0), lit(0.0)))
        .when(col("id") === 1, array(lit(0.8), lit(0.6)))
        .when(col("id") === 2, array(lit(0.0), lit(1.0)))
        .otherwise(array(lit(-1.0), lit(0.0))).as("embedding"))
    val edges = spark.range(0).select(col("id").as("src"), col("id").as("dst"),
      lit("T").as("relType"))
    s.setGraph(graft.core.PropertyGraph(nodes, edges))
    // index must exist and must be a VECTOR index
    intercept[NoSuchElementException] {
      s.cypher("CALL db.index.vector.queryNodes('nope', 2, [1.0, 0.0]) YIELD nodeId, score RETURN nodeId, score").collect()
    }
    s.cypher("CREATE VECTOR INDEX doc_vec FOR (d:doc) ON d.embedding " +
      "OPTIONS {indexConfig: {`vector.similarity_function`: 'cosine'}}")
    val top = s.cypher(
      "CALL db.index.vector.queryNodes('doc_vec', 2, [1.0, 0.0]) YIELD nodeId, score RETURN nodeId, score")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(top.map(_._1).toSeq == Seq(0L, 1L))
    assert(math.abs(top(0)._2 - 1.0) < 1e-9 && math.abs(top(1)._2 - 0.8) < 1e-9)
    // non-cosine similarity is refused at CREATE, not silently served
    val err = intercept[UnsupportedOperationException] {
      s.cypher("CREATE VECTOR INDEX bad_vec FOR (d:doc) ON d.embedding " +
        "OPTIONS {indexConfig: {`vector.similarity_function`: 'euclidean'}}")
    }
    assert(err.getMessage.contains("euclidean"))
    // IVF probe path: a full save writes the index's cells/ (hive-
    // partitioned by coarse cell) + centroids/; {probes: n} then scans
    // only the n best cells. With ≤64 vectors every vector is its own
    // centroid, so probing p cells IS the exact top-p — equality holds.
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_").toString
    s.saveDatabase(tmp)
    val ivf2 = s.cypher(
      "CALL db.index.vector.queryNodes('doc_vec', 2, [1.0, 0.0], {probes: 2}) " +
        "YIELD nodeId, score RETURN nodeId, score")
    val p2 = ivf2.queryExecution.executedPlan.toString
    assert(p2.contains("index_aux"), "probe path does not read the IVF projection:\n" + p2)
    assert(p2.contains("_ivf_cell"), "probe path not partition-pruned by cell:\n" + p2)
    val got2 = ivf2.collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got2.map(_._1).toSeq == Seq(0L, 1L), got2.mkString(","))
    assert(math.abs(got2(0)._2 - 1.0) < 1e-9 && math.abs(got2(1)._2 - 0.8) < 1e-9)
    // probes=1 narrows to the single best cell — genuinely
    // approximate. With r19 MULTI-ASSIGNMENT (top-2 cells per vector)
    // vector 1 also lives in vector 0's cell, so k=2 at probes=1 is
    // now exact — the recall win, pinned; k=3 shows the
    // approximation: vector 2's primary cell stays unprobed.
    val got1 = s.cypher(
      "CALL db.index.vector.queryNodes('doc_vec', 2, [1.0, 0.0], {probes: 1}) " +
        "YIELD nodeId RETURN nodeId").collect().map(_.getLong(0))
    assert(got1.toSeq == Seq(0L, 1L), got1.mkString(","))
    val got1k3 = s.cypher(
      "CALL db.index.vector.queryNodes('doc_vec', 3, [1.0, 0.0], {probes: 1}) " +
        "YIELD nodeId RETURN nodeId").collect().map(_.getLong(0))
    assert(got1k3.toSeq == Seq(0L, 1L), got1k3.mkString(","))
    // a mutation COMPOSES (r17): the probe stays cell-pruned, the
    // delta-touched ids leave the cell scan, and the delta's live
    // indexed slice is brute-forced alongside. A non-vector CREATE
    // changes nothing except staying routed…
    s.cypher("CREATE (:doc {note: 1})")
    val after = s.cypher(
      "CALL db.index.vector.queryNodes('doc_vec', 2, [1.0, 0.0], {probes: 1}) " +
        "YIELD nodeId RETURN nodeId")
    assert(after.queryExecution.executedPlan.toString.contains("index_aux"),
      "node mutation degraded the IVF probe to the exact scan")
    assert(after.collect().map(_.getLong(0)).toSeq == Seq(0L, 1L))
    // …and a NEW vector is visible to the probe despite probes=1 —
    // it rides the delta slice, not any (stale) cell
    s.cypher("CREATE (:doc {embedding: $v})", Map("v" -> Seq(0.99, 0.01)))
    val withNew = s.cypher(
      "CALL db.index.vector.queryNodes('doc_vec', 2, [1.0, 0.0], {probes: 1}) " +
        "YIELD nodeId RETURN nodeId")
    assert(withNew.queryExecution.executedPlan.toString.contains("index_aux"))
    assert(withNew.collect().map(_.getLong(0)).toSeq == Seq(0L, 5L),
      "delta-born vector missing from the composed probe")
    // ADVICE r19: the dedup-as-filter probe removed the dropDuplicates
    // safety net, so top-k uniqueness also rests on the delta layers
    // holding ONE row per id. Touch the same indexed node twice (two
    // SET statements fold into the overlay) and pin that the probe
    // still returns each id at most once, with the LATEST value.
    s.cypher("MATCH (d:doc) WHERE id(d) = 0 SET d.embedding = $v",
      Map("v" -> Seq(0.98, 0.02)))
    s.cypher("MATCH (d:doc) WHERE id(d) = 0 SET d.embedding = $v",
      Map("v" -> Seq(0.97, 0.03)))
    val twice = s.cypher(
      "CALL db.index.vector.queryNodes('doc_vec', 4, [1.0, 0.0], {probes: 1}) " +
        "YIELD nodeId RETURN nodeId").collect().map(_.getLong(0))
    assert(twice.length == twice.distinct.length,
      s"probe returned duplicate ids after repeated delta writes: ${twice.mkString(",")}")
    assert(twice.contains(0L), "twice-written vector missing from the probe")
    graft.core.SnapshotStore.deleteDir(tmp)
  }

  test("IVF training: recall floor on a clustered corpus, centroids off the seeds") {
    import org.apache.spark.sql.functions._
    // 512 vectors in 8 well-separated clusters over 16 dims: cluster
    // c's center is 1.0 on dim 2c plus 0.5 on dim 2c+1; member jitter
    // is a small deterministic function of (id, dim). Ids interleave
    // clusters (id % 8) so the 64 lowest-id Lloyd SEEDS start spread
    // across clusters. With probes=8 of 64 cells a query at a cluster
    // center must find essentially its whole exact top-10 — the
    // trained quantizer's cells align with the clusters (r16 verdict
    // #3's "recall on organic distributions" pin).
    val dim = 16
    def member(i: Int): Seq[Double] = {
      val c = i % 8
      (0 until dim).map { d =>
        val base = if (d == 2 * c) 1.0 else if (d == 2 * c + 1) 0.5 else 0.0
        base + ((i * 31 + d * 17) % 11 - 5) * 0.02
      }
    }
    val rows = (0 until 512).map(i => (i.toLong, member(i)))
    import spark.implicits._
    val nodes = rows.toDF("id", "v")
      .select(col("id"), array(lit("emb")).as("labels"), col("v").as("embedding"))
    val s = new GraftSession(spark)
    s.setGraph(graft.core.PropertyGraph(nodes,
      graft.core.PropertyGraph.empty(spark).edges))
    s.cypher("CREATE VECTOR INDEX cl_vec FOR (n:emb) ON n.embedding " +
      "OPTIONS {indexConfig: {`vector.similarity_function`: 'cosine'}}")
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivftrain_").toString
    s.saveDatabase(tmp)
    // recall@10 across the probe-budget curve (r17 verdict #3): one
    // query per cluster center, probes ∈ {4, 8, 16} of 64 cells
    def recallAt(probes: Int): Double = (0 until 8).map { c =>
      val q = (0 until dim).map(d =>
        if (d == 2 * c) 1.0 else if (d == 2 * c + 1) 0.5 else 0.0)
      def ids(opts: String) = s.cypher(
        s"CALL db.index.vector.queryNodes('cl_vec', 10, $$v$opts) " +
          "YIELD nodeId RETURN nodeId", Map("v" -> q))
        .collect().map(_.getLong(0)).toSet
      val ivf = ids(s", {probes: $probes}")
      ids("").intersect(ivf).size / 10.0
    }.sum / 8.0
    val avg = recallAt(8)
    assert(avg >= 0.9, s"trained-IVF recall@10 too low at probes=8: $avg")
    val avg16 = recallAt(16)
    assert(avg16 >= 0.9, s"trained-IVF recall@10 too low at probes=16: $avg16")
    // a bigger probe budget can only widen the scanned cell set
    assert(avg16 >= recallAt(4) - 1e-9,
      "recall not monotone in the probe budget")
    // training must have MOVED the quantizer off its lowest-id seeds:
    // most centroids are multi-member means, not stored vectors
    val cents = spark.read.parquet(s"$tmp/databases/neo4j/index_aux/cl_vec/centroids")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1)))
    val seeds = rows.take(64).map(_._2).toSet
    val moved = cents.count { case (_, v) => !seeds.contains(v.toIndexedSeq) }
    // singleton cells legitimately keep their seed (a one-member mean
    // IS the member); the pin is that multi-member cells exist and
    // their centroids became means — at least one per cluster
    assert(moved >= 8,
      s"only $moved/${cents.length} centroids moved off the lowest-id seeds")
    graft.core.SnapshotStore.deleteDir(tmp)
  }

  test("compaction retrains the IVF quantizer; the probe path routes after reload") {
    // r17 verdict #3: an incremental save keeps the sealed centroids
    // (the projection composes with the delta), but a COMPACTION folds
    // the delta into the base — the quantizer must retrain on the
    // folded data (compact → write → writeIndexAux runs the Lloyd
    // trainer), not keep serving pre-delta cells with drifting recall.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dim = 8
    def member(i: Int): Seq[Double] = (0 until dim).map { d =>
      (if (d == 2 * (i % 4)) 1.0 else 0.0) + ((i * 13 + d * 7) % 9 - 4) * 0.02
    }
    val nodes = (0 until 256).map(i => (i.toLong, member(i)))
      .toDF("id", "v")
      .select(col("id"), array(lit("emb")).as("labels"), col("v").as("embedding"))
    val s = new GraftSession(spark)
    s.setGraph(graft.core.PropertyGraph(nodes,
      graft.core.PropertyGraph.empty(spark).edges))
    s.cypher("CREATE VECTOR INDEX cp_vec FOR (n:emb) ON n.embedding " +
      "OPTIONS {indexConfig: {`vector.similarity_function`: 'cosine'}}")
    val tmp = java.nio.file.Files.createTempDirectory("gcpr_").toString
    s.saveDatabase(tmp)
    val dir = s"$tmp/databases/neo4j"
    def cents(): Seq[(Int, Seq[Double])] =
      spark.read.parquet(s"$dir/index_aux/cp_vec/centroids")
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq.sortBy(_._1)
    val sealedCents = cents()
    // a delta lands (a new dense blob far from every trained cell) and
    // the save stays INCREMENTAL: centroids untouched, probe composed
    val blob = (0 until dim).map(d => if (d == 7) 1.0 else 0.0)
    s.cypher("UNWIND $rows AS row CREATE (:emb {embedding: row.v})",
      Map("rows" -> (0 until 40).map(i =>
        Map("v" -> blob.updated(0, i * 0.001)))))
    s.saveDatabase(tmp)
    assert(cents() == sealedCents,
      "incremental save rewrote the sealed centroids")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/nodes_delta")))
    // compaction folds the delta AND retrains on the folded corpus
    graft.core.SnapshotStore.compact(spark, dir)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/nodes_delta")))
    assert(cents() != sealedCents,
      "compaction kept the stale pre-delta quantizer")
    // a fresh load routes through the retrained projection: a blob
    // query at probes=1 (single best cell) finds blob members — the
    // retrained cells cover the new mass
    val s2 = new GraftSession(spark)
    s2.loadDatabase(tmp)
    val got = s2.cypher(
      "CALL db.index.vector.queryNodes('cp_vec', 5, $v, {probes: 1}) " +
        "YIELD nodeId RETURN nodeId", Map("v" -> blob))
      .collect().map(_.getLong(0)).toSet
    assert(got.size == 5 && got.forall(_ >= 256L),
      s"probe after compaction+reload missed the folded blob: $got")
    graft.core.SnapshotStore.deleteDir(tmp)
  }

  test("db.index.fulltext.queryNodes: term-frequency scored, ordered, misses dropped") {
    import org.apache.spark.sql.functions._
    val s = new GraftSession(spark)
    val nodes = spark.range(3).select(
      col("id"),
      array(lit("doc")).as("labels"),
      when(col("id") === 0, lit("spark spark graph engine"))
        .when(col("id") === 1, lit("graph database"))
        .otherwise(lit("unrelated text")).as("body"))
    val edges = spark.range(0).select(col("id").as("src"), col("id").as("dst"),
      lit("T").as("relType"))
    s.setGraph(graft.core.PropertyGraph(nodes, edges))
    s.cypher("CREATE FULLTEXT INDEX doc_txt FOR (d:doc) ON EACH [d.body]")
    val hits = s.cypher(
      "CALL db.index.fulltext.queryNodes('doc_txt', 'spark graph') YIELD nodeId, score RETURN nodeId, score")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // doc0: spark×2 + graph×1 = 3; doc1: graph×1 = 1; doc2 dropped
    assert(hits.toSeq == Seq((0L, 3L), (1L, 1L)))
    // kind mismatch is a loud error
    val err = intercept[IllegalArgumentException] {
      s.cypher("CALL db.index.vector.queryNodes('doc_txt', 1, [1.0]) YIELD nodeId, score RETURN nodeId").collect()
    }
    assert(err.getMessage.contains("FULLTEXT"))
  }

  test("gds.betweenness: stress counts on diamond and chain match hand computation") {
    val s = sessionWith("graph-data-science")
    // diamond: 0-1, 0-2, 1-3, 2-3 (+ an attached chain 3-4-5)
    s.cypher("CREATE (a:n {k:0})-[:T]->(b:n {k:1})")
    s.cypher("MATCH (a:n {k:0}) CREATE (a)-[:T]->(c:n {k:2})")
    s.cypher("MATCH (b:n {k:1}) CREATE (b)-[:T]->(d:n {k:3})")
    s.cypher("MATCH (c:n {k:2}), (d:n {k:3}) CREATE (c)-[:T]->(d)")
    s.cypher("MATCH (d:n {k:3}) CREATE (d)-[:T]->(e:n {k:4})")
    s.cypher("MATCH (e:n {k:4}) CREATE (e)-[:T]->(f:n {k:5})")
    val stress = s.cypher(
      "CALL gds.betweenness('T', 6) YIELD node_id, stress RETURN node_id, stress")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // hand count of Σ_s |{(shortest s->t path, interior v)}| per v:
    //   node 3 sits on every path between {0,1,2} and {4,5} (both
    //   0-side shortest routes where both exist), node 4 on every
    //   path to/from 5, nodes 1 and 2 split the 0<->3-side traffic
    assert(stress == Map(0L -> 2L, 1L -> 6L, 2L -> 6L, 3L -> 18L, 4L -> 10L))
    assert(!stress.contains(5L)) // the degree-1 leaf is never interior
  }

  test("gds.kcore: pendant peeled, triangle survives, cascade empties") {
    val s = sessionWith("graph-data-science")
    // triangle 0-1-2 with pendant 3 hanging off 0
    s.cypher("CREATE (a:n {k:0})-[:T]->(b:n {k:1})")
    s.cypher("MATCH (b:n {k:1}) CREATE (b)-[:T]->(c:n {k:2})")
    s.cypher("MATCH (a:n {k:0}), (c:n {k:2}) CREATE (c)-[:T]->(a)")
    s.cypher("MATCH (a:n {k:0}) CREATE (a)-[:T]->(d:n {k:3})")
    val core2 = s.cypher("CALL gds.kcore('T', 2) YIELD node_id, deg RETURN node_id, deg")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core2 == Map(0L -> 2L, 1L -> 2L, 2L -> 2L)) // pendant gone, triangle intact
    val core3 = s.cypher("CALL gds.kcore('T', 3) YIELD node_id, deg RETURN node_id, deg")
      .collect()
    assert(core3.isEmpty) // peel cascades to nothing
  }

  test("weighted projection: relationshipProperties prunes columns; dijkstra names its weight") {
    val s = sessionWith("graph-data-science")
    s.cypher("CREATE (a:w {k:1})-[:R {weight: 2, extra: 9}]->(b:w {k:2})")
    s.cypher("MATCH (b:w {k:2}) CREATE (b)-[:R {weight: 3, extra: 9}]->(c:w {k:3})")
    // declared property survives, undeclared is pruned from the view
    s.cypher("CALL gds.graph.project('wg', 'w', 'R', 'weight') YIELD graphName RETURN graphName")
      .collect()
    val proj = s.projectedGraphs("wg")
    assert(proj.edges.columns.contains("weight"))
    assert(!proj.edges.columns.contains("extra"))
    // weighted dijkstra over the named projection
    val ids = s.cypher("MATCH (n:w) RETURN n.k AS k, id(n) AS i").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val costs = s.cypher(
      s"CALL gds.dijkstra(${ids(1L)}, 'wg', 'weight') YIELD node_id, cost RETURN node_id, cost")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(costs(ids(1L)) == 0L && costs(ids(2L)) == 2L && costs(ids(3L)) == 5L)
    // an undeclared weight property refuses loudly
    val e = intercept[IllegalArgumentException](
      s.cypher(s"CALL gds.dijkstra(${ids(1L)}, 'wg', 'extra') YIELD node_id, cost RETURN node_id"))
    assert(e.getMessage.contains("relationshipProperties"))
    // a nonexistent declared property refuses at projection time
    val e2 = intercept[IllegalArgumentException](
      s.cypher("CALL gds.graph.project('wg2', 'w', 'R', 'nope') YIELD graphName RETURN graphName")
        .collect())
    assert(e2.getMessage.contains("not found"))
  }

  test("genai.vector.encode stub: deterministic unit-scale vectors compose with cosine") {
    val s = sessionWith("genai")
    val r = s.cypher(
      """UNWIND ['spark engine', 'spark engine', 'other text'] AS t
        |RETURN genai.vector.similarity.cosine(
        |  genai.vector.encode(t), genai.vector.encode('spark engine')) AS c""".stripMargin)
      .collect().map(_.getDouble(0))
    assert(math.abs(r(0) - 1.0) < 1e-9 && math.abs(r(1) - 1.0) < 1e-9)
    assert(math.abs(r(2)) < 0.999) // distinct text -> distinct direction
    // deterministic across calls
    val again = s.cypher(
      "UNWIND range(1,1) AS x RETURN genai.vector.encode('spark engine') AS v")
      .collect().head.getSeq[Double](0)
    assert(again.size == 8 && again.forall(v => v >= -1.0 && v < 1.0))
  }

  test("genai cosine scalar works in RETURN") {
    val s = sessionWith("genai")
    val res = s.cypher("UNWIND range(1, 1) AS x RETURN genai.vector.similarity.cosine([1.0, 0.0], [1.0, 0.0]) AS c")
    assert(res.collect().head.getDouble(0) == 1.0)
  }

  test("GraftSession.fromEnv boots config + plugins together (§3.1 pipeline)") {
    val s = GraftSession.fromEnv(spark, Map(
      "NEO4J_PLUGINS" -> """["apoc"]""",
      "NEO4J_server_memory_pagecache_size" -> "42M"))
    assert(s.cypher("RETURN apoc.version() AS v").collect().head.getString(0) == Packs.EngineVersion)
    val conf = s.cypher(
      "CALL dbms.listConfig() YIELD name, value WHERE name = 'server.memory.pagecache.size' RETURN value")
    assert(conf.collect().head.getString(0) == "42M")
    assert(s.config.get.resolved()("dbms.security.procedures.unrestricted") == "apoc.*")
  }

  // ---- file-shaped plugin registry (versions.json resolution) ------
  // The reference resolves plugins via a per-plugin versions.json and
  // degrades gracefully on missing/incompatible registries
  // (docker-entrypoint.sh:155-180, TestPluginInstallation.java:170-227).

  private def writeRegistry(plugin: String, json: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_registry_").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir, plugin))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, plugin, "versions.json"), json)
    dir
  }

  test("registry: a compatible versions.json entry resolves min_by and installs the pack") {
    val s = new GraftSession(spark)
    // two matching entries: exact version must win over the wildcard
    // (jq min_by — digits sort before x), and the resolved jar ref
    // names the pack that actually gets activated
    val dir = writeRegistry("graph-data-science",
      s"""[
         |  {"neo4j": "5.x.x", "jar": "apoc"},
         |  {"neo4j": "${graft.procs.Packs.EngineVersion}", "jar": "graph-data-science"},
         |  {"neo4j": "4.4.0", "jar": "bloom"}
         |]""".stripMargin)
    val logs = collection.mutable.Buffer.empty[String]
    graft.procs.Packs.installFromRegistry(s, dir, Seq("graph-data-science"), logs += _)
    assert(logs.exists(_.contains("Installing Plugin 'graph-data-science' from registry entry 'graph-data-science'")))
    // the gds pack is actually live: its procedure surface registered
    val procs = s.cypher("SHOW PROCEDURES").collect().map(_.getString(0))
    assert(procs.contains("gds.pageRank"))
  }

  test("registry: missing versions.json warns could-not-query and startup continues") {
    val s = new GraftSession(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_registry_empty_").toString
    val logs = collection.mutable.Buffer.empty[String]
    graft.procs.Packs.installFromRegistry(s, dir, Seq("apoc"), logs += _)
    val err = logs.mkString("\n")
    assert(err.contains("ERROR: could not query"))
    assert(err.contains("plugin compatibility information"))
    assert(err.contains("Neo4j will continue to start, but \"apoc\" will not be loaded"))
    // degrade means degrade: the session still works, the pack just is not there
    assert(s.cypher("RETURN 1 AS one").collect().head.getLong(0) == 1L)
    val procs = s.cypher("SHOW PROCEDURES").collect().map(_.getString(0))
    assert(!procs.contains("apoc.version"))
  }

  test("registry: no compatible entry warns no-compatible and startup continues") {
    val s = new GraftSession(spark)
    val dir = writeRegistry("apoc",
      """[ {"neo4j": "4.x.x", "jar": "apoc"}, {"neo4j": "3.5.0", "jar": "apoc"} ]""")
    val logs = collection.mutable.Buffer.empty[String]
    graft.procs.Packs.installFromRegistry(s, dir, Seq("apoc"), logs += _)
    val err = logs.mkString("\n")
    assert(err.contains("ERROR: No compatible \"apoc\" plugin found for Neo4j " +
      graft.procs.Packs.EngineVersion))
    assert(err.contains("Neo4j will continue to start, but \"apoc\" will not be loaded"))
    assert(s.cypher("RETURN 1 AS one").collect().head.getLong(0) == 1L)
  }

  test("apoc.merge.relationship: non-scalar property values dispatch the fallback, not a crash") {
    val s = new GraftSession(spark)
    Packs.install(s, Seq("apoc"))
    val aid = s.cypher("CALL apoc.merge.node(['amfa'], {k: 1}) YIELD id RETURN id")
      .collect().head.getLong(0)
    val bid = s.cypher("CALL apoc.merge.node(['amfb'], {k: 2}) YIELD id RETURN id")
      .collect().head.getLong(0)
    // a LIST onCreate value can't ride the buffered literal fold — the
    // fast path's contract is return-false-and-fall-back (ADVICE r15),
    // so this must land through the ordinary synthesized MERGE
    s.cypher(s"CALL apoc.merge.relationship($aid, 'MF', {}, $$oc, $bid, {}) " +
      "YIELD src, dst RETURN src, dst",
      Map("oc" -> Map("tags" -> Seq("a", "b"))))
      .collect()
    val rows = s.cypher(
      "MATCH (:amfa)-[r:MF]->(:amfb) RETURN r.tags AS tags").collect()
    assert(rows.length == 1)
    assert(rows.head.getSeq[String](0).toSeq == Seq("a", "b"))
    // and a second call with the same shape still MATCHES (no dup)
    s.cypher(s"CALL apoc.merge.relationship($aid, 'MF', {}, $$oc, $bid, {}) " +
      "YIELD src RETURN src", Map("oc" -> Map("tags" -> Seq("a", "b")))).collect()
    assert(s.cypher("MATCH (:amfa)-[r:MF]->(:amfb) RETURN count(r) AS c")
      .collect().head.getLong(0) == 1L)
  }

  test("apoc.merge.relationship: a null value fixes no column type for a later value") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    val s = sessionWith("apoc")
    val nodes = spark.range(2).select(col("id"), array(lit("nv")).as("labels"))
    val edges = spark.createDataFrame(Seq((0L, 1L, "OTHER"))).toDF("src", "dst", "relType")
    s.setGraph(graft.core.PropertyGraph(nodes, edges))
    val db = s.catalog.database("neo4j")
    def merge(oc: String, om: String): Unit =
      s.cypher(s"CALL apoc.merge.relationship(0, 'NV', {}, $oc, 1, $om) YIELD src RETURN src")
        .collect()
    def w(): Any = s.cypher("MATCH (:nv)-[r:NV]->(:nv) RETURN r.w AS w").collect().head.get(0)
    // created with w null: the row reads null and the buffer has no w column
    merge("{w: null}", "{}")
    assert(w() == null)
    assert(db.validEdgeDelta.flatMap(_.buf).exists(b => !b.colTypes.contains("w")))
    // a later integer takes its own type, still through the write buffer
    merge("{}", "{w: 5}")
    assert(w() == 5L)
    assert(db.validEdgeDelta.flatMap(_.buf).exists(_.colTypes.get("w").contains(LongType)))
    // a null ON MATCH value clears the property
    merge("{}", "{w: null}")
    assert(w() == null)
    assert(db.validEdgeDelta.flatMap(_.buf).isDefined)
  }

  test("setGraph derives eid for an eid-less edge frame: reads, SET, DELETE, gds writes") {
    import org.apache.spark.sql.functions._
    val s = sessionWith("graph-data-science")
    val nodes = spark.range(4).select(col("id"), array(lit("nw")).as("labels"))
    // no eid column: a parallel NW pair 0->2 and a second type on the
    // same endpoint pair
    val edges = spark.createDataFrame(Seq((0L, 2L, "NW"), (0L, 2L, "NW"), (1L, 2L, "NW"),
      (0L, 2L, "XT"), (1L, 3L, "XT"))).toDF("src", "dst", "relType")
    s.setGraph(graft.core.PropertyGraph(nodes, edges))
    val db = s.catalog.database("neo4j")
    val setEdges = db.graph.edges
    def count(q: String): Long = s.cypher(q).collect().head.getLong(0)
    assert(count("MATCH (:nw)-[r]->(:nw) RETURN count(r) AS c") == 5L)
    assert(count("MATCH (:nw)-[r:NW]->(:nw) RETURN count(r) AS c") == 3L)
    // id(r) is the (src, dst, relType) hash, the wire id eid-less
    // frames always had
    val derived = edges.select(col("src"), col("dst"), col("relType"),
      xxhash64(col("src"), col("dst"), col("relType"))).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    val read = s.cypher("MATCH (a:nw)-[r]->(b:nw) RETURN id(a) AS a, id(b) AS b, " +
      "type(r) AS t, id(r) AS i").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    assert(read == derived)
    // SET and DELETE fold into the eid-keyed edge delta over the
    // setGraph frame (no whole-table rewrite); the parallel pair
    // shares its eid, so both rows take the value
    s.cypher("MATCH (a:nw)-[r:NW]->(:nw) WHERE id(a) = 0 SET r.x = 7")
    assert(db.validEdgeDelta.exists(_.base eq setEdges), "SET r.x did not go through the edge delta")
    assert(s.cypher("MATCH (:nw)-[r:NW]->(:nw) RETURN r.x AS x").collect()
      .map(r => Option(r.get(0))).toSeq.sortBy(_.toString) == Seq(None, Some(7L), Some(7L)))
    s.cypher("MATCH (a:nw)-[r:XT]->(:nw) WHERE id(a) = 1 DELETE r")
    assert(db.validEdgeDelta.exists(_.base eq setEdges), "DELETE r did not go through the edge delta")
    assert(count("MATCH (:nw)-[r]->(:nw) RETURN count(r) AS c") == 4L)
    // the gds relationship write mints eids past every derived one
    val written = s.cypher("CALL gds.nodeSimilarity.write('NW', 1, 10, 'SIM', 'jac') " +
      "YIELD relationshipsWritten RETURN relationshipsWritten").collect().head.getLong(0)
    assert(written > 0L)
    val minted = s.cypher("MATCH (:nw)-[r:SIM]->(:nw) RETURN id(r) AS i").collect().map(_.getLong(0))
    assert(minted.length == written && minted.distinct.length == minted.length)
    assert(minted.min > derived.map(_._4).max, s"minted ${minted.toSeq} collide with derived eids")
    assert(count("MATCH (:nw)-[r]->(:nw) RETURN count(r) AS c") == 4L + written)
  }

  test("buffered relationship MERGE ON MATCH keeps every parallel row sharing a derived eid") {
    import org.apache.spark.sql.functions._
    val s = sessionWith("apoc")
    val nodes = spark.range(3).select(col("id"), array(lit("pm")).as("labels"), col("id").as("k"))
    // an exact parallel pair 0->1: both rows derive the same eid
    val edges = spark.createDataFrame(Seq((0L, 1L, "PM"), (0L, 1L, "PM"), (1L, 2L, "PM")))
      .toDF("src", "dst", "relType")
    def xs(): Seq[Option[Long]] = s.cypher("MATCH (:pm)-[r:PM]->(:pm) RETURN r.x AS x")
      .collect().map(r => Option(r.get(0)).map(_.asInstanceOf[Long])).toSeq.sortBy(_.toString)
    // each shape starts from a fresh setGraph: an empty edge delta is
    // what lets it take the buffered path at all
    s.setGraph(graft.core.PropertyGraph(nodes, edges))
    s.cypher("CALL apoc.merge.relationship(0, 'PM', {}, {}, 1, {x: 1}) YIELD src RETURN src")
      .collect()
    assert(xs() == Seq(None, Some(1L), Some(1L)))
    s.setGraph(graft.core.PropertyGraph(nodes, edges))
    s.cypher("UNWIND $rows AS row MATCH (a:pm {k: row.a}), (b:pm {k: row.b}) " +
      "MERGE (a)-[r:PM]->(b) ON MATCH SET r.x = 2",
      Map("rows" -> Seq(Map("a" -> 0L, "b" -> 1L)))).collect()
    assert(xs() == Seq(None, Some(2L), Some(2L)))
  }
}
