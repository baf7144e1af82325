package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Replays the reference's canonical data round-trip (the "dogs"
  * fixture — ref DatabaseIO.java:37-86) plus the Cypher surface of
  * SURVEY.md §2.1 against an embedded GraftSession.
  */
class CypherSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  test("C1/C2: CREATE pattern returns created property (putInitialDataIntoContainer)") {
    val s = new GraftSession(spark)
    val res = s.cypher(
      "CREATE (arne:dog {name:'Arne'})-[:SNIFFS]->(bosse:dog {name:'Bosse'}) RETURN arne.name AS name")
    assert(res.collect().map(_.getString(0)).toSeq == Seq("Arne"))
    assert(s.graph().nodes.count() == 2)
    assert(s.graph().edges.count() == 1)
  }

  test("C3: MATCH one-hop expand (verifyInitialDataInContainer)") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (arne:dog {name:'Arne'})-[:SNIFFS]->(bosse:dog {name:'Bosse'})")
    val res = s.cypher("MATCH (a:dog)-[:SNIFFS]->(b:dog) RETURN a.name AS name")
    assert(res.collect().map(_.getString(0)).toSeq == Seq("Arne"))
  }

  test("C5/C16: MATCH..CREATE then sorted name aggregation (putMoreDataIntoContainer)") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (arne:dog {name:'Arne'})-[:SNIFFS]->(bosse:dog {name:'Bosse'})")
    s.cypher(
      "MATCH (bosse:dog {name:'Bosse'}) CREATE (armstrong:dog {name:'Armstrong'})-[:SNIFFS]->(bosse)")
    val res = s.cypher(
      "MATCH (a:dog)-[:SNIFFS]->(b:dog) RETURN a.name AS name ORDER BY name")
    assert(res.collect().map(_.getString(0)).toSeq == Seq("Armstrong", "Arne"))
    // aggregate form used by the ref's comma-join check (DatabaseIO.java:76-82)
    val agg = s.cypher(
      "MATCH (a:dog)-[:SNIFFS]->(b:dog) RETURN collect(a.name) AS names")
    assert(agg.collect().head.getSeq[String](0) == Seq("Armstrong", "Arne"))
  }

  test("C5 distributed: MATCH over many rows CREATE appends per binding without collect") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:v {n: 1}), (b:v {n: 2}), (c:v {n: 3})")
    s.cypher("MATCH (v:v) CREATE (t:tag {kind:'x'})-[:FOR]->(v)")
    assert(s.graph().nodes.count() == 6)
    assert(s.graph().edges.count() == 3)
    // fresh ids are distinct and don't collide with matched ids
    assert(s.graph().nodes.select("id").distinct().count() == 6)
    val res = s.cypher("MATCH (t:tag)-[:FOR]->(v:v) RETURN v.n AS n ORDER BY n")
    assert(res.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
  }

  test("SET updates matched properties by join (existing and new columns)") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:dog {name:'Arne', age: 3}), (b:dog {name:'Bosse', age: 7})")
    s.cypher("MATCH (d:dog {name:'Arne'}) SET d.age = 4, d.city = 'Malmo'")
    val rows = s.cypher("MATCH (d:dog) RETURN d.name AS n, d.age AS a, d.city AS c ORDER BY n")
      .collect().map(r => (r.getString(0), r.getLong(1), Option(r.getString(2))))
    assert(rows.toSeq == Seq(("Arne", 4L, Some("Malmo")), ("Bosse", 7L, None)))
  }

  test("REMOVE nulls a property on matched rows; absent keys are a no-op") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:dog {name:'Arne', age: 3}), (b:dog {name:'Bosse', age: 7})")
    s.cypher("MATCH (d:dog {name:'Arne'}) REMOVE d.age")
    val rows = s.cypher("MATCH (d:dog) RETURN d.name AS n, d.age AS a ORDER BY n")
      .collect().map(r => (r.getString(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
    assert(rows.toSeq == Seq(("Arne", None), ("Bosse", Some(7L))))
    s.cypher("MATCH (d:dog) REMOVE d.nosuchkey") // no-op, no error
    assert(s.graph().nodes.count() == 2)
  }

  test("DELETE refuses nodes with relationships; DETACH DELETE removes both") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:dog {name:'Arne'})-[:SNIFFS]->(b:dog {name:'Bosse'})")
    val e = intercept[IllegalStateException] {
      s.cypher("MATCH (d:dog {name:'Arne'}) DELETE d")
    }
    assert(e.getMessage.contains("DETACH DELETE"))
    s.cypher("MATCH (d:dog {name:'Arne'}) DETACH DELETE d")
    assert(s.graph().nodes.count() == 1)
    assert(s.graph().edges.count() == 0)
    // deleting an unconnected node without DETACH works
    s.cypher("MATCH (d:dog {name:'Bosse'}) DELETE d")
    assert(s.graph().nodes.count() == 0)
  }

  test("MERGE creates once, then matches (idempotent)") {
    val s = new GraftSession(spark)
    s.cypher("MERGE (a:dog {name:'Arne'})")
    s.cypher("MERGE (a:dog {name:'Arne'})")
    assert(s.graph().nodes.count() == 1)
    s.cypher("MERGE (a:dog {name:'Else'})")
    assert(s.graph().nodes.count() == 2)
    // whole-pattern merge: existing pattern is not recreated
    s.cypher("CREATE (x:cat {name:'Mio'})-[:CHASES]->(y:cat {name:'Rut'})")
    s.cypher("MERGE (x:cat {name:'Mio'})-[:CHASES]->(y:cat {name:'Rut'})")
    assert(s.graph().edges.count() == 1)
  }

  test("C4: inline property predicate") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (arne:dog {name:'Arne'})-[:SNIFFS]->(bosse:dog {name:'Bosse'})")
    val res = s.cypher("MATCH (a:dog {name:'Arne'}) RETURN a.name AS name")
    assert(res.collect().map(_.getString(0)).toSeq == Seq("Arne"))
  }

  test("C7: WHERE clause, comparison + boolean ops") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:dog {name:'Arne', age: 3}), (b:dog {name:'Bosse', age: 7})")
    val res = s.cypher(
      "MATCH (d:dog) WHERE d.age > 5 AND NOT d.name = 'Arne' RETURN d.name AS name")
    assert(res.collect().map(_.getString(0)).toSeq == Seq("Bosse"))
  }

  test("property types: string, long, double, boolean round-trip") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (x:rec {s:'a string', i: 42, f: 3.14, b: true})")
    val res = s.cypher("MATCH (x:rec) RETURN x.s AS s, x.i AS i, x.f AS f, x.b AS b")
    val row = res.collect().head
    assert(row.getString(0) == "a string")
    assert(row.getLong(1) == 42L)
    assert(row.getDouble(2) == 3.14)
    assert(row.getBoolean(3))
  }

  test("OPTIONAL MATCH yields nulls for unmatched") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:dog {name:'Arne'})-[:SNIFFS]->(b:dog {name:'Bosse'})")
    s.cypher("CREATE (c:dog {name:'Solo'})")
    val res = s.cypher(
      "MATCH (d:dog) OPTIONAL MATCH (d:dog)-[:SNIFFS]->(o:dog) RETURN d.name AS name, o.name AS sniffed ORDER BY name")
    val rows = res.collect().map(r => (r.getString(0), Option(r.getString(1))))
    assert(rows.toSeq == Seq(("Arne", Some("Bosse")), ("Bosse", None), ("Solo", None)))
  }

  test("var-length expand *1..2") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:n {name:'a'})-[:T]->(b:n {name:'b'})-[:T]->(c:n {name:'c'})")
    val res = s.cypher(
      "MATCH (x:n {name:'a'})-[:T*1..2]->(y:n) RETURN y.name AS name ORDER BY name")
    assert(res.collect().map(_.getString(0)).toSeq == Seq("b", "c"))
  }

  test("unbounded [:T*] runs a true visited-set fixpoint: cycles terminate, depth past 15") {
    val s = new GraftSession(spark)
    // a 20-node directed cycle — deeper than the r13 silent 15-hop cap,
    // and cyclic so only a visited-set fixpoint can terminate
    s.cypher("UNWIND range(1, 20) AS x CREATE (:ub {k: x})")
    val batch = (1L to 20L).map(k => Map("a" -> k, "b" -> (k % 20 + 1)))
    s.cypher(
      """UNWIND $batch AS row MATCH (a:ub {k: row.a}), (b:ub {k: row.b})
        |MERGE (a)-[:UB]->(b)""".stripMargin, Map("batch" -> batch))
    // every node is reachable, including the start via the full cycle
    val reach = s.cypher(
      "MATCH (a:ub {k: 1})-[:UB*]->(b:ub) RETURN DISTINCT b.k AS k ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(reach == (1L to 20L), s"got $reach")
    // `*1..` and the GQL `+` quantifier hit the same fixpoint
    assert(s.cypher("MATCH (a:ub {k: 1})-[:UB*1..]->(b:ub) RETURN count(b) AS c")
      .collect().head.getLong(0) == 20L)
    assert(s.cypher("MATCH (a:ub {k: 1})-[:UB]->+(b:ub) RETURN count(b) AS c")
      .collect().head.getLong(0) == 20L)
    // `*2..` (bounded-prefix hybrid) keeps TRAIL semantics on the pure
    // cycle: node 2 is reachable only by the length-1 trail (any longer
    // route re-crosses 1→2), every other node has a ≥2 trail
    val reach2 = s.cypher(
      "MATCH (a:ub {k: 1})-[:UB*2..]->(b:ub) RETURN DISTINCT b.k AS k ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(reach2 == (1L +: (3L to 20L)), s"got $reach2")
    // unbounded shortestPath finds distances past the old cap
    val d = s.cypher(
      """MATCH p = shortestPath((a:ub {k: 1})-[:UB*]->(b:ub {k: 20}))
        |RETURN length(p) AS l""".stripMargin).collect().head.getLong(0)
    assert(d == 19L)
    // bounded patterns keep per-trail σ multiplicity; unbounded is
    // DISTINCT-pairs by design (documented divergence): on a diamond
    // a→{x,y}→z the bounded form emits two rows, the unbounded one
    s.cypher("CREATE (a:di {k:1})-[:D]->(x:di {k:2})-[:D]->(z:di {k:4})")
    s.cypher("MATCH (a:di {k:1}), (z:di {k:4}) CREATE (a)-[:D]->(y:di {k:3})-[:D]->(z)")
    assert(s.cypher(
      "MATCH (a:di {k:1})-[:D*1..3]->(b:di {k:4}) RETURN count(b) AS c")
      .collect().head.getLong(0) == 2L)
    assert(s.cypher(
      "MATCH (a:di {k:1})-[:D*]->(b:di {k:4}) RETURN count(b) AS c")
      .collect().head.getLong(0) == 1L)
  }

  test("unbounded [:T*] equals transitive closure on randomized digraphs") {
    // adversarial fixpoint check: deterministic pseudo-random digraphs
    // (self-loops, cycles, disconnected parts included) — the engine's
    // visited-set fixpoint must equal a driver-computed transitive
    // closure from every start node
    val rnd = new scala.util.Random(421)
    (1 to 4).foreach { round =>
      val n = 7
      val label = s"rt$round"
      val edges = (for {
        a <- 0 until n; b <- 0 until n
        if rnd.nextDouble() < 0.22
      } yield (a.toLong, b.toLong)).distinct
      val s = new GraftSession(spark)
      s.cypher(s"UNWIND range(0, ${n - 1}) AS x CREATE (:$label {k: x})")
      if (edges.nonEmpty) {
        val batch = edges.map { case (a, b) => Map("a" -> a, "b" -> b) }
        s.cypher(
          s"""UNWIND $$batch AS row MATCH (a:$label {k: row.a}), (b:$label {k: row.b})
             |MERGE (a)-[:RT]->(b)""".stripMargin, Map("batch" -> batch))
      }
      // driver-side closure (Floyd-Warshall-ish over the tiny graph)
      val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      def closure(src: Long): Set[Long] = {
        var seen = Set.empty[Long]
        var frontier = adj.getOrElse(src, Set.empty)
        while (frontier.nonEmpty) {
          seen ++= frontier
          frontier = frontier.flatMap(t => adj.getOrElse(t, Set.empty)) -- seen
        }
        seen
      }
      (0L until n.toLong).foreach { src =>
        val got = s.cypher(
          s"MATCH (a:$label {k: $src})-[:RT*]->(b:$label) RETURN DISTINCT b.k AS k")
          .collect().map(_.getLong(0)).toSet
        assert(got == closure(src),
          s"round $round src $src: got $got expected ${closure(src)} (edges $edges)")
      }
    }
  }

  test("unbounded [:T*2..] equals brute-force trail reachability on randomized digraphs") {
    // adversarial check for the bounded-prefix hybrid: the engine must
    // equal a driver-side BRUTE-FORCE trail enumeration (DFS over
    // used-edge sets) — walk-based shortcuts over-deliver on cycles,
    // prefix-set mistakes under-deliver on diamonds
    val rnd = new scala.util.Random(1517)
    (1 to 4).foreach { round =>
      val n = 6
      val label = s"tl$round"
      val edges = (for {
        a <- 0 until n; b <- 0 until n
        if rnd.nextDouble() < 0.24
      } yield (a.toLong, b.toLong)).distinct
      val s = new GraftSession(spark)
      s.cypher(s"UNWIND range(0, ${n - 1}) AS x CREATE (:$label {k: x})")
      if (edges.nonEmpty) {
        val batch = edges.map { case (a, b) => Map("a" -> a, "b" -> b) }
        s.cypher(
          s"""UNWIND $$batch AS row MATCH (a:$label {k: row.a}), (b:$label {k: row.b})
             |MERGE (a)-[:TL]->(b)""".stripMargin, Map("batch" -> batch))
      }
      val adj = edges.zipWithIndex.groupBy(_._1._1)
        .view.mapValues(_.map { case ((_, b), i) => (b, i) }).toMap
      def trailReach(src: Long, lo: Int): Set[Long] = {
        val out = collection.mutable.Set.empty[Long]
        def dfs(at: Long, used: Set[Int], depth: Int): Unit = {
          if (depth >= lo) out += at
          adj.getOrElse(at, Seq.empty).foreach { case (b, i) =>
            if (!used.contains(i)) dfs(b, used + i, depth + 1)
          }
        }
        dfs(src, Set.empty, 0)
        out.toSet
      }
      Seq(2, 3).foreach { lo =>
        (0L until n.toLong).foreach { src =>
          val got = s.cypher(
            s"MATCH (a:$label {k: $src})-[:TL*$lo..]->(b:$label) RETURN DISTINCT b.k AS k")
            .collect().map(_.getLong(0)).toSet
          assert(got == trailReach(src, lo),
            s"round $round src $src lo $lo: got $got expected " +
              s"${trailReach(src, lo)} (edges $edges)")
        }
      }
    }
  }

  test("label predicate as an expression: WHERE n:A, NOT n:A, n:A|B, WITH scope") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (:LP {k: 1})")
    s.cypher("CREATE (:LP:LQ {k: 2})")
    s.cypher("CREATE (:LQ {k: 3})")
    s.cypher("CREATE (:LR {k: 4})")
    def n(q: String) = s.cypher(q).collect().head.getLong(0)
    assert(n("MATCH (x) WHERE x:LP RETURN count(x) AS n") == 2L)
    assert(n("MATCH (x) WHERE NOT x:LP RETURN count(x) AS n") == 2L)
    assert(n("MATCH (x) WHERE x:LP|LQ RETURN count(x) AS n") == 3L)
    assert(n("MATCH (x) WHERE x:LP&LQ RETURN count(x) AS n") == 1L)
    assert(n("MATCH (x) WHERE x:LP AND x.k > 1 RETURN count(x) AS n") == 1L)
    // composes with other predicates and survives WITH (labels column
    // rides the binding table)
    assert(n("MATCH (x) WITH x WHERE x:LQ RETURN count(x) AS n") == 2L)
    // in RETURN position it is a plain boolean value
    assert(s.cypher("MATCH (x {k: 2}) RETURN x:LP AS b").collect().head.getBoolean(0))
    // list comprehension's projection bar is NOT swallowed as a label
    // alternative (the lookahead guard)
    val lc = s.cypher("MATCH (x) WHERE x:LP RETURN [y IN [1,2,3] WHERE y > 1 | y * 10] AS l")
      .collect().head.getSeq[Long](0)
    assert(lc == Seq(20L, 30L))
  }

  test("gap-hunt round 2: rel-type predicate, list props, IN lists, ||, CASE null") {
    val s = new GraftSession(spark)
    // literal LIST property in a pattern map (the embedding idiom)
    s.cypher("CREATE (:G2 {k: 1, tags: ['x','y'], emb: [0.1, 0.2]})")
    s.cypher("CREATE (:G2 {k: 2, tags: ['z']})")
    val t = s.cypher("MATCH (n:G2 {k: 1}) RETURN n.tags AS t, n.emb AS e").collect().head
    assert(t.getSeq[String](0) == Seq("x", "y"))
    assert(t.getSeq[Double](1) == Seq(0.1, 0.2))
    // relationship TYPE predicate as an expression
    s.cypher("MATCH (a:G2 {k: 1}), (b:G2 {k: 2}) MERGE (a)-[:T1]->(b)")
    s.cypher("MATCH (a:G2 {k: 2}), (b:G2 {k: 1}) MERGE (a)-[:T2]->(b)")
    def n(q: String) = s.cypher(q).collect().head.getLong(0)
    assert(n("MATCH ()-[r]->() WHERE r:T1 RETURN count(r) AS n") == 1L)
    assert(n("MATCH ()-[r]->() WHERE r:T1|T2 RETURN count(r) AS n") == 2L)
    assert(n("MATCH ()-[r]->() WHERE NOT r:T1 RETURN count(r) AS n") == 1L)
    // IN over list-valued elements
    assert(s.cypher("RETURN [1,2] IN [[1,2],[3]] AS b").collect().head.getBoolean(0))
    assert(!s.cypher("RETURN [1,4] IN [[1,2],[3]] AS b").collect().head.getBoolean(0))
    // || concatenation: strings and lists
    val c = s.cypher("RETURN 'a' || 'b' AS s, [1] || [2,3] AS l").collect().head
    assert(c.getString(0) == "ab" && c.getSeq[Long](1) == Seq(1L, 2L, 3L))
    // a null CASE condition selects the next branch (null IS NOT TRUE)
    assert(n("RETURN CASE WHEN null THEN 1 ELSE 2 END AS c") == 2L)
    // duration.inX family (long-valued, the duration.between divergence)
    val d = s.cypher("RETURN duration.inDays(date('2024-01-01'), date('2024-02-01')) AS d, " +
      "duration.inSeconds(datetime('2024-01-01T00:00:00Z'), datetime('2024-01-01T00:01:00Z')) AS s, " +
      "duration.inMonths(date('2024-01-15'), date('2024-04-20')) AS m").collect().head
    assert(d.getLong(0) == 31L && d.getLong(1) == 60L && d.getLong(2) == 3L)
    // element-wise list casts
    val lc = s.cypher("RETURN toIntegerList(['1','2']) AS a, toStringList([1,2]) AS b")
      .collect().head
    assert(lc.getSeq[Long](0) == Seq(1L, 2L))
    assert(lc.getSeq[String](1) == Seq("1", "2"))
    // time()/localtime() are string-valued (documented: no TIME type)
    assert(s.cypher("RETURN time() AS t").collect().head.getString(0).matches("\\d\\d:\\d\\d:\\d\\d"))
    // apoc.create.uuid
    graft.procs.Packs.install(s, Seq("apoc"))
    assert(s.cypher("RETURN apoc.create.uuid() AS u").collect().head.getString(0).length == 36)
    // MATCHING on a literal list property (review r18: lit() has no
    // List case — the match phase must build the array element-wise)
    assert(n("MATCH (x:G2 {tags: ['x','y']}) RETURN count(x) AS n") == 1L)
    assert(n("MATCH (x:G2) WHERE x.emb = [0.1, 0.2] RETURN count(x) AS n") == 1L)
    // the comprehension projection bar is NOT swallowed as a label
    // alternative when the projection is an expression or bare variable
    val pj = s.cypher("MATCH (x:G2 {k: 1}) " +
      "RETURN [y IN [1,2] WHERE x:G2 | y * 10] AS l").collect().head.getSeq[Long](0)
    assert(pj == Seq(10L, 20L))
    val pj2 = s.cypher("RETURN [y IN [1,2] | y] AS l").collect().head.getSeq[Long](0)
    assert(pj2 == Seq(1L, 2L))
    // UNION inside CALL { } IN TRANSACTIONS refuses loudly (the batch
    // executor replays only the first branch's clauses)
    intercept[UnsupportedOperationException] {
      s.cypher("UNWIND [1,2] AS x CALL { WITH x CREATE (:UA {k: x}) " +
        "UNION ALL CREATE (:UB {k: x}) } IN TRANSACTIONS")
    }
  }

  test("gap-hunt r19: temporal/duration component accessors on expressions") {
    val s = new GraftSession(spark)
    def one(q: String) = s.cypher(q).collect().head
    // postfix `.component` on a non-variable base (PropOf)
    val d = one("RETURN date('2020-03-04').year AS y, date('2020-03-04').month AS m, " +
      "date('2020-03-04').day AS d, date('2020-03-04').quarter AS q")
    assert((d.getLong(0), d.getLong(1), d.getLong(2), d.getLong(3)) == ((2020L, 3L, 4L, 1L)))
    assert(one("RETURN datetime('2020-03-04T05:06:07Z').hour AS h").getLong(0) == 5L)
    assert(one("RETURN datetime('1970-01-02T00:00:00Z').epochMillis AS v")
      .getLong(0) == 86400000L)
    // ISO dayOfWeek: Monday = 1 … Sunday = 7
    assert(one("RETURN date('2024-01-01').dayOfWeek AS v").getLong(0) == 1L)
    assert(one("RETURN date('2024-01-07').dayOfWeek AS v").getLong(0) == 7L)
    // duration components: months = years·12 + months; the seconds
    // group composes hours/minutes/seconds (hour-overflow normalizes
    // into days per Spark's CalendarInterval — documented)
    val du = one("RETURN duration('P1Y2M3DT4H5M6S').months AS mo, " +
      "duration('P1Y2M3DT4H5M6S').days AS dd, duration('PT3H30M5S').seconds AS ss")
    assert((du.getLong(0), du.getLong(1), du.getLong(2)) == ((14L, 3L, 12605L)))
    // map-literal key access and chained postfix
    assert(one("RETURN {a: 41}.a + 1 AS v").getLong(0) == 42L)
    // new scalars: btrim(trim-chars), isNaN, normalize (NFC)
    assert(one("RETURN btrim('xxhixx', 'x') AS v").getString(0) == "hi")
    assert(one("RETURN isNaN(sqrt(-1)) AS a, isNaN(1.0) AS b").getBoolean(0))
    assert(!one("RETURN isNaN(sqrt(-1)) AS a, isNaN(1.0) AS b").getBoolean(1))
    // U+0061 U+0301 (a + combining acute) normalizes to U+00E1
    assert(one("RETURN normalize('á') AS v").getString(0) == "á")
  }

  test("gap-hunt r19: SHOW DEFAULT DATABASE, SHOW SETTINGS 'name', YIELD *") {
    val s = new GraftSession(spark, Map(
      "server.memory.pagecache.size" -> "512M",
      "server.default_listen_address" -> "0.0.0.0"))
    val dd = s.cypher("SHOW DEFAULT DATABASE").collect()
    assert(dd.map(_.getString(0)).toSeq == Seq("neo4j"))
    // quoted name list filters; YIELD * projects every column
    val named = s.cypher("SHOW SETTINGS 'server.default_listen_address'").collect()
    assert(named.map(_.getString(0)).toSeq == Seq("server.default_listen_address"))
    val two = s.cypher("SHOW SETTINGS 'server.default_listen_address', " +
      "'server.memory.pagecache.size' YIELD name, value WHERE value = '512M' RETURN name")
    assert(two.collect().map(_.getString(0)).toSeq == Seq("server.memory.pagecache.size"))
    val star = s.cypher("SHOW DATABASES YIELD * WHERE name = 'neo4j' RETURN name")
    assert(star.collect().map(_.getString(0)).toSeq == Seq("neo4j"))
  }

  test("gap-hunt scalars: char_length, nullIf, zero-arg date/datetime clock") {
    val s = new GraftSession(spark)
    val r = s.cypher("RETURN char_length('abc') AS a, character_length('abcd') AS b, " +
      "coalesce(nullIf(1, 1), 9) AS c, nullIf(1, 2) AS d").collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 4L &&
      r.getLong(2) == 9L && r.getLong(3) == 1L)
    // statement clock: today >= a fixed past date, and datetime() ticks
    assert(s.cypher("RETURN date() >= date('2020-01-01') AS ok")
      .collect().head.getBoolean(0))
    assert(s.cypher("RETURN datetime() > datetime('2020-01-01T00:00:00Z') AS ok")
      .collect().head.getBoolean(0))
  }

  test("CALL { } subqueries take UNION [ALL] branches (uncorrelated)") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (:CU1 {v: 1}) CREATE (:CU1 {v: 2}) CREATE (:CU2 {v: 2})")
    val u = s.cypher(
      "CALL { MATCH (n:CU1) RETURN n.v AS x UNION MATCH (n:CU2) RETURN n.v AS x } " +
        "RETURN x ORDER BY x").collect().map(_.getLong(0)).toSeq
    assert(u == Seq(1L, 2L)) // plain UNION dedups across branches
    val ua = s.cypher(
      "CALL { MATCH (n:CU1) RETURN n.v AS x UNION ALL MATCH (n:CU2) RETURN n.v AS x } " +
        "RETURN x ORDER BY x").collect().map(_.getLong(0)).toSeq
    assert(ua == Seq(1L, 2L, 2L))
    // mismatched branch columns refuse loudly
    intercept[UnsupportedOperationException] {
      s.cypher("MATCH (m:CU1) CALL { WITH m MATCH (m)-[:X]->(n) RETURN n.v AS x " +
        "UNION WITH m MATCH (m)-[:X]->(n) RETURN n.v AS y } RETURN count(x) AS n")
        .collect()
    }
  }

  test("correlated CALL { WITH … } takes UNION [ALL] branches (r19)") {
    // r18 verdict #5: each branch compiles against the imported
    // binding frame (restating its import-WITH, Neo4j's grammar) and
    // the branch results union per import binding — the batch-ingest
    // "compose alternatives" idiom.
    val s = new GraftSession(spark)
    s.cypher("CREATE (p:CP {k: 1})-[:CA]->(:CQ {w: 10})")
    s.cypher("MATCH (p:CP {k: 1}) CREATE (p)-[:CB]->(:CQ {w: 20})")
    s.cypher("CREATE (p:CP {k: 2})-[:CA]->(:CQ {w: 30})")
    val ua = s.cypher(
      "MATCH (p:CP) CALL { WITH p MATCH (p)-[:CA]->(q) RETURN q.w AS w " +
        "UNION ALL WITH p MATCH (p)-[:CB]->(q) RETURN q.w AS w } " +
        "RETURN p.k AS k, w ORDER BY k, w").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ua.toSeq == Seq((1L, 10L), (1L, 20L), (2L, 30L)))
    // plain UNION dedups per binding: point both rel types at w=10
    s.cypher("MATCH (p:CP {k: 2}), (q:CQ {w: 30}) CREATE (p)-[:CB]->(q)")
    val u = s.cypher(
      "MATCH (p:CP {k: 2}) CALL { WITH p MATCH (p)-[:CA]->(q) RETURN q.w AS w " +
        "UNION WITH p MATCH (p)-[:CB]->(q) RETURN q.w AS w } " +
        "RETURN w ORDER BY w").collect().map(_.getLong(0)).toSeq
    assert(u == Seq(30L)) // one row, not two: both branches hit the same q
    // a branch WITHOUT an import-WITH is uncorrelated: applies to
    // every import binding
    val mixed = s.cypher(
      "MATCH (p:CP) CALL { WITH p MATCH (p)-[:CA]->(q) RETURN q.w AS w " +
        "UNION ALL RETURN 99 AS w } " +
        "RETURN p.k AS k, w ORDER BY k, w").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(mixed.toSeq == Seq((1L, 10L), (1L, 99L), (2L, 30L), (2L, 99L)))
  }

  test("backtick-quoted identifiers: labels, relTypes, property keys, variables") {
    // Neo4j's escape for non-identifier names; the label-partition
    // route falls back to the full scan for them (AdminSpec pins the
    // guard), but parse/compile must accept the names end to end
    val s = new GraftSession(spark)
    s.cypher("CREATE (:`007` {`my prop`: 1, k: 10})")
    s.cypher("CREATE (:`007` {`my prop`: 2, k: 20})")
    s.cypher("CREATE (:Plain {k: 30})")
    assert(s.cypher("MATCH (n:`007`) RETURN count(n) AS n")
      .collect().head.getLong(0) == 2L)
    assert(s.cypher("MATCH (n:`007`) WHERE n.`my prop` = 2 RETURN n.k AS k")
      .collect().map(_.getLong(0)).toSeq == Seq(20L))
    s.cypher("MATCH (n:`007` {`my prop`: 1}) SET n.`my prop` = 7")
    assert(s.cypher("MATCH (n:`007`) RETURN n.`my prop` AS p ORDER BY p")
      .collect().map(_.getLong(0)).toSeq == Seq(2L, 7L))
    // backticked relationship type + backticked variable
    s.cypher("MATCH (a:`007` {k: 10}), (b:`007` {k: 20}) " +
      "MERGE (a)-[:`ODD TYPE`]->(b)")
    assert(s.cypher("MATCH (a)-[`r 1`:`ODD TYPE`]->(b) " +
      "RETURN a.k AS ak, b.k AS bk").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((10L, 20L)))
    // a saved round-trip keeps the non-identifier label correct
    // (routing guard: full scan, never a mis-pruned read)
    val data = java.nio.file.Files.createTempDirectory("gbt_").toString
    s.saveDatabase(data)
    val fresh = new GraftSession(spark)
    fresh.loadDatabase(data)
    assert(fresh.cypher("MATCH (n:`007`) RETURN count(n) AS n")
      .collect().head.getLong(0) == 2L)
  }

  test("USING hints parse, validate their variables, and never change results") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:uh {k: 1})-[:UH]->(b:uh {k: 2})")
    // INDEX hints now require the hinted index to EXIST (Neo4j's
    // Schema.IndexNotFound parity — r16 verdict missing #4)
    s.cypher("CREATE INDEX uh_k FOR (n:uh) ON (n.k)")
    def ks(q: String) = s.cypher(q).collect().map(_.getLong(0)).toSeq.sorted
    val plainQ = ks("MATCH (n:uh) WHERE n.k >= 1 RETURN n.k AS k")
    assert(ks("MATCH (n:uh) USING INDEX n:uh(k) WHERE n.k >= 1 RETURN n.k AS k") == plainQ)
    assert(ks("MATCH (n:uh) USING INDEX SEEK n:uh(k) WHERE n.k >= 1 RETURN n.k AS k") == plainQ)
    assert(ks("MATCH (n:uh) USING SCAN n:uh WHERE n.k >= 1 RETURN n.k AS k") == plainQ)
    assert(ks("MATCH (a:uh)-[:UH]->(b:uh) USING JOIN ON b RETURN a.k AS k") == Seq(1L))
    // stacked hints compose; an unknown variable refuses loudly
    assert(ks("MATCH (a:uh)-[:UH]->(b:uh) USING SCAN a:uh USING JOIN ON b " +
      "RETURN b.k AS k") == Seq(2L))
    val e = intercept[IllegalArgumentException] {
      s.cypher("MATCH (n:uh) USING INDEX m:uh(k) WHERE n.k = 1 RETURN n.k AS k").collect()
    }
    assert(e.getMessage.contains("`m`"), e.getMessage)
    // a relationship-variable index hint is valid Neo4j 5 syntax and
    // must pass variable validation (ADVICE r16 #2); with a backing
    // relationship index it runs and changes nothing
    s.cypher("CREATE INDEX uh_rw FOR ()-[r:UH]->() ON (r.w)")
    assert(ks("MATCH (a:uh)-[r:UH]->(b:uh) USING INDEX r:UH(w) RETURN b.k AS k") == Seq(2L))
    // a hint naming a MISSING index raises Neo4j's error instead of
    // silently no-oping (typo'd init scripts must fail loudly)
    val miss = intercept[NoSuchElementException] {
      s.cypher("MATCH (n:uh) USING INDEX n:uh(nope) WHERE n.k = 1 RETURN n.k AS k").collect()
    }
    assert(miss.getMessage.contains("No such index") &&
      miss.getMessage.contains("`nope`"), miss.getMessage)
    // a uniqueness constraint implies a backing index upstream, so a
    // hint on the constrained (label, prop) is VALID with no explicit
    // index (ADVICE r17 #1: db.indexes alone regressed this)
    s.cypher("CREATE CONSTRAINT uh_uc FOR (n:uh) REQUIRE n.u IS UNIQUE")
    s.cypher("MATCH (n:uh {k: 1}) SET n.u = 10")
    assert(ks("MATCH (n:uh) USING INDEX n:uh(u) WHERE n.u = 10 RETURN n.k AS k") == Seq(1L))
    // an EXISTENCE constraint is index-less upstream — the hint still
    // refuses (only uniqueness/key constraints own a backing index)
    s.cypher("MATCH (n:uh) SET n.e2 = n.k")
    s.cypher("CREATE CONSTRAINT uh_ex FOR (n:uh) REQUIRE n.e2 IS NOT NULL")
    intercept[NoSuchElementException] {
      s.cypher("MATCH (n:uh) USING INDEX n:uh(e2) WHERE n.e2 = 1 RETURN n.k AS k").collect()
    }
  }

  test("*lo.. prefix enumeration refuses past the cap with a bounded rewrite hint") {
    // r15 verdict #5: the prefix state space is ~deg^lo per start, so
    // an unanchored pattern over a dense graph must refuse loudly at
    // the cap instead of building an unbounded intermediate. Pinned by
    // lowering the cap over a two-layer complete bipartite graph
    // (3×3 + 3×3 → 27 length-2 prefixes).
    val s = new GraftSession(spark)
    s.cypher("UNWIND range(0, 8) AS x CREATE (:ht {k: x})")
    val batch = (for { a <- 0 to 2; b <- 3 to 5 } yield Map("a" -> a.toLong, "b" -> b.toLong)) ++
      (for { b <- 3 to 5; c <- 6 to 8 } yield Map("a" -> b.toLong, "b" -> c.toLong))
    s.cypher(
      """UNWIND $batch AS row MATCH (a:ht {k: row.a}), (b:ht {k: row.b})
        |MERGE (a)-[:HT]->(b)""".stripMargin, Map("batch" -> batch))
    // the cap is per-session config (`graft.cypher.prefix_cap`), not
    // a mutable global — a lowered test cap cannot leak into another
    // session running concurrently (ADVICE r16 #4). The capped session
    // shares `s`'s graph state through the catalog default database.
    val capped = new GraftSession(spark, Map("graft.cypher.prefix_cap" -> "5"))
    capped.setGraph(s.graph(), "neo4j")
    val e = intercept[UnsupportedOperationException] {
      capped.cypher("MATCH (a:ht)-[:HT*2..]->(b:ht) RETURN count(*) AS n").collect()
    }
    assert(e.getMessage.contains("*2..") && e.getMessage.contains("prefix"),
      e.getMessage)
    assert(e.getMessage.contains("anchor"), e.getMessage)
    // under the restored default the same pattern runs: every A-layer
    // node reaches every C-layer node by a ≥2 trail, nothing else does
    val n = s.cypher("MATCH (a:ht)-[:HT*2..]->(b:ht) RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(n == 9L, s"expected 9 (A×C pairs), got $n")
  }

  test("var-length expand has trail semantics: no bounce-back over one relationship") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:tn {name:'a'})-[:T]->(b:tn {name:'b'})-[:T]->(c:tn {name:'c'})")
    // undirected 2-hop from b: a and c at hop 1; hop 2 may not re-use
    // hop 1's edge, so b itself is NOT reachable (a->b back is the same
    // relationship), and a<->c cross via b IS (two distinct edges)
    val undirected = s.cypher(
      "MATCH (x:tn {name:'b'})-[:T*1..2]-(y:tn) RETURN DISTINCT y.name AS name ORDER BY name")
    assert(undirected.collect().map(_.getString(0)).toSeq == Seq("a", "c"))
    // directed self-loop: the loop relationship can be traversed once,
    // not twice, so no length-2 walk exists
    s.cypher("CREATE (l:loop {name:'l'})")
    s.cypher("MATCH (x:loop) CREATE (x)-[:SELF]->(x)")
    def walks(range: String) = s.cypher(
      s"MATCH (x:loop)-[:SELF*$range]->(y:loop) RETURN count(y) AS n")
      .collect().head.getLong(0)
    assert(walks("1..1") == 1L) // the loop exists and is traversable once
    assert(walks("2..2") == 0L) // but a 2-walk would re-use it
  }

  test("relationships(p) over an undirected path recovers stored edge orientation") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:pr {name:'a'})-[:T]->(b:pr {name:'b'})")
    s.cypher("CREATE (c:pr {name:'c'})")
    // second hop stored AGAINST traversal order: path a-b-c walks b~c
    // via the stored edge c->b
    s.cypher("MATCH (b:pr {name:'b'}), (c:pr {name:'c'}) CREATE (c)-[:T]->(b)")
    val row = s.cypher(
      """MATCH p = shortestPath((a:pr {name:'a'})-[:T*1..3]-(c:pr {name:'c'}))
        |RETURN relationships(p) AS rels""".stripMargin).collect().head
    val rels = row.getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rels == Seq((0L, 1L, "T"), (2L, 1L, "T")))
  }

  test("aggregates: count, sum, avg, min, max, distinct") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:v {g:'x', n: 1}), (b:v {g:'x', n: 3}), (c:v {g:'y', n: 5})")
    val res = s.cypher(
      "MATCH (v:v) RETURN v.g AS g, count(v) AS cnt, sum(v.n) AS total ORDER BY g")
    val rows = res.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq(("x", 2L, 4L), ("y", 1L, 5L)))
  }

  test("WITH chaining and UNWIND") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:v {n: 1}), (b:v {n: 2}), (c:v {n: 3})")
    val res = s.cypher(
      "MATCH (v:v) WITH v.n AS n WHERE n > 1 RETURN sum(n) AS total")
    assert(res.collect().head.getLong(0) == 5L)
    val un = s.cypher("UNWIND range(1, 4) AS x RETURN sum(x) AS s")
    assert(un.collect().head.getLong(0) == 10L)
  }

  test("relationship property index DDL parses, shows RELATIONSHIP, round-trips") {
    val s = new GraftSession(spark)
    s.cypher("CREATE INDEX rel_w FOR ()-[r:KNOWS]-() ON (r.weight)")
    def row(gs: GraftSession, db: String = "neo4j") =
      gs.cypher("SHOW INDEXES", Map.empty[String, Any], db).collect()
        .find(_.getAs[String]("name") == "rel_w").get
    val r0 = row(s)
    assert(r0.getAs[String]("entityType") == "RELATIONSHIP")
    assert(r0.getAs[String]("type") == "RANGE")
    assert(r0.getAs[String]("labelsOrTypes") == "KNOWS")
    assert(r0.getAs[String]("properties") == "weight")
    // kinds survive the snapshot round-trip with the REL marker intact
    val tmp = java.nio.file.Files.createTempDirectory("graft_relidx_").toString
    s.saveDatabase(tmp)
    val s2 = new GraftSession(spark)
    s2.loadDatabase(tmp)
    val r1 = row(s2)
    assert(r1.getAs[String]("entityType") == "RELATIONSHIP" &&
      r1.getAs[String]("type") == "RANGE")
    // SHOW INDEXES / SHOW CONSTRAINTS take the ops-scripting YIELD
    // tails like SHOW DATABASES; the RETURN tail projects (it used to
    // be discarded), unsupported tails refuse loudly
    val names = s.cypher("SHOW INDEXES YIELD name, entityType RETURN name")
      .collect()
    assert(names.head.schema.fieldNames.toSeq == Seq("name"))
    assert(names.map(_.getString(0)).toSeq == Seq("rel_w"))
    assert(s.cypher("SHOW CONSTRAINTS YIELD name RETURN name").collect().isEmpty)
    // the WHERE tail filters with the full Cypher expression grammar
    // (STARTS WITH and all — standard Neo4j ops-script shape)
    assert(s.cypher("SHOW INDEXES YIELD name WHERE name = 'rel_w' RETURN name")
      .collect().map(_.getString(0)).toSeq == Seq("rel_w"))
    assert(s.cypher("SHOW INDEXES YIELD name WHERE name STARTS WITH 'nope'")
      .collect().isEmpty)
    s.cypher("DROP INDEX rel_w")
    graft.core.SnapshotStore.deleteDir(tmp)
  }

  test("uniqueness constraints are enforced; indexes are tracked metadata") {
    val s = new GraftSession(spark)
    assert(s.cypher("CREATE INDEX dog_name IF NOT EXISTS FOR (d:dog) ON (d.name)").count() == 1)
    assert(s.cypher("CREATE CONSTRAINT uniq_name FOR (d:dog) REQUIRE d.name IS UNIQUE").count() == 1)
    val idx = s.cypher("SHOW INDEXES").collect()
    assert(idx.map(_.getAs[String]("name")).toSeq == Seq("dog_name"))
    val cons = s.cypher("SHOW CONSTRAINTS").collect()
    assert(cons.map(r => (r.getAs[String]("name"), r.getAs[String]("type"),
      r.getAs[String]("labelsOrTypes"), r.getAs[String]("properties"))).toSeq ==
      Seq(("uniq_name", "UNIQUENESS", "dog", "name")))
    assert(s.cypher("DROP INDEX dog_name IF EXISTS").count() == 1)
    assert(s.cypher("SHOW INDEXES").count() == 0)

    s.cypher("CREATE (a:dog {name:'Arne'})")
    // duplicate key refused, statement rolled back (count unchanged)
    val dup = intercept[Exception](s.cypher("CREATE (:dog {name:'Arne'})"))
    assert(dup.getMessage.contains("uniq_name"))
    assert(s.graph().nodes.count() == 1)
    // different key, other labels, and null keys all still insert
    s.cypher("CREATE (:dog {name:'Bosse'})")
    s.cypher("CREATE (:cat {name:'Arne'})")
    s.cypher("CREATE (:dog {age: 2})")
    assert(s.graph().nodes.count() == 4)
    // MERGE match path composes with the constraint (no new row)
    s.cypher("MERGE (d:dog {name:'Arne'})")
    assert(s.graph().nodes.count() == 4)
    // DROP lifts enforcement
    s.cypher("DROP CONSTRAINT uniq_name")
    s.cypher("CREATE (:dog {name:'Arne'})")
    assert(s.graph().nodes.count() == 5)
    // re-creating over now-duplicated data refuses (reference semantics)
    val bad = intercept[Exception](
      s.cypher("CREATE CONSTRAINT uniq2 FOR (d:dog) REQUIRE d.name IS UNIQUE"))
    assert(bad.getMessage.contains("Unable to create constraint"))
    // existence constraint (schema v6): creation refuses over
    // violating data (a dog with no name exists right now)
    val exBad = intercept[Exception](
      s.cypher("CREATE CONSTRAINT name_exists FOR (d:dog) REQUIRE d.name IS NOT NULL"))
    assert(exBad.getMessage.contains("must have the property"))
    s.cypher("MATCH (d:dog) WHERE d.name IS NULL DETACH DELETE d")
    s.cypher("CREATE CONSTRAINT name_exists FOR (d:dog) REQUIRE d.name IS NOT NULL")
    // a nameless dog is refused and the statement rolls back
    val exViol = intercept[Exception](s.cypher("CREATE (:dog {age: 3})"))
    assert(exViol.getMessage.contains("name_exists"))
    // other labels stay exempt
    s.cypher("CREATE (:cat {age: 3})")
    val shown = s.cypher("SHOW CONSTRAINTS").collect()
      .map(r => (r.getAs[String]("name"), r.getAs[String]("type"))).toMap
    assert(shown("name_exists") == "NODE_PROPERTY_EXISTENCE")
    // NODE KEY = unique AND existing: refused over the duplicate Arnes
    val nk = intercept[Exception](
      s.cypher("CREATE CONSTRAINT dog_key FOR (d:dog) REQUIRE d.name IS NODE KEY"))
    assert(nk.getMessage.contains("Unable to create constraint"))
    s.cypher("DROP CONSTRAINT name_exists")
  }

  test("relationship property constraints: uniqueness and existence over a relType") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (:acc {k: 1})-[:PAID {ref: 'a'}]->(:acc {k: 2})")
    s.cypher("CREATE CONSTRAINT paid_ref FOR ()-[r:PAID]-() REQUIRE r.ref IS UNIQUE")
    s.cypher("CREATE CONSTRAINT paid_has FOR ()-[r:PAID]-() REQUIRE r.ref IS NOT NULL")
    val shown = s.cypher("SHOW CONSTRAINTS").collect()
      .map(r => r.getString(0) -> (r.getString(r.fieldIndex("type")),
        r.getString(r.fieldIndex("entityType")))).toMap
    assert(shown("paid_ref") == ("RELATIONSHIP_UNIQUENESS", "RELATIONSHIP"))
    assert(shown("paid_has") == ("RELATIONSHIP_PROPERTY_EXISTENCE", "RELATIONSHIP"))
    // duplicate ref refused, statement rolled back
    val dup = intercept[Exception](
      s.cypher("MATCH (a:acc {k: 1}), (b:acc {k: 2}) CREATE (a)-[:PAID {ref: 'a'}]->(b)"))
    assert(dup.getMessage.contains("paid_ref"))
    assert(s.graph().edges.count() == 1)
    // a ref-less PAID refused by existence
    val miss = intercept[Exception](
      s.cypher("MATCH (a:acc {k: 1}), (b:acc {k: 2}) CREATE (a)-[:PAID {amt: 1}]->(b)"))
    assert(miss.getMessage.contains("paid_has"))
    // fresh ref and other relTypes insert fine
    s.cypher("MATCH (a:acc {k: 1}), (b:acc {k: 2}) CREATE (a)-[:PAID {ref: 'b'}]->(b)")
    s.cypher("MATCH (a:acc {k: 1}), (b:acc {k: 2}) CREATE (a)-[:SAW]->(b)")
    assert(s.graph().edges.count() == 3)
  }

  test("constraints gate transactional writes; schema DDL refuses inside a transaction") {
    val s = new GraftSession(spark)
    s.cypher("CREATE CONSTRAINT u FOR (p:person) REQUIRE p.pid IS UNIQUE")
    s.cypher("CREATE (:person {pid: 1})")
    val tx = s.beginTransaction()
    val err = intercept[Exception](
      s.cypher("CREATE (:person {pid: 1})", Map.empty[String, Any], "neo4j", tx))
    assert(err.getMessage.contains("uniqueness constraint"))
    // the transaction survives a refused statement; valid write commits
    s.cypher("CREATE (:person {pid: 2})", Map.empty[String, Any], "neo4j", tx)
    s.commitTransaction(tx)
    assert(s.cypher("MATCH (p:person) RETURN count(*) AS n").collect().head.getLong(0) == 2L)
    val tx2 = s.beginTransaction()
    val ddl = intercept[Exception](
      s.cypher("CREATE CONSTRAINT u2 FOR (x:q) REQUIRE x.k IS UNIQUE",
        Map.empty[String, Any], "neo4j", tx2))
    assert(ddl.getMessage.contains("schema DDL"))
    s.rollbackTransaction(tx2)
  }

  test("SHOW DATABASES lists databases with status") {
    val s = new GraftSession(spark)
    s.cypher("CREATE DATABASE extra")
    s.cypher("STOP DATABASE extra")
    val rows = s.cypher("SHOW DATABASES", "system")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows("neo4j") == "online")
    assert(rows("system") == "online")
    assert(rows("extra") == "offline")
    // YIELD projects like the other SHOW verbs
    val names = s.cypher("SHOW DATABASES YIELD name", "system").collect()
    assert(names.head.schema.fieldNames.toSeq == Seq("name"))
    assert(names.map(_.getString(0)).toSet.contains("extra"))
    assert(s.cypher("SHOW TRANSACTIONS YIELD transactionId").collect().isEmpty)
    // WHERE tails filter with the full Cypher expression grammar —
    // both the bare form and the YIELD-scoped form (Neo4j accepts
    // both); a tail neither can honor still refuses loudly rather
    // than silently returning unfiltered rows (ADVICE r14)
    assert(s.cypher("SHOW DATABASES WHERE name = 'extra'", "system")
      .collect().map(_.getString(0)).toSeq == Seq("extra"))
    assert(s.cypher("SHOW DATABASES YIELD name WHERE name = 'extra'", "system")
      .collect().map(_.getString(0)).toSeq == Seq("extra"))
    // ORDER BY / SKIP / LIMIT tails (the ops-script paging shape)
    val ordered = s.cypher(
      "SHOW DATABASES YIELD name ORDER BY name DESC LIMIT 1", "system")
      .collect().map(_.getString(0)).toSeq
    assert(ordered.length == 1)
    val all = s.cypher("SHOW DATABASES YIELD name ORDER BY name", "system")
      .collect().map(_.getString(0)).toSeq
    assert(all == all.sorted)
    assert(s.cypher("SHOW DATABASES YIELD name ORDER BY name SKIP 1", "system")
      .collect().map(_.getString(0)).toSeq == all.drop(1))
    // YIELD aliases (r17 verdict #4): the rename binds BEFORE the
    // WHERE / ORDER BY tail, so both reference the alias — and the
    // RETURN tail re-projects (with its own aliases too)
    val aliased = s.cypher("SHOW DATABASES YIELD name AS n RETURN n", "system")
      .collect()
    assert(aliased.head.schema.fieldNames.toSeq == Seq("n"))
    assert(aliased.map(_.getString(0)).toSet.contains("extra"))
    assert(s.cypher(
      "SHOW DATABASES YIELD name AS n WHERE n = 'extra' ORDER BY n RETURN n AS db",
      "system").collect().map(_.getString(0)).toSeq == Seq("extra"))
    assert(s.cypher(
      "SHOW DATABASES YIELD name AS n, currentStatus ORDER BY n DESC LIMIT 2",
      "system").collect().map(_.getString(0)).toSeq == all.sorted.reverse.take(2))
    // a tail this projection can't honor still refuses loudly
    intercept[Exception] {
      s.cypher("SHOW DATABASES YIELD name + '!' AS n RETURN n", "system")
    }
  }

  test("DROP DATABASE removes it; IF EXISTS tolerates absence; system refused") {
    val s = new GraftSession(spark)
    s.cypher("CREATE DATABASE scratch")
    assert(s.cypher("SHOW DATABASES", "system")
      .collect().exists(_.getString(0) == "scratch"))
    s.cypher("DROP DATABASE scratch")
    assert(!s.cypher("SHOW DATABASES", "system")
      .collect().exists(_.getString(0) == "scratch"))
    intercept[NoSuchElementException] { s.cypher("DROP DATABASE scratch") }
    s.cypher("DROP DATABASE scratch IF EXISTS") // tolerated
    intercept[IllegalArgumentException] { s.cypher("DROP DATABASE system") }
  }

  test("C14: STOP/START DATABASE gates queries") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:dog {name:'Arne'})")
    s.cypher("STOP DATABASE neo4j")
    intercept[IllegalStateException] {
      s.cypher("MATCH (a:dog) RETURN a.name AS name")
    }
    s.cypher("START DATABASE neo4j")
    assert(s.cypher("MATCH (a:dog) RETURN a.name AS name").count() == 1)
  }

  test("C8/C15: CALL dbms.listConfig YIELD + WHERE (ref DatabaseIO.java:92)") {
    val s = new GraftSession(spark, Map(
      "server.memory.pagecache.size" -> "512M",
      "server.default_listen_address" -> "0.0.0.0"))
    val res = s.cypher(
      "CALL dbms.listConfig() YIELD name, value WHERE name = 'server.memory.pagecache.size' RETURN value")
    assert(res.collect().map(_.getString(0)).toSeq == Seq("512M"))
  }

  test("C9: SHOW PROCEDURES YIELD name, signature") {
    val s = new GraftSession(spark)
    val res = s.cypher("SHOW PROCEDURES YIELD name, signature")
    val names = res.collect().map(_.getString(0)).toSeq
    assert(names.contains("dbms.listConfig"))
    assert(names == names.sorted)
  }

  test("UNION and UNION ALL combine single queries by column name") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:dog {name:'Arne'}), (b:cat {name:'Mio'}), (c:cat {name:'Arne'})")
    val all = s.cypher(
      "MATCH (d:dog) RETURN d.name AS name UNION ALL MATCH (c:cat) RETURN c.name AS name")
    assert(all.collect().map(_.getString(0)).sorted.toSeq == Seq("Arne", "Arne", "Mio"))
    val dedup = s.cypher(
      "MATCH (d:dog) RETURN d.name AS name UNION MATCH (c:cat) RETURN c.name AS name")
    assert(dedup.collect().map(_.getString(0)).sorted.toSeq == Seq("Arne", "Mio"))
  }

  test("pattern-existence predicates compile to semi/anti joins") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:dog {name:'Arne'})-[:SNIFFS]->(b:dog {name:'Bosse'})")
    s.cypher("CREATE (c:dog {name:'Solo'})")
    val some = s.cypher(
      "MATCH (d:dog) WHERE (d)-[:SNIFFS]->() RETURN d.name AS name ORDER BY name")
    assert(some.collect().map(_.getString(0)).toSeq == Seq("Arne"))
    val none = s.cypher(
      "MATCH (d:dog) WHERE NOT (d)-[:SNIFFS]->() RETURN d.name AS name ORDER BY name")
    assert(none.collect().map(_.getString(0)).toSeq == Seq("Bosse", "Solo"))
    // composes with ordinary predicates in the same WHERE
    val both = s.cypher(
      "MATCH (d:dog) WHERE NOT (d)-[:SNIFFS]->() AND d.name STARTS WITH 'S' RETURN d.name AS name")
    assert(both.collect().map(_.getString(0)).toSeq == Seq("Solo"))
  }

  test("list comprehensions, exists(), and percentile aggregates") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:v {n: 1}), (b:v {n: 2}), (c:v {n: 3}), (d:v {n: 4})")
    val comp = s.cypher(
      "UNWIND [y IN range(1, 6) WHERE y % 2 = 0 | y * 10] AS x RETURN sum(x) AS total")
    assert(comp.collect().head.getLong(0) == 120L) // 20 + 40 + 60
    val pct = s.cypher(
      "MATCH (v:v) RETURN percentileCont(v.n, 0.5) AS med, percentileDisc(v.n, 0.5) AS dmed")
    val row = pct.collect().head
    assert(row.getDouble(0) == 2.5)
    assert(row.getLong(1) == 2L)
    s.cypher("CREATE (x:p {name:'HasName'}), (y:p {other: 1})")
    val ex = s.cypher("MATCH (p:p) WHERE exists(p.name) RETURN p.name AS name")
    assert(ex.collect().map(_.getString(0)).toSeq == Seq("HasName"))
  }

  test("CASE WHEN expression in RETURN and with aggregates") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:v {n: 1}), (b:v {n: 5}), (c:v {n: 9})")
    val res = s.cypher(
      """MATCH (v:v) RETURN v.n AS n,
        |CASE WHEN v.n < 3 THEN 'low' WHEN v.n < 7 THEN 'mid' ELSE 'high' END AS bucket
        |ORDER BY n""".stripMargin)
    assert(res.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "low"), (5L, "mid"), (9L, "high")))
    val agg = s.cypher(
      "MATCH (v:v) RETURN sum(CASE WHEN v.n > 3 THEN 1 ELSE 0 END) AS big")
    assert(agg.collect().head.getLong(0) == 2L)
  }

  test("temporal constructors and trim variants") {
    val s = new GraftSession(spark)
    val r = s.cypher(
      """UNWIND range(1, 1) AS x
        |RETURN date('2024-03-01') AS d, datetime('2024-03-01 12:30:00') AS ts,
        |       lTrim('  a') AS l, rTrim('a  ') AS r""".stripMargin).collect().head
    assert(r.getDate(0).toString == "2024-03-01")
    assert(r.getTimestamp(1).toString.startsWith("2024-03-01 12:30:00"))
    assert(r.getString(2) == "a" && r.getString(3) == "a")
  }

  test("string predicates and scalar functions") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:p {name:'Customer#1'}), (b:p {name:'Supplier#2'})")
    val res = s.cypher(
      "MATCH (p:p) WHERE p.name STARTS WITH 'Cust' RETURN toUpper(p.name) AS u")
    assert(res.collect().map(_.getString(0)).toSeq == Seq("CUSTOMER#1"))
  }

  test("C5 + RETURN: MATCH … CREATE … RETURN mixes bound and fresh props (DatabaseIO.java:63)") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (arne:dog {name:'Arne'})-[:SNIFFS]->(bosse:dog {name:'Bosse'})")
    val res = s.cypher(
      "MATCH (a:dog {name:'Arne'}) CREATE (armstrong:dog {name:'Armstrong'})-[:SNIFFS]->(a) " +
        "RETURN a.name, armstrong.name")
    val row = res.collect().head
    assert(row.getAs[String]("a.name") == "Arne")
    assert(row.getAs[String]("armstrong.name") == "Armstrong")
    assert(s.graph().nodes.count() == 3)
    assert(s.graph().edges.count() == 2)
  }

  test("anonymous CREATE nodes are distinct per occurrence (positional keying)") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:v {n: 1}), (b:v {n: 2})")
    s.cypher("MATCH (v:v) CREATE (v)-[:A]->(:x)-[:B]->(:x)")
    // per binding: TWO fresh anonymous :x nodes, not one shared
    assert(s.graph().nodes.count() == 6)
    assert(s.graph().nodes.select("id").distinct().count() == 6)
    assert(s.graph().edges.count() == 4)
    val e = s.graph().edges
    val aDst = e.filter("relType = 'A'").select("dst").collect().map(_.getLong(0)).toSet
    val bSrc = e.filter("relType = 'B'").select("src").collect().map(_.getLong(0)).toSet
    val bDst = e.filter("relType = 'B'").select("dst").collect().map(_.getLong(0)).toSet
    assert(aDst == bSrc, "B edges must start at the first anonymous node")
    assert(aDst.intersect(bDst).isEmpty, "the two anonymous nodes must be distinct")
    assert(aDst.size == 2 && bDst.size == 2)
  }

  test("SET with expression values: SET n.m = n.n + 1") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:v {n: 1}), (b:v {n: 2}), (c:w {n: 10})")
    s.cypher("MATCH (n:v) SET n.m = n.n + 1")
    val res = s.cypher("MATCH (n:v) RETURN n.m AS m ORDER BY m")
    assert(res.collect().map(_.getLong(0)).toSeq == Seq(2L, 3L))
    // unmatched label untouched (new column null there)
    val w = s.cypher("MATCH (n:w) RETURN n.m AS m")
    assert(w.collect().head.isNullAt(0))
    // self-referential update over the existing column
    s.cypher("MATCH (n:v) SET n.n = n.n * 10")
    val res2 = s.cypher("MATCH (n:v) RETURN n.n AS n ORDER BY n")
    assert(res2.collect().map(_.getLong(0)).toSeq == Seq(10L, 20L))
  }

  test("pattern predicates under OR compile via exists-flag marker joins") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:dog {name:'Arne'})-[:SNIFFS]->(b:dog {name:'Bosse'})")
    s.cypher("CREATE (c:dog {name:'Solo'})")
    val res = s.cypher(
      "MATCH (d:dog) WHERE (d)-[:SNIFFS]->() OR d.name = 'Bosse' RETURN d.name AS name ORDER BY name")
    assert(res.collect().map(_.getString(0)).toSeq == Seq("Arne", "Bosse"))
    val neg = s.cypher(
      "MATCH (d:dog) WHERE NOT (d)-[:SNIFFS]->() OR d.name = 'Arne' RETURN d.name AS name ORDER BY name")
    assert(neg.collect().map(_.getString(0)).toSeq == Seq("Arne", "Bosse", "Solo"))
  }

  test("SET and DELETE on relationship variables (keyed by src/dst/relType)") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:dog {name:'Arne'})-[:SNIFFS]->(b:dog {name:'Bosse'})")
    s.cypher("CREATE (c:dog {name:'Solo'})-[:BARKS]->(d:dog {name:'Rex'})")
    s.cypher("MATCH (:dog {name:'Arne'})-[r:SNIFFS]->(:dog) SET r.strength = 9")
    val e = s.graph().edges
    assert(e.filter("relType = 'SNIFFS'").select("strength").collect().head.getLong(0) == 9L)
    assert(e.filter("relType = 'BARKS'").select("strength").collect().head.isNullAt(0))
    // expression RHS over the rel's own property
    s.cypher("MATCH (:dog)-[r:SNIFFS]->(:dog) SET r.strength = r.strength + 1")
    assert(s.graph().edges.filter("relType = 'SNIFFS'")
      .select("strength").collect().head.getLong(0) == 10L)
    // DELETE r removes only the matched relationship, never nodes
    s.cypher("MATCH (:dog)-[r:SNIFFS]->(:dog) DELETE r")
    assert(s.graph().edges.count() == 1)
    assert(s.graph().edges.collect().head.getAs[String]("relType") == "BARKS")
    assert(s.graph().nodes.count() == 4)
    // fully-anonymous endpoints: no node vars bound at all
    s.cypher("MATCH ()-[r:BARKS]->() DELETE r")
    assert(s.graph().edges.count() == 0)
  }

  test("keys() and properties() over bound entities") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:dog {name:'Arne', age: 4})-[:SNIFFS]->(b:dog {name:'Bosse'})")
    val k = s.cypher("MATCH (d:dog {name:'Arne'}) RETURN keys(d) AS ks")
    assert(k.collect().head.getSeq[String](0) == Seq("age", "name"))
    // Bosse has no age: the null column drops out of keys()
    val k2 = s.cypher("MATCH (d:dog {name:'Bosse'}) RETURN keys(d) AS ks")
    assert(k2.collect().head.getSeq[String](0) == Seq("name"))
    val p = s.cypher("MATCH (d:dog {name:'Arne'}) RETURN properties(d) AS props")
    val m = p.collect().head.getAs[scala.collection.Map[String, String]](0)
    assert(m == Map("name" -> "Arne", "age" -> "4"))
  }

  test("path MERGE is fully declarative: zero driver jobs until read") {
    val s = new GraftSession(spark)
    val (_, building) = graft.core.StatementMetrics.measure(spark) {
      s.cypher("MERGE (x:mcat {name:'Mio'})-[:CHASES]->(y:mcat {name:'Rut'})")
      s.cypher("MERGE (x:mcat {name:'Mio'})-[:CHASES]->(y:mcat {name:'Rut'}) " +
        "ON MATCH SET x.seen = 1 ON CREATE SET y.fresh = 1")
    }
    // materialize AFTER the measured scope — only the reads run jobs
    assert(s.graph().nodes.filter("name = 'Mio'").count() == 1)
    assert(s.graph().nodes.filter("name = 'Mio' AND seen = 1").count() == 1)
    assert(s.graph().nodes.filter("fresh = 1").count() == 0)
    assert(s.graph().edges.filter("relType = 'CHASES'").count() == 1)
    assert(building.jobs.isEmpty,
      "path MERGE ran driver actions while building the mutation")
  }

  test("MERGE ON CREATE SET / ON MATCH SET take the right branch") {
    val s = new GraftSession(spark)
    val q = "MERGE (c:city {name:'Oslo'}) " +
      "ON CREATE SET c.visits = 1 ON MATCH SET c.visits = c.visits + 1"
    s.cypher(q)
    assert(s.cypher("MATCH (c:city) RETURN c.visits AS v").collect().head.getLong(0) == 1L)
    s.cypher(q)
    assert(s.cypher("MATCH (c:city) RETURN c.visits AS v").collect().head.getLong(0) == 2L)
    assert(s.graph().nodes.count() == 1)
  }

  test("MATCH … MERGE appends the relationship only where absent") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:dog {name:'Arne'})-[:SNIFFS]->(b:dog {name:'Bosse'})")
    val q = "MATCH (a:dog {name:'Arne'}), (b:dog {name:'Bosse'}) MERGE (a)-[:LIKES]->(b)"
    s.cypher(q)
    assert(s.graph().edges.filter("relType = 'LIKES'").count() == 1)
    s.cypher(q) // idempotent
    assert(s.graph().edges.filter("relType = 'LIKES'").count() == 1)
    // an already-present type is left alone too
    s.cypher("MATCH (a:dog {name:'Arne'}), (b:dog {name:'Bosse'}) MERGE (a)-[:SNIFFS]->(b)")
    assert(s.graph().edges.filter("relType = 'SNIFFS'").count() == 1)
    assert(s.graph().nodes.count() == 2)
  }

  test("MATCH … MERGE honors ON CREATE / ON MATCH on the rel variable") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:dog {name:'Arne'})-[:SNIFFS]->(b:dog {name:'Bosse'})")
    val q = "MATCH (a:dog {name:'Arne'}), (b:dog {name:'Bosse'}) " +
      "MERGE (a)-[r:LIKES]->(b) ON CREATE SET r.since = 2020 ON MATCH SET r.seen = 1"
    s.cypher(q)
    val first = s.graph().edges.filter("relType = 'LIKES'").collect()
    assert(first.length == 1)
    assert(first.head.getAs[Long]("since") == 2020L)
    s.cypher(q) // second run takes the ON MATCH branch
    val second = s.graph().edges.filter("relType = 'LIKES'").collect()
    assert(second.length == 1)
    assert(second.head.getAs[Long]("since") == 2020L)
    assert(second.head.getAs[Long]("seen") == 1L)
    // handlers on anything but the rel variable are refused loudly
    intercept[UnsupportedOperationException] {
      s.cypher("MATCH (a:dog {name:'Arne'}), (b:dog {name:'Bosse'}) " +
        "MERGE (a)-[r:LIKES]->(b) ON MATCH SET a.touched = 1")
    }
  }

  test("MATCH … MERGE matches the whole pattern including rel props") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:u {n: 1}), (b:u {n: 2})")
    s.cypher("MATCH (a:u {n: 1}), (b:u {n: 2}) MERGE (a)-[r:RATED {stars: 3}]->(b)")
    assert(s.graph().edges.filter("relType = 'RATED'").count() == 1)
    // same type, different props: NOT the same pattern — a second edge
    s.cypher("MATCH (a:u {n: 1}), (b:u {n: 2}) MERGE (a)-[r:RATED {stars: 5}]->(b)")
    assert(s.graph().edges.filter("relType = 'RATED'").count() == 2)
    // identical props: matched, no third edge
    s.cypher("MATCH (a:u {n: 1}), (b:u {n: 2}) MERGE (a)-[r:RATED {stars: 5}]->(b)")
    assert(s.graph().edges.filter("relType = 'RATED'").count() == 2)
  }

  test("MATCH … MERGE undirected matches either orientation") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:p {n: 1})-[:KNOWS]->(b:p {n: 2})")
    // (b)-[:KNOWS]-(a) exists as (a)->(b): undirected merge must match it
    s.cypher("MATCH (a:p {n: 2}), (b:p {n: 1}) MERGE (a)-[r:KNOWS]-(b)")
    assert(s.graph().edges.filter("relType = 'KNOWS'").count() == 1)
    // directed merge in the reverse direction is a different pattern
    s.cypher("MATCH (a:p {n: 2}), (b:p {n: 1}) MERGE (a)-[r:KNOWS]->(b)")
    assert(s.graph().edges.filter("relType = 'KNOWS'").count() == 2)
  }

  test("MATCH … MERGE multi-hop: whole pattern matched or wholly created") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:mh {n: 1}), (b:mh {n: 2}), (c:mh {n: 3})")
    // nothing exists: both hops created
    s.cypher("MATCH (a:mh {n:1}), (b:mh {n:2}), (c:mh {n:3}) " +
      "MERGE (a)-[x:X]->(b)-[y:Y]->(c) ON CREATE SET x.made = 1, y.made = 2")
    def cnt(t: String) = s.graph().edges.filter(s"relType = '$t'").count()
    assert(cnt("X") == 1 && cnt("Y") == 1)
    assert(s.graph().edges.filter("relType = 'X' AND made = 1").count() == 1)
    assert(s.graph().edges.filter("relType = 'Y' AND made = 2").count() == 1)
    // full pattern present: nothing appended, ON MATCH applies per hop
    s.cypher("MATCH (a:mh {n:1}), (b:mh {n:2}), (c:mh {n:3}) " +
      "MERGE (a)-[x:X]->(b)-[y:Y]->(c) ON MATCH SET x.seen = 1")
    assert(cnt("X") == 1 && cnt("Y") == 1)
    assert(s.graph().edges.filter("relType = 'X' AND seen = 1").count() == 1)
    // half-present path (X exists toward a NEW endpoint pattern): a
    // full-pattern miss recreates the whole pattern, like Neo4j
    s.cypher("CREATE (d:mh {n: 4})")
    s.cypher("MATCH (a:mh {n:1}), (b:mh {n:2}), (d:mh {n:4}) " +
      "MERGE (a)-[x:X]->(b)-[y:Y]->(d)")
    assert(cnt("X") == 2 && cnt("Y") == 2)
  }

  test("relationships(p) over a multi-type path recovers the stored type per hop") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:mt {name:'a'})-[:X]->(b:mt {name:'b'})")
    s.cypher("MATCH (b:mt {name:'b'}) CREATE (b)-[:Y]->(c:mt {name:'c'})")
    val row = s.cypher(
      """MATCH p = shortestPath((a:mt {name:'a'})-[:X|Y*1..3]->(c:mt {name:'c'}))
        |RETURN relationships(p) AS rels""".stripMargin).collect().head
    val rels = row.getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rels == Seq((0L, 1L, "X"), (1L, 2L, "Y")))
  }

  test("SET n.x = n.y + 1 with absent property y yields null, not an error") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:v {n: 1})")
    s.cypher("MATCH (a:v) SET a.m = a.nope + 1")
    val r = s.cypher("MATCH (a:v) RETURN a.m AS m").collect().head
    assert(r.isNullAt(0))
  }

  test("SET n:Label / REMOVE n:Label update the labels array") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:dog {name:'Arne'}), (b:dog {name:'Bosse'})")
    s.cypher("MATCH (d:dog {name:'Arne'}) SET d:goodboy")
    val labeled = s.cypher("MATCH (d:goodboy) RETURN d.name AS name")
    assert(labeled.collect().map(_.getString(0)).toSeq == Seq("Arne"))
    // original label retained
    assert(s.cypher("MATCH (d:dog) RETURN count(d) AS n").collect().head.getLong(0) == 2L)
    s.cypher("MATCH (d:dog {name:'Arne'}) REMOVE d:goodboy")
    assert(s.cypher("MATCH (d:goodboy) RETURN count(d) AS n").collect().head.getLong(0) == 0L)
  }

  test("UNWIND + CREATE batch-inserts one instantiation per element") {
    val s = new GraftSession(spark)
    s.cypher("UNWIND [1, 2, 3] AS x CREATE (n:num {v: x})")
    val res = s.cypher("MATCH (n:num) RETURN n.v AS v ORDER BY v")
    assert(res.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(s.graph().nodes.count() == 3)
    // prop value referencing an undefined variable is an error
    intercept[NoSuchElementException] {
      s.cypher("UNWIND [1] AS x CREATE (n:num {v: y})")
    }
    // variable prop values outside UNWIND…CREATE are clearly refused
    intercept[UnsupportedOperationException] {
      s.cypher("MATCH (n:num {v: x}) RETURN n.v AS v")
    }
  }

  test("UNWIND $batch AS row CREATE — the driver bulk-load idiom with map fields") {
    val s = new GraftSession(spark)
    val batch = Seq(
      Map("name" -> "Else"), // missing key reads as null — even first
      Map("name" -> "Arne", "age" -> 7),
      Map("name" -> "Bosse", "age" -> 3))
    s.cypher("UNWIND $batch AS row CREATE (d:dog {name: row.name, age: row.age})",
      Map("batch" -> batch))
    assert(s.graph().nodes.count() == 3)
    val rows = s.cypher("MATCH (d:dog) RETURN d.name AS name, d.age AS age ORDER BY name")
      .collect().map(r => (r.getString(0), if (r.isNullAt(1)) null else r.getLong(1)))
    assert(rows.toSeq == Seq(("Arne", 7L), ("Bosse", 3L), ("Else", null)))
    // referencing an undefined alias in the map field errors
    intercept[NoSuchElementException] {
      s.cypher("UNWIND $batch AS row CREATE (d:dog {name: other.name})",
        Map("batch" -> batch))
    }
  }

  test("UNWIND range(…) CREATE bulk-loads 10k nodes with ONE append") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (seed:seed {v: 0})")
    s.cypher("UNWIND range(1, 10000) AS x CREATE (n:num {v: x})")
    // one append regardless of N: the logical lineage holds exactly
    // one Union over the pre-existing graph (a per-element recursion
    // would stack 10k of them and crawl)
    val unions = "(?i)\\bunion\\b".r.findAllIn(
      s.graph().nodes.queryExecution.logical.toString).size
    assert(unions <= 2, s"expected one batched append, saw $unions Unions in lineage")
    assert(s.graph().nodes.count() == 10001)
    val agg = s.cypher("MATCH (n:num) RETURN count(*) AS c, sum(n.v) AS tot")
    val row = agg.collect().head
    assert(row.getLong(0) == 10000L && row.getLong(1) == 50005000L)
  }

  test("introspection: db.relationshipTypes, db.propertyKeys, apoc.meta.stats") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:dog {name:'Arne', age: 4})-[:SNIFFS]->(b:cat {name:'Tom'})")
    val rts = s.cypher("CALL db.relationshipTypes() YIELD relationshipType RETURN relationshipType")
    assert(rts.collect().map(_.getString(0)).toSeq == Seq("SNIFFS"))
    val pks = s.cypher("CALL db.propertyKeys() YIELD propertyKey RETURN propertyKey")
    assert(pks.collect().map(_.getString(0)).toSeq == Seq("age", "name"))
    val st = s.cypher("CALL apoc.meta.stats() YIELD nodeCount, relCount RETURN nodeCount, relCount")
      .collect().head
    assert(st.getLong(0) == 2L && st.getLong(1) == 1L)
  }

  test("RETURN after MATCH…CREATE honors ORDER BY / DISTINCT / SKIP / LIMIT") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:v {n: 1}), (b:v {n: 2}), (c:v {n: 3})")
    val res = s.cypher(
      "MATCH (v:v) CREATE (t:tag {kind:'x'})-[:FOR]->(v) " +
        "RETURN v.n AS n ORDER BY n DESC SKIP 1 LIMIT 1")
    assert(res.collect().map(_.getLong(0)).toSeq == Seq(2L))
    val dist = s.cypher(
      "MATCH (v:v) CREATE (u:tag {kind:'y'})-[:FOR]->(v) RETURN DISTINCT u.kind AS kind")
    assert(dist.collect().map(_.getString(0)).toSeq == Seq("y"))
  }

  test("MATCH with no bindings: CREATE appends nothing, RETURN yields no rows") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:v {n: 1})")
    val res = s.cypher("MATCH (v:nope) CREATE (t:tag)-[:FOR]->(v) RETURN t.kind")
    assert(res.collect().isEmpty)
    assert(s.graph().nodes.count() == 1)
    assert(s.graph().edges.count() == 0)
  }

  test("MATCH … CREATE assigns deterministic ids across sessions") {
    def build(): Seq[Long] = {
      val s = new GraftSession(spark)
      s.cypher("CREATE (a:v {n: 2}), (b:v {n: 1}), (c:v {n: 3})")
      s.cypher("MATCH (v:v) CREATE (t:tag {kind:'x'})-[:FOR]->(v)")
      s.graph().edges.select("src", "dst").collect()
        .flatMap(r => Seq(r.getLong(0), r.getLong(1))).sorted.toSeq
    }
    assert(build() == build(), "fresh-id assignment must be run-independent")
  }

  test("MATCH … CREATE numbering avoids a single-partition global window") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:v {n: 1}), (b:v {n: 2}), (c:v {n: 3})")
    s.cypher("MATCH (v:v) CREATE (t:tag {kind:'y'})-[:FOR]->(v)")
    val plan = s.graph().nodes.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      "fresh-id numbering must not funnel the match through one Window task")
    assert(s.graph().nodes.count() == 6)
  }

  // ---- query parameters ($name) — ref driver API carries a param map
  // on every session.run (DatabaseIO.java:121-132) ----

  test("parameters: CREATE with $props values and MATCH with $name predicate") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (d:dog {name: $name, age: $age})",
      Map("name" -> "Arne", "age" -> 7))
    s.cypher("CREATE (d:dog {name: $name, age: $age})",
      Map("name" -> "Bosse", "age" -> 3))
    val res = s.cypher("MATCH (d:dog) WHERE d.name = $name RETURN d.age AS age",
      Map("name" -> "Arne"))
    assert(res.collect().map(_.getLong(0)).toSeq == Seq(7L))
    // inline-prop form too: MATCH (d:dog {name: $name})
    val res2 = s.cypher("MATCH (d:dog {name: $name}) RETURN d.age AS age",
      Map("name" -> "Bosse"))
    assert(res2.collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("parameters: SET with expression over $param and IN $list") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:v {n: 1}), (b:v {n: 2}), (c:v {n: 3})")
    s.cypher("MATCH (v:v) WHERE v.n = $k SET v.n = $k * 10", Map("k" -> 2))
    val ns = s.cypher("MATCH (v:v) RETURN v.n AS n ORDER BY n")
      .collect().map(_.getLong(0)).toSeq
    assert(ns == Seq(1L, 3L, 20L))
    val in = s.cypher("MATCH (v:v) WHERE v.n IN $wanted RETURN count(*) AS c",
      Map("wanted" -> Seq(1, 20)))
    assert(in.collect().head.getLong(0) == 2L)
  }

  test("EXPLAIN returns the plan without executing; PROFILE executes with row count") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:dog {name:'Arne'})-[:SNIFFS]->(b:dog {name:'Bosse'})")
    val plan = s.cypher("EXPLAIN MATCH (a:dog)-[:SNIFFS]->(b:dog) RETURN a.name AS name")
      .collect().map(_.getString(0)).mkString("\n")
    assert(plan.nonEmpty)
    val prof = s.cypher("PROFILE MATCH (a:dog) RETURN a.name AS name")
      .collect().map(_.getString(0))
    assert(prof.last == "rows: 2")
    // EXPLAIN of a mutation prints the would-be plans and mutates NOTHING
    val idBefore = s.catalog.database("neo4j").nextId.get()
    val mplan = s.cypher("EXPLAIN CREATE (c:dog {name:'Nope'})")
      .collect().map(_.getString(0))
    assert(mplan.exists(_.contains("would-be nodes plan")))
    assert(mplan.exists(_.contains("Union")), mplan.mkString("\n")) // the append shape
    assert(s.graph().nodes.count() == 2)
    assert(s.graph().nodes.filter("name = 'Nope'").count() == 0)
    assert(s.catalog.database("neo4j").nextId.get() == idBefore,
      "EXPLAIN must not consume ids")
    // PROFILE of a mutation still refuses (profiling would execute it)
    intercept[UnsupportedOperationException] {
      s.cypher("PROFILE CREATE (c:dog {name:'Nope'})")
    }
  }

  test("transactions: COMMIT publishes atomically, ROLLBACK restores the entry snapshot") {
    val s = new GraftSession(spark)
    // the cypher-shell script shape (ref TestBasic.java:146-156):
    // BEGIN … statements … COMMIT applies the writes
    s.cypher("BEGIN")
    s.cypher("CREATE (a:tx {n: 1})")
    s.cypher("COMMIT")
    assert(s.graph().nodes.filter("n = 1").count() == 1)
    // read-only transaction rolls back trivially
    s.cypher("BEGIN TRANSACTION")
    s.cypher("MATCH (a:tx) RETURN a.n AS n").collect()
    s.cypher("ROLLBACK")
    // ROLLBACK after writes restores the entry snapshot bit-identically
    // (including the id counter, so the next create reuses the ids)
    val before = s.graph().nodes.collect().toSet
    s.cypher("BEGIN")
    s.cypher("CREATE (b:tx {n: 2})")
    // a refused statement mid-transaction must not corrupt the txn
    intercept[UnsupportedOperationException] { s.cypher("SET b.n = 3") }
    // reads inside the transaction see its own uncommitted writes
    assert(s.cypher("MATCH (b:tx) RETURN count(*) AS c").collect().head.getLong(0) == 2L)
    s.cypher("ROLLBACK")
    assert(s.graph().nodes.collect().toSet == before)
    assert(s.cypher("MATCH (b:tx) RETURN count(*) AS c").collect().head.getLong(0) == 1L)
    // BEGIN → two CREATEs → COMMIT applies both
    s.cypher("BEGIN")
    s.cypher("CREATE (c:tx {n: 10})")
    s.cypher("CREATE (d:tx {n: 11})")
    s.cypher("COMMIT")
    assert(s.cypher("MATCH (x:tx) WHERE x.n >= 10 RETURN count(*) AS c")
      .collect().head.getLong(0) == 2L)
    // commit/rollback without an open transaction are errors
    intercept[IllegalStateException] { s.cypher("COMMIT") }
    intercept[IllegalStateException] { s.cypher("ROLLBACK") }
    // nested BEGIN is an error
    s.cypher("BEGIN")
    intercept[IllegalStateException] { s.cypher("BEGIN") }
    s.cypher("COMMIT")
  }

  test("CALL { } IN TRANSACTIONS commits per batch; a failing batch keeps earlier commits") {
    val s = new GraftSession(spark)
    // happy path: 25 rows in batches of 10 → 3 batches, all created
    val res = s.cypher(
      "UNWIND range(1, 25) AS x CALL { WITH x CREATE (:bat {k: x}) } IN TRANSACTIONS OF 10 ROWS")
      .collect().head
    assert(res.getLong(0) == 25L && res.getLong(1) == 3L) // (rows, batches)
    assert(s.cypher("MATCH (b:bat) RETURN count(b) AS c").collect().head.getLong(0) == 25L)
    // parameter-batch form with MERGE upsert body
    val batch = (1 to 25).map(i => Map("k" -> i.toLong, "v" -> (i * 2).toLong))
    s.cypher(
      """UNWIND $rows AS row CALL { WITH row
        |MERGE (b:bat {k: row.k}) ON MATCH SET b.v = row.v
        |} IN TRANSACTIONS OF 7 ROWS""".stripMargin,
      Map("rows" -> batch))
    assert(s.cypher("MATCH (b:bat) WHERE b.v = b.k * 2 RETURN count(b) AS c")
      .collect().head.getLong(0) == 25L)
    // reference error semantics: the failing batch rolls itself back,
    // the batches BEFORE it stay committed (null merge key in row 3,
    // one row per batch → rows 1-2 land, 3 fails)
    val bad = Seq(Map("k" -> 100L), Map("k" -> 101L), Map("k" -> null))
    intercept[IllegalArgumentException] {
      s.cypher(
        "UNWIND $rows AS row CALL { WITH row MERGE (b:bat {k: row.k}) } IN TRANSACTIONS OF 1 ROWS",
        Map("rows" -> bad))
    }
    assert(s.cypher("MATCH (b:bat) WHERE b.k >= 100 RETURN count(b) AS c")
      .collect().head.getLong(0) == 2L)
    // not allowed inside an open transaction (reference refusal)
    s.cypher("BEGIN")
    intercept[UnsupportedOperationException] {
      s.cypher("UNWIND range(1, 5) AS x CALL { WITH x CREATE (:bat2 {k: x}) } IN TRANSACTIONS")
    }
    s.cypher("ROLLBACK")
    // the alias must be imported; a read-only body is refused
    intercept[UnsupportedOperationException] {
      s.cypher("UNWIND range(1, 5) AS x CALL { CREATE (:bat3 {k: 1}) } IN TRANSACTIONS")
    }
    intercept[UnsupportedOperationException] {
      s.cypher("UNWIND range(1, 5) AS x CALL { WITH x MATCH (b:bat) RETURN b.k AS k } IN TRANSACTIONS")
    }
    // ON ERROR CONTINUE (Neo4j 5.23): failing batches count, the rest
    // land; BREAK stops after the first failure without erroring
    val contRows = Seq(Map("k" -> 200L), Map("k" -> null), Map("k" -> 201L))
    val cont = s.cypher(
      "UNWIND $rows AS row CALL { WITH row MERGE (b:bat {k: row.k}) } " +
        "IN TRANSACTIONS OF 1 ROWS ON ERROR CONTINUE",
      Map("rows" -> contRows)).collect().head
    assert(cont.getLong(1) == 2L && cont.getLong(2) == 1L) // (rows, batches, failed)
    assert(s.cypher("MATCH (b:bat) WHERE b.k >= 200 RETURN count(b) AS c")
      .collect().head.getLong(0) == 2L)
    val brk = s.cypher(
      "UNWIND $rows AS row CALL { WITH row MERGE (b:bat {k: row.k}) } " +
        "IN TRANSACTIONS OF 1 ROWS ON ERROR BREAK",
      Map("rows" -> Seq(Map("k" -> 300L), Map("k" -> null), Map("k" -> 301L))))
      .collect().head
    assert(brk.getLong(1) == 1L && brk.getLong(2) == 1L) // stopped at the failure
    assert(s.cypher("MATCH (b:bat) WHERE b.k >= 300 RETURN count(b) AS c")
      .collect().head.getLong(0) == 1L)
    // `IN [k] CONCURRENT TRANSACTIONS` (Neo4j 5.21+): the concurrency
    // hint parses and the batched commits run identically
    val conc = s.cypher(
      "UNWIND range(1, 12) AS x CALL { WITH x CREATE (:batc {k: x}) } " +
        "IN 4 CONCURRENT TRANSACTIONS OF 5 ROWS").collect().head
    assert(conc.getLong(0) == 12L && conc.getLong(1) == 3L)
    assert(s.cypher("MATCH (b:batc) RETURN count(b) AS c")
      .collect().head.getLong(0) == 12L)
    s.cypher(
      "UNWIND range(13, 15) AS x CALL { WITH x CREATE (:batc {k: x}) } " +
        "IN CONCURRENT TRANSACTIONS")
    assert(s.cypher("MATCH (b:batc) RETURN count(b) AS c")
      .collect().head.getLong(0) == 15L)
  }

  test("MATCH-driven CALL { } IN TRANSACTIONS: batched cleanup over a bound match") {
    val s = new GraftSession(spark)
    s.cypher("UNWIND range(1, 25) AS x CREATE (:mtx {k: x})")
    // batched SET over a filtered match: 20 rows in 7-row batches
    val res = s.cypher(
      "MATCH (n:mtx) WHERE n.k <= 20 CALL { WITH n SET n.flag = 1 } " +
        "IN TRANSACTIONS OF 7 ROWS").collect().head
    assert(res.getLong(0) == 20L && res.getLong(1) == 3L, s"got $res")
    assert(s.cypher("MATCH (n:mtx) WHERE n.flag = 1 RETURN count(n) AS c")
      .collect().head.getLong(0) == 20L)
    // the flagship shape: batched DETACH DELETE of the whole label
    val res2 = s.cypher(
      "MATCH (n:mtx) CALL { WITH n DETACH DELETE n } IN TRANSACTIONS OF 10 ROWS")
      .collect().head
    assert(res2.getLong(0) == 25L && res2.getLong(1) == 3L, s"got $res2")
    assert(s.cypher("MATCH (n:mtx) RETURN count(n) AS c")
      .collect().head.getLong(0) == 0L)
    // importing a variable the MATCH doesn't bind refuses loudly
    s.cypher("CREATE (:mtx {k: 99})")
    intercept[UnsupportedOperationException] {
      s.cypher("MATCH (n:mtx) CALL { WITH m SET m.x = 1 } IN TRANSACTIONS")
    }
  }

  test("IN TRANSACTIONS ON ERROR: a failing batch rolls back whole — state AND minted ids") {
    val s = new GraftSession(spark)
    // a constraint violation is detected AFTER the batch's writes
    // applied (the CREATE publishes, then the check fires) — the
    // rollback must restore the graph, delta overlays AND the id
    // allocators, so a failed batch neither leaks state nor burns ids
    // (ADVICE r13: all-or-nothing per batch; deterministic ids)
    s.cypher("CREATE CONSTRAINT uq_pc FOR (n:pc) REQUIRE n.k IS UNIQUE")
    s.cypher("CREATE (:pc {k: 1})")
    val seedId = s.cypher("MATCH (n:pc {k: 1}) RETURN id(n) AS i")
      .collect().head.getLong(0)
    val rows = Seq(Map("k" -> 2L), Map("k" -> 1L), Map("k" -> 3L)) // middle violates
    val res = s.cypher(
      "UNWIND $rows AS row CALL { WITH row CREATE (:pc {k: row.k}) } " +
        "IN TRANSACTIONS OF 1 ROWS ON ERROR CONTINUE",
      Map("rows" -> rows)).collect().head
    assert(res.getLong(1) == 2L && res.getLong(2) == 1L) // (rows, batches, failed)
    // the duplicate never published; the two good rows did
    val ks = s.cypher("MATCH (n:pc) RETURN n.k AS k, id(n) AS i ORDER BY k")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ks.keySet == Set(1L, 2L, 3L))
    // ids stay CONTIGUOUS: the failed batch's minted id was restored,
    // so k=3 takes the id right after k=2 (no burned hole)
    assert(ks(2L) == seedId + 1 && ks(3L) == seedId + 2, s"got $ks")
  }

  test("db-scoped procedures follow USE: awaitIndex and db.cdc read the statement's database") {
    val s = new GraftSession(spark)
    s.cypher("CREATE DATABASE proddb")
    // an index created on proddb is awaitable THERE, not on the default
    s.cypher("USE proddb CREATE INDEX prod_idx FOR (n:item) ON (n.sku)")
    s.cypher("USE proddb CALL db.awaitIndex('prod_idx')")
    intercept[NoSuchElementException] {
      s.cypher("CALL db.awaitIndex('prod_idx')").collect()
    }
    // db.labels follows the statement's database too
    s.cypher("USE proddb CREATE (:item {sku: 1})")
    assert(s.cypher("USE proddb CALL db.labels() YIELD label RETURN label")
      .collect().map(_.getString(0)).toSeq == Seq("item"))
    assert(!s.cypher("CALL db.labels() YIELD label RETURN label")
      .collect().map(_.getString(0)).contains("item"))
    // a CDC cursor taken on proddb reads proddb's deltas, and the
    // default database's feed stays quiet
    val cur = s.cypher("USE proddb CALL db.cdc.earliest() YIELD id RETURN id")
      .collect().head.getString(0)
    s.cypher("USE proddb MATCH (n:item {sku: 1}) SET n.flag = 1")
    val events = s.cypher(
      s"USE proddb CALL db.cdc.query('$cur') YIELD op, entity RETURN op, entity").collect()
    assert(events.length == 1 && events.head.getString(0) == "u")
  }

  test("WITH-bounded writes: LIMIT/ORDER BY/WHERE bound the write set; bad shapes refuse") {
    val s = new GraftSession(spark)
    s.cypher("UNWIND range(1, 25) AS x CREATE (:wq {k: x})")
    // LIMIT bounds the delete to an arbitrary 10 of the 25
    s.cypher("MATCH (n:wq) WITH n LIMIT 10 DETACH DELETE n")
    assert(s.cypher("MATCH (n:wq) RETURN count(n) AS c")
      .collect().head.getLong(0) == 15L)
    // ORDER BY + LIMIT makes the subset deterministic: smallest 3 ks
    s.cypher("MATCH (n:wq) WITH n ORDER BY n.k LIMIT 3 SET n.f = 1")
    val flagged = s.cypher(
      "MATCH (n:wq) WHERE n.f = 1 RETURN n.k AS k ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    val all = s.cypher("MATCH (n:wq) RETURN n.k AS k ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(flagged == all.take(3))
    // WHERE on the yielded var composes
    s.cypher("MATCH (n:wq) WITH n WHERE n.k > 20 DETACH DELETE n")
    assert(s.cypher("MATCH (n:wq) RETURN count(n) AS c")
      .collect().head.getLong(0) == all.count(_ <= 20))
    // write-then-read-back composes with the bound
    val drained = s.cypher(
      "MATCH (n:wq) WITH n LIMIT 4 DETACH DELETE n RETURN count(*) AS c")
      .collect().head.getLong(0)
    assert(drained == 4L)
    // non-bare projection refuses loudly (the LIMIT would be dropped)
    intercept[UnsupportedOperationException] {
      s.cypher("MATCH (n:wq) WITH n.k AS kk LIMIT 2 SET n.f = kk")
    }
    // relationship targets refuse under a WITH bound
    s.cypher("CREATE (:wqa {k: 1})-[:WQR]->(:wqb {k: 2})")
    intercept[UnsupportedOperationException] {
      s.cypher("MATCH (:wqa)-[r:WQR]->(:wqb) WITH r LIMIT 1 DELETE r")
    }
  }

  test("db.cdc: delta-log change feed classifies c/u/d, epoch change invalidates cursors") {
    val s = new GraftSession(spark)
    s.cypher("UNWIND range(1, 5) AS x CREATE (:cd {k: x})")
    val cursor = s.cypher("CALL db.cdc.current() YIELD id RETURN id")
      .collect().head.getString(0)
    // update two base rows (delta fold), create one (buffered MERGE),
    // tombstone one (buffered DELETE)
    s.cypher("MATCH (n:cd) WHERE n.k <= 2 SET n.flag = 1")
    s.cypher("MERGE (n:cd {k: 99})")
    s.cypher("MATCH (n:cd {k: 5}) DELETE n")
    val events = s.cypher(
      s"CALL db.cdc.query('$cursor') YIELD op, entity, id, detail " +
        "RETURN op, entity, id, detail").collect()
    val byOp = events.groupBy(_.getString(0)).view.mapValues(_.length).toMap
    assert(byOp == Map("u" -> 2, "c" -> 1, "d" -> 1), s"got $byOp")
    assert(events.forall(_.getString(1) == "node"))
    assert(events.forall(_.getString(3) == "cd"))
    // a relationship MERGE lands on the edge side of the feed
    s.cypher("MATCH (a:cd {k: 1}), (b:cd {k: 2}) MERGE (a)-[:CDR]->(b)")
    val events2 = s.cypher(
      s"CALL db.cdc.query('$cursor') YIELD op, entity, id, detail " +
        "RETURN op, entity, id, detail").collect()
    val rels = events2.filter(_.getString(1) == "relationship")
    assert(rels.length == 1 && rels.head.getString(0) == "c" &&
      rels.head.getString(3) == "CDR")
    // a save folds the overlay into a new base: the old cursor is a
    // different epoch now and must refuse loudly
    val tmp = java.nio.file.Files.createTempDirectory("graft_cdc_").toString
    s.saveDatabase(tmp)
    intercept[IllegalStateException] {
      s.cypher(s"CALL db.cdc.query('$cursor') YIELD op RETURN op").collect()
    }
    // and a fresh cursor over the new epoch reads an empty feed
    val c2 = s.cypher("CALL db.cdc.current() YIELD id RETURN id")
      .collect().head.getString(0)
    assert(s.cypher(s"CALL db.cdc.query('$c2') YIELD op RETURN op")
      .collect().isEmpty)
    graft.core.SnapshotStore.deleteDir(tmp)
  }

  test("db.cdc: cursors advance within the epoch — updates before the cursor do not replay") {
    val s = new GraftSession(spark)
    s.cypher("UNWIND range(1, 4) AS x CREATE (:cseq {k: x})")
    def cursor(): String = s.cypher("CALL db.cdc.current() YIELD id RETURN id")
      .collect().head.getString(0)
    def ops(c: String) = s.cypher(
      s"CALL db.cdc.query('$c') YIELD op, id RETURN op, id").collect()
    val c1 = cursor()
    s.cypher("MATCH (n:cseq {k: 1}) SET n.flag = 1")
    assert(ops(c1).length == 1)
    val c2 = cursor()
    s.cypher("MATCH (n:cseq {k: 2}) SET n.flag = 2")
    // the r14 over-delivery: c2 used to replay k=1's earlier update
    // too; the commit sequence in the cursor now scopes the feed to
    // changes PAST the cursor
    val e2 = ops(c2)
    assert(e2.length == 1, s"expected only k=2's update, got ${e2.length}")
    assert(e2.head.getString(0) == "u")
    // the older cursor still sees both updates
    assert(ops(c1).length == 2)
    // buffered deletes ride the same sequence
    val c3 = cursor()
    s.cypher("MATCH (n:cseq {k: 3}) DELETE n")
    val e3 = ops(c3)
    assert(e3.length == 1 && e3.head.getString(0) == "d")
    // a cursor minted after everything reads an empty feed
    assert(ops(cursor()).isEmpty)
  }

  test("db.cdc selectors scope the feed inside the delta read") {
    val s = new GraftSession(spark)
    s.cypher("UNWIND range(1, 4) AS x CREATE (:sa {k: x})")
    s.cypher("UNWIND range(1, 3) AS x CREATE (:sb {k: x})")
    val c = s.cypher("CALL db.cdc.current() YIELD id RETURN id")
      .collect().head.getString(0)
    s.cypher("MATCH (n:sa {k: 1}) SET n.f = 1") // u :sa
    s.cypher("MERGE (n:sa {k: 99})") // c :sa (buffered — stays on the delta-log)
    s.cypher("MATCH (n:sb {k: 3}) DELETE n") // d :sb
    s.cypher("MATCH (a:sa {k: 1}), (b:sb {k: 1}) MERGE (a)-[:SR]->(b)") // c SR
    s.cypher("MATCH (a:sa {k: 2}), (b:sb {k: 2}) MERGE (a)-[:SQ]->(b)") // c SQ
    def q(sel: String) = s.cypher(
      s"CALL db.cdc.query('$c'$sel) YIELD op, entity, id, detail " +
        "RETURN op, entity, id, detail").collect()
    // no selectors: the full feed — 3 node events + 2 rel events
    assert(q("").length == 5)
    // entity scope: the relationship delta is never read at all
    val n = q(", [{select: 'n'}]")
    assert(n.length == 3 && n.forall(_.getString(1) == "node"), n.mkString(","))
    // label scope
    val sa = q(", [{select: 'n', labels: ['sa']}]")
    assert(sa.length == 2 && sa.forall(_.getString(3) == "sa"), sa.mkString(","))
    // op scope composes with label scope
    val saC = q(", [{select: 'n', labels: ['sa'], operations: ['c']}]")
    assert(saC.length == 1 && saC.head.getString(0) == "c")
    // Neo4j-style long op names normalize
    val saC2 = q(", [{select: 'n', labels: ['sa'], operations: ['CREATE']}]")
    assert(saC2.length == 1 && saC2.head.getString(0) == "c")
    // relationship type scope
    val sr = q(", [{select: 'r', type: 'SR'}]")
    assert(sr.length == 1 && sr.head.getString(3) == "SR")
    // multiple selectors union across sides: d on :sb plus the SQ create
    val both = q(", [{select: 'n', labels: ['sb']}, {select: 'r', type: 'SQ'}]")
    assert(both.length == 2, both.mkString(","))
    // selectors compose with withBefore (positions 1 + 2): scoped AND enriched
    val wb = s.cypher(
      s"CALL db.cdc.query('$c', true, [{select: 'n', labels: ['sa']}]) " +
        "YIELD op, entity, before RETURN op, entity, before").collect()
    assert(wb.length == 2 && wb.forall(_.getString(1) == "node"))
    assert(wb.exists(r => r.getString(0) == "u" && r.getString(2) != null))
    // sequence advancement is untouched by scoping: a later cursor
    // with a selector sees only its slice of LATER changes
    val c2 = s.cypher("CALL db.cdc.current() YIELD id RETURN id")
      .collect().head.getString(0)
    s.cypher("MATCH (x:sa {k: 2}) SET x.f = 7")
    def q2(sel: String) = s.cypher(
      s"CALL db.cdc.query('$c2'$sel) YIELD op RETURN op").collect()
    assert(q2(", [{select: 'n', labels: ['sb']}]").isEmpty)
    assert(q2(", [{select: 'n', labels: ['sa']}]").length == 1)
    // a malformed selector refuses loudly
    intercept[Exception] {
      q(", [{select: 'n', operations: ['bogus']}]")
    }
    // a no-delta feed keeps the withBefore shape: YIELD before on the
    // empty frame analyzes (the before column is served, null-typed)
    val s3 = new GraftSession(spark)
    val c3 = s3.cypher("CALL db.cdc.current() YIELD id RETURN id")
      .collect().head.getString(0)
    assert(s3.cypher(s"CALL db.cdc.query('$c3', true) YIELD op, before " +
      "RETURN op, before").collect().isEmpty)
  }

  test("db.cdc withBefore: at-cursor images, selector-scoped enrichment (r16 verdict #7)") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (:bx {k: 1, v: 10})")
    s.cypher("CREATE (:by {k: 1, v: 20})")
    val c = s.cypher("CALL db.cdc.current() YIELD id RETURN id")
      .collect().head.getString(0)
    s.cypher("MATCH (n:bx) SET n.v = 11")
    s.cypher("MATCH (n:by) SET n.v = 21")
    // label-scoped + withBefore: exactly the scoped slice is
    // delivered AND enriched — the before-image machinery runs over
    // the selector-filtered keys only (the unscoped :by key never
    // enters the lookup), and the image is the TRUE at-cursor state
    // even though the node was CREATED this epoch and its delta row
    // has since been overwritten (the anchored-frame path)
    val wb = s.cypher(
      s"CALL db.cdc.query('$c', true, [{select: 'n', labels: ['bx']}]) " +
        "YIELD op, detail, before RETURN op, detail, before").collect()
    assert(wb.length == 1 && wb.head.getString(1) == "bx", wb.mkString(","))
    assert(wb.head.getString(0) == "u")
    val before = wb.head.getString(2)
    assert(before != null && before.contains("\"v\":10"), s"before: $before")
    // an update AFTER a second SET still reads the SECOND cursor's
    // at-cursor value (not epoch start, not latest)
    val c2 = s.cypher("CALL db.cdc.current() YIELD id RETURN id")
      .collect().head.getString(0)
    s.cypher("MATCH (n:bx) SET n.v = 12")
    val wb2 = s.cypher(
      s"CALL db.cdc.query('$c2', true, [{select: 'n', labels: ['bx']}]) " +
        "YIELD op, before RETURN op, before").collect()
    assert(wb2.length == 1 && wb2.head.getString(1) != null &&
      wb2.head.getString(1).contains("\"v\":11"), wb2.mkString(","))
    // exactness surface (ADVICE r17 #4): an ANCHORED cursor reports
    // before_exact = true …
    assert(s.cypher(
      s"CALL db.cdc.query('$c2', true) YIELD before_exact RETURN before_exact")
      .collect().forall(_.getBoolean(0)))
    // … and once the anchor is gone (the ≤64 cache evicts the lowest
    // sequence as newer cursors mint — simulated directly; 64 real
    // interleaved commits would pin the same path at 100× the test
    // cost), the reconstruction declares itself best-effort instead
    // of silently degrading: a key updated both before and after the
    // cursor reads the epoch-base image there
    s.catalog.database("neo4j").cdcAnchors.clear()
    s.cypher("MATCH (n:bx) SET n.v = 13")
    val wb3 = s.cypher(
      s"CALL db.cdc.query('$c2', true, [{select: 'n', labels: ['bx']}]) " +
        "YIELD before, before_exact RETURN before, before_exact").collect()
    assert(wb3.length == 1 && !wb3.head.getBoolean(1),
      "evicted-anchor reconstruction not flagged best-effort")
    // a seq-0 epoch-start cursor needs no anchor: its before IS the
    // base — exact by construction
    val e0 = s.cypher("CALL db.cdc.earliest() YIELD id RETURN id")
      .collect().head.getString(0)
    assert(s.cypher(
      s"CALL db.cdc.query('$e0', true) YIELD before_exact RETURN before_exact")
      .collect().forall(_.getBoolean(0)))
  }

  test("db.cdc: cursors are database-bound — the wrong database refuses") {
    val s = new GraftSession(spark)
    s.cypher("CREATE DATABASE cdcdb")
    s.cypher("CREATE (:cbx {k: 1})")
    val cur = s.cypher("CALL db.cdc.earliest() YIELD id RETURN id")
      .collect().head.getString(0)
    // two fresh databases routinely share epoch counters — the cursor
    // carries its database and the query refuses a mismatch rather
    // than classifying against the wrong allocator watermarks
    val err = intercept[IllegalArgumentException] {
      s.cypher(s"USE cdcdb CALL db.cdc.query('$cur') YIELD op RETURN op").collect()
    }
    assert(err.getMessage.contains("database"))
  }

  test("db.cdc: transaction writes surface at COMMIT with commit-time ordering") {
    val s = new GraftSession(spark)
    s.cypher("UNWIND range(1, 3) AS x CREATE (:ctx {k: x})")
    def cursor(): String = s.cypher("CALL db.cdc.current() YIELD id RETURN id")
      .collect().head.getString(0)
    def ops(c: String) = s.cypher(
      s"CALL db.cdc.query('$c') YIELD op, id RETURN op, id").collect()
    val before = cursor()
    val tx = s.beginTransaction()
    s.cypher("MATCH (n:ctx {k: 1}) SET n.flag = 1", Map.empty[String, Any], "neo4j", tx)
    // a cursor minted while the transaction is open — its statement
    // already ran, but CDC orders by COMMIT, so the row must still
    // deliver to this cursor once published
    val during = cursor()
    assert(ops(during).isEmpty) // uncommitted writes are invisible
    s.commitTransaction(tx)
    val evBefore = ops(before)
    assert(evBefore.length == 1 && evBefore.head.getString(0) == "u")
    val evDuring = ops(during)
    assert(evDuring.length == 1 && evDuring.head.getString(0) == "u")
  }

  test("apoc.periodic.commit drains a LIMIT-bounded delete loop") {
    val s = new GraftSession(spark)
    graft.procs.Packs.install(s, Seq("apoc"))
    s.cypher("UNWIND range(1, 25) AS x CREATE (:pq {k: x})")
    val r = s.cypher(
      """CALL apoc.periodic.commit(
        |  'MATCH (n:pq) WITH n LIMIT 7 DETACH DELETE n RETURN count(*) AS c')
        |YIELD executions, updates RETURN executions, updates""".stripMargin)
      .collect().head
    // 7+7+7+4 rows over 4 passes, a 5th pass reads 0 and ends the loop
    assert(r.getLong(0) == 5L && r.getLong(1) == 25L)
    assert(s.cypher("MATCH (n:pq) RETURN count(n) AS c")
      .collect().head.getLong(0) == 0L)
  }

  test("two interleaved transaction handles: isolated until COMMIT, serialized commits") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (:acct {aid: 0, bal: 100})")
    val t1 = s.beginTransaction()
    val t2 = s.beginTransaction()
    s.cypher("CREATE (:acct {aid: 1, bal: 10})", Map.empty[String, Any], "neo4j", t1)
    s.cypher("CREATE (:acct {aid: 2, bal: 20})", Map.empty[String, Any], "neo4j", t2)
    def count(tx: TxHandle): Long =
      s.cypher("MATCH (a:acct) RETURN count(*) AS c", Map.empty[String, Any], "neo4j", tx)
        .collect().head.getLong(0)
    // each transaction sees the base row plus ONLY its own write
    assert(count(t1) == 2L)
    assert(count(t2) == 2L)
    // the autocommit surface sees neither uncommitted write
    assert(s.cypher("MATCH (a:acct) RETURN count(*) AS c").collect().head.getLong(0) == 1L)
    s.commitTransaction(t1)
    // t1's write published; t2 keeps reading its own snapshot
    assert(s.cypher("MATCH (a:acct) RETURN count(*) AS c").collect().head.getLong(0) == 2L)
    assert(count(t2) == 2L)
    // second commit: same-database writes resolve last-writer-wins
    // (t2's snapshot never contained t1's row)
    s.commitTransaction(t2)
    val ids = s.cypher("MATCH (a:acct) RETURN a.aid AS aid ORDER BY aid")
      .collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(0L, 2L))
    // a closed handle refuses further statements and double-commit
    intercept[IllegalStateException] {
      s.cypher("MATCH (a:acct) RETURN a.aid AS aid", Map.empty[String, Any], "neo4j", t2)
    }
    intercept[IllegalStateException] { s.commitTransaction(t2) }
    // rollback discards: nothing published
    val t3 = s.beginTransaction()
    s.cypher("CREATE (:acct {aid: 3, bal: 30})", Map.empty[String, Any], "neo4j", t3)
    s.rollbackTransaction(t3)
    assert(s.cypher("MATCH (a:acct) RETURN count(*) AS c").collect().head.getLong(0) == 2L)
    // transaction-control text inside a handle is refused loudly
    val t4 = s.beginTransaction()
    intercept[IllegalArgumentException] {
      s.cypher("BEGIN", Map.empty[String, Any], "neo4j", t4)
    }
    intercept[IllegalArgumentException] {
      s.cypher("ROLLBACK", Map.empty[String, Any], "neo4j", t4)
    }
    s.rollbackTransaction(t4)
  }

  test("USE routes per statement; TERMINATE TRANSACTIONS rolls back a live handle") {
    val s = new GraftSession(spark)
    s.cypher("CREATE DATABASE otherdb")
    s.cypher("USE otherdb CREATE (:u {k: 1})")
    assert(s.cypher("USE otherdb MATCH (u:u) RETURN count(u) AS c")
      .collect().head.getLong(0) == 1L)
    // the default database is untouched
    assert(s.cypher("MATCH (u:u) RETURN count(u) AS c").collect().head.getLong(0) == 0L)
    // terminate a live handle: its write is discarded and every later
    // use of the handle errors
    val t = s.beginTransaction("bolt")
    s.cypher("CREATE (:term {k: 1})", Map.empty[String, Any], "neo4j", t)
    val rows = s.cypher(s"TERMINATE TRANSACTIONS 'graft-transaction-${t.id}'").collect()
    assert(rows.head.getString(1) == "Transaction terminated.")
    intercept[IllegalStateException] { s.commitTransaction(t) }
    assert(s.cypher("MATCH (x:term) RETURN count(x) AS c").collect().head.getLong(0) == 0L)
    assert(s.cypher("TERMINATE TRANSACTIONS 'graft-transaction-999999'")
      .collect().head.getString(1) == "Transaction not found.")
    // a terminated TEXT transaction errors on COMMIT and rolls back
    s.cypher("BEGIN")
    s.cypher("CREATE (:term {k: 2})")
    val id2 = s.cypher("SHOW TRANSACTIONS").collect()
      .find(_.getString(1) == "text").get.getString(0)
    s.cypher(s"TERMINATE TRANSACTIONS '$id2'")
    intercept[IllegalStateException] { s.cypher("COMMIT") }
    assert(s.cypher("MATCH (x:term) RETURN count(x) AS c").collect().head.getLong(0) == 0L)
  }

  test("SHOW TRANSACTIONS lists open handles across surfaces, empty after close") {
    val s = new GraftSession(spark)
    assert(s.cypher("SHOW TRANSACTIONS").collect().isEmpty)
    val t1 = s.beginTransaction("bolt")
    s.cypher("CREATE (:stx {k: 1})", Map.empty[String, Any], "neo4j", t1)
    s.cypher("BEGIN") // text-surface transaction on this thread
    val rows = s.cypher("SHOW TRANSACTIONS").collect()
    assert(rows.length == 2)
    assert(rows.map(_.getString(1)).toSet == Set("bolt", "text"))
    // the 4.x procedure form reads the same registry
    assert(s.cypher(
      "CALL dbms.listTransactions() YIELD transactionId RETURN transactionId")
      .collect().length == 2)
    // kill by id rolls the bolt handle back; its write never lands
    val killMsg = s.cypher(
      s"CALL dbms.killTransaction('graft-transaction-${t1.id}') " +
        "YIELD message RETURN message").collect().head.getString(0)
    assert(killMsg == "Transaction terminated.")
    assert(s.cypher("SHOW TRANSACTIONS").collect().length == 1)
    assert(s.cypher("MATCH (n:stx) RETURN count(n) AS c")
      .collect().head.getLong(0) == 0L)
    val miss = s.cypher(
      "CALL dbms.killTransaction('graft-transaction-99999') " +
        "YIELD message RETURN message").collect().head.getString(0)
    assert(miss == "Transaction not found.")
    val boltRow = rows.find(_.getString(1) == "bolt").get
    assert(boltRow.getString(0).startsWith("graft-transaction-"))
    assert(boltRow.getString(2) == "neo4j") // databases touched
    s.cypher("COMMIT")
    // t1 is already closed by the kill: a second rollback refuses
    intercept[IllegalStateException] { s.rollbackTransaction(t1) }
    assert(s.cypher("SHOW TRANSACTIONS").collect().isEmpty)
  }

  test("UNWIND $batch MERGE: 10k-element upsert, one append + one update join") {
    val s = new GraftSession(spark)
    s.cypher("UNWIND range(1, 500) AS x CREATE (:item {k: x, v: 0})")
    val batch = (1 to 10000).map(i => Map("k" -> i.toLong, "v" -> (i * 3).toLong))
    s.cypher(
      """UNWIND $batch AS row MERGE (n:item {k: row.k})
        |ON CREATE SET n.v = row.v, n.src = 'new'
        |ON MATCH SET n.v = row.v, n.src = 'old'""".stripMargin,
      Map("batch" -> batch))
    val nodes = s.graph().nodes
    assert(nodes.count() == 10000)
    assert(nodes.filter("src = 'old'").count() == 500)
    assert(nodes.filter("src = 'new'").count() == 9500)
    assert(nodes.filter("k = 7").select("v").collect().head.getLong(0) == 21L)
    assert(nodes.filter("k = 9999").select("v").collect().head.getLong(0) == 29997L)
    // constant plan depth: the batch lands as one local relation plus
    // two joins — a per-element path would show ~10k plan nodes here
    val planSize = nodes.queryExecution.logical.collect { case p => p }.size
    assert(planSize < 60, s"plan grew with batch size: $planSize nodes")
  }

  test("UNWIND $batch MERGE: counter increment, duplicate-key collapse, refusals") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (:acc {k: 1, cnt: 10})")
    s.cypher(
      """UNWIND $b AS row MERGE (n:acc {k: row.k})
        |ON CREATE SET n.cnt = 0 ON MATCH SET n.cnt = n.cnt + row.d""".stripMargin,
      Map("b" -> Seq(Map("k" -> 1L, "d" -> 5L), Map("k" -> 2L, "d" -> 7L))))
    val acc = s.graph().nodes
    assert(acc.filter("k = 1").select("cnt").collect().head.getLong(0) == 15L)
    assert(acc.filter("k = 2").select("cnt").collect().head.getLong(0) == 0L)
    // duplicate keys collapse: first occurrence drives ON CREATE, last
    // drives ON MATCH — including onto the just-created node
    s.cypher(
      """UNWIND $b AS row MERGE (n:acc2 {k: row.k})
        |ON CREATE SET n.a = row.v ON MATCH SET n.b = row.v""".stripMargin,
      Map("b" -> Seq(Map("k" -> 9L, "v" -> 1L), Map("k" -> 9L, "v" -> 2L))))
    val d = s.graph().nodes.filter("k = 9").select("a", "b").collect().head
    assert(d.getLong(0) == 1L && d.getLong(1) == 2L)
    assert(s.graph().nodes.filter("k = 9").count() == 1)
    // scalar batches merge on the element itself
    s.cypher("UNWIND $b AS x MERGE (n:s {k: x})", Map("b" -> Seq(1, 2, 2, 3)))
    assert(s.cypher("MATCH (n:s) RETURN count(*) AS c").collect().head.getLong(0) == 3L)
    // refused loudly: duplicate keys + ON MATCH reading the node
    intercept[UnsupportedOperationException] {
      s.cypher("UNWIND $b AS row MERGE (n:acc3 {k: row.k}) ON MATCH SET n.c = n.c + 1",
        Map("b" -> Seq(Map("k" -> 1L), Map("k" -> 1L))))
    }
    // refused loudly: null merge key
    intercept[IllegalArgumentException] {
      s.cypher("UNWIND $b AS row MERGE (n:acc4 {k: row.k})",
        Map("b" -> Seq(Map("x" -> 1L))))
    }
  }

  test("probe batch: entity grouping in WITH, chained cmp, ORDER BY forms, temporal maps") {
    val s = new GraftSession(spark)
    s.setGraph(graft.core.GraphViews.tpch(spark, "/root/testdata/sf0.001"))
    // WITH groups by a bare node variable; its properties stay readable
    val g = s.cypher(
      """MATCH (a:nation)-[:IN]->(r:region)
        |WITH r, collect(a.n_name) AS ns
        |RETURN r.r_name AS rn, size(ns) AS k ORDER BY rn LIMIT 2""".stripMargin).collect()
    assert(g.length == 2 && g.forall(_.getAs[Number](1).longValue > 0))
    // ORDER BY an aggregate matching an aliased item structurally
    val o = s.cypher(
      """MATCH (n:nation) RETURN n.n_regionkey AS rk, count(*) AS c
        |ORDER BY count(*) DESC, rk LIMIT 1""".stripMargin).collect().head
    assert(o.getLong(1) >= 5L)
    // ORDER BY an unaliased property / an expression over match vars
    assert(s.cypher(
      "MATCH (n:region) RETURN n.r_name ORDER BY n.r_name LIMIT 2").collect().length == 2)
    val r6 = s.cypher("WITH 5 AS x RETURN 1 < x < 10 AS chained, 2^3^2 AS p").collect().head
    assert(r6.getBoolean(0))
    assert(r6.getDouble(1) == 512.0)
    // temporal map constructors + ISO duration + date arithmetic
    val t = s.cypher(
      """RETURN date({year: 2020, month: 2, day: 3}) AS d,
        |  datetime({year: 2020, month: 2, day: 3, hour: 4}) AS dt,
        |  date('2020-01-30') + duration('P1D') AS nxt""".stripMargin).collect().head
    assert(t.getDate(0).toString == "2020-02-03")
    assert(t.getTimestamp(1).toString.startsWith("2020-02-03 04:00"))
    assert(t.getDate(2).toString == "2020-01-31")
    // epoch map constructors (r19): datetime({epochMillis}) /
    // ({epochSeconds}); unknown component keys refuse loudly instead
    // of silently building year-0 from the ignored key
    val ep = s.cypher(
      """RETURN datetime({epochMillis: 1580702400123}) AS ms,
        |  datetime({epochSeconds: 1580702400}) AS sec,
        |  datetime({year: 2020, month: 2, day: 3, hour: 4, minute: 0,
        |            second: 1, millisecond: 500}) AS sub""".stripMargin)
      .collect().head
    assert(ep.getTimestamp(0).toInstant.toEpochMilli == 1580702400123L)
    assert(ep.getTimestamp(1).toInstant.getEpochSecond == 1580702400L)
    assert(ep.getTimestamp(2).toInstant.getNano == 500000000)
    val badKey = intercept[UnsupportedOperationException](
      s.cypher("RETURN datetime({epochMilis: 5}) AS x").collect())
    assert(badKey.getMessage.contains("epochMilis"))
    // ---- gap-hunt round 4 closes (r19) ----
    // openCypher list append/prepend via `+`
    val ap = s.cypher("RETURN [1,2] + 3 AS a, 3 + [1,2] AS b").collect().head
    assert(ap.getSeq[Long](0) == Seq(1L, 2L, 3L))
    assert(ap.getSeq[Long](1) == Seq(3L, 1L, 2L))
    // quantified path pattern desugars onto var-length (trail semantics)
    s.cypher("CREATE (:QP {k: 1})-[:QR]->(:QP {k: 2})")
    s.cypher("MATCH (a:QP {k: 2}) CREATE (a)-[:QR]->(:QP {k: 3})")
    val qpp = s.cypher(
      "MATCH (a:QP {k: 1}) ((x)-[:QR]->(y)){1,2} (b) RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(qpp == 2L) // k=2 at one hop, k=3 at two
    // inner labels refuse loudly (no per-step hook in var-length)
    val qref = intercept[IllegalArgumentException](
      s.cypher("MATCH (a:QP {k: 1}) ((x:QP)-[:QR]->(y)){1,2} (b) RETURN count(*) AS n"))
    assert(qref.getMessage.contains("quantified path pattern"))
    // SKIP/LIMIT take parameters; an unbound one raises the Neo4j error
    assert(s.cypher("UNWIND range(1, 10) AS x RETURN x SKIP $s LIMIT $l",
      Map("s" -> 2L, "l" -> 3L)).collect().map(_.getLong(0)).toSeq == Seq(3L, 4L, 5L))
    val unbound = intercept[IllegalArgumentException](
      s.cypher("UNWIND range(1, 3) AS x RETURN x LIMIT $nope").collect())
    assert(unbound.getMessage.contains("nope"))
    // FOREACH after MATCH reading the loop variable: exact under
    // last-write-wins (iterations run in list order onto one cell)
    s.cypher("CREATE (:FE {k: 1})")
    s.cypher("MATCH (n:FE {k: 1}) FOREACH (i IN [1, 2, 3] | SET n.fe = i * 10)")
    assert(s.cypher("MATCH (n:FE) RETURN n.fe AS v").collect().head.getLong(0) == 30L)
    // ... and an empty list writes nothing
    s.cypher("MATCH (n:FE {k: 1}) FOREACH (i IN [] | SET n.fe = 99)")
    assert(s.cypher("MATCH (n:FE) RETURN n.fe AS v").collect().head.getLong(0) == 30L)
    // a body reading a property it writes is iteration-dependent — refuse
    val acc = intercept[UnsupportedOperationException](
      s.cypher("MATCH (n:FE {k: 1}) FOREACH (i IN [1, 2] | SET n.fe = n.fe + 1)"))
    assert(acc.getMessage.contains("iteration-dependent"))
    // startNode(r).prop refuses with the working rewrite, not an
    // opaque Spark analysis error
    s.cypher("CREATE (:SN {k: 1})-[:SR]->(:SN {k: 2})")
    val sn = intercept[UnsupportedOperationException](
      s.cypher("MATCH ()-[r:SR]->() RETURN startNode(r).k AS v").collect())
    assert(sn.getMessage.contains("bind the endpoint"))
    // dynamic (literal) property access on entities; absent key is null
    val d = s.cypher(
      "MATCH (n:nation {n_nationkey: 1}) RETURN n['n_name'] AS x, n['nope'] AS miss")
      .collect().head
    assert(d.getString(0).startsWith("NATION_"))
    assert(d.isNullAt(1))
    // stDevP aggregates; OrNull casts are lenient
    val v = s.cypher(
      """MATCH (c:customer) RETURN stDevP(c.c_acctbal) >= 0.0 AS ok""").collect().head
    assert(v.getBoolean(0))
    val nn = s.cypher(
      "RETURN toIntegerOrNull('zz') AS a, toBooleanOrNull('true') AS b").collect().head
    assert(nn.isNullAt(0) && nn.getBoolean(1))
  }

  test("MATCH + FOREACH gating idiom: conditional SET applies per row") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (:fe {k: 1})")
    s.cypher("CREATE (:fe {k: 2})")
    s.cypher(
      """MATCH (n:fe)
        |FOREACH (i IN CASE WHEN n.k = 1 THEN [1] ELSE [] END | SET n.hit = 'y')""".stripMargin)
    val rows = s.cypher("MATCH (n:fe) RETURN n.k AS k, n.hit AS hit")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(rows == Map(1L -> Some("y"), 2L -> None))
    // loop-variable bodies apply exactly (r19): iterations run in list
    // order onto one cell, so the final value is the LAST element's
    s.cypher("MATCH (n:fe) FOREACH (i IN [1, 2] | SET n.v = i)")
    assert(s.cypher("MATCH (n:fe {k: 1}) RETURN n.v AS v")
      .collect().head.getLong(0) == 2L)
  }

  test("allShortestPaths: one row per shortest path, witness form keeps one") {
    val s = new GraftSession(spark)
    // diamond: a->b->d and a->c->d (two 2-hop shortest paths), plus a
    // longer a->b->e->d that must not appear
    s.cypher("CREATE (a:asp {name:'a'})-[:T]->(b:asp {name:'b'})-[:T]->(d:asp {name:'d'})")
    s.cypher(
      """MATCH (a:asp {name:'a'}), (d:asp {name:'d'})
        |CREATE (a)-[:T]->(c:asp {name:'c'})-[:T]->(d)""".stripMargin)
    s.cypher(
      """MATCH (b:asp {name:'b'}), (d:asp {name:'d'})
        |CREATE (b)-[:T]->(e:asp {name:'e'})-[:T]->(d)""".stripMargin)
    val all = s.cypher(
      """MATCH p = allShortestPaths((a:asp {name:'a'})-[:T*..4]->(d:asp {name:'d'}))
        |RETURN length(p) AS len, [x IN nodes(p) | x.name] AS names""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).mkString(">"))
    assert(all.length == 2, s"expected both shortest paths, got ${all.toSeq}")
    assert(all.forall(_._1 == 2L))
    assert(all.map(_._2).sorted.toSeq == Seq("a>b>d", "a>c>d"))
    val one = s.cypher(
      """MATCH p = shortestPath((a:asp {name:'a'})-[:T*..4]->(d:asp {name:'d'}))
        |RETURN length(p) AS len""".stripMargin).collect()
    assert(one.length == 1 && one.head.getLong(0) == 2L)
  }

  test("shortestPath: nodes(p)/relationships(p) project the witness path") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:hop {name:'a'})-[:N]->(b:hop {name:'b'})-[:N]->(c:hop {name:'c'})")
    val two = s.cypher(
      """MATCH p = shortestPath((a:hop {name:'a'})-[:N*1..5]->(c:hop {name:'c'}))
        |RETURN length(p) AS len, [x IN nodes(p) | x.name] AS names""".stripMargin)
      .collect().head
    assert(two.getLong(0) == 2L)
    assert(two.getSeq[String](1) == Seq("a", "b", "c"))
    // add a direct shortcut: the shortest path drops to one hop
    s.cypher("MATCH (a:hop {name:'a'}), (c:hop {name:'c'}) CREATE (a)-[:N]->(c)")
    val one = s.cypher(
      """MATCH p = shortestPath((a:hop {name:'a'})-[:N*1..5]->(c:hop {name:'c'}))
        |RETURN length(p) AS len, nodes(p) AS ids, relationships(p) AS rels,
        |  [x IN nodes(p) | x.name] AS names""".stripMargin)
      .collect().head
    assert(one.getLong(0) == 1L)
    val ids = one.getSeq[Long](1)
    assert(ids.size == 2)
    assert(one.getSeq[String](3) == Seq("a", "c"))
    val rels = one.getSeq[org.apache.spark.sql.Row](2)
    assert(rels.size == 1)
    assert(rels.head.getLong(0) == ids(0) && rels.head.getLong(1) == ids(1))
    assert(rels.head.getString(2) == "N")
  }

  test("schema width tracks DISTINCT property keys; key re-use never re-widens") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:w {novel: 1})")
    val w1 = s.graph().nodes.columns.length
    s.cypher("CREATE (b:w {novel: 2})") // same novel key again
    assert(s.graph().nodes.columns.length == w1,
      "re-using a property key must not add a column")
    assert(s.graph().nodes.columns.count(_ == "novel") == 1)
    s.cypher("CREATE (c:w {novel: 3, other: 'x'})") // one new key
    assert(s.graph().nodes.columns.length == w1 + 1)
    // MERGE/SET paths obey the same contract
    s.cypher("MERGE (d:w {novel: 3})")
    s.cypher("MATCH (a:w {novel: 1}) SET a.novel = 9")
    assert(s.graph().nodes.columns.length == w1 + 1)
  }

  test("UNWIND $batch MATCH MERGE: batched relationship upsert") {
    val s = new GraftSession(spark)
    s.cypher("UNWIND range(1, 100) AS x CREATE (:bu {k: x})")
    // seed one pre-existing edge 1->2
    s.cypher("MATCH (a:bu {k: 1}), (b:bu {k: 2}) MERGE (a)-[:LINK]->(b)")
    val batch = (1 to 99).map(i => Map("s" -> i.toLong, "d" -> (i + 1).toLong)) ++
      Seq(Map("s" -> 1L, "d" -> 2L),   // duplicate pair in the batch
          Map("s" -> 500L, "d" -> 1L)) // dangling key: MATCH drops it
    s.cypher(
      """UNWIND $batch AS row MATCH (a:bu {k: row.s}), (b:bu {k: row.d})
        |MERGE (a)-[r:LINK]->(b) ON CREATE SET r.fresh = 1 ON MATCH SET r.seen = 1""".stripMargin,
      Map("batch" -> batch))
    val edges = s.graph().edges.filter("relType = 'LINK'")
    assert(edges.count() == 99)
    assert(edges.filter("seen = 1").count() == 1)   // the pre-existing 1->2
    assert(edges.filter("fresh = 1").count() == 98)
    // idempotent: re-running the same batch adds nothing
    s.cypher(
      """UNWIND $batch AS row MATCH (a:bu {k: row.s}), (b:bu {k: row.d})
        |MERGE (a)-[r:LINK]->(b)""".stripMargin,
      Map("batch" -> batch))
    assert(s.graph().edges.filter("relType = 'LINK'").count() == 99)
    // row fields inside SET refuse loudly
    intercept[UnsupportedOperationException] {
      s.cypher(
        """UNWIND $b AS row MATCH (a:bu {k: row.s}), (b:bu {k: row.d})
          |MERGE (a)-[r:LINK]->(b) ON CREATE SET r.w = row.w""".stripMargin,
        Map("b" -> Seq(Map("s" -> 1L, "d" -> 3L, "w" -> 9L))))
    }
  }

  test("parameters: unbound $name raises Expected parameter(s)") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:v {n: 1})")
    val e = intercept[IllegalArgumentException] {
      s.cypher("MATCH (v:v) WHERE v.n = $missing RETURN v.n")
    }
    assert(e.getMessage.contains("Expected parameter(s): missing"))
  }

  // ---- EXISTS { } / COUNT { } subqueries + shortestPath ----

  private def subqueryFixture(): GraftSession = {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:dog {name:'Arne'})-[:SNIFFS]->(b:dog {name:'Bosse'})")
    s.cypher("MATCH (a:dog {name:'Arne'}) CREATE (a)-[:SNIFFS]->(:dog {name:'Cilla'})")
    s.cypher("CREATE (:dog {name:'Doris'})")
    s
  }

  test("EXISTS { } subquery with inner WHERE filters by sub-pattern match") {
    val s = subqueryFixture()
    val res = s.cypher(
      """MATCH (d:dog)
        |WHERE EXISTS { (d)-[:SNIFFS]->(x:dog) WHERE x.name = 'Cilla' }
        |RETURN d.name AS name""".stripMargin)
    assert(res.collect().map(_.getString(0)).toSeq == Seq("Arne"))
  }

  test("NOT EXISTS { } compiles to an anti join") {
    val s = subqueryFixture()
    val res = s.cypher(
      """MATCH (d:dog) WHERE NOT EXISTS { (d)-[:SNIFFS]->(:dog) }
        |RETURN d.name AS name ORDER BY name""".stripMargin)
    assert(res.collect().map(_.getString(0)).toSeq == Seq("Bosse", "Cilla", "Doris"))
  }

  test("COUNT { } subquery in WHERE and RETURN") {
    val s = subqueryFixture()
    val res = s.cypher(
      """MATCH (d:dog)
        |RETURN d.name AS name, COUNT { (d)-[:SNIFFS]->(:dog) } AS n
        |ORDER BY name""".stripMargin)
    assert(res.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("Arne", 2L), ("Bosse", 0L), ("Cilla", 0L), ("Doris", 0L)))
    val filtered = s.cypher(
      "MATCH (d:dog) WHERE COUNT { (d)-[:SNIFFS]->(:dog) } >= 2 RETURN d.name AS name")
    assert(filtered.collect().map(_.getString(0)).toSeq == Seq("Arne"))
  }

  test("CALL { } uncorrelated: one-row aggregate cross-joins every outer row") {
    val s = subqueryFixture()
    val res = s.cypher(
      """MATCH (d:dog)
        |CALL { MATCH (x:dog) RETURN count(x) AS total }
        |RETURN d.name AS name, total ORDER BY name""".stripMargin)
    val rows = res.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows == Seq(("Arne", 4L), ("Bosse", 4L), ("Cilla", 4L), ("Doris", 4L)))
  }

  test("CALL { WITH d } aggregating: count per outer row, zero when no match") {
    val s = subqueryFixture()
    val res = s.cypher(
      """MATCH (d:dog)
        |CALL { WITH d MATCH (d)-[:SNIFFS]->(x:dog) RETURN count(x) AS n }
        |RETURN d.name AS name, n ORDER BY name""".stripMargin)
    val rows = res.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows == Seq(("Arne", 2L), ("Bosse", 0L), ("Cilla", 0L), ("Doris", 0L)))
  }

  test("CALL { WITH d } row-returning with ORDER BY/LIMIT: per-row top-k, not global") {
    val s = subqueryFixture()
    val res = s.cypher(
      """MATCH (d:dog)
        |CALL { WITH d MATCH (d)-[:SNIFFS]->(x:dog)
        |       RETURN x.name AS sniffed ORDER BY sniffed LIMIT 1 }
        |RETURN d.name AS name, sniffed ORDER BY name""".stripMargin)
    val rows = res.collect().map(r => (r.getString(0), r.getString(1))).toSeq
    // only Arne sniffs anyone; his alphabetically-first target is Bosse
    assert(rows == Seq(("Arne", "Bosse")))
  }

  test("pattern comprehension: projected match list per row, empty when no match") {
    val s = subqueryFixture()
    val res = s.cypher(
      """MATCH (d:dog)
        |RETURN d.name AS name, [(d)-[:SNIFFS]->(x:dog) | x.name] AS sniffed,
        |       size([(d)-[:SNIFFS]->(x:dog) | x.name]) AS n
        |ORDER BY name""".stripMargin)
    val rows = res.collect().map(r =>
      (r.getString(0), r.getSeq[String](1).toList, r.getInt(2))).toSeq
    assert(rows == Seq(
      ("Arne", List("Bosse", "Cilla"), 2),
      ("Bosse", Nil, 0), ("Cilla", Nil, 0), ("Doris", Nil, 0)))
  }

  test("pattern comprehension with inner WHERE filters the collected matches") {
    val s = subqueryFixture()
    val res = s.cypher(
      """MATCH (d:dog {name:'Arne'})
        |RETURN [(d)-[:SNIFFS]->(x:dog) WHERE x.name STARTS WITH 'C' | x.name] AS picky""".stripMargin)
    assert(res.collect().head.getSeq[String](0).toList == List("Cilla"))
  }

  test("RETURN * projects every bound variable; WITH *, extra carries all plus new") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:dog {name:'Arne'})-[:SNIFFS]->(b:dog {name:'Bosse'})")
    val star = s.cypher("MATCH (a:dog)-[:SNIFFS]->(b:dog) RETURN *")
    assert(star.columns.sorted.toSeq == Seq("a", "b"))
    assert(star.count() == 1)
    val withStar = s.cypher(
      """MATCH (a:dog)-[:SNIFFS]->(b:dog)
        |WITH *, a.name AS an
        |RETURN an, b.name AS bn""".stripMargin)
    assert(withStar.collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("Arne", "Bosse")))
  }

  test("SET n += {map} merges properties, including $params and expressions") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (d:dog {name:'Arne', age: 3})")
    s.cypher("MATCH (d:dog {name:'Arne'}) SET d += {age: 4, coat: $c}",
      Map("c" -> "brown"))
    val r = s.cypher(
      "MATCH (d:dog {name:'Arne'}) RETURN d.age AS age, d.coat AS coat").collect().head
    assert(r.getLong(0) == 4L && r.getString(1) == "brown")
  }

  test("FOREACH (x IN list | CREATE) batch-inserts one row per element") {
    val s = new GraftSession(spark)
    s.cypher("FOREACH (x IN [1, 2, 3] | CREATE (:num {v: x}))")
    val res = s.cypher("MATCH (n:num) RETURN n.v AS v ORDER BY v")
    assert(res.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // a parameterized list drives the same batched path
    s.cypher("FOREACH (x IN $xs | CREATE (:num {v: x}))", Map("xs" -> Seq(7, 8)))
    assert(s.cypher("MATCH (n:num) RETURN count(n) AS c").collect().head.getLong(0) == 5L)
    // non-CREATE bodies are refused loudly, not silently run once
    intercept[UnsupportedOperationException] {
      s.cypher("FOREACH (x IN [1] | MERGE (:num {v: x}))")
    }
  }

  test("=~ is a FULL regex match, not a substring find") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:dog {name:'Arne'})")
    s.cypher("CREATE (b:dog {name:'Arnold the Great'})")
    // find() semantics would match both; Cypher full-match takes only Arne
    val res = s.cypher("MATCH (d:dog) WHERE d.name =~ 'Arn.' RETURN d.name AS name")
    assert(res.collect().map(_.getString(0)).toSeq == Seq("Arne"))
    val none = s.cypher("MATCH (d:dog) WHERE d.name =~ 'rne' RETURN d.name AS name")
    assert(none.count() == 0)
  }

  test("list predicates any/all/none/single and reduce() over collected lists") {
    val s = new GraftSession(spark)
    s.cypher("UNWIND range(1, 5) AS x CREATE (:num {v: x})")
    val r = s.cypher(
      """MATCH (n:num) WITH collect(n.v) AS xs
        |RETURN any(x IN xs WHERE x > 4) AS a, all(x IN xs WHERE x > 0) AS b,
        |  none(x IN xs WHERE x > 5) AS c, single(x IN xs WHERE x = 3) AS d,
        |  reduce(s = 0, x IN xs | s + x) AS e""".stripMargin).collect().head
    assert(r.getBoolean(0) && r.getBoolean(1) && r.getBoolean(2) && r.getBoolean(3))
    assert(r.getLong(4) == 15L)
    // negative cases: all() fails on a zero, single() on two hits
    val r2 = s.cypher(
      """MATCH (n:num) WITH collect(n.v) AS xs
        |RETURN all(x IN xs WHERE x > 1) AS a, single(x IN xs WHERE x >= 4) AS b,
        |  any(x IN xs WHERE x > 99) AS c""".stripMargin).collect().head
    assert(!r2.getBoolean(0) && !r2.getBoolean(1) && !r2.getBoolean(2))
    // reduce with a parameterized init; any() name still works as fnCall-free
    val r3 = s.cypher(
      "RETURN reduce(acc = $base, x IN [10, 20] | acc + x) AS t",
      Map("base" -> 5L)).collect().head
    assert(r3.getLong(0) == 35L)
  }

  test("type-directed + (string/list concat) and simple-form CASE") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (:dog {name:'Arne', age: 3})")
    val r = s.cypher(
      """MATCH (d:dog)
        |RETURN d.name + '-' + d.age AS tag,
        |  [1, 2] + [3] AS arr, d.age + 1 AS older,
        |  CASE d.name WHEN 'Arne' THEN 'A' WHEN 'Bosse' THEN 'B' ELSE '?' END AS init
        |""".stripMargin).collect().head
    assert(r.getString(0) == "Arne-3")
    assert(r.getSeq[Long](1) == Seq(1L, 2L, 3L))
    assert(r.getLong(2) == 4L)
    assert(r.getString(3) == "A")
  }

  test("subscript xs[i] (0-based, negative, map key) and slices xs[lo..hi]") {
    val s = new GraftSession(spark)
    val r = s.cypher(
      """RETURN [10, 20, 30][0] AS a, [10, 20, 30][-1] AS b,
        |  [10, 20, 30][5] AS oob, [10, 20, 30, 40][1..3] AS sl,
        |  [10, 20, 30][..2] AS head2, [10, 20, 30][-2..] AS tail2,
        |  [10, 20, 30][1..99] AS clamped, $xs[1] AS p
        |""".stripMargin, Map("xs" -> Seq(7L, 8L, 9L))).collect().head
    assert(r.getLong(0) == 10L && r.getLong(1) == 30L)
    assert(r.isNullAt(2))
    assert(r.getSeq[Long](3) == Seq(20L, 30L))
    assert(r.getSeq[Long](4) == Seq(10L, 20L))
    assert(r.getSeq[Long](5) == Seq(20L, 30L))
    assert(r.getSeq[Long](6) == Seq(20L, 30L))
    assert(r.getLong(7) == 8L)
    // map subscript keys directly (no index shift), missing key = null
    s.cypher("CREATE (:cfg {a: 1, b: 2})")
    val m = s.cypher(
      "MATCH (c:cfg) RETURN properties(c)['a'] AS a, properties(c)['z'] AS z")
      .collect().head
    assert(m.getString(0) == "1" && m.isNullAt(1))
  }

  test("lambda scopes carry static types: string +, map subscript and property access resolve (ADVICE r9)") {
    val s = new GraftSession(spark)
    // string + inside reduce/transform used to guess numeric semantics
    // and silently null out; the propagated element type resolves it
    val r = s.cypher(
      """WITH ['a', 'b', 'c'] AS xs, [{k:'v1'}, {k:'v2'}] AS ms
        |RETURN reduce(s = '', x IN xs | s + x) AS cat,
        |  [x IN xs | x + '!'] AS bang,
        |  [m IN ms | m['k']] AS keyed,
        |  [m IN ms | m.k] AS dotted,
        |  [m IN ms | m.nope] AS missing,
        |  reduce(n = 0, x IN [1, 2, 3] | n + x) AS total
        |""".stripMargin).collect().head
    assert(r.getString(0) == "abc")
    assert(r.getSeq[String](1) == Seq("a!", "b!", "c!"))
    assert(r.getSeq[String](2) == Seq("v1", "v2"))
    assert(r.getSeq[String](3) == Seq("v1", "v2"))
    assert(r.getSeq[Any](4) == Seq(null, null)) // missing key → null, not an error
    assert(r.getLong(5) == 6L)
    // nested lambdas: the inner scope sees the outer element's type
    val n = s.cypher(
      """WITH [['a','b'], ['c']] AS xss
        |RETURN [xs IN xss | reduce(s = '', x IN xs | s + x)] AS cats
        |""".stripMargin).collect().head
    assert(n.getSeq[String](0) == Seq("ab", "c"))
  }

  test("shortestPath binds first-hit hop distances to length(p)") {
    val s = new GraftSession(spark)
    // chain a->b->c->d plus a shortcut a->c: dist(a,c) must be 1
    s.cypher("CREATE (a:n {k:1})-[:T]->(b:n {k:2})-[:T]->(c:n {k:3})-[:T]->(d:n {k:4})")
    s.cypher("MATCH (a:n {k:1}) MATCH (c:n {k:3}) CREATE (a)-[:T]->(c)")
    val res = s.cypher(
      """MATCH p = shortestPath((a:n)-[:T*1..5]->(x)) WHERE a.k = 1
        |RETURN x.k AS k, length(p) AS d ORDER BY k""".stripMargin)
    assert(res.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((2L, 1L), (3L, 1L), (4L, 2L)))
  }

  test("temporal components d.year..d.dayOfWeek (ISO Monday=1) and truncate") {
    val s = new GraftSession(spark)
    // 1996-01-02 was a Tuesday → dayOfWeek 2 under ISO numbering
    val r = s.cypher(
      """WITH date('1996-01-02') AS d, datetime('1996-01-02 13:45:09') AS t
        |RETURN d.year AS y, d.quarter AS q, d.month AS m, d.week AS w,
        |  d.day AS day, d.dayOfWeek AS dow, d.ordinalDay AS doy,
        |  t.hour AS h, t.minute AS mi, t.second AS sec,
        |  date.truncate('month', d) AS mstart""".stripMargin).collect().head
    assert(r.getLong(0) == 1996L && r.getLong(1) == 1L && r.getLong(2) == 1L)
    assert(r.getLong(3) == 1L && r.getLong(4) == 2L && r.getLong(5) == 2L)
    assert(r.getLong(6) == 2L)
    assert(r.getLong(7) == 13L && r.getLong(8) == 45L && r.getLong(9) == 9L)
    assert(r.getDate(10).toString == "1996-01-01")
    // sunday must map to 7, not 1
    val sun = s.cypher("WITH date('2026-08-09') AS d RETURN d.dayOfWeek AS dow")
      .collect().head
    assert(sun.getLong(0) == 7L)
    // unknown component refuses loudly
    val err = intercept[Exception](
      s.cypher("WITH date('1996-01-02') AS d RETURN d.fortnight AS x").collect())
    assert(err.getMessage.contains("temporal component"))
  }

  test("map projection n {.prop, key: expr, var} builds a map; .* copies all props") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (:dog {name:'Arne', age: 3, breed:'mix'})")
    // selected + computed + bare-variable entries; later keys override
    val r = s.cypher(
      """MATCH (d:dog) WITH d, 7 AS lucky
        |RETURN d {.name, older: d.age + 1, lucky} AS m""".stripMargin)
      .collect().head.getStruct(0)
    assert(r.getAs[String]("name") == "Arne")
    assert(r.getAs[Long]("older") == 4L)
    assert(r.getAs[Long]("lucky") == 7L)
    // .* copies every property (no id/labels), sorted field order
    val all = s.cypher("MATCH (d:dog) RETURN d {.*} AS m").collect().head.getStruct(0)
    assert(all.schema.fieldNames.toSeq == Seq("age", "breed", "name"))
    assert(all.getAs[String]("breed") == "mix")
    // absent property projects as null, not an error
    val miss = s.cypher("MATCH (d:dog) RETURN d {.nope} AS m").collect().head.getStruct(0)
    assert(miss.isNullAt(0))
    // the projected map composes: WITH-bound map read back via dot and [..]
    val back = s.cypher(
      """MATCH (d:dog) WITH d {.name, .age} AS m
        |RETURN m.name AS n, m['age'] AS a""".stripMargin).collect().head
    assert(back.getString(0) == "Arne" && back.getLong(1) == 3L)
    // override order: explicit entry after .* wins
    val over = s.cypher("MATCH (d:dog) RETURN d {.*, name: 'X'} AS m")
      .collect().head.getStruct(0)
    assert(over.getAs[String]("name") == "X")
  }

  test("map literal {k: expr} compiles to a named struct value") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (d:dog {name:'Arne', age: 3})")
    val m = s.cypher(
      "MATCH (d:dog) RETURN {who: d.name, older: d.age + 1, tag: 'x'} AS m")
      .collect().head.getStruct(0)
    assert(m.getAs[String]("who") == "Arne")
    assert(m.getAs[Long]("older") == 4L)
    assert(m.getAs[String]("tag") == "x")
  }

  test("point(): cartesian accessors + distance, geographic haversine, withinBBox") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (p:place {x: 3.0, y: 4.0})")
    val cart = s.cypher(
      """MATCH (p:place) WITH point({x: p.x, y: p.y}) AS pt
        |RETURN pt.x AS x, pt.y AS y, pt.srid AS srid, pt.crs AS crs,
        |  pt.latitude AS lat,
        |  point.distance(pt, point({x: 0.0, y: 0.0})) AS d""".stripMargin)
      .collect().head
    assert(cart.getDouble(0) == 3.0 && cart.getDouble(1) == 4.0)
    assert(cart.getInt(2) == 7203 && cart.getString(3) == "cartesian")
    assert(cart.isNullAt(4)) // latitude undefined on a cartesian point
    assert(cart.getDouble(5) == 5.0)
    // geographic: Paris → Berlin great-circle ≈ 878 km (haversine on
    // the IUGG mean-radius sphere; tolerance covers libm-vs-JVM ulp)
    val geo = s.cypher(
      """RETURN point.distance(point({latitude: 48.8566, longitude: 2.3522}),
        |  point({latitude: 52.52, longitude: 13.405})) AS d""".stripMargin)
      .collect().head.getDouble(0)
    assert(math.abs(geo - 878000.0) < 5000.0, s"got $geo")
    // srid mismatch → null, never a silently-wrong number
    val mixed = s.cypher(
      """RETURN point.distance(point({x: 1.0, y: 2.0}),
        |  point({latitude: 1.0, longitude: 2.0})) AS d""".stripMargin)
      .collect().head
    assert(mixed.isNullAt(0))
    val bbox = s.cypher(
      """WITH point({x: 3.0, y: 4.0}) AS p
        |RETURN point.withinBBox(p, point({x: 0.0, y: 0.0}), point({x: 5.0, y: 5.0})) AS hit,
        |  point.withinBBox(p, point({x: 0.0, y: 0.0}), point({x: 2.0, y: 5.0})) AS miss""".stripMargin)
      .collect().head
    assert(bbox.getBoolean(0) && !bbox.getBoolean(1))
  }

  test("duration(): calendar components + datetime arithmetic incl. month clamp") {
    val s = new GraftSession(spark)
    val r = s.cypher(
      """WITH datetime('2021-01-31 10:00:00') AS t
        |RETURN t + duration({months: 1}) AS clamped,
        |  t + duration({days: 1, hours: 2, minutes: 30}) AS plus,
        |  t - duration({weeks: 2}) AS minus""".stripMargin).collect().head
    assert(r.getTimestamp(0).toString == "2021-02-28 10:00:00.0") // month-end clamp
    assert(r.getTimestamp(1).toString == "2021-02-01 12:30:00.0")
    assert(r.getTimestamp(2).toString == "2021-01-17 10:00:00.0")
    // unknown component refused loudly, not silently zero
    val err = intercept[UnsupportedOperationException] {
      s.cypher("RETURN datetime('2021-01-01 00:00:00') + duration({fortnights: 1}) AS x")
    }
    assert(err.getMessage.contains("fortnights"))
  }

  test("label expressions: |, &, !, %, parens, legacy :A:B conjunction") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (:dog {name:'Arne'})")
    s.cypher("CREATE (:cat {name:'Mio'})")
    s.cypher("CREATE (:dog:guide {name:'Rex'})")
    s.cypher("CREATE (:bird {name:'Pip'})")
    def names(q: String): Seq[String] =
      s.cypher(q).collect().map(_.getString(0)).toSeq.sorted
    assert(names("MATCH (n:dog|cat) RETURN n.name AS n") == Seq("Arne", "Mio", "Rex"))
    assert(names("MATCH (n:dog&guide) RETURN n.name AS n") == Seq("Rex"))
    assert(names("MATCH (n:!dog) RETURN n.name AS n") == Seq("Mio", "Pip"))
    assert(names("MATCH (n:%) RETURN n.name AS n") == Seq("Arne", "Mio", "Pip", "Rex"))
    // precedence: & binds tighter than |; parens override
    assert(names("MATCH (n:cat|dog&guide) RETURN n.name AS n") == Seq("Mio", "Rex"))
    assert(names("MATCH (n:(cat|dog)&!guide) RETURN n.name AS n") == Seq("Arne", "Mio"))
    // legacy colon conjunction still collapses to a plain label list
    assert(names("MATCH (n:dog:guide) RETURN n.name AS n") == Seq("Rex"))
    // negated conjunct on a one-hop pattern
    s.cypher("MATCH (a:dog {name:'Arne'}), (b:cat) CREATE (a)-[:SNIFFS]->(b)")
    s.cypher("MATCH (a:dog {name:'Rex'}), (b:bird) CREATE (a)-[:SNIFFS]->(b)")
    assert(names("MATCH (a:dog)-[:SNIFFS]->(t:!cat) RETURN t.name AS n") == Seq("Pip"))
  }

  test("inline pattern WHERE: MATCH, OPTIONAL MATCH, and EXISTS scopes") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (:dog {name:'Arne', age: 3})-[:SNIFFS]->(:dog {name:'Bosse', age: 7})")
    s.cypher("MATCH (b:dog {name:'Bosse'}) CREATE (:dog {name:'Rex', age: 9})-[:SNIFFS]->(b)")
    val inl = s.cypher("MATCH (n:dog WHERE n.age > 5) RETURN n.name AS name ORDER BY name")
    assert(inl.collect().map(_.getString(0)).toSeq == Seq("Bosse", "Rex"))
    // inline WHERE on a hop node may read earlier pattern variables
    val cross = s.cypher(
      "MATCH (a:dog)-[:SNIFFS]->(b:dog WHERE b.age > a.age) RETURN a.name AS name")
    assert(cross.collect().map(_.getString(0)).toSeq == Seq("Arne"))
    // OPTIONAL MATCH: inline WHERE is part of the pattern, so a miss
    // yields null instead of dropping the row
    val opt = s.cypher(
      """MATCH (a:dog) OPTIONAL MATCH (a)-[:SNIFFS]->(b:dog WHERE b.age < 5)
        |RETURN a.name AS name, b.name AS sniffed ORDER BY name""".stripMargin)
    assert(opt.collect().map(r => (r.getString(0), Option(r.getString(1)))).toSeq ==
      Seq("Arne" -> None, "Bosse" -> None, "Rex" -> None))
    // EXISTS subquery pattern carries an inline WHERE
    val ex = s.cypher(
      """MATCH (a:dog) WHERE EXISTS { (a)-[:SNIFFS]->(b:dog WHERE b.age > 8) }
        |RETURN a.name AS name""".stripMargin)
    assert(ex.collect().map(_.getString(0)).toSeq.isEmpty)
    val ex2 = s.cypher(
      """MATCH (a:dog) WHERE EXISTS { (a)-[:SNIFFS]->(b:dog WHERE b.age > 5) }
        |RETURN a.name AS name ORDER BY name""".stripMargin)
    assert(ex2.collect().map(_.getString(0)).toSeq == Seq("Arne", "Rex"))
  }

  test("inline WHERE on relationship patterns; refused on var-length") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (:dog {name:'Arne'})-[:SNIFFS {trust: 9}]->(:dog {name:'Bosse'})")
    s.cypher("MATCH (b:dog {name:'Bosse'}) CREATE (:dog {name:'Rex'})-[:SNIFFS {trust: 2}]->(b)")
    val r = s.cypher(
      "MATCH (a:dog)-[r:SNIFFS WHERE r.trust > 5]->(b:dog) RETURN a.name AS name")
    assert(r.collect().map(_.getString(0)).toSeq == Seq("Arne"))
    val err = intercept[UnsupportedOperationException] {
      s.cypher("MATCH (a:dog)-[r:SNIFFS*1..2 WHERE r.trust > 5]->(b:dog) RETURN a.name AS n")
        .collect()
    }
    assert(err.getMessage.contains("var-length"))
    val wr = intercept[UnsupportedOperationException] {
      s.cypher("MATCH (a:dog {name:'Arne'}), (b:dog {name:'Rex'}) " +
        "CREATE (a)-[r:LIKES WHERE r.x = 1]->(b)")
    }
    assert(wr.getMessage.contains("inline WHERE"))
  }

  test("GQL quantified relationships desugar to var-length trail expansion") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (:dog {name:'Arne'})-[:SNIFFS]->(:dog {name:'Bosse'})")
    s.cypher("MATCH (b:dog {name:'Bosse'}) CREATE (b)-[:SNIFFS]->(:dog {name:'Rex'})")
    def names(q: String): Seq[String] =
      s.cypher(q).collect().map(_.getString(0)).toSeq.sorted
    assert(names("MATCH (a:dog {name:'Arne'})-[:SNIFFS]->{1,2}(b) RETURN b.name AS n") ==
      Seq("Bosse", "Rex"))
    assert(names("MATCH (a:dog {name:'Arne'})-[:SNIFFS]->+(b) RETURN b.name AS n") ==
      Seq("Bosse", "Rex"))
    assert(names("MATCH (a:dog {name:'Arne'})-[:SNIFFS]->{2}(b) RETURN b.name AS n") ==
      Seq("Rex"))
    // matches the classic var-length spelling exactly
    assert(names("MATCH (a:dog {name:'Arne'})-[:SNIFFS*1..2]->(b) RETURN b.name AS n") ==
      names("MATCH (a:dog {name:'Arne'})-[:SNIFFS]->{1,2}(b) RETURN b.name AS n"))
    // combining both spellings is refused
    intercept[Exception] {
      s.cypher("MATCH (a)-[:SNIFFS*1..2]->{1,2}(b) RETURN b")
    }
  }

  test("COLLECT {} subquery: list per outer row, empty list on no match") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (:dog {name:'Arne'})-[:SNIFFS]->(:dog {name:'Bosse'})")
    s.cypher("MATCH (b:dog {name:'Bosse'}) CREATE (:dog {name:'Rex'})-[:SNIFFS]->(b)")
    s.cypher("MATCH (a:dog {name:'Arne'}), (r:dog {name:'Rex'}) CREATE (a)-[:SNIFFS]->(r)")
    val r = s.cypher(
      """MATCH (a:dog)
        |RETURN a.name AS name,
        |  COLLECT { MATCH (a)-[:SNIFFS]->(b:dog) RETURN b.name } AS sniffed
        |ORDER BY name""".stripMargin).collect()
    assert(r.map(x => (x.getString(0), x.getSeq[String](1))).toSeq == Seq(
      ("Arne", Seq("Bosse", "Rex")), ("Bosse", Seq.empty), ("Rex", Seq("Bosse"))))
    // WHERE inside the braces + use in a later expression
    val sized = s.cypher(
      """MATCH (a:dog)
        |WHERE size(COLLECT { MATCH (a)-[:SNIFFS]->(b:dog) WHERE b.name STARTS WITH 'B' RETURN b.name }) = 1
        |RETURN a.name AS name ORDER BY name""".stripMargin).collect()
    assert(sized.map(_.getString(0)).toSeq == Seq("Arne", "Rex"))
  }

  test("CALL (x) { } scope syntax desugars to the WITH-import form; (*) refused") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (:dog {name:'Arne', age: 3})-[:SNIFFS]->(:dog {name:'Bosse', age: 7})")
    val r = s.cypher(
      """MATCH (a:dog)
        |CALL (a) { MATCH (a)-[:SNIFFS]->(b:dog) RETURN b.name AS sniffed }
        |RETURN a.name AS name, sniffed""".stripMargin).collect()
    assert(r.map(x => (x.getString(0), x.getString(1))).toSeq == Seq("Arne" -> "Bosse"))
    val err = intercept[UnsupportedOperationException] {
      s.cypher("MATCH (a:dog) CALL (*) { RETURN 1 AS one } RETURN one")
    }
    assert(err.getMessage.contains("CALL (*)"))
    // () = uncorrelated, same as the bare form
    val u = s.cypher(
      "MATCH (a:dog) CALL () { RETURN 1 AS one } RETURN a.name AS name, one").collect()
    assert(u.length == 2 && u.forall(_.getLong(1) == 1L))
  }

  test("LOAD CSV WITH HEADERS feeds the batched UNWIND ingest path") {
    val dir = java.nio.file.Files.createTempDirectory("graft-loadcsv").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/dogs.csv"),
      "name,age\nArne,3\nBosse,7\nRex,9\n")
    val s = new GraftSession(spark)
    s.cypher(s"LOAD CSV WITH HEADERS FROM 'file://$dir/dogs.csv' AS row " +
      "CREATE (:dog {name: row.name, age: row.age})")
    val back = s.cypher("MATCH (d:dog) RETURN d.name AS name ORDER BY name").collect()
    assert(back.map(_.getString(0)).toSeq == Seq("Arne", "Bosse", "Rex"))
    // csv values arrive as strings (Neo4j semantics: LOAD CSV is untyped)
    val ages = s.cypher("MATCH (d:dog {name:'Rex'}) RETURN d.age AS age").collect()
    assert(ages.head.getString(0) == "9")
  }

  test("LOAD CSV streams in bounded driver batches; USING PERIODIC COMMIT sets the bound") {
    val dir = java.nio.file.Files.createTempDirectory("graft-loadcsv-big").toString
    // a file ≫ the bound: 25 rows against a 10-row bound → 3 batches,
    // and the PEAK batch the driver ever holds is the bound, never
    // the file (the r13 whole-file collect is gone)
    val body = (1 to 25).map(i => s"n$i,$i").mkString("\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/big.csv"),
      s"name,k\n$body\n")
    val s = new GraftSession(spark)
    s.cypher(s"USING PERIODIC COMMIT 10 LOAD CSV WITH HEADERS FROM '$dir/big.csv' " +
      "AS row CREATE (:csvb {name: row.name, k: row.k})")
    assert(s.lastLoadCsvBatches == 3L, s"batches = ${s.lastLoadCsvBatches}")
    assert(s.lastLoadCsvMaxBatch == 10, s"peak batch = ${s.lastLoadCsvMaxBatch}")
    assert(s.cypher("MATCH (n:csvb) RETURN count(n) AS c").collect().head.getLong(0) == 25L)
    // every row landed exactly once across the batch boundary
    val names = s.cypher("MATCH (n:csvb) RETURN n.name AS name").collect()
      .map(_.getString(0)).toSet
    assert(names == (1 to 25).map(i => s"n$i").toSet)
    // the default bound holds a small file in one batch
    s.cypher(s"LOAD CSV WITH HEADERS FROM '$dir/big.csv' AS row " +
      "CREATE (:csvd {name: row.name})")
    assert(s.lastLoadCsvBatches == 1L && s.lastLoadCsvMaxBatch == 25)
    // per-batch commits refuse inside an explicit transaction
    s.cypher("BEGIN")
    val e = intercept[UnsupportedOperationException] {
      s.cypher(s"USING PERIODIC COMMIT 10 LOAD CSV WITH HEADERS FROM '$dir/big.csv' " +
        "AS row CREATE (:csvt {name: row.name})")
    }
    assert(e.getMessage.contains("open transaction"))
    s.cypher("ROLLBACK")
    graft.core.SnapshotStore.deleteDir(dir)
  }

  test("LOAD CSV headerless: row[i] positional access, linenumber() and file()") {
    val dir = java.nio.file.Files.createTempDirectory("graft-loadcsv-hdrless").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/d.csv"),
      "Arne,3\nBosse,7\nRex,9\n")
    val s = new GraftSession(spark)
    // headerless rows are LISTS: 0-based positional access, negative
    // from the end, out-of-range null; linenumber() is the 1-based row
    // ordinal and file() the URL (Neo4j's canonical headerless idiom)
    s.cypher(s"LOAD CSV FROM 'file://$dir/d.csv' AS row " +
      "CREATE (:hdog {name: row[0], age: row[1], last: row[-1], oob: row[7], " +
      "ln: linenumber(), src: file()})")
    val back = s.cypher(
      "MATCH (d:hdog) RETURN d.name AS n, d.age AS a, d.last AS l, d.oob AS o, " +
        "d.ln AS ln, d.src AS src ORDER BY ln").collect()
    assert(back.map(_.getString(0)).toSeq == Seq("Arne", "Bosse", "Rex"))
    assert(back.map(_.getString(1)).toSeq == Seq("3", "7", "9"))
    assert(back.map(r => r.getString(1) == r.getString(2)).forall(identity)) // row[-1]
    assert(back.forall(_.isNullAt(3))) // row[7] out of range
    assert(back.map(_.getLong(4)).toSeq == Seq(1L, 2L, 3L))
    assert(back.forall(_.getString(5) == s"file://$dir/d.csv"))
    // WITH HEADERS: linenumber() counts the header line too (first
    // data row is physical line 2)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/h.csv"),
      "name\nX\nY\n")
    s.cypher(s"LOAD CSV WITH HEADERS FROM 'file://$dir/h.csv' AS row " +
      "CREATE (:hln {name: row.name, ln: linenumber()})")
    val lns = s.cypher("MATCH (n:hln) RETURN n.name AS name, n.ln AS ln ORDER BY ln")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(lns == Seq("X" -> 2L, "Y" -> 3L))
    // the MERGE idiom keys on a positional column
    s.cypher(s"LOAD CSV FROM 'file://$dir/d.csv' AS row MERGE (n:hmg {k: row[0]})")
    s.cypher(s"LOAD CSV FROM 'file://$dir/d.csv' AS row MERGE (n:hmg {k: row[0]})")
    assert(s.cypher("MATCH (n:hmg) RETURN count(n) AS c").collect().head.getLong(0) == 3L)
    graft.core.SnapshotStore.deleteDir(dir)
  }

  test("plain LOAD CSV is atomic; USING PERIODIC COMMIT keeps already-committed batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft-loadcsv-atomic").toString
    val s = new GraftSession(spark)
    s.cypher("CREATE CONSTRAINT csv_uk FOR (n:csva) REQUIRE n.k IS UNIQUE")
    // 25 rows, a duplicate key in the THIRD 10-row batch: the batches
    // before the failing one have already dispatched
    val rows = (1 to 24).map(i => s"n$i,$i") :+ "dup,1"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/a.csv"),
      "name,k\n" + rows.mkString("\n") + "\n")
    // PERIODIC COMMIT contract: per-batch durability — the failure
    // keeps batches 1-2 (20 rows), the failing batch rolls back alone
    intercept[Exception] {
      s.cypher(s"USING PERIODIC COMMIT 10 LOAD CSV WITH HEADERS FROM '$dir/a.csv' " +
        "AS row CREATE (:csva {name: row.name, k: row.k})")
    }
    assert(s.cypher("MATCH (n:csva) RETURN count(n) AS c")
      .collect().head.getLong(0) == 20L)
    // plain form: ONE atomic statement (reference semantics, ADVICE
    // r14) — the same failure must leave NOTHING published, even
    // though the ingest still streamed in bounded batches
    s.cypher("MATCH (n:csva) DELETE n")
    val preId = s.cypher("MATCH (n) RETURN count(n) AS c").collect().head.getLong(0)
    s.loadCsvDefaultBatch = 10 // force multi-batch streaming on 25 rows
    intercept[Exception] {
      s.cypher(s"LOAD CSV WITH HEADERS FROM '$dir/a.csv' AS row " +
        "CREATE (:csva {name: row.name, k: row.k})")
    }
    s.loadCsvDefaultBatch = 10000
    assert(s.cypher("MATCH (n:csva) RETURN count(n) AS c")
      .collect().head.getLong(0) == 0L)
    assert(s.cypher("MATCH (n) RETURN count(n) AS c")
      .collect().head.getLong(0) == preId)
    graft.core.SnapshotStore.deleteDir(dir)
  }

  test("CDC cursors survive an incremental save; compaction and full writes refuse") {
    val s = new GraftSession(spark)
    val tmp = java.nio.file.Files.createTempDirectory("graft_cdc_sv_").toString
    s.cypher("UNWIND range(1, 6) AS x CREATE (:sv {k: x})")
    s.saveDatabase(tmp) // seals the base, sets provenance
    val cur = s.cypher("CALL db.cdc.earliest() YIELD id RETURN id")
      .collect().head.getString(0)
    // delta-shaped mutations: update, create, delete
    s.cypher("MATCH (n:sv {k: 1}) SET n.flag = 7")
    s.cypher("MERGE (n:sv {k: 99})")
    s.cypher("MATCH (n:sv {k: 6}) DELETE n")
    // an INCREMENTAL save flushes the delta to disk and keeps the
    // epoch: the cursor stays valid and the feed answers off the
    // persisted delta-log (Neo4j's retained-tx-log behavior)
    s.saveDatabase(tmp)
    val events = s.cypher(
      s"CALL db.cdc.query('$cur') YIELD op, entity, id, detail, properties " +
        "RETURN op, entity, id, detail, properties").collect()
    val byOp = events.groupBy(_.getString(0)).view.mapValues(_.length).toMap
    assert(byOp == Map("u" -> 1, "c" -> 1, "d" -> 1), s"got $byOp")
    // P6: c/u events carry the latest property state; deletes carry null
    val upd = events.find(_.getString(0) == "u").get
    assert(upd.getString(4).contains("\"flag\":7"), s"got ${upd.getString(4)}")
    val del = events.find(_.getString(0) == "d").get
    assert(del.isNullAt(4))
    // withBefore=true adds the epoch-start image (one delta-key-pruned
    // base lookup): the update's before shows the pre-flag row, a
    // created key reads null
    val withB = s.cypher(
      s"CALL db.cdc.query('$cur', true) YIELD op, id, properties, before " +
        "RETURN op, id, properties, before").collect()
    val ub = withB.find(_.getString(0) == "u").get
    assert(ub.getString(3) != null && ub.getString(3).contains("\"k\":1") &&
      !ub.getString(3).contains("flag"), s"before = ${ub.getString(3)}")
    assert(withB.find(_.getString(0) == "c").get.isNullAt(3))
    // a cursor minted AFTER the incremental save must NOT replay the
    // flushed delta: the persisted rows carry their original commit
    // sequences, all at or under this cursor's watermark
    val postSave = s.cypher("CALL db.cdc.current() YIELD id RETURN id")
      .collect().head.getString(0)
    assert(s.cypher(s"CALL db.cdc.query('$postSave') YIELD op RETURN op")
      .collect().isEmpty)
    // mutate again AFTER the save: the same cursor sees old + new
    s.cypher("MATCH (n:sv {k: 2}) SET n.flag = 8")
    val events2 = s.cypher(
      s"CALL db.cdc.query('$cur') YIELD op, id RETURN op, id").collect()
    assert(events2.length == 4, s"got ${events2.length}")
    // …while the post-save cursor sees ONLY its own increment, read
    // across the disk ∪ overlay union with the sequence filter
    val inc = s.cypher(
      s"CALL db.cdc.query('$postSave') YIELD op, id RETURN op, id").collect()
    assert(inc.length == 1 && inc.head.getString(0) == "u", s"got ${inc.toSeq}")
    // an external compaction folds the persisted delta-log away →
    // the feed refuses loudly instead of silently dropping events
    s.saveDatabase(tmp) // flush the second delta incrementally first
    assert(s.cypher(s"CALL db.cdc.query('$cur') YIELD op RETURN op")
      .collect().length == 4) // still alive after the second save
    graft.core.SnapshotStore.compact(spark, s"$tmp/databases/neo4j")
    intercept[IllegalStateException] {
      s.cypher(s"CALL db.cdc.query('$cur') YIELD op RETURN op").collect()
    }
    // and a load starts a fresh epoch: still refused
    s.loadDatabase(tmp)
    intercept[IllegalStateException] {
      s.cypher(s"CALL db.cdc.query('$cur') YIELD op RETURN op").collect()
    }
    graft.core.SnapshotStore.deleteDir(tmp)
  }

  test("SET n = {map} replaces ALL properties; += merges") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (:rp {k: 1, a: 10, b: 20})")
    s.cypher("CREATE (:rp {k: 2, a: 11, b: 21})")
    // replace: k=1 keeps ONLY the mapped props; k=2 untouched
    s.cypher("MATCH (n:rp {k: 1}) SET n = {k: 1, c: $v}", Map("v" -> 99L))
    val r1 = s.cypher(
      "MATCH (n:rp {k: 1}) RETURN n.a AS a, n.b AS b, n.c AS c").collect().head
    assert(r1.isNullAt(0) && r1.isNullAt(1) && r1.getLong(2) == 99L)
    val r2 = s.cypher(
      "MATCH (n:rp {k: 2}) RETURN n.a AS a, n.b AS b").collect().head
    assert(r2.getLong(0) == 11L && r2.getLong(1) == 21L)
    // += only merges
    s.cypher("MATCH (n:rp {k: 2}) SET n += {c: 5}")
    val r3 = s.cypher(
      "MATCH (n:rp {k: 2}) RETURN n.a AS a, n.c AS c").collect().head
    assert(r3.getLong(0) == 11L && r3.getLong(1) == 5L)
    // whole-map parameter forms: += $m merges, = $m replaces
    s.cypher("MATCH (n:rp {k: 2}) SET n += $m", Map("m" -> Map("d" -> 6L)))
    val r4 = s.cypher(
      "MATCH (n:rp {k: 2}) RETURN n.a AS a, n.d AS d").collect().head
    assert(r4.getLong(0) == 11L && r4.getLong(1) == 6L)
    s.cypher("MATCH (n:rp {k: 2}) SET n = $m", Map("m" -> Map("k" -> 2L, "e" -> 8L)))
    val r5 = s.cypher(
      "MATCH (n:rp {k: 2}) RETURN n.a AS a, n.d AS d, n.e AS e").collect().head
    assert(r5.isNullAt(0) && r5.isNullAt(1) && r5.getLong(2) == 8L)
    // an unbound map parameter refuses loudly
    val miss = intercept[IllegalArgumentException] {
      s.cypher("MATCH (n:rp {k: 2}) SET n += $nope")
    }
    assert(miss.getMessage.contains("Expected parameter"))
    // whole-map parameter in patterns: CREATE (n:L $props) and the
    // MATCH twin (every map entry becomes a pattern predicate)
    s.cypher("CREATE (n:rpp $props)", Map("props" -> Map("k" -> 9L, "tag" -> "alpha")))
    val cr = s.cypher("MATCH (n:rpp $props) RETURN n.tag AS t",
      Map("props" -> Map("k" -> 9L))).collect()
    assert(cr.length == 1 && cr.head.getString(0) == "alpha")
    intercept[IllegalArgumentException] {
      s.cypher("CREATE (n:rpp $missing)")
    }
    // relationship target: replace scopes to the edge schema
    s.cypher("MATCH (a:rp {k: 1}), (b:rp {k: 2}) CREATE (a)-[:RR {x: 1, y: 2}]->(b)")
    s.cypher("MATCH (:rp)-[r:RR]->(:rp) SET r = {z: 7}")
    val re = s.cypher(
      "MATCH (:rp)-[r:RR]->(:rp) RETURN r.x AS x, r.y AS y, r.z AS z").collect().head
    assert(re.isNullAt(0) && re.isNullAt(1) && re.getLong(2) == 7L)
  }

  test("label expressions and inline WHERE are refused in write patterns") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (:dog {name:'Arne'})")
    val e1 = intercept[UnsupportedOperationException] {
      s.cypher("CREATE (n:dog|cat {name:'X'})")
    }
    assert(e1.getMessage.contains("label expressions"))
    val e2 = intercept[UnsupportedOperationException] {
      s.cypher("MERGE (n:dog WHERE n.name = 'Arne')")
    }
    assert(e2.getMessage.contains("inline WHERE"))
  }

  // ---- relationship surrogate identity (eid) ----------------------
  // The reference gives every relationship a stable id (driver entity
  // round-trips, ref DatabaseIO.java:121-132). Parallel same-type
  // edges between one endpoint pair must be independently targetable
  // and independently traversable.

  test("eid: parallel edges SET/DELETE independently and ids are stable") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:pp {name:'a'})-[:T {tag:1}]->(b:pp {name:'b'})")
    s.cypher("MATCH (a:pp {name:'a'}), (b:pp {name:'b'}) CREATE (a)-[:T {tag:2}]->(b)")
    val edges0 = s.graph().edges
    assert(edges0.count() == 2)
    // distinct surrogate ids in their own id space
    val eids = edges0.select("eid").collect().map(_.getLong(0)).toSeq
    assert(eids.distinct.size == 2)
    // stable across reads: a second scan yields the same ids
    assert(s.graph().edges.select("eid").collect().map(_.getLong(0)).toSeq.sorted
      == eids.sorted)
    // SET targets exactly the matched parallel edge
    s.cypher("MATCH ()-[r:T {tag:1}]->() SET r.w = 5")
    val w = s.graph().edges.select("tag", "w").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(w == Map(1L -> Some(5L), 2L -> None))
    // DELETE removes only the matched parallel edge
    s.cypher("MATCH ()-[r:T {tag:2}]->() DELETE r")
    val left = s.graph().edges.select("tag", "eid").collect()
    assert(left.map(_.getLong(0)).toSeq == Seq(1L))
    assert(eids.contains(left.head.getLong(1))) // survivor keeps its id
  }

  test("eid: var-length trail traverses two parallel edges as distinct relationships") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:pq {name:'a'})-[:T {tag:1}]->(b:pq {name:'b'})")
    s.cypher("MATCH (a:pq {name:'a'}), (b:pq {name:'b'}) CREATE (a)-[:T {tag:2}]->(b)")
    // a 2-hop undirected trail a -e1- b -e2- a needs TWO distinct
    // relationships between the same endpoint pair; with endpoint-pair
    // edge keys (pre-eid) this bounce-back was impossible
    val res = s.cypher(
      "MATCH (x:pq {name:'a'})-[:T*2..2]-(y) RETURN DISTINCT y.name AS name")
    assert(res.collect().map(_.getString(0)).toSeq == Seq("a"))
    // and a single edge alone still cannot be re-traversed
    val s2 = new GraftSession(spark)
    s2.cypher("CREATE (a:pq {name:'a'})-[:T {tag:1}]->(b:pq {name:'b'})")
    val res2 = s2.cypher(
      "MATCH (x:pq {name:'a'})-[:T*2..2]-(y) RETURN DISTINCT y.name AS name")
    assert(res2.collect().isEmpty)
  }

  test("eid: relationship ids survive a dump/load round-trip and MERGE reuses them") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:pr {name:'a'})-[:T {tag:1}]->(b:pr {name:'b'})")
    val eid0 = s.graph().edges.select("eid").collect().head.getLong(0)
    // MERGE of the existing pattern must not mint a new edge
    s.cypher("MERGE (a:pr {name:'a'})-[:T {tag:1}]->(b:pr {name:'b'})")
    assert(s.graph().edges.count() == 1)
    assert(s.graph().edges.select("eid").collect().head.getLong(0) == eid0)
    val dir = java.nio.file.Files.createTempDirectory("graft_eid_rt_").toString
    s.saveDatabase(dir)
    val s2 = new GraftSession(spark)
    s2.loadDatabase(dir)
    assert(s2.graph().edges.select("eid").collect().head.getLong(0) == eid0)
    // new edges in the loaded session allocate PAST the loaded ids
    s2.cypher("MATCH (a:pr {name:'a'}), (b:pr {name:'b'}) CREATE (a)-[:T {tag:9}]->(b)")
    val ids = s2.graph().edges.select("eid").collect().map(_.getLong(0)).toSeq
    assert(ids.distinct.size == 2 && ids.contains(eid0))
  }

  test("eid: id(r) and elementId() read the surrogate ids") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:ei {name:'a'})-[:T {tag:1}]->(b:ei {name:'b'})")
    val eid = s.graph().edges.select("eid").collect().head.getLong(0)
    val row = s.cypher(
      "MATCH (a:ei {name:'a'})-[r:T]->(b:ei) " +
        "RETURN id(r) AS rid, elementId(r) AS reid, id(a) AS nid, elementId(a) AS neid")
      .collect().head
    assert(row.getLong(0) == eid)
    assert(row.getString(1) == eid.toString)
    assert(row.getString(3) == row.getLong(2).toString)
  }

  test("eid invariants: random mutation sequences keep relationship ids unique and stable") {
    // Property-style check (deterministic sampled generation, same
    // discipline as ConfigSpec): random interleavings of CREATE edge /
    // MERGE edge / DELETE edge / SET over a small node universe must
    // maintain (1) eid uniqueness across the live edge set, (2) eid
    // stability — an edge never changes its id across unrelated
    // mutations, (3) the separate-id-space contract — node ids are
    // unaffected by how many relationships a sequence mints.
    import org.scalacheck.{Gen, rng}
    val nodeNames = Vector("a", "b", "c", "d")
    val opGen: Gen[(Int, Int, Int, Int)] = for {
      kind <- Gen.choose(0, 3)       // 0=CREATE, 1=MERGE, 2=DELETE, 3=SET
      src  <- Gen.choose(0, 3)
      dst  <- Gen.choose(0, 3)
      tag  <- Gen.choose(1, 3)
    } yield (kind, src, dst, tag)
    val seqGen = Gen.listOfN(12, opGen)

    (1 to 5).foreach { seed =>
      val ops = seqGen.apply(Gen.Parameters.default, rng.Seed(seed.toLong)).get
      val s2 = new GraftSession(spark)
      nodeNames.foreach(n => s2.cypher(s"CREATE (:inv {name:'$n'})"))
      val nodeIds = s2.graph().nodes.select("id").collect().map(_.getLong(0)).sorted.toSeq
      // eids seen so far for edges still alive at the time we saw them
      var lastSeen = Map.empty[(Long, Long, Long), Long] // (src,dst,tag) -> eid (CREATE duplicates make this per-triple ambiguous; MERGE/DELETE target all)
      ops.foreach { case (kind, si, di, tag) =>
        val (a, b) = (nodeNames(si), nodeNames(di))
        kind match {
          case 0 => s2.cypher(
            s"MATCH (x:inv {name:'$a'}), (y:inv {name:'$b'}) CREATE (x)-[:T {tag:$tag}]->(y)")
          case 1 => s2.cypher(
            s"MATCH (x:inv {name:'$a'}), (y:inv {name:'$b'}) MERGE (x)-[:T {tag:$tag}]->(y)")
          case 2 => s2.cypher(
            s"MATCH (:inv {name:'$a'})-[r:T {tag:$tag}]->(:inv {name:'$b'}) DELETE r")
          case 3 => s2.cypher(
            s"MATCH (:inv {name:'$a'})-[r:T {tag:$tag}]->(:inv {name:'$b'}) SET r.w = $tag")
        }
        val live = s2.graph().edges.select("eid").collect().map(_.getLong(0)).toSeq
        // (1) uniqueness across the live edge set after every op
        assert(live.distinct.size == live.size,
          s"seed=$seed: duplicate eids after op ($kind,$a,$b,$tag): $live")
      }
      // (3) node ids never perturbed by relationship minting
      assert(s2.graph().nodes.select("id").collect().map(_.getLong(0)).sorted.toSeq == nodeIds)
      // (2) stability: two reads of the final edge set agree exactly
      val r1 = s2.graph().edges.select("src", "dst", "eid").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      val r2 = s2.graph().edges.select("src", "dst", "eid").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      assert(r1 == r2)
    }
  }

  test("plain path assignment: nodes/relationships/length over fixed-length patterns") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:pv {name:'a'})-[:X {w:1}]->(b:pv {name:'b'})<-[:Y {w:2}]-(c:pv {name:'c'})")
    // mixed-orientation two-hop path: relationships(p) reads STORED
    // orientation per hop (the <- hop's struct is (c, b)), which the
    // shortestPath witness reconstruction cannot do
    val r = s.cypher(
      """MATCH p = (a:pv {name:'a'})-[:X]->(b:pv)<-[:Y]-(c:pv)
        |RETURN length(p) AS l, nodes(p) AS ns, relationships(p) AS rs""".stripMargin)
      .collect().head
    assert(r.getLong(0) == 2L)
    val ids = s.cypher("MATCH (n:pv) RETURN n.name AS nm, id(n) AS i").collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r.getSeq[Long](1) == Seq(ids("a"), ids("b"), ids("c")))
    val rels = r.getSeq[org.apache.spark.sql.Row](2)
      .map(x => (x.getLong(0), x.getLong(1), x.getString(2)))
    assert(rels == Seq((ids("a"), ids("b"), "X"), (ids("c"), ids("b"), "Y")))
    // a path variable over a SINGLE bounded var-length hop now
    // enumerates (compileVarPath); mixed fixed+var patterns refuse
    val vl = s.cypher("MATCH p = (a:pv {name:'a'})-[:X*1..2]->(b) RETURN length(p) AS l")
      .collect()
    assert(vl.map(_.getLong(0)).toSeq == Seq(1L))
    val e = intercept[UnsupportedOperationException](
      s.cypher("MATCH p = (a:pv)-[:X]->(b)-[:Y*1..2]->(c) RETURN length(p) AS l"))
    assert(e.getMessage.contains("mixed"))
    // zero-hop path: single node, empty rel list
    val z = s.cypher(
      "MATCH p = (a:pv {name:'a'}) RETURN length(p) AS l, size(relationships(p)) AS nr")
      .collect().head
    assert(z.getLong(0) == 0L && z.getInt(1) == 0)
  }

  test("var-length path binding: one row per bounded trail with ordered accessors") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:vp {name:'a'})-[:T]->(b:vp {name:'b'})-[:T]->(c:vp {name:'c'})")
    s.cypher("MATCH (b:vp {name:'b'}) CREATE (b)-[:T]->(d:vp {name:'d'})")
    // directed *1..2 from a: (a,b) len 1, (a,b,c) and (a,b,d) len 2 —
    // one ROW per path (openCypher multiplicity), ordered node arrays
    val rows = s.cypher(
      """MATCH p = (x:vp {name:'a'})-[:T*1..2]->(y)
        |RETURN length(p) AS l, nodes(p) AS ns, y.name AS yn ORDER BY l, yn""".stripMargin)
      .collect()
    assert(rows.map(r => (r.getLong(0), r.getString(2))).toSeq ==
      Seq((1L, "b"), (2L, "c"), (2L, "d")))
    val ids = s.cypher("MATCH (n:vp) RETURN n.name AS nm, id(n) AS i").collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(rows(1).getSeq[Long](1) == Seq(ids("a"), ids("b"), ids("c")))
    // UNDIRECTED *1..2 from a: trail semantics — the hop-2 frontier
    // may not bounce back over hop 1's relationship, so `a` never
    // reappears; c and d are reached THROUGH b
    val und = s.cypher(
      "MATCH p = (x:vp {name:'a'})-[:T*1..2]-(y) RETURN y.name AS yn ORDER BY yn")
      .collect().map(_.getString(0))
    assert(und.toSeq == Seq("b", "c", "d"))
    // *0..1 includes the zero-length path (the start node itself)
    val z = s.cypher(
      """MATCH p = (x:vp {name:'c'})-[:T*0..1]-(y)
        |RETURN length(p) AS l, y.name AS yn ORDER BY l""".stripMargin).collect()
    assert(z.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((0L, "c"), (1L, "b")))
    // relationships(p) carries STORED orientation structs per hop
    val rs = s.cypher(
      """MATCH p = (x:vp {name:'a'})-[:T*2..2]->(y:vp {name:'c'})
        |RETURN relationships(p) AS rs""".stripMargin)
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
      .map(x => (x.getLong(0), x.getLong(1), x.getString(2)))
    assert(rs == Seq((ids("a"), ids("b"), "T"), (ids("b"), ids("c"), "T")))
    // unbounded `*` (parsed hi=15) stays refused via the hop cap
    val e = intercept[UnsupportedOperationException](
      s.cypher("MATCH p = (x:vp)-[:T*]->(y) RETURN length(p) AS l"))
    assert(e.getMessage.contains("unbounded"))
  }

  test("UNWIND key-list DELETE: the batched right-to-be-forgotten shape") {
    val s = new GraftSession(spark)
    s.cypher("UNWIND range(1, 30) AS x CREATE (a:kd {k: x})")
    s.cypher("MATCH (a:kd {k: 1}), (b:kd {k: 2}) CREATE (a)-[:T {w: 1}]->(b)")
    s.cypher("MATCH (a:kd {k: 3}), (b:kd {k: 4}) CREATE (a)-[:T {w: 2}]->(b)")
    // plain key-list delete refuses while relationships remain
    val e0 = intercept[IllegalStateException](
      s.cypher("UNWIND $keys AS k MATCH (a:kd {k: k}) DELETE a",
        Map("keys" -> Seq(1L, 5L))))
    assert(e0.getMessage.contains("DETACH"))
    // DETACH form: nodes AND their incident edges tombstone in one
    // statement; untouched keys keep their rows
    s.cypher("UNWIND $keys AS k MATCH (a:kd {k: k}) DETACH DELETE a",
      Map("keys" -> Seq(1L, 5L, 9L, 40L))) // 40 matches nothing: no-op
    assert(s.cypher("MATCH (a:kd) RETURN count(a) AS n").collect().head.getLong(0) == 27L)
    assert(s.cypher("MATCH (a:kd {k: 1}) RETURN count(a) AS n").collect().head.getLong(0) == 0L)
    assert(s.cypher("MATCH (:kd)-[x:T]->() RETURN count(x) AS n").collect().head.getLong(0) == 1L)
    // relationship key-list form (element-keyed rel prop)
    s.cypher("UNWIND $ws AS w MATCH (:kd)-[x:T {w: w}]->() DELETE x",
      Map("ws" -> Seq(2L)))
    assert(s.cypher("MATCH (:kd)-[x:T]->() RETURN count(x) AS n").collect().head.getLong(0) == 0L)
    // no-relationship plain DELETE works once edges are gone
    s.cypher("UNWIND [3, 4] AS k MATCH (a:kd {k: k}) DELETE a")
    assert(s.cypher("MATCH (a:kd) RETURN count(a) AS n").collect().head.getLong(0) == 25L)
    // a deleted key can MERGE-create fresh (resurrection, new id)
    s.cypher("MERGE (a:kd {k: 3}) ON CREATE SET a.fresh = 1")
    assert(s.cypher("MATCH (a:kd {k: 3}) RETURN a.fresh AS f").collect().head.getLong(0) == 1L)
    // two element-keyed props would need per-element pairing: refused
    val e1 = intercept[UnsupportedOperationException](
      s.cypher("UNWIND $rows AS r MATCH (a:kd {k: r.a}), (b:kd {k: r.b}) DELETE a",
        Map("rows" -> Seq(Map("a" -> 10L, "b" -> 11L)))))
    assert(e1.getMessage.contains("exactly ONE element-keyed"))
  }

  test("UNWIND key-list SET: the batched property-update shape") {
    val s = new GraftSession(spark)
    s.cypher("UNWIND range(1, 30) AS x CREATE (a:ku {k: x, v: 0})")
    // per-element values: map batches pair key -> value
    s.cypher("UNWIND $rows AS r MATCH (n:ku {k: r.k}) SET n.v = r.v, n.seen = true",
      Map("rows" -> Seq(
        Map("k" -> 1L, "v" -> 10L),
        Map("k" -> 2L, "v" -> 20L),
        Map("k" -> 99L, "v" -> 0L),    // no such key: no-op, NOT created
        Map("k" -> null, "v" -> 7L)))) // null key matches nothing
    assert(s.cypher("MATCH (n:ku) RETURN count(n) AS c").collect().head.getLong(0) == 30L)
    assert(s.cypher("MATCH (n:ku {k: 1}) RETURN n.v AS v").collect().head.getLong(0) == 10L)
    assert(s.cypher("MATCH (n:ku {k: 2}) RETURN n.v AS v").collect().head.getLong(0) == 20L)
    assert(s.cypher("MATCH (n:ku) WHERE n.seen RETURN count(n) AS c")
      .collect().head.getLong(0) == 2L)
    // untouched keys keep their value
    assert(s.cypher("MATCH (n:ku {k: 3}) RETURN n.v AS v").collect().head.getLong(0) == 0L)
    // duplicate keys: last occurrence wins (openCypher sequential apply)
    s.cypher("UNWIND $rows AS r MATCH (n:ku {k: r.k}) SET n.v = r.v",
      Map("rows" -> Seq(Map("k" -> 3L, "v" -> 1L), Map("k" -> 3L, "v" -> 2L))))
    assert(s.cypher("MATCH (n:ku {k: 3}) RETURN n.v AS v").collect().head.getLong(0) == 2L)
    // SET reading the node's own property works for distinct keys
    s.cypher("UNWIND [1, 2] AS k MATCH (n:ku {k: k}) SET n.v = n.v + 1")
    assert(s.cypher("MATCH (n:ku {k: 1}) RETURN n.v AS v").collect().head.getLong(0) == 11L)
    // …but refuses under duplicate keys (would double-apply)
    val e0 = intercept[UnsupportedOperationException](
      s.cypher("UNWIND [4, 4] AS k MATCH (n:ku {k: k}) SET n.v = n.v + 1"))
    assert(e0.getMessage.contains("duplicate keys"))
    // REMOVE by key list (SET-null desugar rides the same route)
    s.cypher("UNWIND [1, 2] AS k MATCH (n:ku {k: k}) REMOVE n.seen")
    assert(s.cypher("MATCH (n:ku) WHERE n.seen RETURN count(n) AS c")
      .collect().head.getLong(0) == 0L)
    // interleaves with the MERGE buffer: an upsert after the SET sees
    // the updated value; a SET after a buffered create sees the row
    s.cypher("UNWIND $b AS r MERGE (n:ku {k: r.k}) ON CREATE SET n.v = r.v",
      Map("b" -> Seq(Map("k" -> 31L, "v" -> 310L))))
    s.cypher("UNWIND $rows AS r MATCH (n:ku {k: r.k}) SET n.v = r.v",
      Map("rows" -> Seq(Map("k" -> 31L, "v" -> 311L))))
    assert(s.cypher("MATCH (n:ku {k: 31}) RETURN n.v AS v").collect().head.getLong(0) == 311L)
    assert(s.cypher("MATCH (n:ku) RETURN count(n) AS c").collect().head.getLong(0) == 31L)
    // label-gated: rows matching the key under another label stay put
    s.cypher("CREATE (a:kuOther {k: 1, v: 5})")
    s.cypher("UNWIND [1] AS k MATCH (n:kuOther {k: k}) SET n.v = 6")
    assert(s.cypher("MATCH (n:ku {k: 1}) RETURN n.v AS v").collect().head.getLong(0) == 11L)
    assert(s.cypher("MATCH (n:kuOther {k: 1}) RETURN n.v AS v").collect().head.getLong(0) == 6L)
  }

  test("IS :: type predicates resolve statically; null conforms to every type") {
    val s = new GraftSession(spark)
    val r = s.cypher(
      """RETURN 5 IS :: INTEGER AS a, 'x' IS :: INTEGER AS b,
        |  'x' IS NOT :: INTEGER AS c, [1, 2] IS :: LIST<INTEGER> AS d,
        |  null IS :: STRING AS e, 1.5 IS :: FLOAT AS f,
        |  {k: 1} IS :: MAP AS g, true IS :: ANY AS h""".stripMargin)
      .collect().head
    assert((0 to 7).map(r.getBoolean) == Seq(true, false, true, true, true, true, true, true))
    // entity property columns resolve through the binding table
    s.cypher("CREATE (a:tp {name: 'x', n: 1})")
    assert(s.cypher("MATCH (a:tp) WHERE a.name IS :: STRING RETURN count(a) AS c")
      .collect().head.getLong(0) == 1L)
    assert(s.cypher("MATCH (a:tp) WHERE a.name IS :: INTEGER RETURN count(a) AS c")
      .collect().head.getLong(0) == 0L)
    // unknown type names refuse loudly
    val e0 = intercept[UnsupportedOperationException](
      s.cypher("RETURN 1 IS :: GIZMO AS g").collect())
    assert(e0.getMessage.contains("unsupported type name"))
    // Neo4j sign() returns INTEGER
    assert(s.cypher("RETURN sign(-3) AS s").collect().head.getLong(0) == -1L)
    // valueType / toStringOrNull (Cypher 5 functions): static per
    // column, NOT NULL suffix per row
    val vt = s.cypher(
      "RETURN valueType(5) AS a, valueType(null) AS b, toStringOrNull([1]) AS c, toStringOrNull(7) AS d")
      .collect().head
    assert(vt.getString(0) == "INTEGER NOT NULL")
    assert(vt.getString(1) == "NULL")
    assert(vt.isNullAt(2))
    assert(vt.getString(3) == "7")
    // SHOW SETTINGS — the declarative face of dbms.listConfig
    val cols = s.cypher("SHOW SETTINGS").columns.toSeq
    assert(cols == Seq("name", "value"))
  }

  test("MATCH ... SET/DELETE ... RETURN: bindings at entry, reads post-write") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:wr {k: 1, v: 10}), (b:wr {k: 2, v: 20})")
    // arithmetic over the node's own pre-write value, read back post-write
    val v = s.cypher("MATCH (a:wr {k:1}) SET a.v = a.v + 5 RETURN a.v AS v")
      .collect().head.getLong(0)
    assert(v == 15L)
    // the match predicate's own property changes: binding fixed at
    // entry, the RETURN sees the new value
    val k = s.cypher("MATCH (a:wr {k:1}) SET a.k = 99 RETURN a.k AS k")
      .collect().head.getLong(0)
    assert(k == 99L)
    // multi-row with ORDER BY; REMOVE reads back null
    val rows = s.cypher("MATCH (a:wr) SET a.seen = true RETURN a.k AS k, a.seen AS seen ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq
    assert(rows == Seq((2L, true), (99L, true)))
    val rem = s.cypher("MATCH (a:wr {k:2}) REMOVE a.v RETURN a.v AS v").collect().head
    assert(rem.isNullAt(0))
    // DELETE ... RETURN count(*) keeps the match multiplicity
    val c = s.cypher("MATCH (a:wr) DETACH DELETE a RETURN count(*) AS c")
      .collect().head.getLong(0)
    assert(c == 2L)
    assert(s.cypher("MATCH (a:wr) RETURN count(a) AS c").collect().head.getLong(0) == 0L)
    // a relationship variable in the RETURN refuses loudly
    s.cypher("CREATE (x:wr2 {k:1})-[:T {w: 1}]->(y:wr2 {k:2})")
    val e0 = intercept[UnsupportedOperationException](
      s.cypher("MATCH (x:wr2)-[r:T]->() SET x.m = 1 RETURN r.w"))
    assert(e0.getMessage.contains("node variables"))
    // CREATE with a rel variable: the trailing RETURN reads its props
    val w = s.cypher("CREATE (p:wr3 {k:1})-[r:T {w: 7}]->(q:wr3 {k:2}) RETURN r.w AS w")
      .collect().head.getLong(0)
    assert(w == 7L)
    // MERGE … RETURN: created then matched values read back
    assert(s.cypher("MERGE (m:wr4 {k:1}) ON CREATE SET m.c = 1 RETURN m.c AS c")
      .collect().head.getLong(0) == 1L)
    assert(s.cypher("MERGE (m:wr4 {k:1}) ON MATCH SET m.c = m.c + 1 RETURN m.c AS c")
      .collect().head.getLong(0) == 2L)
    // …but a SET rewriting the merge key refuses (re-match would miss)
    val e1 = intercept[UnsupportedOperationException](
      s.cypher("MERGE (m:wr4 {k:1}) ON CREATE SET m.k = 2 RETURN m.k"))
    assert(e1.getMessage.contains("merge key"))
  }

  test("COLLECT subquery ORDER BY / LIMIT: per-row top-k list; keys() on map literals") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:co {name:'a'})")
    s.cypher("UNWIND [3, 1, 2, 5, 4] AS v CREATE (:cv {v: v})")
    s.cypher("MATCH (a:co), (x:cv) CREATE (a)-[:T]->(x)")
    // DESC order, truncated to 3 — order then cut, not cut then order
    val top = s.cypher(
      "MATCH (a:co) RETURN COLLECT { MATCH (a)-[:T]->(x) RETURN x.v ORDER BY x.v DESC LIMIT 3 } AS t")
      .collect().head.getSeq[Long](0)
    assert(top == Seq(5L, 4L, 3L))
    // ASC with no limit: full ordered list
    val asc = s.cypher(
      "MATCH (a:co) RETURN COLLECT { MATCH (a)-[:T]->(x) RETURN x.v ORDER BY x.v } AS t")
      .collect().head.getSeq[Long](0)
    assert(asc == Seq(1L, 2L, 3L, 4L, 5L))
    // LIMIT without ORDER BY truncates the value-sorted default
    val lim = s.cypher(
      "MATCH (a:co) RETURN COLLECT { MATCH (a)-[:T]->(x) RETURN x.v LIMIT 2 } AS t")
      .collect().head.getSeq[Long](0)
    assert(lim == Seq(1L, 2L))
    // ORDER BY one expression, project another
    val byOther = s.cypher(
      "MATCH (a:co) RETURN COLLECT { MATCH (a)-[:T]->(x) RETURN x.v * 10 ORDER BY x.v DESC LIMIT 2 } AS t")
      .collect().head.getSeq[Long](0)
    assert(byOther == Seq(50L, 40L))
    // keys() on a map literal (struct-typed): the field names
    val ks = s.cypher("UNWIND [{b: 1, a: 2}] AS m RETURN keys(m) AS ks")
      .collect().head.getSeq[String](0)
    assert(ks == Seq("b", "a"))
  }

  test("OPTIONAL MATCH over a var-length bound path: null path on miss, multiplicity on hit") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:ov {name:'a'})-[:T]->(b:ov {name:'b'})-[:T]->(c:ov {name:'c'})")
    s.cypher("MATCH (b:ov {name:'b'}) CREATE (b)-[:T]->(d:ov {name:'d'})")
    s.cypher("CREATE (z:ov {name:'z'})") // isolated: the miss partition
    // a reaches b (len 1), c and d (len 2) — 3 rows; z emits ONE row
    // with a null path and null accessors (openCypher left-outer)
    val rows = s.cypher(
      """MATCH (x:ov) WHERE x.name IN ['a', 'z']
        |OPTIONAL MATCH p = (x)-[:T*1..2]->(y)
        |RETURN x.name AS xn, length(p) AS l, y.name AS yn ORDER BY xn, l, yn""".stripMargin)
      .collect()
    assert(rows.map(r => (r.getString(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSeq ==
      Seq(("a", 1L, "b"), ("a", 2L, "c"), ("a", 2L, "d"), ("z", -1L, null)))
    // nodes(p) is null (not an array of nulls) on the miss row
    val miss = s.cypher(
      """MATCH (x:ov {name:'z'}) OPTIONAL MATCH p = (x)-[:T*1..2]->(y)
        |RETURN nodes(p) AS ns""".stripMargin).collect().head
    assert(miss.isNullAt(0))
  }

  test("existence subqueries in bound-path and shortestPath WHERE apply after the trail join") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:ev {name:'a'})-[:T]->(b:ev {name:'b'})-[:T]->(c:ev {name:'c'})")
    s.cypher("MATCH (b:ev {name:'b'}) CREATE (b)-[:T]->(d:ev {name:'d'})")
    s.cypher("MATCH (c:ev {name:'c'}) CREATE (c)-[:X]->(:evm {name:'m'})")
    // endpoints with an outgoing :X — only c qualifies, so of a's three
    // trails exactly (a,b,c) survives; NOT EXISTS keeps b and d
    val hit = s.cypher(
      """MATCH p = (x:ev {name:'a'})-[:T*1..2]->(y)
        |WHERE EXISTS { (y)-[:X]->() } RETURN y.name AS yn, length(p) AS l""".stripMargin)
      .collect()
    assert(hit.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("c", 2L)))
    val neg = s.cypher(
      """MATCH p = (x:ev {name:'a'})-[:T*1..2]->(y)
        |WHERE NOT EXISTS { (y)-[:X]->() } RETURN y.name AS yn ORDER BY yn""".stripMargin)
      .collect().map(_.getString(0))
    assert(neg.toSeq == Seq("b", "d"))
    // shortestPath WHERE gains the same machinery
    val sp = s.cypher(
      """MATCH p = shortestPath((x:ev {name:'a'})-[:T*1..3]->(y:ev))
        |WHERE EXISTS { (y)-[:X]->() } RETURN y.name AS yn, length(p) AS l""".stripMargin)
      .collect()
    assert(sp.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("c", 2L)))
  }

  test("delta-log: batched upserts commit O(batch) and read-your-writes across the uncompacted delta") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:acct {k: 1, bal: 10})")
    s.cypher("CREATE (a:acct {k: 2, bal: 20})")
    assert(s.cypher("MATCH (a:acct) RETURN count(a) AS n").collect().head.getLong(0) == 2L)
    val db = s.catalog.database("neo4j")
    // CREATE is delta-shaped too (r17): the creates ride the overlay
    // over the ORIGINAL base, which no burst may ever rewrite
    val baseRef = db.validNodeDelta.map(_.base).getOrElse(db.graph.nodes)
    // ONE delta-shaped commit (batched upsert): updates k=1,2; creates k=3
    s.cypher(
      """UNWIND [1, 2, 3] AS x MERGE (a:acct {k: x})
        |ON MATCH SET a.bal = a.bal + 100 ON CREATE SET a.bal = 0""".stripMargin)
    // the overlay is live and UNCOMPACTED (pendingMutations == 1 —
    // compactIfNeeded needs >= 2), and the base was NOT rewritten
    val st = db.validNodeDelta
    assert(st.isDefined, "delta overlay not installed by the batched upsert")
    assert(st.get.base eq baseRef, "delta commit rewrote the base")
    assert(db.pendingMutations == 1)
    // read-your-writes resolves THROUGH the delta
    val got = s.cypher("MATCH (a:acct) RETURN a.k AS k, a.bal AS bal ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 110L), (2L, 120L), (3L, 0L)))
    // a second burst extends the delta latest-wins; the base STILL
    // never rewrites, and compaction (triggered by this read at
    // pending >= 2) keeps the overlay installed over the same base
    s.cypher(
      """UNWIND [2, 3] AS x MERGE (a:acct {k: x})
        |ON MATCH SET a.bal = a.bal + 1 ON CREATE SET a.bal = 0""".stripMargin)
    val got2 = s.cypher("MATCH (a:acct) RETURN a.k AS k, a.bal AS bal ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got2 == Seq((1L, 110L), (2L, 121L), (3L, 1L)))
    assert(db.validNodeDelta.exists(_.base eq baseRef),
      "compaction rewrote the base under a delta-shaped burst")
    // dump/load on the delta-bearing database: the snapshot writes the
    // RESOLVED view, a fresh session reads identical rows
    val dir = java.nio.file.Files.createTempDirectory("graft-delta-dump").toString
    s.saveDatabase(dir)
    val fresh = new GraftSession(spark)
    fresh.loadDatabase(dir)
    val reloaded = fresh.cypher("MATCH (a:acct) RETURN a.k AS k, a.bal AS bal ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(reloaded == got2)
  }

  test("edge delta-log: relationship MERGE commits O(batch) and read-your-writes across the uncompacted edge delta") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:edl {k: 1})")
    s.cypher("CREATE (a:edl {k: 2})")
    s.cypher("CREATE (a:edl {k: 3})")
    // a read compacts the CREATE chain into the materialized base
    assert(s.cypher("MATCH (a:edl) RETURN count(a) AS n").collect().head.getLong(0) == 3L)
    val db = s.catalog.database("neo4j")
    val edgeBaseRef = db.graph.edges
    val merge =
      """MATCH (a:edl {k: 1}), (b:edl {k: 2}), (c:edl {k: 3})
        |MERGE (a)-[x:EV]->(b)-[y:EB]->(c)""".stripMargin
    // first MERGE creates both hops — an edge-delta-shaped commit:
    // the overlay is live and UNCOMPACTED, the base was NOT rewritten
    s.cypher(s"$merge ON CREATE SET x.f = 1")
    val st = db.validEdgeDelta
    assert(st.isDefined, "edge delta overlay not installed by the relationship MERGE")
    assert(st.get.base eq edgeBaseRef, "edge delta commit rewrote the base")
    // read-your-writes resolves THROUGH the overlay
    val got = s.cypher(
      """MATCH (:edl)-[r]->(:edl)
        |RETURN type(r) AS t, r.f AS f ORDER BY t""".stripMargin)
      .collect().map(r => (r.getString(0), Option(r.get(1)))).toSeq
    assert(got == Seq(("EB", None), ("EV", Some(1L))))
    // rerun hits the whole pattern: ON MATCH marks only y, latest-wins
    // in the delta; the base STILL never rewrites — compaction
    // (triggered by this read at pending >= 2) keeps the overlay
    // installed over the same base reference
    s.cypher(s"$merge ON MATCH SET y.m = 5")
    val got2 = s.cypher(
      """MATCH (:edl)-[r]->(:edl)
        |RETURN type(r) AS t, r.f AS f, r.m AS m ORDER BY t""".stripMargin)
      .collect().map(r => (r.getString(0), Option(r.get(1)), Option(r.get(2)))).toSeq
    assert(got2 == Seq(("EB", None, Some(5L)), ("EV", Some(1L), None)))
    assert(db.validEdgeDelta.exists(_.base eq edgeBaseRef),
      "compaction rewrote the edge base under a delta-shaped burst")
    // rerun with no SET: pure hit, zero misses — still a no-surprise
    // no-op (the miss-append machinery is skipped entirely)
    s.cypher(merge)
    assert(s.cypher("MATCH (:edl)-[r]->(:edl) RETURN count(r) AS n")
      .collect().head.getLong(0) == 2L)
    // dump/load on the delta-bearing database: the snapshot writes the
    // RESOLVED view, a fresh session reads identical rows
    val dir = java.nio.file.Files.createTempDirectory("graft-edge-delta-dump").toString
    s.saveDatabase(dir)
    val fresh = new GraftSession(spark)
    fresh.loadDatabase(dir)
    val reloaded = fresh.cypher(
      """MATCH (:edl)-[r]->(:edl)
        |RETURN type(r) AS t, r.f AS f, r.m AS m ORDER BY t""".stripMargin)
      .collect().map(r => (r.getString(0), Option(r.get(1)), Option(r.get(2)))).toSeq
    assert(reloaded == got2)
  }

  test("driver-buffered edge upsert: burst increments through the buffer, ON MATCH folds base rows, interleaved node writes stay visible") {
    val s = new GraftSession(spark)
    (1 to 3).foreach(k => s.cypher(s"CREATE (a:beu {k: $k})"))
    assert(s.cypher("MATCH (a:beu) RETURN count(a) AS n").collect().head.getLong(0) == 3L)
    val db = s.catalog.database("neo4j")
    val merge =
      """UNWIND $b AS row
        |MATCH (a:beu {k: row.s}), (c:beu {k: row.d})
        |MERGE (a)-[x:BU]->(c) ON CREATE SET x.c = 1 ON MATCH SET x.c = x.c + 1""".stripMargin
    // call 1 creates (1→2); calls 2–3 grow the batch so early pairs
    // re-match THROUGH THE BUFFER and increment
    s.cypher(merge, Map("b" -> Seq(Map("s" -> 1L, "d" -> 2L))))
    assert(db.validEdgeDelta.exists(_.buf.isDefined),
      "single-hop literal batch must take the driver-buffered path")
    s.cypher(merge, Map("b" -> Seq(Map("s" -> 1L, "d" -> 2L), Map("s" -> 2L, "d" -> 3L))))
    s.cypher(merge, Map("b" -> Seq(Map("s" -> 1L, "d" -> 2L), Map("s" -> 2L, "d" -> 3L))))
    val got = s.cypher(
      """MATCH (a:beu)-[x:BU]->(c:beu)
        |RETURN a.k AS ak, c.k AS ck, x.c AS n ORDER BY ak""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 2L, 3L), (2L, 3L, 2L)))
    // the buffer survives compaction (reads above crossed pending >= 2)
    assert(db.validEdgeDelta.exists(_.buf.isDefined), "compaction dropped the buffer")
    // an interleaved NODE mutation moves the node frame: the bind
    // cache invalidates by reference, but edge state stays correct
    s.cypher("UNWIND [4] AS x MERGE (a:beu {k: x}) ON CREATE SET a.fresh = 1")
    s.cypher(merge, Map("b" -> Seq(Map("s" -> 3L, "d" -> 4L))))
    val got2 = s.cypher(
      """MATCH (a:beu)-[x:BU]->(c:beu)
        |RETURN a.k AS ak, c.k AS ck, x.c AS n ORDER BY ak""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got2 == Seq((1L, 2L, 3L), (2L, 3L, 2L), (3L, 4L, 1L)))
    // a distributed-shape merge (rel PROPS in the pattern) after the
    // buffered burst composes: the delta folds, values survive
    s.cypher(
      """MATCH (a:beu {k: 4}), (c:beu {k: 1})
        |MERGE (a)-[x:BU {w: 9}]->(c)""".stripMargin)
    val got3 = s.cypher(
      """MATCH (a:beu)-[x:BU]->(c:beu)
        |RETURN a.k AS ak, x.c AS n, x.w AS w ORDER BY ak""".stripMargin)
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSeq
    assert(got3 == Seq(
      (1L, Some(3L), None), (2L, Some(2L), None),
      (3L, Some(1L), None), (4L, None, Some(9L))))
    // dump/load round-trips the folded state
    val dir = java.nio.file.Files.createTempDirectory("graft-beu-dump").toString
    s.saveDatabase(dir)
    val fresh = new GraftSession(spark)
    fresh.loadDatabase(dir)
    assert(fresh.cypher("MATCH (:beu)-[x:BU]->(:beu) RETURN sum(x.c) AS t")
      .collect().head.getLong(0) == 6L)
  }

  test("delta-log write buffers: every buffered path keeps its buffer, stamps at COMMIT, rolls back exactly and reads like a serial run") {
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.types._
    import graft.core.{DeltaBuffer, DeltaSide, PropertyGraph}
    import graft.core.PropertyGraph.CdcSeqCol
    // base graph with no overlay: (:dl {k, v}) with id = k, and two R
    // edges 1→2, 2→3 carrying c and w (eids clear of fresh ones)
    def fresh(): GraftSession = {
      val s = new GraftSession(spark)
      graft.procs.Packs.install(s, Seq("apoc"))
      val nodes = spark.createDataFrame(java.util.Arrays.asList(
        (1L to 5L).map(k => Row(k, Seq("dl"), k, k * 10)): _*), StructType(Seq(
          StructField("id", LongType, nullable = false),
          StructField("labels", ArrayType(StringType), nullable = false),
          StructField("k", LongType), StructField("v", LongType))))
      val edges = spark.createDataFrame(java.util.Arrays.asList(
        Row(1L, 2L, "R", 100L, 1L, 7L), Row(2L, 3L, "R", 101L, 1L, 7L)),
        StructType(graft.core.PropertyGraph.edgeBaseSchema.fields ++ Seq(
          StructField("c", LongType), StructField("w", LongType))))
      s.setGraph(graft.core.PropertyGraph(nodes, edges))
      s
    }
    def dump(s: GraftSession): Seq[String] =
      (s.cypher("MATCH (n:dl) RETURN n.k AS k, n.v AS v, n.flag AS f ORDER BY k").collect() ++
        s.cypher("""MATCH (a:dl)-[r]->(b:dl) RETURN a.k AS a, b.k AS b, type(r) AS t,
          |r.c AS c, r.w AS w, r.seen AS seen ORDER BY a, b""".stripMargin).collect())
        .map(_.toString).toSeq
    val relMerge =
      """UNWIND $b AS row MATCH (a:dl {k: row.s}), (c:dl {k: row.d})
        |MERGE (a)-[x:R]->(c) ON CREATE SET x.c = 1 ON MATCH SET x.c = x.c + 1""".stripMargin
    // (path, node side?, the buffered statement, rows the reads must
    // hold, rows they must not)
    val paths: Seq[(String, Boolean, GraftSession => Unit, Seq[String], Seq[String])] = Seq(
      ("literal MERGE", true, s => s.cypher(
        "UNWIND [1, 9] AS x MERGE (a:dl {k: x}) ON MATCH SET a.v = a.v + 1 ON CREATE SET a.v = 0"),
        Seq("[1,11,null]", "[9,0,null]"), Nil),
      ("id(n) IN $chunk SET", true, s => s.cypher(
        "MATCH (n:dl) WHERE id(n) IN $chunk SET n.flag = 1", Map("chunk" -> Seq(2L, 3L))),
        Seq("[2,20,1]", "[3,30,1]", "[4,40,null]"), Nil),
      ("bounded node DELETE", true, s => s.cypher("MATCH (n:dl {k: 5}) DELETE n"),
        Seq("[4,40,null]"), Seq("[5,50,null]")),
      ("apoc.merge.relationship", false, s => s.cypher(
        "CALL apoc.merge.relationship(1, 'R', {}, {}, 2, {seen: true}) YIELD src RETURN src")
        .collect(),
        Seq("[1,2,R,1,7,true]"), Nil),
      ("bounded relationship DELETE", false, s => s.cypher(
        "MATCH (:dl {k: 2})-[r:R]->(:dl {k: 3}) DELETE r"),
        Seq("[1,2,R,1,7,null]"), Seq("[2,3,R,1,7,null]")),
      ("UNWIND … MATCH … MERGE", false, s => s.cypher(relMerge,
        Map("b" -> Seq(Map("s" -> 1L, "d" -> 2L), Map("s" -> 3L, "d" -> 4L)))),
        Seq("[1,2,R,2,7,null]", "[3,4,R,1,null,null]"), Nil),
      ("buffered DETACH DELETE", true, s => s.cypher("MATCH (n:dl {k: 2}) DETACH DELETE n"),
        Seq("[1,10,null]", "[3,30,null]"), Seq("[2,20,null]", "[1,2,R,1,7,null]", "[2,3,R,1,7,null]")))
    // the two overlay plans resolve every live delta alike: a
    // driver-resident delta of at most MaxDriverRows rows removes its
    // keys by their literal set (no join), any other by an anti join —
    // here the same delta checkpointed
    def joins(df: DataFrame): Int = df.queryExecution.analyzed.collect { case j: Join => j }.size
    def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    def overlaysAgree(s: GraftSession, name: String): Unit = {
      val db = s.catalog.database("neo4j")
      def agree[B <: DeltaBuffer[B]](side: DeltaSide[B]): Unit = side.valid(db).foreach { st =>
        val literal = st.buf.exists(_.rows.size <= DeltaSide.MaxDriverRows)
        val anti = side.overlay(st.base, st.delta.localCheckpoint())
        assert(joins(st.resolved) == joins(st.base) + (if (literal) 0 else 1),
          s"$name: the ${side.key} overlay took the wrong plan")
        assert(joins(anti) == joins(st.base) + 1)
        assert(sorted(st.resolved) == sorted(anti), s"$name: the ${side.key} overlays disagree")
      }
      agree(DeltaSide.Nodes); agree(DeltaSide.Edges)
    }
    paths.foreach { case (name, nodeSide, run, present, absent) =>
      def buffer(s: GraftSession): Option[Map[Long, Map[String, Any]]] = {
        val db = s.catalog.database("neo4j")
        (if (nodeSide) db.validNodeDelta.flatMap(_.buf).map(_.rows)
         else db.validEdgeDelta.flatMap(_.buf).map(_.rows)).map(_.toMap)
      }
      def stamped(rows: Map[Long, Map[String, Any]]): Boolean =
        rows.values.forall(_.get(CdcSeqCol).exists(_ != null))
      // autocommit: the serial reference run
      val serial = fresh()
      run(serial)
      assert(buffer(serial).exists(stamped), s"$name: autocommit left no stamped write buffer")
      val want = dump(serial)
      present.foreach(r => assert(want.contains(r), s"$name: reads lack $r in $want"))
      absent.foreach(r => assert(!want.contains(r), s"$name: reads still hold $r"))
      // ROLLBACK leaves the live database exactly as it was
      val s = fresh()
      val db = s.catalog.database("neo4j")
      val (g0, n0, e0) = (db.graph, db.nodeDeltaState, db.edgeDeltaState)
      s.cypher("BEGIN"); run(s); s.cypher("ROLLBACK")
      assert((db.graph eq g0) && (db.nodeDeltaState eq n0) && (db.edgeDeltaState eq e0),
        s"$name: ROLLBACK moved the live state")
      // COMMIT publishes the buffer with every row stamped
      s.cypher("BEGIN"); run(s); s.cypher("COMMIT")
      val committed = buffer(s).getOrElse(fail(s"$name: COMMIT dropped the write buffer"))
      assert(stamped(committed), s"$name: COMMIT left unstamped buffer rows")
      assert(committed.values.map(_(CdcSeqCol)).toSet.size == 1,
        s"$name: one COMMIT stamped its rows with more than one sequence")
      assert(dump(s) == want, s"$name: reads after COMMIT differ from the serial run")
      overlaysAgree(s, name)
      // a second buffered fold rebuilds the delta from the buffer and
      // keeps every committed stamp
      if (nodeSide) s.cypher("UNWIND [50] AS x MERGE (a:dl {k: x}) ON CREATE SET a.v = 0")
      else s.cypher(relMerge, Map("b" -> Seq(Map("s" -> 4L, "d" -> 5L))))
      val after = buffer(s).getOrElse(fail(s"$name: the second fold dropped the write buffer"))
      assert(stamped(after), s"$name: the second fold left unstamped rows")
      committed.foreach { case (k, m) =>
        assert(after.get(k).flatMap(_.get(CdcSeqCol)) == m.get(CdcSeqCol),
          s"$name: the second fold lost the stamp of row $k")
      }
      overlaysAgree(s, s"$name, second fold")
    }
    // a base row with a null key is never replaced, on either plan
    val kv = StructType(Seq(StructField("id", LongType), StructField("p", StringType)))
    def frame(rs: Row*): DataFrame = spark.createDataFrame(java.util.Arrays.asList(rs: _*), kv)
    val nb = frame(Row(null, "n"), Row(1L, "a"), Row(2L, "b"))
    val nd = frame(Row(1L, "a2"), Row(null, "x"), Row(3L, "c"))
    val byLiteral = PropertyGraph.overlayById(nb, nd)
    assert(joins(byLiteral) == 0)
    assert(sorted(byLiteral) == Seq("[1,a2]", "[2,b]", "[3,c]", "[null,n]", "[null,x]"))
    assert(sorted(PropertyGraph.overlayById(nb, nd.localCheckpoint())) == sorted(byLiteral))
    // a buffer past MaxDriverRows rows stays a buffer and resolves by
    // the anti join
    val big = fresh()
    Seq(1000L, 7000L).foreach(lo => big.cypher(
      s"UNWIND range($lo, ${lo + 5499}) AS x MERGE (a:dl {k: x}) ON CREATE SET a.v = x"))
    assert(big.catalog.database("neo4j").validNodeDelta.flatMap(_.buf)
      .exists(_.rows.size > DeltaSide.MaxDriverRows), "the 11000-row burst left no write buffer")
    overlaysAgree(big, "a buffer past MaxDriverRows")
    assert(big.cypher("MATCH (n:dl) RETURN count(*) AS n, sum(n.v) AS v").collect().head.toString ==
      s"[11005,${150 + (1000L to 6499L).sum + (7000L to 12499L).sum}]")
    // an anchored database: a RANGE-routed read, the CDC feed and an
    // incremental save all read a buffered COMMIT's delta
    val dir = java.nio.file.Files.createTempDirectory("graft_dlbuf_").toString
    val s0 = fresh()
    s0.cypher("CREATE INDEX dl_v FOR (n:dl) ON (n.v)")
    s0.saveDatabase(dir)
    val a = new GraftSession(spark)
    a.loadDatabase(dir)
    def cursor(): String = a.cypher("CALL db.cdc.current() YIELD id RETURN id").collect().head.getString(0)
    def feed(c: String): Seq[String] = sorted(a.cypher(s"CALL db.cdc.query('$c') YIELD op, id RETURN op, id"))
    def stamps(): Map[Long, Any] = a.catalog.database("neo4j").validNodeDelta.flatMap(_.buf)
      .map(_.rows.map { case (k, m) => k -> m(CdcSeqCol) }.toMap).getOrElse(Map.empty)
    val c0 = cursor()
    a.cypher("BEGIN")
    a.cypher("UNWIND [1, 9] AS x MERGE (a:dl {k: x}) ON MATCH SET a.v = a.v + 1 ON CREATE SET a.v = 0")
    a.cypher("COMMIT")
    val stale = a.cypher("MATCH (n:dl {v: 10}) RETURN n.k AS k")
    assert(stale.queryExecution.executedPlan.toString.contains("index_aux"),
      "the read does not route through the RANGE projection")
    assert(stale.collect().isEmpty, "a RANGE-routed read returned the base row the COMMIT replaced")
    assert(a.cypher("MATCH (n:dl {v: 11}) RETURN n.k AS k").collect().map(_.getLong(0)).toSeq == Seq(1L))
    overlaysAgree(a, "anchored")
    val committed = stamps()
    assert(committed.size == 2 && committed.values.toSet.size == 1)
    val e0 = feed(c0)
    assert(e0.map(_.take(2)) == Seq("[c", "[u") && e0.distinct == e0,
      s"the COMMIT's rows did not reach the feed once each: $e0")
    val c1 = cursor()
    assert(feed(c1).isEmpty, "a cursor minted after the COMMIT replays it")
    a.cypher("UNWIND [50] AS x MERGE (a:dl {k: x}) ON CREATE SET a.v = 0")
    assert(committed.forall { case (k, sq) => stamps().get(k).contains(sq) },
      "a later buffered fold restamped the committed rows")
    assert(feed(c1).length == 1 && feed(c0).length == 3)
    a.saveDatabase(dir)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/databases/neo4j/nodes_delta")),
      "the save after a buffered COMMIT was not incremental")
    val reloaded = new GraftSession(spark)
    reloaded.loadDatabase(dir)
    assert(dump(reloaded) == dump(a), "the reloaded incremental save differs from the live graph")
    graft.core.SnapshotStore.deleteDir(dir)
  }

  test("SET-value path agreement: a buffered write and the general path read the same value") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.util.Try
    // no delta, so the buffered paths run: (:pa {k: 1, c: 5}),
    // (:pa {k: 2, c: 6}) and one R edge 1→2 with c = 7
    def fresh(): GraftSession = {
      val s = new GraftSession(spark)
      graft.procs.Packs.install(s, Seq("apoc"))
      val nodes = spark.createDataFrame(java.util.Arrays.asList(
        Row(1L, Seq("pa"), 1L, 5L), Row(2L, Seq("pa"), 2L, 6L)), StructType(Seq(
          StructField("id", LongType, nullable = false),
          StructField("labels", ArrayType(StringType), nullable = false),
          StructField("k", LongType), StructField("c", LongType))))
      val edges = spark.createDataFrame(java.util.Arrays.asList(Row(1L, 2L, "R", 100L, 7L)),
        StructType(graft.core.PropertyGraph.edgeBaseSchema.fields :+ StructField("c", LongType)))
      s.setGraph(graft.core.PropertyGraph(nodes, edges))
      s
    }
    // (name, node side?, buffered statements, general-path statements,
    // the read, the value it must give, whether the buffered run keeps
    // a write buffer)
    def node(value: String) = (true,
      Seq(s"UNWIND [1] AS x MERGE (n:pa {k: x}) ON MATCH SET n.v = $value"),
      Seq(s"MATCH (n:pa {k: 1}) SET n.v = $value"),
      "MATCH (n:pa {k: 1}) RETURN n.v AS v")
    def rel(value: String) = (false,
      Seq("UNWIND $rows AS row MATCH (a:pa {k: row.s}), (b:pa {k: row.d}) " +
        s"MERGE (a)-[r:R]->(b) ON MATCH SET r.v = $value"),
      Seq(s"MATCH (a:pa {k: 1}), (b:pa {k: 2}) MERGE (a)-[r:R]->(b) ON MATCH SET r.v = $value"),
      "MATCH (:pa {k: 1})-[r:R]->(:pa {k: 2}) RETURN r.v AS v")
    val apoc = (false,
      Seq("CALL apoc.merge.relationship(1, 'Q', {}, {v: 1}, 2, {}) YIELD src RETURN src",
        "CALL apoc.merge.relationship(1, 'Q', {}, {}, 2, {v: 2.5}) YIELD src RETURN src"),
      Seq("MATCH (a), (b) WHERE id(a) = 1 AND id(b) = 2 MERGE (a)-[r:Q]->(b) ON CREATE SET r.v = 1",
        "MATCH (a), (b) WHERE id(a) = 1 AND id(b) = 2 MERGE (a)-[r:Q]->(b) ON MATCH SET r.v = 2.5"),
      "MATCH (:pa {k: 1})-[r:Q]->(:pa {k: 2}) RETURN r.v AS v")
    val rows: Seq[(String, (Boolean, Seq[String], Seq[String], String), Any, Boolean)] = Seq(
      ("node string +", node("n.c + '-x'"), "5-x", true),
      ("rel string +", rel("r.c + '-x'"), "7-x", true),
      ("node integer /", node("n.c / 2"), 2.5, true),
      ("rel integer /", rel("r.c / 2"), 3.5, true),
      ("node ||", node("n.c || 'y'"), "5y", true),
      ("rel ||", rel("r.c || 'y'"), "7y", true),
      ("node null +", node("n.missing + 1"), null, true),
      ("rel list +", rel("[r.c] + [1]"), Seq(7L, 1L), false),
      // a float rendered as a string: Spark's own rendering, buffered
      ("node float string +", node("n.c * 0.5 + 'x'"), "2.5x", true),
      ("rel float string +", rel("r.c * 0.5 + 'x'"), "3.5x", true),
      // both paths raise Spark's ANSI error
      ("node overflow", node("n.c + 9223372036854775807"), null, false),
      ("rel zero divisor", rel("r.c % 0"), null, false),
      // the second write no longer fits the buffered LONG column
      ("apoc.merge.relationship retype", apoc, 2.5, false))
    rows.foreach { case (name, (nodeSide, buffered, general, read), want, keepsBuffer) =>
      def run(stmts: Seq[String]): (Boolean, Any, GraftSession) = {
        val s = fresh()
        val ok = Try(stmts.foreach(s.cypher(_, Map("rows" -> Seq(Map("s" -> 1L, "d" -> 2L))))
          .collect())).isSuccess
        val rs = s.cypher(read).collect()
        assert(rs.length == 1, s"$name: $read read ${rs.length} rows")
        (ok, rs.head.get(0) match {
          case xs: scala.collection.Seq[_] => xs.toSeq
          case v => v
        }, s)
      }
      val (bOk, bv, b) = run(buffered)
      val (gOk, gv, _) = run(general)
      assert(bOk == gOk, s"$name: the buffered path ${if (bOk) "wrote" else "raised"}, " +
        s"the general path ${if (gOk) "wrote" else "raised"}")
      assert(bv == gv, s"$name: buffered read $bv, general read $gv")
      assert(bv == want, s"$name: read $bv, want $want")
      val db = b.catalog.database("neo4j")
      val buf = if (nodeSide) db.validNodeDelta.flatMap(_.buf) else db.validEdgeDelta.flatMap(_.buf)
      assert(buf.isDefined == keepsBuffer,
        s"$name: the buffered run ${if (keepsBuffer) "left no" else "left a"} write buffer")
    }
  }

  test("UNWIND … MERGE refuses an ON CREATE value it cannot evaluate only for a created key") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.util.Try
    def fresh(): GraftSession = {
      val s = new GraftSession(spark)
      val nodes = spark.createDataFrame(java.util.Arrays.asList(Row(1L, Seq("pz"), 1L)),
        StructType(Seq(StructField("id", LongType, nullable = false),
          StructField("labels", ArrayType(StringType), nullable = false), StructField("k", LongType))))
      s.setGraph(graft.core.PropertyGraph(nodes, spark.createDataFrame(
        java.util.Collections.emptyList[Row](), graft.core.PropertyGraph.edgeBaseSchema)))
      s
    }
    def read(s: GraftSession, k: Long, p: String): Any =
      s.cypher(s"MATCH (n:pz {k: $k}) RETURN n.$p AS v").collect().map(_.get(0)).toSeq
    // k 1 exists, so ON CREATE (a zero divisor) never runs: through the
    // write buffer, and through the distributed path when ON MATCH
    // computes a value only Spark renders (a float as a string)
    val a = fresh()
    a.cypher("UNWIND [1] AS x MERGE (n:pz {k: x}) ON CREATE SET n.q = x / 0 ON MATCH SET n.seen = 1")
    assert(read(a, 1, "seen") == Seq(1L) && read(a, 1, "q") == Seq(null))
    assert(a.catalog.database("neo4j").validNodeDelta.flatMap(_.buf).isDefined)
    val b = fresh()
    b.cypher("UNWIND [1] AS x MERGE (n:pz {k: x}) ON CREATE SET n.q = x / 0 " +
      "ON MATCH SET n.t = 1.5 + 'a'")
    assert(read(b, 1, "t") == Seq("1.5a"))
    // a created key runs it: the statement refuses and creates nothing,
    // also when a distributed delta sends it down the distributed path
    for (batch <- Seq("[2]", "[1, 2]"); onMatch <- Seq("n.seen = 1", "n.t = 1.5 + 'a'");
         distributed <- Seq(false, true)) {
      val c = fresh()
      if (distributed) {
        c.cypher("MATCH (n:pz) SET n.z = n.k * 2").collect()
        assert(c.catalog.database("neo4j").validNodeDelta.exists(_.buf.isEmpty))
      }
      val r = Try(c.cypher(s"UNWIND $batch AS x MERGE (n:pz {k: x}) ON CREATE SET n.q = x / 0 " +
        s"ON MATCH SET $onMatch").collect())
      assert(r.failed.toOption.exists {
        // SparkArithmeticException is private to Spark: match its parts
        case e: ArithmeticException with org.apache.spark.SparkThrowable =>
          e.getClass.getSimpleName == "SparkArithmeticException" && e.getCondition == "DIVIDE_BY_ZERO"
        case _ => false
      }, s"$batch / $onMatch / distributed $distributed: $r")
      assert(read(c, 2, "k") == Nil && read(c, 1, "k") == Seq(1L))
    }
    // and a distributed run whose keys all exist writes ON MATCH
    val d = fresh()
    d.cypher("MATCH (n:pz) SET n.z = n.k * 2").collect()
    d.cypher("UNWIND [1] AS x MERGE (n:pz {k: x}) ON CREATE SET n.q = x / 0 ON MATCH SET n.seen = 1")
    assert(read(d, 1, "seen") == Seq(1L) && read(d, 1, "z") == Seq(2L))
  }

  test("UNWIND … MERGE ON CREATE reads a batch row's list elements by their own types") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // a parameter row may mix element types: each constant subscript
    // binds as its own column, typed by its own values
    val s = new GraftSession(spark)
    s.cypher("UNWIND $rows AS row MERGE (n:mixrow {k: row[0]}) " +
      "ON CREATE SET n.name = row[1], n.next = row[0] + 1",
      Map("rows" -> Seq(Seq(1L, "a"), Seq(2L, "b"))))
    assert(s.cypher("MATCH (n:mixrow) RETURN n.k AS k, n.name AS name, n.next AS next ORDER BY k")
      .collect().map(_.toString).toSeq == Seq("[1,a,2]", "[2,b,3]"))
    // ON MATCH reads them the same way through the write buffer and,
    // after a distributed delta, through the distributed join
    for (distributed <- Seq(false, true)) {
      val d = new GraftSession(spark)
      d.setGraph(graft.core.PropertyGraph(spark.createDataFrame(
        java.util.Arrays.asList(Row(1L, Seq("pz"), 1L)),
        StructType(Seq(StructField("id", LongType, nullable = false),
          StructField("labels", ArrayType(StringType), nullable = false), StructField("k", LongType)))),
        spark.createDataFrame(java.util.Collections.emptyList[Row](),
          graft.core.PropertyGraph.edgeBaseSchema)))
      if (distributed) d.cypher("MATCH (n:pz) SET n.z = n.k * 2").collect()
      assert(d.catalog.database("neo4j").validNodeDelta.exists(_.buf.isEmpty) == distributed)
      d.cypher("UNWIND $rows AS row MERGE (n:pz {k: row[0]}) " +
        "ON MATCH SET n.name = row[1], n.nx = row[0] + 1", Map("rows" -> Seq(Seq(1L, "a"))))
      assert(d.cypher("MATCH (n:pz) RETURN n.name AS name, n.nx AS nx")
        .collect().map(_.toString).toSeq == Seq("[a,2]"), s"distributed $distributed")
      // a non-constant subscript reads the whole row, which has no one
      // element type: a clear refusal, not a ClassCastException
      val err = intercept[UnsupportedOperationException](d.cypher(
        "UNWIND $rows AS row MERGE (n:pz {k: row[0]}) ON MATCH SET n.last = row[size(row) - 1]",
        Map("rows" -> Seq(Seq(1L, "a")))).collect())
      assert(err.getMessage.contains("mixes value types"), err.getMessage)
    }
  }

  test("UNWIND … MERGE reads a batch field that mixes integers and floats as floats") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // drivers send integer and float values in one parameter batch: the
    // field widens to float, as Spark's numeric coercion does
    val rows = Seq(Map("id" -> 1L, "price" -> 10L), Map("id" -> 2L, "price" -> 2.5),
      Map("id" -> 3L, "price" -> 4L), Map("id" -> 4L, "price" -> 0.5))
    for (distributed <- Seq(false, true)) {
      val d = new GraftSession(spark)
      d.setGraph(graft.core.PropertyGraph(spark.createDataFrame(
        java.util.Arrays.asList(Row(1L, Seq("mp"), 1L, 1.5), Row(2L, Seq("mp"), 2L, 3.5)),
        StructType(Seq(StructField("id", LongType, nullable = false),
          StructField("labels", ArrayType(StringType), nullable = false),
          StructField("k", LongType), StructField("price", DoubleType)))),
        spark.createDataFrame(java.util.Collections.emptyList[Row](),
          graft.core.PropertyGraph.edgeBaseSchema)))
      if (distributed) d.cypher("MATCH (n:mp) SET n.z = n.k * 2").collect()
      def delta = d.catalog.database("neo4j").validNodeDelta
      assert(delta.exists(_.buf.isEmpty) == distributed)
      d.cypher("UNWIND $rows AS r MERGE (p:mp {k: r.id}) " +
        "ON CREATE SET p.price = r.price, p.w = r.price * 2 " +
        "ON MATCH SET p.price = r.price, p.up = r.price * 2", Map("rows" -> rows)).collect()
      assert(delta.exists(_.buf.isDefined) == !distributed, s"distributed $distributed")
      assert(d.cypher("MATCH (p:mp) RETURN p.k AS k, p.price AS price, p.up AS up, p.w AS w " +
        "ORDER BY k").collect().map(_.toString).toSeq ==
        Seq("[1,10.0,20.0,null]", "[2,2.5,5.0,null]", "[3,4.0,null,8.0]", "[4,0.5,null,1.0]"),
        s"distributed $distributed")
    }
  }

  test("driver SET-value evaluator agrees with setValueColumn on generated values and operators") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import org.scalacheck.{Gen, rng}
    import graft.cypher.ast
    import scala.util.{Failure, Success, Try}
    // one node whose columns hold typed operands (`n.<col>` reads them
    // with their column type, nulls included), beside literal operands
    val cols: Seq[(String, DataType, Any)] = Seq(
      ("z", LongType, 0L), ("seven", LongType, 7L), ("neg", LongType, -3L),
      ("big", LongType, Long.MaxValue - 2), ("small", LongType, Long.MinValue + 2),
      ("half", DoubleType, 2.5), ("dz", DoubleType, 0.0), ("str", StringType, "ab"),
      ("flag", BooleanType, true), ("ln", LongType, null), ("sn", StringType, null),
      ("dn", DoubleType, null), ("xs", ArrayType(LongType), Seq(1L, 2L)),
      ("ss", ArrayType(StringType), Seq("p", null)), ("xn", ArrayType(LongType), null))
    def fresh(): GraftSession = {
      val s = new GraftSession(spark)
      s.setGraph(graft.core.PropertyGraph(spark.createDataFrame(
        java.util.Arrays.asList(Row.fromSeq(Seq(1L, Seq("gen"), 1L) ++ cols.map(_._3))),
        StructType(Seq(StructField("id", LongType, nullable = false),
          StructField("labels", ArrayType(StringType), nullable = false),
          StructField("k", LongType)) ++ cols.map(c => StructField(c._1, c._2)))),
        spark.createDataFrame(java.util.Collections.emptyList[Row](),
          graft.core.PropertyGraph.edgeBaseSchema)))
      s
    }
    val ops = Seq("+", "-", "*", "/", "%", "||")
    val leaf: Gen[ast.Expr] = Gen.frequency(
      6 -> Gen.oneOf(0L, 1L, 2L, 7L, -3L, Long.MaxValue - 2, Long.MinValue + 2).map(ast.Lit(_)),
      3 -> Gen.oneOf(2.5, -0.5, 0.0).map(ast.Lit(_)),
      2 -> Gen.oneOf("ab", "").map(ast.Lit(_)),
      1 -> Gen.const(ast.Lit(true)),
      1 -> Gen.const(ast.Lit(null)),
      2 -> Gen.oneOf(Seq(Seq(1L, 2L), Seq("p", null), Seq(1L, 2.5)))
        .map(xs => ast.ListLit(xs.map(ast.Lit(_)))),
      8 -> Gen.oneOf(cols).map(c => ast.Prop("n", c._1)))
    // an operator at the top, its operands leaves or operators again
    def expr(depth: Int): Gen[ast.Expr] = for {
      op <- Gen.oneOf(ops)
      l  <- if (depth == 1) leaf else Gen.frequency(1 -> leaf, 1 -> expr(depth - 1))
      r  <- if (depth == 1) leaf else Gen.frequency(1 -> leaf, 1 -> expr(depth - 1))
    } yield ast.Arith(op, l, r)
    def text(e: ast.Expr): String = e match {
      case ast.Lit(null)        => "null"
      case ast.Lit(x: String)   => s"'$x'"
      case ast.Lit(x)           => x.toString
      case ast.ListLit(xs)      => xs.map(text).mkString("[", ", ", "]")
      case ast.Prop(v, k)       => s"$v.$k"
      case ast.Arith(op, l, r)  => s"(${text(l)} $op ${text(r)})"
      case other                => fail(s"no text for $other")
    }
    def same(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Double, y: Double)                       => java.lang.Double.compare(x, y) == 0
      case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
        x.size == y.size && x.zip(y).forall { case (p, q) => same(p, q) }
      case _                                            => a == b
    }
    // the Spark error condition a failed statement raised
    def condition(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collectFirst {
        case e: org.apache.spark.SparkThrowable if e.getCondition != null => e.getCondition
      }.getOrElse(fail(s"no Spark error condition in $t", t))
    val exprs = Gen.listOfN(800, expr(2)).apply(Gen.Parameters.default, rng.Seed(10L)).get
    def set(ix: Seq[Int]) = ix.map(i => s"n.v_$i = ${text(exprs(i))}").mkString(", ")
    def write(s: GraftSession, viaBuffer: Boolean, ix: Seq[Int]): Try[Unit] = Try(s.cypher(
      if (viaBuffer) s"UNWIND [1] AS x MERGE (n:gen {k: x}) ON MATCH SET ${set(ix)}"
      else s"MATCH (n:gen {k: 1}) SET ${set(ix)}").collect()).map(_ => ())
    def read(s: GraftSession, ix: Seq[Int]): Seq[(Any, DataType)] = {
      val df = s.cypher("MATCH (n:gen {k: 1}) RETURN " + ix.map(i => s"n.v_$i AS v_$i").mkString(", "))
      val row = df.collect().head
      ix.indices.map(j => (row.get(j) match {
        case xs: scala.collection.Seq[_] => xs.toSeq
        case v => v
      }, df.schema(j).dataType))
    }
    // Spark's own evaluation of each expression over the fixture row
    // sorts them: the ones that raise, and the rest with their value.
    // The sort on a constant makes Spark fold constant parts before it
    // evaluates the row, as in a distributed plan (a one-row
    // LocalRelation is otherwise evaluated first); it is then dropped
    val row = fresh().catalog.database("neo4j").graph.nodes.orderBy(org.apache.spark.sql.functions.lit(true))
    val want: Map[Int, Either[String, (Any, DataType)]] = exprs.indices.map { i =>
      i -> Try(row.select(new GraftSession(spark).setValueColumn(row, "n", isRel = false, exprs(i))))
        .flatMap(df => Try((df.collect().head.get(0) match {
          case xs: scala.collection.Seq[_] => xs.toSeq
          case v => v
        }, df.schema.head.dataType))).toEither.left.map(condition)
    }.toMap
    val (raising, valued) = exprs.indices.partition(want(_).isLeft)
    val (lists, scalars) = valued.partition(i => want(i).exists(_._2.isInstanceOf[ArrayType]))
    val nonNull = collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    def agree(s: GraftSession, ix: Seq[Int], path: String): Unit =
      ix.zip(read(s, ix)).foreach { case (i, (v, t)) =>
        val (wv, wt) = want(i).toOption.get
        assert(same(v, wv), s"${text(exprs(i))}: $path read $v, Spark computes $wv")
        if (v != null) {
          assert(t.catalogString == wt.catalogString, s"${text(exprs(i))}: $path type $t, Spark's $wt")
          if (path == "buffered") nonNull(exprs(i).asInstanceOf[ast.Arith].op) += 1
        }
      }
    def holdsBuffer(s: GraftSession) =
      s.catalog.database("neo4j").validNodeDelta.flatMap(_.buf).isDefined
    // scalar values, many SET items per statement: through the write
    // buffer, which the session still holds after each write, and
    // through the general path. `MATCH … SET` folds each item on its
    // own, so the general path here is the distributed ON MATCH of the
    // same statement, which projects every item in one fold
    val buffered = fresh()
    scalars.grouped(50).foreach { ix =>
      val w = write(buffered, viaBuffer = true, ix)
      assert(w.isSuccess && holdsBuffer(buffered), s"buffered write of ${ix.map(i => text(exprs(i)))}: $w")
      agree(buffered, ix, "buffered")
      val general = fresh()
      general.cypher("MATCH (n:gen) SET n.d = n.k * 2").collect()
      val gw = write(general, viaBuffer = true, ix)
      assert(gw.isSuccess && !holdsBuffer(general), s"general write: $gw")
      agree(general, ix, "general")
    }
    // list values fit no buffered column: the write takes the general path
    if (lists.nonEmpty) {
      val listed = fresh()
      assert(write(listed, viaBuffer = true, lists).isSuccess && !holdsBuffer(listed))
      agree(listed, lists, "general")
    }
    // an expression Spark raises on raises on both paths, one statement
    // each, with Spark's condition; a raise writes nothing, so the
    // buffered session keeps its write buffer
    val general = fresh()
    raising.foreach { i =>
      Seq(buffered -> true, general -> false).foreach { case (s, viaBuffer) =>
        write(s, viaBuffer, Seq(i)) match {
          case Success(_) => fail(s"${text(exprs(i))}: Spark raises ${want(i)}, the write succeeded")
          case Failure(t) => assert(Left(condition(t)) == want(i),
            s"${text(exprs(i))}: ${if (viaBuffer) "buffered" else "general"} path raised " +
              s"${condition(t)}, Spark raises ${want(i)}")
        }
      }
      assert(holdsBuffer(buffered), s"${text(exprs(i))}: a raising write dropped the write buffer")
    }
    // the check is not vacuous: every operator yields values, and some
    // expressions raise
    assert(ops.forall(nonNull(_) >= 10) && raising.nonEmpty,
      s"${raising.size} of ${exprs.size} raised, non-null per operator: $nonNull")
  }

  test("edge buffer under transactions: ROLLBACK discards buffered merges, COMMIT publishes them") {
    val s = new GraftSession(spark)
    (1 to 2).foreach(k => s.cypher(s"CREATE (a:ebt {k: $k})"))
    assert(s.cypher("MATCH (a:ebt) RETURN count(a) AS n").collect().head.getLong(0) == 2L)
    val merge =
      """UNWIND $b AS row
        |MATCH (a:ebt {k: row.s}), (c:ebt {k: row.d})
        |MERGE (a)-[x:TB]->(c) ON CREATE SET x.c = 1 ON MATCH SET x.c = x.c + 1""".stripMargin
    // rolled-back buffered merge leaves nothing
    s.cypher("BEGIN")
    s.cypher(merge, Map("b" -> Seq(Map("s" -> 1L, "d" -> 2L))))
    assert(s.cypher("MATCH (:ebt)-[x:TB]->(:ebt) RETURN count(x) AS n")
      .collect().head.getLong(0) == 1L) // read-your-writes inside the tx
    s.cypher("ROLLBACK")
    assert(s.cypher("MATCH (:ebt)-[x:TB]->(:ebt) RETURN count(x) AS n")
      .collect().head.getLong(0) == 0L)
    // committed buffered merge publishes, and a post-commit merge
    // re-matches it through the published overlay
    s.cypher("BEGIN")
    s.cypher(merge, Map("b" -> Seq(Map("s" -> 1L, "d" -> 2L))))
    s.cypher("COMMIT")
    s.cypher(merge, Map("b" -> Seq(Map("s" -> 1L, "d" -> 2L))))
    assert(s.cypher("MATCH (:ebt)-[x:TB]->(:ebt) RETURN sum(x.c) AS n")
      .collect().head.getLong(0) == 2L)
  }

  test("buffered edge upsert: an unbindable EXTRA matched variable drops the row (MATCH inner-join semantics)") {
    val s = new GraftSession(spark)
    (1 to 2).foreach(k => s.cypher(s"CREATE (a:xv {k: $k})"))
    s.cypher("CREATE (g:gate {name: 'open'})")
    // row 1 binds all three vars; row 2's gate name matches nothing →
    // the whole row drops even though (a, c) both bind
    s.cypher(
      """UNWIND $b AS row
        |MATCH (a:xv {k: row.s}), (c:xv {k: row.d}), (g:gate {name: row.g})
        |MERGE (a)-[x:XV]->(c) ON CREATE SET x.c = 1""".stripMargin,
      Map("b" -> Seq(
        Map("s" -> 1L, "d" -> 2L, "g" -> "open"),
        Map("s" -> 2L, "d" -> 1L, "g" -> "closed"))))
    val got = s.cypher(
      "MATCH (a:xv)-[x:XV]->(c:xv) RETURN a.k AS ak, c.k AS ck")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 2L)), s"row with unbound gate must drop: $got")
  }

  test("edge upsert model check: random batched merges match an in-memory model across buffered/distributed paths") {
    // Model-based invariant for the relationship MERGE machinery: a
    // driver-side model applies the documented semantics (whole-
    // pattern existence, per-statement pair dedupe, ON CREATE on
    // misses, ON MATCH on every pre-existing edge of a hit pair) and
    // the engine must agree after every few statements. The op mix
    // forces BOTH commit paths — prop-free batches ride the driver
    // buffer, prop-bearing merges the distributed delta — plus
    // interleaved node writes that invalidate the bind cache, so the
    // paths must compose on one overlay.
    val s = new GraftSession(spark)
    (1 to 6).foreach(k => s.cypher(s"CREATE (a:mbu {k: $k})"))
    // model: (src, dst, relType) -> list of c-values (one per parallel edge)
    val model = collection.mutable.Map.empty[(Long, Long, String), List[Option[Long]]]
    val rnd = new scala.util.Random(4242)
    def applyModel(pairs: Seq[(Long, Long)], t: String, onC: Boolean, onM: Boolean): Unit =
      pairs.distinct.foreach { case (a, b) =>
        val key = (a, b, t)
        model.get(key) match {
          case Some(cs) if cs.nonEmpty =>
            // SQL null propagation: `SET x.c = x.c + 1` on an edge
            // whose c is absent stays null (openCypher)
            if (onM) model(key) = cs.map(c => c.map(_ + 1L))
          case _ =>
            model(key) = model.getOrElse(key, Nil) :+ (if (onC) Some(1L) else None)
        }
      }
    def check(tag: String): Unit = {
      val got = s.cypher(
        """MATCH (a:mbu)-[r]->(b:mbu)
          |RETURN a.k AS ak, b.k AS bk, type(r) AS t, r.c AS c""".stripMargin)
        .collect()
        .map(r => ((r.getLong(0), r.getLong(1), r.getString(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))
        .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_.getOrElse(-1L)).toList).toMap
      val want = model.filter(_._2.nonEmpty).view
        .mapValues(_.sortBy(_.getOrElse(-1L))).toMap
      assert(got == want, s"[$tag]\n got=$got\nwant=$want")
    }
    (1 to 24).foreach { step =>
      val t = if (rnd.nextBoolean()) "MA" else "MB"
      val n = 1 + rnd.nextInt(4)
      val pairs = Seq.fill(n) {
        val a = 1L + rnd.nextInt(6); var b = 1L + rnd.nextInt(6)
        while (b == a) b = 1L + rnd.nextInt(6)
        (a, b)
      }
      val (onC, onM) = (rnd.nextBoolean(), rnd.nextBoolean())
      val handlers = (if (onC) " ON CREATE SET x.c = 1" else "") +
        (if (onM) " ON MATCH SET x.c = x.c + 1" else "")
      rnd.nextInt(4) match {
        case 0 =>
          // DISTRIBUTED shape: an undirected hop bails out of the
          // driver buffer. Pairs are canonicalized (a < b) so the
          // either-orientation existence check reduces to the directed
          // model on one stored orientation; reserved type per case.
          val cpairs = pairs.map(p => if (p._1 < p._2) p else p.swap)
          val batch = cpairs.map { case (a, b) => Map("s" -> a, "d" -> b) }
          s.cypher(
            s"""UNWIND $$b AS row
               |MATCH (a:mbu {k: row.s}), (c:mbu {k: row.d})
               |MERGE (a)-[x:${t}U]-(c)$handlers""".stripMargin,
            Map("b" -> batch))
          applyModel(cpairs, s"${t}U", onC, onM)
        case 1 =>
          // buffered WITH literal pattern props: the prop joins the
          // merge identity (reserved type keeps the model one-key)
          val batch = pairs.map { case (a, b) => Map("s" -> a, "d" -> b) }
          s.cypher(
            s"""UNWIND $$b AS row
               |MATCH (a:mbu {k: row.s}), (c:mbu {k: row.d})
               |MERGE (a)-[x:${t}P {w: 7}]->(c)$handlers""".stripMargin,
            Map("b" -> batch))
          applyModel(pairs, s"${t}P", onC, onM)
        case _ =>
          val batch = pairs.map { case (a, b) => Map("s" -> a, "d" -> b) }
          s.cypher(
            s"""UNWIND $$b AS row
               |MATCH (a:mbu {k: row.s}), (c:mbu {k: row.d})
               |MERGE (a)-[x:$t]->(c)$handlers""".stripMargin,
            Map("b" -> batch))
          applyModel(pairs, t, onC, onM)
      }
      if (step % 6 == 0) {
        // interleaved node write: moves the node frame, invalidating
        // the endpoint bind cache mid-burst
        s.cypher(s"UNWIND [${rnd.nextInt(6) + 1}] AS x MERGE (a:mbu {k: x}) ON MATCH SET a.touched = $step")
        check(s"step $step")
      }
    }
    check("final")
  }

  test("delta tombstones: DELETE folds into the overlay, hides rows, and a re-MERGE resurrects fresh") {
    val s = new GraftSession(spark)
    (1 to 3).foreach(k => s.cypher(s"CREATE (a:tdel {k: $k})"))
    assert(s.cypher("MATCH (a:tdel) RETURN count(a) AS n").collect().head.getLong(0) == 3L)
    val db = s.catalog.database("neo4j")
    s.cypher(
      """MATCH (a:tdel {k: 1}), (b:tdel {k: 2})
        |MERGE (a)-[x:TD]->(b) ON CREATE SET x.c = 1""".stripMargin)
    val oldEid = s.graph().edges.filter("relType = 'TD'")
      .select("eid").collect().head.getLong(0)
    val nodeBase = db.validNodeDelta.map(_.base)
    // DELETE the relationship: edge overlay live, base untouched,
    // read-your-writes hides it
    s.cypher("MATCH (:tdel)-[x:TD]->(:tdel) DELETE x")
    assert(db.validEdgeDelta.isDefined, "relationship DELETE must fold as a tombstone")
    assert(s.cypher("MATCH (:tdel)-[x:TD]->(:tdel) RETURN count(x) AS n")
      .collect().head.getLong(0) == 0L)
    // re-MERGE resurrects as a FRESH relationship (new eid, no stale props)
    s.cypher(
      """MATCH (a:tdel {k: 1}), (b:tdel {k: 2})
        |MERGE (a)-[x:TD]->(b) ON CREATE SET x.c = 7""".stripMargin)
    val rows = s.graph().edges.filter("relType = 'TD'")
      .select("eid", "c").collect()
    assert(rows.length == 1 && rows.head.getLong(1) == 7L)
    assert(rows.head.getLong(0) != oldEid, "resurrected relationship must mint a fresh eid")
    // DETACH DELETE a node: node tombstone + incident-edge tombstones,
    // node base still never rewritten across the whole sequence
    s.cypher("MATCH (a:tdel {k: 1}) DETACH DELETE a")
    assert(s.cypher("MATCH (a:tdel) RETURN count(a) AS n").collect().head.getLong(0) == 2L)
    assert(s.cypher("MATCH (:tdel)-[x]->(:tdel) RETURN count(x) AS n")
      .collect().head.getLong(0) == 0L)
    nodeBase.foreach(b => assert(db.validNodeDelta.exists(_.base eq b),
      "tombstone deletes must extend the overlay, not rewrite the node base"))
    // plain (non-DETACH) DELETE still refuses while relationships remain
    s.cypher("MATCH (a:tdel {k: 2}), (b:tdel {k: 3}) MERGE (a)-[:TD2]->(b)")
    val e = intercept[IllegalStateException](s.cypher("MATCH (a:tdel {k: 2}) DELETE a"))
    assert(e.getMessage.contains("DETACH"))
  }

  test("setGraph seeds the id allocator past the view: upsert-created nodes never shadow view nodes") {
    val s = new GraftSession(spark)
    // a tiny hand-built view whose node ids deliberately start at 0
    import org.apache.spark.sql.functions.{array, col, lit}
    val nodes = spark.range(0, 5).select(col("id"),
      array(lit("v")).as("labels"), (col("id") * 100).as("k"))
    val edges = spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      graft.core.PropertyGraph.edgeBaseSchema)
    s.setGraph(graft.core.PropertyGraph(nodes, edges))
    // MERGE-create two unseen keys: their ids must mint PAST the view
    s.cypher("UNWIND [777, 888] AS x MERGE (n:v {k: x}) ON CREATE SET n.fresh = 1")
    val all = s.cypher("MATCH (n:v) RETURN id(n) AS i, n.k AS k ORDER BY i").collect()
    assert(all.length == 7, s"created rows must not replace view rows: ${all.toSeq}")
    val created = all.filter(r => r.getLong(1) == 777L || r.getLong(1) == 888L)
    assert(created.forall(_.getLong(0) >= 5L),
      s"created ids collide with view ids: ${created.toSeq}")
  }

  test("setGraph seeds the relationship-id allocator past the frame's eids") {
    val s = new GraftSession(spark)
    import org.apache.spark.sql.functions.{array, col, lit}
    val nodes = spark.range(1, 4).select(col("id"), array(lit("p")).as("labels"), col("id").as("k"))
    val edges = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(1L, 2L, "R", 0L)), graft.core.PropertyGraph.edgeBaseSchema)
    s.setGraph(graft.core.PropertyGraph(nodes, edges))
    s.cypher("MATCH (a:p {k: 2}), (b:p {k: 3}) CREATE (a)-[:R]->(b)")
    val got = s.cypher("MATCH (a:p)-[r:R]->(b:p) RETURN a.k AS a, b.k AS b, id(r) AS i")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.map(t => (t._1, t._2)).toSeq == Seq((1L, 2L), (2L, 3L)),
      s"a created edge replaced a setGraph edge: ${got.toSeq}")
    assert(got.map(_._3).distinct.length == 2, s"edge ids collide: ${got.toSeq}")
  }

  test("a retyping SET widens to STRING both ways, non-numeric strings included") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (:rt {k: 1, t: 10, s: 'abc'})-[:RT {w: 3}]->(:rt {k: 2, t: 20, s: 'xyz'})")
    // LONG column SET to a non-numeric string, node and relationship
    s.cypher("MATCH (n:rt {k: 1}) SET n.t = 'one'")
    s.cypher("MATCH (:rt)-[r:RT]->(:rt) SET r.w = 'heavy'")
    // STRING column of non-numeric strings SET to a number
    s.cypher("MATCH (n:rt {k: 2}) SET n.s = 5")
    val got = s.cypher("MATCH (n:rt) RETURN n.k AS k, n.t AS t, n.s AS s ORDER BY k")
      .collect().map(r => (r.getLong(0), r.get(1), r.get(2))).toSeq
    assert(got == Seq((1L, "one", "abc"), (2L, "20", "5")), got.toString)
    assert(s.cypher("MATCH (:rt)-[r:RT]->(:rt) RETURN r.w AS w").collect().head.get(0) == "heavy")
  }

  test("RETURN p renders the path value; count(r)/DISTINCT r use relationship identity") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (a:pw {name:'a'})-[:T {tag:1}]->(b:pw {name:'b'})")
    s.cypher("MATCH (a:pw {name:'a'}), (b:pw {name:'b'}) CREATE (a)-[:T {tag:2}]->(b)")
    // RETURN p: struct of (nodes, length, relationships)
    val r = s.cypher("MATCH p = (a:pw {name:'a'})-[:T {tag:1}]->(b:pw) RETURN p")
      .collect().head.getStruct(0)
    assert(r.getLong(1) == 1L)
    assert(r.getSeq[Long](0).size == 2)
    // two parallel edges are DISTINCT relationship values (pre-eid the
    // row-wise stand-in was relType, which collapsed them)
    val n = s.cypher("MATCH (:pw)-[r:T]->(:pw) RETURN count(DISTINCT r) AS n")
      .collect().head.getLong(0)
    assert(n == 2L)
  }

  test("db.cdc.earliest replays the retained epoch delta; current stays at-now") {
    val s = new GraftSession(spark)
    val tmp = java.nio.file.Files.createTempDirectory("graft_cdc_er_").toString
    s.cypher("UNWIND range(1, 4) AS x CREATE (:er {k: x})")
    s.saveDatabase(tmp) // full write: seals the base, fresh epoch
    s.cypher("MATCH (n:er {k: 1}) SET n.flag = 1")
    s.cypher("MERGE (:er {k: 50})")
    s.saveDatabase(tmp) // incremental: flushes the delta, KEEPS the epoch
    // a consumer that lost its cursor restarts from earliest (the
    // route the epoch-mismatch error prescribes) and re-sees the
    // epoch's retained events — seq 0, NOT the live commit watermark
    // (ADVICE r15: earliest == current made the retained log
    // unreachable from any mintable cursor)
    val e = s.cypher("CALL db.cdc.earliest() YIELD id RETURN id")
      .collect().head.getString(0)
    val ev = s.cypher(s"CALL db.cdc.query('$e') YIELD op, id RETURN op, id")
      .collect()
    assert(ev.length == 2, s"expected the flushed update+create, got ${ev.toSeq}")
    // the epoch-start id watermarks classify the replayed create as c
    assert(ev.map(_.getString(0)).sorted.toSeq == Seq("c", "u"), s"got ${ev.toSeq}")
    // current is the advancing at-now cursor: nothing to deliver
    val c = s.cypher("CALL db.cdc.current() YIELD id RETURN id")
      .collect().head.getString(0)
    assert(s.cypher(s"CALL db.cdc.query('$c') YIELD op RETURN op")
      .collect().isEmpty)
    // new mutation: BOTH cursors see it; earliest still replays the rest
    s.cypher("MATCH (n:er {k: 2}) SET n.flag = 2")
    assert(s.cypher(s"CALL db.cdc.query('$c') YIELD op RETURN op")
      .collect().length == 1)
    assert(s.cypher(s"CALL db.cdc.query('$e') YIELD op RETURN op")
      .collect().length == 3)
    graft.core.SnapshotStore.deleteDir(tmp)
  }

  test("buffered SET skips OPTIONAL MATCH miss rows (null ids) instead of crashing") {
    val s = new GraftSession(spark)
    s.cypher("CREATE (:bsn {k: 1})")
    s.cypher("CREATE (:bsn {k: 2})-[:BSR]->(:bst {k: 3})")
    // k=1 has no outgoing BSR: its OPTIONAL MATCH row carries a null n.
    // The buffered literal-SET path must ignore the miss like the
    // general semi-join does (null never equals), not NPE on getLong
    // (ADVICE r15).
    s.cypher("MATCH (a:bsn) OPTIONAL MATCH (a)-[:BSR]->(n) SET n.p = 7")
    val hit = s.cypher("MATCH (n:bst) RETURN n.p AS p").collect()
    assert(hit.length == 1 && hit.head.getLong(0) == 7L)
    // no stray writes: the bsn nodes never gained the property
    assert(s.cypher("MATCH (n:bsn) WHERE n.p IS NOT NULL RETURN count(n) AS c")
      .collect().head.getLong(0) == 0L)
  }

  test("LOAD CSV metadata substitution skips string literals") {
    val dir = java.nio.file.Files.createTempDirectory("graft-loadcsv-lit").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/x.csv"),
      "alpha\nbeta\n")
    val s = new GraftSession(spark)
    // file()/linenumber()/row[ appearing INSIDE a quoted literal are
    // stored text, not substitution targets (ADVICE r15); the ones in
    // code position still substitute on the same statement
    s.cypher(s"LOAD CSV FROM 'file://$dir/x.csv' AS row " +
      "CREATE (:lcl {v: row[0], note: 'see file() and row[0]', " +
      "quoted: \"linenumber()\", ln: linenumber(), src: file()})")
    val back = s.cypher(
      "MATCH (n:lcl) RETURN n.v AS v, n.note AS note, n.quoted AS q, " +
        "n.ln AS ln, n.src AS src ORDER BY ln").collect()
    assert(back.map(_.getString(0)).toSeq == Seq("alpha", "beta"))
    assert(back.forall(_.getString(1) == "see file() and row[0]"))
    assert(back.forall(_.getString(2) == "linenumber()"))
    assert(back.map(_.getLong(3)).toSeq == Seq(1L, 2L))
    assert(back.forall(_.getString(4) == s"file://$dir/x.csv"))
    graft.core.SnapshotStore.deleteDir(dir)
  }

  test("an anchor frontier joined as literal keys answers as the general join") {
    // the probed anchor of a path's first hop joins as its rows' ids
    // (an edge-scan key set plus lookups of its columns); the general
    // path binds the same variable in an earlier clause and joins
    val s0 = new GraftSession(spark)
    val dir = java.nio.file.Files.createTempDirectory("glk_").toString
    s0.cypher("UNWIND $rows AS row CREATE (:LK {ck: row.ck, nm: row.nm, grp: row.grp})",
      Map("rows" -> (0 until 30).map(x => Map("ck" -> x.toLong, "nm" -> s"c$x", "grp" -> (x % 3).toLong))))
    s0.cypher("UNWIND range(0, 89) AS x CREATE (:LO {ok: x})")
    s0.cypher("UNWIND $rows AS row MATCH (c:LK {ck: row.c}), (o:LO {ok: row.o}) " +
      "MERGE (c)-[:T1]->(o)",
      Map("rows" -> (0 until 90).map(o => Map("c" -> (o / 3).toLong, "o" -> o.toLong))))
    s0.cypher("UNWIND $rows AS row MATCH (c:LK {ck: row.c}), (o:LO {ok: row.o}) " +
      "MERGE (o)-[:T2]->(c)",
      Map("rows" -> (0 until 30).map(c => Map("c" -> c.toLong, "o" -> ((3 * c + 4) % 90).toLong))))
    s0.cypher("CREATE INDEX lk_ck FOR (n:LK) ON (n.ck)")
    s0.saveDatabase(dir)
    val s = new GraftSession(spark)
    s.loadDatabase(dir)
    val shapes = Seq(
      "-[:T1]-(o:LO) RETURN o.ok AS ok",                            // undirected
      "-[:T1|T2]-(x) RETURN x.ok AS ok",                            // multi-type, undirected
      "<-[:T1|T2]-(x) RETURN x.ok AS ok",                           // multi-type, incoming
      "-[r:T1]->(o:LO) RETURN c, r.eid AS e, o.ok AS ok",           // the anchor whole
      "-[:T1]->(o:LO) RETURN c.nm AS nm, c.grp AS g, o.ok AS ok",   // anchor columns
      "-[:T1]->(o:LO)<-[:T1]-(d:LK) RETURN c.nm AS a, d.nm AS b",   // two hops
      "-[:T1]->(o:LO) RETURN o.ok AS ok ORDER BY ok DESC",          // top-k of the bound
      "-[:T1]->(o:LO) RETURN c.grp AS g, count(*) AS n ORDER BY g") // aggregate, sorted
    for (anchor <- Seq("ck: 7", "grp: 1", "ck: 99"); shape <- shapes) {
      val (k, v) = anchor.split(": ") match { case Array(a, b) => (a, b) }
      // wire mode returns a bare node variable as all its columns
      def run(q: String) = s.cypherWire(q, Map.empty, "neo4j", null)
      val lit = run(s"MATCH (c:LK {$anchor})$shape")
      val gen = run(s"MATCH (c:LK) WHERE c.$k = $v WITH c MATCH (c)$shape")
      val (a, b) = (lit.collect().toSeq, gen.collect().toSeq)
      if (shape.contains("ORDER BY")) assert(a == b, s"$anchor $shape")
      else assert(a.sortBy(_.toString) == b.sortBy(_.toString), s"$anchor $shape")
      if (anchor == "grp: 1") assert(a.nonEmpty, s"$anchor $shape")
      val plan = lit.queryExecution.executedPlan.toString
      assert(plan.contains("INSET") || plan.contains("LocalTableScan"),
        s"the anchor of $anchor $shape did not join as literal keys:\n$plan")
      if (shape.contains("RETURN c") && anchor != "ck: 99")
        assert(plan.contains("lookup("), s"no lookup of the anchor's columns:\n$plan")
    }
  }

  test("an anchor frontier past the driver-row bound joins unhinted, with the same answer") {
    val s = new GraftSession(spark)
    val n = graft.core.DeltaSide.MaxDriverRows + 50
    s.cypher(s"UNWIND range(0, ${n - 1}) AS x CREATE (:BF {g: 1, k: x})")
    s.cypher("UNWIND range(0, 3) AS x CREATE (:BT {t: x})")
    s.cypher("MATCH (a:BF), (t:BT {t: 3}) WHERE a.k % 1000 = 0 CREATE (a)-[:BR]->(t)")
    val lit = s.cypher("MATCH (a:BF {g: 1})-[:BR]->(t:BT) RETURN a.k AS k, t.t AS t ORDER BY k")
    val gen = s.cypher("MATCH (a:BF) WHERE a.g = 1 WITH a MATCH (a)-[:BR]->(t:BT) " +
      "RETURN a.k AS k, t.t AS t ORDER BY k")
    val plan = lit.queryExecution.executedPlan.toString
    assert(!plan.contains("INSET") && !plan.contains("lookup("),
      "a frontier past the bound joined as literal keys:\n" + plan)
    val expected = (0 to n - 1 by 1000).map(k => Seq(k.toLong, 3L))
    assert(lit.collect().map(_.toSeq).toSeq == expected)
    assert(gen.collect().map(_.toSeq).toSeq == expected)
  }

  test("consecutive distributed SETs on one node keep the fold's task count flat") {
    // each distributed fold unions the kept delta with the new rows;
    // sized from its rows, the fold does not double the next one
    val s = new GraftSession(spark)
    s.cypher("CREATE (:FW {k: 1, v: 0})")
    val tasks = (1 to 12).map { _ =>
      graft.core.StatementMetrics.measure(spark)(
        s.cypher("MATCH (n:FW) SET n.v = n.v + 1"))._2.tasks
    }
    assert(tasks.drop(2).forall(_ <= tasks(1)), s"fold tasks per statement: $tasks")
    assert(s.cypher("MATCH (n:FW) RETURN n.v AS v").collect().map(_.getLong(0)).toSeq == Seq(12L))
  }
}
