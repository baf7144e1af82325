package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core.StatementMetrics
import org.apache.spark.sql.functions.col

/** Physical-plan regression guards: the catalog's scale-critical plan
  * properties (no accidental cartesians, pruned scans, single-exchange
  * shapes) asserted at sf0.001 so a refactor can't silently reintroduce
  * a scan or join shape that dies at 100 TB.
  */
class PlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("band/range join and as-of join never plan a cartesian product") {
    Seq("events_range_join", "events_asof_join").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a BNL join")
    }
  }

  test("pattern predicate sub-queries bind ids from edges, not the node union") {
    // before the idsOnly optimization this plan scanned all six entity
    // tables for the unconstrained (c); now: customer + orders edges +
    // orders status filter
    val scans = plan("cy_pattern_or").linesIterator.count(_.contains("FileScan"))
    assert(scans <= 4, s"cy_pattern_or scans $scans files — node-union join crept back in")
  }

  test("selective filters reach the parquet scan (pushdown)") {
    val p = plan("proj_filter")
    assert(p.contains("PushedFilters: [") && !p.contains("PushedFilters: []"),
      "proj_filter pushes nothing down to parquet")
  }

  test("dedup self-joins are equi joins on block keys") {
    Seq("dedup_minhash_lsh", "dedup_embed_cosine", "dedup_editdist",
      "dedup_simhash_pairs", "ann_range").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a BNL join")
    }
  }

  test("bucketed join plans with zero Exchange (co-located buckets)") {
    val p = plan("join_bucketed")
    assert(p.contains("SortMergeJoin"), "bucketed join is not a sort-merge join")
    assert(!p.contains("Exchange"), "bucketed join shuffles — bucket pruning lost:\n" + p)
  }

  test("partitioned scan prunes by partition filter, not a post-read Filter") {
    val p = plan("scan_partition_prune")
    val scanLine = p.linesIterator.filter(_.contains("PartitionFilters")).mkString
    assert(scanLine.contains("o_orderstatus"),
      "partition filter did not reach the scan:\n" + p)
  }

  test("label propagation iterations stay keyed joins (no cartesian/BNL)") {
    val p = plan("gds_label_propagation")
    assert(!p.contains("CartesianProduct"), "LPA plans a cartesian")
    assert(!p.contains("BroadcastNestedLoopJoin"), "LPA plans a BNL join")
  }

  test("kNN-graph and dedup-cluster self-joins stay bucketed equi joins") {
    Seq("ann_knn_graph", "dedup_clusters").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a BNL join")
    }
  }

  test("substring dedup: gram match is an equi (semi) join, never all-pairs") {
    val p = plan("dedup_substring")
    assert(!p.contains("CartesianProduct"), "dedup_substring plans a cartesian")
    assert(!p.contains("BroadcastNestedLoopJoin"), "dedup_substring plans a BNL join")
  }

  test("betweenness and k-core stay keyed joins at every round") {
    Seq("gds_betweenness", "gds_kcore").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a BNL join")
    }
  }

  test("louvain / fastRP / random walks stay keyed joins at every round") {
    Seq("gds_louvain", "gds_fastrp", "gds_randomwalk").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a BNL join")
    }
  }

  test("modularity / conductance stay keyed joins over the community map") {
    Seq("gds_modularity", "gds_conductance").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a BNL join")
    }
  }

  test("label-expression scan is one predicate over the node table, not a union of scans") {
    val p = plan("cy_label_expr")
    assert(!p.contains("CartesianProduct"))
    // the :customer|supplier disjunction must not clone the node scan:
    // one array_contains-OR filter, so the union source appears once
    assert("array_contains".r.findAllIn(p).size <= 2,
      "label disjunction expanded into per-label scans")
  }

  test("q6 scan-agg: range + equality predicates reach the parquet scan") {
    val p = plan("q6_forecast_revenue")
    val scanLine = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(scanLine.contains("l_shipdate") && scanLine.contains("l_discount"),
      "q6 predicates did not push to the lineitem scan:\n" + p)
    // 4-column projection must prune the 11-column table at the scan
    val readLine = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readLine.contains("l_returnflag"),
      "q6 reads columns the query never touches:\n" + readLine)
  }

  test("q19 disjunctive OR-envelope pushes per side; join stays equi") {
    val p = plan("q19_disjunctive_pred")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "q19 lost its equi join")
    // the brand/size disjunction references only part columns, so its
    // OR envelope must land in the part scan's PushedFilters
    val partScan = p.linesIterator
      .filter(l => l.contains("PushedFilters") && l.contains("p_brand")).mkString
    assert(partScan.contains("Or("),
      "q19's OR envelope did not reach the part scan:\n" + p)
  }

  test("rank<=k window filters plan as WindowGroupLimit (bounded per-key state)") {
    // Spark 4 rewrites row_number()<=k into WindowGroupLimit — a
    // per-partition bounded heap instead of a full per-key sort. This
    // is why the repo has no custom top-k SparkPlan (SURVEY §7.3):
    // the built-in physical operator already is the optimization, and
    // this guard fails if a refactor breaks the pattern it matches.
    // ann_graph_embed eagerly materializes (checkpointed result, so
    // its cached embedding frame can release on return) — its returned
    // plan is a LogicalRDD; the LSH sibling shares the identical
    // rank<=k tail and carries the guard for that pipeline
    Seq("ann_topk", "ann_pq_adc", "ann_graph_embed_lsh").foreach { q =>
      val p = plan(q)
      assert(p.contains("WindowGroupLimit"),
        s"$q top-k lost the WindowGroupLimit rewrite:\n" + p)
    }
  }

  test("PQ-ADC encode and score are keyed joins over broadcast codebooks") {
    val p = plan("ann_pq_adc")
    assert(!p.contains("CartesianProduct"), "ann_pq_adc plans a cartesian")
    assert(!p.contains("BroadcastNestedLoopJoin"), "ann_pq_adc plans a BNL join")
    assert(p.contains("BroadcastHashJoin"), "PQ codebook/LUT side is not broadcast")
  }

  test("attribution / lm-score / interleave stay keyed (no cartesian, no global window)") {
    Seq("events_attribution", "text_lm_score").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a BNL join")
    }
    // interleave's corpus-sized window MUST be partitioned by source;
    // only the |sources|-row dim table may see a single-partition sort
    val p = plan("pipeline_interleave")
    val corpusWindows = p.linesIterator.filter(l =>
      l.trim.startsWith("Window") && l.contains("doc_id") &&
        !l.contains("partitionBy")).toSeq
    assert(!p.contains("CartesianProduct"))
    assert(corpusWindows.forall(_.contains("source")),
      "pipeline_interleave windows the corpus without partitioning:\n" + p)
  }

  test("text_lm_score joins the per-doc pre-aggregate, not raw occurrences (skew fix)") {
    // r10 slope was 1.26: the corpus join shipped one row per bigram
    // OCCURRENCE on a Zipfian key. The fix pre-aggregates
    // (doc_id, bigram) counts; regressing to the raw explode on the
    // join's probe side would re-open the hot-key scale hazard.
    val p = plan("text_lm_score")
    assert(p.contains("hashpartitioning(doc_id"),
      "expected a (doc_id, bigram) pre-aggregate exchange before the corpus join")
    // the per-doc score is a sum over pre-agg rows, not a plain count
    assert(p.toLowerCase.contains("sum"), "expected sum(cf*n) aggregation")
  }

  test("minhash LSH overflow re-banding sizes buckets without a window sort") {
    // bucket sizing is a map-side-combinable aggregate joined back for
    // the (tiny) hot set — a Window over every band row re-introduces
    // a per-bucket sort that is pure overhead at scale
    val p = plan("dedup_minhash_lsh")
    assert(!p.contains("Window"), "bucket sizing must not plan a WindowExec")
  }

  test("GDS GraphX algorithms release their cached graphs on return") {
    // the r10 gds_pagerank 5x regression was unreleased vertex/edge
    // RDDs from prior algorithms thrashing the block manager; finish()
    // must keep residual persisted RDD growth bounded (one
    // localCheckpointed result per call, not 2+ cached RDDs per graph
    // per iteration)
    import graft.core.{GraphViews, PropertyGraph}
    val g = GraphViews.tpch(spark, sf)
    def persisted = spark.sparkContext.getPersistentRDDs.size
    // warm one call so lazy machinery is loaded before measuring
    graft.procs.Gds.pageRank(spark, g, Some("IN"), iterations = 3).count()
    val base = persisted
    graft.procs.Gds.pageRank(spark, g, Some("IN"), iterations = 3).count()
    graft.procs.Gds.wcc(spark, g, Some("IN")).count()
    graft.procs.Gds.shortestPath(spark, g, Some("IN"), landmark = 1L).count()
    val growth = persisted - base
    assert(growth <= 6,
      s"persisted-RDD growth $growth after three GraphX algorithms — graphs not released")
  }

  test("MATCH…MERGE statement job count stays bounded (the multi-statement floor)") {
    // r14 verdict #3: ~25 Spark jobs per buffered-mutation statement
    // dominated every multi-statement graded row at local[32]. The
    // floor is pinned here via the statement recorder: a regression
    // that re-adds eager checkpoint+count pairs or distributed
    // numbering on bounded misses fails this, not just the bench.
    val s = new GraftSession(spark)
    s.cypher("UNWIND range(1, 40) AS x CREATE (:jf {k: x})")
    val batch = (1L to 20L).map(k => Map("a" -> k, "b" -> (k % 40 + 1)))
    val stmt =
      """UNWIND $batch AS row MATCH (a:jf {k: row.a}), (b:jf {k: row.b})
        |MERGE (a)-[r:JF]->(b) ON MATCH SET r.seen = 1""".stripMargin
    def jobsFor(body: => Unit): Int = StatementMetrics.measure(spark)(body)._2.jobs.size
    // warm one full create pass (JIT, lazy machinery, delta bootstrap)
    s.cypher(stmt, Map("batch" -> batch))
    val createJobs = jobsFor {
      s.cypher(stmt, Map("batch" -> (21L to 40L).map(k =>
        Map("a" -> k, "b" -> (k % 40 + 1))))) }
    val matchJobs = jobsFor { s.cypher(stmt, Map("batch" -> batch)) }
    assert(createJobs <= 16, s"create-path MATCH…MERGE ran $createJobs jobs")
    assert(matchJobs <= 14, s"match-path MATCH…MERGE ran $matchJobs jobs")
    // the id-IN SET chunk (MATCH-driven IN TRANSACTIONS dispatches one
    // per batch) takes the BUFFERED path: one bounded id collect, one
    // bounded hit-row collect, zero distributed fold jobs
    s.cypher("MATCH (c:jf) WHERE id(c) IN [0, 1] SET c.flag = 1") // warm
    val setJobs = jobsFor {
      s.cypher("MATCH (c:jf) WHERE id(c) IN [2, 3, 4] SET c.flag = 1")
    }
    assert(setJobs <= 4, s"buffered id-IN SET ran $setJobs jobs")
  }

  test("graded index-anchor rows plan through the index_aux projection") {
    Seq("cy_index_anchor", "cy_index_anchor_eq", "cy_index_anchor_composite")
      .foreach { qn =>
        val p = plan(qn)
        assert(p.contains("index_aux"), s"$qn does not read the RANGE projection:\n$p")
        assert(p.contains("PushedFilters: [") && !p.contains("PushedFilters: []"),
          s"$qn pushes nothing into the projection scan")
      }
    // the graded label-scan row reads the label-partition-pruned base
    val pl = plan("cy_label_scan")
    assert(pl.linesIterator.filter(_.contains("PartitionFilters")).mkString
      .contains("_label_key"),
      "cy_label_scan not partition-pruned by label:\n" + pl)
    // the composite row's delta-composed plan pushes BOTH key
    // predicates into the projection branch of the overlay union
    // (widen the metadata render so PushedFilters doesn't truncate
    // mid-list)
    val prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try {
      val pc = plan("cy_index_anchor_composite")
      assert(pc.contains("EqualTo(c_nationkey,5") &&
        pc.contains("GreaterThan(c_acctbal,5000"),
        "composite predicates not both pushed:\n" + pc)
    } finally spark.conf.set("spark.sql.maxMetadataStringLength", prev)
  }

  test("TEXT-index STARTS WITH routes through the sorted string projection") {
    val s = new GraftSession(spark)
    val dataDir = java.nio.file.Files.createTempDirectory("graft_textaux_").toString
    s.cypher("UNWIND $rows AS row CREATE (:Word {w: row.w, r: row.r})",
      Map("rows" -> Seq("apple", "apricot", "banana", "berry", "cherry")
        .zipWithIndex.map { case (w, i) => Map("w" -> w, "r" -> i.toLong) }))
    s.cypher("CREATE TEXT INDEX word_w FOR (n:Word) ON (n.w)")
    s.saveDatabase(dataDir)
    val df = s.cypher("MATCH (n:Word) WHERE n.w STARTS WITH 'ap' RETURN n.r AS r")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("index_aux"), "STARTS WITH not routed through the projection:\n" + p)
    assert(p.contains("StringStartsWith(w,ap"), "prefix predicate not pushed:\n" + p)
    assert(df.collect().map(_.getLong(0)).sorted.sameElements(Array(0L, 1L)))
    // CONTAINS routes too (correct — the projection holds every
    // non-null row; no prefix pruning, just the clustered scan)
    val dfc = s.cypher("MATCH (n:Word) WHERE n.w CONTAINS 'anan' RETURN n.r AS r")
    assert(dfc.queryExecution.executedPlan.toString.contains("index_aux"))
    assert(dfc.collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("REL_RANGE-indexed typed-edge anchors read the edge projection") {
    val s = new GraftSession(spark)
    val dataDir = java.nio.file.Files.createTempDirectory("graft_relaux_").toString
    s.cypher("UNWIND range(0, 40) AS x CREATE (:re {k: x})")
    (0 to 39).groupBy(_ % 7).foreach { case (w, xs) =>
      s.cypher(
        s"""UNWIND $$rows AS row MATCH (a:re {k: row.a}), (b:re {k: row.b})
           |MERGE (a)-[:KN {w: $w}]->(b)""".stripMargin,
        Map("rows" -> xs.map(x => Map("a" -> x.toLong, "b" -> (x + 1).toLong))))
    }
    s.cypher("CREATE INDEX kn_w FOR ()-[r:KN]-() ON (r.w)")
    s.saveDatabase(dataDir)
    val df = s.cypher("MATCH (a:re)-[r:KN {w: 5}]->(b:re) RETURN a.k AS k")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("index_aux"), "typed-edge anchor does not read the projection:\n" + p)
    assert(p.contains("EqualTo(w,5"), "edge predicate not pushed:\n" + p)
    // w = 5 ← a.k ∈ {5, 12, 19, 26, 33}
    assert(df.collect().map(_.getLong(0)).sorted.sameElements(
      Array(5L, 12L, 19L, 26L, 33L)))
    // a NODE mutation leaves the edge projection valid (the edge frame
    // is untouched); an EDGE mutation composes the projection with the
    // live edge delta (r16 verdict #1) — still index-backed, and the
    // new edge is visible
    s.cypher("CREATE (:re {k: 999})")
    val df2 = s.cypher("MATCH (a:re)-[r:KN {w: 5}]->(b:re) RETURN a.k AS k")
    assert(df2.queryExecution.executedPlan.toString.contains("index_aux"),
      "edge projection dropped by a node-side mutation")
    assert(df2.collect().length == 5)
    s.cypher("MATCH (a:re {k: 0}), (b:re {k: 2}) MERGE (a)-[:KN {w: 5}]->(b)")
    val df3 = s.cypher("MATCH (a:re)-[r:KN {w: 5}]->(b:re) RETURN a.k AS k")
    val p3 = df3.queryExecution.executedPlan.toString
    assert(p3.contains("index_aux"),
      "edge mutation degraded the anchored lookup to a full base scan:\n" + p3)
    assert(p3.contains("EqualTo(w,5"), "edge predicate no longer pushed:\n" + p3)
    assert(df3.collect().map(_.getLong(0)).sorted.sameElements(
      Array(0L, 5L, 12L, 19L, 26L, 33L)))
  }

  test("label-partitioned node base: MATCH (n:L) prunes to the label's directories") {
    // r17 label-scan-store analog: the saved node base hive-partitions
    // by sorted label set; an unanchored label scan routes through a
    // partition-pruned read (directory pruning — other labels' data
    // files never open) composed with the delta-log like every other
    // index route.
    val s = new GraftSession(spark)
    val dataDir = java.nio.file.Files.createTempDirectory("graft_lbl_").toString
    s.cypher("UNWIND range(0, 499) AS x CREATE (:Person {ref: x})")
    s.cypher("UNWIND range(500, 999) AS x CREATE (:Org {ref: x})")
    s.cypher("CREATE (n:Person:Org {ref: 1000})")
    s.saveDatabase(dataDir)
    val df = s.cypher("MATCH (n:Person) RETURN count(n) AS n")
    val p = df.queryExecution.executedPlan.toString
    val scanLine = p.linesIterator.filter(_.contains("PartitionFilters")).mkString
    assert(scanLine.contains("_label_key"),
      "label scan not partition-pruned:\n" + p)
    assert(df.collect().head.getLong(0) == 501L) // multi-label node included
    // delta composition: a post-save CREATE stays routed AND visible
    s.cypher("CREATE (:Person {ref: 2000})")
    val df2 = s.cypher("MATCH (n:Person) RETURN count(n) AS n")
    val p2 = df2.queryExecution.executedPlan.toString
    assert(p2.linesIterator.filter(_.contains("PartitionFilters")).mkString
      .contains("_label_key"),
      "label routing degraded after a commit:\n" + p2)
    assert(df2.collect().head.getLong(0) == 502L)
    // an incremental save + fresh load keeps the route
    s.saveDatabase(dataDir)
    val fresh = new GraftSession(spark)
    fresh.loadDatabase(dataDir)
    val df3 = fresh.cypher("MATCH (n:Org) RETURN count(n) AS n")
    assert(df3.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("PartitionFilters")).mkString.contains("_label_key"))
    assert(df3.collect().head.getLong(0) == 501L)
    // the derived partition column is NEVER a property: no result or
    // schema surface carries it
    assert(!fresh.graph().nodes.columns.contains("_label_key"))
  }

  test("composite RANGE index: prefix anchors route, full-key anchors push both") {
    // r16 verdict #5: CREATE INDEX … ON (n.p1, n.p2). The projection
    // holds the label's non-null-p1 rows clustered by (p1, p2); the
    // compiler routes on the key PREFIX (p1 anchors), never on p2
    // alone (rows with null p1 could match a p2-only predicate).
    val s = new GraftSession(spark)
    val dataDir = java.nio.file.Files.createTempDirectory("graft_ci_").toString
    s.cypher("UNWIND $rows AS row CREATE (:Acct {region: row.r, tier: row.t, ref: row.x})",
      Map("rows" -> (0 until 600).map(i =>
        Map("r" -> (i % 10).toLong, "t" -> (i % 6).toLong, "x" -> i.toLong))))
    s.cypher("CREATE INDEX acct_rt FOR (n:Acct) ON (n.region, n.tier)")
    // SHOW INDEXES carries the composite key
    val shown = s.cypher("SHOW INDEXES YIELD name, properties " +
      "WHERE name = 'acct_rt' RETURN properties").collect()
    assert(shown.length == 1 && shown.head.getString(0) == "region,tier")
    s.saveDatabase(dataDir)
    val expect: Array[Long] =
      (0 until 600).filter(i => i % 10 == 3 && i % 6 == 2).map(_.toLong).toArray
    val df = s.cypher("MATCH (n:Acct {region: 3, tier: 2}) RETURN n.ref AS ref")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("index_aux"), "full-key anchor not routed:\n" + p)
    assert(p.contains("EqualTo(region,3") && p.contains("EqualTo(tier,2"),
      "composite predicates not both pushed:\n" + p)
    assert(df.collect().map(_.getLong(0)).sorted.sameElements(expect))
    // prefix anchor (first key property alone) routes too
    val df2 = s.cypher("MATCH (n:Acct {region: 3}) RETURN n.ref AS ref")
    val p2 = df2.queryExecution.executedPlan.toString
    assert(p2.contains("index_aux"), "prefix anchor not routed:\n" + p2)
    assert(df2.collect().length == 60)
    // a NON-prefix anchor (second property alone) must NOT route
    val df3 = s.cypher("MATCH (n:Acct {tier: 2}) RETURN n.ref AS ref")
    assert(!df3.queryExecution.executedPlan.toString.contains("index_aux"),
      "tier-only anchor wrongly routed through the (region, tier) projection")
    assert(df3.collect().length == 100)
    // prefix EQUALITY + next-key RANGE (r17 verdict #5): the routed
    // projection is sorted by the FULL key, so `region = 3 AND
    // tier > 2` pushes BOTH — the equality prunes to the region-3 row
    // groups and the range prunes within them
    val df4 = s.cypher(
      "MATCH (n:Acct) WHERE n.region = 3 AND n.tier > 2 RETURN n.ref AS ref")
    val p4 = df4.queryExecution.executedPlan.toString
    assert(p4.contains("index_aux"), "prefix-eq + next-key-range not routed:\n" + p4)
    assert(p4.contains("EqualTo(region,3") && p4.contains("GreaterThan(tier,2"),
      "composite eq+range predicates not both pushed:\n" + p4)
    val expect4: Array[Long] =
      (0 until 600).filter(i => i % 10 == 3 && i % 6 > 2).map(_.toLong).toArray
    assert(df4.collect().map(_.getLong(0)).sorted.sameElements(expect4))
    // composite TEXT refuses at DDL (Neo4j parity)
    intercept[UnsupportedOperationException] {
      s.cypher("CREATE TEXT INDEX acct_tt FOR (n:Acct) ON (n.region, n.tier)")
    }
  }

  test("RANGE-index anchored MATCH reads the clustered projection, pruned") {
    // r15 verdict #1: after CREATE INDEX + save, MATCH (n:L {p: v})
    // must route through the snapshot's index_aux projection (sorted
    // by the indexed prop, so the pushed equality row-group-prunes)
    // instead of scanning the unsorted node base — and fall back the
    // moment a mutation re-points the frame.
    val s = new GraftSession(spark)
    val dataDir = java.nio.file.Files.createTempDirectory("graft_idxaux_").toString
    s.cypher("UNWIND $rows AS row CREATE (:Person {age: row.a, ref: row.r})",
      Map("rows" -> (1 to 500).map(x => Map("a" -> (x % 90).toLong, "r" -> x.toLong))))
    s.cypher("CREATE INDEX person_age FOR (n:Person) ON (n.age)")
    s.saveDatabase(dataDir)
    val df = s.cypher("MATCH (n:Person {age: 41}) RETURN n.ref AS ref")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("index_aux"),
      "anchored lookup does not read the RANGE projection:\n" + p)
    assert(p.contains("EqualTo(age,41"),
      "equality predicate not pushed into the projection scan:\n" + p)
    val viaIndex = df.collect().map(_.getLong(0)).sorted
    assert(viaIndex.sameElements(Array(41L, 131L, 221L, 311L, 401L, 491L)),
      s"projection-routed result wrong: ${viaIndex.mkString(",")}")
    // WHERE-clause range anchors route too (the 'RANGE' in RANGE
    // index): sargable top-level conjuncts are null-excluding, so the
    // projection is exact for them as well
    val rdf = s.cypher("MATCH (n:Person) WHERE n.age >= 87 RETURN n.ref AS ref")
    val rp = rdf.queryExecution.executedPlan.toString
    assert(rp.contains("index_aux"),
      "range anchor does not read the RANGE projection:\n" + rp)
    assert(rp.contains("GreaterThanOrEqual(age,87"),
      "range predicate not pushed into the projection scan:\n" + rp)
    // ages 87..89 ← x ∈ {87,88,89,177,178,179,...,447,448,449}: 15 rows
    assert(rdf.collect().map(_.getLong(0)).length == 15)
    // a disjunctive WHERE must NOT route (null-prop rows could match
    // the other branch — the base scan serves it)
    val odf = s.cypher(
      "MATCH (n:Person) WHERE n.age = 41 OR n.ref = 13 RETURN n.ref AS ref")
    assert(!odf.queryExecution.executedPlan.toString.contains("index_aux"),
      "disjunctive predicate wrongly routed through the projection")
    assert(odf.collect().map(_.getLong(0)).sorted.sameElements((viaIndex :+ 13L).sorted))
    // the node BASE is id-clustered at write: per-file id ranges are
    // disjoint, so id-anchored probes prune row groups deterministically
    val byFile = spark.read.parquet(s"$dataDir/databases/neo4j/nodes")
      .groupBy(org.apache.spark.sql.functions.input_file_name())
      .agg(org.apache.spark.sql.functions.min("id").as("lo"),
        org.apache.spark.sql.functions.max("id").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    byFile.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 < lo2, s"node files overlap in id: ${byFile.mkString(" ")}")
      case _ => ()
    }
    // delta composition (r16 verdict #1): one CREATE re-points the
    // frame, but the mutation rides the delta overlay whose base IS
    // the saved frame — the lookup stays index-backed (projection ⟵
    // overlay⟶ live delta) AND sees the new row. An ingest-heavy live
    // graph must not degrade to full base scans after every commit.
    s.cypher("CREATE (:Person {age: 41, ref: 999})")
    val df2 = s.cypher("MATCH (n:Person {age: 41}) RETURN n.ref AS ref")
    val p2 = df2.queryExecution.executedPlan.toString
    assert(p2.contains("index_aux"),
      "node mutation degraded the anchored lookup to a full base scan:\n" + p2)
    assert(p2.contains("EqualTo(age,41"),
      "equality predicate no longer pushed after the mutation:\n" + p2)
    assert(df2.collect().map(_.getLong(0)).sorted
      .sameElements(viaIndex :+ 999L), "post-mutation anchored read wrong")
    // an incremental re-save KEEPS the on-disk projection (it composes
    // with the persisted delta-log); the lookup stays routed and exact
    s.saveDatabase(dataDir)
    val df3 = s.cypher("MATCH (n:Person {age: 41}) RETURN n.ref AS ref")
    val p3 = df3.queryExecution.executedPlan.toString
    assert(p3.contains("index_aux"),
      "incremental save dropped the composable projection:\n" + p3)
    assert(df3.collect().map(_.getLong(0)).sorted.sameElements(viaIndex :+ 999L))
    // …and a fresh LOAD of the delta-bearing snapshot routes too: the
    // sealed defs + kept projection + on-disk delta reconstruct the
    // folded frame's indexed slice exactly
    s.loadDatabase(dataDir)
    val dfL = s.cypher("MATCH (n:Person {age: 41}) RETURN n.ref AS ref")
    assert(dfL.queryExecution.executedPlan.toString.contains("index_aux"),
      "load of a delta-bearing snapshot lost index routing")
    assert(dfL.collect().map(_.getLong(0)).sorted.sameElements(viaIndex :+ 999L))
    // compaction folds any delta and rebuilds the projection; a fresh
    // load routes through it again — the dump/load round-trip story
    graft.core.SnapshotStore.compact(spark, s"$dataDir/databases/neo4j")
    s.loadDatabase(dataDir)
    val df4 = s.cypher("MATCH (n:Person {age: 41}) RETURN n.ref AS ref")
    assert(df4.queryExecution.executedPlan.toString.contains("index_aux"),
      "projection not rebuilt by compaction / not routed after load")
    assert(df4.collect().map(_.getLong(0)).sorted.sameElements(viaIndex :+ 999L))
    // DROP + re-CREATE under the SAME name with a different (label,
    // prop) re-points no frame — only the sealed save-time schema
    // stops the old projection from serving wrong rows
    s.cypher("DROP INDEX person_age")
    s.cypher("CREATE INDEX person_age FOR (n:Person) ON (n.ref)")
    val df5 = s.cypher("MATCH (n:Person {ref: 41}) RETURN n.ref AS ref")
    assert(!df5.queryExecution.executedPlan.toString.contains("index_aux"),
      "re-created index routed through the stale projection")
    assert(df5.collect().map(_.getLong(0)).sameElements(Array(41L)))
  }

  test("a foreign re-point drops every snapshot route: same answers from the ordinary scans") {
    // setGraph with the SAME rows as fresh frames: no frame is the
    // snapshot's any more, so RANGE, REL_RANGE, label-partition and
    // IVF routing must all fall back — and answer exactly as before
    import scala.jdk.CollectionConverters._
    val s = new GraftSession(spark)
    val dataDir = java.nio.file.Files.createTempDirectory("graft_repoint_").toString
    s.cypher("UNWIND range(0, 40) AS x CREATE (:re {k: x})")
    (0 to 39).groupBy(_ % 7).foreach { case (w, xs) =>
      s.cypher(
        s"""UNWIND $$rows AS row MATCH (a:re {k: row.a}), (b:re {k: row.b})
           |MERGE (a)-[:KN {w: $w}]->(b)""".stripMargin,
        Map("rows" -> xs.map(x => Map("a" -> x.toLong, "b" -> (x + 1).toLong))))
    }
    s.cypher("UNWIND $rows AS row CREATE (:doc {embedding: row})",
      Map("rows" -> Seq(Seq(1.0, 0.0), Seq(0.8, 0.6), Seq(0.0, 1.0), Seq(-1.0, 0.0))))
    s.cypher("CREATE INDEX re_k FOR (n:re) ON (n.k)")
    s.cypher("CREATE INDEX kn_w FOR ()-[r:KN]-() ON (r.w)")
    s.cypher("CREATE VECTOR INDEX doc_vec FOR (d:doc) ON d.embedding " +
      "OPTIONS {indexConfig: {`vector.similarity_function`: 'cosine'}}")
    s.saveDatabase(dataDir)
    // (statement, the plan marker of its snapshot route)
    val table = Seq(
      "MATCH (n:re {k: 7}) RETURN n.k AS k" -> "index_aux",
      "MATCH (a:re)-[r:KN {w: 5}]->(b:re) RETURN a.k AS k" -> "index_aux",
      "MATCH (n:re) RETURN n.k AS k" -> "_label_key",
      ("CALL db.index.vector.queryNodes('doc_vec', 2, [1.0, 0.0], {probes: 2}) " +
        "YIELD nodeId, score RETURN nodeId, score") -> "_ivf_cell")
    def run(q: String): (String, Seq[String]) = {
      val df = s.cypher(q)
      (df.queryExecution.executedPlan.toString, df.collect().map(_.toString).toSeq.sorted)
    }
    val routed = table.map { case (q, marker) =>
      val (p, rows) = run(q)
      assert(p.contains(marker), s"not routed before the re-point: $q\n$p")
      rows
    }
    def fresh(df: org.apache.spark.sql.DataFrame) =
      spark.createDataFrame(df.collect().toList.asJava, df.schema)
    s.setGraph(graft.core.PropertyGraph(fresh(s.graph().nodes), fresh(s.graph().edges)))
    table.zip(routed).foreach { case ((q, _), before) =>
      val (p, rows) = run(q)
      assert(!p.contains("index_aux") && !p.contains("_label_key"),
        s"a foreign frame still routes through the snapshot: $q\n$p")
      assert(rows == before, s"$q: ${rows.mkString(",")} != ${before.mkString(",")}")
    }
    graft.core.SnapshotStore.deleteDir(dataDir)
  }

  /** `body`'s result and the executed plans of the queries it ran
    * (a compile's probes), in the order they ran. */
  private def executedDuring[T](body: => T): (T, Seq[String]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    // events still queued from earlier work would reach the listener
    org.apache.spark.sql.GraftSqlBridge.drainListenerBus(spark.sparkContext)
    spark.listenerManager.register(listener)
    // measure drains the listener bus, so every execution is seen
    try (StatementMetrics.measure(spark)(body)._1, plans.toArray(Array.empty[String]).toSeq)
    finally spark.listenerManager.unregister(listener)
  }

  /** The PartitionFilters list of the FIRST label-pruned node scan
    * executed: in the compile's `probes`, then in `df`'s executed plan
    * — the bottom-left leaf of the left-deep join tree (edge scans
    * prune on relType and are skipped; the segment is isolated so the
    * scan's re-applied DataFilters can't satisfy a label assertion).
    * An anchor frontier the compile probed and then joins as literal
    * keys appears only in its probe. */
  private def firstNodeScan(df: org.apache.spark.sql.DataFrame,
      probes: Seq[String] = Nil): String = {
    val lines = (probes :+ df.queryExecution.executedPlan.toString).flatMap(_.linesIterator)
    def partitionFilters(l: String): String = {
      val start = l.indexOf("PartitionFilters: [")
      if (start < 0) ""
      else { val end = l.indexOf(']', start); l.substring(start, if (end < 0) l.length else end) }
    }
    lines.map(partitionFilters).find(_.contains("_label_key")).getOrElse(
      fail("no label-pruned node scan in plan:\n" + lines.mkString("\n")))
  }

  test("stats-driven join ordering: 3-hop pattern anchors at the selective label") {
    // r17 verdict #1 (SURVEY §4's one custom optimizer task): per-label
    // and per-relType counts sealed at save feed the compiler, so a
    // multi-hop MATCH written with the BIG label first still plans with
    // the selective label's (routed) scan at the bottom of the join
    // tree — at 100× the data, anchoring a 3-hop pattern on the 10⁹-row
    // label instead of the 10-row one is a full-shuffle disaster AQE
    // can only partially rescue.
    val s = new GraftSession(spark)
    val dataDir = java.nio.file.Files.createTempDirectory("gjo_").toString
    s.cypher("UNWIND range(0, 1999) AS x CREATE (:Big {bx: x})")
    s.cypher("UNWIND range(0, 199) AS x CREATE (:Mid {mx: x})")
    s.cypher("UNWIND range(0, 4) AS x CREATE (:Tiny {tx: x})")
    s.cypher("UNWIND $rows AS row MATCH (a:Big {bx: row.a}), (m:Mid {mx: row.b}) " +
      "MERGE (a)-[:R1]->(m)",
      Map("rows" -> (0 until 2000).map(i => Map("a" -> i.toLong, "b" -> (i % 200).toLong))))
    s.cypher("UNWIND $rows AS row MATCH (m:Mid {mx: row.a}), (t:Tiny {tx: row.b}) " +
      "MERGE (m)-[:R2]->(t)",
      Map("rows" -> (0 until 200).map(i => Map("a" -> i.toLong, "b" -> (i % 5).toLong))))
    s.saveDatabase(dataDir)
    // stats sealed: 2000 Big / 200 Mid / 5 Tiny
    val (df, probes) = executedDuring(s.cypher(
      "MATCH (a:Big)-[:R1]->(m:Mid)-[:R2]->(t:Tiny) RETURN count(*) AS n"))
    val scan = firstNodeScan(df, probes)
    assert(scan.contains("Tiny") && !scan.contains("Big"),
      "3-hop pattern did not anchor at the selective label:\n" +
        df.queryExecution.executedPlan.toString)
    assert(df.collect().head.getLong(0) == 2000L)
    // comma-separated patterns reorder too: the Tiny-anchored pattern
    // compiles first even when written last
    val (df2, probes2) = executedDuring(s.cypher(
      "MATCH (a:Big)-[:R1]->(m:Mid), (m)-[:R2]->(t:Tiny) RETURN count(*) AS n"))
    val scan2 = firstNodeScan(df2, probes2)
    assert(scan2.contains("Tiny") && !scan2.contains("Big"),
      "comma patterns not reordered by anchor selectivity:\n" +
        df2.queryExecution.executedPlan.toString)
    assert(df2.collect().head.getLong(0) == 2000L)
    // textual order is KEPT when the ends are comparable (stability:
    // the cost model only acts on a clear win)
    val df3 = s.cypher("MATCH (m1:Mid)-[:R2]->(t:Tiny)<-[:R2]-(m2:Mid) " +
      "RETURN count(*) AS n")
    assert(df3.collect().head.getLong(0) == 8000L) // 40*40 per tiny node
    // ...and an unsaved session (r19: LAZY live stats now fire on the
    // first pattern compile) still answers balanced patterns right
    val s2 = new GraftSession(spark)
    s2.cypher("UNWIND range(0, 9) AS x CREATE (:Big {bx: x})")
    s2.cypher("UNWIND range(0, 9) AS x CREATE (:Tiny {tx: x})")
    val df4 = s2.cypher("MATCH (a:Big), (t:Tiny) RETURN count(*) AS n")
    assert(df4.collect().head.getLong(0) == 100L)
  }

  test("graded cy_join_order / cy_label_expr_scan rows plan routed + reordered") {
    // the graded rows' own fixture: the 3-hop written big-first must
    // anchor at the 5-row region side, and the A|B scan must prune to
    // the covering {nation, region} directories in ONE read
    val prevMeta = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try {
      val (jo, probes) = executedDuring(SparkEntry.queries("cy_join_order")(spark, sf))
      val scan = firstNodeScan(jo, probes)
      assert(scan.contains("region") && !scan.contains("customer"),
        "cy_join_order did not anchor at the selective label:\n" +
          (probes :+ jo.queryExecution.executedPlan.toString).mkString("\n"))
      val (lx, probes2) = executedDuring(SparkEntry.queries("cy_label_expr_scan")(spark, sf))
      val scan2 = firstNodeScan(lx, probes2)
      assert(scan2.contains("nation") && scan2.contains("region") &&
        !scan2.contains("customer"),
        "cy_label_expr_scan not pruned to the covering set:\n" +
          lx.queryExecution.executedPlan.toString)
    } finally spark.conf.set("spark.sql.maxMetadataStringLength", prevMeta)
  }

  test("var-length expand direction flips on relType degree skew") {
    // r17 verdict #6: a bound-both-ends var-length pattern expands from
    // the cheaper side — forward fan-out here is ~500 per frontier node
    // (10 authors own all 5000 docs), backward is 1, so the expansion
    // must seed from the Doc side regardless of textual direction.
    val s = new GraftSession(spark)
    val dataDir = java.nio.file.Files.createTempDirectory("gvd_").toString
    s.cypher("UNWIND range(0, 9) AS x CREATE (:Author {ax: x})")
    s.cypher("UNWIND range(0, 4999) AS x CREATE (:Doc {dx: x})")
    s.cypher("UNWIND $rows AS row MATCH (a:Author {ax: row.a}), (d:Doc {dx: row.b}) " +
      "MERGE (a)-[:W]->(d)",
      Map("rows" -> (0 until 5000).map(i => Map("a" -> (i % 10).toLong, "b" -> i.toLong))))
    s.saveDatabase(dataDir)
    val df = s.cypher("MATCH (a:Author)-[:W*1..2]->(d:Doc) RETURN count(*) AS n")
    val scan = firstNodeScan(df)
    assert(scan.contains("Doc") && !scan.contains("Author"),
      "var-length expansion not seeded from the low-degree side:\n" +
        df.queryExecution.executedPlan.toString)
    assert(df.collect().head.getLong(0) == 5000L) // 1-hop only; no Doc->Doc edges
  }

  test("var-length expand pre-reduces the edge set around a tiny seed") {
    // r18: with sealed stats proving the seed frontier tiny, a BOUNDED
    // var-length expansion materializes only the ≤hi-hop neighborhood
    // (broadcast semi joins over the raw typed scan), not the whole
    // typed edge set — at 10¹⁰ edges the whole-set distinct+checkpoint
    // IS the query cost. Pinned by shuffle volume: the distinct() of
    // the materialized base is the only full shuffle in the expansion,
    // so total shuffled records must track the NEIGHBORHOOD (~60
    // edges), not the 50k-edge type.
    val s = new GraftSession(spark)
    val dataDir = java.nio.file.Files.createTempDirectory("gvr_").toString
    s.cypher("UNWIND range(0, 49999) AS x CREATE (:VN {vk: x})")
    // a long chain + heavy unrelated fan-out elsewhere: 50k edges, but
    // only ~20 reachable within 2 hops of the anchor
    s.cypher("UNWIND $rows AS row MATCH (a:VN {vk: row.a}), (b:VN {vk: row.b}) " +
      "MERGE (a)-[:VE]->(b)",
      Map("rows" -> (0 until 49999).map(i => Map("a" -> i.toLong, "b" -> (i + 1).toLong))))
    s.saveDatabase(dataDir)
    val (n, m) = StatementMetrics.measure(spark)(s.cypher(
      "MATCH (a:VN {vk: 100})-[:VE*1..2]->(b:VN) RETURN count(*) AS n").collect().head.getLong(0))
    assert(n == 2L) // 101 and 102
    val got = m.shuffleWriteRecords
    assert(got < 5000L,
      s"var-length expansion shuffled $got records — the whole-set " +
        "materialization is back")
  }

  test("label-expression scans route through the covering partition set") {
    // r17 verdict #2: `MATCH (n:A|B)` prunes to the A ∪ B directories
    // in ONE read (a union of per-label reads would duplicate
    // multi-label nodes); `:A&B` prunes by the cheaper side then
    // re-filters; `:!A` has no covering set and takes the full scan.
    // (Widen the metadata render: the OR partition filter is longer
    // than the 100-char default and the second label truncates away.)
    val prevMeta = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try {
    val s = new GraftSession(spark)
    val dataDir = java.nio.file.Files.createTempDirectory("glx_").toString
    s.cypher("UNWIND range(0, 299) AS x CREATE (:Person {ref: x})")
    s.cypher("UNWIND range(300, 349) AS x CREATE (:Org {ref: x})")
    s.cypher("UNWIND range(350, 999) AS x CREATE (:Misc {ref: x})")
    s.cypher("CREATE (:Person:Org {ref: 1000})")
    s.saveDatabase(dataDir)
    val df = s.cypher("MATCH (n:Person|Org) RETURN count(n) AS n")
    val scan = firstNodeScan(df)
    assert(scan.contains("Person") && scan.contains("Org") && !scan.contains("Misc"),
      "A|B not pruned to the covering directories:\n" +
        df.queryExecution.executedPlan.toString)
    assert(df.collect().head.getLong(0) == 351L) // multi-label node counted ONCE
    // conjunction: pruned by the cheaper side (Org: 51 < Person: 301)
    val df2 = s.cypher("MATCH (n:Person&Org) RETURN count(n) AS n")
    val scan2 = firstNodeScan(df2)
    assert(scan2.contains("Org") && !scan2.contains("Person"),
      "A&B not pruned by the cheaper covering side:\n" +
        df2.queryExecution.executedPlan.toString)
    assert(df2.collect().head.getLong(0) == 1L)
    // negation admits no covering set: full scan, still correct
    val df3 = s.cypher("MATCH (n:!Person) RETURN count(n) AS n")
    assert(df3.collect().head.getLong(0) == 700L)
    // delta composition: a post-save CREATE stays routed AND visible
    s.cypher("CREATE (:Org {ref: 2000})")
    val df4 = s.cypher("MATCH (n:Person|Org) RETURN count(n) AS n")
    assert(firstNodeScan(df4).contains("Org"),
      "label-expression routing degraded after a commit")
    assert(df4.collect().head.getLong(0) == 352L)
    } finally spark.conf.set("spark.sql.maxMetadataStringLength", prevMeta)
  }

  test("shortestPath and bound var-length paths seed from the cheap end") {
    // r18 verdict #1 (r19): the search forms now consult the same
    // sealed-stats model as plain MATCH — a shortestPath written
    // big-label-first must BFS from the 5-seed Tiny side (walking
    // reversed edges, witness arrays still textual-order), not fan out
    // from 2000 Big seeds; same for the enumerating bound var-path.
    val s = new GraftSession(spark)
    val dataDir = java.nio.file.Files.createTempDirectory("gsp_").toString
    s.cypher("UNWIND range(0, 1999) AS x CREATE (:Big {bx: x})")
    s.cypher("UNWIND range(0, 4) AS x CREATE (:Tiny {tx: x})")
    s.cypher("UNWIND $rows AS row MATCH (a:Big {bx: row.a}), (t:Tiny {tx: row.b}) " +
      "MERGE (a)-[:RT]->(t)",
      Map("rows" -> (0 until 2000).map(i => Map("a" -> i.toLong, "b" -> (i % 5).toLong))))
    s.saveDatabase(dataDir)
    // stats sealed: 2000 Big / 5 Tiny
    val sp = s.cypher(
      "MATCH p = shortestPath((a:Big)-[:RT*1..2]->(t:Tiny)) RETURN count(*) AS n")
    val spScan = firstNodeScan(sp)
    assert(spScan.contains("Tiny") && !spScan.contains("Big"),
      "shortestPath did not seed from the selective end:\n" +
        sp.queryExecution.executedPlan.toString)
    assert(sp.collect().head.getLong(0) == 2000L) // each Big hits its Tiny at dist 1
    val vp = s.cypher(
      "MATCH p = (a:Big)-[:RT*1..2]->(t:Tiny) RETURN count(*) AS n")
    val vpScan = firstNodeScan(vp)
    assert(vpScan.contains("Tiny") && !vpScan.contains("Big"),
      "bound var-length path did not seed from the selective end:\n" +
        vp.queryExecution.executedPlan.toString)
    assert(vp.collect().head.getLong(0) == 2000L)
    // the witness is orientation-independent: nodes(p) still runs
    // start→end in textual order with the right endpoint labels
    val w = s.cypher("MATCH p = shortestPath((a:Big {bx: 7})-[:RT*1..2]->(t:Tiny)) " +
      "RETURN [x IN nodes(p) | x] AS ns, length(p) AS len")
    val row = w.collect().head
    assert(row.getLong(1) == 1L)
    val ns = row.getSeq[Long](0)
    assert(ns.length == 2, s"witness nodes $ns")
    // COLLECT subqueries reorder too: written big-first, the collect
    // compile must anchor at Tiny (count checks semantics survived)
    val cs = s.cypher("MATCH (t:Tiny {tx: 0}) RETURN " +
      "size(COLLECT { MATCH (a:Big)-[:RT]->(t:Tiny) RETURN a.bx }) AS n")
    assert(cs.collect().head.getInt(0) == 400)
  }

  test("broadcast hints are probe-gated: a non-selective anchor is not hinted") {
    // ADVICE r18 (medium): the frontier hint was gated only by the
    // 10×-per-anchor decimation estimate — `(a:VN {vk: 7})` where EVERY
    // node has vk=7 estimates 5000 but measures 50000, and an explicit
    // broadcast() bypasses autoBroadcastJoinThreshold entirely. Now a
    // limit(B+1).count probe must refuse the hint. Discriminator: with
    // auto-broadcast OFF, a (wrong) hint would still broadcast and
    // shuffle ~nothing; the probe-refused plan shuffle-joins, so
    // shuffled records must be LARGE.
    val s = new GraftSession(spark)
    val dataDir = java.nio.file.Files.createTempDirectory("gpb_").toString
    s.cypher("UNWIND range(0, 49999) AS x CREATE (:PV {vk: 7, ord: x})")
    s.cypher("UNWIND $rows AS row MATCH (a:PV {ord: row.a}), (b:PV {ord: row.b}) " +
      "MERGE (a)-[:PE]->(b)",
      Map("rows" -> (0 until 49999).map(i => Map("a" -> i.toLong, "b" -> (i + 1).toLong))))
    s.saveDatabase(dataDir)
    val prevAuto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (n, m) = StatementMetrics.measure(spark)(s.cypher(
        "MATCH (a:PV {vk: 7})-[:PE]->(b:PV) RETURN count(*) AS n").collect().head.getLong(0))
      assert(n == 49999L)
      val got = m.shuffleWriteRecords
      assert(got > 20000L,
        s"only $got records shuffled — the 50k-row frontier was " +
          "broadcast-hinted despite the probe")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
  }

  test("anchored 2-hop read probes once: later hints ride the sealed max-degree bound") {
    // The first hint attempt of an anchored path measures the frontier
    // (one job); each later hint is proven by that count times the
    // sealed per-type maximum degree instead of re-running the chain.
    // The hints themselves, and so the plan, are the probes' own.
    val s0 = new GraftSession(spark)
    val dataDir = java.nio.file.Files.createTempDirectory("gmb_").toString
    s0.cypher("UNWIND range(0, 199) AS x CREATE (:MC {ck: x})")
    s0.cypher("UNWIND range(0, 599) AS x CREATE (:MO {ok: x})")
    s0.cypher("UNWIND range(0, 49) AS x CREATE (:MP {pk: x})")
    // customer c places orders 3c..3c+2; order o contains parts o%50, (o+1)%50
    s0.cypher("UNWIND $rows AS row MATCH (c:MC {ck: row.c}), (o:MO {ok: row.o}) " +
      "MERGE (c)-[:MPL]->(o)",
      Map("rows" -> (0 until 600).map(o => Map("c" -> (o / 3).toLong, "o" -> o.toLong))))
    s0.cypher("UNWIND $rows AS row MATCH (o:MO {ok: row.o}), (p:MP {pk: row.p}) " +
      "MERGE (o)-[:MCO]->(p)",
      Map("rows" -> (0 until 600).flatMap(o =>
        Seq(o % 50, (o + 1) % 50).map(p => Map("o" -> o.toLong, "p" -> p.toLong)))))
    s0.cypher("CREATE INDEX mc_ck FOR (n:MC) ON (n.ck)")
    s0.saveDatabase(dataDir)
    val s = new GraftSession(spark)
    s.loadDatabase(dataDir)
    val q = "MATCH (c:MC {ck: $k})-[:MPL]->(o:MO)-[:MCO]->(p:MP) RETURN o.ok AS ok, p.pk AS pk"
    def compiled(k: Long): (org.apache.spark.sql.DataFrame, Int) = {
      val (df, m) = StatementMetrics.measure(spark)(s.cypher(q, Map("k" -> k)))
      (df, m.jobs.size)
    }
    def expected(orders: Seq[Long]): Set[(Long, Long)] =
      orders.flatMap(o => Seq(o % 50, (o + 1) % 50).map(p => (o, p))).toSet
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    compiled(3L)._1.collect() // first reads of the loaded dir
    // the probe's own plan: the compile's one execution
    val ((df, jobs), probePlans) = executedDuring(compiled(7L))
    assert(jobs == 1, s"an anchored 2-hop compile ran $jobs jobs; one probe expected")
    assert(probePlans.size == 1 && probePlans.head.contains("index_aux"),
      "the probe does not read the RANGE projection:\n" + probePlans)
    // the probed anchor joins as literal keys: the :MPL edge scan
    // carries its id set, and its broadcast join is gone
    val p = df.queryExecution.executedPlan.toString
    assert(p.linesIterator.exists(l => l.contains("= MPL)") && l.contains("In(src, [7])")),
      "the :MPL edge scan does not carry the anchor's key set:\n" + p)
    assert("BroadcastHashJoin".r.findAllMatchIn(p).length == 3,
      "the hop chain after the anchor is no longer broadcast-hinted:\n" + p)
    assert(rows(df) == expected(Seq(21L, 22L, 23L)))
    // a transactional MERGE publishes its write buffer at COMMIT as a
    // driver-resident delta, without a job; reads over it remove the
    // delta's keys by their literal set, so no broadcast stage is
    // added: a read of a key the delta does not hold compiles and runs
    // with the jobs it had before.
    def firstRun(k: Long): (Set[(Long, Long)], Seq[String], Int) = {
      val (d, c) = StatementMetrics.measure(spark)(s.cypher(q, Map("k" -> k)))
      val (got, m) = StatementMetrics.measure(spark)(rows(d))
      (got, c.jobs.map(_.callSite), m.jobs.size)
    }
    val (_, _, runJobs) = firstRun(8L)
    s.cypher("BEGIN")
    s.cypher("MERGE (c:MC {ck: 7}) ON MATCH SET c.seen = 1")
    val (_, commit) = StatementMetrics.measure(spark)(s.cypher("COMMIT"))
    assert(commit.jobs.isEmpty, s"COMMIT of a buffered MERGE ran ${commit.jobs.size} jobs")
    assert(s.catalog.database("neo4j").validNodeDelta.exists(_.buf.isDefined),
      "the committed MERGE published no write buffer")
    // the delta-overlaid stats come from the write buffer's rows: the
    // first read after COMMIT runs its probe and no aggregate
    val (_, afterCommit) = StatementMetrics.measure(spark)(s.cypher(q, Map("k" -> 3L)))
    assert(afterCommit.jobs.size == 1, "the first read after COMMIT compiled with jobs at " +
      afterCommit.jobs.map(_.callSite).mkString(", ") + "; one probe expected")
    val (txRows, txCompileJobs, txRunJobs) = firstRun(8L)
    assert(txCompileJobs.size == 1, "after a committed MERGE the 2-hop compile ran jobs at " +
      txCompileJobs.mkString(", ") + "; one probe expected")
    assert(txRunJobs <= runJobs,
      s"after a committed MERGE the 2-hop read ran $txRunJobs jobs, $runJobs before it")
    assert(txRows == expected(Seq(24L, 25L, 26L)))
    // the delta's row comes from the driver, the base's in one take
    val (heldDf, heldJobs) = compiled(7L)
    assert(heldJobs == 1, s"a read of a key the delta holds compiled with $heldJobs jobs")
    assert(rows(heldDf) == expected(Seq(21L, 22L, 23L)))
    // soundness: one edge merged after the load raises :MPL's degrees
    // past the sealed maxima, which become unknown — the read probes
    // its hops again and still answers right
    s.cypher("MATCH (c:MC {ck: 7}), (o:MO {ok: 100}) MERGE (c)-[:MPL]->(o)")
    compiled(3L) // the delta-overlaid stats, once per state
    val (df2, jobs2) = compiled(7L)
    assert(jobs2 > 1, s"a delta-bearing type kept its sealed bound ($jobs2 jobs)")
    assert(rows(df2) == expected(Seq(21L, 22L, 23L, 100L)))
  }

  test("AdaptiveParts: loop widths derive from rows, clamp to the configured width, restore") {
    // r20: iterative operators (dedup_clusters labels, hopDistances,
    // betweenness, LPA, louvain) size their per-round shuffles from
    // the loop's input volume — tiny state collapses to 1 partition,
    // real volume returns the session's configured width (nothing is
    // tuned to local mode), and the conf always restores.
    import graft.core.AdaptiveParts
    val cap = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(AdaptiveParts.forRows(spark, 0L) == 1)
    assert(AdaptiveParts.forRows(spark, AdaptiveParts.RowsPerPartition) == 1)
    assert(AdaptiveParts.forRows(spark, AdaptiveParts.RowsPerPartition + 1) == 2)
    assert(AdaptiveParts.forRows(spark, Long.MaxValue / 4) == cap,
      "huge volumes must clamp to the configured width")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val inScope = AdaptiveParts.withLoopPartitions(spark, 1L) {
      spark.conf.get("spark.sql.shuffle.partitions")
    }
    assert(inScope == "1")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == prev,
      "withLoopPartitions must restore the session width")
    // restores on exception too
    intercept[RuntimeException] {
      AdaptiveParts.withLoopPartitions(spark, 1L) { throw new RuntimeException("x") }
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") == prev)
  }

  test("join-order probe contrast stays sign-stable (textual shuffles more)") {
    // r19 verdict #9: the bench's headline scale evidence is the
    // statsOff A/B — and it silently degenerated once (the r19-build
    // rank-gap orientation compiled the "textual" control into the
    // ordered plan; the bench reported reduction 1.0 and only a manual
    // read caught it). Pin the contrast: on the skewed saved fixture
    // the sealed-stats session must shuffle strictly less than the
    // fully textual (statsOff) session — at 1M :Big rows the measured
    // contrast is 1032 vs 32 records (the textual plan's Big⋈R1 join
    // runs before anything cuts it down; wall stays informational
    // because a static broadcast rescues it at probe scale).
    val dir = java.nio.file.Files.createTempDirectory("gjo_probe_").toString
    val json = Bench.joinOrderProbeJson(spark, s"$dir/_joinorder", nBig = 1000000L)
    val rec = "\"shuffled_textual\":(\\d+),\"shuffled_ordered\":(\\d+)".r
    val m = rec.findFirstMatchIn(json).getOrElse(
      fail(s"probe JSON unparseable: $json"))
    val (txt, ord) = (m.group(1).toLong, m.group(2).toLong)
    assert(ord > 0, s"ordered session shuffled nothing — probe degenerate: $json")
    assert(txt >= ord * 2,
      s"statsOff control no longer contrasts with the ordered plan " +
        s"(textual=$txt ordered=$ord) — the A/B has degenerated again: $json")
  }

  test("setGraph-only sessions get lazy live stats: skewed 3-hop reorders") {
    // r18 verdict #4: a session that never saves used to run textual
    // plans with no signal — now statsFor computes the two grouped
    // aggregates ONCE (memoized by frame identity, drift-tolerant), so
    // the 3-hop written big-label-first still anchors at the 5-row
    // Tiny side. Parquet-backed frames so the plan shows real scans:
    // the leftmost (anchor) label filter in the executed plan must be
    // Tiny's, appearing before any Big filter.
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("glz_").toString
    val nodes = spark.range(0, 2205).select(col("id"),
      when(col("id") < 2000, array(lit("Big")))
        .when(col("id") < 2200, array(lit("Mid")))
        .otherwise(array(lit("Tiny"))).as("labels"))
    val r1 = spark.range(0, 2000).select(col("id").as("src"),
      (col("id") % 200 + 2000).as("dst"), lit("R1").as("relType"))
    val r2 = spark.range(0, 200).select((col("id") + 2000).as("src"),
      (col("id") % 5 + 2200).as("dst"), lit("R2").as("relType"))
    nodes.write.parquet(s"$dir/n")
    r1.unionByName(r2).write.parquet(s"$dir/e")
    val s = new GraftSession(spark)
    s.setGraph(graft.core.PropertyGraph(spark.read.parquet(s"$dir/n"),
      spark.read.parquet(s"$dir/e")))
    val df = s.cypher(
      "MATCH (a:Big)-[:R1]->(m:Mid)-[:R2]->(t:Tiny) RETURN count(*) AS n")
    val plan = df.queryExecution.executedPlan.toString
    val tinyAt = plan.indexOf("Tiny")
    val bigAt = plan.indexOf("Big")
    assert(tinyAt >= 0 && (bigAt < 0 || tinyAt < bigAt),
      s"setGraph 3-hop did not anchor at the selective label:\n$plan")
    assert(df.collect().head.getLong(0) == 2000L)
    // the saved-fixture cases above must not regress (memoized stats
    // only apply to never-saved graphs); a second statement hits the
    // frame-identity memo — same plan, no recompute observable here,
    // semantics pinned by the count
    assert(s.cypher("MATCH (a:Big)-[:R1]->(m:Mid)-[:R2]->(t:Tiny) RETURN count(*) AS n")
      .collect().head.getLong(0) == 2000L)
  }

  test("forced-shape decisions never pay the live stats scan") {
    // r19: a one-shot session whose pattern decision is FORCED by an
    // anchor-rank gap (equality-anchored start vs label-only end, or a
    // hop-less MERGE comma pattern) must not run the two full-graph
    // stats aggregates — at 100 TB that scan would double the cost of
    // every anchored one-shot query. Only a genuine tie (label vs
    // label) is worth the one-shot computation.
    val s = new GraftSession(spark)
    s.cypher("UNWIND range(0, 99) AS x CREATE (:P {px: x})")
    s.cypher(
      "UNWIND $rows AS row MATCH (a:P {px: row.a}), (b:P {px: row.b}) " +
        "MERGE (a)-[:E]->(b)",
      Map("rows" -> (0L until 99L).map(i => Map("a" -> i, "b" -> (i + 1)))))
    val before = GraftSession.liveStatsRuns.get()
    // equality anchor (rank 2) vs bare label (rank 1): orientation is
    // forced, the broadcast-hint attempt is probe-gated — no stats job
    val n1 = s.cypher("MATCH (a:P {px: 1})-[:E*1..2]->(b:P) RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(n1 == 2L)
    assert(GraftSession.liveStatsRuns.get() == before,
      "a rank-forced var-length pattern paid a live stats computation")
    // label-label TIE on a multi-hop pattern: genuinely ambiguous —
    // the live computation fires (once; the memo serves the statement)
    val n2 = s.cypher("MATCH (a:P)-[:E]->(b:P)-[:E]->(c:P) RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(n2 == 98L)
    assert(GraftSession.liveStatsRuns.get() == before + 1,
      "a label-label tie should have computed live stats exactly once")
  }

  test("statement recorder: a scope counts its own shuffle records and jobs exactly") {
    val (_, m) = StatementMetrics.measure(spark)(
      spark.range(1000).repartition(4).write.format("noop").mode("overwrite").save())
    assert(m.shuffleWriteRecords == 1000L, m.line)
    assert(m.jobs.nonEmpty, m.line)
  }

  test("statement recorder: concurrent scopes on one session see only their own jobs") {
    // both scopes are open while both actions run, so a time-window
    // attribution would hand each scope the other's jobs
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val scopes = try Seq(300L, 700L).map { n =>
      pool.submit(() => StatementMetrics.measure(spark) {
        barrier.await()
        val c = spark.range(n).repartition(3).groupBy((col("id") % 7).as("g")).count().collect()
        barrier.await()
        c
      }._2)
    }.map(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    finally pool.shutdown()
    val Seq(a, b) = scopes.map(m => m.jobs.map(_.id).toSet)
    assert(a.nonEmpty && b.nonEmpty)
    assert(a.intersect(b).isEmpty, s"scopes share jobs: $a / $b")
    scopes.foreach { m =>
      assert(spark.sparkContext.statusTracker.getJobIdsForTag(m.tag).toSet == m.jobs.map(_.id).toSet,
        m.line)
    }
  }

  test("statement recorder: a scope without an action reports no jobs at once") {
    val (_, m) = StatementMetrics.measure(spark)(spark.range(10).filter(col("id") > 3))
    assert(m.jobs.isEmpty && m.tasks == 0L, m.line)
  }

  test("statement recorder: a caller's job group and tags survive a nested scope") {
    val sc = spark.sparkContext
    sc.setJobGroup("caller-group", "caller group")
    sc.addJobTag("caller-tag")
    try {
      val ((_, inner), outer) = StatementMetrics.measure(spark)(
        StatementMetrics.measure(spark)(spark.range(100).repartition(2).count()))
      assert(sc.getLocalProperty("spark.jobGroup.id") == "caller-group")
      assert(sc.getJobTags() == Set("caller-tag"))
      assert(inner.jobs.nonEmpty && outer.jobs.map(_.id) == inner.jobs.map(_.id))
      assert(sc.statusTracker.getJobIdsForGroup("caller-group").toSet.subsetOf(
        sc.statusTracker.getJobIdsForTag("caller-tag").toSet))
      assert(inner.jobs.map(_.id).toSet.subsetOf(sc.statusTracker.getJobIdsForGroup("caller-group").toSet))
    } finally { sc.clearJobGroup(); sc.removeJobTag("caller-tag") }
  }

  test("one statement recorder and one session builder: the consolidation cannot regrow") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    def sources(root: String): Seq[Path] = {
      val dir = Paths.get(root)
      assert(Files.isDirectory(dir), s"$root not found from ${Paths.get("").toAbsolutePath}")
      Files.walk(dir).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
    }
    def holders(paths: Seq[Path], needle: String): Set[String] =
      paths.filter(p => Files.readString(p).contains(needle)).map(_.getFileName.toString).toSet
    val main = sources("src/main/scala")
    val all = main ++ sources("src/test/scala")
    // the needles are split so this file does not hold them itself
    assert(holders(all, "addSparkListener" + "(") ==
      Set("StatementMetrics.scala"), "a second SparkListener copy: count through StatementMetrics")
    // the status store is read only after a recorder's drain (the
    // cross-checks above), never after a sleep
    assert(holders(all, "status" + "Tracker") == Set("PlanSpec.scala"),
      "a status-store read outside the recorder's cross-checks")
    assert(holders(main, "SparkSession" + ".builder()") == Set("SparkEntry.scala"),
      "an entry point builds its own session: use SparkEntry.localSession")
    // one snapshot anchor: the identity proof over a delta overlay's
    // base, the disk+live delta-log merge and the manifest-intact check
    // live in SnapshotAnchor; setGraph and reanchor alone assign it
    def occurrences(paths: Seq[Path], needle: String): Map[String, Int] =
      paths.map(p => p.getFileName.toString -> (Files.readString(p).split(
        java.util.regex.Pattern.quote(needle), -1).length - 1)).filter(_._2 > 0).toMap
    assert(holders(main, ".base" + " eq") == Set("GraphCatalog.scala"),
      "a second copy of the snapshot identity proof: use SnapshotAnchor.liveDelta")
    assert(holders(main, "\"_c" + "k\"") == Set("GraphCatalog.scala"),
      "a second disk+live delta-log merge: use SnapshotAnchor.deltaLog")
    assert(holders(main, "readManifest(dir)" + " ==") == Set("GraphCatalog.scala"),
      "a second manifest-intact check: use SnapshotAnchor.intact")
    assert(occurrences(main, ".anchor" + " = ") == Map("GraftSession.scala" -> 2),
      "the snapshot anchor is assigned outside setGraph/reanchor")
    // one column-type probe, catching non-fatal errors only
    assert(occurrences(main, "schema.head" + ".dataType") == Map("CypherCompiler.scala" -> 1),
      "a second column-type probe: use CypherCompiler.colType")
    // one relationship identity: setGraph alone decides whether an
    // edge frame carries eid (SnapshotStore reads pre-v4 snapshots)
    val eidProbes = occurrences(main, "columns.contains(\"" + "eid\")")
    assert(eidProbes.keySet == Set("GraftSession.scala", "SnapshotStore.scala") &&
      eidProbes("GraftSession.scala") == 1,
      s"an eid-less fallback outside setGraph: $eidProbes")
    assert(holders(main, "xxhash64" + "(") == Set("GraphViews.scala"),
      "a second derived relationship id: use GraphViews.viewEid")
    // one driver-resident delta: the write buffer's LocalRelation is
    // built in DeltaSide.localFrame, for the buffered commit and the
    // COMMIT restamp, and only overlayByKey resolves by anti join
    assert(holders(main, "colTypes" + ".keysIterator") == Set("DeltaLog.scala"),
      "a second buffer-to-LocalRelation construction: use DeltaSide.localFrame")
    assert(occurrences(main, "localFrame" + "(") == Map("DeltaLog.scala" -> 1, "GraftSession.scala" -> 2),
      "the buffered commit and the COMMIT restamp share DeltaSide.localFrame")
    assert(holders(main, "\"_ov" + "_k\"") == Set("PropertyGraph.scala"),
      "a second overlay anti join: use PropertyGraph.overlayByKey")
    // one driver-side row cap
    assert(holders(all, "limit(1000" + "1)").isEmpty,
      "a hand-copied bounded collect: use DeltaSide.collectBounded")
    // one SET-value evaluator, Spark's: the buffered writes project
    // setValueColumn over their driver rows, so no driver-side SET
    // arithmetic exists; the buffered column fit exists once, beside
    // the write buffer; and apoc.merge.relationship shares the buffered
    // relationship upsert instead of keeping its own
    assert(holders(main, "Driver" + "Eval").isEmpty,
      "a driver SET-value evaluator: project setValueColumn (GraftSession.setValues)")
    assert(holders(main, "=> x " + "/ y").isEmpty,
      "driver-side SET arithmetic: project setValueColumn (GraftSession.setValues)")
    assert(occurrences(main, "case (x: Long, " + "DoubleType)") == Map("DeltaLog.scala" -> 1),
      "a second buffered column fit: use DeltaBuffer.fits")
    assert(holders(all, "mergeRelByIds" + "Buffered").isEmpty,
      "a second buffered relationship MERGE: use mutateRelUpsertBuffered")
  }
}
