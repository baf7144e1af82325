package graft.perfbench

import java.util.SplittableRandom
import scala.collection.mutable

/** Zipf(s) sampler over ranks 0 until n (rank 0 most frequent). */
final class Zipf(n: Int, s: Double) {
  require(n > 0, "Zipf over no ranks")
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  /** `k` draws stratified over the distribution: the i-th falls in the
    * i-th k-quantile, in shuffled order. Every block then holds about
    * the same mix of hot and cold ranks, whatever the seed. */
  def stratified(k: Int, r: SplittableRandom): IndexedSeq[Int] =
    Shuffle((0 until k).map(i => rank((i + r.nextDouble()) / k)), r)

  private def rank(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

object Shuffle {
  /** Fisher-Yates with the given generator. */
  def apply[A](xs: IndexedSeq[A], r: SplittableRandom): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }
}

/** A statement as sent: text plus parameters. */
final case class Stmt(label: String, query: String, params: Map[String, Any])

// ---------------------------------------------------------------- oltp

sealed trait OltpOp { def stmt: Stmt }
final case class OltpRead(template: Int, key: Long, nation: Int) extends OltpOp {
  def stmt: Stmt = Stmt(Oltp.Templates(template)._1, Oltp.Templates(template)._2,
    Map("k" -> key, "n" -> nation.toLong))
}
/** One explicit transaction: BEGIN, this MERGE ... SET, COMMIT. */
final case class OltpWrite(key: Long, value: String) extends OltpOp {
  def stmt: Stmt = Stmt("merge", Oltp.WriteQuery, Map("k" -> key, "v" -> value))
}

/** Parameterised OLTP statement stream: five read templates with
  * Zipf-skewed customer keys and one MERGE ... SET transaction per
  * block of ten reads. */
object Oltp {
  val Templates: IndexedSeq[(String, String)] = IndexedSeq(
    "point" -> "MATCH (c:customer {c_custkey: $k}) RETURN c.c_name AS name, c.c_acctbal AS bal",
    "hop1" -> ("MATCH (c:customer {c_custkey: $k})-[:PLACED]->(o:order) " +
      "RETURN o.o_orderkey AS ok ORDER BY ok"),
    "hop2" -> ("MATCH (c:customer {c_custkey: $k})-[:PLACED]->(o:order)-[:CONTAINS]->(p:part) " +
      "RETURN o.o_orderkey AS ok, p.p_partkey AS pk ORDER BY ok, pk LIMIT 10"),
    "rollup" -> ("MATCH (c:customer)-[:IN]->(n:nation {n_nationkey: $n}) " +
      "RETURN n.n_name AS name, count(c) AS cnt"),
    "orders" -> ("MATCH (c:customer {c_custkey: $k})-[:PLACED]->(o:order) " +
      "RETURN count(o) AS n, max(o.o_totalprice) AS mx"))
  val WriteQuery = "MERGE (c:customer {c_custkey: $k}) " +
    "ON CREATE SET c.c_comment = $v ON MATCH SET c.c_comment = $v"
  val ReadsPerTemplate = 2
  val ZipfS = 1.1

  /** Blocks of ten reads (the templates in order, twice) and one
    * write. Keys are Zipf-skewed over a seeded popularity order,
    * stratified per block; the template order is fixed, so every run
    * warms the same code paths in the same sequence. */
  def stream(seed: Long, keys: IndexedSeq[Long]): Iterator[OltpOp] = {
    val r = new SplittableRandom(seed * 7919L)
    val hot = Shuffle(keys.sorted, new SplittableRandom(seed ^ 0x5DEECE66DL))
    val zipf = new Zipf(hot.size, ZipfS)
    Iterator.from(0).flatMap { b =>
      val ranks = zipf.stratified(BlockSize, r)
      val reads = Seq.fill(ReadsPerTemplate)(Templates.indices).flatten.zip(ranks)
        .map { case (t, k) => OltpRead(t, hot(k), r.nextInt(25)): OltpOp }
      reads :+ OltpWrite(hot(ranks.last), s"s$seed-b$b")
    }
  }

  /** Block length: reads plus the write. */
  val BlockSize: Int = Templates.size * ReadsPerTemplate + 1

  /** Expected rows of a read, from the plain-Spark reference. */
  def expected(ref: Reference, op: OltpRead): Seq[Seq[Any]] = op.template match {
    case 0 => ref.customers.get(op.key).map(c => Seq(c._1, c._2)).toSeq
    case 1 => ref.custOrders.getOrElse(op.key, Nil).map(o => Seq(o))
    case 2 => ref.custOrders.getOrElse(op.key, Nil)
        .flatMap(o => ref.lines.getOrElse(o, Nil).map(p => (o, p))).sorted.take(10)
        .map { case (o, p) => Seq(o, p) }
    case 3 =>
      val n = ref.customers.values.count(_._3 == op.nation).toLong
      if (n == 0) Nil else Seq(Seq(ref.nations(op.nation)._1, n))
    case 4 =>
      val os = ref.custOrders.getOrElse(op.key, Nil)
      if (os.isEmpty) Seq(Seq[Any](0L, null))
      else Seq(Seq[Any](os.size.toLong, os.map(ref.orders(_)._2).max))
  }
}

// -------------------------------------------------------------- ingest

sealed trait IngestOp { def stmt: Stmt; def rowsWritten: Int; def payloadBytes: Long }
final case class Upsert(rows: Seq[(Long, String)]) extends IngestOp {
  def stmt: Stmt = Stmt("upsert", ("UNWIND $rows AS row MERGE (p:item {ik: row.k}) " +
    "ON CREATE SET p.v = row.v ON MATCH SET p.v = row.v"),
    Map("rows" -> rows.map { case (k, v) => Map("k" -> k, "v" -> v) }))
  def rowsWritten: Int = rows.size
  def payloadBytes: Long = rows.map(r => 8L + r._2.length).sum
}
final case class Link(pairs: Seq[(Long, Long)]) extends IngestOp {
  def stmt: Stmt = Stmt("link",
    "UNWIND $rows AS row MATCH (a:item {ik: row.a}), (b:item {ik: row.b}) MERGE (a)-[:LINK]->(b)",
    Map("rows" -> pairs.map { case (a, b) => Map("a" -> a, "b" -> b) }))
  def rowsWritten: Int = pairs.size
  def payloadBytes: Long = 16L * pairs.size
}
final case class Delete(keys: Seq[Long]) extends IngestOp {
  def stmt: Stmt = Stmt("delete", "UNWIND $keys AS k MATCH (p:item {ik: k}) DETACH DELETE p",
    Map("keys" -> keys))
  def rowsWritten: Int = keys.size
  def payloadBytes: Long = 8L * keys.size
}
/** Read back just-written keys; `expected` holds the live ones, by key. */
final case class ReadBack(keys: Seq[Long], expected: Seq[(Long, String)]) extends IngestOp {
  def stmt: Stmt = Stmt("readback",
    "MATCH (p:item) WHERE p.ik IN $keys RETURN p.ik AS k, p.v AS v ORDER BY k",
    Map("keys" -> keys))
  def rowsWritten: Int = 0
  def payloadBytes: Long = 0L
}

/** Seeded ingest batches over `:item {ik, v}` nodes and `LINK`
  * relationships. The generator keeps its own model of the live keys,
  * their values and the links, which every read-back and the final
  * check compare against. Pull an op only when it will be executed:
  * the model already includes it. */
final class IngestGen(seed: Long, firstKey: Long = 1L) extends Iterator[IngestOp] {
  private val r = new SplittableRandom(seed * 31L + 17L)
  private val liveKeys = mutable.ArrayBuffer.empty[Long]
  val values: mutable.Map[Long, String] = mutable.Map.empty
  val links: mutable.Set[(Long, Long)] = mutable.Set.empty
  private var nextKey = firstKey
  private var n = 0
  private var lastUpserted = Seq.empty[Long]
  private var lastDeleted = Seq.empty[Long]

  def hasNext: Boolean = true

  private def pickLive(k: Int): Seq[Long] = {
    val chosen = mutable.LinkedHashSet.empty[Long]
    val want = math.min(k, liveKeys.size)
    while (chosen.size < want) chosen += liveKeys(r.nextInt(liveKeys.size))
    chosen.toSeq
  }

  def next(): IngestOp = {
    val kind = IngestGen.Cycle(n % IngestGen.Cycle.size)
    n += 1
    kind match {
      case "upsert" =>
        val updates = pickLive(IngestGen.Updates)
        val creates = Seq.fill(IngestGen.Creates) { val k = nextKey; nextKey += 1; liveKeys += k; k }
        val rows = (creates ++ updates).map(k => k -> s"v$seed-$n-${r.nextInt(1000000)}")
        rows.foreach { case (k, v) => values(k) = v }
        lastUpserted = rows.map(_._1)
        Upsert(rows)
      case "link" =>
        val pairs = Seq.fill(IngestGen.Links) {
          val a = liveKeys(r.nextInt(liveKeys.size))
          var b = liveKeys(r.nextInt(liveKeys.size))
          while (b == a) b = liveKeys(r.nextInt(liveKeys.size))
          (a, b)
        }
        links ++= pairs
        Link(pairs)
      case "delete" =>
        val keys = pickLive(IngestGen.Deletes)
        keys.foreach { k => liveKeys -= k; values -= k }
        links.filterInPlace { case (a, b) => !keys.contains(a) && !keys.contains(b) }
        lastDeleted = keys
        Delete(keys)
      case "readback" =>
        val keys = (lastUpserted ++ lastDeleted).distinct
        ReadBack(keys, keys.flatMap(k => values.get(k).map(k -> _)).sortBy(_._1))
    }
  }
}

object IngestGen {
  /** With a save after every [[SaveEvery]] batches, the two
    * read-backs run one and three batches after a save. */
  val Cycle: IndexedSeq[String] =
    IndexedSeq("upsert", "readback", "upsert", "link", "upsert", "delete", "link", "readback")
  val Creates = 12
  val Updates = 8
  val Links = 10
  val Deletes = 4
  /** An incremental save runs after every this many batches. */
  val SaveEvery = 4
}

// ----------------------------------------------------------- analytics

/** The fixed analytics pass: distinct iterative statements, each run
  * once per pass. The seed picks the data and the two customer-key
  * bounds. */
final case class AnalyticsPass(varlenBound: Int, shortestBound: Int) {
  val stmts: IndexedSeq[Stmt] = IndexedSeq(
    Stmt("pageRank", "CALL gds.pageRank('IN', 10) YIELD node_id, iscore RETURN node_id, iscore", Map.empty),
    Stmt("wcc", "CALL gds.wcc('IN') YIELD node_id, component WHERE node_id % 10 = 3 " +
      "RETURN node_id, component", Map.empty),
    Stmt("closeness", "CALL gds.closeness('IN', 4, 97, 2) YIELD node_id, n_reachable, sum_dist, iscore " +
      "RETURN node_id, n_reachable, sum_dist, iscore", Map.empty),
    Stmt("varlen", "MATCH (c:customer)-[:PLACED|CONTAINS|IN*1..3]->(x) " +
      s"WHERE c.c_custkey <= $varlenBound RETURN count(DISTINCT id(x)) AS n", Map.empty),
    Stmt("shortestPath", "MATCH p = shortestPath((c:customer)-[:IN*1..4]->(x)) " +
      s"WHERE c.c_custkey <= $shortestBound " +
      "RETURN c.c_custkey AS c_custkey, id(x) AS node_id, length(p) AS dist", Map.empty),
    Stmt("twoHop", "MATCH (c:customer)-[:PLACED]->(o:order)-[:CONTAINS]->(p:part) " +
      "RETURN c.c_mktsegment AS seg, count(*) AS n", Map.empty))

  /** Expected rows per statement, sorted, from the plain-Spark reference. */
  def expected(ref: Reference): IndexedSeq[Seq[Seq[Any]]] = {
    def cid(k: Long) = k * 10 + 3
    def sid(k: Long) = k * 10 + 5
    def nid(k: Int) = k * 10L + 2
    def rid(k: Int) = k * 10L + 1
    val regionOf = ref.nations.map { case (n, (_, r)) => n -> r }
    // PageRank over IN edges, scaled-Long recurrence of gds.pageRank
    val allIds: Seq[Long] = ref.regions.map(rid) ++ ref.nations.keys.map(nid) ++
      ref.customers.keys.map(cid) ++ ref.suppliers.keys.map(sid) ++
      ref.partKeys.map(_ * 10 + 6) ++ ref.orders.keys.map(_ * 10 + 4)
    val inEdges: Seq[(Long, Long)] = ref.customers.toSeq.map { case (k, c) => cid(k) -> nid(c._3) } ++
      ref.suppliers.toSeq.map { case (k, n) => sid(k) -> nid(n) } ++
      ref.nations.toSeq.map { case (n, (_, r)) => nid(n) -> rid(r) }
    val outDeg = inEdges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    var rank: Map[Long, Long] = allIds.map(_ -> 1000000L).toMap
    (1 to 10).foreach { _ =>
      val msg = inEdges.groupBy(_._2).map { case (d, es) => d -> es.map(e => rank(e._1) / outDeg(e._1)).sum }
      rank = allIds.map(id => id -> (150000L + msg.getOrElse(id, 0L) * 85 / 100)).toMap
    }
    val pageRank = rank.toSeq.map { case (k, v) => Seq(k, v) }
    // WCC over IN: one component per region, labeled by its min id
    val members: Seq[(Int, Long)] = ref.regions.map(r => r -> rid(r)) ++
      ref.nations.toSeq.map { case (n, (_, r)) => r -> nid(n) } ++
      ref.customers.toSeq.map { case (k, c) => regionOf(c._3) -> cid(k) } ++
      ref.suppliers.toSeq.map { case (k, n) => regionOf(n) -> sid(k) }
    val compOf = members.groupBy(_._1).map { case (r, ms) => r -> ms.map(_._2).min }
    val wcc = ref.customers.toSeq.map { case (k, c) => Seq(cid(k), compOf(regionOf(c._3))) }
    // closeness over the IN forest (bounded at 4 hops = tree diameter),
    // closed form per node kind; sampled sources id % 97 < 2
    val leavesPerNation: Map[Int, Long] = (ref.customers.values.map(_._3) ++ ref.suppliers.values)
      .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
    def lnn(n: Int) = leavesPerNation.getOrElse(n, 0L)
    val nr: Map[Int, Long] = ref.nations.values.groupBy(_._2).map { case (r, ns) => r -> ns.size.toLong }
    val lr: Map[Int, Long] = ref.nations.toSeq.groupBy(_._2._2)
      .map { case (r, ns) => r -> ns.map(n => lnn(n._1)).sum }
    val scored: Seq[(Long, Long, Long)] =
      ref.regions.filter(nr.contains).map(r => (rid(r), nr(r) + lr(r), nr(r) + 2 * lr(r))) ++
      ref.nations.toSeq.map { case (n, (_, r)) =>
        (nid(n), nr(r) + lr(r), 1 + lnn(n) + 2 * (nr(r) - 1) + 3 * (lr(r) - lnn(n))) } ++
      (ref.customers.toSeq.map { case (k, c) => cid(k) -> c._3 } ++
        ref.suppliers.toSeq.map { case (k, n) => sid(k) -> n }).map { case (id, n) =>
        val r = regionOf(n)
        (id, nr(r) + lr(r), 3 + 2 * (lnn(n) - 1) + 3 * (nr(r) - 1) + 4 * (lr(r) - lnn(n)))
      }
    val closeness = scored.filter(_._1 % 97 < 2)
      .map { case (id, reach, sd) => Seq(id, reach, sd, reach * 1000000L / sd) }
    // *1..3 over PLACED|CONTAINS|IN from the bounded customers
    val starts = ref.customers.filter(_._1 <= varlenBound)
    val orders = starts.keys.toSeq.flatMap(ref.custOrders.getOrElse(_, Nil))
    val reach = orders.map(_ * 10 + 4) ++ orders.flatMap(ref.lines.getOrElse(_, Nil)).map(_ * 10 + 6) ++
      starts.values.map(c => nid(c._3)) ++ starts.values.map(c => rid(regionOf(c._3)))
    val varlen = Seq(Seq(reach.distinct.size.toLong))
    val shortest = ref.customers.toSeq.filter(_._1 <= shortestBound).flatMap { case (k, c) =>
      Seq(Seq(k, nid(c._3), 1L), Seq(k, rid(regionOf(c._3)), 2L))
    }
    val twoHop = ref.orders.toSeq.groupBy { case (_, (ck, _)) => ref.customers(ck)._4 }
      .map { case (seg, os) => Seq(seg, os.map(o => ref.lines.getOrElse(o._1, Nil).size.toLong).sum) }
      .toSeq
    IndexedSeq(pageRank, wcc, closeness, varlen, shortest, twoHop).map(Answers.sorted)
  }
}

object AnalyticsPass {
  def apply(seed: Long): AnalyticsPass = {
    val r = new SplittableRandom(seed * 131L + 7L)
    AnalyticsPass(150 + r.nextInt(100), 400 + r.nextInt(200))
  }
}

/** Row normalisation for answer comparison. */
object Answers {
  def norm(v: Any): Any = v match {
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case f: Float => f.toDouble
    case s: scala.collection.Seq[_] => s.map(norm).toList
    case other => other
  }
  private val rowOrder: Ordering[Seq[Any]] = Ordering.by((r: Seq[Any]) => r.map(String.valueOf).mkString("\u0001"))
  def sorted(rows: Seq[Seq[Any]]): Seq[Seq[Any]] = rows.map(_.map(norm).toList).sorted(rowOrder)
  def same(actual: Seq[Seq[Any]], expected: Seq[Seq[Any]], ordered: Boolean): Boolean = {
    val a = actual.map(_.map(norm).toList)
    val e = expected.map(_.map(norm).toList)
    if (ordered) a == e else sorted(a) == sorted(e)
  }
}
