package graft

import graft.bolt.{BoltEndpoint, PackStream}
import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.net.Socket
import org.scalatest.funsuite.AnyFunSuite

/** Drives the Bolt endpoint with a minimal raw-socket client speaking
  * the published Bolt 4.4 framing: handshake, HELLO auth, autocommit
  * RUN/PULL with parameters, FAILURE→IGNORED→RESET recovery, and the
  * explicit-transaction refusal. */
class BoltSpec extends AnyFunSuite {

  private lazy val spark = org.apache.spark.sql.SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private final class Client(port: Int) {
    private val sock = new Socket("127.0.0.1", port)
    private val in = new DataInputStream(sock.getInputStream)
    private val out = new DataOutputStream(sock.getOutputStream)

    def handshake(proposal: Int = 0x00000404): Int = {
      out.writeInt(0x6060B017)
      out.writeInt(proposal); out.writeInt(0); out.writeInt(0); out.writeInt(0)
      out.flush()
      in.readInt()
    }

    def send(tag: Int, fields: Any*): Unit = {
      val body = new ByteArrayOutputStream()
      val ps = new DataOutputStream(body)
      PackStream.writeStructHeader(ps, tag, fields.size)
      fields.foreach(PackStream.writeValue(ps, _))
      val bytes = body.toByteArray
      out.writeShort(bytes.length); out.write(bytes); out.writeShort(0)
      out.flush()
    }

    def recv(): (Int, Seq[Any]) = {
      val buf = new ByteArrayOutputStream()
      var size = in.readUnsignedShort()
      while (size == 0) size = in.readUnsignedShort()
      while (size != 0) {
        val chunk = new Array[Byte](size); in.readFully(chunk); buf.write(chunk)
        size = in.readUnsignedShort()
      }
      val ps = new DataInputStream(new ByteArrayInputStream(buf.toByteArray))
      PackStream.readValue(ps) match {
        case PackStream.Struct(tag, fields) => (tag, fields)
        case other => fail(s"not a message: $other")
      }
    }

    def close(): Unit = sock.close()
  }

  private val SUCCESS = 0x70; private val RECORD = 0x71
  private val IGNORED = 0x7E; private val FAILURE = 0x7F

  test("handshake negotiates 4.4 and rejects unknown majors") {
    val ep = new BoltEndpoint(new GraftSession(spark), 0, "127.0.0.1")
    val port = ep.start()
    try {
      val c = new Client(port)
      assert(c.handshake() == 0x00000404)
      c.close()
      val c2 = new Client(port)
      assert(c2.handshake(0x00000003) == 0) // Bolt 3 only → no match
      c2.close()
    } finally ep.stop()
  }

  test("a FAILURE sent just before the server closes the connection reaches the client") {
    val ep = new BoltEndpoint(new GraftSession(spark), 0, "127.0.0.1")
    val port = ep.start()
    try {
      val c = new Client(port)
      assert(c.handshake() == 0x00000404)
      c.send(0x10, "RETURN 1 AS x", Map.empty[String, Any], Map.empty[String, Any]) // RUN before HELLO
      val (t, f) = c.recv()
      assert(t == FAILURE)
      assert(f.head.asInstanceOf[Map[String, Any]]("message") == "expected HELLO")
      intercept[java.io.EOFException](c.recv()) // then the server closed
      c.close()
    } finally ep.stop()
  }

  test("autocommit RUN/PULL round-trips rows with parameters") {
    val session = new GraftSession(spark)
    session.cypher("CREATE (a:dog {name:'Arne'})-[:SNIFFS]->(b:dog {name:'Bosse'})")
    val ep = new BoltEndpoint(session, 0, "127.0.0.1")
    val port = ep.start()
    try {
      val c = new Client(port)
      assert(c.handshake() == 0x00000404)
      c.send(0x01, Map("user_agent" -> "graft-test/1.0")) // HELLO, auth off
      val (t0, f0) = c.recv()
      assert(t0 == SUCCESS)
      assert(f0.head.asInstanceOf[Map[String, Any]]("server") == "Neo4j/5.26.0")
      c.send(0x10, // RUN with a parameter
        "MATCH (a:dog)-[:SNIFFS]->(b:dog) WHERE a.name = $who RETURN a.name AS a, b.name AS b",
        Map("who" -> "Arne"), Map.empty[String, Any])
      val (t1, f1) = c.recv()
      assert(t1 == SUCCESS)
      assert(f1.head.asInstanceOf[Map[String, Any]]("fields") == Seq("a", "b"))
      c.send(0x3F, Map("n" -> -1L)) // PULL all
      val (t2, f2) = c.recv()
      assert(t2 == RECORD && f2.head == Seq("Arne", "Bosse"))
      assert(c.recv()._1 == SUCCESS)
      // FAILURE → IGNORED → RESET recovery
      c.send(0x10, "THIS IS NOT CYPHER", Map.empty[String, Any], Map.empty[String, Any])
      val (t3, f3) = c.recv()
      assert(t3 == FAILURE)
      assert(f3.head.asInstanceOf[Map[String, Any]]("code").toString.contains("SyntaxError"))
      c.send(0x3F, Map("n" -> -1L))
      assert(c.recv()._1 == IGNORED)
      c.send(0x0F) // RESET
      assert(c.recv()._1 == SUCCESS)
      c.send(0x02) // GOODBYE
      c.close()
    } finally ep.stop()
  }

  test("explicit transactions: ROLLBACK discards, COMMIT publishes, RESET rolls back") {
    val session = new GraftSession(spark)
    val ep = new BoltEndpoint(session, 0, "127.0.0.1")
    val port = ep.start()
    try {
      val c = new Client(port)
      assert(c.handshake() == 0x00000404)
      c.send(0x01, Map("user_agent" -> "graft-test/1.0"))
      assert(c.recv()._1 == SUCCESS)

      def runDiscard(q: String): Unit = {
        c.send(0x10, q, Map.empty[String, Any], Map.empty[String, Any])
        assert(c.recv()._1 == SUCCESS)
        c.send(0x2F, Map("n" -> -1L)) // DISCARD
        assert(c.recv()._1 == SUCCESS)
      }
      def countTmp(): Long = {
        c.send(0x10, "MATCH (x:tmp) RETURN count(x) AS n",
          Map.empty[String, Any], Map.empty[String, Any])
        assert(c.recv()._1 == SUCCESS)
        c.send(0x3F, Map("n" -> -1L))
        val (tr, fr) = c.recv()
        assert(tr == RECORD)
        assert(c.recv()._1 == SUCCESS)
        fr.head.asInstanceOf[Seq[Any]].head.asInstanceOf[Long]
      }

      // BEGIN → write → ROLLBACK: nothing published
      c.send(0x11, Map.empty[String, Any]) // BEGIN
      assert(c.recv()._1 == SUCCESS)
      runDiscard("CREATE (x:tmp {k: 1})")
      c.send(0x13) // ROLLBACK
      assert(c.recv()._1 == SUCCESS)
      assert(countTmp() == 0L)

      // BEGIN → write → read-your-writes → COMMIT: published
      c.send(0x11, Map.empty[String, Any])
      assert(c.recv()._1 == SUCCESS)
      runDiscard("CREATE (x:tmp {k: 2})")
      assert(countTmp() == 1L) // reads inside the tx see its writes
      c.send(0x12) // COMMIT
      val (tc, fc) = c.recv()
      assert(tc == SUCCESS)
      assert(fc.head.asInstanceOf[Map[String, Any]].contains("bookmark"))
      assert(countTmp() == 1L)

      // nested BEGIN refuses; COMMIT with no tx refuses
      c.send(0x11, Map.empty[String, Any])
      assert(c.recv()._1 == SUCCESS)
      c.send(0x11, Map.empty[String, Any])
      assert(c.recv()._1 == FAILURE)
      c.send(0x0F) // RESET: rolls the open tx back and clears FAILURE
      assert(c.recv()._1 == SUCCESS)
      c.send(0x12) // COMMIT with nothing open
      assert(c.recv()._1 == FAILURE)
      c.send(0x0F)
      assert(c.recv()._1 == SUCCESS)

      // disconnect with an open tx: the lock is released and the
      // write rolled back — a fresh connection can immediately BEGIN
      c.send(0x11, Map.empty[String, Any])
      assert(c.recv()._1 == SUCCESS)
      runDiscard("CREATE (x:tmp {k: 3})")
      c.close() // vanish mid-transaction

      val c2 = new Client(port)
      assert(c2.handshake() == 0x00000404)
      c2.send(0x01, Map("user_agent" -> "graft-test/1.0"))
      assert(c2.recv()._1 == SUCCESS)
      c2.send(0x11, Map.empty[String, Any]) // BEGIN must not block
      assert(c2.recv()._1 == SUCCESS)
      c2.send(0x10, "MATCH (x:tmp) RETURN count(x) AS n",
        Map.empty[String, Any], Map.empty[String, Any])
      assert(c2.recv()._1 == SUCCESS)
      c2.send(0x3F, Map("n" -> -1L))
      val (t2, f2) = c2.recv()
      assert(t2 == RECORD && f2.head.asInstanceOf[Seq[Any]].head == 1L) // k:3 rolled back
      assert(c2.recv()._1 == SUCCESS)
      c2.send(0x13)
      assert(c2.recv()._1 == SUCCESS)
      c2.send(0x02)
      c2.close()
    } finally ep.stop()
  }

  test("concurrent connections interleave; a held transaction doesn't block autocommit") {
    val session = new GraftSession(spark)
    session.cypher("CREATE (:conc {v: 1})")
    val ep = new BoltEndpoint(session, 0, "127.0.0.1")
    val port = ep.start()
    try {
      def open(): Client = {
        val c = new Client(port)
        assert(c.handshake() == 0x00000404)
        c.send(0x01, Map("user_agent" -> "graft-test/1.0"))
        assert(c.recv()._1 == SUCCESS)
        c
      }
      // two SIMULTANEOUS connections, RUN/PULL interleaved — the old
      // accept loop served one connection to completion, so c2's HELLO
      // alone would hang here
      val c1 = open()
      val c2 = open()
      c1.send(0x10, "MATCH (x:conc) RETURN count(x) AS n",
        Map.empty[String, Any], Map.empty[String, Any])
      c2.send(0x10, "MATCH (x:conc) RETURN count(x) AS n",
        Map.empty[String, Any], Map.empty[String, Any])
      assert(c1.recv()._1 == SUCCESS)
      assert(c2.recv()._1 == SUCCESS)
      c2.send(0x3F, Map("n" -> -1L))
      c1.send(0x3F, Map("n" -> -1L))
      val (tr2, fr2) = c2.recv()
      assert(tr2 == RECORD && fr2.head.asInstanceOf[Seq[Any]].head == 1L)
      assert(c2.recv()._1 == SUCCESS)
      val (tr1, fr1) = c1.recv()
      assert(tr1 == RECORD && fr1.head.asInstanceOf[Seq[Any]].head == 1L)
      assert(c1.recv()._1 == SUCCESS)

      // c1 holds an open transaction with a write; c2's autocommit
      // write COMPLETES meanwhile (no session-wide lock tenure), and
      // c2 never sees c1's uncommitted row
      c1.send(0x11, Map.empty[String, Any]) // BEGIN
      assert(c1.recv()._1 == SUCCESS)
      c1.send(0x10, "CREATE (x:conc {v: 2})",
        Map.empty[String, Any], Map.empty[String, Any])
      assert(c1.recv()._1 == SUCCESS)
      c1.send(0x2F, Map("n" -> -1L))
      assert(c1.recv()._1 == SUCCESS)
      def count(c: Client): Long = {
        c.send(0x10, "MATCH (x:conc) RETURN count(x) AS n",
          Map.empty[String, Any], Map.empty[String, Any])
        assert(c.recv()._1 == SUCCESS)
        c.send(0x3F, Map("n" -> -1L))
        val (tr, fr) = c.recv()
        assert(tr == RECORD)
        assert(c.recv()._1 == SUCCESS)
        fr.head.asInstanceOf[Seq[Any]].head.asInstanceOf[Long]
      }
      c2.send(0x10, "CREATE (x:conc {v: 3})",
        Map.empty[String, Any], Map.empty[String, Any])
      assert(c2.recv()._1 == SUCCESS) // would deadlock under lock tenure
      c2.send(0x2F, Map("n" -> -1L))
      assert(c2.recv()._1 == SUCCESS)
      assert(count(c2) == 2L) // v1 + v3; c1's v2 invisible
      c1.send(0x12) // COMMIT — c1's snapshot never saw v3 (last-writer-wins)
      assert(c1.recv()._1 == SUCCESS)
      c1.send(0x02); c1.close()
      c2.send(0x02); c2.close()
    } finally ep.stop()
  }

  test("PULL n streams incrementally with has_more") {
    val ep = new BoltEndpoint(new GraftSession(spark), 0, "127.0.0.1")
    val port = ep.start()
    try {
      val c = new Client(port)
      assert(c.handshake() == 0x00000404)
      c.send(0x01, Map("user_agent" -> "graft-test/1.0"))
      assert(c.recv()._1 == SUCCESS)
      c.send(0x10, "UNWIND range(1, 50) AS x RETURN x",
        Map.empty[String, Any], Map.empty[String, Any])
      assert(c.recv()._1 == SUCCESS)
      c.send(0x3F, Map("n" -> 1L)) // PULL one row only
      val (t1, f1) = c.recv()
      assert(t1 == RECORD && f1.head.asInstanceOf[Seq[Any]].head == 1L)
      val (t2, f2) = c.recv()
      assert(t2 == SUCCESS)
      assert(f2.head.asInstanceOf[Map[String, Any]].get("has_more").contains(true))
      c.send(0x3F, Map("n" -> -1L)) // drain the rest
      var records = 0
      var done = false
      while (!done) c.recv() match {
        case (RECORD, _)  => records += 1
        case (SUCCESS, _) => done = true
        case other        => fail(s"unexpected $other")
      }
      assert(records == 49)
      c.send(0x02); c.close()
    } finally ep.stop()
  }

  test("RETURN n/r emit PackStream Node and Relationship structs; 5.x adds element_id") {
    val session = new GraftSession(spark)
    session.cypher("CREATE (a:dog {name:'Arne'})-[:SNIFFS {since: 2020}]->(b:dog {name:'Bosse'})")
    val ep = new BoltEndpoint(session, 0, "127.0.0.1")
    val port = ep.start()
    try {
      val c = new Client(port)
      assert(c.handshake() == 0x00000404)
      c.send(0x01, Map("user_agent" -> "graft-test/1.0"))
      assert(c.recv()._1 == SUCCESS)
      // Node struct (tag 0x4E): id, labels, properties — props as a
      // typed map, absent/null properties omitted
      c.send(0x10, "MATCH (n:dog) WHERE n.name = 'Arne' RETURN n",
        Map.empty[String, Any], Map.empty[String, Any])
      assert(c.recv()._1 == SUCCESS)
      c.send(0x3F, Map("n" -> -1L))
      val (tn, fn) = c.recv()
      assert(tn == RECORD)
      val node = fn.head.asInstanceOf[Seq[Any]].head.asInstanceOf[PackStream.Struct]
      assert(node.tag == 0x4E)
      assert(node.fields.size == 3)
      assert(node.fields(1) == Seq("dog"))
      assert(node.fields(2) == Map("name" -> "Arne"))
      assert(c.recv()._1 == SUCCESS)
      // Relationship struct (tag 0x52): id, start, end, type, props;
      // start/end match the endpoint nodes' wire ids
      c.send(0x10, "MATCH (a:dog)-[r:SNIFFS]->(b:dog) RETURN r",
        Map.empty[String, Any], Map.empty[String, Any])
      assert(c.recv()._1 == SUCCESS)
      c.send(0x3F, Map("n" -> -1L))
      val (tr, fr) = c.recv()
      assert(tr == RECORD)
      val rel = fr.head.asInstanceOf[Seq[Any]].head.asInstanceOf[PackStream.Struct]
      assert(rel.tag == 0x52)
      assert(rel.fields.size == 5)
      assert(rel.fields(1) == node.fields.head) // start = Arne's id
      assert(rel.fields(3) == "SNIFFS")
      assert(rel.fields(4) == Map("since" -> 2020L))
      assert(c.recv()._1 == SUCCESS)
      // RETURN p (a plain-pattern path) goes over the wire as the
      // PackStream Path structure 0x50: [Nodes], [UnboundRels 0x72],
      // [signed segment indices]
      c.send(0x10, "MATCH p = (a:dog {name:'Arne'})-[:SNIFFS]->(b:dog) RETURN p",
        Map.empty[String, Any], Map.empty[String, Any])
      assert(c.recv()._1 == SUCCESS)
      c.send(0x3F, Map("n" -> -1L))
      val (tp, fp) = c.recv()
      assert(tp == RECORD)
      val path = fp.head.asInstanceOf[Seq[Any]].head.asInstanceOf[PackStream.Struct]
      assert(path.tag == 0x50 && path.fields.size == 3)
      val pNodes = path.fields(0).asInstanceOf[Seq[Any]]
      assert(pNodes.size == 2)
      assert(pNodes.head.asInstanceOf[PackStream.Struct].tag == 0x4E)
      assert(pNodes.head.asInstanceOf[PackStream.Struct].fields(2) ==
        Map("name" -> "Arne")) // nodes[0] is the path start, full entity
      val pRels = path.fields(1).asInstanceOf[Seq[Any]]
      assert(pRels.size == 1)
      val ur = pRels.head.asInstanceOf[PackStream.Struct]
      assert(ur.tag == 0x72 && ur.fields.size == 3) // 4.4: id, type, props
      assert(ur.fields(1) == "SNIFFS")
      assert(ur.fields(2) == Map("since" -> 2020L))
      assert(path.fields(2) == Seq(1L, 1L)) // forward rel #1 to nodes[1]
      assert(c.recv()._1 == SUCCESS)
      // the wire id IS the relationship's surrogate eid, stable
      // across queries (ref driver entity round-trips,
      // DatabaseIO.java:121-132)
      val storedEid = session.graph().edges
        .select("eid").collect().head.getLong(0)
      assert(rel.fields.head == storedEid)
      c.send(0x10, "MATCH (a:dog)-[r:SNIFFS]->(b:dog) RETURN r",
        Map.empty[String, Any], Map.empty[String, Any])
      assert(c.recv()._1 == SUCCESS)
      c.send(0x3F, Map("n" -> -1L))
      val rel2 = c.recv()._2.head.asInstanceOf[Seq[Any]].head
        .asInstanceOf[PackStream.Struct]
      assert(rel2.fields.head == storedEid)
      assert(c.recv()._1 == SUCCESS)
      c.send(0x02); c.close()

      // a 5.x-only handshake (5.4 with range back to 5.0) negotiates
      // the highest minor (5.4), auth moves to LOGON, and the entity
      // structs grow their element_id fields
      val c5 = new Client(port)
      assert(c5.handshake(0x00040405) == 0x00000405)
      c5.send(0x01, Map("user_agent" -> "graft-test/1.0"))
      assert(c5.recv()._1 == SUCCESS)
      c5.send(0x6A, Map("scheme" -> "none")) // LOGON; no credential store
      assert(c5.recv()._1 == SUCCESS)
      c5.send(0x10, "MATCH (n:dog) WHERE n.name = 'Arne' RETURN n",
        Map.empty[String, Any], Map.empty[String, Any])
      assert(c5.recv()._1 == SUCCESS)
      c5.send(0x3F, Map("n" -> -1L))
      val (t5, f5) = c5.recv()
      assert(t5 == RECORD)
      val node5 = f5.head.asInstanceOf[Seq[Any]].head.asInstanceOf[PackStream.Struct]
      assert(node5.tag == 0x4E)
      assert(node5.fields.size == 4)
      assert(node5.fields(3) == node5.fields.head.toString) // element_id
      assert(c5.recv()._1 == SUCCESS)
      c5.send(0x02); c5.close()
    } finally ep.stop()
  }

  test("Path struct 0x50: 2-hop mixed-direction indices; element_id fields per version") {
    val session = new GraftSession(spark)
    // a -SNIFFS-> b <-BITES- c : segment 2 traverses BITES against its
    // stored orientation, so its index must come out NEGATIVE
    session.cypher(
      "CREATE (a:dog {name:'Arne'})-[:SNIFFS {since: 2020}]->(b:dog {name:'Bosse'})")
    session.cypher(
      "MATCH (b:dog {name:'Bosse'}) CREATE (c:dog {name:'Chip'})-[:BITES]->(b)")
    val ep = new BoltEndpoint(session, 0, "127.0.0.1")
    val port = ep.start()
    val query =
      "MATCH p = (a:dog {name:'Arne'})-[:SNIFFS]->(b)<-[:BITES]-(c) RETURN p"
    def fetchPath(c: Client): PackStream.Struct = {
      c.send(0x10, query, Map.empty[String, Any], Map.empty[String, Any])
      assert(c.recv()._1 == SUCCESS)
      c.send(0x3F, Map("n" -> -1L))
      val (t, f) = c.recv()
      assert(t == RECORD)
      val p = f.head.asInstanceOf[Seq[Any]].head.asInstanceOf[PackStream.Struct]
      assert(c.recv()._1 == SUCCESS)
      p
    }
    try {
      // ---- negotiated 4.4: 3-field Nodes, 3-field UnboundRels ----
      val c4 = new Client(port)
      assert(c4.handshake() == 0x00000404)
      c4.send(0x01, Map("user_agent" -> "graft-test/1.0"))
      assert(c4.recv()._1 == SUCCESS)
      val p4 = fetchPath(c4)
      assert(p4.tag == 0x50 && p4.fields.size == 3)
      val nodes4 = p4.fields(0).asInstanceOf[Seq[Any]].map(_.asInstanceOf[PackStream.Struct])
      val rels4 = p4.fields(1).asInstanceOf[Seq[Any]].map(_.asInstanceOf[PackStream.Struct])
      assert(nodes4.size == 3 && nodes4.forall(n => n.tag == 0x4E && n.fields.size == 3))
      assert(nodes4.map(_.fields(2).asInstanceOf[Map[String, Any]]("name")) ==
        Seq("Arne", "Bosse", "Chip")) // first-appearance order, start first
      assert(rels4.size == 2 && rels4.forall(r => r.tag == 0x72 && r.fields.size == 3))
      assert(rels4.map(_.fields(1)) == Seq("SNIFFS", "BITES"))
      // segment 1: rel +1 forward to nodes[1]; segment 2: rel 2
      // REVERSED (stored c->b, traversed b->c) to nodes[2]
      assert(p4.fields(2) == Seq(1L, 1L, -2L, 2L))
      c4.send(0x02); c4.close()
      // ---- negotiated 5.x: element_id joins every entity ----
      val c5 = new Client(port)
      assert(c5.handshake(0x00040405) == 0x00000405)
      c5.send(0x01, Map("user_agent" -> "graft-test/1.0"))
      assert(c5.recv()._1 == SUCCESS)
      c5.send(0x6A, Map("scheme" -> "none"))
      assert(c5.recv()._1 == SUCCESS)
      val p5 = fetchPath(c5)
      assert(p5.tag == 0x50 && p5.fields.size == 3)
      val nodes5 = p5.fields(0).asInstanceOf[Seq[Any]].map(_.asInstanceOf[PackStream.Struct])
      val rels5 = p5.fields(1).asInstanceOf[Seq[Any]].map(_.asInstanceOf[PackStream.Struct])
      assert(nodes5.forall(n => n.fields.size == 4 &&
        n.fields(3) == n.fields.head.toString)) // element_id = string id
      assert(rels5.forall(r => r.fields.size == 4 &&
        r.fields(3) == r.fields.head.toString))
      assert(p5.fields(2) == Seq(1L, 1L, -2L, 2L)) // indices are version-stable
      c5.send(0x02); c5.close()
    } finally ep.stop()
  }

  test("searched shortestPath RETURN p emits a real Path struct (0x50) with full entities") {
    val session = new GraftSession(spark)
    // a -SNIFFS-> b <-BITES- c, searched UNDIRECTED: hop 2 traverses
    // BITES against its stored orientation (index must be negative),
    // and the entities must carry real labels/props — the skeleton-vs-
    // entity question that kept searched paths on the map form
    session.cypher(
      "CREATE (a:dog {name:'Arne'})-[:SNIFFS {since: 2020}]->(b:dog {name:'Bosse'})")
    session.cypher(
      "MATCH (b:dog {name:'Bosse'}) CREATE (c:dog {name:'Chip'})-[:BITES]->(b)")
    val ep = new BoltEndpoint(session, 0, "127.0.0.1")
    val port = ep.start()
    try {
      val c = new Client(port)
      assert(c.handshake() == 0x00000404)
      c.send(0x01, Map("user_agent" -> "graft-test/1.0"))
      assert(c.recv()._1 == SUCCESS)
      c.send(0x10,
        """MATCH p = shortestPath((a:dog {name:'Arne'})-[*..3]-(c:dog {name:'Chip'}))
          |RETURN p""".stripMargin,
        Map.empty[String, Any], Map.empty[String, Any])
      assert(c.recv()._1 == SUCCESS)
      c.send(0x3F, Map("n" -> -1L))
      val (t, f) = c.recv()
      assert(t == RECORD)
      val p = f.head.asInstanceOf[Seq[Any]].head.asInstanceOf[PackStream.Struct]
      assert(p.tag == 0x50 && p.fields.size == 3)
      val nodes = p.fields(0).asInstanceOf[Seq[Any]].map(_.asInstanceOf[PackStream.Struct])
      val rels = p.fields(1).asInstanceOf[Seq[Any]].map(_.asInstanceOf[PackStream.Struct])
      assert(nodes.size == 3 && nodes.forall(n => n.tag == 0x4E && n.fields.size == 3))
      assert(nodes.map(_.fields(2).asInstanceOf[Map[String, Any]]("name")) ==
        Seq("Arne", "Bosse", "Chip")) // full entities, start first
      assert(nodes.forall(_.fields(1) == Seq("dog")))
      assert(rels.size == 2 && rels.forall(r => r.tag == 0x72 && r.fields.size == 3))
      assert(rels.map(_.fields(1)) == Seq("SNIFFS", "BITES"))
      assert(rels.head.fields(2) == Map("since" -> 2020L))
      // hop 1 forward; hop 2 stored c->b, traversed b->c → NEGATIVE
      assert(p.fields(2) == Seq(1L, 1L, -2L, 2L))
      assert(c.recv()._1 == SUCCESS)
      c.send(0x02); c.close()
    } finally ep.stop()
  }

  test("ROUTE answers a single-instance routing table (neo4j:// drivers)") {
    val ep = new BoltEndpoint(new GraftSession(spark), 0, "127.0.0.1")
    val port = ep.start()
    try {
      val c = new Client(port)
      assert(c.handshake() == 0x00000404)
      c.send(0x01, Map("user_agent" -> "graft-test/1.0"))
      assert(c.recv()._1 == SUCCESS)
      c.send(0x66, Map("address" -> s"127.0.0.1:$port"), Seq.empty[Any], null)
      val (t, f) = c.recv()
      assert(t == SUCCESS)
      val rt = f.head.asInstanceOf[Map[String, Any]]("rt").asInstanceOf[Map[String, Any]]
      assert(rt("db") == "neo4j")
      val servers = rt("servers").asInstanceOf[Seq[Map[String, Any]]]
      assert(servers.map(_("role")).toSet == Set("WRITE", "READ", "ROUTE"))
      assert(servers.forall(_("addresses") == Seq(s"127.0.0.1:$port")))
      c.send(0x02); c.close()
    } finally ep.stop()
  }

  test("in-band transaction-control text is refused; wall-clock cap expires a chatty tx") {
    val session = new GraftSession(spark)
    val ep = new BoltEndpoint(session, 0, "127.0.0.1", txMaxDurationMs = 400L)
    val port = ep.start()
    try {
      val c = new Client(port)
      assert(c.handshake() == 0x00000404)
      c.send(0x01, Map("user_agent" -> "graft-test/1.0"))
      assert(c.recv()._1 == SUCCESS)
      // RUN "BEGIN" as text must not flip any transaction state
      c.send(0x10, "BEGIN", Map.empty[String, Any], Map.empty[String, Any])
      val (tb, fb) = c.recv()
      assert(tb == FAILURE)
      assert(fb.head.asInstanceOf[Map[String, Any]]("code").toString
        .contains("Request.Invalid"))
      c.send(0x0F); assert(c.recv()._1 == SUCCESS)
      // a real BEGIN still works after the refusal (no orphan state)
      c.send(0x11, Map.empty[String, Any])
      assert(c.recv()._1 == SUCCESS)
      c.send(0x10, "ROLLBACK", Map.empty[String, Any], Map.empty[String, Any])
      assert(c.recv()._1 == FAILURE) // in-band text refused inside a tx too
      c.send(0x0F); assert(c.recv()._1 == SUCCESS) // RESET rolled the tx back
      // wall cap: keep the connection chatty past txMaxDurationMs —
      // the next RUN in the tx rolls back with TransactionTimedOut
      c.send(0x11, Map.empty[String, Any])
      assert(c.recv()._1 == SUCCESS)
      c.send(0x10, "CREATE (x:capped {k: 1})",
        Map.empty[String, Any], Map.empty[String, Any])
      assert(c.recv()._1 == SUCCESS)
      c.send(0x2F, Map("n" -> -1L)); assert(c.recv()._1 == SUCCESS)
      Thread.sleep(600)
      c.send(0x10, "CREATE (x:capped {k: 2})",
        Map.empty[String, Any], Map.empty[String, Any])
      val (tt, ft) = c.recv()
      assert(tt == FAILURE)
      assert(ft.head.asInstanceOf[Map[String, Any]]("code").toString
        .contains("TransactionTimedOut"))
      c.send(0x0F); assert(c.recv()._1 == SUCCESS)
      // everything rolled back
      c.send(0x10, "MATCH (x:capped) RETURN count(x) AS n",
        Map.empty[String, Any], Map.empty[String, Any])
      assert(c.recv()._1 == SUCCESS)
      c.send(0x3F, Map("n" -> -1L))
      val (tc, fc) = c.recv()
      assert(tc == RECORD && fc.head.asInstanceOf[Seq[Any]].head == 0L)
      assert(c.recv()._1 == SUCCESS)
      c.send(0x02); c.close()
    } finally ep.stop()
  }

  test("HELLO enforces basic auth when the session has a credential store") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bolt_auth_").toString
    val store = new graft.auth.AuthStore(dir)
    store.setInitialPassword("secretpass")
    val session = new GraftSession(spark)
    session.authStore = Some(store)
    val ep = new BoltEndpoint(session, 0, "127.0.0.1")
    val port = ep.start()
    try {
      val bad = new Client(port)
      assert(bad.handshake() == 0x00000404)
      bad.send(0x01, Map("scheme" -> "basic", "principal" -> "neo4j",
        "credentials" -> "wrong"))
      val (tb, fb) = bad.recv()
      assert(tb == FAILURE)
      assert(fb.head.asInstanceOf[Map[String, Any]]("code").toString
        .contains("Unauthorized"))
      bad.close()
      val good = new Client(port)
      assert(good.handshake() == 0x00000404)
      good.send(0x01, Map("scheme" -> "basic", "principal" -> "neo4j",
        "credentials" -> "secretpass"))
      assert(good.recv()._1 == SUCCESS)
      good.send(0x10, "MATCH (n) RETURN count(n) AS c",
        Map.empty[String, Any], Map.empty[String, Any])
      assert(good.recv()._1 == SUCCESS)
      good.send(0x3F, Map("n" -> -1L))
      val (tr, fr) = good.recv()
      assert(tr == RECORD && fr.head == Seq(0L))
      assert(good.recv()._1 == SUCCESS)
      good.send(0x02)
      good.close()
    } finally ep.stop()
  }

  test("Bolt 5.x: highest-minor negotiation, LOGON auth after HELLO, LOGOFF") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bolt_logon_").toString
    val store = new graft.auth.AuthStore(dir)
    store.setInitialPassword("logonpass")
    val session = new GraftSession(spark)
    session.authStore = Some(store)
    val ep = new BoltEndpoint(session, 0, "127.0.0.1")
    val port = ep.start()
    try {
      // a driver proposing ONLY 5.4 (no ≤5.0 fallback) must connect
      val bad = new Client(port)
      assert(bad.handshake(0x00000405) == 0x00000405)
      bad.send(0x01, Map("user_agent" -> "graft-test/1.0")) // HELLO, no creds in 5.1+
      assert(bad.recv()._1 == SUCCESS)
      bad.send(0x6A, Map("scheme" -> "basic", "principal" -> "neo4j",
        "credentials" -> "wrong")) // LOGON
      val (tb, fb) = bad.recv()
      assert(tb == FAILURE)
      assert(fb.head.asInstanceOf[Map[String, Any]]("code").toString
        .contains("Unauthorized"))
      bad.close()

      val c = new Client(port)
      assert(c.handshake(0x00030405) == 0x00000405) // range 5.1–5.4 → 5.4
      c.send(0x01, Map("user_agent" -> "graft-test/1.0"))
      val (th, fh) = c.recv()
      assert(th == SUCCESS)
      assert(fh.head.asInstanceOf[Map[String, Any]]("server") == "Neo4j/5.26.0")
      c.send(0x6A, Map("scheme" -> "basic", "principal" -> "neo4j",
        "credentials" -> "logonpass"))
      assert(c.recv()._1 == SUCCESS)
      c.send(0x10, "RETURN 1 AS one", Map.empty[String, Any], Map.empty[String, Any])
      assert(c.recv()._1 == SUCCESS)
      c.send(0x3F, Map("n" -> -1L))
      val (tr, fr) = c.recv()
      assert(tr == RECORD && fr.head == Seq(1L))
      assert(c.recv()._1 == SUCCESS)
      // LOGOFF drops back to the authentication state; LOGON re-enters
      c.send(0x6B)
      assert(c.recv()._1 == SUCCESS)
      c.send(0x6A, Map("scheme" -> "basic", "principal" -> "neo4j",
        "credentials" -> "logonpass"))
      assert(c.recv()._1 == SUCCESS)
      // TELEMETRY (5.4+ drivers) is acknowledged, not failed
      c.send(0x54, 1L)
      assert(c.recv()._1 == SUCCESS)
      c.send(0x10, "RETURN 2 AS two", Map.empty[String, Any], Map.empty[String, Any])
      assert(c.recv()._1 == SUCCESS)
      c.send(0x3F, Map("n" -> -1L))
      val (t2, f2) = c.recv()
      assert(t2 == RECORD && f2.head == Seq(2L))
      assert(c.recv()._1 == SUCCESS)
      c.send(0x02)
      c.close()
    } finally ep.stop()
  }

  test("temporal and spatial values emit typed PackStream structs") {
    val session = new GraftSession(spark)
    val ep = new BoltEndpoint(session, 0, "127.0.0.1")
    val port = ep.start()
    try {
      val c = new Client(port)
      assert(c.handshake() == 0x00000404)
      c.send(0x01, Map("user_agent" -> "graft-test/1.0"))
      assert(c.recv()._1 == SUCCESS)
      c.send(0x10,
        """RETURN date('2021-03-04') AS d,
          |  datetime('2021-03-04 05:06:07') AS ts,
          |  duration({days: 2, hours: 3}) AS dur,
          |  point({x: 1.5, y: 2.5}) AS p""".stripMargin,
        Map.empty[String, Any], Map.empty[String, Any])
      assert(c.recv()._1 == SUCCESS)
      c.send(0x3F, Map("n" -> -1L))
      val (tr, fr) = c.recv()
      assert(tr == RECORD)
      val Seq(d, ts, dur, p) = fr.head.asInstanceOf[Seq[Any]]
      // Date 0x44: epoch days
      val ds = d.asInstanceOf[PackStream.Struct]
      assert(ds.tag == 0x44)
      assert(ds.fields == Seq(java.time.LocalDate.parse("2021-03-04").toEpochDay))
      // LocalDateTime 0x64: epoch seconds (UTC session) + nanos
      val tss = ts.asInstanceOf[PackStream.Struct]
      assert(tss.tag == 0x64)
      assert(tss.fields == Seq(
        java.time.LocalDateTime.parse("2021-03-04T05:06:07")
          .toEpochSecond(java.time.ZoneOffset.UTC), 0L))
      // Duration 0x45: months, days, seconds, nanos
      val dus = dur.asInstanceOf[PackStream.Struct]
      assert(dus.tag == 0x45)
      assert(dus.fields == Seq(0L, 2L, 3L * 3600, 0L))
      // Point2D 0x58: srid, x, y
      val ps = p.asInstanceOf[PackStream.Struct]
      assert(ps.tag == 0x58)
      assert(ps.fields == Seq(7203L, 1.5, 2.5))
      assert(c.recv()._1 == SUCCESS)
      c.send(0x02)
      c.close()
    } finally ep.stop()
  }
}
