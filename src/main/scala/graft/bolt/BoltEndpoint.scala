package graft.bolt

import graft.{GraftSession, TxHandle}
import java.io.{BufferedOutputStream, ByteArrayInputStream, ByteArrayOutputStream, DataInputStream,
  DataOutputStream, EOFException, IOException}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LocalTableScanExec

/** Bolt 7687 surface mirroring the reference image's second mapped
  * port (SURVEY §2.9; the reference maps 7473/7474/7687 at
  * `docker-image-src/calver/coredb/Dockerfile-trixie:54`, and its
  * tests open real driver sessions against it, ref
  * `src/test/java/com/neo4j/docker/utils/DatabaseIO.java:121-132`).
  *
  * Implemented from the published protocol documentation (the openly
  * specified handshake, chunked message framing, and PackStream v1
  * serialization):
  *
  *  - handshake: `60:60:B0:17` magic + four version proposals; the
  *    server answers 4.4 when offered (range proposals honored), else
  *    5.0 when a 5.x proposal's range covers it (the 4.4 message set
  *    is compatible for this subset, and 5.0 keeps single-message
  *    HELLO auth — the HELLO/LOGON split only appears in 5.1),
  *    0.0.0.0 otherwise and closes;
  *  - `HELLO {scheme, principal, credentials, …}` → basic auth against
  *    the session's credential store (open when auth is disabled,
  *    like the reference image with NEO4J_AUTH=none);
  *  - `RUN {query, params, {db}}` / `PULL {n}` / `DISCARD {n}` →
  *    executes through `session.cypherWire` and streams RECORDs
  *    INCREMENTALLY: the result is a `toLocalIterator`, so PULL n
  *    holds at most one Spark partition on the driver, not the whole
  *    result set (a result whose rows the driver already holds, such
  *    as a write's status row, is collected without a job);
  *  - each reply is written through one buffer and flushed once, on a
  *    socket with Nagle's algorithm off: a reply's small writes would
  *    otherwise wait on the client's delayed ACK;
  *  - `RETURN n` over a bare node/relationship variable emits real
  *    PackStream Node (0x4E) / Relationship (0x52) structs — typed
  *    entities with identity, labels and property maps, the shape a
  *    stock driver expects (4-field/8-field forms incl. element_id
  *    when 5.0 was negotiated); `RETURN p` emits the Path structure
  *    (0x50: unique Nodes, UnboundRelationships 0x72, signed segment
  *    indices) for plain-pattern, var-length AND searched
  *    (shortestPath/allShortestPaths) bindings — searched paths'
  *    id-array rows enrich into entity arrays at compile time
  *    (CypherCompiler.addPathEntCols, wire mode only);
  *  - `BEGIN {db}` / `COMMIT` / `ROLLBACK` → a per-connection
  *    [[TxHandle]]: every statement inside the transaction targets
  *    the handle's private shadow snapshot, so NO lock is held across
  *    network round-trips — concurrent connections (and the HTTP/
  *    shell surfaces) run freely while a transaction is open, and
  *    `RUN "BEGIN"` in-band text is refused loudly rather than
  *    desynchronizing this bookkeeping. A transaction still can't be
  *    held hostage: the socket gets a read timeout while one is open
  *    (`txIdleTimeoutMs` between messages) and a total wall-clock cap
  *    (`txMaxDurationMs`) rolls back a slow-but-chatty client's
  *    transaction at its next message;
  *  - `RESET` clears a FAILURE (rolling back any open transaction,
  *    like the reference server); messages after a failure are
  *    IGNORED until then; `GOODBYE` closes.
  *
  * Connections are served one THREAD each (daemon pool): the
  * reference server handles many concurrent drivers (its tests open
  * sessions from parallel methods), and since transaction isolation
  * moved into per-connection shadow snapshots the accept loop no
  * longer needs to serialize anything — statement execution itself
  * serializes on the session's statement lock, held per statement.
  */
final class BoltEndpoint(session: GraftSession, port: Int = 7687,
    bindAddress: String = "0.0.0.0", txIdleTimeoutMs: Int = 30000,
    txMaxDurationMs: Long = 10 * 60 * 1000L) {

  private val server = new ServerSocket()
  server.bind(new InetSocketAddress(bindAddress, port))
  @volatile private var running = true

  private val pool = java.util.concurrent.Executors.newCachedThreadPool(r => {
    val t = new Thread(r, "graft-bolt-conn"); t.setDaemon(true); t
  })

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val sock = server.accept()
        sock.setTcpNoDelay(true)
        pool.execute(() => {
          try serve(sock)
          catch { case _: Throwable => () }
          finally { try sock.close() catch { case _: Throwable => () } }
        })
      } catch { case _: Throwable => () } // accept interrupted by stop()
    }
  }, "graft-bolt")
  acceptor.setDaemon(true)

  /** Bind and serve; returns the bound port (pass port=0 for an
    * ephemeral test port). */
  def start(): Int = { acceptor.start(); server.getLocalPort }

  def stop(): Unit = {
    running = false
    try server.close() catch { case _: Throwable => () }
    pool.shutdownNow()
  }

  // ---- message tags (Bolt 4.4 – 5.x — identical for this subset) ---
  private val HELLO = 0x01; private val GOODBYE = 0x02; private val RESET = 0x0F
  private val LOGON = 0x6A; private val LOGOFF = 0x6B; private val TELEMETRY = 0x54
  private val RUN = 0x10; private val BEGIN = 0x11; private val COMMIT = 0x12
  private val ROLLBACK = 0x13; private val DISCARD = 0x2F; private val PULL = 0x3F
  private val ROUTE = 0x66
  private val SUCCESS = 0x70; private val RECORD = 0x71
  private val IGNORED = 0x7E; private val FAILURE = 0x7F

  private def serve(sock: Socket): Unit = {
    val in = new DataInputStream(sock.getInputStream)
    val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream, 1 << 16))

    // handshake: magic + 4 proposals, each 4 bytes (layout
    // [reserved, range, minor, major]); a proposal covers version
    // (M, m) when its major matches and its minor range [minor-range,
    // minor] includes m. Prefer 4.4 (LTS, most-tested); else the
    // HIGHEST 5.x minor we speak that any proposal covers — modern
    // drivers (Java ≥5.6 etc.) propose only 5.minor ranges, and a
    // server stuck at 5.0 would answer 0.0.0.0 to a 5.4-only range.
    if (in.readInt() != 0x6060B017) return
    val proposals = Seq.fill(4)(in.readInt())
    def covers(p: Int, major: Int, minor: Int): Boolean = {
      val mj = p & 0xFF; val mn = (p >> 8) & 0xFF; val rg = (p >> 16) & 0xFF
      mj == major && minor <= mn && minor >= mn - rg
    }
    val maxV5Minor = 7 // messages used here are stable through 5.7
    val chosen: Option[Int] =
      if (proposals.exists(covers(_, 4, 4))) Some((4 << 8) | 4)
      else (maxV5Minor to 0 by -1)
        .find(mn => proposals.exists(covers(_, 5, mn)))
        .map(mn => (mn << 8) | 5)
    chosen match {
      case None => out.writeInt(0); out.flush(); return
      case Some(v) => out.writeInt(v); out.flush()
    }
    val major = chosen.get & 0xFF
    val minor = (chosen.get >> 8) & 0xFF
    val v5 = major == 5
    // Bolt 5.1 moved authentication out of HELLO into a LOGON message
    // (LOGOFF returns to the unauthenticated state); ≤5.0 carries
    // credentials inline in HELLO's extra map.
    val logonAuth = major == 5 && minor >= 1
    var helloDone = false

    var authed = false
    var failed = false
    // the RUN result pending PULL/DISCARD: (columns, row iterator)
    var pending: Option[(Seq[String], java.util.Iterator[org.apache.spark.sql.Row])] = None
    // the open per-connection transaction and its database
    var tx: Option[TxHandle] = None
    var txDb = "neo4j"

    def success(meta: Map[String, Any]): Unit = writeMessage(out, SUCCESS, Seq(meta))
    def failure(code: String, msg: String): Unit = {
      failed = true; pending = None
      writeMessage(out, FAILURE, Seq(Map("code" -> code, "message" -> msg)))
    }
    def endTx(commit: Boolean): Unit = tx.foreach { h =>
      try {
        if (commit) session.commitTransaction(h)
        else session.rollbackTransaction(h)
      } finally {
        tx = None
        try sock.setSoTimeout(0) catch { case _: Throwable => () }
      }
    }
    // total-duration cap: a client that keeps the socket chatty can
    // still not hold a transaction open forever (ADVICE r8) — checked
    // at each message that touches the transaction
    def txExpired(h: TxHandle): Boolean =
      System.currentTimeMillis() - h.startedAt > txMaxDurationMs

    def extraMap(fields: Seq[Any], i: Int): Map[String, Any] =
      fields.lift(i).collect { case m: Map[_, _] =>
        m.asInstanceOf[Map[String, Any]] }.getOrElse(Map.empty)
    def dbOf(extra: Map[String, Any]): String =
      extra.get("db").collect { case s: String if s.nonEmpty => s }.getOrElse("neo4j")

    try while (true) {
      val msg = readMessage(in).getOrElse(return)
      val (tag, fields) = msg
      if (tag == GOODBYE) return
      else if (tag == RESET) {
        // RESET rolls back any open transaction, then clears FAILURE
        try endTx(commit = false) catch { case _: Exception => () }
        failed = false; pending = None; success(Map.empty)
      }
      else if (failed) writeMessage(out, IGNORED, Nil)
      else if (!authed) {
        def verifyAuth(extra: Map[String, Any]): Boolean = session.authStore match {
          case None => true
          case Some(store) =>
            extra.get("scheme").contains("basic") &&
              ((extra.get("principal"), extra.get("credentials")) match {
                case (Some(u: String), Some(p: String)) => store.verify(u, p)
                case _ => false
              })
        }
        def authFailure(): Unit =
          failure("Neo.ClientError.Security.Unauthorized",
            "The client is unauthorized due to authentication failure.")
        if (logonAuth && !helloDone) {
          // 5.1+: HELLO carries no credentials; answer SUCCESS and
          // move to the AUTHENTICATION state awaiting LOGON
          if (tag != HELLO) { failure("Neo.ClientError.Request.Invalid", "expected HELLO"); return }
          helloDone = true
          success(Map("server" -> "Neo4j/5.26.0", "connection_id" -> "bolt-1"))
        } else if (logonAuth) {
          if (tag != LOGON) { failure("Neo.ClientError.Request.Invalid", "expected LOGON"); return }
          val auth = fields.headOption.collect { case m: Map[_, _] =>
            m.asInstanceOf[Map[String, Any]] }.getOrElse(Map.empty)
          if (verifyAuth(auth)) { authed = true; success(Map.empty) }
          else { authFailure(); return } // auth failures terminate the connection
        } else {
          if (tag != HELLO) { failure("Neo.ClientError.Request.Invalid", "expected HELLO"); return }
          val extra = fields.headOption.collect { case m: Map[_, _] =>
            m.asInstanceOf[Map[String, Any]] }.getOrElse(Map.empty)
          if (verifyAuth(extra)) {
            authed = true
            success(Map("server" -> "Neo4j/5.26.0", "connection_id" -> "bolt-1"))
          } else { authFailure(); return }
        }
      } else if (logonAuth && tag == LOGOFF) {
        // back to the AUTHENTICATION state: any open work dies with
        // the identity that started it
        try endTx(commit = false) catch { case _: Exception => () }
        pending = None; authed = false; success(Map.empty)
      } else tag match {
        case RUN =>
          val query = fields.headOption.collect { case s: String => s }.getOrElse("")
          val params = fields.lift(1).collect { case m: Map[_, _] =>
            m.asInstanceOf[Map[String, Any]] }.getOrElse(Map.empty)
          // inside an explicit transaction the db was fixed by BEGIN
          val db = if (tx.isDefined) txDb else dbOf(extraMap(fields, 2))
          if (session.isTxControl(query))
            failure("Neo.ClientError.Request.Invalid",
              "transaction control must use the BEGIN/COMMIT/ROLLBACK messages, " +
                "not statement text")
          else if (tx.exists(txExpired)) {
            try endTx(commit = false) catch { case _: Exception => () }
            failure("Neo.ClientError.Transaction.TransactionTimedOut",
              s"the transaction exceeded its maximum duration (${txMaxDurationMs} ms) " +
                "and was rolled back")
          }
          else try {
            val df = session.cypherWire(query, params, db, tx.orNull)
            pending = Some((df.columns.toSeq, BoltEndpoint.streamed(df)))
            success(Map("fields" -> df.columns.toSeq, "t_first" -> 0L))
          } catch {
            case e: Exception => failure(e match {
              case _: IllegalArgumentException | _: UnsupportedOperationException =>
                "Neo.ClientError.Statement.SyntaxError"
              case _ => "Neo.DatabaseError.General.UnknownError"
            }, String.valueOf(e.getMessage))
          }
        case PULL =>
          pending match {
            case None => failure("Neo.ClientError.Request.Invalid", "PULL with no open result")
            case Some((cols, it)) =>
              val n = fields.headOption.collect { case m: Map[_, _] =>
                m.asInstanceOf[Map[String, Any]] }.flatMap(_.get("n"))
                .collect { case l: Long => l }.getOrElse(-1L)
              try {
                var left = n
                while (it.hasNext && (n < 0 || left > 0)) {
                  val r = it.next()
                  writeMessage(out, RECORD,
                    Seq(cols.indices.map(i => WireValue(r.get(i))).toList),
                    v5)
                  left -= 1
                }
                if (it.hasNext) success(Map("has_more" -> true))
                else { pending = None; success(Map("t_last" -> 0L)) }
              } catch {
                // the query executes lazily during the stream now — a
                // runtime error surfaces here, not at RUN
                case e: Exception =>
                  failure("Neo.DatabaseError.General.UnknownError",
                    String.valueOf(e.getMessage))
              }
          }
        case DISCARD =>
          pending = None; success(Map("t_last" -> 0L))
        case BEGIN =>
          if (tx.isDefined)
            failure("Neo.ClientError.Request.Invalid",
              "there is already an open transaction on this connection")
          else {
            txDb = dbOf(extraMap(fields, 0))
            tx = Some(session.beginTransaction("bolt"))
            try sock.setSoTimeout(txIdleTimeoutMs) catch { case _: Throwable => () }
            success(Map.empty)
          }
        case COMMIT | ROLLBACK =>
          val commit = tag == COMMIT
          if (tx.isEmpty)
            failure("Neo.ClientError.Request.Invalid",
              s"no open transaction to ${if (commit) "COMMIT" else "ROLLBACK"}")
          else if (commit && tx.exists(txExpired)) {
            try endTx(commit = false) catch { case _: Exception => () }
            failure("Neo.ClientError.Transaction.TransactionTimedOut",
              s"the transaction exceeded its maximum duration (${txMaxDurationMs} ms) " +
                "and was rolled back")
          }
          else try {
            endTx(commit)
            success(if (commit) Map("bookmark" -> "graft:bm-0") else Map.empty)
          } catch {
            case e: Exception =>
              failure("Neo.DatabaseError.General.UnknownError", String.valueOf(e.getMessage))
          }
        case TELEMETRY =>
          // 5.4+ driver API-usage metric — acknowledged and discarded
          // (the reference accepts it whether or not collection is on)
          success(Map.empty)
        case ROUTE =>
          // `neo4j://`-scheme drivers send ROUTE before any query
          // (Bolt 4.3+); a single instance answers a one-server table
          // where WRITE/READ/ROUTE all point at itself — the shape the
          // reference community server returns. The advertised address
          // is the one the client dialed (routing context), falling
          // back to the bound port.
          val routing = extraMap(fields, 0)
          val dbArg = fields.lift(2) match {
            case Some(s: String) if s.nonEmpty => s
            case Some(m: Map[_, _]) => m.asInstanceOf[Map[String, Any]].get("db")
              .collect { case s: String if s.nonEmpty => s }.getOrElse("neo4j")
            case _ => "neo4j"
          }
          val addr = routing.get("address").collect { case s: String => s }
            .getOrElse(s"localhost:${server.getLocalPort}")
          val servers = Seq("WRITE", "READ", "ROUTE").map(role =>
            Map("addresses" -> Seq(addr), "role" -> role))
          success(Map("rt" ->
            Map("ttl" -> 300L, "db" -> dbArg, "servers" -> servers)))
        case _ =>
          failure("Neo.ClientError.Request.Invalid", s"unsupported message 0x${tag.toHexString}")
      }
      out.flush()
    } finally {
      // a FAILURE written just before a return (a refused HELLO or
      // LOGON) still reaches the client
      try out.flush() catch { case _: IOException => () }
      // disconnect / read-timeout with a transaction still open: roll
      // back so the shadow snapshots are freed and nothing half-done
      // ever publishes
      try endTx(commit = false) catch { case _: Throwable => () }
    }
  }

  // ---- chunked message framing -------------------------------------

  /** One message = chunks (u16 size + bytes) until a 0-size chunk. */
  private def readMessage(in: DataInputStream): Option[(Int, Seq[Any])] = try {
    val buf = new ByteArrayOutputStream()
    var size = in.readUnsignedShort()
    while (size == 0) size = in.readUnsignedShort() // skip keep-alive NOOP chunks
    while (size != 0) {
      val chunk = new Array[Byte](size)
      in.readFully(chunk)
      buf.write(chunk)
      size = in.readUnsignedShort()
    }
    val ps = new DataInputStream(new ByteArrayInputStream(buf.toByteArray))
    readValue(ps) match {
      case Struct(tag, fields) => Some((tag, fields))
      case _ => None
    }
  } catch { case _: EOFException => None }

  private def writeMessage(out: DataOutputStream, tag: Int, fields: Seq[Any],
      v5: Boolean = false): Unit = {
    val body = new ByteArrayOutputStream()
    val ps = new DataOutputStream(body)
    writeStructHeader(ps, tag, fields.size)
    fields.foreach(PackStream.writeValue(ps, _, v5))
    val bytes = body.toByteArray
    var off = 0
    while (off < bytes.length) {
      val n = math.min(0xFFFF, bytes.length - off)
      out.writeShort(n); out.write(bytes, off, n); off += n
    }
    out.writeShort(0)
  }

  private def readValue(in: DataInputStream): Any = PackStream.readValue(in)
  private def writeStructHeader(out: DataOutputStream, tag: Int, size: Int): Unit =
    PackStream.writeStructHeader(out, tag, size)
  private type Struct = PackStream.Struct
  private val Struct = PackStream.Struct
}

object BoltEndpoint {
  /** A result's rows as `RUN` streams them: incrementally, one Spark
    * partition at a time, or at once when the executed plan already
    * holds them on the driver (a write's status row), with no job. */
  def streamed(df: DataFrame): java.util.Iterator[Row] =
    df.queryExecution.executedPlan match {
      case _: LocalTableScanExec => java.util.Arrays.asList(df.collect(): _*).iterator()
      case _ => df.toLocalIterator()
    }
}

/** Marker wrapper: a record value that may be a tagged entity struct
  * (the compiler's wire-mode `__node_*` / `__rel_*` rows) and must go
  * through the entity-aware writer. */
private[bolt] final case class WireValue(v: Any)

/** PackStream v1 codec (subset: the types the engine emits), shared
  * with the test client. Implemented from the published PackStream
  * specification. */
private[graft] object PackStream {

  final case class Struct(tag: Int, fields: Seq[Any])

  def readValue(in: DataInputStream): Any = {
    val m = in.readUnsignedByte()
    if (m <= 0x7F) m.toLong                               // tiny positive int
    else if (m >= 0xF0) (m - 0x100).toLong                // tiny negative int
    else if (m >= 0x80 && m <= 0x8F) readStr(in, m - 0x80)
    else if (m >= 0x90 && m <= 0x9F) readList(in, m - 0x90)
    else if (m >= 0xA0 && m <= 0xAF) readMap(in, m - 0xA0)
    else if (m >= 0xB0 && m <= 0xBF) Struct(in.readUnsignedByte(), Seq.fill(m - 0xB0)(readValue(in)))
    else m match {
      case 0xC0 => null
      case 0xC1 => in.readDouble()
      case 0xC2 => false
      case 0xC3 => true
      case 0xC8 => in.readByte().toLong
      case 0xC9 => in.readShort().toLong
      case 0xCA => in.readInt().toLong
      case 0xCB => in.readLong()
      case 0xD0 => readStr(in, in.readUnsignedByte())
      case 0xD1 => readStr(in, in.readUnsignedShort())
      case 0xD2 => readStr(in, in.readInt())
      case 0xD4 => readList(in, in.readUnsignedByte())
      case 0xD5 => readList(in, in.readUnsignedShort())
      case 0xD6 => readList(in, in.readInt())
      case 0xD8 => readMap(in, in.readUnsignedByte())
      case 0xD9 => readMap(in, in.readUnsignedShort())
      case 0xDA => readMap(in, in.readInt())
      case other => throw new IllegalArgumentException(f"unsupported PackStream marker 0x$other%02X")
    }
  }

  def readStr(in: DataInputStream, n: Int): String = {
    val b = new Array[Byte](n); in.readFully(b); new String(b, UTF_8)
  }
  def readList(in: DataInputStream, n: Int): Seq[Any] =
    Seq.fill(n)(readValue(in))
  def readMap(in: DataInputStream, n: Int): Map[String, Any] =
    Seq.fill(n)((readValue(in).asInstanceOf[String], readValue(in))).toMap

  def writeStructHeader(out: DataOutputStream, tag: Int, size: Int): Unit = {
    out.writeByte(0xB0 + size); out.writeByte(tag)
  }

  def writeListHeader(out: DataOutputStream, n: Int): Unit = {
    if (n <= 15) out.writeByte(0x90 + n)
    else if (n <= 0xFF) { out.writeByte(0xD4); out.writeByte(n) }
    else if (n <= 0xFFFF) { out.writeByte(0xD5); out.writeShort(n) }
    else { out.writeByte(0xD6); out.writeInt(n) }
  }

  /** Non-null property fields of a props struct Row (an absent
    * property is ABSENT from the entity's map, not null — reference
    * driver semantics). */
  private def propsOf(v: Any): Map[String, Any] = v match {
    case r: org.apache.spark.sql.Row if r.schema != null =>
      r.schema.fieldNames.zipWithIndex.collect {
        case (n, i) if !r.isNullAt(i) => n -> r.get(i)
      }.toMap
    case _ => Map.empty
  }

  def writeValue(out: DataOutputStream, v: Any, v5: Boolean = false): Unit = v match {
    case WireValue(inner) => inner match {
      // wire-mode entity rows (CypherCompiler entityStructs): the tag
      // is carried in the struct field names
      case r: org.apache.spark.sql.Row if r.schema != null &&
          r.schema.fieldNames.headOption.contains("__node_id") =>
        if (r.isNullAt(0)) out.writeByte(0xC0) // OPTIONAL MATCH miss
        else {
          val id = r.getLong(0)
          val labels = Option(r.get(1)).map {
            case s: scala.collection.Seq[_] => s.toList
            case a: Array[_] => a.toList
            case other => List(other)
          }.getOrElse(Nil)
          // Bolt 5.0 Node adds element_id (string form of the id)
          writeStructHeader(out, 0x4E, if (v5) 4 else 3)
          writeValue(out, id, v5)
          writeValue(out, labels, v5)
          writeValue(out, propsOf(r.get(2)), v5)
          if (v5) writeValue(out, id.toString, v5)
        }
      case r: org.apache.spark.sql.Row if r.schema != null &&
          r.schema.fieldNames.headOption.contains("__rel_id") =>
        if (r.isNullAt(1)) out.writeByte(0xC0)
        else {
          val (id, src, dst) = (r.getLong(0), r.getLong(1), r.getLong(2))
          val typ = r.getString(3)
          // Bolt 5.0 Relationship adds element_id + endpoint element_ids
          writeStructHeader(out, 0x52, if (v5) 8 else 5)
          writeValue(out, id, v5); writeValue(out, src, v5); writeValue(out, dst, v5)
          writeValue(out, typ, v5); writeValue(out, propsOf(r.get(4)), v5)
          if (v5) {
            writeValue(out, id.toString, v5)
            writeValue(out, src.toString, v5); writeValue(out, dst.toString, v5)
          }
        }
      // wire-mode path rows (CypherCompiler __path_* markers): the
      // published PackStream Path structure (0x50) — nodes = UNIQUE
      // Node structs in first-appearance order (nodes[0] is the path
      // start), rels = UNIQUE UnboundRelationship structs (0x72: id,
      // type, props — no endpoints; 5.x adds element_id), indices =
      // two ints per segment: a SIGNED 1-based index into rels
      // (negative when the segment traverses the relationship against
      // its stored orientation) then the 0-based index of the segment's
      // target node. Ref parity: driver path round-trips
      // (DatabaseIO.java:121-132).
      case r: org.apache.spark.sql.Row if r.schema != null &&
          r.schema.fieldNames.headOption.contains("__path_nodes") =>
        if (r.isNullAt(0)) out.writeByte(0xC0) // OPTIONAL MATCH miss
        else {
          val nodeRows = r.getSeq[org.apache.spark.sql.Row](0)
          val relRows =
            if (r.length < 3 || r.isNullAt(2)) Seq.empty[org.apache.spark.sql.Row]
            else r.getSeq[org.apache.spark.sql.Row](2)
          val pathIds = nodeRows.map(_.getLong(0))
          val uniqNodes = scala.collection.mutable.LinkedHashMap.empty[Long, org.apache.spark.sql.Row]
          nodeRows.foreach(n => uniqNodes.getOrElseUpdate(n.getLong(0), n))
          val nodeIdx = uniqNodes.keys.zipWithIndex.toMap
          val uniqRels = scala.collection.mutable.LinkedHashMap.empty[Long, org.apache.spark.sql.Row]
          relRows.foreach(e => uniqRels.getOrElseUpdate(e.getLong(0), e))
          val relIdx = uniqRels.keys.zipWithIndex.toMap
          writeStructHeader(out, 0x50, 3)
          writeValue(out, uniqNodes.values.map(WireValue(_)).toList, v5)
          writeListHeader(out, uniqRels.size)
          uniqRels.values.foreach { e =>
            val id = e.getLong(0)
            writeStructHeader(out, 0x72, if (v5) 4 else 3)
            writeValue(out, id, v5)
            writeValue(out, e.getString(3), v5)
            writeValue(out, propsOf(e.get(4)), v5)
            if (v5) writeValue(out, id.toString, v5)
          }
          val indices = relRows.zipWithIndex.flatMap { case (e, j) =>
            val forward = e.getLong(1) == pathIds(j) // __rel_src vs segment source
            val signed = (relIdx(e.getLong(0)) + 1).toLong * (if (forward) 1L else -1L)
            Seq(signed, nodeIdx(pathIds(j + 1)).toLong)
          }
          writeValue(out, indices, v5)
        }
      case other => writeValue(out, other, v5)
    }
    case null          => out.writeByte(0xC0)
    // typed temporal/spatial structs (published PackStream structure
    // tags): Date 'D' 0x44 (epoch days), LocalDateTime 'd' 0x64
    // (epoch seconds + nanos; the session runs UTC), Duration 'E'
    // 0x45 (months, days, seconds, nanos), Point2D 'X' 0x58 (srid,
    // x, y) — what a stock driver decodes to typed values, instead of
    // the old stringify fallback.
    case d: java.sql.Date =>
      writeStructHeader(out, 0x44, 1)
      writeValue(out, d.toLocalDate.toEpochDay, v5)
    case d: java.time.LocalDate =>
      writeStructHeader(out, 0x44, 1)
      writeValue(out, d.toEpochDay, v5)
    case t: java.sql.Timestamp =>
      writeStructHeader(out, 0x64, 2)
      writeValue(out, Math.floorDiv(t.getTime, 1000L), v5)
      writeValue(out, t.getNanos.toLong, v5)
    case t: java.time.Instant =>
      writeStructHeader(out, 0x64, 2)
      writeValue(out, t.getEpochSecond, v5)
      writeValue(out, t.getNano.toLong, v5)
    case t: java.time.LocalDateTime =>
      writeStructHeader(out, 0x64, 2)
      writeValue(out, t.toEpochSecond(java.time.ZoneOffset.UTC), v5)
      writeValue(out, t.getNano.toLong, v5)
    case iv: org.apache.spark.unsafe.types.CalendarInterval =>
      writeStructHeader(out, 0x45, 4)
      writeValue(out, iv.months.toLong, v5)
      writeValue(out, iv.days.toLong, v5)
      writeValue(out, Math.floorDiv(iv.microseconds, 1000000L), v5)
      writeValue(out, Math.floorMod(iv.microseconds, 1000000L) * 1000L, v5)
    case d: java.time.Duration =>
      writeStructHeader(out, 0x45, 4)
      writeValue(out, 0L, v5); writeValue(out, 0L, v5)
      writeValue(out, d.getSeconds, v5); writeValue(out, d.getNano.toLong, v5)
    case p: java.time.Period =>
      writeStructHeader(out, 0x45, 4)
      writeValue(out, p.toTotalMonths, v5); writeValue(out, p.getDays.toLong, v5)
      writeValue(out, 0L, v5); writeValue(out, 0L, v5)
    case r: org.apache.spark.sql.Row if r.schema != null &&
        r.schema.fieldNames.headOption.contains("__point_srid") =>
      writeStructHeader(out, 0x58, 3)
      writeValue(out, r.getInt(0).toLong, v5)
      writeValue(out, r.getDouble(1), v5)
      writeValue(out, r.getDouble(2), v5)
    case b: Boolean    => out.writeByte(if (b) 0xC3 else 0xC2)
    case i: Int        => writeValue(out, i.toLong, v5)
    case i: Short      => writeValue(out, i.toLong, v5)
    case i: Byte       => writeValue(out, i.toLong, v5)
    case l: Long       =>
      if (l >= -16 && l <= 127) out.writeByte(l.toInt & 0xFF)
      else if (l >= Byte.MinValue && l <= Byte.MaxValue) { out.writeByte(0xC8); out.writeByte(l.toInt) }
      else if (l >= Short.MinValue && l <= Short.MaxValue) { out.writeByte(0xC9); out.writeShort(l.toInt) }
      else if (l >= Int.MinValue && l <= Int.MaxValue) { out.writeByte(0xCA); out.writeInt(l.toInt) }
      else { out.writeByte(0xCB); out.writeLong(l) }
    case f: Float      => out.writeByte(0xC1); out.writeDouble(f.toDouble)
    case d: Double     => out.writeByte(0xC1); out.writeDouble(d)
    case s: String     =>
      val b = s.getBytes(UTF_8)
      if (b.length <= 15) out.writeByte(0x80 + b.length)
      else if (b.length <= 0xFF) { out.writeByte(0xD0); out.writeByte(b.length) }
      else if (b.length <= 0xFFFF) { out.writeByte(0xD1); out.writeShort(b.length) }
      else { out.writeByte(0xD2); out.writeInt(b.length) }
      out.write(b)
    case seq: scala.collection.Seq[_] =>
      writeListHeader(out, seq.size)
      seq.foreach(writeValue(out, _, v5))
    case arr: Array[_] => writeValue(out, arr.toSeq, v5)
    case m: scala.collection.Map[_, _] =>
      if (m.size <= 15) out.writeByte(0xA0 + m.size)
      else if (m.size <= 0xFF) { out.writeByte(0xD8); out.writeByte(m.size) }
      else if (m.size <= 0xFFFF) { out.writeByte(0xD9); out.writeShort(m.size) }
      else { out.writeByte(0xDA); out.writeInt(m.size) }
      m.foreach { case (k, x) => writeValue(out, String.valueOf(k), v5); writeValue(out, x, v5) }
    // struct column → map by field name. All bound path shapes
    // (plain-pattern, var-length, searched) now travel as real Path
    // structures via the __path_* marker branch above; this generic
    // fallback serves ordinary struct values (map projections,
    // collected structs).
    case r: org.apache.spark.sql.Row =>
      val names = Option(r.schema).map(_.fieldNames)
        .getOrElse(Array.tabulate(r.length)(i => s"_$i"))
      writeValue(out, names.zipWithIndex.map { case (n, i) => n -> r.get(i) }.toMap, v5)
    case other         => writeValue(out, String.valueOf(other), v5) // timestamps/dates/decimals
  }
}
